package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.NativeColumns.{exactCol, graftBloomAgg, mightContain, shingleHashes}

/** Benchmark decontamination and PII redaction for training corpora
  * (SURVEY §2.6 — training-data pipeline operators beyond the reference).
  *
  * Decontamination follows the standard n-gram overlap recipe used for
  * LLM training sets: a document is contaminated if it shares at least
  * one (by default) 13-token shingle with any benchmark document.
  *
  * Scale design: benchmark suites are small (thousands of docs) next to a
  * 100 TB corpus, so the benchmark shingle set is aggregated and
  * BROADCAST; the corpus side is one narrow shingle projection + a
  * broadcast semi/anti join — the corpus never shuffles. Shingles are
  * 8-byte hashes from the codegen'd `shingle_hashes` expression, never
  * strings.
  */
object Decontamination {

  /** Distinct `ngram`-token shingle hashes of the text column named `textCol`. */
  private def grams(textCol: String, ngram: Int): Column = shingleHashes(exactCol(textCol), ngram)

  /** Ids of corpus docs sharing >= `minMatches` k-gram(s) with the
    * benchmark (k = `ngram`, default 13 tokens per the common recipe).
    */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      ngram: Int = 13, minMatches: Int = 1): DataFrame = {
    val benchGrams = benchmark
      .select(explode(grams(benchTextCol, ngram)).as("gram"))
      .distinct()
    val corpusGrams = corpus.select(col(idCol),
      explode(grams(textCol, ngram)).as("gram"))
    val matched = corpusGrams.join(broadcast(benchGrams), Seq("gram"))
    if (minMatches <= 1) matched.select(idCol).distinct()
    else matched.groupBy(idCol).agg(count(lit(1)).as("__m"))
      .where(col("__m") >= minMatches).select(idCol)
  }

  /** Fuzzy decontamination metric (overlap fraction): for every corpus
    * doc, the share of its DISTINCT n-grams that appear anywhere in the
    * benchmark set — the GPT-4/PaLM-report contamination measure. Exact
    * matching flags a doc on ONE shared gram (over-fires on idioms);
    * thresholding the fraction catches paraphrased or partially-copied
    * eval items while tolerating incidental overlap. Same scale shape as
    * [[contaminatedIds]]: corpus text never shuffles — only (id, gram)
    * pairs move, benchmark grams broadcast.
    */
  def overlapFractions(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      ngram: Int = 13): DataFrame = {
    val benchGrams = benchmark
      .select(explode(grams(benchTextCol, ngram)).as("gram"))
      .distinct()
    val corpusGrams = corpus
      .select(col(idCol), explode(grams(textCol, ngram)).as("gram"))
      .distinct()
    val totals = corpusGrams.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val matched = corpusGrams.join(broadcast(benchGrams), Seq("gram"))
      .groupBy(idCol).agg(count(lit(1)).as("n_matched"))
    totals.join(matched, Seq(idCol), "left")
      .na.fill(0L, Seq("n_matched"))
      .withColumn("overlap", col("n_matched").cast("double") / col("n_grams"))
  }

  /** Drop docs whose benchmark n-gram overlap fraction reaches
    * `maxOverlap` (1-gram incidental matches survive; copied items die).
    */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      ngram: Int = 13, maxOverlap: Double = 0.5): DataFrame =
    corpus.join(
      broadcast(overlapFractions(corpus, benchmark, idCol, textCol, benchTextCol, ngram)
        .where(col("overlap") >= maxOverlap).select(idCol)),
      Seq(idCol), "left_anti")

  /** Drop contaminated docs from the corpus (broadcast anti-join). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      ngram: Int = 13, minMatches: Int = 1): DataFrame =
    corpus.join(
      broadcast(contaminatedIds(corpus, benchmark, idCol, textCol, benchTextCol,
        ngram, minMatches)),
      Seq(idCol), "left_anti")

  /** Bloom-filter decontamination: when the benchmark gram set itself is
    * too large to broadcast as an exact set (many benchmark suites ×
    * paraphrase expansions), aggregate it into ONE Bloom filter binary
    * with Spark's codegen'd `bloom_filter_agg`; corpus grams probe with
    * `might_contain`. The filter rides into the probe plan as a SCALAR
    * SUBQUERY — the same injection shape as Spark's own runtime bloom
    * filters — so the plan stays KB-sized at production filter sizes
    * instead of embedding multi-MB literal bytes in the expression tree.
    * The corpus side still never shuffles.
    *
    * Sizing: the build uses graft's own `graft_bloom_agg` (same sketch
    * wire format as Spark's), which takes numItems/numBits as literals —
    * Spark's `bloom_filter_agg` silently Math.min-clamps against the
    * session-global `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    * / `maxNumBits` confs, and those are re-read lazily on the EXECUTORS,
    * so raising-then-restoring them around the build is a silent-shrink
    * race affecting Spark's own runtime filters besides (ADVICE r6). No
    * session conf or catalog entry is touched here. Mind the
    * per-document false-positive rate: a doc is flagged if ANY of its ~n
    * grams probes positive, so doc-level FP ≈ 1-(1-fpp)^n. Size `fpp` for the corpus's total gram
    * probes (e.g. 1e-9) or set `minMatches` >= 2 — both exposed here.
    */
  def contaminatedIdsBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      ngram: Int = 13, expectedGrams: Long = 10000000L,
      fpp: Double = 1e-9, minMatches: Int = 1): DataFrame = {
    val bits = math.ceil(-expectedGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    // the filter builds distributed (mergeable binary aggregate) and is
    // injected as a one-row scalar subquery, never a literal
    val bloomDf = benchmark
      .select(explode(grams(benchTextCol, ngram)).as("gram"))
      .agg(graftBloomAgg(col("gram"), expectedGrams, bits).as("bloom"))
    val corpusGrams = corpus.select(col(idCol),
      explode(grams(textCol, ngram)).as("gram"))
    val matched = corpusGrams
      .where(mightContain(bloomDf.scalar(), col("gram")))
    if (minMatches <= 1) matched.select(idCol).distinct()
    else matched.groupBy(idCol).agg(count(lit(1)).as("__m"))
      .where(col("__m") >= minMatches).select(idCol)
  }

  /** Drop corpus docs flagged by the Bloom decontamination pass. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      ngram: Int = 13, expectedGrams: Long = 10000000L,
      fpp: Double = 1e-9, minMatches: Int = 1): DataFrame =
    corpus.join(
      broadcast(contaminatedIdsBloom(corpus, benchmark, idCol, textCol,
        benchTextCol, ngram, expectedGrams, fpp, minMatches)),
      Seq(idCol), "left_anti")

  // ---------- PII redaction ----------

  /** Built-in PII patterns (regex, applied in order — longest digit runs
    * first so a card number is not partially consumed as a phone).
    * Deliberately conservative/high-precision forms of the usual classes:
    * emails, credit-card-ish digit runs, SSN-style ids, phone numbers,
    * IPv4, IBAN-style account strings.
    */
  val defaultPatterns: Seq[(String, String)] = Seq(
    ("""[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("""\b(?:\d[ -]?){13,18}\d\b""", "<CARD>"),
    ("""\b\d{3}-\d{2}-\d{4}\b""", "<SSN>"),
    ("""\b(?:\+?\d{1,3}[-. ])?(?:\(\d{2,4}\)[-. ]?)?\d{3,4}[-. ]\d{3,4}(?:[-. ]\d{2,4})?\b""", "<PHONE>"),
    ("""\b(?:\d{1,3}\.){3}\d{1,3}\b""", "<IP>"),
    ("""\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b""", "<IBAN>"))

  /** Replace PII occurrences in `textCol` with class tags. Pure
    * `regexp_replace` chain — codegen'd, narrow, no UDF.
    */
  def redactPii(df: DataFrame, textCol: String, outputCol: String = "",
      patterns: Seq[(String, String)] = defaultPatterns): DataFrame = {
    val out = if (outputCol.isEmpty) textCol else outputCol
    val redacted = patterns.foldLeft(col(textCol)) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }
    df.withColumn(out, redacted)
  }

  /** Per-class PII hit counts (for corpus auditing before redaction). */
  def piiStats(df: DataFrame, textCol: String,
      patterns: Seq[(String, String)] = defaultPatterns): DataFrame = {
    val aggs = patterns.map { case (re, tag) =>
      sum(size(regexp_extract_all(col(textCol), lit(re), lit(0)))).as(tag)
    }
    df.agg(aggs.head, aggs.tail: _*)
  }
}

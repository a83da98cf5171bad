package graft
package driver

import org.apache.spark.sql.functions._

import graft.text.{Packing, TextAnalysis}
import graft.driver.Fixtures._

/** Text and LM features (§2.6): language id, quality, tokens, BPE, the
  * CCNet likelihood family, inverted index/BM25 and the page filters.
  */
object TextCases {

  /** q_bpe_encode contract: a FIXED merge list shared verbatim by the
    * Spark query and the DuckDB oracle. The oracle replays BPE-apply as a
    * delimiter-guarded replace chain: each word becomes
    * `US US c1 US US c2 US US …` (US = chr(31)) and every merge (a,b) is
    * one `replace(US a US US b US -> US ab US)` — the doubled delimiter
    * means adjacent matches never share consumed characters, so ONE
    * replace per merge reproduces the canonical left-to-right
    * non-overlapping pass of `BpeTable.mergeOnce` exactly.
    *
    * Data contract (r9 ADVICE): the oracle equivalence assumes (a)
    * non-null `text` — Spark's `size(encode(NULL))` is NULL while the
    * oracle's `coalesce(flatten(...), [])` yields 0 tokens; and (b) no
    * chr(31) inside the text — US is the oracle's delimiter and a literal
    * occurrence would corrupt the replace chain. Both hold for the
    * synthetic `documents` table (generated non-null printable ASCII);
    * pipelines feeding arbitrary text through `Bpe.encode` itself are
    * unaffected (the expression handles nulls and any characters — only
    * the cross-engine ORACLE carries this restriction).
    */
  private val bpeMerges = Seq(
    "t a", "b l", "ta bl", "tabl e", "s c", "a n", "sc an", "k e", "ke y",
    "r o", "ro w", "s p", "a r", "sp ar", "spar k", "a g", "ag g",
    "q u", "e r", "qu er")

  /** q_bpe_bytes contract: BYTE-LEVEL (GPT-2-shape) merges TRAINED once
    * by `Bpe.trainBytes` on the sf0.01 corpus and frozen here, shared
    * verbatim by the Spark query and the oracle. 'Ġ' (U+0120) is the
    * byte-level stand-in for space. The query prepends one space to the
    * text (the GPT-2 convention), so on this corpus ([a-z ] single-
    * spaced) every pre-token is exactly 'Ġ' + word — which is what lets
    * DuckDB replay pre-tokenization with a plain split. The oracle
    * replays the merges IN ORDER with the same delimiter-guarded replace
    * chain as [[bpeOracleSql]]; that equals the expression's rank-greedy
    * application because the table is TRAINED (each merge's operands are
    * only producible by earlier merges — `BpeByteSpec` asserts the
    * agreement over the corpus vocabulary).
    */
  private val bpeByteMerges = Seq(
    "Ġ s", "e r", "i n", "o w", "o r", "Ġ c", "m er", "a t", "l u", "Ġ b",
    "Ġ v", "a s", "Ġ f", "Ġ a", "a r", "p ar", "Ġ t", "j o", "jo in",
    "Ġ join", "as h", "h ash", "Ġ hash", "r ow")

  /** The delimiter-guarded replace chain over one pre-token `w` (shared
    * by the byte-BPE oracles).
    */
  private def bpeByteChainSql: String = {
    val D = "chr(31)"
    val base = s"$D||$D||regexp_replace(w, '(.)', '\\1'||$D||$D, 'g')"
    bpeByteMerges.foldLeft(base) { (acc, m) =>
      val Array(a, b) = m.split(" ")
      s"replace($acc, $D||'$a'||$D||$D||'$b'||$D, $D||'$a$b'||$D)"
    }
  }

  private def bpeBytesOracleSql: String = {
    val chain = bpeByteChainSql
    s"""WITH t AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '),
       |                                w -> chr(288) || w) AS ws
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, coalesce(flatten(list_transform(ws,
       |    w -> list_filter(string_split($chain, chr(31)), x -> x <> ''))), []) AS toks
       |  FROM t)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  array_to_string(toks, ' ') AS tokens_str
       |FROM e ORDER BY doc_id""".stripMargin
  }

  private def bpeOracleSql: String = {
    val D = "chr(31)"
    val base = s"$D||$D||regexp_replace(w, '(.)', '\\1'||$D||$D, 'g')"
    val chain = bpeMerges.foldLeft(base) { (acc, m) =>
      val Array(a, b) = m.split(" ")
      s"replace($acc, $D||'$a'||$D||$D||'$b'||$D, $D||'$a$b'||$D)"
    }
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                             w -> w <> '') AS ws
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, coalesce(flatten(list_transform(ws,
       |    w -> list_filter(string_split($chain, chr(31)), x -> x <> ''))), []) AS toks
       |  FROM t)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  array_to_string(toks, ' ') AS tokens_str
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** q_token_budget oracle: per-source byte-BPE token totals — the same
    * replace-chain replay as q_bpe_bytes, aggregated instead of dumped.
    */
  private def tokenBudgetOracleSql: String = {
    val chain = bpeByteChainSql
    s"""WITH t AS (
       |  SELECT source, list_transform(string_split(text, ' '),
       |                                w -> chr(288) || w) AS ws
       |  FROM documents
       |), e AS (
       |  SELECT source, list_reduce(list_prepend(0, list_transform(ws,
       |    w -> len(list_filter(string_split($chain, chr(31)), x -> x <> '')))),
       |    (a, b) -> a + b) AS n
       |  FROM t)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS bpe_tokens
       |FROM e GROUP BY source ORDER BY source""".stripMargin
  }

  /** Oracle of q_lm_likelihood; q_ccnet_threshold derives from it. */
  private val lmLikelihoodOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
      |        FROM t WHERE len(w) >= 2)
      |), c12 AS (
      |  SELECT bg, count(*) AS c12 FROM b GROUP BY bg
      |), c1 AS (
      |  SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM b GROUP BY 1
      |), p AS (
      |  SELECT bg, (c12.c12 * 1000000) // c1.c1 AS pp
      |  FROM c12 JOIN c1 ON split_part(bg, ' ', 1) = w1
      |)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(pp) AS BIGINT) AS score_sum,
      |  CAST(sum(pp) AS DOUBLE) / count(*) AS score_avg
      |FROM b JOIN p USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q_ccnet_threshold derives from the proven q_lm_likelihood oracle:
    * same scoring, plus the fixed-cut bucket CASE (the scale path's
    * precomputed-threshold form) — derived, not duplicated.
    */
  private val ccnetThresholdOracle: String = {
    val lmTail =
      """SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(pp) AS BIGINT) AS score_sum,
        |  CAST(sum(pp) AS DOUBLE) / count(*) AS score_avg
        |FROM b JOIN p USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    require(lmLikelihoodOracle.endsWith(lmTail),
      "q_ccnet_threshold oracle derivation: q_lm_likelihood shape changed")
    val thrTail =
      """, s AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(pp) AS BIGINT) AS score_sum,
        |    CAST(sum(pp) AS DOUBLE) / count(*) AS score_avg
        |  FROM b JOIN p USING (bg) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, score_sum, score_avg,
        |  CAST(CASE WHEN score_avg < 34000.0 THEN 3
        |            WHEN score_avg < 35000.0 THEN 2 ELSE 1 END AS INTEGER) AS bucket
        |FROM s ORDER BY doc_id""".stripMargin
    lmLikelihoodOracle.dropRight(lmTail.length) + thrTail
  }

  val cases: Seq[Case] = Seq(
    // §2.6 language-ID heuristic (pure Column exprs, codegen'd)
    Case("q_text_langid", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\W+') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(w, x -> x = 'der')) + len(list_filter(w, x -> x = 'und'))
        |    + len(list_filter(w, x -> x = 'die')) + len(list_filter(w, x -> x = 'ist')) AS s_de,
        |  len(list_filter(w, x -> x = 'the')) + len(list_filter(w, x -> x = 'and'))
        |    + len(list_filter(w, x -> x = 'of')) + len(list_filter(w, x -> x = 'is')) AS s_en,
        |  len(list_filter(w, x -> x = 'el')) + len(list_filter(w, x -> x = 'la'))
        |    + len(list_filter(w, x -> x = 'que')) + len(list_filter(w, x -> x = 'es')) AS s_es,
        |  len(list_filter(w, x -> x = 'le')) + len(list_filter(w, x -> x = 'la'))
        |    + len(list_filter(w, x -> x = 'et')) + len(list_filter(w, x -> x = 'est')) AS s_fr
        |FROM t)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin),

    // §2.6 quality scoring features
    Case("q_text_quality", (s, dir) => {
      TextAnalysis.qualityFeatures(Tables.load(s, dir, "documents"), "text")
        .select("doc_id", "n_chars_q", "n_words", "punct_ratio", "mean_word_len",
          "distinct_ratio", "stopword_ratio")
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(lower(text)), '\s+') AS w,
        |  CAST(length(text) AS INTEGER) AS nc
        |FROM documents)
        |SELECT doc_id, nc AS n_chars_q,
        |  CAST(len(w) AS INTEGER) AS n_words,
        |  CAST(nc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / nc AS punct_ratio,
        |  CAST(nc - len(w) + 1 AS DOUBLE) / len(w) AS mean_word_len,
        |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
        |  CAST(len(list_filter(w, x -> list_contains(['the','a','and','of','to'], x))) AS DOUBLE) / len(w) AS stopword_ratio
        |FROM t ORDER BY doc_id""".stripMargin),

    // §2.6 token counting (whitespace + BPE-ish regex)
    Case("q_text_tokens", (s, dir) => {
      TextAnalysis.tokenCounts(Tables.load(s, dir, "documents"), "text")
        .select("doc_id", "ws_tokens", "bpe_tokens")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // §2.6 fixed-token-window chunking with overlap (context-window prep)
    Case("q_chunk_docs", (s, dir) => {
      TextAnalysis.chunkDocuments(Tables.load(s, dir, "documents"),
        "doc_id", "text", chunkSize = 128, overlap = 32)
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |         greatest(1, CAST(ceil((len(toks) - 128) / 96.0) AS INTEGER) + 1) AS n_chunks
        |  FROM t
        |), e AS (
        |  SELECT doc_id, toks, unnest(range(0, CAST(n_chunks AS BIGINT))) AS i
        |  FROM c
        |)
        |SELECT doc_id,
        |       CAST(i AS INTEGER) AS chunk_idx,
        |       array_to_string(toks[i * 96 + 1 : i * 96 + 128], ' ') AS chunk_text,
        |       CAST(len(toks[i * 96 + 1 : i * 96 + 128]) AS INTEGER) AS n_chunk_tokens
        |FROM e
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // §2.6 corpus vocabulary (word-frequency table, top-k)
    Case("q_vocab_topk", (s, dir) => {
      TextAnalysis.vocabulary(Tables.load(s, dir, "documents"), "text", topK = 1000)
    }, oracle =
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |      FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 1000""".stripMargin),

    // §2.6 corpus bigram count table (LM statistics)
    Case("q_ngram_counts", (s, dir) => {
      TextAnalysis.ngramCounts(Tables.load(s, dir, "documents"), "text", n = 2, topK = 500)
    }, oracle =
      """WITH t AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
        |), e AS (
        |  SELECT toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2
        |)
        |SELECT toks[i] || ' ' || toks[i + 1] AS gram, count(*) AS n
        |FROM e GROUP BY gram ORDER BY n DESC, gram LIMIT 500""".stripMargin),

    // §2.6 CCNet-style LM-likelihood scoring (r9): per-doc average
    // conditional bigram probability against the corpus's own bigram LM,
    // integer-scaled so the score is exact in every engine (no libm
    // ln/exp in the contract). The perplexity-bucketing signal.
    Case("q_lm_likelihood", (s, dir) => {
      // r22: fanOut reverted (VERDICT r21 #1 — the fanned scan fed
      // bigramLikelihood's three consumers unpersisted, tripling the
      // round-robin shuffle; driver-regressed at 32 cores). The shared
      // bigram table is now persisted inside bigramLikelihood instead,
      // so the tokenize+explode pass runs once per query.
      TextAnalysis.bigramLikelihood(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")
    }, oracle = lmLikelihoodOracle),

    // §2.6 BPE tokenization (r9): real byte-pair encoding under a fixed
    // merge table (training is spec-tested; apply is the hot path worth
    // grading) — native codegen'd expression with a per-executor word
    // memo cache, zero UDF/encoder round-trips. Oracle replays the merge
    // chain with delimiter-guarded replaces (see bpeOracleSql).
    Case("q_bpe_encode", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.Bpe.encode(lower(col("text")), bpeMerges).as("__t"))
        .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
          array_join(col("__t"), " ").as("tokens_str"))
        .orderBy("doc_id")
    }, oracle = bpeOracleSql),

    // §2.6 BYTE-LEVEL BPE tokenization (r10; VERDICT r9 #4): the GPT-2
    // shape — 256-symbol byte alphabet ('Ġ' carries the space), regex
    // pre-tokenization, rank-greedy merges — under the trained-and-frozen
    // bpeByteMerges table. Same native-expression execution as
    // q_bpe_encode; real token-budget accounting.
    Case("q_bpe_bytes", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.Bpe.encodeBytes(concat(lit(" "), col("text")),
            bpeByteMerges).as("__t"))
        .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
          array_join(col("__t"), " ").as("tokens_str"))
        .orderBy("doc_id")
    }, oracle = bpeBytesOracleSql),

    // §2.6 byte-level BPE LOSSLESSNESS (r10): decode(encode(text)) must
    // reproduce the input byte-for-byte under ANY merge table — the
    // property that makes byte-level tokenizers usable as storage/
    // transport codecs. The oracle is the rawest possible: the text
    // itself.
    Case("q_bpe_roundtrip", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.Bpe.decodeBytes(
            graft.text.Bpe.encodeBytes(concat(lit(" "), col("text")),
              bpeByteMerges)).as("restored"))
        .orderBy("doc_id")
    }, oracle =
      "SELECT doc_id, ' ' || text AS restored FROM documents ORDER BY doc_id"),

    // §2.6 per-source TOKEN BUDGET (r10): the composition real mixture
    // planning runs — byte-level BPE token totals per source under the
    // frozen merge table (what "1T tokens of web, 50B of books" is
    // counted in). One narrow codegen'd encode pass + one grouped
    // partial agg; no shuffle carries text.
    Case("q_token_budget", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("source"),
          size(graft.text.Bpe.encodeBytes(concat(lit(" "), col("text")),
            bpeByteMerges)).cast("long").as("__n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("__n").as("bpe_tokens"))
        .orderBy("source")
    }, oracle = tokenBudgetOracleSql),

    // §2.6 CCNet bucketing, SCALE-PATH form on the hash path (r10): cut
    // on FIXED precomputed thresholds (CCNet's production shape — no
    // global sort, no sketch, one codegen'd comparison per row). Cuts
    // frozen near this corpus's terciles; oracle derived from the proven
    // q_lm_likelihood oracle plus the same CASE.
    Case("q_ccnet_threshold", (s, dir) => {
      // r22: fanOut reverted; see q_lm_likelihood
      TextAnalysis.likelihoodBucketsByThreshold(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          fixedCuts = Some(Array(34000.0, 35000.0)))
        .orderBy("doc_id")
    }, oracle = ccnetThresholdOracle),

    // §2.6 CCNet head/middle/tail corpus split (r9): ntile over the
    // LM-likelihood score — the bucketing CCNet trains/downweights on.
    // (likelihoodBucketsByThreshold is the no-global-sort scale path;
    // the exact ntile variant is what an oracle can replay.)
    Case("q_ccnet_buckets", (s, dir) => {
      // r22: fanOut reverted; see q_lm_likelihood
      TextAnalysis.likelihoodBuckets(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |        FROM t WHERE len(w) >= 2)
        |), c12 AS (
        |  SELECT bg, count(*) AS c12 FROM b GROUP BY bg
        |), c1 AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM b GROUP BY 1
        |), p AS (
        |  SELECT bg, (c12.c12 * 1000000) // c1.c1 AS pp
        |  FROM c12 JOIN c1 ON split_part(bg, ' ', 1) = w1
        |), s AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(pp) AS BIGINT) AS score_sum,
        |    CAST(sum(pp) AS DOUBLE) / count(*) AS score_avg
        |  FROM b JOIN p USING (bg) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, score_sum, score_avg,
        |  CAST(ntile(3) OVER (ORDER BY score_avg DESC, doc_id) AS INTEGER) AS bucket
        |FROM s ORDER BY doc_id""".stripMargin),

    // §2.6 inverted index (r10): term -> sorted posting list + df, the
    // sparse-retrieval primitive; maxDf caps stopword-grade terms the
    // way the dedup bucket cap does. Postings surface as a CSV string
    // for the hash compare.
    Case("q_inverted_index", (s, dir) => {
      TextAnalysis.invertedIndex(Tables.load(s, dir, "documents"),
          "doc_id", "text", maxDf = 400)
        .select(col("term"), col("df"),
          array_join(col("postings").cast("array<string>"), ",").as("postings"))
        .orderBy("term")
    }, oracle =
      raw"""WITH t AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'), w -> w <> '')) AS term
        |    FROM documents))
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM t GROUP BY term HAVING count(*) <= 400
        |ORDER BY term""".stripMargin),

    // §2.6 inverted index, RELATIVE stopword cap (r13; VERDICT r12 #2):
    // df <= ceil(4N/5) computed in-plan from a broadcast 1-row corpus
    // count, so the semantic keep set is scale-invariant — the absolute
    // maxDf=400 above degenerates to an empty index at 10x corpus, while
    // this cap keeps the same terms at every sf (and the oracle replays
    // the exact-integer threshold at whatever N it sees).
    Case("q_inverted_index_rel", (s, dir) => {
      TextAnalysis.invertedIndexRel(Tables.load(s, dir, "documents"),
          "doc_id", "text", capNum = 4, capDen = 5)
        .select(col("term"), col("df"),
          array_join(col("postings").cast("array<string>"), ",").as("postings"))
        .orderBy("term")
    }, oracle =
      // Relative cap: ceil(4N/5) in exact integer arithmetic from the same
      // corpus the index is built over — replays the in-plan threshold at
      // any scale.
      raw"""WITH t AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'), w -> w <> '')) AS term
        |    FROM documents))
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM t GROUP BY term
        |HAVING count(*) <= (SELECT (count(*) * 4 + 4) // 5 FROM documents)
        |ORDER BY term""".stripMargin),

    // §2.6 BM25 ranking (r12; VERDICT r11 #3): the scoring layer over the
    // inverted index — integer-scaled idf x rational-arithmetic tf
    // saturation (k1=1.2, b=0.75), so DuckDB recomputes the identical
    // longs. Query terms fixed; all docs surface (score 0 when unmatched).
    Case("q_bm25", (s, dir) => {
      TextAnalysis.bm25Rank(Tables.load(s, dir, "documents"),
          "doc_id", "text", Seq("spark", "join", "window"))
        .orderBy("doc_id")
    }, oracle =
      // BM25 recomputed in exact integer arithmetic: reciprocal-df idf
      // scaled 1e6, tf saturation as cleared rationals over avgdl scaled
      // 1000 — every term of the formula is integer division on BIGINTs,
      // so both engines produce identical longs (the bigramLikelihood
      // contract).
      raw"""WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), w -> w <> '') AS t
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST((sum(dl) * 1000) // count(*) AS BIGINT) AS avgdl
        |      FROM dl),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM d)
        |  WHERE term IN ('spark', 'join', 'window')
        |  GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS dft FROM tf GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(((s.n * 1000000) // dfq.dft) *
        |      ((22 * s.avgdl * tf.tf * 1000) //
        |       (10 * s.avgdl * tf.tf + 3 * s.avgdl + 9000 * dl.dl)) AS BIGINT) AS sco
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN s)
        |SELECT d.doc_id, CAST(coalesce(sum(sco), 0) AS BIGINT) AS bm25_scaled,
        |  CAST(count(sco) AS BIGINT) AS n_terms_matched
        |FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    // §2.6 quality-threshold corpus filter (the downstream use of the
    // quality features: keep docs passing all gates)
    Case("q_quality_filter", (s, dir) => {
      TextAnalysis.qualityFeatures(Tables.load(s, dir, "documents"), "text")
        .where(col("n_words") >= 20 and col("distinct_ratio") >= 0.4 and
          col("punct_ratio") <= 0.1)
        .select("doc_id", "n_words", "distinct_ratio")
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(lower(text)), '\s+') AS w,
        |  CAST(length(text) AS INTEGER) AS nc
        |FROM documents)
        |SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words,
        |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio
        |FROM t
        |WHERE len(w) >= 20
        |  AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) >= 0.4
        |  AND CAST(nc - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / nc <= 0.1
        |ORDER BY doc_id""".stripMargin),

    // §2.6 Gopher-rule corpus filter (published recipe; every feature is
    // integer-ratio arithmetic, so DuckDB reproduces the doubles exactly)
    Case("q_gopher_filter", (s, dir) => {
      TextAnalysis.gopherFlags(Tables.load(s, dir, "documents"), "text")
        .select(col("doc_id"), col("g_n_words"), col("g_mean_word_len"),
          col("g_symbol_ratio"), col("g_alpha_word_ratio"),
          col("g_dupline_ratio"), col("gopher_pass"))
        .orderBy("doc_id")
    }, oracle =
      """WITH f AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n_words,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS n_nonspace,
        |    len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_sym,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |    len(string_split(text, chr(10))) AS n_lines,
        |    len(list_distinct(string_split(text, chr(10)))) AS n_dlines
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n_words AS INTEGER) AS g_n_words,
        |  n_nonspace / n_words AS g_mean_word_len,
        |  CAST(n_sym AS DOUBLE) / n_words AS g_symbol_ratio,
        |  CAST(n_alpha AS DOUBLE) / n_words AS g_alpha_word_ratio,
        |  1.0 - CAST(n_dlines AS DOUBLE) / n_lines AS g_dupline_ratio,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND (n_nonspace / n_words BETWEEN 3.0 AND 10.0)
        |    AND (CAST(n_sym AS DOUBLE) / n_words <= 0.1)
        |    AND (CAST(n_alpha AS DOUBLE) / n_words >= 0.8)
        |    AND (1.0 - CAST(n_dlines AS DOUBLE) / n_lines <= 0.3) AS gopher_pass
        |FROM f ORDER BY doc_id""".stripMargin),

    // §2.6 C4-style page cleaning (published Raffel et al. recipe):
    // line-level retention + page-level keep flag, DuckDB-oracle-exact.
    // The synthetic docs carry no punctuation/newlines, so both engines
    // derive page-shaped text the same way (sentence breaks at ' a ')
    // to exercise the line filter non-degenerately.
    Case("q_c4_filter", (s, dir) => {
      val pages = Tables.load(s, dir, "documents")
        .select(col("doc_id"), expr("replace(text, ' a ', '.\\n')").as("page"))
      TextAnalysis.c4Flags(pages, "page")
        .select(col("doc_id"), col("c4_n_lines"), col("c4_n_kept_lines"),
          col("c4_n_sentences"), col("c4_has_lorem"), col("c4_has_brace"),
          md5(col("c4_clean_text")).as("c4_clean_digest"), col("c4_keep"))
        .orderBy("doc_id")
    }, oracle =
      """WITH p AS (
        |  SELECT doc_id, replace(text, ' a ', '.' || chr(10)) AS page
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    string_split(page, chr(10)) AS lines,
        |    list_filter(string_split(page, chr(10)),
        |      l -> regexp_matches(l, '[.!?"'']\s*$')
        |       AND len(string_split_regex(trim(l), '\s+')) >= 5
        |       AND NOT regexp_matches(lower(l), '\bjavascript\b')) AS kept,
        |    contains(lower(page), 'lorem ipsum') AS has_lorem,
        |    contains(page, '{') AS has_brace
        |  FROM p),
        |g AS (
        |  SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
        |    coalesce(array_to_string(kept, chr(10)), '') AS ktext,
        |    has_lorem, has_brace
        |  FROM f)
        |SELECT doc_id,
        |  CAST(n_lines AS INTEGER) AS c4_n_lines,
        |  CAST(n_kept AS INTEGER) AS c4_n_kept_lines,
        |  CAST(len(regexp_extract_all(ktext, '[.!?]')) AS INTEGER) AS c4_n_sentences,
        |  has_lorem AS c4_has_lorem,
        |  has_brace AS c4_has_brace,
        |  md5(ktext) AS c4_clean_digest,
        |  (len(regexp_extract_all(ktext, '[.!?]')) >= 3
        |    AND NOT has_lorem AND NOT has_brace) AS c4_keep
        |FROM g ORDER BY doc_id""".stripMargin),

    // §2.6 Gopher repetition filters (paragraph + n-gram char fractions);
    // pages derived with paragraph breaks at ' a ' on both engines
    Case("q_gopher_repetition", (s, dir) => {
      val pages = Tables.load(s, dir, "documents")
        .select(col("doc_id"), expr("replace(text, ' a ', '\\n\\n')").as("page"))
      TextAnalysis.gopherRepetitionFlags(pages, "page", "doc_id")
        .select(col("doc_id"), col("r_dup_para_frac"), col("r_dup_para_char_frac"),
          col("r_top_2gram_char_frac"), col("r_dup_5gram_char_frac"),
          col("repetition_pass"))
        .orderBy("doc_id")
    }, oracle =
      """WITH p AS (
        |  SELECT doc_id, replace(text, ' a ', chr(10) || chr(10)) AS page
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(page, '\n\s*\n'),
        |      q -> length(trim(q)) > 0) AS paras,
        |    string_split_regex(trim(page), '\s+') AS words,
        |    CAST(length(regexp_replace(page, '\s+', '', 'g')) AS DOUBLE) AS chars
        |  FROM p),
        |para AS (
        |  SELECT doc_id,
        |    CASE WHEN len(paras) > 0 THEN
        |      CAST(len(paras) - len(list_distinct(paras)) AS DOUBLE) / len(paras)
        |      ELSE 0.0 END AS r_dup_para_frac,
        |    CASE WHEN list_sum(list_transform(paras, q -> length(q))) > 0 THEN
        |      CAST(coalesce(list_sum(list_transform(
        |          list_filter(paras, q -> len(list_filter(paras, x -> x = q)) > 1),
        |          q -> length(q))), 0) AS DOUBLE)
        |        / list_sum(list_transform(paras, q -> length(q)))
        |      ELSE 0.0 END AS r_dup_para_char_frac
        |  FROM w),
        |g2 AS (
        |  SELECT doc_id, any_value(chars) AS chars, g, count(*) AS c
        |  FROM (SELECT doc_id, chars,
        |          unnest(list_transform(range(1, len(words)),
        |            i -> words[i] || ' ' || words[i + 1])) AS g
        |        FROM w WHERE len(words) >= 2)
        |  GROUP BY doc_id, g),
        |top2 AS (
        |  SELECT doc_id,
        |    CAST(max(c * length(replace(g, ' ', ''))) AS DOUBLE) / any_value(chars)
        |      AS r_top_2gram_char_frac
        |  FROM g2 GROUP BY doc_id),
        |g5 AS (
        |  SELECT doc_id, any_value(chars) AS chars, g, count(*) AS c
        |  FROM (SELECT doc_id, chars,
        |          unnest(list_transform(range(1, len(words) - 3),
        |            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
        |                 words[i+3] || ' ' || words[i+4])) AS g
        |        FROM w WHERE len(words) >= 5)
        |  GROUP BY doc_id, g),
        |dup5 AS (
        |  SELECT doc_id,
        |    LEAST(CAST(sum(CASE WHEN c > 1 THEN c * length(replace(g, ' ', ''))
        |                        ELSE 0 END) AS DOUBLE) / any_value(chars), 1.0)
        |      AS r_dup_5gram_char_frac
        |  FROM g5 GROUP BY doc_id)
        |SELECT w.doc_id, para.r_dup_para_frac, para.r_dup_para_char_frac,
        |  coalesce(top2.r_top_2gram_char_frac, 0.0) AS r_top_2gram_char_frac,
        |  coalesce(dup5.r_dup_5gram_char_frac, 0.0) AS r_dup_5gram_char_frac,
        |  (para.r_dup_para_frac <= 0.30 AND para.r_dup_para_char_frac <= 0.20
        |   AND coalesce(top2.r_top_2gram_char_frac, 0.0) <= 0.20
        |   AND coalesce(dup5.r_dup_5gram_char_frac, 0.0) <= 0.15) AS repetition_pass
        |FROM w
        |LEFT JOIN para ON w.doc_id = para.doc_id
        |LEFT JOIN top2 ON w.doc_id = top2.doc_id
        |LEFT JOIN dup5 ON w.doc_id = dup5.doc_id
        |ORDER BY w.doc_id""".stripMargin),

    // §2.6 sequence packing: documents into 512-token training bins.
    // The bin ASSIGNMENT is per-partition FFD (deterministic but not
    // SQL-expressible), so the driver checks the packing INVARIANTS,
    // which are closed-form over `documents`: every doc packed exactly
    // once (count + doc_id-sum coverage), token conservation, oversized
    // docs isolated 1:1, every regular bin within budget, and the bin
    // count inside the FFD bound. Exact per-bin semantics stay
    // spec-tested in PackingSpec. (Moved from rows-only in r7.)
    Case("q_pack_sequences", (s, dir) => {
      val toks = TextAnalysis.tokenCounts(Tables.load(s, dir, "documents"), "text")
      val packed = Packing.packGreedy(toks, "doc_id", "ws_tokens",
        budget = 512, numPartitions = 32)
      val regularBins = count(when(col("oversized") === false, 1))
      val regularTokens = sum(when(col("oversized") === false, col("total_tokens")))
      packed.agg(
        sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("total_tokens")).cast("long").as("sum_tokens"),
        sum(expr("aggregate(doc_ids, CAST(0 AS BIGINT), (a, x) -> a + x)"))
          .cast("long").as("id_sum"),
        count(when(col("oversized"), 1)).cast("long").as("n_oversized"),
        coalesce(max(when(col("oversized") === false, col("total_tokens"))) <= 512,
          lit(true)).as("within_budget"),
        (regularBins >= ceil(regularTokens / 512.0) &&
          regularBins <= ceil(regularTokens / 512.0) * 2 + 64).as("bin_count_ok"))
    }, oracle =
      // Packing invariants are closed-form over documents: n_docs/id_sum
      // pin exact coverage, sum_tokens pins conservation, n_oversized is
      // the >budget doc count (each is isolated 1:1 by construction), and
      // the two booleans must hold for any correct FFD packing.
      """WITH t AS (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS toks
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CASE WHEN toks > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized,
        |  true AS within_budget,
        |  true AS bin_count_ok
        |FROM t""".stripMargin),

    // §2.6 PII redaction over a deterministic synthetic suffix (the raw
    // corpus has no planted PII, so append one derived from doc_id)
    Case("q_pii_redact", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-123-4567 ip 10.0.0.1")))
      graft.text.Decontamination.redactPii(docs, "text2", "red")
        .select(col("doc_id"), substring(col("red"), -60, 60).as("tail"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, right(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567 ip 10.0.0.1',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(?:\d[ -]?){13,18}\d\b', '<CARD>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b(?:\+?\d{1,3}[-. ])?(?:\(\d{2,4}\)[-. ]?)?\d{3,4}[-. ]\d{3,4}(?:[-. ]\d{2,4})?\b', '<PHONE>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b', '<IBAN>', 'g'),
        |  60) AS tail
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}

package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId picks the language with most marker hits; und when none") {
    val df = Seq(
      (1, "the cat and the dog of the house is here"),
      (2, "der hund und die katze ist da"),
      (3, "el perro es que la casa"),
      (4, "xyz qqq zzz")
    ).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "en", 2 -> "de", 3 -> "es", 4 -> "und"))
  }

  test("qualityFeatures computes ratios") {
    val df = Seq((1, "the the cat! sat.")).toDF("id", "text")
    val r = TextAnalysis.qualityFeatures(df, "text").collect()(0)
    assert(r.getAs[Int]("n_words") == 4)
    assert(r.getAs[Double]("punct_ratio") > 0)
    assert(r.getAs[Double]("distinct_ratio") == 0.75)
  }

  test("qualityFeatures and gopherFlags split each text once, beside any input column name") {
    // the input already holds the helper columns' first-choice names (one
    // in another case, one with the first suffix). An RDD, not a local Seq,
    // so the optimizer cannot fold the plan away.
    val df = spark.sparkContext.parallelize(Seq((1, "the cat sat\non the mat", "a", "b", "c")), 1)
      .toDF("id", "text", "__qcounts", "__GCOUNTS", "__gcounts1")
    val out = TextAnalysis.gopherFlags(TextAnalysis.qualityFeatures(df, "text"), "text")
    assert(out.columns.take(5).toSeq == df.columns.toSeq, out.columns)
    assert(out.columns.drop(5).toSet == Set("n_chars_q", "n_words", "punct_ratio",
      "mean_word_len", "distinct_ratio", "stopword_ratio", "g_n_words", "g_mean_word_len",
      "g_symbol_ratio", "g_alpha_word_ratio", "g_dupline_ratio", "gopher_pass"), out.columns)
    val r = out.collect()(0)
    assert((2 to 4).map(r.getString) == Seq("a", "b", "c"))
    assert(r.getAs[Int]("n_words") == 6 && r.getAs[Int]("g_n_words") == 6)
    assert(r.getAs[Double]("distinct_ratio") == 5.0 / 6 && r.getAs[Double]("g_dupline_ratio") == 0.0)
    // one kernel per operator, each evaluated once per row; no split left
    val plan = out.queryExecution.optimizedPlan.toString
    assert("(quality|gopher)_counts\\(".r.findAllIn(plan).length == 2, plan)
    assert(!plan.contains("split("), plan)
  }

  test("qualityFeatures: empty, whitespace-only and null texts do not fail the job") {
    val df = spark.sparkContext.parallelize(Seq((1, ""), (2, "   "), (3, " \t\n "), (4, null),
      (5, "a.")), 1).toDF("id", "text")
    val rows = TextAnalysis.qualityFeatures(df, "text").orderBy("id").collect()
    def f(i: Int, c: String) = Option(rows(i).getAs[Any](c))
    // no chars, no punctuation ratio (ANSI division by zero before)
    assert(f(0, "punct_ratio").isEmpty && f(0, "n_chars_q").contains(0) &&
      f(0, "n_words").contains(1), rows(0))
    assert(f(1, "punct_ratio").contains(0.0) && f(1, "n_chars_q").contains(3) &&
      f(1, "n_words").contains(1), rows(1))
    // trim strips spaces only: "\t\n" splits into two empty words
    assert(f(2, "punct_ratio").contains(0.0) && f(2, "n_words").contains(2) &&
      f(2, "distinct_ratio").contains(0.5), rows(2))
    assert(rows(3).toSeq.drop(2).forall(_ == null), rows(3))
    assert(f(4, "punct_ratio").contains(0.5) && f(4, "mean_word_len").contains(2.0), rows(4))
  }

  // The Column formulas qualityFeatures and gopherFlags had before their
  // native kernels (regexes, splits and `filter` lambdas), with the one
  // intended change: no punct_ratio for an empty text.
  private def refQualityFeatures(df: DataFrame, textCol: String,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")): DataFrame = {
    val t = col(textCol)
    val words = col("__ref_words")
    val nWords = size(words)
    val nChars = length(t)
    val punct = nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val stopHits = size(filter(words, w => w.isin(stopwords.map(s => lit(s)): _*)))
    df.withColumn("__ref_words", split(trim(lower(t)), "\\s+"))
      .withColumns(Map(
        "n_chars_q" -> nChars.cast("int"),
        "n_words" -> nWords.cast("int"),
        "punct_ratio" -> when(nChars =!= 0, punct.cast("double") / nChars),
        "mean_word_len" -> ((nChars - nWords + 1).cast("double") / nWords),
        "distinct_ratio" -> (size(array_distinct(words)).cast("double") / nWords),
        "stopword_ratio" -> (stopHits.cast("double") / nWords)))
      .drop("__ref_words")
  }

  private def refGopherFlags(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = col("__ref_gwords")
    val nWords = size(words)
    val meanLen = (length(regexp_replace(t, "\\s+", "")).cast("double") / nWords)
    val symbols = size(regexp_extract_all(t, lit("#|\\.\\.\\.|\u2026"), lit(0)))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val lines = col("__ref_glines")
    val dupLines = lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines)
    df.withColumns(Map("__ref_gwords" -> split(trim(t), "\\s+"), "__ref_glines" -> split(t, "\n")))
      .withColumns(Map(
        "g_n_words" -> nWords.cast("int"),
        "g_mean_word_len" -> meanLen,
        "g_symbol_ratio" -> (symbols.cast("double") / nWords),
        "g_alpha_word_ratio" -> (alphaWords.cast("double") / nWords),
        "g_dupline_ratio" -> dupLines))
      .drop("__ref_gwords", "__ref_glines")
      .withColumn("gopher_pass",
        col("g_n_words").between(50, 100000) &&
        col("g_mean_word_len").between(3.0, 10.0) &&
        col("g_symbol_ratio") <= 0.1 &&
        col("g_alpha_word_ratio") >= 0.8 &&
        col("g_dupline_ratio") <= 0.3)
  }

  /** Seeded texts of words, stopwords in any case, every `\s` byte, other
    * Unicode spaces, punctuation, ellipses and `#`, letters that lower-case
    * to other lengths, combining marks, emoji and CJK; plus fixed edge cases.
    */
  private def adversarialTexts(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(20261020L)
    val pieces = Seq("the", "The", "THE", "a", "A", "and", "of", "to", "cat", "word", "x1", "42",
      " ", "  ", "\t", "\n", "\n\n", "\r", "\r\n", "\u000B", "\f", "\u00A0", "\u2003", "\u3000",
      "\u2026", "...", "....", "..", ".", "#", "##", "!", "?", ",", "\"", "'", "-", "_", "~", "`",
      "\u0130", "\u0130stanbul", "e\u0301", "\u00C9T\u00C9", "\u00DF", "\u03A3\u0391\u03A3",
      "\uD83D\uDE00", "\u4E2D\u6587", "\u00BF", "\u2014", "\uFF01")
    val fixed = Seq("", " ", "   ", "\t", "\n", "\n\n", " a ", "\ta\t", "\na\n", "a\n\na",
      "...", "....", "\u2026\u2026", "#...#", "\u0130", "THE the The", null)
    fixed ++ Seq.fill(n)(Seq.fill(rnd.nextInt(40))(pieces(rnd.nextInt(pieces.length))).mkString)
  }

  test("the native kernels equal the former Column formulas, interpreted and codegen'd") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val texts = adversarialTexts(3000)
    // an RDD, not a local Seq: a local relation would be folded at planning
    val df = spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i, t) }, 4)
      .toDF("id", "text")
    val modes = Seq(
      "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      "ANSI off" -> Map("spark.sql.ansi.enabled" -> "false"))
    for ((mode, confs) <- modes) {
      val before = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val out = TextAnalysis.gopherFlags(TextAnalysis.qualityFeatures(df, "text"), "text")
        val ref = refGopherFlags(refQualityFeatures(df, "text"), "text")
        assert(out.schema == ref.schema, s"$mode\n${out.schema.treeString}\n${ref.schema.treeString}")
        assert(out.exceptAll(ref).isEmpty && ref.exceptAll(out).isEmpty, mode)
        assert(out.count() == texts.length, mode)
        val codegen = out.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
        assert(codegen == (mode != "interpreted"), mode)
        // a text column that cannot be null: the same schema, nullability
        // included; a number column: cast to string, as the builtins cast it
        val nonNull = df.na.fill("", Seq("text"))
        assert(TextAnalysis.gopherFlags(TextAnalysis.qualityFeatures(nonNull, "text"), "text").schema ==
          refGopherFlags(refQualityFeatures(nonNull, "text"), "text").schema, mode)
        val numbers = df.select(col("id"), (col("id") * 1001L).as("text"))
        val numOut = TextAnalysis.gopherFlags(TextAnalysis.qualityFeatures(numbers, "text"), "text")
        val numRef = refGopherFlags(refQualityFeatures(numbers, "text"), "text")
        assert(numOut.schema == numRef.schema && numOut.exceptAll(numRef).isEmpty &&
          numRef.exceptAll(numOut).isEmpty, mode)
        // stopwords with a duplicate, an empty one and a null (which matches nothing)
        val stop = Seq("cat", "", null, "cat", "the")
        val stopOut = TextAnalysis.qualityFeatures(df, "text", stop)
        val stopRef = refQualityFeatures(df, "text", stop)
        assert(stopOut.exceptAll(stopRef).isEmpty && stopRef.exceptAll(stopOut).isEmpty, mode)
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("gopherFlags computes rule features and the combined pass flag") {
    val good = ("w " + (1 to 60).map(i => s"word$i").mkString(" ")).trim
    val tooShort = "only a few words here"
    val symbolHeavy = (1 to 60).map(_ => "ok#").mkString(" ") // every word has '#'
    val repeatedLines = ((1 to 30).map(_ => "same line of words").mkString("\n") +
      "\n" + (1 to 40).map(i => s"w$i").mkString(" "))
    val df = Seq((1, good), (2, tooShort), (3, symbolHeavy), (4, repeatedLines))
      .toDF("id", "text")
    val out = TextAnalysis.gopherFlags(df, "text").orderBy("id").collect()
    assert(out(0).getAs[Boolean]("gopher_pass"))
    assert(!out(1).getAs[Boolean]("gopher_pass")) // word count below 50
    assert(out(1).getAs[Int]("g_n_words") == 5)
    assert(!out(2).getAs[Boolean]("gopher_pass")) // symbol ratio 1.0
    assert(out(2).getAs[Double]("g_symbol_ratio") >= 0.9)
    assert(!out(3).getAs[Boolean]("gopher_pass")) // 29/31 duplicate lines
    assert(out(3).getAs[Double]("g_dupline_ratio") > 0.3)
  }

  test("c4Flags retains terminal-punctuation lines and flags bad pages") {
    val goodPage =
      """This is the first proper sentence of the page.
        |Another full sentence follows it right here!
        |And a third one to clear the sentence minimum?
        |short line.
        |no terminal punctuation on this line at all
        |""".stripMargin
    val jsPage =
      """Please enable javascript to view this page properly today.
        |This sentence survives because it is long and proper.
        |Second surviving sentence is right here for you now.
        |Third surviving sentence completes the needed minimum count.
        |""".stripMargin
    val loremPage = "A fine sentence that would pass the filter easily. " +
      "Lorem ipsum dolor sit amet and so on. More text here as well."
    val bracePage =
      "function() { return 1; } is code. Still code here obviously. More code follows now."

    val df = Seq((1, goodPage), (2, jsPage), (3, loremPage), (4, bracePage))
      .toDF("id", "text")
    val out = TextAnalysis.c4Flags(df, "text").orderBy("id").collect()

    val good = out(0)
    // "short line." (<5 words) and the unterminated line are dropped
    assert(good.getAs[Int]("c4_n_kept_lines") == 3)
    assert(good.getAs[Boolean]("c4_keep"))
    assert(!good.getAs[String]("c4_clean_text").contains("short line"))

    val js = out(1)
    assert(js.getAs[Int]("c4_n_kept_lines") == 3) // javascript line dropped
    assert(js.getAs[Boolean]("c4_keep"))

    assert(!out(2).getAs[Boolean]("c4_keep") && out(2).getAs[Boolean]("c4_has_lorem"))
    assert(!out(3).getAs[Boolean]("c4_keep") && out(3).getAs[Boolean]("c4_has_brace"))
  }

  test("gopherRepetitionFlags: paragraph and n-gram repetition fractions") {
    val cleanDoc = (1 to 40).map(i => s"unique$i word$i token$i").mkString("Para one here.\n\n", " ", "\n\nPara two ends.")
    val dupParaDoc = "same paragraph content here\n\nsame paragraph content here\n\nanother one"
    val top2Doc = ((1 to 20).map(_ => "hot pair") ++ (1 to 5).map(i => s"w$i")).mkString(" ")
    val dup5Doc = ((1 to 6).flatMap(_ => Seq("a1", "b2", "c3", "d4", "e5")) ++ Seq("tail")).mkString(" ")
    val tiny = "just three words"
    val df = Seq((1L, cleanDoc), (2L, dupParaDoc), (3L, top2Doc), (4L, dup5Doc), (5L, tiny))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetitionFlags(df, "text", "doc_id")
      .orderBy("doc_id").collect()

    assert(out(0).getAs[Boolean]("repetition_pass"))

    val dp = out(1)
    assert(dp.getAs[Double]("r_dup_para_frac") > 0.3) // 2 of 3 paras duplicated
    assert(dp.getAs[Double]("r_dup_para_char_frac") > 0.2)
    assert(!dp.getAs[Boolean]("repetition_pass"))

    val t2 = out(2)
    assert(t2.getAs[Double]("r_top_2gram_char_frac") > 0.2, s"got $t2")
    assert(!t2.getAs[Boolean]("repetition_pass"))

    val d5 = out(3)
    assert(d5.getAs[Double]("r_dup_5gram_char_frac") > 0.15, s"got $d5")
    assert(!d5.getAs[Boolean]("repetition_pass"))

    // shorter than 5 words: no 5-grams -> zero dup fraction, no errors
    // (top-2gram is trivially high on 3 words — Gopher applies these
    // filters after the 50-word minimum, which gopherFlags enforces)
    val t = out(4)
    assert(t.getAs[Double]("r_dup_5gram_char_frac") == 0.0)
    assert(t.getAs[Double]("r_dup_para_frac") == 0.0)
  }

  test("tokenCounts whitespace and BPE-ish") {
    val df = Seq((1, "hello world42 foo-bar")).toDF("id", "text")
    val r = TextAnalysis.tokenCounts(df, "text").collect()(0)
    assert(r.getAs[Int]("ws_tokens") == 3)
    // hello | world | 42 | foo | - | bar
    assert(r.getAs[Int]("bpe_tokens") == 6)
  }

  test("chunkDocuments windows tokens with overlap, last chunk ragged") {
    val df = Seq((1L, "t1 t2 t3 t4 t5"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text", chunkSize = 4, overlap = 2)
      .orderBy("doc_id", "chunk_idx").collect()
    // doc 1: 5 tokens, stride 2 -> ceil((5-4)/2)+1 = 2 chunks
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSeq == Seq(
      (1L, 0, "t1 t2 t3 t4", 4),
      (1L, 1, "t3 t4 t5", 3), // overlap t3 t4; ragged tail
      (2L, 0, "a b", 2))) // short doc -> one chunk
    // every token of doc 1 appears in some chunk
    val covered = out.filter(_.getLong(0) == 1L).flatMap(_.getString(2).split(" ")).toSet
    assert(covered == Set("t1", "t2", "t3", "t4", "t5"))
  }

  test("vocabulary ranks tokens by count desc then word asc") {
    val df = Seq((1, "b a a"), (2, "B c a")).toDF("id", "text")
    val out = TextAnalysis.vocabulary(df, "text", topK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a", 3L), ("b", 2L))) // lowercased; c cut by top-k
  }

  test("ngramCounts emits token bigrams, skips short docs") {
    val df = Seq((1, "x y z"), (2, "x y"), (3, "solo")).toDF("id", "text")
    val out = TextAnalysis.ngramCounts(df, "text", n = 2, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("x y", 2L), ("y z", 1L)))
  }

  test("groupedStats sums docs/chars/tokens per group") {
    val df = Seq(("s1", "en", "a b", 3), ("s1", "en", "c", 1), ("s2", "de", "d e f", 5))
      .toDF("source", "lang", "text", "n_chars")
    val out = TextAnalysis.groupedStats(df, Seq("source", "lang"), "text", "n_chars")
      .orderBy("source").collect()
    assert(out(0).toSeq == Seq("s1", "en", 2L, 4L, 3L))
    assert(out(1).toSeq == Seq("s2", "de", 1L, 5L, 3L))
  }

  test("fingerprint is normalization-invariant and 16 hex chars") {
    val df = Seq((1, "  Hello   World "), (2, "hello world")).toDF("id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0).matches("[0-9a-f]{16}"))
  }

  test("bigramLikelihood: hand-computed integer-scaled probabilities") {
    // bigrams: "a b"x2 (doc1), "b a" (doc1), "a c" (doc2)
    // left-context counts: a->3, b->1
    // scale 1000: p(a b)=2000/3=666, p(b a)=1000, p(a c)=1000/3=333
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLikelihood(df, "doc_id", "text", scale = 1000L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1L, 3L, 2332L, 2332.0 / 3),
      (2L, 1L, 333L, 333.0))) // doc 3 has no bigrams: absent
  }

  test("bigramLikelihood normalizes case and whitespace before scoring") {
    val df = Seq((1L, "A   b"), (2L, " a B ")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLikelihood(df, "doc_id", "text", scale = 100L)
      .select("score_sum").collect().map(_.getLong(0))
    assert(out.toSeq === Seq(100L, 100L)) // both docs are the bigram "a b"
  }

  test("dedupLinesWithinDoc keeps first occurrence of each line, in order") {
    val df = Seq(
      (1L, "nav\ncontent one\nnav\ncontent two\nnav"),
      (2L, "only\nunique\nlines"),
      (3L, "same\nsame\nsame"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupLinesWithinDoc(df, "doc_id", "text")
      .orderBy("doc_id").select("cleaned").collect().map(_.getString(0))
    assert(out(0) === "nav\ncontent one\ncontent two")
    assert(out(1) === "only\nunique\nlines")
    assert(out(2) === "same")
  }

  test("likelihoodBuckets: head gets the most in-distribution docs") {
    // docs 1-2 repeat the dominant continuation of context "x"; doc 3
    // takes the rare continuation (note: an unshared context like "q r"
    // would score p=1 — unsmoothed conditionals reward unique contexts)
    val df = Seq((1L, "x y x y x y"), (2L, "x y x y"), (3L, "x q"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.likelihoodBuckets(df, "doc_id", "text", buckets = 3)
      .select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out(3) === 3)               // the surprising doc lands in the tail
    assert(Set(out(1), out(2)) === Set(1, 2))
    // the threshold (no-global-sort) variant agrees on the ordering; cut
    // placement AT a data point is quantile-boundary fuzzy on 3 docs, so
    // assert ranks, not exact tail membership
    val thr = TextAnalysis.likelihoodBucketsByThreshold(df, "doc_id", "text",
        buckets = 3, relativeError = 0.0001)
      .select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(thr(1) === 1 && thr(3) > thr(1))
  }

  test("invertedIndex: distinct per-doc terms, sorted postings, maxDf cap") {
    import spark.implicits._
    val df = Seq(
      (3L, "alpha beta alpha"), // alpha twice in one doc: counted once
      (1L, "alpha gamma"),
      (2L, "beta common"), (4L, "common"), (5L, "common"))
      .toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(df, "doc_id", "text", maxDf = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2).toSeq)).toMap
    assert(idx("alpha") === (2L, Seq(1L, 3L))) // sorted, deduped per doc
    assert(idx("beta") === (2L, Seq(2L, 3L)))
    assert(idx("gamma") === (1L, Seq(1L)))
    assert(!idx.contains("common"), "df=3 > maxDf=2 must be dropped")
  }

  test("invertedIndexRel: fractional cap is corpus-relative, so doubling the " +
      "corpus keeps the same semantic term set where an absolute cap empties") {
    import spark.implicits._
    // "hot" is in every doc (df = N); "rare" in exactly one. cap = ceil(N/2).
    def corpus(n: Int) = (1 to n).map(i =>
      (i.toLong, if (i == 1) "hot rare" else "hot")).toDF("doc_id", "text")
    def kept(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.invertedIndexRel(df, "doc_id", "text", capNum = 1, capDen = 2)
        .collect().map(_.getString(0)).toSet
    assert(kept(corpus(4)) === Set("rare"), "hot df=4 > ceil(4/2)=2 dropped")
    assert(kept(corpus(8)) === Set("rare"), "same set at 2x corpus")
    // ceil semantics: df == ceil(N*num/den) is KEPT (<=, not <)
    val edge = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    assert(kept(edge) === Set("x", "y"), "df=2 == ceil(3/2)=2 kept")
  }

  test("bm25Rank: hand-computed integer-scaled scores, zero for unmatched docs") {
    import spark.implicits._
    // corpus: N=3, dl = 4,2,2 -> avgdl_scaled = (8*1000) div 3 = 2666
    val df = Seq(
      (1L, "spark spark join xx"), // tf(spark)=2, tf(join)=1, dl=4
      (2L, "spark yy"),            // tf(spark)=1, dl=2
      (3L, "zz ww"))               // no query terms
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(df, "doc_id", "text", Seq("spark", "join"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // df(spark)=2, df(join)=1; idf_scaled: spark = 3e6 div 2 = 1500000,
    // join = 3e6 div 1 = 3000000
    def tfc(tf: Long, dl: Long): Long =
      (22L * 2666 * tf * 1000) / (10L * 2666 * tf + 3L * 2666 + 9000L * dl)
    val d1 = 1500000L * tfc(2, 4) + 3000000L * tfc(1, 4)
    val d2 = 1500000L * tfc(1, 2)
    assert(out(1L) === (d1, 2L))
    assert(out(2L) === (d2, 1L))
    assert(out(3L) === (0L, 0L), "unmatched doc surfaces with score 0")
    // more occurrences of a rarer term at equal length must outrank
    assert(d1 > d2)
  }
}

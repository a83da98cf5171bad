package graft.dedup

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // corpus with planted duplicates: 10/11 near-identical, 20/21 identical
  private def docs = Seq(
    (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (11L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (20L, "spark shuffles data between executors during wide transformations always"),
    (21L, "spark shuffles data between executors during wide transformations always"),
    (30L, "completely unrelated content about cooking pasta with garlic and olive oil"),
    (40L, "another standalone document discussing quantum error correction codes")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical digests, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 5) // 20/21 collapse
    val dup = out.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 20L)
    val kept = Dedup.exactKeepFirst(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(10L, 11L, 20L, 30L, 40L))
  }

  test("minHashPairs finds planted near-dup and exact-dup, not unrelated docs") {
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text",
      Dedup.MinHashConfig(threshold = 0.5)).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((10L, 11L)), s"missing near-dup pair, got $pairSet")
    assert(pairSet.contains((20L, 21L)))
    assert(!pairSet.exists { case (a, b) => Set(a, b).intersect(Set(30L, 40L)).nonEmpty })
    val jac = pairs.find(r => r.getLong(0) == 20L).get.getAs[Double]("jaccard")
    assert(jac == 1.0)
  }

  // row limits forcing each minHashPairs path: every test corpus fits the
  // first; the second pulls nothing
  private val minHashPaths = Seq("driver" -> (1 << 20), "distributed" -> -1)

  /** Whether the pairs are the driver path's local relation. */
  private def onDriver(pairs: org.apache.spark.sql.DataFrame): Boolean =
    pairs.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** minHashPairs on both paths: the same schema and the same rows (as a
    * multiset, jaccard included); returns the rows.
    */
  private def minHashBothPaths(df: org.apache.spark.sql.DataFrame,
      cfg: Dedup.MinHashConfig = Dedup.MinHashConfig()): Seq[org.apache.spark.sql.Row] = {
    val out = minHashPaths.map { case (path, limit) =>
      val pairs = Dedup.minHashPairs(df, "doc_id", "text", cfg, limit, Long.MaxValue)
      assert(onDriver(pairs) == (path == "driver"), s"row limit $limit took the other path")
      pairs
    }
    assert(out.head.schema == out(1).schema, out.map(_.schema))
    val rows = out.map(_.collect().toSeq.sortBy(_.toString))
    graft.GraftCaches.releaseAll(spark)
    assert(rows.head == rows(1), s"driver ${rows.head}\ndistributed ${rows(1)}")
    rows.head
  }

  test("minHashPairs: driver and distributed paths agree on planted clusters") {
    val rnd = new scala.util.Random(20261019L)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(3000)}")
    val roots = Seq.fill(40)(words(40))
    // each root, two one-word variants of it, and unrelated docs
    val texts = roots.flatMap(r => Seq(r, r.updated(7, "x"), r.updated(30, "y"))) ++
      Seq.fill(120)(words(40))
    val df = texts.zipWithIndex.map { case (t, i) => (i * 3L + 1, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val rows = minHashBothPaths(df)
    assert(rows.length >= 100, s"${rows.length} pairs")
    assert(df.schema("doc_id").nullable == rows.head.schema("id_a").nullable)
  }

  test("minHashPairs: both paths agree on null and duplicate ids") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val a2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val b = "spark shuffles data between executors during wide transformations always"
    val df = Seq((Some(1L), a), (None, a), (Some(2L), a2), (Some(2L), a), (Some(3L), b),
      (Some(3L), b), (None, b), (Some(4L), b), (Some(5L), a2)).toDF("doc_id", "text")
    val rows = minHashBothPaths(df, Dedup.MinHashConfig(threshold = 0.5))
    // id 2's two rows are each checked against id 1 and id 5; (3, 4) twice
    assert(rows.count(r => r.get(0) == 1L && r.get(1) == 2L) == 2, rows)
    assert(rows.count(r => r.get(0) == 3L && r.get(1) == 4L) == 2, rows)
    assert(rows.forall(r => r.get(0) != null && r.get(1) != null), rows)
  }

  test("minHashPairs: both paths agree on null, empty and shorter-than-shingle texts") {
    val df = Seq((1L, null), (2L, ""), (3L, ""), (4L, "a b"), (5L, "a b"), (6L, "x"),
      (7L, null), (8L, "A  b!"), (9L, "one two three four"))
      .toDF("doc_id", "text")
    val rows = minHashBothPaths(df)
    // empty texts score 1.0, as do the shorter-than-shingle "a b" spellings
    assert(rows.map(r => (r.get(0), r.get(1))).toSet ==
      Set((2L, 3L), (4L, 5L), (4L, 8L), (5L, 8L)), rows)
  }

  test("minHashPairs: both paths keep a bucket of exactly maxBucketSize and drop one of cap + 1") {
    val kept = "alpha beta gamma delta epsilon zeta eta theta"
    val dropped = "iota kappa lambda mu nu xi omicron pi"
    // the cap + 1 bucket's fourth row has a null id: it still counts
    val df = (Seq.fill(3)(kept) ++ Seq.fill(4)(dropped)).zipWithIndex
      .map { case (t, i) => (if (i == 6) None else Some(i.toLong), t) }.toDF("doc_id", "text")
    val rows = minHashBothPaths(df, Dedup.MinHashConfig(maxBucketSize = 3))
    assert(rows.map(r => (r.get(0), r.get(1))).toSet == Set((0L, 1L), (0L, 2L), (1L, 2L)), rows)
  }

  test("minHashPairs: int ids keep their type on both paths; string ids take the distributed path") {
    val cfg = Dedup.MinHashConfig(threshold = 0.5)
    val ints = minHashBothPaths(docs.withColumn("doc_id", col("doc_id").cast("int")), cfg)
    assert(ints.map(r => (r.get(0), r.get(1))).toSet == Set((10, 11), (20, 21)), ints)
    val strings = Dedup.minHashPairs(docs.withColumn("doc_id", col("doc_id").cast("string")),
      "doc_id", "text", cfg, minHashPaths.head._2, Long.MaxValue)
    assert(!onDriver(strings))
    assert(strings.select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet == Set(("10", "11"), ("20", "21")))
    graft.GraftCaches.releaseAll(spark)
  }

  /** Whether `pairs`' plan computes MinHash signatures. */
  private def signsDocs(pairs: org.apache.spark.sql.DataFrame): Boolean =
    pairs.queryExecution.analyzed.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.MinHashBandsExpr])))

  test("minHashPairs: past the byte budget, the pulled band hashes feed the distributed joins") {
    val rnd = new scala.util.Random(7L)
    // four long near-duplicates (one word apart) and two short unrelated docs
    val root = Seq.fill(4000)(s"w${rnd.nextInt(50000)}")
    val texts = (0 until 4).map(i => root.updated(100 * i + 50, s"edit$i").mkString(" ")) ++
      Seq("a short unrelated note", "another short unrelated note here")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val cfg = Dedup.MinHashConfig()
    // pull 2 of the four candidates: 8 B per text byte, plus the id
    val budget = texts.take(4).map(t => 8L * (t.length + 1)).sum
    val fits = Dedup.minHashPairs(df, "doc_id", "text", cfg, 1 << 20, budget)
    val over = Dedup.minHashPairs(df, "doc_id", "text", cfg, 1 << 20, budget - 1)
    val distributed = Dedup.minHashPairs(df, "doc_id", "text", cfg, -1, Long.MaxValue)
    assert(onDriver(fits) && !onDriver(over) && !onDriver(distributed))
    assert(!signsDocs(over) && signsDocs(distributed))
    assert(over.schema == distributed.schema && fits.schema == distributed.schema)
    val rows = Seq(fits, over, distributed).map(_.collect().toSeq.sortBy(_.toString))
    graft.GraftCaches.releaseAll(spark)
    assert(rows.forall(_.length == 6), rows)
    assert(rows.forall(_ == rows(2)), rows)
  }

  test("minHashPairs: a many-partition corpus over the row limit takes the distributed plan") {
    val rnd = new scala.util.Random(11L)
    val roots = Seq.fill(50)(Seq.fill(30)(s"w${rnd.nextInt(5000)}"))
    val df = roots.flatMap(r => Seq(r, r.updated(3, "x"))).zipWithIndex
      .map { case (t, i) => (i.toLong, t.mkString(" ")) }.toDF("doc_id", "text").repartition(16)
    val cfg = Dedup.MinHashConfig()
    val atLimit = Dedup.minHashPairs(df, "doc_id", "text", cfg, 100, Long.MaxValue)
    val over = Dedup.minHashPairs(df, "doc_id", "text", cfg, 99, Long.MaxValue)
    assert(onDriver(atLimit) && !onDriver(over) && signsDocs(over))
    val rows = Seq(atLimit, over).map(_.collect().toSeq.sortBy(_.toString))
    graft.GraftCaches.releaseAll(spark)
    assert(rows.head.length >= 50 && rows.head == rows(1), rows)
  }

  test("incrementalMinHashPairs: delta-touching pairs only, full-run equivalent") {
    // corpus holds a planted corpus-corpus pair (10/11) that must NOT be
    // re-reported; the delta brings a cross pair (12~10/11) and a
    // delta-delta pair (50/51)
    val corpus = docs
    val delta = Seq(
      (12L, "the quick brown fox jumps over the lazy dog near the river bank forever"),
      (50L, "gradient descent updates model weights using minibatch statistics nightly"),
      (51L, "gradient descent updates model weights using minibatch statistics daily"),
      (60L, "totally fresh content with no relatives anywhere in the lake"))
      .toDF("doc_id", "text")
    val cfg = Dedup.MinHashConfig(threshold = 0.5)
    val got = Dedup.incrementalMinHashPairs(corpus, delta, "doc_id", "text", cfg)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((10L, 11L)), s"corpus-corpus pair re-reported: $got")
    assert(!got.contains((20L, 21L)))
    assert(got.contains((50L, 51L)), s"missing delta-delta pair: $got")
    assert(got.exists { case (a, b) => b == 12L || a == 12L }, s"missing cross pair: $got")
    // equivalence: full run over the union, filtered to delta-touching
    val deltaIds = Set(12L, 50L, 51L, 60L)
    val full = Dedup.minHashPairs(corpus.unionByName(delta), "doc_id", "text", cfg)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => deltaIds(a) || deltaIds(b) }.toSet
    assert(got === full)
  }

  test("incrementalFromStore: store path equals the recompute path; corpus text never read") {
    val corpus = docs
    val delta = Seq(
      (12L, "the quick brown fox jumps over the lazy dog near the river bank forever"),
      (50L, "gradient descent updates model weights using minibatch statistics nightly"),
      (51L, "gradient descent updates model weights using minibatch statistics daily"),
      (60L, "totally fresh content with no relatives anywhere in the lake"))
      .toDF("doc_id", "text")
    val cfg = Dedup.MinHashConfig(threshold = 0.5)
    val store = java.nio.file.Files.createTempDirectory("graft-sigstore").toString
    Dedup.writeSignatures(corpus, "doc_id", "text", store, cfg)
    val fromStore = Dedup.incrementalFromStore(delta, store, "doc_id", "text", cfg)
    // the plan reads the two store parquet tables, never the corpus rows
    val scans = fromStore.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.nonEmpty, "expected parquet scans of the signature store")
    val got = fromStore.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recompute = Dedup.incrementalMinHashPairs(corpus, delta, "doc_id", "text", cfg)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === recompute, "store path must equal the recompute path")
    assert(got.contains((50L, 51L)) && got.exists { case (a, b) => a == 12L || b == 12L })
    // daily-ingest append: folding the verified delta into the store makes
    // the NEXT delta see it as corpus
    Dedup.writeSignatures(delta, "doc_id", "text", store, cfg,
      org.apache.spark.sql.SaveMode.Append)
    val next = Seq((70L, "gradient descent updates model weights using minibatch statistics weekly"))
      .toDF("doc_id", "text")
    val nextPairs = Dedup.incrementalFromStore(next, store, "doc_id", "text", cfg)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nextPairs.exists { case (a, b) => b == 70L && (a == 50L || a == 51L) },
      s"appended delta signatures must be probeable: $nextPairs")
  }

  test("incrementalFromStore: over-budget touched set degrades to shuffle semi-join, same pairs") {
    val corpus = docs
    val delta = Seq(
      (12L, "the quick brown fox jumps over the lazy dog near the river bank forever"),
      (50L, "gradient descent updates model weights using minibatch statistics nightly"),
      (51L, "gradient descent updates model weights using minibatch statistics daily"))
      .toDF("doc_id", "text")
    val cfg = Dedup.MinHashConfig(threshold = 0.5)
    val store = java.nio.file.Files.createTempDirectory("graft-sigstore-gate").toString
    Dedup.writeSignatures(corpus, "doc_id", "text", store, cfg)
    def pairs(budget: Long) =
      Dedup.incrementalFromStore(delta, store, "doc_id", "text", cfg,
        broadcastTouchedBytes = budget)
    // 1-byte budget forces the shuffle left_semi fallback; results identical
    val gated = pairs(1L).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val broad = pairs(1L << 30).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated === broad, "gated fallback must emit the same pairs")
    assert(gated.contains((50L, 51L)))
    // With size-estimated broadcasts disabled, the only broadcasts left are
    // explicit hints: the in-budget plan still has one (the touched-keys
    // semi join), the gated plan has none — i.e. over budget we genuinely
    // stop FORCING a driver-sized broadcast and let the join exchange.
    // (dropOversizedBuckets keeps its own explicit LeftAnti broadcast —
    // only the touched-keys LeftSemi join is under this gate)
    def semiLines(budget: Long): Seq[String] =
      pairs(budget).queryExecution.sparkPlan.toString
        .linesIterator.filter(_.contains("LeftSemi")).toSeq
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(semiLines(1L << 30).exists(_.contains("BroadcastHashJoin")))
      val gatedSemis = semiLines(1L)
      assert(gatedSemis.nonEmpty && gatedSemis.forall(!_.contains("BroadcastHashJoin")),
        s"over-budget plan must not force a broadcast of the touched keys:\n${gatedSemis.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incrementalFromStore refuses a store written with another MinHash config or none") {
    val cfg = Dedup.MinHashConfig(threshold = 0.5)
    val delta = Seq((12L, "the quick brown fox jumps over the lazy dog near the river bank forever"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("graft-sigstore-cfg").toString
    Dedup.writeSignatures(docs, "doc_id", "text", store, cfg)
    // each signature field changes band hashes or shingle sets; the
    // threshold and bucket cap do not, so they may differ from the store's
    for (other <- Seq(cfg.copy(shingleSize = 4), cfg.copy(numPerms = 32),
        cfg.copy(numBands = 8), cfg.copy(seed = 7))) {
      val e = intercept[IllegalArgumentException](
        Dedup.incrementalFromStore(delta, store, "doc_id", "text", other))
      assert(e.getMessage.contains("MinHash config"), e.getMessage)
    }
    Dedup.incrementalFromStore(delta, store, "doc_id", "text",
      cfg.copy(threshold = 0.9, maxBucketSize = 10))
    // a store without the config file (written before it existed) is refused
    assert(new java.io.File(store, "_minhash_config").delete())
    intercept[IllegalArgumentException](
      Dedup.incrementalFromStore(delta, store, "doc_id", "text", cfg))
  }

  test("writeSignatures refuses to append with another MinHash config") {
    val cfg = Dedup.MinHashConfig(threshold = 0.5)
    val store = java.nio.file.Files.createTempDirectory("graft-sigstore-append").toString
    Dedup.writeSignatures(docs, "doc_id", "text", store, cfg)
    val delta = Seq((50L, "gradient descent updates model weights using minibatch statistics nightly"))
      .toDF("doc_id", "text")
    intercept[IllegalArgumentException](Dedup.writeSignatures(delta, "doc_id", "text", store,
      cfg.copy(numBands = 8), org.apache.spark.sql.SaveMode.Append))
    // the refused append wrote nothing: the store still holds only the corpus
    assert(spark.read.parquet(s"$store/shingles").count() == docs.count())
    // nor does a failed ErrorIfExists write cost the store its config
    intercept[org.apache.spark.sql.AnalysisException](Dedup.writeSignatures(delta, "doc_id",
      "text", store, cfg, org.apache.spark.sql.SaveMode.ErrorIfExists))
    Dedup.incrementalFromStore(delta, store, "doc_id", "text", cfg)
    Dedup.writeSignatures(delta, "doc_id", "text", store, cfg,
      org.apache.spark.sql.SaveMode.Append)
    assert(spark.read.parquet(s"$store/shingles").count() == docs.count() + 1)
  }

  test("dropNearDups keeps the smaller id of each pair") {
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text", Dedup.MinHashConfig(threshold = 0.5))
    val kept = Dedup.dropNearDups(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(10L, 20L, 30L, 40L))
  }

  test("simHashPairs finds near-dups within hamming budget") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 8).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((20L, 21L))) // identical -> hamming 0
    val h = pairs.find(r => r.getLong(0) == 20L).get.getAs[Int]("hamming")
    assert(h == 0)
  }

  test("simHashPairs above maxHamming 3 finds pairs that differ in every 16-bit band") {
    // one substituted word moves the signature 4 bits, one in each 16-bit
    // quarter: four fixed 16-bit bands never pair them, while
    // maxHamming + 1 bands must (pigeonhole)
    val a = "the quick brown fox jumps over the lazy dog near the river bank " +
      "while the farmer watches from the old wooden fence at dawn"
    val b = a.replace("brown", "bird")
    val x = TextHashing.simHash64(a) ^ TextHashing.simHash64(b)
    assert(java.lang.Long.bitCount(x) == 4, "fixture drifted")
    assert((0 until 4).forall(k => ((x >>> (16 * k)) & 0xffffL) != 0L), "fixture drifted")
    val pairs = Dedup.simHashPairs(Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
      "doc_id", "text", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 4)))
  }

  test("ngramJaccardPairs inverted-index join finds overlapping docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((10L, 11L)))
    assert(pairSet.contains((20L, 21L)))
    assert(pairSet.size == 2)
  }

  test("ngramJaccardPairs stop-gram small path matches the large path at the same cap") {
    // The r22 small-corpus short-circuit fires only when NO gram exceeds
    // the df cap, so the pre-existing general branch (fullyIndexed split +
    // fallback full-array verify) needs a corpus that trips the cap:
    // 20/21/22 are triplicates (every gram df 3 > cap 2 -> all stopped, no
    // candidates), and 60/61 are near-dups whose shared lead gram also
    // appears in 62 (df 3 -> stopped), leaving them PARTIALLY indexed so
    // their candidate pair goes through the fallback verify. The general
    // small branch and the PPJoin large branch must agree exactly.
    val stopDocs = docs.unionByName(Seq(
      (22L, "spark shuffles data between executors during wide transformations always"),
      (60L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (61L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (62L, "alpha beta gamma completely different ending words forever and ever")
    ).toDF("doc_id", "text"))
    def run(minDocs: Int) =
      Dedup.ngramJaccardPairs(stopDocs, "doc_id", "text", n = 3, threshold = 0.5,
        indexDocFreq = 2, prefixMinDocs = minDocs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val small = run(10000)
    assert(small == run(0))
    // the fallback-verified near-dup pair survives; the stop-only
    // triplicates cannot form candidates under the cap
    assert(small.exists { case (a, b, _) => (a, b) == (60L, 61L) }, s"got $small")
    assert(!small.exists { case (a, b, _) => Set(a, b).subsetOf(Set(20L, 21L, 22L)) })
  }

  test("ngramJaccardPairs prefix path finds the same pairs as the naive index") {
    // default prefixMinDocs keeps this 6-doc corpus on the naive path;
    // prefixMinDocs = 0 forces the PPJoin prefix path — pair sets and
    // Jaccard values must agree exactly
    def run(minDocs: Int) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
        prefixMinDocs = minDocs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(0) == run(10000))
  }

  test("ngram large-path verify runs as BroadcastHashJoins, not pair-keyed array sorts") {
    // the r5 10x regression shape: SortMergeJoins exchanging+sorting the
    // multi-KB shingle arrays per candidate pair. The verify must attach
    // arrays via broadcast joins when the candidate-touched set fits.
    val plan = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5, prefixMinDocs = 0).queryExecution.executedPlan.toString
    assert(plan.contains("jaccard_long"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    // no sort anywhere downstream of an array-carrying join: the only
    // SortMergeJoin-eligible joins in this path are the narrow candidate
    // self-join, which never carries `hashes`
    val sortingArrays = plan.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("h_a"))
    assert(!sortingArrays, "array verify went through a SortMergeJoin")
  }

  test("ngram large-path oversized verify sets degrade to the shuffle shape") {
    // a 1-byte budget can never fit the arrays: the fallback join must
    // produce identical pairs/scores
    val broadcastPath = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5, prefixMinDocs = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val shufflePath = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5, prefixMinDocs = 0, broadcastVerifyBytes = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(broadcastPath == shufflePath && broadcastPath.nonEmpty)
  }

  test("embeddingNearDupPairs finds planted near-identical vectors") {
    val base = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    val nearly = base.clone(); nearly(0) = base(0) + 0.001f
    val other = Array.tabulate(8)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, base.toSeq), (2L, nearly.toSeq), (3L, other.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", dim = 8,
      threshold = 0.99, sigBits = 8, bandBits = 4).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((1L, 2L)), s"got $pairSet")
    assert(!pairSet.contains((1L, 3L)))
  }

  test("embeddingNearDupPairs: sliced buckets find the default pairs; capped buckets drop theirs") {
    // a five-vector cluster around c and a two-vector pair around -c:
    // hyperplane signs flip with the vector, so the pair never shares a
    // band bucket with the cluster
    val c = Array(0.9, -0.4, 0.7, 0.2, -0.8, 0.5, -0.3, 0.6)
    def near(v: Array[Double], k: Int): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => (x + 1e-4 * ((k + i) % 3)).toFloat }.toSeq
    val df = ((1 to 5).map(k => (k.toLong, near(c, k))) ++
      (11 to 12).map(k => (k.toLong, near(c.map(-_), k)))).toDF("vec_id", "embedding")
    val sigs = df.select(col("vec_id"),
        graft.plans.NativeColumns.planeSig(col("embedding"), 8, 8, 42).as("sig"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert((1L to 5L).map(sigs).distinct.size == 1 && sigs(11L) == sigs(12L), "fixture drifted")
    def run(maxBucketSize: Int = 10000, sliceRows: Int = 2048) =
      Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", dim = 8, threshold = 0.99,
        sigBits = 8, bandBits = 4, maxBucketSize = maxBucketSize, sliceRows = sliceRows)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val default = run()
    val cluster = (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toSet
    assert(default.map(p => (p._1, p._2)) == cluster + ((11L, 12L)))
    // sliceRows = 1 slices every bucket of two or more members
    assert(run(sliceRows = 1) == default)
    // the cluster's buckets hold 5 > 3 vectors in every band: all dropped
    assert(run(maxBucketSize = 3) == default.filter(_._1 == 11L))
  }

  test("c4SpanDedup removes repeated three-sentence spans corpus-wide, keeps first") {
    val span = "First shared sentence here. Second shared sentence here. Third shared sentence here."
    val docA = s"Unique opening for doc a. $span Unique closing for doc a."
    val docB = s"Totally different start b! $span"   // span repeats -> removed
    val docC = "No duplicated content in this one. Just two sentences."
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val out = Dedup.c4SpanDedup(df, "doc_id", "text")
      .orderBy("doc").collect()

    val a = out(0)
    assert(a.getAs[Int]("n_removed") == 0) // first occurrence keeps its span
    assert(a.getAs[String]("clean_text") == docA)

    val b = out(1)
    assert(b.getAs[Int]("n_removed") == 3) // the three shared sentences go
    assert(b.getAs[String]("clean_text") == "Totally different start b!")

    val c = out(2)
    assert(c.getAs[Int]("n_removed") == 0 && c.getAs[Int]("n_sentences") == 2)
    assert(c.getAs[String]("clean_text") == docC)

    // a doc that is ONLY a duplicated span still comes back, emptied
    val df2 = Seq((1L, span), (2L, span)).toDF("doc_id", "text")
    val out2 = Dedup.c4SpanDedup(df2, "doc_id", "text").orderBy("doc").collect()
    assert(out2(0).getAs[String]("clean_text") == span)
    assert(out2(1).getAs[String]("clean_text") == "")
    assert(out2.length == 2)
  }

  test("substringDedup removes planted long duplicated runs, keeps first occurrence") {
    val rnd = new scala.util.Random(7)
    def words(n: Int, tag: String) = (0 until n).map(_ => s"$tag${rnd.nextInt(5000)}").mkString(" ")
    val dup = words(60, "shared") // 60-token duplicated run (minLen = 50)
    val docA = s"${words(30, "a")} $dup ${words(25, "a")}"
    val docB = s"${words(40, "b")} $dup" // later doc: loses the run
    val docC = words(80, "c") // no duplication
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", minLen = 50, k = 10)
      .orderBy("doc").collect()

    val a = out(0)
    assert(a.getAs[Int]("n_removed_tokens") == 0) // winner keeps the run
    assert(a.getAs[Int]("n_tokens") == 115)
    val b = out(1)
    assert(b.getAs[Int]("n_removed_tokens") == 60)
    assert(b.getAs[String]("clean_text") == docB.toLowerCase.split("\\W+")
      .filter(_.nonEmpty).take(40).mkString(" "))
    val c = out(2)
    assert(c.getAs[Int]("n_removed_tokens") == 0)
    assert(c.getAs[Int]("n_kept_tokens") == 80)

    // runs shorter than minLen survive
    val short = words(20, "s")
    val df2 = Seq((1L, s"${words(40, "x")} $short"), (2L, s"${words(40, "y")} $short"))
      .toDF("doc_id", "text")
    val out2 = Dedup.substringDedup(df2, "doc_id", "text", minLen = 50, k = 10)
      .orderBy("doc").collect()
    assert(out2.forall(_.getAs[Int]("n_removed_tokens") == 0))

    // same-doc periodic repetition: the later occurrence goes, one copy stays
    val df3 = Seq((1L, s"$dup $dup ${words(10, "z")}")).toDF("doc_id", "text")
    val out3 = Dedup.substringDedup(df3, "doc_id", "text", minLen = 50, k = 10).collect()
    assert(out3(0).getAs[Int]("n_removed_tokens") == 60)
    assert(out3(0).getAs[Int]("n_kept_tokens") == 70)
  }

  // edge limits forcing each connectedComponents path: every test graph
  // fits the first; the second (limit(0) pulls nothing) always overflows
  private val driverPath = 1 << 20
  private val distributedPath = -1
  private val paths = Seq("driver" -> driverPath, "distributed" -> distributedPath)

  private def components(pairs: org.apache.spark.sql.DataFrame, edgeLimit: Int) = {
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b", 20, edgeLimit)
    val local = cc.queryExecution.analyzed.collectFirst {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
    }.isDefined
    assert(local == (edgeLimit == driverPath), s"edge limit $edgeLimit took the other path")
    cc
  }

  test("connectedComponents resolves transitive groups; dropByComponents keeps min per group") {
    import spark.implicits._
    // a 3-chain, a 2-pair, and a 4-chain (diameter exercises iteration)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 11L))
      .toDF("id_a", "id_b")
    val docs = (1L to 12L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    for ((path, limit) <- paths) {
      val cc = components(pairs, limit).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
        8L -> 8L, 9L -> 8L, 10L -> 8L, 11L -> 8L), path)
      val kept = Dedup.dropByComponents(docs, "doc_id", pairs, "id_a", "id_b", limit)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // exactly one survivor (the min id) per component; singletons untouched
      assert(kept == Set(1L, 4L, 5L, 7L, 8L, 12L), path)
    }
    graft.GraftCaches.releaseAll(spark)
  }

  test("connectedComponents: driver and distributed paths agree on every graph shape") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261018L)
    // min-id labels by repeated relaxation: a reference independent of both paths
    def expected(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val label = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (a, b) => label(a) = a; label(b) = b }
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m || label(b) != m) { label(a) = m; label(b) = m; changed = true }
        }
      }
      label.toSet
    }
    val graphs = Seq(
      "random sparse" -> Seq.fill(400)((rnd.nextInt(600).toLong, rnd.nextInt(600).toLong)),
      "chain" -> rnd.shuffle((0L until 1200L).map(i => (i, i + 1))),
      "reversed chain" -> (0L until 1000L).map(i => (1000L - i, 999L - i)),
      "star" -> ((1L to 150L) ++ (600L to 700L)).map(leaf => (500L, leaf)),
      "duplicate and reversed edges" -> Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L)),
      "self-loops" -> Seq((7L, 7L), (3L, 3L), (3L, 4L), (9L, 9L), (9L, 9L)),
      "empty" -> Seq.empty[(Long, Long)],
      "extreme ids" -> Seq((-5L, Long.MaxValue), (Long.MaxValue - 1, Long.MaxValue),
        (Long.MinValue + 1, -5L), (-1L, 0L), (Long.MaxValue - 2, Long.MaxValue - 2)))
    for ((shape, edges) <- graphs) {
      val pairs = edges.toDF("id_a", "id_b")
      val out = paths.map { case (_, limit) => components(pairs, limit) }
      val rows = out.map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(out.map(_.schema).distinct.size == 1, s"$shape: ${out.map(_.schema)}")
      assert(out.head.schema.fields.forall(f => f.dataType ==
        org.apache.spark.sql.types.LongType && !f.nullable), shape)
      assert(rows.head == expected(edges), s"$shape: driver path")
      assert(rows(1) == rows.head, s"$shape: distributed path")
    }
    // a chain whose ids are permuted along it (id = 7919·i mod 1200): the
    // distributed loop's labels are still unsettled after maxIter rounds
    // (6 labels left at 20, 4 at 160), so only the driver path is held to
    // the reference here
    val permuted = (0L until 1199L).map(i => (i * 7919L % 1200L, (i + 1) * 7919L % 1200L))
    val driverRows = components(permuted.toDF("id_a", "id_b"), driverPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(driverRows == expected(permuted))
    graft.GraftCaches.releaseAll(spark)
  }

  test("distributed components throw, not return labels, when maxIter rounds do not converge") {
    import spark.implicits._
    // the permuted chain above: 6 labels would be left after 20 rounds
    val permuted = (0L until 1199L).map(i => (i * 7919L % 1200L, (i + 1) * 7919L % 1200L))
      .toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(permuted, "id_a", "id_b", 20, distributedPath))
    assert(e.getMessage.contains("20 rounds"), e.getMessage)
    val docs = (0L until 1200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    intercept[IllegalStateException](
      Dedup.dropByComponents(docs, "doc_id", permuted, "id_a", "id_b", distributedPath))
    graft.GraftCaches.releaseAll(spark)
  }

  test("dropByComponents keeps the same rows and schema on both paths, null ids included") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (3L, 2L), (5L, 6L), (6L, 6L)).toDF("id_a", "id_b")
    // the id column is not first: the output puts it first on both paths.
    // An RDD, not a local Seq, so the optimizer cannot fold the drop away.
    val docs = spark.sparkContext.parallelize(Seq(("a", Some(1L)), ("b", Some(2L)),
      ("c", Some(3L)), ("d", Some(4L)), ("e", Some(5L)), ("f", Some(6L)), ("n", None),
      ("n2", None)), 2).toDF("text", "doc_id")
    val out = paths.map { case (_, limit) =>
      Dedup.dropByComponents(docs, "doc_id", pairs, "id_a", "id_b", limit) }
    assert(out.head.schema == out(1).schema, out.map(_.schema))
    assert(out.head.columns.toSeq == Seq("doc_id", "text"))
    val rows = out.map(_.collect().map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSet)
    assert(rows.head == Set((Some(1L), "a"), (Some(4L), "d"), (Some(5L), "e"),
      (None, "n"), (None, "n2")))
    assert(rows(1) == rows.head)
    // the driver path drops without an exchange on the documents
    val plan = out.head.queryExecution.executedPlan.toString
    assert(plan.contains("INSET") && !plan.contains("Exchange") && !plan.contains("Join"), plan)
    // an int key folds the same way; a double key joins the local losers
    for ((keyType, filtered) <- Seq("int" -> true, "double" -> false)) {
      val typed = docs.withColumn("doc_id", col("doc_id").cast(keyType))
      val both = paths.map { case (_, limit) =>
        Dedup.dropByComponents(typed, "doc_id", pairs, "id_a", "id_b", limit) }
      assert(both.head.schema == both(1).schema, keyType)
      assert(both.map(_.collect().map(r => (Option(r.get(0)).map(_.toString), r.getString(1))).toSet)
        .distinct.size == 1, keyType)
      val p = both.head.queryExecution.executedPlan.toString
      assert(p.contains("INSET") == filtered && p.contains("Join") != filtered, s"$keyType\n$p")
    }
    graft.GraftCaches.releaseAll(spark)
  }

  /** The query executions `run` finishes, counted by a listener: a marker
    * action after `run` arrives after all of them, as the listener bus
    * delivers in order.
    */
  private def actions(run: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.analyzed.output.map(_.name))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(Nil)
    }
    val marker = "__actions_marker"
    spark.listenerManager.register(listener)
    try {
      run
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(Seq(marker)) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(Seq(marker)), "the marker action was not heard")
      seen.size - 1
    } finally spark.listenerManager.unregister(listener)
  }

  test("dropByComponents reads driver-built pairs without a Dataset action") {
    val rnd = new scala.util.Random(3L)
    val roots = Seq.fill(20)(Seq.fill(30)(s"w${rnd.nextInt(5000)}"))
    // an RDD, so the corpus is not itself a local relation
    val df = spark.sparkContext.parallelize(roots.flatMap(r => Seq(r, r.updated(3, "x"), r))
      .zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }, 2).toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(df, "doc_id", "text")
    assert(onDriver(pairs))
    // the same pairs behind a projection: read back through the bounded pull
    val projected = pairs.select("id_a", "id_b", "jaccard")
    var local, pulled: org.apache.spark.sql.DataFrame = null
    val counts = Seq(
      actions { local = Dedup.dropByComponents(df, "doc_id", pairs) },
      actions { pulled = Dedup.dropByComponents(df, "doc_id", projected) })
    assert(counts == Seq(0, 1), counts)
    assert(local.schema == pulled.schema)
    val rows = Seq(local, pulled).map(_.collect().map(_.toString).sorted.toSeq)
    assert(rows.head.length == 20 && rows.head == rows(1), rows)
    // null ids and ANSI casts behave as on the pull path
    val nulls = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("id_a", "id_b")
    val errors = Seq(nulls, nulls.select("id_a", "id_b")).map(p =>
      intercept[Exception](Dedup.dropByComponents(df, "doc_id", p)).getClass)
    assert(errors.distinct.size == 1, errors)
    graft.GraftCaches.releaseAll(spark)
  }

  test("TextHashing primitives are deterministic and sane") {
    val s1 = TextHashing.minHashSignature(TextHashing.shingleHashes("a b c d e f", 3), 64)
    val s2 = TextHashing.minHashSignature(TextHashing.shingleHashes("a b c d e f", 3), 64)
    assert(s1.toSeq == s2.toSeq)
    assert(TextHashing.jaccard(Array(1L, 2L, 3L), Array(2L, 3L, 4L)) == 0.5)
    assert(TextHashing.simHash64("x y z") == TextHashing.simHash64("x y z"))
    assert(TextHashing.ngrams("a b c d", 3).toSeq == Seq("a b c", "b c d"))
  }
}

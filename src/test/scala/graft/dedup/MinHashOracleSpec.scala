package graft.dedup

import graft.{SparkSpec, Tables}

/** Exact-content oracle for the q_dedup_minhash driver query (which has no
  * SQL oracle — DuckDB can't express the banding). The expected surviving
  * doc_id set is recomputed here with a NAIVE driver-side pipeline — an
  * all-pairs loop over the collected sf0.01 corpus using the TextHashing
  * primitives directly (no DataFrames, no banded join, no bucket-cap
  * machinery) — and the query, and each of minHashPairs' two paths, must
  * reproduce it row for row.
  * This upgrades q_dedup_minhash from a rows-only check to exact-content
  * checked, deterministic because every hash is seeded.
  */
class MinHashOracleSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  test("q_dedup_minhash survivors match a naive all-pairs recomputation at sf0.01") {
    val cfg = Dedup.MinHashConfig() // the driver query runs the defaults
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(docs.length == 500)

    // naive pipeline: per-doc shingles + band hashes, then an all-pairs
    // scan — a pair is a near-dup iff it shares at least one band AND its
    // exact shingle jaccard clears the threshold. (Bucket caps only guard
    // degenerate skew; with maxBucketSize=1000 and 500 docs no bucket can
    // exceed the cap, so the naive form is the exact semantics.)
    val shingles = docs.map { case (id, t) =>
      id -> TextHashing.shingleHashes(t, cfg.shingleSize)
    }.toMap
    val bands = docs.map { case (id, t) =>
      id -> TextHashing.bandHashes(
        TextHashing.minHashSignature(shingles(id), cfg.numPerms, cfg.seed),
        cfg.numBands, cfg.rowsPerBand)
    }.toMap

    val ids = docs.map(_._1).sorted
    val dropped = scala.collection.mutable.Set.empty[Long]
    for {
      i <- ids.indices
      j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if bands(a).zip(bands(b)).exists { case (x, y) => x == y }
      if TextHashing.jaccard(shingles(a), shingles(b)) >= cfg.threshold
    } dropped += math.max(a, b)
    val expected = ids.filterNot(dropped).toSeq

    val got = graft.SparkEntry.queries("q_dedup_minhash")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected,
      s"minhash survivors diverge: got ${got.length}, expected ${expected.length}")
    // both minHashPairs paths, forced by their row limit: the corpus size
    // fits it, one row less does not (the query takes the driver path)
    val corpus = Tables.load(spark, sfDir, "documents")
    for ((path, rowLimit) <- Seq("driver" -> docs.length, "distributed" -> (docs.length - 1))) {
      val pairs = Dedup.minHashPairs(corpus, "doc_id", "text", cfg, rowLimit, Long.MaxValue)
      assert(pairs.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] == (path == "driver"),
        s"row limit $rowLimit took the other path")
      val survivors = Dedup.dropNearDups(corpus, "doc_id", pairs).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(survivors == expected, s"$path path: ${survivors.length} survivors")
    }
    graft.GraftCaches.releaseAll(spark)
    // the driver-recorded row count stays pinned too (CORRECTNESS history)
    assert(expected.length == 476)
  }
}

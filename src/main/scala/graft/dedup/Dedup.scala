package graft.dedup

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Cast, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType,
  LongType, ShortType, StructField, StructType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using
import graft.GraftCaches.PersistOps
import graft.plans.NativeColumns._

/** Deduplication operators for LLM training-data pipelines (SURVEY §2.6).
  *
  * Design for 100 TB: every variant is a hash-partitioned shuffle on a
  * digest/bucket key — never an O(n²) comparison. Candidate generation is
  * LSH-style blocking (band buckets) followed by exact verification only
  * within buckets; oversized buckets (degenerate content, e.g. empty docs)
  * are capped to bound worst-case skew.
  */
object Dedup {

  /** Drop rows whose bucket (the `keys` combination) exceeds `cap` rows.
    * Implemented as a partial-agg count + broadcast anti-join of the
    * (tiny) oversized-key list — NOT a window count, which would sort
    * every exploded partition at 100 TB. Oversized buckets are degenerate
    * content; dropping them is both the skew guard and a quality filter.
    */
  private[graft] def dropOversizedBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val oversized = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bucket_n"))
      .where(col("__bucket_n") > cap)
      .select(keys.map(col): _*)
    // r22 note: an isEmpty probe that skips the anti-join when no bucket
    // exceeds the cap was A/B'd and REJECTED — the probe runs the count
    // aggregate as a serial job BEFORE the query, while the lazy form
    // folds it into the AQE DAG where it overlaps other stages (4-query
    // cohort: lazy 2.77 s, probe 3.20 s, hard-skip floor 2.38 s).
    df.join(broadcast(oversized), keys, "left_anti")
  }

  // ---------- exact ----------

  /** Exact dedup by content digest: md5 of (optionally normalized) text.
    * Returns one row per distinct digest: the keeper (min id) + dup count.
    * Map-side partial aggregation keeps the shuffle small; the digest is a
    * codegen'd builtin, so this whole op is one WholeStageCodegen + one
    * exchange on the digest.
    */
  def exact(df: DataFrame, idCol: String, textCol: String, normalize: Boolean = true): DataFrame = {
    val t = if (normalize) lower(trim(col(textCol))) else col(textCol)
    df.select(col(idCol), md5(t).as("digest"))
      .groupBy("digest")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  /** Keep-first filter form: drops all but the min-id row per digest.
    * Implemented as a min-aggregate + semi-join (not a window over the full
    * table, which would sort within every partition).
    */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String, normalize: Boolean = true): DataFrame = {
    val keepers = exact(df, idCol, textCol, normalize).select(col("keep_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  // ---------- minhash + LSH ----------

  final case class MinHashConfig(
      shingleSize: Int = 3,
      numPerms: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000,
      seed: Int = 42) {
    require(numPerms % numBands == 0, "numPerms must divide into numBands")
    def rowsPerBand: Int = numPerms / numBands
  }

  /** Near-duplicate pairs via MinHash + LSH banding.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold:
    * one row per pair of `df` rows whose ids differ, that share a band
    * bucket of at most `maxBucketSize` rows (every row with a text counts,
    * null ids included) and whose shingle sets score >= threshold. Two
    * paths, the same rows and schema:
    *  - **Driver** (the common case: a corpus of at most
    *    [[driverBandRowLimit]] rows with an integral `idCol`). Pull 1, a
    *    `limit(N + 1).collect()`, brings each row's band hashes and text
    *    size; buckets and candidate pairs are found on the driver. Pull 2,
    *    a `collect()` of the rows one `InSet` filter selects, brings the
    *    shingle hashes of the candidate docs only. Its rows are pull 1's
    *    rows of those ids, so its size is bounded before it runs. Each
    *    candidate is checked with `TextHashing.jaccard`, the kernel
    *    `jaccard_long` computes, and the pairs come back as a local
    *    relation.
    *  - **Distributed**: [[distributedMinHashPairs]], for a non-integral id
    *    or more than N rows. A corpus that passes pull 1 but not a later
    *    bound runs the same joins from its pulled band hashes, so no
    *    signature is computed twice. The later bounds: at most
    *    [[driverEdgeLimit]] candidate pairs (Σ C(m, 2) over the kept
    *    buckets, counted before they are listed), at most
    *    [[inSetDropLimit]] candidate docs, and at most [[driverByteLimit]]
    *    of shingle hashes by the candidates' text sizes.
    *
    * EAGER AT BUILD TIME (SURVEY §4 exception): for an integral id the call
    * runs Spark jobs, so this operator cannot compose onto an unstarted
    * streaming DataFrame and executes its upstream at call time.
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    minHashPairs(df, idCol, textCol, cfg, driverBandRowLimit(cfg), driverByteLimit)

  /** [[minHashPairs]] with explicit driver-path bounds: the rows of pull 1
    * (-1: the distributed plan, nothing pulled) and the bytes of pull 2.
    */
  private[dedup] def minHashPairs(df: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig, rowLimit: Int, byteLimit: Long): DataFrame = {
    val src = docText(df, idCol, textCol)
    val docField = src.schema("doc")
    if (rowLimit < 0 || !isIntegral(docField.dataType)) return distributedMinHashPairs(src, cfg)
    import src.sparkSession.implicits._
    // pull 1; past N rows it has read N + 1 and the distributed plan runs
    val rows = src.select(col("doc").cast(LongType).as("doc"),
        coalesce(octet_length(col("txt")), lit(0)).as("octets"), bandHashes(cfg).as("bands"))
      .limit(rowLimit + 1).as[BandRow].collect()
    if (rows.length > rowLimit) return distributedMinHashPairs(src, cfg)
    pairsOnDriver(src, rows, cfg, byteLimit).getOrElse {
      // the pulled band hashes stand in for the distributed signature pass
      val toId = fromLong(docField.dataType)
      val banded = src.sparkSession.createDataFrame(
          rows.toSeq.map(r => Row(r.doc.map(toId).orNull, r.bands)).asJava,
          StructType(Seq(docField, StructField("bands", ArrayType(LongType)))))
        .select(col("doc"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
      bandedPairs(banded, shingleTable(src, col("doc"), "txt", cfg.shingleSize).graftPersist, cfg)
    }
  }

  /** A row of pull 1: the id as a long, the text's size in bytes (0 for a
    * null text) and its band hashes (null for a null text).
    */
  private[dedup] final case class BandRow(doc: Option[Long], octets: Int, bands: Array[Long])

  /** Byte budget of each driver MinHash pull: 1/256 of the driver heap, as
    * [[driverEdgeLimit]] sizes edges.
    */
  private def driverByteLimit: Long = Runtime.getRuntime.maxMemory / 256

  /** Rows of pull 1: (numBands + 2) × 8 B of payload per [[BandRow]] within
    * [[driverByteLimit]], at most 2^20 rows.
    */
  private def driverBandRowLimit(cfg: MinHashConfig): Int =
    math.min(driverByteLimit / ((cfg.numBands + 2) * 8L), 1L << 20).toInt

  /** (id_a, id_b, jaccard) of `src` (doc, txt) found on the driver from its
    * pulled `rows`, or None past the candidate-pair, candidate-doc or byte
    * bound.
    */
  private def pairsOnDriver(src: DataFrame, rows: Array[BandRow], cfg: MinHashConfig,
      byteLimit: Long): Option[DataFrame] = {
    import src.sparkSession.implicits._
    for {
      (aIds, bIds) <- bandPairs(rows, cfg.numBands, cfg.maxBucketSize)
      docs = sortedDistinct(aIds ++ bIds)
      if docs.length <= inSetDropLimit
      // pull 2 brings these ids' rows back, each with at most one shingle
      // hash per byte of its text (a shingle needs a token)
      if rows.iterator.filter(_.doc.exists(java.util.Arrays.binarySearch(docs, _) >= 0))
        .map(r => 8L * (r.octets + 1)).sum <= byteLimit
    } yield {
      val doc = col("doc").cast(LongType)
      val isCandidate = ColumnBridge.column(InSet(ColumnBridge.expression(doc), docs.toSet[Any]))
      // every (doc, hashes) row of an id: a duplicated id is checked once per row
      val hashes = shingleTable(src.where(isCandidate), doc, "txt", cfg.shingleSize)
        .as[(Long, Array[Long])].collect()
        .filter(_._2 != null).groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSeq }
      val docField = src.schema("doc")
      val toId = fromLong(docField.dataType)
      val verified = for {
        (a, b) <- aIds.iterator.zip(bIds.iterator)
        ha <- hashes.getOrElse(a, Nil)
        hb <- hashes.getOrElse(b, Nil)
        jaccard = TextHashing.jaccard(ha, hb)
        if jaccard >= cfg.threshold
      } yield Row(toId(a), toId(b), jaccard)
      def id(name: String) = StructField(name, docField.dataType, docField.nullable)
      src.sparkSession.createDataFrame(verified.toSeq.asJava, StructType(Seq(id("id_a"), id("id_b"),
        StructField("jaccard", DoubleType, src.schema("txt").nullable))))
    }
  }

  /** An integral id type's value from its long. */
  private def fromLong(t: DataType): Long => Any = t match {
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case _ => identity
  }

  /** Distinct candidate pairs (id_a < id_b, ascending) of pulled rows
    * sharing a (band_idx, band_hash) bucket of at most `cap` rows, or None
    * when the kept buckets' Σ C(m, 2) exceeds [[driverEdgeLimit]]. A row
    * with null band hashes (null text) is in no bucket; a null-id row
    * counts toward its buckets' sizes but pairs with nothing, as on the
    * distributed path.
    */
  private def bandPairs(rows: Array[BandRow], numBands: Int,
      cap: Int): Option[(Array[Long], Array[Long])] = {
    val banded = rows.filter(_.bands != null)
    val ids = sortedDistinct(banded.flatMap(_.doc))
    // each row's id as an index into `ids` (-1 for null), so a pair packs into one long
    val idx = banded.map(_.doc.fold(-1)(java.util.Arrays.binarySearch(ids, _)))
    var bound = 0L
    // per band: each row's hash, and the hashes of the kept buckets (2 to `cap` rows), ascending
    val bands = Array.tabulate(numBands) { b =>
      val h = banded.map(_.bands(b))
      val sorted = h.clone()
      java.util.Arrays.sort(sorted)
      val kept = ArrayBuffer.empty[Long]
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        val m = (j - i).toLong
        if (m >= 2 && m <= cap) { kept += sorted(i); bound += m * (m - 1) / 2 }
        i = j
      }
      (h, kept.toArray)
    }
    if (bound > driverEdgeLimit) return None
    val packed = new Array[Long](bound.toInt)
    var n = 0
    for ((h, kept) <- bands) {
      val members = Array.fill(kept.length)(ArrayBuffer.empty[Int])
      h.indices.foreach { r =>
        val k = java.util.Arrays.binarySearch(kept, h(r))
        if (k >= 0 && idx(r) >= 0) members(k) += idx(r)
      }
      for (m <- members; x <- m.indices; y <- x + 1 until m.length if m(x) != m(y)) {
        packed(n) = (math.min(m(x), m(y)).toLong << 32) | math.max(m(x), m(y))
        n += 1
      }
    }
    val pairs = sortedDistinct(java.util.Arrays.copyOf(packed, n))
    Some((pairs.map(p => ids((p >>> 32).toInt)), pairs.map(p => ids(p.toInt))))
  }

  /** `a`'s distinct values, ascending. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    val s = a.clone()
    java.util.Arrays.sort(s)
    var n = 0
    s.indices.foreach { i =>
      if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** The unbounded MinHash plan over `docs` (doc, txt). Stages (each a
    * narrow map or one keyed shuffle — the scale path):
    *  1. signature: one codegen'd pass/doc -> 64 minhashes -> 16 band hashes;
    *  2. posexplode (doc, band_idx, band_hash) ONLY — document text never
    *     enters the band shuffle (at 100 TB, carrying text would push ~16×
    *     the corpus through one exchange);
    *  3. oversized buckets dropped (skew cap, degenerate-content guard);
    *  4. candidate id pairs join back to a once-computed (doc ->
    *     shingle-hash array) side table for exact Jaccard verification —
    *     shingles cross the wire once per doc, not once per candidate pair,
    *     and no re-shingling happens on the pair path.
    */
  private def distributedMinHashPairs(docs: DataFrame, cfg: MinHashConfig): DataFrame = {
    // src feeds BOTH derived caches (banded + shingles); persisting it
    // means the corpus parquet is scanned once per query, not once per
    // derived table. MEMORY_AND_DISK: text-sized, spills, LRU-evictable
    // (eviction degrades to a rescan, never an error).
    val src = docs.graftPersist
    // banded feeds the oversized-bucket subquery AND both sides of the
    // candidate self-join; Spark reuses no subplans across self-joins, so
    // without the persist the corpus is re-scanned and re-signatured 4x
    // (measured: 7 parquet scans per query). Same treatment as ngram.
    val banded = src.select(col("doc"), minHashBands(cfg)).graftPersist
    // one pass over the corpus -> (doc, distinct shingle hashes); candidate
    // pairs fetch both sides via two id-keyed joins (persisted: it feeds
    // both verification joins)
    bandedPairs(banded, shingleTable(src, col("doc"), "txt", cfg.shingleSize).graftPersist, cfg)
  }

  /** Stages 3-4 of [[distributedMinHashPairs]]: the verified pairs of
    * `banded` (doc, band_idx, band_hash) rows, checked against the (doc,
    * hashes) rows of `shingles`.
    */
  private def bandedPairs(banded: DataFrame, shingles: DataFrame, cfg: MinHashConfig): DataFrame = {
    val bucketed = dropOversizedBuckets(banded, Seq("band_idx", "band_hash"), cfg.maxBucketSize)
    val candidates = sharedKeyPairs(bucketed, bucketed, Seq("band_idx", "band_hash"))
    jaccardVerified(candidates, shingles, cfg.threshold)
  }

  /** Distinct (id_a, id_b), id_a < id_b, of an `a` and a `b` doc agreeing on every `keys` column. */
  private def sharedKeyPairs(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    def side(t: DataFrame, id: String): DataFrame = t.select(keys.map(col) :+ col("doc").as(id): _*)
    side(a, "id_a").join(side(b, "id_b"), keys)
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** (doc, txt, extra*): the projection every MinHash path starts from. */
  private def docText(df: DataFrame, idCol: String, textCol: String, extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as("doc"), col(textCol).as("txt")) ++ extra: _*)

  /** `txt`'s MinHash band hashes, one array per doc. */
  private def bandHashes(cfg: MinHashConfig): Column =
    minhashBands(col("txt"), cfg.shingleSize, cfg.numPerms, cfg.numBands, cfg.seed)

  /** (band_idx, band_hash) rows of `txt`'s MinHash bands; the signature
    * store is written with this same column, so store and recompute agree.
    */
  private def minHashBands(cfg: MinHashConfig): Column =
    posexplode(bandHashes(cfg)).as(Seq("band_idx", "band_hash"))

  /** (doc, hashes): each doc's distinct n-gram hashes of `textCol`. */
  private def shingleTable(df: DataFrame, doc: Column, textCol: String, n: Int): DataFrame =
    df.select(doc, shingleHashes(exactCol(textCol), n).as("hashes"))

  /** (id_a, id_b, jaccard) of the candidates whose (doc, hashes) arrays
    * h_a/h_b pass `sideFilter` and score >= `threshold`; `broadcastSide`
    * forces both id joins to broadcast.
    */
  private def jaccardVerified(candidates: DataFrame, hashes: DataFrame, threshold: Double,
      broadcastSide: Boolean = false, sideFilter: Option[Column] = None): DataFrame = {
    def side(id: String, h: String): DataFrame = {
      val s = hashes.select(col("doc").as(id), col("hashes").as(h))
      if (broadcastSide) broadcast(s) else s
    }
    val joined = candidates.join(side("id_a", "h_a"), Seq("id_a"))
      .join(side("id_b", "h_b"), Seq("id_b"))
    sideFilter.fold(joined)(joined.where)
      .withColumn("jaccard", jaccardLong(col("h_a"), col("h_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Verified pairs touching a delta doc of a (doc, is_delta, band_idx,
    * band_hash) table, capped on the whole (union) bucket.
    */
  private def deltaPairs(banded: DataFrame, hashes: DataFrame, cfg: MinHashConfig): DataFrame = {
    val capped = dropOversizedBuckets(banded, Seq("band_idx", "band_hash"), cfg.maxBucketSize)
    val probe = capped.where(col("is_delta"))
      .select(col("band_idx"), col("band_hash"), col("doc").as("d"))
    val build = capped.select(col("band_idx"), col("band_hash"), col("doc").as("o"))
    val candidates = probe.join(build, Seq("band_idx", "band_hash"))
      .where(col("d") =!= col("o"))
      .select(least(col("d"), col("o")).as("id_a"),
        greatest(col("d"), col("o")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    jaccardVerified(candidates, hashes, cfg.threshold)
  }

  /** INCREMENTAL near-dup pairing: the daily-ingest shape — pair a NEW
    * batch (`delta`) against the standing corpus AND itself, without ever
    * pairing corpus×corpus. The candidate join probes delta bands against
    * all bands, so the quadratic term scales with the delta's bucket
    * overlap, not the corpus size; at 100 TB the corpus side costs one
    * signature pass (and in production those signatures are precomputed
    * and stored — this recomputes them for self-containment).
    *
    * Equivalence contract: returns exactly the pairs a FULL
    * [[minHashPairs]] run over corpus ∪ delta would return, restricted to
    * pairs touching at least one delta doc — including identical
    * bucket-cap behavior (the cap is applied to the union's buckets).
    */
  def incrementalMinHashPairs(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val srcAll = docText(corpus, idCol, textCol, lit(false).as("is_delta"))
      .unionByName(docText(delta, idCol, textCol, lit(true).as("is_delta")))
      .graftPersist
    val banded = srcAll.select(col("doc"), col("is_delta"), minHashBands(cfg))
      .graftPersist
    deltaPairs(banded, shingleTable(srcAll, col("doc"), "txt", cfg.shingleSize).graftPersist, cfg)
  }

  /** SIGNATURE STORE for incremental dedup — the production shape
    * [[incrementalMinHashPairs]]'s docstring promises: compute the
    * corpus's band signatures and shingle-hash arrays ONCE and persist
    * them, so daily deltas never re-signature the standing corpus.
    *
    * Layout: `path/bands` = (doc, band_idx, band_hash), range-partitioned
    * and sorted on (band_idx, band_hash) so parquet min/max stats give
    * every band-bucket probe file-level locality (the same layout trick
    * as [[graft.operators.ScaleOps.zorderWrite]], exact here because the
    * sort key IS the probe key); `path/shingles` = (doc, hashes) for the
    * verify joins, keyed by doc; `path/_minhash_config` = the shingleSize,
    * numPerms, numBands and seed the signatures were computed with
    * (written last, so a store whose write failed has none). Pass
    * `SaveMode.Append` from a daily job to fold each verified delta into
    * the store; writing into an existing store in any mode but Overwrite
    * with a config other than the store's throws IllegalArgumentException.
    */
  def writeSignatures(corpus: DataFrame, idCol: String, textCol: String,
      path: String, cfg: MinHashConfig = MinHashConfig(),
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = corpus.sparkSession
    val (fs, conf) = configFile(spark, path)
    if (mode != SaveMode.Overwrite && fs.exists(new Path(path, "bands")))
      requireStoreConfig(spark, path, cfg)
    // a write that fails midway leaves no config, so the store is refused
    if (mode == SaveMode.Overwrite || mode == SaveMode.Append) fs.delete(conf, false)
    val src = docText(corpus, idCol, textCol)
      .graftPersist // one text scan feeds both derived tables
    src.select(col("doc"), minHashBands(cfg))
      .repartitionByRange(col("band_idx"), col("band_hash"))
      .sortWithinPartitions("band_idx", "band_hash")
      .write.mode(mode).parquet(s"$path/bands")
    shingleTable(src, col("doc"), "txt", cfg.shingleSize).write.mode(mode).parquet(s"$path/shingles")
    Using.resource(fs.create(conf, true))(_.write(storeConfig(cfg).getBytes("UTF-8")))
  }

  /** A store's `_minhash_config`: the fields its signatures depend on. */
  private def storeConfig(cfg: MinHashConfig): String =
    s"shingleSize=${cfg.shingleSize},numPerms=${cfg.numPerms},numBands=${cfg.numBands},seed=${cfg.seed}"

  private def configFile(spark: SparkSession, store: String): (FileSystem, Path) = {
    val p = new Path(store, "_minhash_config")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Refuses a store written with other signature fields than `cfg`'s:
    * its band hashes and shingle sets would not match the delta's.
    */
  private def requireStoreConfig(spark: SparkSession, store: String, cfg: MinHashConfig): Unit = {
    val (fs, conf) = configFile(spark, store)
    val stored = if (!fs.exists(conf)) "no _minhash_config"
      else Using.resource(fs.open(conf))(in => new String(in.readAllBytes(), "UTF-8"))
    require(stored == storeConfig(cfg), s"signature store $store has [$stored], " +
      s"not MinHash config [${storeConfig(cfg)}]; rewrite it with writeSignatures")
  }

  /** Incremental near-dup pairing against a persisted signature store:
    * same result contract as [[incrementalMinHashPairs]] (pairs a full
    * run over corpus ∪ delta would emit restricted to delta-touching,
    * identical union-bucket cap behavior — the stored signatures are the
    * same deterministic expressions a recompute would produce), but the
    * corpus cost drops from a full text re-signature to a scan of the
    * narrow (doc, band_idx, band_hash) table; only the DELTA is
    * signatured. The corpus text is never read at all. The store must
    * have been written with `cfg`'s shingleSize, numPerms, numBands and
    * seed (its `_minhash_config`), else IllegalArgumentException.
    *
    * Envelope: the touched-bucket-keys semi-join is a BroadcastHashJoin
    * only while the delta's distinct (band_idx, band_hash) set fits
    * `broadcastTouchedBytes` (default 512 MiB ≈ 2M keys at the
    * conservative 256 B/row build-side estimate — a ~130k-doc delta at 16
    * bands); a larger daily delta degrades to a
    * shuffle left_semi on the same keys instead of OOMing the driver
    * (the [[ngramJaccardPairs]] `broadcastVerifyBytes` pattern; result
    * identical either way — the store's range-partitioned layout still
    * prunes row groups, the join just exchanges instead of broadcasting).
    */
  def incrementalFromStore(delta: DataFrame, storePath: String,
      idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig(),
      broadcastTouchedBytes: Long = 512L << 20): DataFrame = {
    val spark = delta.sparkSession
    requireStoreConfig(spark, storePath, cfg)
    val dsrc = docText(delta, idCol, textCol).graftPersist
    val deltaBands = dsrc.select(col("doc"), lit(true).as("is_delta"), minHashBands(cfg))
      .graftPersist // delta-sized; feeds touched-keys, cap count + probe
    // candidate pairs only arise in buckets the DELTA touches, and the
    // bucket cap is irrelevant for buckets without a delta row — so the
    // store scan is semi-joined down to delta-touched bucket keys before
    // anything else. The broadcast is delta-sized, and because the store
    // is range-partitioned + sorted on exactly (band_idx, band_hash),
    // parquet min/max stats prune untouched row groups: the corpus band
    // table is READ in proportion to the delta, not the corpus.
    val touched = deltaBands.select("band_idx", "band_hash").distinct().graftPersist
    // 256 B/key: the raw (int, long) UnsafeRow is ~32 B, but a broadcast
    // build side ALSO pays the driver-side collect copy, the serialized
    // broadcast blob, and the HashedRelation map (key array + page table)
    // simultaneously — several multiples of the row bytes. The estimate is
    // deliberately conservative because the failure mode it gates is a
    // driver OOM and the fallback (shuffle left_semi) is result-identical
    // (ADVICE r11 — 48 B/key undercounted the hashed-relation overhead).
    // Counting the persisted delta-derived table is delta-cost, never
    // corpus-cost.
    val touchedBytes = touched.count() * 256L
    val touchedKeyed =
      if (touchedBytes <= broadcastTouchedBytes) broadcast(touched) else touched
    val banded = spark.read.parquet(s"$storePath/bands")
      .select(col("doc"), lit(false).as("is_delta"), col("band_idx"), col("band_hash"))
      .unionByName(deltaBands)
      .join(touchedKeyed, Seq("band_idx", "band_hash"), "left_semi")
    // cap counts over the union's (touched) buckets — identical behavior
    // to the recompute path for every bucket that can produce a pair
    deltaPairs(banded, spark.read.parquet(s"$storePath/shingles")
      .unionByName(shingleTable(dsrc, col("doc"), "txt", cfg.shingleSize)), cfg)
  }

  /** Greedy keep-first dedup from near-dup pairs: drop every doc that
    * appears as the larger id of a confirmed pair.
    */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over a near-dup pair graph: (node, label) with
    * label = min node id in the component, one row per node of an edge
    * (self-loops included); both columns non-null bigint. Pairwise output
    * alone over-deletes under greedy rules (a~b, b~c but a!~c still forms
    * one duplicate GROUP that must keep exactly one survivor) — production
    * dedup resolves pairs into components first.
    *
    * Two paths, the same rows and schema:
    *  - **Driver** (the common case: a few duplicates among many docs).
    *    One bounded eager action, `limit(N + 1).collect()` of the edges
    *    (SURVEY §4), with N = [[driverEdgeLimit]]. At most N edges are
    *    resolved by union-find on the driver and returned as a local
    *    relation: no per-round jobs, and consumers see a relation whose
    *    size Catalyst knows.
    *  - **Distributed** (more than N edges): min-label propagation on pair
    *    RDDs, see [[distributedComponents]]; the bounded pull is then a
    *    wasted partial scan of `pairs`, small next to the loop.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 20): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, driverEdgeLimit)

  /** [[connectedComponents]] with an explicit driver-path edge limit. */
  private[dedup] def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int, edgeLimit: Int): DataFrame =
    componentsOnDriver(pairs, aCol, bCol, edgeLimit) match {
      case Some((nodes, labels)) =>
        import pairs.sparkSession.implicits._
        nodes.zip(labels).toSeq.toDF("node", "label")
      case None => distributedComponents(pairs, aCol, bCol, maxIter)
    }

  /** Edge budget of the driver components path: 16 B per (long, long)
    * edge within 1/256 of the driver heap, at most 2^20 edges (16 MB).
    * The pulled rows cost about ten times the payload until union-find
    * has read them, so the pull peaks near 4% of the heap.
    */
  private[dedup] def driverEdgeLimit: Int =
    math.min(Runtime.getRuntime.maxMemory / 256 / 16, 1L << 20).toInt

  /** (node ids ascending, label of each) when `pairs` has at most
    * `edgeLimit` edges, None otherwise. Union-find with path compression;
    * a union always hangs the larger root under the smaller, and node
    * indices follow id order, so every root is its component's min id.
    * Iterative throughout: a million-node chain cannot overflow the stack.
    * Pairs built on the driver (a local relation, as [[minHashPairs]]'
    * driver path returns) are cast in-process, with no Dataset action.
    */
  private def componentsOnDriver(pairs: DataFrame, aCol: String, bCol: String,
      edgeLimit: Int): Option[(Array[Long], Array[Long])] = {
    val cast = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
    val edges = (pairs.queryExecution.analyzed, cast.queryExecution.analyzed) match {
      case (_: LocalRelation, Project(casts, local: LocalRelation)) =>
        if (local.data.length > edgeLimit) return None
        val bound = BindReferences.bindReferences(casts, AttributeSeq(local.output))
        local.data.map(r => Row(bound.map(_.eval(r)): _*)).toArray
      case _ => cast.limit(edgeLimit + 1).collect()
    }
    if (edges.length > edgeLimit) return None
    val ends = new Array[Long](2 * edges.length)
    edges.indices.foreach { i =>
      ends(2 * i) = edges(i).getLong(0)
      ends(2 * i + 1) = edges(i).getLong(1)
    }
    val nodes = sortedDistinct(ends)
    val n = nodes.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(nodes, id)
    edges.indices.foreach { i =>
      val ra = find(index(ends(2 * i)))
      val rb = find(index(ends(2 * i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Some((nodes, Array.tabulate(n)(i => nodes(find(i)))))
  }

  /** Distributed min-label propagation: per iteration one edge⋈label join
    * + one min-aggregate (labels only ever decrease; convergence when no
    * label changed). Near-dup components are star-like (tiny diameter),
    * so 3-5 iterations typically converge. A long chain whose ids are not
    * monotone along it can need more than `maxIter` rounds (a 1,200-node
    * chain with ids 7919·i mod 1200 still has 4 labels after 160); the
    * loop then throws `IllegalStateException` rather than return labels
    * that split a component. Shuffles carry only (long, long) rows — no
    * text, no arrays.
    */
  private def distributedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): DataFrame = {
    // The LOOP runs on pair RDDs, not DataFrames — the one place in this
    // engine where RDDs win. Every iteration of the DataFrame formulation
    // paid Catalyst analysis + optimization + AQE stage re-planning on a
    // freshly built (identical-shaped) plan: ~0.25 s/round of pure
    // driver-side latency at any data size, × O(log diameter) rounds
    // (measured r9; neither lazy checkpoints, AQE toggles, partition
    // sizing, nor extra jump terms moved it). Spark's own iterative-graph
    // library (GraphX) is RDD-based for exactly this reason. The loop
    // carries only (long, long) pairs: co-partitioned edge⋈label joins
    // are narrow (zero per-round edge shuffle), reduceByKey map-side
    // combines, and per-round localCheckpoint truncates lineage. For
    // multi-node deployments, registering Kryo shrinks the tuple shuffle;
    // the volume is 16 bytes/record of payload either way.
    val spark = pairs.sparkSession
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    val edgeRdd = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    // Symmetrize, then co-partition on the message key once: ~2M edges per
    // partition ((long,long) rows) stays far under executor memory while
    // scaling out with the graph (1B edges -> 500 partitions).
    val symRaw = edgeRdd.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = symRaw.count()
    val part = new HashPartitioner(
      math.max(1L, math.min(edgeCount / 2000000L + 1, 20000L)).toInt)
    val sym = symRaw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // Convergence probe: labels only ever DECREASE, so the total label sum
    // is strictly decreasing until the fixed point — an unchanged sum is
    // exactly "no label changed". BigInt per-partition sums keep it exact
    // at any node count (a raw long sum could overflow at billions of
    // 2^40-scale ids). The probe action doubles as the materializer of
    // each round's lazily-localCheckpoint'd labels: ONE job per round.
    def labelSum(r: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      r.mapPartitions { it =>
        var s = BigInt(0); it.foreach(s += _._2); Iterator.single(s)
      }.fold(BigInt(0))(_ + _)
    // seed with the one-hop minimum (saves a full propagation round);
    // mapPartitions(preservesPartitioning) keeps hash(node) co-location
    var labels = sym.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (n, m) => (n, math.min(n, m)) },
        preservesPartitioning = true)
    labels.localCheckpoint()
    var prevSum = labelSum(labels)
    symRaw.unpersist(blocking = false)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min over (self, neighbors' labels, label-of-label): the neighbor
      // term walks the graph, the pointer-jump term shortcuts it — on a
      // chain whose ids rise along it, O(log diameter) rounds instead of
      // O(diameter); other id orders gain less
      val nbr = sym.join(labels, part) // narrow: both sides hash(key)-partitioned
        .map { case (_, (u, l)) => (u, l) }
      val jump = labels.map { case (n, l) => (l, n) }
        .join(labels, part) // labels side narrow; re-keyed side shuffles
        .map { case (_, (n, ll)) => (n, ll) }
      val next = (labels ++ nbr ++ jump).reduceByKey(part, math.min(_, _))
      next.localCheckpoint() // lazy; materialized by the probe below
      val nextSum = labelSum(next)
      labels.unpersist(blocking = false)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    sym.unpersist(blocking = false)
    if (!converged) {
      labels.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds: labels still changing")
    }
    import spark.implicits._
    labels.toDF("node", "label")
  }

  /** Cluster-resolved dedup: keep exactly one document (the min id) per
    * connected duplicate component; singletons and null ids pass through
    * untouched. Output is a left-anti join's: `df`'s rows, `idCol` first.
    *
    * When the graph was resolved on the driver ([[connectedComponents]])
    * and its losers are at most [[inSetDropLimit]] ids of an integral
    * `idCol`, they go as a null-safe `NOT IN` filter (one `InSet` over the
    * id set): no exchange on `df` and no job before the sink's. Otherwise
    * `df` is left-anti joined to the losers, a local relation Catalyst can
    * size (and broadcast) when the graph was resolved on the driver.
    */
  def dropByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    dropByComponents(df, idCol, pairs, aCol, bCol, driverEdgeLimit)

  /** [[dropByComponents]] with an explicit driver-path edge limit. */
  private[dedup] def dropByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, edgeLimit: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val resolver = spark.sessionState.conf.resolver
    val (key, rest) = df.schema.fields.partition(f => resolver(f.name, idCol))
    val integralKey = key.length == 1 && isIntegral(key.head.dataType)
    val losers = componentsOnDriver(pairs, aCol, bCol, edgeLimit).map { case (nodes, labels) =>
      nodes.indices.collect { case i if labels(i) != nodes(i) => nodes(i) }
    }
    losers match {
      case Some(ids) if integralKey && ids.length <= inSetDropLimit =>
        val id = exactCol(idCol)
        val isLoser = ColumnBridge.column(
          InSet(Cast(ColumnBridge.expression(id), LongType), ids.toSet[Any]))
        // the column order the USING left-anti join gives: the key first
        df.where(id.isNull || !isLoser).select((key ++ rest).map(f => exactCol(f.name)): _*)
      case _ =>
        val doomed = losers.fold(
          distributedComponents(pairs, aCol, bCol, maxIter = 20)
            .where(col("node") =!= col("label"))
            .select(col("node").cast("long").as(idCol)))(_.toDF(idCol))
        df.join(doomed, Seq(idCol), "left_anti")
    }
  }

  /** Most loser ids [[dropByComponents]] folds into its filter. The set is
    * part of the plan: 4k ids plan in tens of ms, while 100k took ~0.6 s
    * to plan and each action then printed a 0.8 MB plan string.
    */
  private val inSetDropLimit = 4096

  /** Ids the driver paths hold as longs: the integral types. */
  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  // ---------- simhash ----------

  /** Near-duplicate pairs via 64-bit SimHash with pigeonhole band
    * blocking ([[hammingBandPairs]]): at the default `maxHamming = 3` the
    * signature splits into four 16-bit bands, and blocking on band values
    * finds all pairs within `maxHamming` differing bits with one keyed
    * shuffle. Verification is Spark's native bit_count(a ^ b) — codegen'd,
    * no UDF on the hot pair path.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    hammingBandPairs(df.select(col(idCol).as("doc"),
      simhash64(exactCol(textCol)).as("sig")), maxHamming, maxBucketSize)
  }

  /** Image near-dup pairs via perceptual hashing: each image folds to a
    * 64-bit dHash ([[graft.multimodal.BinaryOps.dHash64]]) at decode time
    * — 8 bytes per image enter the plan, never pixels — then the same
    * band blocking as [[simHashPairs]] finds candidates, a bucket cap
    * bounds degenerate content (e.g. solid-color images), and the exact
    * popcount verifies. Returns (id_a, id_b, hamming).
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 6, maxBucketSize: Int = 1000): DataFrame = {
    val sigs = graft.multimodal.BinaryOps
      .imageDHash(df.select(col(idCol).as("doc"), col(binCol)), binCol, "sig")
      .where(col("sig").isNotNull)
      .select(col("doc"), col("sig"))
    hammingBandPairs(sigs, maxHamming, maxBucketSize)
  }

  /** One row `b` = (band_idx, band_val) per bit range [offsets(i), offsets(i + 1))
    * of `sig`; `mask(width)` keeps a band's low bits, and its literal type is band_val's.
    */
  private[graft] def bitBands(sig: Column, offsets: Seq[Int], mask: Int => Column): Column =
    explode(array(offsets.indices.init.map(i =>
      struct(lit(i).as("band_idx"),
        shiftrightunsigned(sig, offsets(i))
          .bitwiseAND(mask(offsets(i + 1) - offsets(i))).as("band_val"))): _*)).as("b")

  /** Pairs of (doc, sig) rows whose 64-bit signatures differ in at most
    * `maxHamming` bits: `maxHamming + 1` contiguous bit-ranges of the
    * signature (pigeonhole — two signatures within `maxHamming` bits MUST
    * agree on at least one whole band), band buckets above
    * `maxBucketSize` dropped, then the exact popcount verifies. Returns
    * (id_a, id_b, hamming) with id_a < id_b.
    */
  private def hammingBandPairs(sigs: DataFrame, maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming out of range: $maxHamming")
    val nBands = maxHamming + 1
    val offsets = (0 to nBands).map(i => i * 64 / nBands)
    // persisted for the same reason as minHashPairs: the bucket-cap
    // subquery + both self-join sides would otherwise re-scan the corpus.
    // The mask is -1L >>> (64 - width): a 64-bit band (maxHamming = 0)
    // keeps every bit, where (1L << 64) - 1 would be 0 on the JVM.
    val banded = sigs
      .select(col("doc"), col("sig"), bitBands(col("sig"), offsets, w => lit(-1L >>> (64 - w))))
      .select(col("doc"), col("sig"), col("b.band_idx"), col("b.band_val"))
      .graftPersist
    val capped = dropOversizedBuckets(banded, Seq("band_idx", "band_val"), maxBucketSize)

    val a = capped.select(col("band_idx"), col("band_val"), col("doc").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band_idx"), col("band_val"), col("doc").as("id_b"), col("sig").as("sig_b"))
    // hamming-verify BEFORE the pair dedup: the filter is codegen'd
    // arithmetic fused into the join's output stage, so the
    // dropDuplicates exchange carries only TRUE pairs (hamming is a pure
    // function of the sigs — identical for every band that rediscovers a
    // pair). At high maxHamming the bands are narrow and candidates
    // outnumber true pairs by orders of magnitude (r8: this exchange was
    // the q_image_neardup bench floor).
    a.join(b, Seq("band_idx", "band_val"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
  }

  // ---------- n-gram jaccard (inverted index join) ----------

  /** Pairwise n-gram Jaccard via a PREFIX-FILTERED inverted-index join
    * (PPJoin-style). Each doc's distinct n-grams are hashed to longs by
    * the codegen'd `shingle_hashes` expression; candidate pairs come from
    * a self-join over each doc's ceil((1-t)*|d|)+1 RAREST indexable grams
    * (global (docFreq, gram) order), then exact Jaccard is verified by
    * joining candidate id pairs back to the one-pass (doc -> shingle-hash
    * array) side table — the same shape as minhash verification, so no
    * gram strings or texts ever cross an exchange.
    *
    * Candidate generation is the quadratic hazard: pairs per gram grow as
    * docFreq^2, so only grams with docFreq <= `indexDocFreq` are indexed.
    * A true pair is missed only if every gram the two docs share appears
    * in more than indexDocFreq documents — tune the cap up for recall,
    * down for speed. `maxDocFreq` bounds CANDIDATE GENERATION only (grams
    * above it are never indexed); verification computes exact Jaccard
    * over the FULL shingle sets, so a reported pair's score always equals
    * the true n-gram Jaccard of the two documents.
    *
    * Verification is the byte-volume hazard: a dense corpus yields far
    * more candidates than true pairs (measured on a 10x sf0.1 corpus
    * replication, 50k docs, every gram df >= 10: 17.3M candidates ->
    * 250,600 true pairs), and pair-keyed SortMergeJoins against the
    * multi-KB shingle arrays exchange AND sort candidates x array-bytes
    * (~50 GB at that point; measured 266 s of a ~300 s run — the round-5
    * regression). The verify therefore semi-joins the array table down to
    * candidate-touched docs and, when that subset fits
    * `broadcastVerifyBytes` (default 1 GiB), runs two
    * BroadcastHashJoins with `jaccard_long` + the PPJoin length filter
    * fused into one codegen stage over streaming candidate rows —
    * measured: the same 10x point in 24 s, identical pairs. Larger
    * verify sets degrade to the shuffle shape with the narrow (doc,
    * size) length pre-filter.
    *
    * Below `prefixMinDocs` documents the prefix machinery is skipped for a
    * count-aggregate join: the full df-capped index self-joins and one
    * (id_a, id_b) count aggregation yields the EXACT intersection size for
    * pairs of fully-indexed docs, so jaccard needs no per-pair array
    * verification at all (the per-doc rarity sort only pays for itself
    * once bucket sizes — not fixed per-query overhead — dominate;
    * measured: count-aggregate wins up to ~10k docs, prefix is 4x faster
    * at 50k).
    *
    * EAGER AT BUILD TIME (documented SURVEY §4 exception): on the
    * large-corpus path a one-row aggregate over the candidate-touched
    * docs (bounded by 2x candidate count) is read on the driver to pick
    * broadcast vs shuffle verification — so this operator cannot compose
    * onto an unstarted streaming DataFrame and executes its upstream at
    * call time. See SURVEY §4's exception list and HygieneSpec's
    * eager-site allowlist.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDocFreq: Int = 1000,
      indexDocFreq: Int = 100, prefixMinDocs: Int = 10000,
      broadcastVerifyBytes: Long = 1L << 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shingle table feeds candidate generation AND both verification
    // joins; without persisting it, Spark re-scans and re-shingles the
    // corpus per branch (measured: 14 parquet scans of the same input,
    // no exchange reuse). MEMORY_AND_DISK spills rather than OOMs at
    // scale; Spark's LRU owns eviction.
    val src = shingleTable(df, col(idCol).as("doc"), textCol, n).graftPersist
    val grams = src.select(col("doc"), explode(col("hashes")).as("gram"))

    // per-gram doc frequency (partial-agg shuffle on the 8-byte hash);
    // the filtered table is small, AQE turns the back-join into a
    // broadcast when it fits — not forced, since at extreme corpus sizes
    // even the filtered gram table may exceed driver memory
    val dfCap = least(lit(indexDocFreq), lit(maxDocFreq))
    val gramDfs = grams.select("gram").groupBy("gram").agg(count(lit(1)).as("__df"))
    val indexable = gramDfs.where(col("__df") <= dfCap)

    // the probe doubles as the one materialization pass of the persisted
    // shingle table (both paths consume all of src immediately after)
    val nDocs = src.count()

    if (nDocs <= prefixMinDocs) {
      // ---- small-corpus path: count-aggregate join ----
      // For a pair whose docs are BOTH fully indexed (every gram df <= cap),
      // the per-pair match count from the gram self-join IS the exact
      // intersection size, so jaccard = common / (|a| + |b| - common) falls
      // out of one narrow (id_a, id_b) aggregation — no per-pair array
      // join, no UDF. Only pairs touching a partially-indexed doc (one
      // with a stop-gram) fall back to full-array verification. Measured
      // at sf0.1 this replaced a 1.1M-candidate dropDuplicates + two
      // array joins (the r2 regression) with one count shuffle.
      // Broadcasts below are doc-count-bounded (corpus <= prefixMinDocs),
      // hence safe by construction on this branch.
      // Stop-gram probe (r22, guide §2.4 "remove shuffles outright"): when
      // NO gram exceeds the df cap — the common case for small corpora,
      // where the cap exists to bound pathological inputs, not to fire —
      // `indexable` is ALL grams, every doc is fully indexed, and the
      // fallback branch below is provably empty. One tiny aggregate probe
      // then replaces: the indexable back-join + its persisted cache, the
      // per-doc __n_idx join, the fullyIndexed split, the two fallback
      // broadcasts and the union (measured: 10 fewer jobs/rep, q_dedup_ngram
      // 1.83 -> see OPTIMIZATION_r22.md). Data-derived plan choice computed
      // in-query from this run's input, like the nDocs branch above.
      val hasStopGrams = !gramDfs.where(col("__df") > dfCap).isEmpty
      val narrow =
        if (!hasStopGrams) grams
        else grams.join(broadcast(indexable), Seq("gram"))
          .select(col("doc"), col("gram"))
          .graftPersist
      val a = narrow.select(col("gram"), col("doc").as("id_a")).hint("shuffle_hash")
      val b = narrow.select(col("gram"), col("doc").as("id_b"))
      val counted = a.join(b, Seq("gram"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("__common"))
      // with stop-grams, feeds the exact branch and the (near-empty) fallback
      val common = if (hasStopGrams) counted.graftPersist else counted
      val sizes = src.select(col("doc"), size(col("hashes")).cast("long").as("__n_tot"))
      val stats = broadcast(
        if (!hasStopGrams) sizes
        else sizes.join(narrow.groupBy("doc").agg(count(lit(1)).as("__n_idx")), Seq("doc"), "left")
          .na.fill(0L, Seq("__n_idx")))
      def side(id: String, n: String, i: String): DataFrame =
        stats.select(Seq(col("doc").as(id), col("__n_tot").as(n)) ++
          (if (hasStopGrams) Seq(col("__n_idx").as(i)) else Nil): _*)
      val withStats = common
        .join(side("id_a", "__na", "__ia"), Seq("id_a"))
        .join(side("id_b", "__nb", "__ib"), Seq("id_b"))
      def countJaccard(pairs: DataFrame): DataFrame = pairs
        .withColumn("jaccard",
          col("__common") / (col("__na") + col("__nb") - col("__common")))
        .where(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
      if (!hasStopGrams) countJaccard(withStats)
      else {
        val fullyIndexed = col("__ia") === col("__na") && col("__ib") === col("__nb")
        countJaccard(withStats.where(fullyIndexed)).unionAll(jaccardVerified(
          withStats.where(!fullyIndexed).select("id_a", "id_b"), src, threshold,
          broadcastSide = true))
      }
    } else {
      // ---- large-corpus path: PPJoin prefix filter ----
      // rank each doc's indexable grams rarest-first ((df, gram) is a
      // total order) and keep ceil((1-t)*|d|)+1 — rare grams make small
      // join buckets, which is what bounds candidates. One
      // (doc)-partitioned sort — per-doc, never global. The count trick
      // above doesn't apply (prefix match counts undercount the true
      // intersection), so candidates verify against the full shingle sets.
      // The indexable back-join is NOT force-broadcast here: at extreme
      // corpus sizes even the df-capped gram table may exceed driver
      // memory; AQE broadcasts it when it fits.
      val kept = grams.join(indexable, Seq("gram"))
      // prefix length is relative to the doc's INDEXED gram count — the
      // similarity the index can see is over indexed grams, and the dense
      // stop-gram-heavy corpora this path serves make the full-size prefix
      // ~40% longer for no recall gain (measured: 35 s -> 55 s at 10x).
      // The per-doc count is a cheap partial aggregate whose result is
      // one row per doc — AQE broadcasts the back-join, so no window
      // count pass and no extra exchange (the r2 regression).
      val nIdx = kept.groupBy("doc").agg(count(lit(1)).as("__n_idx"))
      val index = kept.join(nIdx, Seq("doc"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("doc").orderBy(col("__df"), col("gram"))))
        .where(col("__rn") <= ceil((lit(1.0) - lit(threshold)) * col("__n_idx")) + lit(1))
        .select(col("doc"), col("gram"))
        // both sides of the self-join read this; persist to compute once
        .graftPersist

      // candidates feed the verify plan twice (the docs-touched semi-join
      // probe below + the verify join itself); persisted, they are a
      // narrow (long, long) table
      val candidates = sharedKeyPairs(index, index, Seq("gram")).graftPersist

      // Verification strategy. A dense corpus can yield 50-100x more
      // candidates than true pairs (measured at 10x sf0.1: 17.3M
      // candidates -> 250,600 pairs), so joining the multi-KB shingle
      // arrays through pair-keyed shuffles is the scale killer: each
      // SortMergeJoin exchanges AND sorts (pairs x array-bytes) — ~50 GB
      // at 10x, measured 266 of the path's ~300 s. Instead: reduce the
      // array table to the candidate-TOUCHED docs (semi-join — bounded by
      // 2x candidate count regardless of corpus size), and if that subset
      // fits a broadcast, verify with two BroadcastHashJoins — arrays
      // cross the wire once per executor, jaccard_long + the PPJoin
      // length filter run inside one codegen stage over the streaming
      // candidate rows (measured: the 10x point drops ~255 s -> ~35 s).
      // Oversized verify sets degrade to the shuffle shape with the
      // length pre-filter on narrow (doc, size) tables.
      val docsTouched = candidates
        .select(explode(array(col("id_a"), col("id_b"))).as("doc")).distinct()
      val varr = src.join(docsTouched, Seq("doc"), "left_semi").graftPersist
      val vstats = varr.agg(count(lit(1)), coalesce(sum(size(col("hashes"))), lit(0L))).head()
      val vbytes = vstats.getLong(1) * 8L + vstats.getLong(0) * 32L
      val sizeOk = least(size(col("h_a")), size(col("h_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("h_a")), size(col("h_b"))).cast("double")
      if (vbytes <= broadcastVerifyBytes) {
        // cheap length cut before the merge-scan jaccard
        jaccardVerified(candidates, varr, threshold, broadcastSide = true, Some(sizeOk))
      } else {
        // PPJoin length filter on narrow (doc, size) tables BEFORE the
        // array joins: jaccard(a,b) <= min|a|,|b| / max|a|,|b|
        val sizes = varr.select(col("doc"), size(col("hashes")).cast("long").as("__sz"))
        jaccardVerified(candidates
          .join(sizes.select(col("doc").as("id_a"), col("__sz").as("__sa")), Seq("id_a"))
          .join(sizes.select(col("doc").as("id_b"), col("__sz").as("__sb")), Seq("id_b"))
          .where(least(col("__sa"), col("__sb")) >=
            lit(threshold) * greatest(col("__sa"), col("__sb")))
          .select("id_a", "id_b"), varr, threshold)
      }
    }
  }

  // ---------- C4 three-sentence-span dedup ----------

  /** Corpus-level exact dedup of three-sentence spans — the C4 recipe's
    * final step (Raffel et al. 2020 §2.2: "we discarded all but one of
    * any three-sentence span occurring more than once in the data set"),
    * complementing [[graft.text.TextAnalysis.c4Flags]]'s page rules.
    *
    * Distributed shape (narrow-key shuffles only — document text never
    * enters an exchange):
    *  1. one projection/doc: sentence split + sliding `spanSentences`
    *     windows hashed to 64-bit (`xxhash64`) — codegen'd;
    *  2. winner per span hash = global min (doc, span_idx) via one
    *     partial-agg shuffle on the 8-byte hash;
    *  3. duplicate span occurrences expand to a per-doc removed-sentence-
    *     index ARRAY (ids + small ints only — rows exist only for docs
    *     that actually contain a duplicated span);
    *  4. that small table broadcasts back onto the persisted sentence
    *     arrays, and each doc rebuilds IN PLACE with codegen'd
    *     `filter`/`array_join` — no explode/regroup, the text column
    *     stays in its scan partitions.
    *
    * The broadcast payload is bounded by (#docs with a duplicated span) ×
    * (avg removed indexes) ints — orders of magnitude narrower than the
    * corpus; if a pathological corpus ever outgrew the driver, the same
    * join degrades to a shuffle join by dropping the hint, trading one
    * 1× text exchange for it.
    *
    * Returns (doc, n_sentences, n_removed, clean_text). Docs with fewer
    * than `spanSentences` sentences pass through unchanged.
    */
  def c4SpanDedup(df: DataFrame, idCol: String, textCol: String,
      spanSentences: Int = 3): DataFrame = {
    // sentence boundary: whitespace following terminal punctuation
    // (Java-regex lookbehind — Spark's split keeps the punctuation)
    val sentences = df.select(col(idCol).as("doc"),
      split(col(textCol), "(?<=[.!?])\\s+").as("sents"))
      .graftPersist

    val nSpans = greatest(size(col("sents")) - (spanSentences - 1), lit(0))
    val spans = sentences
      .where(size(col("sents")) >= spanSentences)
      .select(col("doc"), posexplode(transform(
        sequence(lit(0), nSpans - 1),
        i => xxhash64(concat_ws("", (0 until spanSentences).map(k =>
          element_at(col("sents"), (i + k + 1).cast("int"))): _*))))
        .as(Seq("span_idx", "span_hash")))

    // winner per hash: global first occurrence (min doc, then min idx)
    val winners = spans.groupBy("span_hash")
      .agg(min(struct(col("doc"), col("span_idx"))).as("keep"),
        count(lit(1)).as("__n"))
      .where(col("__n") > 1)
    val dupSpans = spans.join(winners, Seq("span_hash"))
      .where(!(col("doc") === col("keep.doc") && col("span_idx") === col("keep.span_idx")))
      .select(col("doc"), col("span_idx"))

    // per-doc removed sentence indexes, deduped inside the aggregate —
    // one narrow shuffle of (doc, int) rows, arrays of ints out
    val removedIdx = dupSpans
      .select(col("doc"), explode(sequence(col("span_idx"),
        col("span_idx") + (spanSentences - 1))).as("sent_idx"))
      .groupBy("doc")
      .agg(array_sort(array_distinct(collect_list(col("sent_idx")))).as("removed_idx"))

    // rebuild in place: broadcast the small removed-index table onto the
    // persisted sentence arrays and filter with codegen'd HOFs — the
    // sentence text never leaves its partitions
    sentences.join(broadcast(removedIdx), Seq("doc"), "left")
      .select(col("doc"), size(col("sents")).cast("int").as("n_sentences"),
        coalesce(
          when(col("removed_idx").isNotNull,
            filter(col("sents"), (_, i) => !array_contains(col("removed_idx"), i)))
            .otherwise(col("sents")),
          array().cast("array<string>")).as("kept"),
        coalesce(size(col("removed_idx")), lit(0)).cast("int").as("n_removed"))
      .select(col("doc"), col("n_sentences"),
        size(col("kept")).cast("int").as("n_kept_sentences"),
        col("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  // ---------- substring (suffix-array-style) dedup ----------

  /** Corpus-level removal of long duplicated token substrings — the
    * suffix-array dedup of Lee et al. 2021 ("Deduplicating Training Data
    * Makes Language Models Better": drop substrings of >= minLen tokens
    * that occur more than once), re-expressed distribution-first. A
    * monolithic suffix array over 100 TB is not partitionable; instead
    * candidates come from winnowing fingerprints (Schleimer et al. 2003),
    * whose guarantee replaces the suffix array's completeness: any
    * duplicated run of >= w + k - 1 = minLen tokens shares at least one
    * content-defined anchor across both occurrences regardless of
    * alignment.
    *
    * Stages (text never enters a wide exchange — same shape as
    * [[c4SpanDedup]]):
    *  1. one codegen'd pass/doc: ordered token hashes + winnow anchors
    *     (`token_hashes` / `winnow_anchors`, ~n/w anchors per doc);
    *  2. anchors shuffle as (doc, pos, hash8B); winner per hash = global
    *     min (doc, pos), occurrences of duplicated anchors join back
    *     hash-keyed (ids only). Anchor hashes duplicated across more than
    *     `maxBucketSize` docs are degenerate boilerplate — dropped (skew
    *     cap, same policy as the LSH families);
    *  3. extension verify: loser/winner token-hash ARRAYS (longs, not
    *     text) meet by id-keyed joins; the codegen'd `extend_match` grows
    *     the anchor to the maximal common run; runs shorter than minLen
    *     are discarded. Same-doc matches clip to remove only the
    *     non-overlapping tail (periodic text removes the repetition, keeps
    *     one period);
    *  4. removal ranges aggregate to a small per-doc int-pair array that
    *     broadcasts onto the persisted token table; docs rebuild IN PLACE
    *     with codegen'd `filter`/`array_join`.
    *
    * Output is token-normalized ((lowercased, punctuation-split) tokens
    * joined by spaces — the working representation of this dedup family),
    * one row per input doc: (doc, n_tokens, n_removed_tokens, clean_text).
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, k: Int = 10, maxBucketSize: Int = 1000): DataFrame = {
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    val w = minLen - k + 1

    // one tokenization pass; toks (strings, for rebuild) stay co-located
    // with tokh (hashes, for verify) in the persisted scan partitions
    val toks = filter(split(lower(exactCol(textCol)), "\\W+"), t => length(t) > lit(0))
    val src = df.select(col(idCol).as("doc"), toks.as("toks"),
      tokenHashes(exactCol(textCol)).as("tokh"))
      .graftPersist

    // anchors scan the source once more (narrow: text in, 12 B rows out);
    // positions index the same token sequence as toks/tokh — both sides
    // tokenize as lowercase-split-on-\W+
    val anchors = df.select(col(idCol).as("doc"),
      explode(winnowAnchors(exactCol(textCol), k, w)).as("a"))
      .select(col("doc"), col("a.pos").as("pos"), col("a.hash").as("hash"))
      .graftPersist

    val winners = anchors.groupBy("hash")
      .agg(min(struct(col("doc"), col("pos"))).as("keep"), count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__n") <= maxBucketSize)
    val cand = anchors.join(winners, Seq("hash"))
      .where(!(col("doc") === col("keep.doc") && col("pos") === col("keep.pos")))
      .select(col("doc"), col("pos"),
        col("keep.doc").as("w_doc"), col("keep.pos").as("w_pos"))

    // id-keyed verify joins carry token-hash arrays only (8 B/token)
    val paired = cand
      .join(src.select(col("doc"), col("tokh").as("tok_l")), Seq("doc"))
      .join(src.select(col("doc").as("w_doc"), col("tokh").as("tok_w")), Seq("w_doc"))
      .withColumn("m", extendMatch(col("tok_l"), col("pos"), col("tok_w"), col("w_pos"), k))
      .select(col("doc"), col("pos"), col("w_doc"), col("w_pos"),
        element_at(col("m"), 1).as("s0"), element_at(col("m"), 2).as("len"))
      .where(col("len") >= minLen)
      .withColumn("e", col("s0") + col("len"))
      // same-doc runs: remove only past the winner occurrence's run end
      // (rb in loser coords = e - (pos - w_pos)), so one period of a
      // repetition always survives
      .withColumn("s", when(col("doc") === col("w_doc"),
        greatest(col("s0"), col("e") - (col("pos") - col("w_pos"))))
        .otherwise(col("s0")))
      .where(col("e") > col("s"))

    val ranges = paired.groupBy("doc")
      .agg(collect_set(struct(col("s"), col("e"))).as("cut"))

    src.join(broadcast(ranges), Seq("doc"), "left")
      .select(col("doc"), size(col("toks")).cast("int").as("n_tokens"),
        when(col("cut").isNotNull,
          filter(col("toks"), (_, i) =>
            !exists(col("cut"), r => i >= r.getField("s") && i < r.getField("e"))))
          .otherwise(col("toks")).as("kept"))
      .select(col("doc"), col("n_tokens"),
        size(col("kept")).cast("int").as("n_kept_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("int").as("n_removed_tokens"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  // ---------- embedding cosine near-dup ----------

  /** Embedding near-dup pairs: hyperplane-LSH blocking (bandBits-bit bands)
    * then exact cosine verification within buckets.
    *
    * The band shuffle carries only (doc, band_idx, band_val) — at 100 TB
    * with KB-sized vectors, letting vectors ride the band explode would
    * multiply the dominant exchange width by numBands. Candidate id pairs
    * join the vectors back by id for the cosine verify, so each vector
    * crosses the wire once per doc, not once per band or candidate.
    *
    * EAGER AT BUILD TIME (documented SURVEY §4 exception): this operator
    * runs a bounded driver action when CALLED — the banded table is
    * persisted and a 2-row scalar over the (band_idx, band_val) count
    * aggregate (key domain ≤ numBands·2^bandBits, 512 at the defaults)
    * picks the oversized-bucket drop and the slice short-circuit. So it
    * cannot be composed onto an unstarted streaming DataFrame, and calling
    * it executes everything upstream of `df` immediately, not at sink
    * time. The measured win (SCALE_r15 `lsh_shortcircuit_sf10`: no-skew at
    * the unsliced floor, planted skew faster than every uniform-slicing
    * row) is what buys that trade.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.9, sigBits: Int = 16, bandBits: Int = 8,
      seed: Int = 42, maxBucketSize: Int = 10000, sliceFactor: Int = 32,
      sliceRows: Int = 2048): DataFrame = {
    require(sliceFactor >= 1,
      s"sliceFactor must be >= 1 (got $sliceFactor): the a-side explodes " +
        "over (0 until slices), so 0 would silently drop every candidate pair")
    require(sliceRows >= 1, s"sliceRows must be >= 1 (got $sliceRows)")
    val vecs = df.select(col(idCol).as("doc"), col(vecCol).as("vec"))
    val banded = vecs.withColumn("sig", planeSig(col("vec"), dim, sigBits, seed))
      .select(col("doc"), bitBands(col("sig"), (0 to sigBits / bandBits).map(_ * bandBits),
        w => lit((1 << w) - 1)))
      .select(col("doc"), col("b.band_idx"), col("b.band_val"))
      .graftPersist
    // One bucket-count aggregate serves BOTH the oversized-bucket drop and
    // the adaptive slice factor (r14 computed it twice over the same keys —
    // ADVICE r14). The key domain is numBands·2^bandBits (512 at the
    // defaults), so `counts` is bounded by the domain, not the corpus, and
    // the one-row stats agg over it is a driver-safe scalar read.
    val counts = banded.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("__bn")).graftPersist
    val stats = counts.agg(
      sum(when(col("__bn") > maxBucketSize, 1L).otherwise(0L)).as("n_over"),
      max(when(col("__bn") <= maxBucketSize, col("__bn"))).as("max_kept")).head()
    val nOversized = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val maxKept = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    // branch decisions, named once: `capped` references counts iff a
    // bucket is oversized; the candidates plan references it iff slicing
    // engages — the unpersist below derives from THESE so an edit to
    // either predicate can't desynchronize it
    val countsInCappedPlan = nOversized != 0L
    val countsInSlicePlan = maxKept > sliceRows
    val capped =
      if (!countsInCappedPlan) banded
      else banded.join(
        broadcast(counts.where(col("__bn") > maxBucketSize)
          .select("band_idx", "band_val")),
        Seq("band_idx", "band_val"), "left_anti")

    // Slice the within-bucket self-join ADAPTIVELY (r13 sliced, r14 made
    // it size-proportional, r15 short-circuits the common case). Unlike
    // minhash, whose band keys are 64-bit hashes, this join's key domain
    // is numBands·2^bandBits (512 at the defaults) — so one near-cap
    // bucket's quadratic pair grid (cap²/2 pairs) can land on ONE task
    // however wide the cluster. r13 replicated EVERY bucket across a
    // uniform sliceFactor, measured (SCALE_r14.json lsh_slice_factor) as
    // a 1.54× end-to-end pessimization at sf10 (97.5 → 150.1 s): the
    // fixture's buckets are
    // far below the cap, pair generation was already balanced across the
    // 512 keys, and the uniform 32× a-side replication tripled the
    // candidate join's task time (321 → 1054 s). So slicing is per-bucket:
    // S = ceil(bucket_n / sliceRows) capped at sliceFactor — buckets at or
    // below sliceRows (the common case) get S=1 and pay NOTHING; only a
    // genuinely oversized bucket replicates, and only enough to split its
    // own pair grid. When NO kept bucket exceeds sliceRows (max_kept above,
    // a scalar off the same aggregate), the size join and sequence-explode
    // are skipped entirely and the join runs on the bare band keys — the
    // unsliced plan. Each member otherwise gets a deterministic slice
    // s ∈ [0,S); the a-side replicates once per target slice, the b-side
    // keeps its own, and joining on (band, val, slice_b) preserves every
    // pair exactly once. The candidate SET is unchanged in every branch —
    // slicing is pure parallelization, so results (and the replayed
    // oracle) are bit-identical.
    val (a, b, keys) = if (!countsInSlicePlan) (capped, capped, Seq("band_idx", "band_val"))
    else {
      val withS = capped.join(broadcast(counts), Seq("band_idx", "band_val"))
        .withColumn("__S", least(lit(sliceFactor), greatest(lit(1),
          ceil(col("__bn").cast("double") / sliceRows).cast("int"))))
      (withS.withColumn("slice_b", explode(sequence(lit(0), col("__S") - 1))),
        withS.withColumn("slice_b",
          pmod(xxhash64(col("doc")), col("__S").cast("long")).cast("int")),
        Seq("band_idx", "band_val", "slice_b"))
    }
    val candidates = sharedKeyPairs(a, b, keys)

    // On the common short-circuit path `counts` served only the scalar
    // stats read and nothing in the candidates plan references it — drop
    // its blocks now instead of waiting for the host's scope release
    // (ADVICE r15). The other branches keep it cached for their lazy
    // anti-join / slice-factor joins; scope release reclaims it there.
    if (!countsInCappedPlan && !countsInSlicePlan) counts.unpersist()

    candidates
      .join(vecs.select(col("doc").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vecs.select(col("doc").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cosine", cosineSim(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}

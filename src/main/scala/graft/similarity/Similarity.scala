package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.plans.NativeColumns.{cosineSim, exactCol, nearestCentroids, planeSig}

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2.6).
  *
  * Scale design: `bruteForceTopK` is exact and correct whenever the QUERY
  * set is small — the corpus is scanned once and the query side is
  * broadcast, so cost is O(|corpus| * |queries|) with no corpus shuffle.
  * For corpus-sized query sets use `lshTopK`: hyperplane-LSH buckets cut
  * the candidate set, trading recall (spec-measured) for a bucket-join
  * plan that scales linearly.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) table — scanned once, never shuffled
    *                until the per-query top-k window.
    * @param queries small (idCol, vecCol) table — broadcast.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 10): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = c.crossJoin(q)
      .withColumn("cosine", cosineSim(col("q_vec"), col("n_vec")))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "cosine")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query vector, the top-k most similar corpus vectors with a
    * DIFFERENT label — the highest-loss negatives a triplet/InfoNCE
    * trainer wants. Same broadcast brute-force contract as
    * [[bruteForceTopK]] (queries small, corpus scanned once); the label
    * filter runs BEFORE ranking so same-label near-neighbors never crowd
    * the k slots. For corpus-sized query sets, bucket with [[lshTopK]]
    * first and label-filter its candidates the same way.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int = 10): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      col(labelCol).as("q_label")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      col(labelCol).as("n_label"))
    c.crossJoin(q)
      .where(col("n_label") =!= col("q_label"))
      .withColumn("cosine", cosineSim(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "cosine")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    * into nLists cells; each query probes its nProbe nearest cells and
    * ranks candidates by exact cosine. The classic trade: one-off train +
    * assign cost, then every query touches only nProbe/nLists of the
    * corpus — the right ANN shape when the corpus is re-queried many times.
    *
    * The quantizer is an [[IvfIndex]]: trained once on a BOUNDED sample
    * (never the full corpus — at 100 TB a full-corpus fit per query call
    * is an ML job, not a lookup) and reusable across calls. Pass a
    * pre-built index for repeated querying; when omitted, one is
    * sample-fit on the spot.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 10,
      nLists: Int = 16, nProbe: Int = 4, seed: Long = 42,
      index: Option[IvfIndex] = None): DataFrame = {
    val idx = index.getOrElse(IvfIndex.cached(corpus, vecCol, nLists, seed = seed))
    val centroids = idx.centroids

    // centroids are tiny (nLists x dim) CONSTANTS: the assignment is a
    // native codegen'd expression (codegen reference object, no closure
    // UDF), so the full-corpus assign scan stays inside WholeStageCodegen
    // — same rationale as plane_sig. Float arrays cast in for exactness.
    def nearest(vec: org.apache.spark.sql.Column, take: Int): org.apache.spark.sql.Column =
      nearestCentroids(vec.cast("array<float>"), centroids, take)
    val assigned = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("cell", nearest(col("n_vec"), 1)(0))
    val probes = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("cell", explode(nearest(col("q_vec"), nProbe))))

    assigned.join(probes, Seq("cell"))
      .withColumn("cosine", cosineSim(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "cosine")
  }

  /** Per-vector symmetric int8 quantization: codes = round(v / scale) with
    * scale = max|v| / 127. Cuts vector bytes 4x — at 100 TB the dominant
    * cost of every vector shuffle, cache, and scan — for a small recall
    * loss (spec-measured). Adds `<vecCol>_q` (array<tinyint>) and
    * `<vecCol>_scale`; pure codegen'd higher-order functions, no UDF.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val mx = array_max(transform(v, x => abs(x)))
    val scale = when(mx > 0, mx / 127.0d).otherwise(lit(1.0d))
    df.withColumn(s"${vecCol}_scale", scale)
      .withColumn(s"${vecCol}_q",
        transform(v, x => round(x / col(s"${vecCol}_scale")).cast("tinyint")))
  }

  /** Brute-force top-k over int8-quantized vectors: the corpus scans/
    * broadcasts 4x less data; scores are dequantized dot products
    * (scale_a * scale_b * sum(code_a * code_b)) normalized by the
    * original vector norms — an approximation of cosine whose recall vs
    * [[bruteForceTopK]] is spec-measured.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 10): DataFrame = {
    def prep(df: DataFrame, prefix: String): DataFrame = {
      val q = quantizeInt8(df.select(col(idCol), col(vecCol)), vecCol)
      val vd = col(vecCol).cast("array<double>")
      q.select(col(idCol).as(s"${prefix}_id"),
        col(s"${vecCol}_q").as(s"${prefix}_q"),
        col(s"${vecCol}_scale").as(s"${prefix}_scale"),
        sqrt(aggregate(vd, lit(0.0d), (a, x) => a + x * x)).as(s"${prefix}_norm"))
    }
    val c = prep(corpus, "n")
    val q = broadcast(prep(queries, "q"))
    val intDot = aggregate(
      zip_with(col("q_q").cast("array<int>"), col("n_q").cast("array<int>"), (a, b) => a * b),
      lit(0), (acc, x) => acc + x)
    c.crossJoin(q)
      .withColumn("cosine",
        col("q_scale") * col("n_scale") * intDot.cast("double") /
          (col("q_norm") * col("n_norm")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "cosine")
  }

  /** LSH-bucketed ANN: candidates are corpus vectors sharing at least one
    * signature band with the query; exact cosine ranks within candidates.
    * Recall vs bruteForceTopK is measured in LshAnnSpec.
    *
    * Only (id, band_idx, band_val) enters the candidate join and its
    * dedup exchange — vectors join back by id afterwards (corpus vectors
    * cross the wire once per candidate doc; query vectors ride a
    * broadcast). Letting vectors ride the ×numBands band explode was the
    * dominant shuffle width at scale.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int = 10,
      sigBits: Int = 16, bandBits: Int = 4, seed: Int = 42): DataFrame = {
    def banded(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), planeSig(exactCol(vecCol), dim, sigBits, seed).as("sig"))
        .select(col(id), Dedup.bitBands(col("sig"), (0 to sigBits / bandBits).map(_ * bandBits),
          w => lit((1 << w) - 1)))
        .select(col(id), col("b.band_idx"), col("b.band_val"))

    val qb = broadcast(banded(queries, "q_id"))
    val cb = banded(corpus, "n_id")
    val candidates = cb.join(qb, Seq("band_idx", "band_val"))
      .select("q_id", "n_id")
      .dropDuplicates("q_id", "n_id")
    candidates
      .join(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), Seq("n_id"))
      .join(broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))), Seq("q_id"))
      .withColumn("cosine", cosineSim(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "cosine")
  }
}

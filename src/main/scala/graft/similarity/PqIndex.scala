package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.TextHashing
import graft.plans.NativeColumns.{nearestCentroids, nearestCentroidsD}

/** Product quantization (Jégou et al. 2011 — the faiss IVF-PQ building
  * block): split each dim-D vector into M subspaces, quantize every
  * subspace to its nearest codebook centroid, and store M small codes
  * instead of D floats (64-dim float32 → 8 bytes at M=8: 32×). Search is
  * ADC (asymmetric distance computation): per query, precompute the M×K
  * table of subspace distances once, then every corpus vector's distance
  * is just M table lookups summed — no float vector is ever touched on
  * the scan side.
  *
  * At 100 TB this is the memory-scale ANN path: the corpus's PQ codes
  * fit where its vectors never could (and compose with [[IvfIndex]]
  * cells for the full IVFADC shape — cell-restrict, then ADC-rank).
  *
  * Spark-first: encode is M native `nearest_centroids` calls over
  * codegen'd slices (codebooks ride the plan as reference objects);
  * the ADC tables are built per query IN the plan from literal
  * codebooks (pure higher-order functions); scoring is
  * `zip_with(code, table, element_at) → aggregate` — sequential folds,
  * so scores are bit-reproducible in any engine. Ranking reuses the
  * documented broadcast-brute-force contract of the ANN family, with
  * WindowGroupLimit keeping only top-k per query on the executors.
  */
final case class PqCodebooks(subspaces: Int, k: Int, subDim: Int,
    centroids: Array[Array[Array[Double]]]) { // [m][k][subDim]
  require(centroids.length == subspaces &&
    centroids.forall(m => m.length == k && m.forall(_.length == subDim)),
    "PqCodebooks: shape mismatch")
  def dim: Int = subspaces * subDim
}

object PqIndex {

  /** Train per-subspace codebooks on one bounded driver-side sample
    * (k-means++ per subspace — the faiss recipe; deterministic per
    * seed). Training cost is independent of corpus size, like
    * [[IvfIndex.build]].
    */
  def build(corpus: DataFrame, vecCol: String, dim: Int,
      subspaces: Int = 8, k: Int = 16, sampleSize: Int = 65536,
      maxIter: Int = 10, seed: Long = 42): PqCodebooks = {
    require(dim % subspaces == 0, s"dim $dim must split into $subspaces subspaces")
    val subDim = dim / subspaces
    val cap = math.min(sampleSize, math.max(k * 2048, 4096))
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) === dim)
    val first = vecs.limit(cap + 1).collect()
    val rows =
      if (first.length <= cap) first
      else {
        val total = vecs.count()
        val frac = math.min(1.0, cap.toDouble * 1.2 / total)
        vecs.sample(withReplacement = false, frac, seed).limit(cap).collect()
      }
    val sample = rows.map(_.getSeq[Double](0).toArray)
    val cents = Array.tabulate(subspaces) { m =>
      IvfIndex.localKMeans(
        sample.map(_.slice(m * subDim, (m + 1) * subDim)), k, maxIter, seed + m)
    }
    PqCodebooks(subspaces, k, subDim, cents)
  }

  /** Closed-form fmix64-derived codebooks: centroid[m][j][d] =
    * signed(fmix64((seed<<32) + m*65536 + j*256 + d)) / 2^63 ∈ [-1, 1).
    * Distribution-blind (no training) but recomputable outside the JVM —
    * the hash path's pinning trick, same role the fmix64 Rademacher
    * planes play for LSH; recall work uses [[build]].
    */
  def closedForm(dim: Int, subspaces: Int = 8, k: Int = 16,
      seed: Int = 42): PqCodebooks = {
    require(dim % subspaces == 0, s"dim $dim must split into $subspaces subspaces")
    val subDim = dim / subspaces
    val cents = Array.tabulate(subspaces, k, subDim) { (m, j, d) =>
      TextHashing.fmix64((seed.toLong << 32) + m * 65536 + j * 256 + d)
        .toDouble / 9.223372036854775808e18
    }
    PqCodebooks(subspaces, k, subDim, cents)
  }

  /** Vectors → M codes (`code`: array<int>, code[m] = nearest centroid of
    * subspace m; ties take the lowest index). M codegen'd
    * `nearest_centroids` over slices — the full-corpus encode scan stays
    * in WholeStageCodegen, no UDF.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebooks): DataFrame = {
    val vf = col(vecCol).cast("array<float>")
    val codeCols = (0 until cb.subspaces).map { m =>
      element_at(nearestCentroids(slice(vf, m * cb.subDim + 1, cb.subDim), cb.centroids(m), 1), 1)
    }
    df.select(col(idCol), array(codeCols: _*).as("code"))
  }

  /** Train RESIDUAL codebooks — the true faiss IVFPQ: PQ quantizes
    * `v - coarseCentroid(cell(v))`, which has far less variance than the
    * raw vectors (the coarse quantizer already explains the cluster
    * structure), so the same code budget buys much finer resolution.
    * One bounded driver-side sample serves assignment + every subspace.
    */
  def buildResidual(corpus: DataFrame, vecCol: String, dim: Int,
      ivf: IvfIndex, subspaces: Int = 8, k: Int = 16, sampleSize: Int = 65536,
      maxIter: Int = 10, seed: Long = 42): PqCodebooks = {
    require(dim % subspaces == 0, s"dim $dim must split into $subspaces subspaces")
    val subDim = dim / subspaces
    val cap = math.min(sampleSize, math.max(k * 2048, 4096))
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) === dim)
    val first = vecs.limit(cap + 1).collect()
    val rows =
      if (first.length <= cap) first
      else {
        val total = vecs.count()
        val frac = math.min(1.0, cap.toDouble * 1.2 / total)
        vecs.sample(withReplacement = false, frac, seed).limit(cap).collect()
      }
    val sample = rows.map(_.getSeq[Double](0).toArray)
    val residuals = sample.map { v =>
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < ivf.centroids.length) {
        val c = ivf.centroids(j)
        var d = 0.0; var i = 0
        while (i < dim) { val t = c(i) - v(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      val c = ivf.centroids(best)
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val cents = Array.tabulate(subspaces) { m =>
      IvfIndex.localKMeans(
        residuals.map(_.slice(m * subDim, (m + 1) * subDim)), k, maxIter, seed + m)
    }
    PqCodebooks(subspaces, k, subDim, cents)
  }

  /** RESIDUAL IVFADC search — the faiss IVFPQ index end to end: corpus
    * rows assign to their coarse cell, PQ-encode their RESIDUAL
    * (v - cellCentroid), and a query probing cell c ranks with per-cell
    * ADC tables built from ITS residual against c. All arithmetic runs
    * in double through codegen'd HOFs with sequential folds, so (with
    * closed-form codebooks) the whole index — assignment, residuals,
    * codes, tables, scores — replays bit-for-bit outside the JVM.
    * With `nProbe = ivf.nLists` every (query, row) pair is scored
    * exactly once through its row's cell.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cb: PqCodebooks, ivf: IvfIndex, nProbe: Int = 4,
      k: Int = 10): DataFrame = {
    val codes = encodeResidual(corpus, idCol, vecCol, cb, ivf)
      .select(col(idCol).as("n_id"), col("code"), col("__cell"))
    // queries explode to their nProbe cells; the ADC table is built from
    // the query's residual AGAINST THAT CELL (each probed cell has its
    // own table — the residual geometry differs per cell)
    val vd = col(vecCol).cast("array<double>")
    val probeCells = nearestCentroidsD(vd, ivf.centroids, math.min(nProbe, ivf.nLists))
    val q0 = queries.select(col(idCol).as("q_id"), vd.as("__qv"),
      explode(probeCells).as("__cell"))
    val rq = residualCol(col("__qv"), col("__cell"), ivf)
    val tables = array((0 until cb.subspaces).map { m =>
      val cents = array(cb.centroids(m).map(cv => array(cv.map(lit): _*)): _*)
      transform(cents, cvec =>
        aggregate(zip_with(slice(rq, m * cb.subDim + 1, cb.subDim), cvec,
          (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x))
    }: _*)
    val q = broadcast(q0.select(col("q_id"), col("__cell"), tables.as("__qt")))
    codes.join(q, Seq("__cell"))
      .withColumn("dist2", adcDistCol(col("code"), col("__qt")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist2").asc, col("n_id"))))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "dist2")
  }

  /** Vectors → (cell, residual codes): coarse-assign, subtract the cell
    * centroid (double, elementwise), PQ-encode the residual. Pure
    * codegen'd projection — coarse centroids and codebooks ride the plan
    * as constants/literals.
    */
  def encodeResidual(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebooks, ivf: IvfIndex): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    val cell = element_at(nearestCentroidsD(vd, ivf.centroids, 1), 1)
    val withCell = df.select(col(idCol), vd.as("__v"), cell.as("__cell"))
    val r = residualCol(col("__v"), col("__cell"), ivf)
    val codeCols = (0 until cb.subspaces).map { m =>
      element_at(nearestCentroidsD(slice(r, m * cb.subDim + 1, cb.subDim), cb.centroids(m), 1), 1)
    }
    withCell.select(col(idCol), col("__cell"), array(codeCols: _*).as("code"))
  }

  /** `v - coarseCentroid(cell)` as a Column (double, elementwise; the
    * centroid table rides as a nested literal indexed by cell).
    */
  private def residualCol(v: Column, cell: Column,
      ivf: IvfIndex): Column = {
    val centLit = array(ivf.centroids.map(c => array(c.map(lit): _*)): _*)
    zip_with(v, element_at(centLit, cell + 1), (a, b) => a - b)
  }

  /** IVF + PQ — the full faiss IVFADC shape (sans residual encoding:
    * codes quantize raw vectors; cells restrict the candidate set).
    * Corpus rows carry their nearest IVF cell from encode time; a query
    * ADC-ranks only rows in its `nProbe` nearest cells, so the scan cost
    * drops by ~nLists/nProbe on top of PQ's 32× size cut. With
    * `nProbe = ivf.nLists` the cell restriction is a no-op and the
    * result provably equals [[adcTopK]] — which is how the driver query
    * puts the assignment/routing path on the hash path (the q_ann_ivf
    * trick); pruned-probe recall is spec-tested.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cb: PqCodebooks, ivf: IvfIndex, nProbe: Int = 4,
      k: Int = 10): DataFrame = {
    val vf = col(vecCol).cast("array<float>")
    def cells(take: Int): Column = nearestCentroids(vf, ivf.centroids, take)
    val codes = encode(corpus, idCol, vecCol, cb)
      .join(corpus.select(col(idCol), element_at(cells(1), 1).as("__cell")), Seq(idCol))
      .select(col(idCol).as("n_id"), col("code"), col("__cell"))
    val vd = col(vecCol).cast("array<double>")
    val tables = array((0 until cb.subspaces).map { m =>
      val cents = array(cb.centroids(m).map(cv => array(cv.map(lit): _*)): _*)
      transform(cents, cvec =>
        aggregate(zip_with(slice(vd, m * cb.subDim + 1, cb.subDim), cvec,
          (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x))
    }: _*)
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), tables.as("__qt"),
        explode(cells(math.min(nProbe, ivf.nLists))).as("__cell")))
    codes.join(q, Seq("__cell"))
      .withColumn("dist2", adcDistCol(col("code"), col("__qt")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist2").asc, col("n_id"))))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "dist2")
  }

  /** Per-query ADC tables as one nested-array Column: tables[m][j] =
    * squared L2 between the query's m-th subspace slice (of `vd`, a
    * double-array column) and codebook centroid j — built in-plan from
    * the literal codebooks with sequential folds, so scores replay
    * bit-for-bit. Shared by [[adcTopK]], [[ivfPqTopK]] and the persisted
    * [[AnnStore.probePq]] path (same expression → same bits).
    */
  private[similarity] def adcTablesCol(vd: Column, cb: PqCodebooks): Column =
    array((0 until cb.subspaces).map { m =>
      val cents = array(cb.centroids(m).map(cv => array(cv.map(lit): _*)): _*)
      transform(cents, cvec =>
        aggregate(zip_with(slice(vd, m * cb.subDim + 1, cb.subDim), cvec,
          (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x))
    }: _*)

  /** code × tables -> summed squared L2: M element_at lookups folded in
    * sequential order (the ADC inner loop).
    */
  private[similarity] def adcDistCol(code: Column, tables: Column): Column =
    aggregate(zip_with(code, tables, (cd, t) => element_at(t, cd + 1)),
      lit(0.0d), (acc, x) => acc + x)

  /** ADC top-k by squared L2 (the canonical PQ metric): corpus encodes
    * once; each query broadcasts its M×K distance table (built in-plan
    * from the literal codebooks); a corpus row costs M lookups + a sum.
    * Returns (q_id, n_id, rnk, dist2), rnk by (dist2 asc, n_id).
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cb: PqCodebooks, k: Int = 10): DataFrame = {
    val codes = encode(corpus, idCol, vecCol, cb)
      .select(col(idCol).as("n_id"), col("code"))
    val tables = adcTablesCol(col(vecCol).cast("array<double>"), cb)
    val q = broadcast(queries.select(col(idCol).as("q_id"), tables.as("__qt")))
    codes.crossJoin(q)
      .withColumn("dist2", adcDistCol(col("code"), col("__qt")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist2").asc, col("n_id"))))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "dist2")
  }
}

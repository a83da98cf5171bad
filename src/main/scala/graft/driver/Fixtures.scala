package graft
package driver

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Helpers more than one case family uses: exact sums, the /tmp fixture
  * cache, stream plumbing and the fmix64 oracle CTEs. A helper only one
  * family uses lives in that family's file.
  */
object Fixtures {

  /** Exact-arithmetic sum: cast each double to a decimal, sum exactly,
    * return as double. Bit-identical across engines regardless of
    * aggregation order.
    */
  def dsum(c: String, scale: Int = 2): Column =
    sum(col(c).cast(DecimalType(18, scale))).cast("double")

  /** Fixture invalidation (r9, ADVICE r8): /tmp fixture dirs are keyed on
    * the SOURCE parquet's (name, length, mtime) fingerprint, not mere
    * existence — the test tables can be regenerated under the same
    * sf-dir, and a stale fixture replaying against a fresh oracle reads as
    * an engine bug. The token is written LAST, so a crash mid-build can never leave
    * a trusted-but-truncated fixture (the zip fixture previously trusted
    * bare file existence). Token files start with '_' so Spark's file
    * sources ignore them inside data dirs.
    */
  def sourceToken(dir: String, tables: String*): String = {
    val parts = tables.flatMap { t =>
      val d = new java.io.File(dir, s"$t.parquet")
      Option(d.listFiles()).map(_.toSeq).getOrElse(Seq(d))
        .sortBy(_.getName).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
    }
    java.util.UUID.nameUUIDFromBytes(parts.mkString("|").getBytes("UTF-8")).toString
  }

  /** One lock for every fixture build: two cases can share a fixture dir
    * (the stream feed), and a build must never race a token read.
    */
  private val fixtureLock = new Object

  def ensureFixture(base: String, token: String)(build: => Unit): Unit =
    fixtureLock.synchronized {
      val tokenFile = new java.io.File(base, "_TOKEN")
      val cur =
        if (tokenFile.exists())
          new String(java.nio.file.Files.readAllBytes(tokenFile.toPath), "UTF-8")
        else ""
      if (cur != token) {
        rmTree(new java.io.File(base))
        new java.io.File(base).mkdirs()
        build
        java.nio.file.Files.write(tokenFile.toPath, token.getBytes("UTF-8"))
        ()
      }
    }

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** Pin the session's shuffle partitions to a stateful-stream-
    * appropriate size for the duration of `body` (the streaming driver
    * queries). Streaming state partitioning is FIXED at checkpoint
    * creation — AQE coalesces batch shuffles at this data size to a few
    * partitions, but cannot touch stream state — and every state store
    * instance pays per-batch open/commit/maintenance cost: at this
    * fixture scale, 32 partitions × 4 join-state stores measured ~2× the
    * whole micro-batch time (probe in PLANS_r10.md); 8 keeps the scans
    * parallel while sizing state to load, exactly how production
    * streaming jobs set this conf per job. Restored after the stream
    * drains; the batch read of the memory sink replans under the
    * session default.
    */
  def withStreamPartitions[T](s: SparkSession, n: Int = 8)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Fresh scratch checkpoint dir for the driver's ephemeral memory-sink
    * streams. These queries build a brand-new checkpoint per call —
    * there is nothing to resume, the state-store delta files are pure
    * scratch — so they live on tmpfs (/dev/shm) where available: the
    * micro-batch time then measures the ENGINE, not the test VM's fsync
    * latency (state-store I/O was 75% of q_stream_interval_join's wall
    * time on this box's disk). Production checkpoints go to durable
    * storage via the normal `checkpointLocation` option; this helper is
    * driver-query plumbing only. Wiped before use so a bench rep can
    * never resume its predecessor's checkpoint (which would skip the
    * data and corrupt the measurement).
    */
  def scratchCheckpoint(tag: String): String = {
    val root = new java.io.File(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_ckpt"
      else sys.props("java.io.tmpdir") + "/graft_ckpt")
    val dir = new java.io.File(root, tag)
    rmTree(dir)
    dir.mkdirs()
    dir.getAbsolutePath
  }

  /** The sf-dir as a name fragment (every non-word char -> '_'): keys the
    * per-dir /tmp fixtures, memory-sink names and Derby URLs.
    */
  def sfTag(dir: String): String = dir.replaceAll("\\W", "_")

  /** Run a streaming frame into the memory sink `name` on a scratch
    * checkpoint until it has consumed all available input, then stop it
    * and return the sink table for batch reads.
    */
  def drainToMemory(df: Dataset[_], name: String, mode: String = "append"): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", scratchCheckpoint(name)).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(name)
  }

  /** fmix64 as a DuckDB CTE chain (the 32-bit-split HUGEINT wrapping
    * multiply idiom the simhash/minhash oracles pin): five stages from
    * `from.(cols, inCol HUGEINT)` to `${p}5.(cols, outCol UBIGINT)`.
    */
  def fmixCtes(p: String, from: String, cols: String,
      inCol: String, outCol: String): String = {
    val m1 = "18397679294719823053::HUGEINT" // 0xff51afd7ed558ccd unsigned
    val m2 = "14181476777654086739::HUGEINT" // 0xc4ceb9fe1a85ec53 unsigned
    def mul(m: String) =
      s"(((__f // 4294967296) * $m) % 4294967296 * 4294967296 + " +
      s"(__f % 4294967296) * $m) % 18446744073709551616::HUGEINT"
    s"""${p}1 AS (SELECT $cols, xor(($inCol)::UBIGINT, ($inCol)::UBIGINT >> 33)::HUGEINT AS __f FROM $from),
       |${p}2 AS (SELECT $cols, ${mul(m1)} AS __f FROM ${p}1),
       |${p}3 AS (SELECT $cols, xor(__f::UBIGINT, __f::UBIGINT >> 33)::HUGEINT AS __f FROM ${p}2),
       |${p}4 AS (SELECT $cols, ${mul(m2)} AS __f FROM ${p}3),
       |${p}5 AS (SELECT $cols, xor(__f::UBIGINT, __f::UBIGINT >> 33) AS $outCol FROM ${p}4)""".stripMargin
  }
}

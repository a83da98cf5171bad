package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.functions._

import graft.api.GraftSession

/** One-off larger-than-heap streaming-state stress (VERDICT r19 #7).
  *
  * Every sf10 streaming row's state fits the 64g gate heap, so the RocksDB
  * scale proof so far is EQUIVALENCE (bit-identity to the default
  * provider), not CAPACITY. This main measures the actual
  * larger-than-memory regime the 100 TB story claims: an exact streaming
  * dedup (`dropDuplicates` — unbounded keyed state, the worst case) over
  * N distinct keys under a deliberately small pinned heap, where the
  * default in-heap HDFSBackedStateStore must hold every key in the JVM
  * while RocksDB keeps state off-heap/on-disk and only a bounded cache in
  * memory.
  *
  * Usage (heap pinned by the launcher via SPARK_DRIVER_MEM — build.sbt
  * maps it to -Xmx):
  *   SPARK_DRIVER_MEM=4g sbt "runMain graft.StateStress 20000000 rocksdb OUT.json"
  *   SPARK_DRIVER_MEM=4g sbt "runMain graft.StateStress 20000000 default OUT.json"
  *
  * The feed is spark.range-generated parquet (numKeys distinct keys + 10%
  * planted duplicates), streamed in ~10 micro-batches via
  * maxFilesPerTrigger so state genuinely accumulates across batches. The
  * sink is a foreachBatch row counter (no driver-side buffering — a
  * memory sink would itself hold numKeys rows in the pinned heap).
  * Green = emitted rows == numKeys exactly (every duplicate dropped,
  * every key seen once). The JSON line records provider, heap, state rows
  * and bytes from the query's own progress metrics, and the wall.
  */
object StateStress {
  private def num(v: Double, prec: Int): String =
    String.format(Locale.ROOT, s"%.${prec}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val numKeys = args.headOption.map(_.toLong).getOrElse(20000000L)
    val providerArg = args.drop(1).headOption.getOrElse("rocksdb")
    val outPath = args.drop(2).headOption.getOrElse("/tmp/graft_state_stress.json")
    val provider = providerArg match {
      case "rocksdb" => Some("org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      case "default" => None
      case cls => Some(cls)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.create(s"local[$cpus]", "graft-statestress", cpus,
      provider.map("spark.sql.streaming.stateStore.providerClass" -> _).toMap)
    spark.sparkContext.setLogLevel("WARN")
    System.err.println("[stress] heap max = " +
      num(Runtime.getRuntime.maxMemory / 1e9, 2) + " GB, provider = " +
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .getOrElse("(default HDFSBackedStateStoreProvider)"))

    val feedRows = numKeys + numKeys / 10 // 10% planted duplicates
    val feed = s"/tmp/graft_stress_feed_$numKeys"
    if (!Files.exists(Paths.get(feed, "_SUCCESS"))) {
      // key = id % numKeys spreads the duplicates over the whole key space;
      // 40 files / maxFilesPerTrigger 4 => ~10 micro-batches of state growth
      spark.range(0, feedRows, 1, 40)
        .select(pmod(col("id"), lit(numKeys)).as("key"), col("id").as("v"))
        .write.mode("overwrite").parquet(feed)
    }
    val ckpt = Files.createTempDirectory("graft_stress_ckpt").toString
    val emitted = new java.util.concurrent.atomic.LongAdder
    val t0 = System.nanoTime()
    val q = spark.readStream
      .schema("key BIGINT, v BIGINT")
      .option("maxFilesPerTrigger", 4)
      .parquet(feed)
      .dropDuplicates("key")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted.add(df.count())
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    // max over the run's progress events: total keyed-state rows and the
    // provider's own memory estimate (for RocksDB this is block cache +
    // memtables, NOT the full state; for the default provider it IS the
    // in-heap map)
    val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
      .foldLeft(0L)(math.max)
    val stateMem = q.recentProgress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
      .foldLeft(0L)(math.max)
    val ok = emitted.sum() == numKeys
    val line =
      s"""{"metric":"state_stress","provider":"$providerArg",""" +
      s""""heap_gb":${num(Runtime.getRuntime.maxMemory / 1e9, 2)},""" +
      s""""num_keys":$numKeys,"feed_rows":$feedRows,""" +
      s""""emitted":${emitted.sum()},"ok":$ok,""" +
      s""""state_rows":$stateRows,"state_mem_gb":${num(stateMem / 1e9, 3)},""" +
      s""""wall_sec":${num(wall, 1)}}"""
    Files.write(Paths.get(outPath), (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
    // Halt instead of a normal exit: RocksDB's JNI maintenance threads can
    // race JVM shutdown hooks (JniUtil "could not attach current thread" →
    // SIGSEGV exit 134 AFTER the artifact is written — observed on the
    // first 4g run). The measurement is already durably on disk at this
    // point; halt skips the doomed hook ordering entirely.
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }
}

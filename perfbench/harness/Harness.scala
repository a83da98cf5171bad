// Lives under org.apache.spark so it may drain the listener bus
// (`SparkContext.listenerBus` is private[spark]) before reading listener
// records; it calls Graft only through its public API.
package org.apache.spark.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftCaches
import graft.api.{GraftSession, Pipeline}
import graft.dedup.Dedup
import graft.sources.CdcFormats
import graft.streaming.StreamingOps
import graft.text.TextAnalysis

/** Runs one benchmark workload in a fresh JVM and writes its raw records
  * (job times, spans, task metrics) as JSON for perfbench/run.py.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores>
  *
  * Untraced runs record only what the end-to-end metrics need. Traced runs
  * add Spark's SparkListener and QueryExecutionListener, and spans around
  * every call into Graft. Micro-batch phases come from the stream's own
  * progress records (`recentProgress`, what a StreamingQueryListener
  * receives), in both modes.
  */
object Harness {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  /** Epoch microseconds from the monotonic clock. */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, job: Long)

  /** In-memory span recorder; written out once, at the end. */
  final class Tracer(val on: Boolean) {
    val spans = ArrayBuffer.empty[Span]
    private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
    private var nextId = 0

    def apply[T](name: String, job: Long)(f: => T): T =
      if (!on) f
      else {
        val id = synchronized { nextId += 1; nextId }
        val parent = stack.get().headOption.getOrElse(0)
        stack.set(id :: stack.get())
        val t0 = nowUs
        try f
        finally {
          val t1 = nowUs
          stack.set(stack.get().tail)
          synchronized(spans += Span(id, name, t0, t1, parent, job))
        }
      }
  }

  /** Task-level counters of one finished task. */
  final case class TaskRec(job: Int, stage: Int, duration: Long, run: Long, cpuMs: Double, gc: Long, deser: Long, resultSer: Long, gettingResult: Long,
      shWrite: Long, shRead: Long, fetchWait: Long, spill: Long,
      inBytes: Long, inRows: Long, outBytes: Long, outRows: Long)

  final class Listener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Array[Long]]() // jobId -> (start ms, end ms)
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val tasks = ArrayBuffer.empty[TaskRec]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, Array(e.time, -1L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_(1) = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) synchronized {
        val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        tasks += TaskRec(stageJob.getOrDefault(e.stageId, -1), e.stageId, i.duration,
          m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
          m.executorDeserializeTime, m.resultSerializationTime, gettingResult,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    }
  }

  /** Catalyst phases of every action, from QueryExecution.tracker. */
  final class QeListener extends QueryExecutionListener {
    val phases = ArrayBuffer.empty[(String, Long, Long)] // (phase, start ms, end ms)
    private def record(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** One timed unit of work: a batch job, or a micro-batch for cdc_sync. */
  final case class JobRec(idx: Int, start: Long, end: Long, out: String,
      compileNs: Long, classes: Long, cachePeak: Long)

  // ------------------------------------------------------------ helpers

  def dirStats(path: String): (Long, Long) = { // (files, bytes) of data files
    val files = Option(new File(path).listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap(f => if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq else Seq(f))
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.size.toLong, files.map(_.length).sum)
  }

  private def vmHwmKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsS, traceS, coresS) = args
    val seconds = secondsS.toInt
    val t = new Tracer(traceS == "1")
    val cores = coresS.toInt

    // ---- setup: GraftSession.create seven times. The first is the JVM's
    // cold one; the other six follow spark.stop() in the warm JVM.
    def create(): SparkSession = GraftSession.create(master = s"local[$cores]",
      appName = s"perfbench-$workload", shufflePartitions = cores)
    val setupUs = ArrayBuffer.empty[Long]
    var spark: SparkSession = null
    for (i <- 0 until 7) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = nowUs
      spark = t("setup.create", -1)(create())
      setupUs += nowUs - t0
    }
    val sc = spark.sparkContext
    var registerUs = 0L
    val listener = new Listener
    val qel = new QeListener
    if (t.on) {
      // GraftSession.create registers Graft's functions internally; time the
      // same two public calls again on the live session
      val t0 = nowUs
      t("setup.register", -1) {
        graft.functions.ZetaFunctions.register(spark)
        graft.plans.NativeExpressions.register(spark)
      }
      registerUs = nowUs - t0
      sc.addSparkListener(listener)
      spark.listenerManager.register(qel)
    }

    // traced runs: sample peak persisted bytes (memory + disk) while a job runs
    @volatile var cachePeak = 0L
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val b = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        if (b > cachePeak) cachePeak = b
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    if (t.on) sampler.start()

    val jobs = ArrayBuffer.empty[JobRec]
    def timed(idx: Int, out: String)(f: => Unit): Unit = {
      cachePeak = 0L
      val c0 = CodeGenerator.compileTime
      val k0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
      val t0 = nowUs
      t("job", idx)(f)
      val t1 = nowUs
      jobs += JobRec(idx, t0, t1, out, CodeGenerator.compileTime - c0,
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - k0, cachePeak)
    }
    /** The cold job (0), one settling job (1) while the JIT still compiles
      * what the cold job ran, then warm jobs until `seconds` have passed and
      * at least `minWarm` ran. */
    def loop(minWarm: Int)(job: Int => Unit): Unit = {
      job(0)
      job(1)
      val start = nowUs
      var k = 2
      while (k < 2 + minWarm || nowUs - start < seconds * 1000000L) { job(k); k += 1 }
    }
    def outDir(k: Int) = s"$workDir/out/job_$k"

    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    workload match {
      case "etl_orders" =>
        val conf = new String(Files.readAllBytes(Paths.get(s"$dataDir/job.conf")), "UTF-8")
        loop(3) { k =>
          val text = conf.replace("__DATA__", dataDir).replace("__OUT__", outDir(k))
          timed(k, outDir(k)) {
            val job = t("api.parse", k)(Pipeline.parseHocon(text))
            t("api.run", k)(Pipeline.run(spark, job))
          }
        }

      case "llm_dedup" =>
        var pairs: DataFrame = null
        loop(3) { k =>
          timed(k, outDir(k)) {
            val docs = spark.read.parquet(s"$dataDir/docs")
            val feats = t("text.build", k)(
              TextAnalysis.gopherFlags(TextAnalysis.qualityFeatures(docs, "text"), "text"))
            val kept = t("dedup.build", k) {
              pairs = Dedup.minHashPairs(docs, "doc_id", "text")
              Dedup.dropByComponents(feats, "doc_id", pairs)
            }
            t("sinks.write", k)(kept.write.parquet(outDir(k)))
            t("cache.release", k)(GraftCaches.releaseAll(spark, blocking = true))
          }
          extra("cache_tracked_after") = GraftCaches.trackedCount
        }
        if (t.on) { // outside every timed job: recomputes the pairs once
          extra("dedup_pairs") = pairs.count()
          GraftCaches.releaseAll(spark, blocking = true)
        }

      case "cdc_sync" =>
        runCdc(spark, t, dataDir, workDir, extra, jobs)
    }

    sampling = false
    if (t.on) sampler.join()
    if (t.on) sc.listenerBus.waitUntilEmpty()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val peakHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

    val jobsJson = jobs.map(j => Map("idx" -> j.idx, "start_us" -> j.start, "end_us" -> j.end,
      "out" -> j.out, "compile_ns" -> j.compileNs, "classes" -> j.classes, "cache_peak_bytes" -> j.cachePeak))
    val spansJson = t.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "start_us" -> s.start, "end_us" -> s.end, "parent" -> s.parent, "job" -> s.job))
    val sparkJobs = listener.jobs.asScala.toSeq.sortBy(_._1).map { case (id, se) =>
      Map("id" -> id, "start_ms" -> se(0), "end_ms" -> se(1)) }
    val tasksJson = listener.tasks.map(r => Map("job" -> r.job, "stage" -> r.stage,
      "duration_ms" -> r.duration,
      "run_ms" -> r.run, "cpu_ms" -> r.cpuMs, "gc_ms" -> r.gc, "deser_ms" -> r.deser,
      "result_ser_ms" -> r.resultSer, "getting_result_ms" -> r.gettingResult,
      "shuffle_write_bytes" -> r.shWrite, "shuffle_read_bytes" -> r.shRead,
      "fetch_wait_ms" -> r.fetchWait, "spill_bytes" -> r.spill, "input_bytes" -> r.inBytes,
      "input_rows" -> r.inRows, "output_bytes" -> r.outBytes, "output_rows" -> r.outRows))
    val phasesJson = qel.phases.map { case (n, s, e) => Map("phase" -> n, "start_ms" -> s, "end_ms" -> e) }

    val result = Map(
      "workload" -> workload, "cores" -> cores, "traced" -> t.on,
      "setup_us" -> setupUs, "register_us" -> registerUs,
      "jobs" -> jobsJson, "extra" -> extra.toMap,
      "jvm_gc_ms" -> gcMs, "jvm_peak_heap_bytes" -> peakHeap, "vm_hwm_kb" -> vmHwmKb(),
      "spans" -> spansJson, "spark_jobs" -> sparkJobs, "tasks" -> tasksJson,
      "phases" -> phasesJson)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(s"$workDir/result.json"), result)
    spark.stop()
  }

  /** cdc_sync: release the generated change files on their schedule (open
    * loop) into the directory a file stream reads, and record when each
    * snapshot version commits. */
  private def runCdc(spark: SparkSession, t: Tracer, dataDir: String, workDir: String,
      extra: scala.collection.mutable.Map[String, Any], jobs: ArrayBuffer[JobRec]): Unit = {
    val sched = new ObjectMapper().readTree(new File(s"$dataDir/schedule.json"))
    val interval = sched.get("interval_ms").asLong
    val files = sched.get("files").elements().asScala.toSeq
      .map(f => (f.get("file").asText, f.get("due_ms").asLong, f.get("events").asLong,
        f.get("warmup").asBoolean))
      .sortBy(_._1)
    val stage = new File(s"$workDir/stage"); stage.mkdirs()
    val input = new File(s"$workDir/in"); input.mkdirs()
    files.foreach { f =>
      Files.copy(Paths.get(s"$dataDir/events/${f._1}"), Paths.get(s"${stage.getPath}/${f._1}"))
    }
    val stateDir = s"$workDir/state"
    val ckpt = s"$workDir/ckpt"
    val schema = new StructType().add("id", LongType).add("name", StringType)
      .add("amount", LongType).add("seq", LongType)
    val commits = new ConcurrentHashMap[Long, Long]()
    val versionStats = new ConcurrentHashMap[Long, (Long, Long)]() // (files, bytes)
    val initial = spark.read.parquet(s"$dataDir/snapshot.parquet")
    val query = t("cdc.start", -1) {
      val raw = spark.readStream.text(input.getPath)
      val changes = CdcFormats.parseDebezium(raw, "value", schema)
      StreamingOps.applyCdcStream(changes, initial, Seq("id"), "seq", ckpt, stateDir) { _ =>
        val now = nowUs
        StreamingOps.currentVersion(spark, stateDir).foreach { v =>
          commits.put(v, now)
          if (t.on) versionStats.put(v, dirStats(s"$stateDir/v$v"))
        }
      }.start()
    }
    def release(name: String): Long = {
      Files.move(Paths.get(s"${stage.getPath}/$name"), Paths.get(s"${input.getPath}/$name"),
        StandardCopyOption.ATOMIC_MOVE)
      nowUs
    }
    def awaitCommits(n: Int): Unit =
      while (commits.size < n) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(2)
      }
    // warm-up files, one micro-batch each: the first is the cold first job
    val (warm, timedFiles) = files.partition(_._4)
    warm.zipWithIndex.foreach { case (f, i) =>
      val w0 = nowUs
      release(f._1)
      awaitCommits(i + 1)
      if (i == 0) jobs += JobRec(0, w0, commits.get(0L), "", 0, 0, 0)
    }
    val released = ArrayBuffer.empty[(String, Long, Long, Long)] // file, due us, released us, events
    val t0 = nowUs + 20000L
    timedFiles.foreach { case (name, dueMs, events, _) =>
      val due = t0 + dueMs * 1000L
      val wait = due - nowUs
      if (wait > 0) Thread.sleep(wait / 1000L, ((wait % 1000L) * 1000L).toInt)
      released += ((name, due, release(name), events))
    }
    query.processAllAvailable()
    query.stop()
    extra("cdc_progress") = query.recentProgress.toSeq.map(p => Map("batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli, "rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    extra("cdc_window_start_us") = t0
    extra("cdc_interval_ms") = interval
    extra("cdc_warmup_batches") = warm.size
    extra("cdc_files") = released.map { case (n, d, r, e) =>
      Map("file" -> n, "due_us" -> d, "released_us" -> r, "events" -> e) }
    extra("cdc_commits") = commits.asScala.toSeq.sortBy(_._1).map { case (v, c) =>
      val (files, bytes) = versionStats.getOrDefault(v, (0L, 0L))
      Map("batch" -> v, "commit_us" -> c, "files" -> files, "bytes" -> bytes) }
    extra("cdc_state_dir") = stateDir
    extra("cdc_checkpoint") = ckpt
  }
}

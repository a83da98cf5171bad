package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Top-level rows for the stateful sessionization path (top-level so the
  * Tungsten state encoder codegen resolves their accessors).
  */
final case class SessionEvent(user: Long, tsNs: Long)
final case class SessionOut(user: Long, nEvents: Int, startNs: Long, endNs: Long)
final case class SessionAcc(nEvents: Int, startNs: Long, endNs: Long)

/** Rows of the streaming as-of join (top-level for state-encoder codegen).
  * `side` 0 = right/dimension (id carries nothing), 1 = left event;
  * `eventTime` is the watermarked column (micros of tsNs).
  */
final case class AsOfIn(key: Long, tsNs: Long, side: Int, id: Long,
  value: Double, eventTime: java.sql.Timestamp)
final case class AsOfBufL(tsNs: Long, id: Long, value: Double)
final case class AsOfBufR(tsNs: Long, value: Double)
final case class AsOfBuf(lefts: Seq[AsOfBufL], rights: Seq[AsOfBufR])
final case class AsOfOutRow(key: Long, id: Long, tsNs: Long, value: Double,
  rTsNs: Option[Long], rValue: Option[Double])

/** Streaming pipeline operators (SURVEY §2.5).
  *
  * The reference runs streaming jobs on the Zeta engine (checkpointed
  * source -> transform -> sink with row-kind change streams); Graft maps
  * the same job shapes onto Structured Streaming: `readStream` sources,
  * the identical transform library (all Graft operators are plan-builders,
  * so they apply to streaming DataFrames unchanged), watermarked stateful
  * ops, and `foreachBatch`/file/memory sinks with Spark's own exactly-once
  * checkpointing.
  */
object StreamingOps {

  /** Epoch-nanos long -> event-time timestamp column (micro precision). */
  def withEventTime(df: DataFrame, nsCol: String, out: String): DataFrame =
    df.withColumn(out, timestamp_micros((col(nsCol) / 1000L).cast("long")))

  /** Watermarked tumbling/sliding window aggregation. Works identically on
    * batch and streaming inputs (batch ignores the watermark), which is how
    * the oracle checks it.
    */
  def windowedAgg(
      df: DataFrame,
      tsCol: String,
      windowDuration: String,
      aggs: Seq[Column],
      keys: Seq[String] = Nil,
      slideDuration: Option[String] = None,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay) else df
    val win = slideDuration
      .map(s => window(col(tsCol), windowDuration, s))
      .getOrElse(window(col(tsCol), windowDuration))
    wm.groupBy(win +: keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming dedup by key within the watermark horizon (state is bounded
    * by the delay — the 100 TB-friendly form of exact streaming dedup).
    */
  def streamingDedup(df: DataFrame, keys: Seq[String], tsCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermarkDelay).dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  // ---------- sessionization ----------

  /** Batch sessionization: gap-based session ids via lag/cumsum window
    * functions (pure SQL — DuckDB-oracle-checkable). Event times are epoch
    * nanos so the arithmetic is exact integers.
    */
  def sessionizeBatch(df: DataFrame, userCol: String, tsNsCol: String, gapNs: Long): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsNsCol)
    val newSess = when(
      col(tsNsCol) - lag(col(tsNsCol), 1).over(byUser) > gapNs, 1
    ).otherwise(when(lag(col(tsNsCol), 1).over(byUser).isNull, 1).otherwise(0))
    df.withColumn("__new", newSess)
      .withColumn("session_idx", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(tsNsCol).as("start_ns"), max(tsNsCol).as("end_ns"))
  }

  type SessionEvent = graft.streaming.SessionEvent
  val SessionEvent: graft.streaming.SessionEvent.type = graft.streaming.SessionEvent
  type SessionOut = graft.streaming.SessionOut
  val SessionOut: graft.streaming.SessionOut.type = graft.streaming.SessionOut

  /** Streaming sessionization with explicit state: sessions close when the
    * event-time gap exceeds `gapNs` (new event starts the next session);
    * with `idleTimeoutMs > 0`, idle keys also flush on processing-time
    * timeout. State per key is O(1).
    */
  def sessionizeStream(ds: Dataset[SessionEvent], gapNs: Long,
      idleTimeoutMs: Long = 0)(implicit enc: Encoder[SessionOut]): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    val timeout =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(_.user)
      .flatMapGroupsWithState[SessionAcc, SessionOut](OutputMode.Append(), timeout) {
        (user: Long, events: Iterator[SessionEvent], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s => SessionOut(user, s.nEvents, s.startNs, s.endNs))
            state.remove()
            out.iterator
          } else {
            val sorted = events.toSeq.sortBy(_.tsNs)
            var acc = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              acc match {
                case Some(s) if e.tsNs - s.endNs <= gapNs =>
                  acc = Some(SessionAcc(s.nEvents + 1, s.startNs, math.max(s.endNs, e.tsNs)))
                case Some(s) =>
                  closed += SessionOut(user, s.nEvents, s.startNs, s.endNs)
                  acc = Some(SessionAcc(1, e.tsNs, e.tsNs))
                case None =>
                  acc = Some(SessionAcc(1, e.tsNs, e.tsNs))
              }
            }
            acc.foreach(state.update)
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            closed.result().iterator
          }
      }
  }

  // ---------- streaming as-of join ----------

  /** STREAMING as-of (temporal) join — the CDC-fed lookup-join story: a
    * left event stream enriched with the LATEST dimension version whose
    * ts <= the event's ts, left-outer, optional staleness tolerance —
    * [[graft.operators.AsOfJoin.asOf]]'s semantics through a real
    * readStream path.
    *
    * Watermarked union-tag shape: both sides arrive as ONE tagged stream
    * (`side` 0 = dimension version, 1 = event), grouped by key into
    * `flatMapGroupsWithState`. Left events buffer until the event-time
    * watermark passes their ts — only then can no dimension update with
    * an older ts still arrive (this is what makes LATE-ARRIVING dimension
    * updates within the watermark delay land on the right events, where a
    * naive per-batch join would have matched the stale version). State
    * per key is bounded: unflushed lefts (watermark-bounded) + dimension
    * versions at-or-after the watermark + ONE latest version before it.
    * Event-time timeouts flush idle keys as the watermark advances (a
    * far-future row on any key advances it for all).
    *
    * Input columns: key, tsNs, side, id, value (build with
    * [[asOfStreamInput]]); output mirrors the batch operator — one row
    * per left event with (rTsNs, rValue) nulled when unmatched or
    * stale.
    */
  def asOfStream(df: DataFrame, watermarkDelay: String,
      toleranceNs: Option[Long] = None): Dataset[AsOfOutRow] = {
    import df.sparkSession.implicits._
    val ds = withEventTime(df, "tsNs", "eventTime")
      .withWatermark("eventTime", watermarkDelay)
      .select(col("key"), col("tsNs"), col("side"), col("id"), col("value"),
        col("eventTime"))
      .as[AsOfIn]
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfBuf, AsOfOutRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, events: Iterator[AsOfIn], state: GroupState[AsOfBuf]) =>
          val prev = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
          val (ls, rs) =
            if (state.hasTimedOut) (prev.lefts, prev.rights)
            else {
              val evs = events.toSeq
              (prev.lefts ++ evs.filter(_.side == 1)
                 .map(e => AsOfBufL(e.tsNs, e.id, e.value)),
               prev.rights ++ evs.filter(_.side == 0)
                 .map(e => AsOfBufR(e.tsNs, e.value)))
            }
          val wmNs = state.getCurrentWatermarkMs() * 1000000L
          // a left at lTs flushes once wm > lTs: every future dimension row
          // has eventTime >= wm, hence ts > lTs — it cannot affect the match
          val (flush, keepL) = ls.partition(_.tsNs < wmNs)
          val rSorted = rs.sortBy(_.tsNs)
          val out = flush.sortBy(l => (l.tsNs, l.id)).map { l =>
            val m = rSorted.takeWhile(_.tsNs <= l.tsNs).lastOption
              .filter(r => toleranceNs.forall(t => l.tsNs - r.tsNs <= t))
            AsOfOutRow(key, l.id, l.tsNs, l.value, m.map(_.tsNs), m.map(_.value))
          }
          // future lefts have ts >= wm: versions before the watermark are
          // all superseded by the LATEST one of them
          val (old, fresh) = rSorted.partition(_.tsNs < wmNs)
          val keepR = old.lastOption.toSeq ++ fresh
          if (keepL.isEmpty && keepR.isEmpty) state.remove()
          else {
            state.update(AsOfBuf(keepL, keepR))
            if (keepL.nonEmpty)
              state.setTimeoutTimestamp(keepL.map(_.tsNs).min / 1000000L + 1)
          }
          out.iterator
      }
  }

  /** Tag + align the two as-of sides into the union stream [[asOfStream]]
    * consumes. Works on batch or streaming frames.
    */
  def asOfStreamInput(left: DataFrame, right: DataFrame,
      keyCol: String, tsNsCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val l = left.select(col(keyCol).as("key"), col(tsNsCol).as("tsNs"),
      lit(1).as("side"), col(idCol).as("id"),
      col(valueCol).cast("double").as("value"))
    val r = right.select(col(keyCol).as("key"), col(tsNsCol).as("tsNs"),
      lit(0).as("side"), lit(0L).as("id"),
      col(valueCol).cast("double").as("value"))
    l.unionByName(r)
  }

  /** Event-time interval join (Flink-style): left rows join right rows
    * with equal keys whose event time falls within
    * [leftTime + lowerBound, leftTime + upperBound]. On streams, both
    * sides carry watermarks and the time-range predicate is exactly what
    * Structured Streaming needs to bound join state — without it the
    * right-side buffer grows forever. Works identically on batch inputs
    * (watermarks ignored), which is how specs cross-check it.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      lowerBound: String, upperBound: String,
      watermark: String = "10 seconds"): DataFrame = {
    val l = (if (left.isStreaming) left.withWatermark(leftTimeCol, watermark) else left).as("l")
    val r = (if (right.isStreaming) right.withWatermark(rightTimeCol, watermark) else right).as("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val timeCond =
      col(s"r.$rightTimeCol") >= col(s"l.$leftTimeCol") + expr(s"INTERVAL $lowerBound") &&
      col(s"r.$rightTimeCol") <= col(s"l.$leftTimeCol") + expr(s"INTERVAL $upperBound")
    // right-side non-key columns that collide with a left column name are
    // suffixed `_r` — identically-schemed streams are the common case and
    // duplicate output names break any downstream by-name selection
    val leftNames = left.columns.toSet
    l.join(r, keyCond && timeCond)
      .select(keys.map(k => col(s"l.$k")) ++
        left.columns.filterNot(keys.contains).map(c => col(s"l.$c")) ++
        right.columns.filterNot(keys.contains).map(c =>
          if (leftNames.contains(c)) col(s"r.$c").as(s"${c}_r") else col(s"r.$c")): _*)
  }

  // ---------- CDC apply ----------

  /** Apply one micro-batch of a row-kind change stream onto a snapshot:
    * last change per key wins (by `ordCol`), +I/+U upsert, -D delete,
    * -U images are discarded. Used inside foreachBatch; both inputs are
    * plain DataFrames so the same function serves batch backfills.
    *
    * With `evolveSchema = true`, data columns present in the changes but
    * absent from the snapshot are ADDED to the result (nulls for
    * pre-existing rows) — the reference's SupportSchemaEvolutionSink
    * add-column semantics for CDC pipelines whose upstream tables gain
    * columns mid-stream. Dropped/renamed upstream columns keep their
    * snapshot values (nulls in new rows), the only lossless choice.
    */
  def applyCdcBatch(snapshot: DataFrame, changes: DataFrame,
      keys: Seq[String], ordCol: String, evolveSchema: Boolean = false): DataFrame = {
    val kindCol = graft.operators.RowKindOps.RowKindCol
    val changeFields = changes.schema.fields.map(f => f.name -> f.dataType).toMap
    val newCols =
      if (!evolveSchema) Nil
      else changes.columns.filterNot(snapshot.columns.contains)
        .filterNot(Set(kindCol, ordCol)).toSeq
    val target = newCols.foldLeft(snapshot) { (acc, c) =>
      acc.withColumn(c, lit(null).cast(changeFields(c)))
    }
    val latest = changes
      .where(col(kindCol) =!= "-U")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(ordCol).desc)))
      .where(col("__rn") === 1).drop("__rn")
    val upserts = latest.where(col(kindCol) =!= "-D")
      .select(target.columns.map(c =>
        // evolution also tolerates snapshot columns absent from the
        // changes (upstream drop): new rows carry null there. Without
        // evolution a missing column stays an analysis error, as before.
        if (!changes.columns.contains(c) && evolveSchema)
          lit(null).cast(snapshot.schema(c).dataType).as(c)
        else col(c)).toSeq: _*)
    val deletes = latest.where(col(kindCol) === "-D").select(keys.map(col): _*)
    target
      .join(latest.select(keys.map(col): _*), keys, "left_anti") // untouched rows
      .unionByName(upserts)
      .join(deletes, keys, "left_anti")
  }

  /** Wire a change stream into a continuously-merged snapshot via
    * foreachBatch. The snapshot is DURABLE, not driver memory: each
    * micro-batch merges the current version with the batch, writes
    * `stateDir/v{batchId}`, then atomically swaps a `_CURRENT` pointer
    * file (FileSystem.rename). A batch REPLAYED after its version was
    * already committed (crash between commit and the streaming checkpoint)
    * is detected by comparing the committed pointer with the incoming
    * batchId and skipped — re-merging would overwrite the very directory
    * being read as the current snapshot, which Spark (rightly) refuses.
    * The merge is therefore idempotent under Structured Streaming's
    * at-least-once foreachBatch contract, and a restarted driver resumes
    * from the pointer — no state is lost with the process.
    * `onBatch` receives the freshly-persisted snapshot after each batch.
    *
    * Neither read of a version this query wrote infers its schema (one
    * footer-reading Spark job each): `onBatch`'s frame and the next batch's
    * `v{N}` are read with the schema of the frame written there, which the
    * closure keeps with its version number. A version written before a
    * restart is read with inference. The written schema is the merged one,
    * not `initial`'s: a change column of a wider type widens the snapshot.
    */
  def applyCdcStream(changes: DataFrame, initial: DataFrame, keys: Seq[String],
      ordCol: String, checkpointDir: String, stateDir: String)(onBatch: DataFrame => Unit) = {
    var written: Option[(Long, StructType)] = None
    def readVersion(spark: org.apache.spark.sql.SparkSession, v: Long): DataFrame =
      written match {
        case Some((`v`, schema)) => spark.read.schema(schema).parquet(s"$stateDir/v$v")
        case _ => spark.read.parquet(s"$stateDir/v$v")
      }
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        currentVersion(spark, stateDir) match {
          case Some(v) if v >= batchId =>
            // already merged + committed before a crash/stop: the durable
            // snapshot holds this batch; just re-deliver it
            onBatch(readVersion(spark, v))
          case committed =>
            val current = committed.map(readVersion(spark, _)).getOrElse(initial)
            val merged = applyCdcBatch(current, batch, keys, ordCol)
            merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
            commitSnapshotVersion(spark, stateDir, batchId)
            written = Some(batchId -> merged.schema)
            onBatch(readVersion(spark, batchId))
        }
      }
  }

  /** Read the committed snapshot version number, if any. */
  def currentVersion(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[Long] = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(stateDir, "_CURRENT")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val v = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      Some(v.toLong)
    }
  }

  /** Read the committed snapshot version, if any. */
  def currentSnapshot(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] =
    currentVersion(spark, stateDir).map(v => spark.read.parquet(s"$stateDir/v$v"))

  private def commitSnapshotVersion(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, batchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(stateDir, s"_CURRENT.tmp$batchId")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    val ptr = new org.apache.hadoop.fs.Path(stateDir, "_CURRENT")
    fs.delete(ptr, false)
    fs.rename(tmp, ptr)
    // retain only the two newest versions (current + previous for readers
    // that resolved the pointer just before the swap)
    val keep = Set(s"v$batchId", s"v${batchId - 1}")
    fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v")
        && !keep(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, true))
  }
}

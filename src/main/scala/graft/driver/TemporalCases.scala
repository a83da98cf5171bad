package graft
package driver

import org.apache.spark.sql.functions._

import graft.operators._
import graft.driver.Fixtures._

/** Event-time batch operators (§2.5–2.6): windows, as-of, range and
  * interval joins, sessionization, rolling and anomaly features.
  */
object TemporalCases {

  /** Shared oracle of q_window_agg, q_stream_window, q_stream_socket and
    * q_pipeline_streaming_windowed: hourly event-time windows per event_type.
    * The file stream, the socket stream (append-mode windows, socket out) and
    * the stateful config runner must all reproduce the batch aggregation
    * exactly.
    */
  val hourlyWindow: String =
    """SELECT epoch_ns(date_trunc('hour', ts)) // 1000000000 AS bucket_start,
      |  event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2
      |ORDER BY bucket_start, event_type""".stripMargin

  /** Shared oracle of q_asof_join and q_stream_asof: latest purchase at or
    * before each click per user; the streaming as-of must reach the batch
    * result through the real readStream path.
    */
  val asOfLatestPurchase: String =
    """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
      |  epoch_us(r.ts) AS purchase_ts_us, r.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** Shared oracle of q_sessionize and q_pipeline_sessionize: 30-minute-gap
    * sessions in micros; the Sessionize config transform must reproduce the
    * operator's closed-form sessions exactly.
    */
  val sessions30m: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn FROM events),
      |x AS (SELECT user_id, tsn,
      |  CASE WHEN lag(tsn) OVER w IS NULL THEN 1
      |       WHEN tsn - lag(tsn) OVER w > 1800000000000 THEN 1 ELSE 0 END AS nw
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn)),
      |y AS (SELECT user_id, tsn,
      |  CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY tsn ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |  FROM x)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |       min(tsn) // 1000 AS start_us, max(tsn) // 1000 AS end_us
      |FROM y GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin

  val cases: Seq[Case] = Seq(
    // §2.6 per-key rolling/lag feature engineering (r9): last-5 rolling
    // count/sum/mean + previous value + event gap per user — ONE key
    // exchange + ONE sort feeds every window (Catalyst collapses
    // same-spec windows). DECIMAL-exact sums; gap stays in integer us.
    Case("q_rolling_features", (s, dir) => {
      graft.operators.TimeSeries.rollingFeatures(
          Tables.load(s, dir, "events")
            .select(col("event_id"), col("user_id"), col("ts"), col("value")),
          Seq("user_id"), "ts", "value", lastN = 5, tieCol = "event_id")
        .select(col("event_id"), col("user_id"), col("roll_n"), col("roll_sum"),
          col("roll_mean"), col("prev_value"),
          expr("gap DIV 1000").as("gap_us"))
        .orderBy("event_id")
    }, oracle =
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER win AS roll_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE) AS roll_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE)
        |    / count(value) OVER win AS roll_mean,
        |  lag(value) OVER ord AS prev_value,
        |  t - lag(t) OVER ord AS gap_us
        |FROM e
        |WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |       ord AS (PARTITION BY user_id ORDER BY t, event_id)
        |ORDER BY event_id""".stripMargin),

    // §2.6 per-group z-score anomaly flags (r9): DECIMAL-exact moments
    // broadcast back onto the rows; |z| > 3 marks outliers. Events never
    // shuffle — only the 5-row stats table moves.
    Case("q_anomaly", (s, dir) => {
      graft.operators.TimeSeries.zScores(
          Tables.load(s, dir, "events").select("event_id", "event_type", "value"),
          Seq("event_type"), "value")
        .select("event_id", "event_type", "value", "z", "is_anomaly")
        .orderBy("event_id")
    }, oracle =
      """WITH s AS (
        |  SELECT event_type, count(value) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sm,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type AS event_type, value,
        |  CASE WHEN sq / n - (sm / n) * (sm / n) > 0
        |       THEN (value - sm / n) / sqrt(sq / n - (sm / n) * (sm / n)) END AS z,
        |  abs(CASE WHEN sq / n - (sm / n) * (sm / n) > 0
        |       THEN (value - sm / n) / sqrt(sq / n - (sm / n) * (sm / n)) END) > 3.0
        |    AS is_anomaly
        |FROM events e JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin),

    // §2.5 watermark-windowed aggregation (same plan batch/streaming;
    // streaming path spec-tested with MemoryStream)
    Case("q_window_agg", (s, dir) => {
      val events = graft.streaming.StreamingOps.withEventTime(
        Tables.load(s, dir, "events"), "ts", "et")
      graft.streaming.StreamingOps.windowedAgg(events, "et", "1 hour",
          Seq(count(lit(1)).as("n"), dsum("value").as("sum_value")),
          keys = Seq("event_type"))
        .select(col("window.start").cast("long").as("bucket_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("bucket_start", "event_type")
    }, oracle = hourlyWindow),

    // §2.5 SLIDING-window aggregation (r19; VERDICT r18 #2: the
    // slide_duration leg of StreamingOps.windowedAgg was implemented and
    // config-exposed but had zero query/spec coverage). One-hour windows
    // sliding every 30 minutes: window/slide = 2, so every event lands in
    // exactly TWO windows — the oracle replays that as each event's
    // 30-minute bucket unioned with offsets {0s, 1800s} (pure integer
    // epoch arithmetic; Spark's window() aligns to the epoch, so the
    // bucket boundaries coincide by construction). Same dsum DECIMAL
    // contract as q_window_agg.
    Case("q_window_sliding", (s, dir) => {
      val events = graft.streaming.StreamingOps.withEventTime(
        Tables.load(s, dir, "events"), "ts", "et")
      graft.streaming.StreamingOps.windowedAgg(events, "et", "1 hour",
          Seq(count(lit(1)).as("n"), dsum("value").as("sum_value")),
          keys = Seq("event_type"), slideDuration = Some("30 minutes"))
        .select(col("window.start").cast("long").as("bucket_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("bucket_start", "event_type")
    }, oracle =
      // each event belongs to exactly two 1-hour/30-minute-slide windows:
      // its 30-minute bucket start, and that start minus 1800 s
      """SELECT (epoch_ns(ts) // 1800000000000) * 1800 - o.off AS bucket_start,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1800 AS BIGINT))) o(off)
        |GROUP BY 1, 2
        |ORDER BY bucket_start, event_type""".stripMargin),

    // §5 time-windowed scan (r9; VERDICT r8 #8): a fixed 10-day window
    // over events with the predicate on the NORMALIZED epoch-nanos ts.
    // The TsPushdown optimizer rule rewrites the filter back onto the raw
    // timestamp attribute so the parquet scan prunes row groups
    // (plan-asserted in TsPushdownSpec); without it the normalization
    // projection forces a full read of every row group.
    Case("q_ts_prune", (s, dir) => {
      def ns(iso: String) = java.time.Instant.parse(iso).getEpochSecond * 1000000000L
      Tables.load(s, dir, "events")
        .where(col("ts") >= lit(ns("2024-01-10T00:00:00Z")) &&
          col("ts") < lit(ns("2024-01-20T00:00:00Z")))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n"), dsum("value").as("sum_value"))
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // §2.6 as-of (point-in-time) join (r9): latest purchase at-or-before
    // each click per user — union-tag algorithm (ONE key shuffle + ONE
    // in-partition sort over |L|+|R|, no per-key cartesian; AsOfJoin
    // scaladoc). Micros both sides (exact under every ts encoding).
    Case("q_asof_join", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("ts_us"),
          col("value"), expr("r_ts DIV 1000").as("purchase_ts_us"),
          col("r_value").as("purchase_value"))
        .orderBy("event_id")
    }, oracle = asOfLatestPurchase),

    // §2.6 as-of join with a match tolerance (r9): purchases older than
    // 1 hour before the click don't count — the stale-feature guard.
    Case("q_asof_tolerance", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts",
          tolerance = Some(3600L * 1000000000L))
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("ts_us"),
          expr("r_ts DIV 1000").as("purchase_ts_us"),
          col("r_value").as("purchase_value"))
        .orderBy("event_id")
    }, oracle =
      """WITH a AS (
        |  SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        |    epoch_us(r.ts) AS pts, r.value AS pval
        |  FROM (SELECT * FROM events WHERE event_type = 'click') l
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |    ON l.user_id = r.user_id AND l.ts >= r.ts)
        |SELECT event_id, user_id, ts_us,
        |  CASE WHEN pts >= ts_us - 3600000000 THEN pts END AS purchase_ts_us,
        |  CASE WHEN pts >= ts_us - 3600000000 THEN pval END AS purchase_value
        |FROM a ORDER BY event_id""".stripMargin),

    // §2.6 KEYLESS binned range join (r9): every event within ±5 min of
    // any high-severity error — no equality key, the shape Spark would
    // otherwise execute as a cartesian. RangeJoin bins the time axis
    // (pure-long arithmetic, exact at epoch-nano scale) and equi-joins on
    // the bin id; plan-asserted BNLJ/cartesian-free in RangeJoinSpec.
    Case("q_range_join", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val points = ev.select(col("event_id"), col("ts"), col("event_type"))
      val anchors = ev.where(col("event_type") === "error" && col("value") > 250)
        .select(col("event_id").as("anchor_id"),
          (col("ts") - lit(300000000000L)).as("w_start"),
          (col("ts") + lit(300000000000L)).as("w_end"))
      graft.operators.RangeJoin.pointInInterval(points, anchors,
          "ts", "w_start", "w_end", binWidth = 600000000000L)
        .select(col("event_id"), col("i_anchor_id").as("anchor_id"),
          col("event_type"), expr("ts DIV 1000").as("ts_us"))
        .orderBy("event_id", "anchor_id")
    }, oracle =
      """WITH p AS (SELECT event_id, epoch_us(ts) AS t_us, event_type FROM events),
        |     a AS (SELECT event_id AS anchor_id, epoch_us(ts) AS a_us FROM events
        |           WHERE event_type = 'error' AND value > 250)
        |SELECT p.event_id AS event_id, anchor_id, event_type, t_us AS ts_us
        |FROM p JOIN a ON t_us >= a_us - 300000000 AND t_us <= a_us + 300000000
        |ORDER BY event_id, anchor_id""".stripMargin),

    // §2.6 keyless interval-overlap join (r9): error windows that overlap
    // signup windows. Canonical-bin rule emits each overlapping pair
    // exactly once — no distinct pass after the binned equi-join.
    // (value > 100, not 250: the tighter filter left ZERO qualifying
    // windows at sf0.001/sf0.01, making the driver check vacuous — r9
    // ADVICE. > 100 yields overlaps at every scale factor.)
    Case("q_range_overlap", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      def win(tpe: String, idCol: String, sCol: String, eCol: String) =
        ev.where(col("event_type") === tpe && col("value") > 100)
          .select(col("event_id").as(idCol), col("ts").as(sCol),
            (col("ts") + lit(600000000000L)).as(eCol))
      graft.operators.RangeJoin.intervalOverlap(
          win("error", "err_id", "e_start", "e_end"),
          win("signup", "sig_id", "s_start", "s_end"),
          "e_start", "e_end", "s_start", "s_end", binWidth = 600000000000L)
        .select(col("err_id"), col("r_sig_id").as("sig_id"))
        .orderBy("err_id", "sig_id")
    }, oracle =
      """WITH e AS (SELECT event_id AS err_id, epoch_us(ts) AS s,
        |             epoch_us(ts) + 600000000 AS t
        |           FROM events WHERE event_type = 'error' AND value > 100),
        |     g AS (SELECT event_id AS sig_id, epoch_us(ts) AS s,
        |             epoch_us(ts) + 600000000 AS t
        |           FROM events WHERE event_type = 'signup' AND value > 100)
        |SELECT err_id, sig_id FROM e JOIN g ON e.s <= g.t AND g.s <= e.t
        |ORDER BY err_id, sig_id""".stripMargin),

    // §2.5 sessionization, batch/SQL form (streaming form spec-tested).
    // Output bounds in micros: DuckDB's epoch_ns on TIMESTAMP_NS values
    // loses sub-microsecond digits, so both sides emit micros.
    Case("q_sessionize", (s, dir) => {
      graft.streaming.StreamingOps.sessionizeBatch(
          Tables.load(s, dir, "events"), "user_id", "ts", gapNs = 1800L * 1000000000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          expr("start_ns DIV 1000").as("start_us"),
          expr("end_ns DIV 1000").as("end_us"))
        .orderBy("user_id", "session_idx")
    }, oracle = sessions30m),

    // §2.5 event-time interval join (Flink-style): purchases within one
    // hour after a click by the same user. Exact `div 1000` ns->us on
    // both sides so DuckDB reproduces the boundary arithmetic bit-exactly.
    Case("q_interval_join", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          timestamp_micros(expr("ts div 1000")).as("c_et"))
      val buys = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("buy_id"),
          timestamp_micros(expr("ts div 1000")).as("b_et"), col("value"))
      graft.streaming.StreamingOps.intervalJoin(clicks, buys, Seq("user_id"),
          "c_et", "b_et", "0 seconds", "1 hour")
        .select("user_id", "click_id", "buy_id", "value")
        .orderBy("user_id", "click_id", "buy_id")
    }, oracle =
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS c_us
        |           FROM events WHERE event_type = 'click'),
        |     b AS (SELECT user_id, event_id AS buy_id, epoch_ns(ts) // 1000 AS b_us, value
        |           FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id AS user_id, click_id, buy_id, value
        |FROM c JOIN b ON c.user_id = b.user_id
        |  AND b_us >= c_us AND b_us <= c_us + 3600000000
        |ORDER BY c.user_id, click_id, buy_id""".stripMargin)
  )
}

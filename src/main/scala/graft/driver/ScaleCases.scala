package graft
package driver

import org.apache.spark.sql.functions._

import graft.operators._
import graft.driver.Fixtures._

/** Scale-layout tooling (§5): salted and co-located joins, z-order keys. */
object ScaleCases {

  val cases: Seq[Case] = Seq(
    // §5 skew tooling: salted join must produce exactly the plain join's
    // result (oracle = unsalted SQL join + aggregation)
    Case("q_salted_join", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select("l_partkey", "l_quantity")
      val part = Tables.load(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      ScaleOps.saltedJoin(li, part, Seq("l_partkey"), saltFactor = 8)
        .groupBy("p_brand")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    }, oracle =
      """SELECT p_brand,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // §5 co-located bucket join (r9): both sides written hash-bucketed on
    // the join key (external tables under /tmp), so the fact-to-fact join
    // needs NO shuffle exchange on either side — the 100 TB answer when a
    // key is joined repeatedly. Shuffle-free plan is asserted in
    // ScaleOpsSpec; here the joined data itself is oracle-checked. Tables
    // are written once per process (catalog-guarded), so bench reps time
    // the join, not the table build.
    //
    // r13 (VERDICT r12 #3): the bucket count follows writeBucketed's
    // sizing rule INSIDE the fixture — proportional to source volume
    // (constant per-bucket bytes), floored at 8 — instead of a hard-coded
    // 8 that silently capped the sf1 sweep's join at 8-wide on 32 cores
    // (6.45x for 10x data). Bucket count never changes the RESULT, only
    // the layout's parallelism ceiling, so the oracle is unaffected.
    Case("q_colocated_join", (s, dir) => {
      val tok = sfTag(dir)
      // ~1.3 MiB of source lineitem per bucket: anchors the gate scales
      // at the historical 8 buckets (sf0.01 1 MiB, sf0.1 10.8 MiB) and
      // scales 10x data -> ~10x buckets above that
      val liBytes = {
        val f = new java.io.File(dir, "lineitem.parquet")
        if (f.isDirectory) Option(f.listFiles()).map(_.map(_.length).sum).getOrElse(f.length)
        else f.length
      }
      val buckets = math.max(8, math.min(256, (liBytes / (1340L * 1024)).toInt))
      val (tLi, tOrd) = (s"graft_bkt_li_${tok}_b$buckets", s"graft_bkt_ord_${tok}_b$buckets")
      if (!s.catalog.tableExists(tLi) || !s.catalog.tableExists(tOrd)) {
        val base = s"/tmp/graft_fixtures/bkt_${tok}_b$buckets"
        ScaleOps.writeBucketed(
          Tables.load(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
          tLi, buckets, Seq("l_orderkey"), Some(s"$base/lineitem"))
        ScaleOps.writeBucketed(
          Tables.load(s, dir, "orders")
            .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
          tOrd, buckets, Seq("l_orderkey"), Some(s"$base/orders"))
      }
      ScaleOps.colocatedJoin(s, tLi, tOrd, Seq("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // §5 z-order values (r9): Morton interleave of (user_id, value
    // bucket) — the data-skipping layout key behind zorderWrite (layout +
    // per-file bbox locality are spec-asserted; here the curve value
    // itself is oracle-checked bit for bit). Pure codegen'd bit
    // arithmetic, no UDF.
    Case("q_zorder", (s, dir) => {
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          floor(col("value")).cast("long").as("__vb"))
        .select(col("event_id"),
          ScaleOps.zValue2(col("user_id"), col("__vb")).as("z_val"))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(0, 21), i ->
        |    (((user_id >> i) & 1) << (2 * i)) |
        |    (((CAST(floor(value) AS BIGINT) >> i) & 1) << (2 * i + 1))
        |  )) AS BIGINT) AS z_val
        |FROM events ORDER BY event_id""".stripMargin),

    // §5 3-D z-order values (r12; VERDICT r11 #5): Morton interleave of
    // (user_id, value bucket, day-of-epoch) at 15 bits/dim — the
    // N-dimensional curve key (file pruning on ANY of three filter
    // columns); per-file bbox VOLUME locality is spec-asserted, the
    // curve value is oracle-checked bit for bit here.
    Case("q_zorder3", (s, dir) => {
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          ScaleOps.zValueN(Seq(col("user_id"),
            floor(col("value")).cast("long"),
            expr("ts div 86400000000000")), bits = 15).as("z_val"))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(0, 15), i ->
        |    (((user_id >> i) & 1) << (3 * i)) |
        |    (((CAST(floor(value) AS BIGINT) >> i) & 1) << (3 * i + 1)) |
        |    ((((epoch_us(ts) // 86400000000) >> i) & 1) << (3 * i + 2))
        |  )) AS BIGINT) AS z_val
        |FROM events ORDER BY event_id""".stripMargin)
  )
}

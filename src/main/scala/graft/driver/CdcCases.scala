package graft
package driver

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._
import graft.sources.{CdcFormats, Jdbc}
import graft.driver.Fixtures._

/** CDC (§2.4–2.5): envelope parse and write, Derby capture (batch and
  * DSv2 stream), apply, schema evolution, SCD2, MERGE INTO and snapshot diff.
  */
object CdcCases {

  /** Shared oracle of q_cdc_debezium, q_cdc_maxwell, q_cdc_ogg and
    * q_cdc_canal: the row-kind-tagged changelog every orders envelope parses
    * back to (F -> +I, O -> -U/+U with the pre-image price, P -> -D).
    */
  private val ordersChangelog: String =
    """SELECT o_orderkey, o_totalprice, '+I' AS __row_kind FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL SELECT o_orderkey, o_totalprice - 1.0, '-U' FROM orders WHERE o_orderstatus = 'O'
      |UNION ALL SELECT o_orderkey, o_totalprice, '+U' FROM orders WHERE o_orderstatus = 'O'
      |UNION ALL SELECT o_orderkey, o_totalprice, '-D' FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY o_orderkey, __row_kind""".stripMargin

  /** Shared oracle of q_cdc_capture and q_cdc_v2: nation after the capture
    * mutation script (region-0 renames, keys >= 20 deleted, three inserts);
    * the batch capture and the DSv2 stream must reach the same end state.
    */
  private val nationCaptureEndState: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_regionkey = 0 THEN n_name || '_x' ELSE n_name END AS n_name,
      |  CAST(n_regionkey AS BIGINT) AS n_regionkey
      |FROM nation WHERE n_nationkey < 20
      |UNION ALL
      |SELECT * FROM (VALUES (CAST(100 AS BIGINT), 'new_100', CAST(0 AS BIGINT)),
      |  (CAST(101 AS BIGINT), 'new_101', CAST(1 AS BIGINT)),
      |  (CAST(102 AS BIGINT), 'new_102', CAST(2 AS BIGINT)))
      |  AS t(n_nationkey, n_name, n_regionkey)
      |ORDER BY n_nationkey""".stripMargin

  val cases: Seq[Case] = Seq(
    // §2.6 SCD2 dimension history (r9): the CDC changelog's other half —
    // applyCdcBatch answers "state now", Scd2 answers "state at any ord".
    // Synthesized nation changelog (insert, update evens, delete fifths,
    // reinsert tenths); versions carry half-open validity intervals. ONE
    // key exchange + lead window, no self-join (plan-asserted in spec).
    Case("q_scd2", (s, dir) => {
      val kind = graft.operators.RowKindOps.RowKindCol
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      val ch = nation.withColumn(kind, lit("+I")).withColumn("ord", lit(1L))
        .unionByName(nation.where(pmod(col("n_nationkey"), lit(2)) === 0)
          .withColumn("n_name", concat(col("n_name"), lit("_v2")))
          .withColumn(kind, lit("+U")).withColumn("ord", lit(2L)))
        .unionByName(nation.where(pmod(col("n_nationkey"), lit(5)) === 0)
          .withColumn("n_name", lit(null).cast("string"))
          .withColumn(kind, lit("-D")).withColumn("ord", lit(3L)))
        .unionByName(nation.where(pmod(col("n_nationkey"), lit(10)) === 0)
          .withColumn("n_name", concat(col("n_name"), lit("_v3")))
          .withColumn(kind, lit("+I")).withColumn("ord", lit(4L)))
      graft.operators.Scd2.fromChangelog(ch, Seq("n_nationkey"), "ord")
        .orderBy("n_nationkey", "valid_from")
    }, oracle =
      """WITH ch AS (
        |  SELECT n_nationkey, n_name, CAST(1 AS BIGINT) AS ord, '+I' AS k FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name || '_v2', 2, '+U' FROM nation WHERE n_nationkey % 2 = 0
        |  UNION ALL
        |  SELECT n_nationkey, NULL, 3, '-D' FROM nation WHERE n_nationkey % 5 = 0
        |  UNION ALL
        |  SELECT n_nationkey, n_name || '_v3', 4, '+I' FROM nation WHERE n_nationkey % 10 = 0),
        |led AS (
        |  SELECT *, lead(ord) OVER (PARTITION BY n_nationkey ORDER BY ord) AS valid_to
        |  FROM ch)
        |SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  ord AS valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM led WHERE k <> '-D'
        |ORDER BY n_nationkey, valid_from""".stripMargin),

    // §2.5+§2.4 streaming CDC -> SCD2 composition (r12; VERDICT r11 #4):
    // the warehouse-history story end to end — captureStream (hybrid
    // snapshot->changelog as ONE streaming job) delivers into a parquet
    // changelog accumulator via foreachBatch, and Scd2.fromChangelog
    // turns the accumulated stream into versioned dimension history.
    // CL_SEQ values are runtime-assigned, so the validity ord is
    // normalized to a per-key VERSION index for the closed-form oracle;
    // interval semantics (open/close/delete) stay fully on the hash path.
    Case("q_stream_scd2", (s, dir) => withStreamPartitions(s) {
      import graft.sources.CdcCapture
      val url = "jdbc:derby:memory:graftscd2s;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      val st = conn.createStatement()
      CdcCapture.reset(url, "NATION_SCD") // triggers->CL->table, rep-safe
      st.executeUpdate(
        """CREATE TABLE NATION_SCD (N_NATIONKEY BIGINT NOT NULL PRIMARY KEY,
          |N_NAME VARCHAR(64), N_REGIONKEY BIGINT)""".stripMargin)
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("N_NATIONKEY"),
          col("n_name").as("N_NAME"), col("n_regionkey").cast("long").as("N_REGIONKEY"))
      Jdbc.write(nation, Jdbc.JdbcSinkConfig(url, "NATION_SCD", mode = "append"))
      CdcCapture.installChangelog(url, "NATION_SCD")
      val base = s"/tmp/graft_fixtures/streamscd2_${sfTag(dir)}"
      rmTree(new java.io.File(base))
      val acc = s"$base/changelog"
      val nSnap = nation.count()
      val nChanges = 2 * nation.where(col("N_REGIONKEY") === 0).count() +
        nation.where(col("N_NATIONKEY") >= 20).count() + 3
      // poll the accumulator; a read racing an in-flight append counts 0.
      // r21 note: faster polling was tried (150->50 ms sleep, 10->25
      // polls/s) and REVERTED — more capture polls mean more micro-batches,
      // each appending another (often empty) parquet part that accCount()
      // then re-lists, so the reps ASCENDED instead of dropping (measured:
      // medians 1.94-2.0 -> 2.1-3.8). The original cadence is the floor.
      def accCount(): Long =
        try s.read.parquet(acc).count() catch { case _: Throwable => 0L }
      def waitFor(target: Long): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (accCount() < target && System.currentTimeMillis() < deadline)
          Thread.sleep(150)
      }
      val q = CdcCapture.captureStream(s, url, "NATION_SCD", "N_NATIONKEY",
        chunkSize = 8, statePath = s"$base/state.properties",
        onBatch = (df, _) => df.write.mode("append").parquet(acc),
        pollsPerSecond = 10.0)
      try {
        waitFor(nSnap) // snapshot delivered before the mutation script runs
        st.executeUpdate("UPDATE NATION_SCD SET N_NAME = N_NAME || '_x' WHERE N_REGIONKEY = 0")
        st.executeUpdate("DELETE FROM NATION_SCD WHERE N_NATIONKEY >= 20")
        st.executeUpdate(
          "INSERT INTO NATION_SCD VALUES (100, 'new_100', 0), (101, 'new_101', 1), (102, 'new_102', 2)")
        waitFor(nSnap + nChanges)
      } finally { q.stop(); st.close(); conn.close() }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("N_NATIONKEY").orderBy("valid_from")
      // the snapshot's parts and the changelog's order their columns
      // differently; a fixed schema keeps the plan from depending on which
      // part file schema inference reads first
      val changelog = s.read.schema(StructType(Seq(
        StructField("N_NATIONKEY", LongType), StructField("N_NAME", StringType),
        StructField("N_REGIONKEY", LongType), StructField("CL_SEQ", LongType),
        StructField(RowKindOps.RowKindCol, StringType)))).parquet(acc)
      graft.operators.Scd2.fromChangelog(changelog, Seq("N_NATIONKEY"), "CL_SEQ")
        .select(col("N_NATIONKEY").as("n_nationkey"), col("N_NAME").as("n_name"),
          col("N_REGIONKEY").as("n_regionkey"),
          row_number().over(w).cast("long").as("version"), col("is_current"))
        .orderBy("n_nationkey", "version")
    }, oracle =
      // closed-form SCD2 history of the captureStream mutation script:
      // every seeded key opens v1 (+I snapshot); region-0 keys get a v2
      // ('_x' update); keys >= 20 end with no current version (delete);
      // three inserted keys open a current v1. Version index replaces the
      // runtime CL_SEQ ord (normalized in the Spark query the same way).
      """WITH v1 AS (
        |  SELECT n_nationkey, n_name, n_regionkey, 1 AS version,
        |    (n_regionkey <> 0 AND n_nationkey < 20) AS is_current
        |  FROM nation),
        |v2 AS (
        |  SELECT n_nationkey, n_name || '_x' AS n_name, n_regionkey, 2 AS version,
        |    (n_nationkey < 20) AS is_current
        |  FROM nation WHERE n_regionkey = 0),
        |ins AS (
        |  SELECT k AS n_nationkey, 'new_' || k AS n_name, r AS n_regionkey,
        |    1 AS version, TRUE AS is_current
        |  FROM (VALUES (100, 0), (101, 1), (102, 2)) AS t(k, r))
        |SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  CAST(version AS BIGINT) AS version, is_current
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM ins)
        |ORDER BY n_nationkey, version""".stripMargin),

    // §2.4 CDC capture through the DataSource V2 STREAMING source (r9):
    // readStream.format("graft-cdc") — Spark's own micro-batch engine
    // drives the hybrid snapshot→changelog handoff (first batch = chunk
    // splits + window, offset = CL_SEQ head in Spark's WAL). The stream
    // delivers into a memory sink; the merged replay is oracle-checked
    // against the same closed-form end state as q_cdc_capture.
    Case("q_cdc_v2", (s, dir) => withStreamPartitions(s) {
      val url = "jdbc:derby:memory:graftcapv2;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      val st = conn.createStatement()
      graft.sources.CdcCapture.reset(url, "NATION_V2") // triggers->CL->table, rep-safe
      st.executeUpdate(
        """CREATE TABLE NATION_V2 (N_NATIONKEY BIGINT NOT NULL PRIMARY KEY,
          |N_NAME VARCHAR(64), N_REGIONKEY BIGINT)""".stripMargin)
      Jdbc.write(Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("N_NATIONKEY"),
          col("n_name").as("N_NAME"), col("n_regionkey").cast("long").as("N_REGIONKEY")),
        Jdbc.JdbcSinkConfig(url, "NATION_V2", mode = "append"))
      val name = s"cdc_v2_${sfTag(dir)}"
      val q = s.readStream.format("graft-cdc")
        .option("url", url).option("table", "NATION_V2")
        .option("pk", "N_NATIONKEY").option("chunkSize", "8").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", scratchCheckpoint(name)).outputMode("append").start()
      try {
        q.processAllAvailable() // snapshot batch
        st.executeUpdate("UPDATE NATION_V2 SET N_NAME = N_NAME || '_x' WHERE N_REGIONKEY = 0")
        st.executeUpdate("DELETE FROM NATION_V2 WHERE N_NATIONKEY >= 20")
        st.executeUpdate(
          "INSERT INTO NATION_V2 VALUES (100, 'new_100', 0), (101, 'new_101', 1), (102, 'new_102', 2)")
        q.processAllAvailable() // changelog batch
      } finally { q.stop(); st.close(); conn.close() }
      val all = s.table(name)
      val changes = s.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(
          all.where(col("CL_SEQ") > 0).collect(): _*)), all.schema)
      graft.streaming.StreamingOps.applyCdcBatch(
          all.where(col("CL_SEQ") === 0).select("N_NATIONKEY", "N_NAME", "N_REGIONKEY"),
          changes, Seq("N_NATIONKEY"), "CL_SEQ")
        .select(col("N_NATIONKEY").as("n_nationkey"), col("N_NAME").as("n_name"),
          col("N_REGIONKEY").as("n_regionkey"))
        .orderBy("n_nationkey")
    }, oracle = nationCaptureEndState),

    // §2.4 debezium-json CDC envelope -> row-kind-tagged change rows.
    // Envelope synthesized deterministically from orders, then parsed back.
    Case("q_cdc_debezium", (s, dir) => {
      val env = Tables.load(s, dir, "orders", fanOut = true).select(to_json(struct(
        when(col("o_orderstatus") === "O",
            struct(col("o_orderkey"), (col("o_totalprice") - 1.0d).as("o_totalprice")))
          .when(col("o_orderstatus") === "P", struct(col("o_orderkey"), col("o_totalprice")))
          .as("before"),
        when(col("o_orderstatus").isin("F", "O"),
            struct(col("o_orderkey"), col("o_totalprice")))
          .as("after"),
        when(col("o_orderstatus") === "F", "c")
          .when(col("o_orderstatus") === "O", "u").otherwise("d").as("op")
      )).as("json"))
      CdcFormats.parseDebezium(env, "json",
          new StructType().add("o_orderkey", LongType).add("o_totalprice", DoubleType))
        .orderBy("o_orderkey", "__row_kind")
    }, oracle = ordersChangelog),

    // §2.4 maxwell-json CDC envelope (single-row, old-patch pre-image)
    Case("q_cdc_maxwell", (s, dir) => {
      val env = Tables.load(s, dir, "orders", fanOut = true).select(to_json(struct(
        struct(col("o_orderkey"), col("o_totalprice")).as("data"),
        when(col("o_orderstatus") === "O",
          struct(lit(null).cast(LongType).as("o_orderkey"),
            (col("o_totalprice") - 1.0d).as("o_totalprice"))).as("old"),
        when(col("o_orderstatus") === "F", "insert")
          .when(col("o_orderstatus") === "O", "update").otherwise("delete").as("type")
      )).as("json"))
      CdcFormats.parseMaxwell(env, "json",
          new StructType().add("o_orderkey", LongType).add("o_totalprice", DoubleType))
        .orderBy("o_orderkey", "__row_kind")
    }, oracle = ordersChangelog),

    // §2.4 ogg-json CDC envelope
    Case("q_cdc_ogg", (s, dir) => {
      val env = Tables.load(s, dir, "orders", fanOut = true).select(to_json(struct(
        when(col("o_orderstatus").isin("O", "P"),
          struct(col("o_orderkey"),
            when(col("o_orderstatus") === "O", col("o_totalprice") - 1.0d)
              .otherwise(col("o_totalprice")).as("o_totalprice"))).as("before"),
        when(col("o_orderstatus").isin("F", "O"),
          struct(col("o_orderkey"), col("o_totalprice"))).as("after"),
        when(col("o_orderstatus") === "F", "I")
          .when(col("o_orderstatus") === "O", "U").otherwise("D").as("op_type")
      )).as("json"))
      CdcFormats.parseOgg(env, "json",
          new StructType().add("o_orderkey", LongType).add("o_totalprice", DoubleType))
        .orderBy("o_orderkey", "__row_kind")
    }, oracle = ordersChangelog),

    // §2.4 CDC write-side serialization (r10; VERDICT r9 #3): all four
    // envelope serializers on the hash path. A synthesized nation
    // changelog (+I all, -U/+U evens, -D fifths) runs through
    // toDebezium/Canal/Maxwell/OggJson; the oracle recomputes every
    // envelope STRING in DuckDB by plain concatenation — valid because
    // to_json emits struct fields in declaration order, omits null
    // fields (so insert ops carry only "after"), and the data values
    // (long key, letters-and-underscore name) need no JSON escaping.
    Case("q_cdc_write", (s, dir) => {
      val kind = graft.operators.RowKindOps.RowKindCol
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      val ch = nation.withColumn(kind, lit("+I"))
        .unionByName(nation.where(pmod(col("n_nationkey"), lit(2)) === 0)
          .withColumn(kind, lit("-U")))
        .unionByName(nation.where(pmod(col("n_nationkey"), lit(2)) === 0)
          .withColumn("n_name", concat(col("n_name"), lit("_v2")))
          .withColumn(kind, lit("+U")))
        .unionByName(nation.where(pmod(col("n_nationkey"), lit(5)) === 0)
          .withColumn(kind, lit("-D")))
      Seq("debezium" -> CdcFormats.toDebeziumJson(ch),
          "canal"    -> CdcFormats.toCanalJson(ch),
          "maxwell"  -> CdcFormats.toMaxwellJson(ch),
          "ogg"      -> CdcFormats.toOggJson(ch))
        .map { case (f, d) => d.select(lit(f).as("fmt"), col("json")) }
        .reduce(_ unionByName _)
        .orderBy("fmt", "json")
    }, oracle =
      """WITH ch AS (
        |  SELECT n_nationkey, n_name, '+I' AS k FROM nation
        |  UNION ALL SELECT n_nationkey, n_name, '-U' FROM nation WHERE n_nationkey % 2 = 0
        |  UNION ALL SELECT n_nationkey, n_name || '_v2', '+U' FROM nation WHERE n_nationkey % 2 = 0
        |  UNION ALL SELECT n_nationkey, n_name, '-D' FROM nation WHERE n_nationkey % 5 = 0),
        |r AS (SELECT k IN ('+I', '+U') AS ins,
        |        '{"n_nationkey":' || n_nationkey || ',"n_name":"' || n_name || '"}' AS rj
        |      FROM ch),
        |u AS (
        |  SELECT 'debezium' AS fmt, CASE WHEN ins
        |      THEN '{"after":' || rj || ',"op":"c"}'
        |      ELSE '{"before":' || rj || ',"op":"d"}' END AS json FROM r
        |  UNION ALL
        |  SELECT 'canal', '{"data":[' || rj || '],"type":' ||
        |    CASE WHEN ins THEN '"INSERT"' ELSE '"DELETE"' END || '}' FROM r
        |  UNION ALL
        |  SELECT 'maxwell', '{"data":' || rj || ',"type":' ||
        |    CASE WHEN ins THEN '"insert"' ELSE '"delete"' END || '}' FROM r
        |  UNION ALL
        |  SELECT 'ogg', CASE WHEN ins
        |      THEN '{"after":' || rj || ',"op_type":"I"}'
        |      ELSE '{"before":' || rj || ',"op_type":"D"}' END FROM r)
        |SELECT fmt, json FROM u ORDER BY fmt, json""".stripMargin),

    // §2.4 CDC SOURCE CAPTURE end-to-end (r8; VERDICT r7 gap #1): seed an
    // embedded-Derby table from nation, install the trigger changelog, take
    // a chunked watermark-bracketed snapshot, apply a scripted mutation
    // batch (update/delete/insert), stream the changes from the snapshot
    // offset, and merge. The oracle reconstructs the same final state from
    // nation directly — so the split plan, watermark arithmetic, trigger
    // row-kinds, offset handoff, and CDC merge are all on the hash path.
    Case("q_cdc_capture", (s, dir) => {
      import graft.sources.CdcCapture
      val url = "jdbc:derby:memory:graftcap;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      val st = conn.createStatement()
      CdcCapture.reset(url, "NATION_CAP") // triggers->CL->table, rep-safe
      st.executeUpdate(
        """CREATE TABLE NATION_CAP (N_NATIONKEY BIGINT NOT NULL PRIMARY KEY,
          |N_NAME VARCHAR(64), N_REGIONKEY BIGINT)""".stripMargin)
      Jdbc.write(Tables.load(s, dir, "nation") // distributed seed, no collect
        .select(col("n_nationkey").cast("long").as("N_NATIONKEY"),
          col("n_name").as("N_NAME"), col("n_regionkey").cast("long").as("N_REGIONKEY")),
        Jdbc.JdbcSinkConfig(url, "NATION_CAP", mode = "append"))
      CdcCapture.installChangelog(url, "NATION_CAP")
      val (snap, st0) = CdcCapture.snapshot(s, url, "NATION_CAP", "N_NATIONKEY", chunkSize = 8)
      st.executeUpdate("UPDATE NATION_CAP SET N_NAME = N_NAME || '_x' WHERE N_REGIONKEY = 0")
      st.executeUpdate("DELETE FROM NATION_CAP WHERE N_NATIONKEY >= 20")
      st.executeUpdate(
        "INSERT INTO NATION_CAP VALUES (100, 'new_100', 0), (101, 'new_101', 1), (102, 'new_102', 2)")
      st.close(); conn.close()
      val (changes, _) = CdcCapture.changesSince(s, url, st0)
      graft.streaming.StreamingOps.applyCdcBatch(snap, changes, Seq("N_NATIONKEY"), "CL_SEQ")
        .select(col("N_NATIONKEY").as("n_nationkey"), col("N_NAME").as("n_name"),
          col("N_REGIONKEY").as("n_regionkey"))
        .orderBy("n_nationkey")
    }, oracle = nationCaptureEndState),

    // §2.5 CDC APPLY on the hash path (r9; graduates the versioned-store
    // row's merge semantics): a deterministic +I/+U/-D changelog derived
    // from nation merges into the nation snapshot; latest-change-per-key
    // wins (the -D at ord 3 beats the +U at ord 2 for keys divisible by
    // 15), and the oracle recomputes the final state in closed form.
    Case("q_cdc_apply", (s, dir) => {
      val kind = graft.operators.RowKindOps.RowKindCol
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      val inserts = nation.where(col("n_regionkey") === 0)
        .select((col("n_nationkey") + 1000L).as("n_nationkey"),
          concat(col("n_name"), lit("_new")).as("n_name"), col("n_regionkey"))
        .withColumn(kind, lit("+I")).withColumn("__ord", lit(1L))
      val updates = nation.where(pmod(col("n_nationkey"), lit(3)) === 0)
        .select(col("n_nationkey"), upper(col("n_name")).as("n_name"),
          col("n_regionkey"))
        .withColumn(kind, lit("+U")).withColumn("__ord", lit(2L))
      val deletes = nation.where(pmod(col("n_nationkey"), lit(5)) === 0)
        .withColumn(kind, lit("-D")).withColumn("__ord", lit(3L))
      val changes = inserts.unionByName(updates).unionByName(deletes)
      graft.streaming.StreamingOps.applyCdcBatch(
          nation, changes, Seq("n_nationkey"), "__ord")
        .orderBy("n_nationkey")
    }, oracle =
      """SELECT * FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |    CASE WHEN n_nationkey % 3 = 0 THEN upper(n_name) ELSE n_name END AS n_name,
        |    CAST(n_regionkey AS BIGINT) AS n_regionkey
        |  FROM nation WHERE n_nationkey % 5 <> 0
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 1000 AS BIGINT), n_name || '_new',
        |    CAST(n_regionkey AS BIGINT)
        |  FROM nation WHERE n_regionkey = 0
        |) ORDER BY n_nationkey""".stripMargin),

    // §2.5 CDC SCHEMA EVOLUTION on the hash path (r9; graduates the
    // evolveSchema half of the CDC-apply row): the changelog carries a
    // column the snapshot lacks; the merge must add it (nulls on
    // untouched rows, values on updated ones) — closed-form oracle.
    Case("q_cdc_evolve", (s, dir) => {
      val kind = graft.operators.RowKindOps.RowKindCol
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      val updates = nation.where(pmod(col("n_nationkey"), lit(2)) === 0)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          (col("n_nationkey") * 100L).as("n_population"))
        .withColumn(kind, lit("+U")).withColumn("__ord", lit(1L))
      graft.streaming.StreamingOps.applyCdcBatch(
          nation, updates, Seq("n_nationkey"), "__ord", evolveSchema = true)
        .orderBy("n_nationkey")
    }, oracle =
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  CASE WHEN n_nationkey % 2 = 0 THEN CAST(n_nationkey * 100 AS BIGINT)
        |       ELSE NULL END AS n_population
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // §2.4 file-side MERGE INTO (r9): the Delta/Iceberg upsert shape on a
    // plain parquet dir — fresh target written per run (the merge mutates
    // it), row-kind changelog applied set-wise, atomic double-rename
    // swap, result read back and oracle-checked closed-form.
    Case("q_merge_into", (s, dir) => {
      val base = s"/tmp/graft_fixtures/merge_${sfTag(dir)}/nation"
      val kind = graft.operators.RowKindOps.RowKindCol
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      nation.write.mode("overwrite").parquet(base)
      val changes = nation.where(pmod(col("n_nationkey"), lit(2)) === 0)
          .withColumn("n_name", concat(col("n_name"), lit("_u")))
          .withColumn(kind, lit("+U")).withColumn("__ord", lit(1L))
        .unionByName(nation.where(pmod(col("n_nationkey"), lit(5)) === 0)
          .withColumn(kind, lit("-D")).withColumn("__ord", lit(2L)))
        .unionByName(nation.where(pmod(col("n_nationkey"), lit(7)) === 0)
          .select((col("n_nationkey") + 1000L).as("n_nationkey"),
            concat(lit("ins_"), col("n_name")).as("n_name"), col("n_regionkey"))
          .withColumn(kind, lit("+I")).withColumn("__ord", lit(3L)))
      graft.sinks.Sinks.mergeInto(s, base, changes, Seq("n_nationkey"), "__ord")
      s.read.parquet(base).orderBy("n_nationkey")
    }, oracle =
      """WITH m AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey % 2 = 0 THEN n_name || '_u' ELSE n_name END AS n_name,
        |    n_regionkey
        |  FROM nation WHERE n_nationkey % 5 <> 0
        |  UNION ALL
        |  SELECT n_nationkey + 1000, 'ins_' || n_name, n_regionkey
        |  FROM nation WHERE n_nationkey % 7 = 0)
        |SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM m ORDER BY n_nationkey""".stripMargin),

    // §2.6 keyed snapshot DIFF (r10): recover the change set between two
    // materialized table versions — the QA complement to SCD2/MERGE
    // (those apply known changes; this audits what a pipeline change
    // actually rewrote). One full-outer key join; per-column null-safe
    // compare. Synthesized new version: evens renamed, fifths deleted,
    // three keys inserted.
    Case("q_snapshot_diff", (s, dir) => {
      import s.implicits._
      val old = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      val neu = old.where(pmod(col("n_nationkey"), lit(5)) =!= 0)
        .withColumn("n_name", when(pmod(col("n_nationkey"), lit(2)) === 0,
          concat(col("n_name"), lit("_v2"))).otherwise(col("n_name")))
        .unionByName(Seq((100L, "new_100", 0L), (101L, "new_101", 1L),
          (102L, "new_102", 2L)).toDF("n_nationkey", "n_name", "n_regionkey"))
      graft.operators.Diff.snapshotDiff(old, neu, Seq("n_nationkey"))
        .orderBy("n_nationkey")
    }, oracle =
      """WITH o AS (SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |             CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation),
        |n AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey % 2 = 0 THEN n_name || '_v2' ELSE n_name END AS n_name,
        |    n_regionkey
        |  FROM o WHERE n_nationkey % 5 <> 0
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(100 AS BIGINT), 'new_100', CAST(0 AS BIGINT)),
        |    (CAST(101 AS BIGINT), 'new_101', CAST(1 AS BIGINT)),
        |    (CAST(102 AS BIGINT), 'new_102', CAST(2 AS BIGINT)))
        |    AS t(n_nationkey, n_name, n_regionkey))
        |SELECT coalesce(o.n_nationkey, n.n_nationkey) AS n_nationkey,
        |  coalesce(o.n_nationkey IS NOT NULL AND n.n_nationkey IS NOT NULL
        |    AND o.n_name IS DISTINCT FROM n.n_name, false) AS n_name_changed,
        |  coalesce(o.n_nationkey IS NOT NULL AND n.n_nationkey IS NOT NULL
        |    AND o.n_regionkey IS DISTINCT FROM n.n_regionkey, false) AS n_regionkey_changed,
        |  CASE WHEN o.n_nationkey IS NULL THEN 'added'
        |       WHEN n.n_nationkey IS NULL THEN 'removed'
        |       WHEN o.n_name IS DISTINCT FROM n.n_name
        |         OR o.n_regionkey IS DISTINCT FROM n.n_regionkey THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.n_nationkey = n.n_nationkey
        |ORDER BY n_nationkey""".stripMargin),

    // §2.4 canal-json CDC envelope (old[] patch pre-image reconstruction)
    Case("q_cdc_canal", (s, dir) => {
      val env = Tables.load(s, dir, "orders", fanOut = true).select(to_json(struct(
        array(struct(col("o_orderkey"), col("o_totalprice"))).as("data"),
        when(col("o_orderstatus") === "O",
          array(struct(lit(null).cast(LongType).as("o_orderkey"),
            (col("o_totalprice") - 1.0d).as("o_totalprice")))).as("old"),
        when(col("o_orderstatus") === "F", "INSERT")
          .when(col("o_orderstatus") === "O", "UPDATE").otherwise("DELETE").as("type")
      )).as("json"))
      CdcFormats.parseCanal(env, "json",
          new StructType().add("o_orderkey", LongType).add("o_totalprice", DoubleType))
        .orderBy("o_orderkey", "__row_kind")
    }, oracle = ordersChangelog)
  )
}

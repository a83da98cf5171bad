package graft
package driver

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{FileSources, Jdbc}
import graft.sinks.Sinks
import graft.driver.Fixtures._

/** Sinks and the Pipeline runner (§2.4): dead letters, compaction, JDBC
  * upsert, save modes, asserts and JSON/HOCON jobs.
  */
object SinkCases {

  val cases: Seq[Case] = Seq(
    // §2.4 DEAD-LETTER read (r8; VERDICT r7 #8): a JSON-lines fixture is
    // synthesized from orders with every 13th row corrupted (truncated
    // mid-object); readWithDeadLetter routes the broken lines to a DLQ
    // text sink and returns the clean rows. The oracle recomputes the
    // clean set directly from orders, so the PERMISSIVE-parse routing is
    // on the hash path; DLQ payload fidelity stays spec-asserted
    // (FileSourcesSpec).
    Case("q_deadletter", (s, dir) => {
      val base = s"/tmp/graft_fixtures/dlq_${sfTag(dir)}"
      ensureFixture(s"$base/src", sourceToken(dir, "orders")) {
        // single-file feed (r22: the r21 multi-file layout driver-regressed
        // 0.67x at 32 cores; text files are splittable, so one file costs
        // nothing at scale — see streamFixture)
        Tables.load(s, dir, "orders").select(
          when(pmod(col("o_orderkey"), lit(13)) === 0,
              concat(lit("{\"o_orderkey\": "), col("o_orderkey").cast("string"),
                lit(", \"o_cust"))) // truncated mid-key: unparseable
            .otherwise(to_json(struct(col("o_orderkey"), col("o_custkey"),
              col("o_orderstatus"))))
            .as("value"))
          .write.mode("overwrite").text(s"$base/src")
      }
      // the DLQ writes in append mode (a real pipeline accumulates); the
      // fixture run starts clean so reps don't re-append the same payloads
      rmTree(new java.io.File(s"$base/dlq"))
      val schema = new StructType().add("o_orderkey", LongType)
        .add("o_custkey", LongType).add("o_orderstatus", StringType)
      FileSources.readWithDeadLetter(s,
          FileSources.FileSourceConfig(s"$base/src", "json", Some(schema)),
          dlqPath = s"$base/dlq")
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderkey % 13 <> 0
        |ORDER BY o_orderkey""".stripMargin),

    // §2.4 SMALL-FILE COMPACTION (r8; VERDICT r7 #8): lineitem is written
    // as 64 tiny parquet files, compacted into 1 (10 GiB target), and the
    // post-swap directory is re-read and aggregated; file counts before and
    // after ride along as columns so the oracle pins both the data digest
    // and the 64 -> 1 layout change. Compaction mutates the directory, so
    // each run gets a fresh WORK copy — but the 64-file build itself is a
    // cached pristine fixture, and the per-run reset is a file copy: the
    // bench measures Sinks.compact, not repartition(64).write (r9, VERDICT
    // r8 #7; the r8 timing was ~90% fixture rebuild).
    Case("q_compact", (s, dir) => {
      val base = s"/tmp/graft_fixtures/compact_${sfTag(dir)}"
      ensureFixture(s"$base/pristine", sourceToken(dir, "lineitem")) {
        Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
          .repartition(64)
          .write.mode("overwrite").parquet(s"$base/pristine")
      }
      val path = s"$base/work"
      rmTree(new java.io.File(path))
      new java.io.File(path).mkdirs()
      new java.io.File(s"$base/pristine").listFiles().foreach { f =>
        if (f.isFile && !f.getName.startsWith("_"))
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(path, f.getName))
      }
      val (before, after) =
        Sinks.compact(s, path, "parquet", targetFileBytes = 10L * 1024 * 1024 * 1024)
      s.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("long").as("n"),
          dsum("l_quantity").as("sum_qty"),
          sum(col("l_orderkey")).cast("long").as("sum_okey"))
        .withColumn("files_before", lit(before).cast("long"))
        .withColumn("files_after", lit(after).cast("long"))
        .orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(64 AS BIGINT) AS files_before, CAST(1 AS BIGINT) AS files_after
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2.4 JDBC primary-key upsert (r8): seed Derby from nation, upsert a
    // change batch (region-1 renames + 3 fresh keys) TWICE — the
    // double-apply puts idempotency on the hash path — and read back.
    Case("q_jdbc_upsert", (s, dir) => {
      import s.implicits._
      val url = "jdbc:derby:memory:graftup;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      val st = conn.createStatement()
      try { st.executeUpdate("DROP TABLE NATION_UP"); () }
      catch { case _: java.sql.SQLException => () } // absent on first run
      st.executeUpdate(
        """CREATE TABLE NATION_UP (N_NATIONKEY BIGINT NOT NULL PRIMARY KEY,
          |N_NAME VARCHAR(64), N_REGIONKEY BIGINT)""".stripMargin)
      st.close(); conn.close()
      val nation = Tables.load(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("N_NATIONKEY"),
        col("n_name").as("N_NAME"), col("n_regionkey").cast("long").as("N_REGIONKEY"))
      val cfg = Jdbc.JdbcSinkConfig(url, "NATION_UP", mode = "append")
      Jdbc.write(nation, cfg)
      val changes = nation.where(col("N_REGIONKEY") === 1)
        .select(col("N_NATIONKEY"), concat(col("N_NAME"), lit("_v2")).as("N_NAME"),
          col("N_REGIONKEY"))
        .unionAll(Seq((200L, "new_200", 1L), (201L, "new_201", 2L), (202L, "new_202", 3L))
          .toDF("N_NATIONKEY", "N_NAME", "N_REGIONKEY"))
      Jdbc.upsert(changes, cfg, Seq("N_NATIONKEY"))
      Jdbc.upsert(changes, cfg, Seq("N_NATIONKEY")) // must be a no-op
      Jdbc.read(s, Jdbc.JdbcSourceConfig(url, table = Some("NATION_UP")))
        .select(col("N_NATIONKEY").as("n_nationkey"), col("N_NAME").as("n_name"),
          col("N_REGIONKEY").as("n_regionkey"))
        .orderBy("n_nationkey")
    }, oracle =
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CASE WHEN n_regionkey = 1 THEN n_name || '_v2' ELSE n_name END AS n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT * FROM (VALUES (CAST(200 AS BIGINT), 'new_200', CAST(1 AS BIGINT)),
        |  (CAST(201 AS BIGINT), 'new_201', CAST(2 AS BIGINT)),
        |  (CAST(202 AS BIGINT), 'new_202', CAST(3 AS BIGINT)))
        |  AS t(n_nationkey, n_name, n_regionkey)
        |ORDER BY n_nationkey""".stripMargin),

    // §2.4 FILE SINK round-trip (r9; graduates the file-sink row from
    // spec-only): nation written as partitioned csv through Sinks.writeFile
    // (quoting, header, partition dirs), read back through FileSources with
    // an explicit schema — the oracle pins byte-exact fidelity of the full
    // write→read cycle including the partition-column reconstruction.
    Case("q_file_sink", (s, dir) => {
      val base = s"/tmp/graft_fixtures/filesink_${sfTag(dir)}"
      rmTree(new java.io.File(base))
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      Sinks.writeFile(nation, Sinks.FileSinkConfig(base, "csv",
        partitionBy = Seq("n_regionkey"), options = Map("header" -> "true")))
      val schema = new StructType().add("n_nationkey", LongType)
        .add("n_name", StringType).add("n_regionkey", LongType)
      FileSources.read(s, FileSources.FileSourceConfig(base, "csv", Some(schema),
          options = Map("header" -> "true")))
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }, oracle =
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // §2.4 SAVE MODES on the hash path (r9; graduates the 13-case spec
    // matrix row): CREATE_SCHEMA_WHEN_NOT_EXIST+DROP_DATA writes nation,
    // a second DROP_DATA write proves the drop (no doubling), then
    // APPEND_DATA doubles it — the oracle pins exactly 2 copies, which
    // only holds if both the drop and the append semantics are right.
    Case("q_save_modes", (s, dir) => {
      import Sinks.{FileSinkConfig}
      import graft.sinks.SaveModes.{DataSaveMode, SchemaSaveMode}
      val base = s"/tmp/graft_fixtures/savemode_${sfTag(dir)}"
      rmTree(new java.io.File(base))
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      val cfg = FileSinkConfig(base, "parquet")
      Sinks.writeFileWithSaveMode(nation, cfg,
        SchemaSaveMode.CreateWhenNotExist, DataSaveMode.DropData)
      Sinks.writeFileWithSaveMode(nation, cfg,
        SchemaSaveMode.CreateWhenNotExist, DataSaveMode.DropData)
      Sinks.writeFileWithSaveMode(nation, cfg,
        SchemaSaveMode.ErrorWhenNotExist, DataSaveMode.AppendData)
      s.read.parquet(base)
        .groupBy("n_nationkey", "n_name", "n_regionkey")
        .agg(count(lit(1)).cast("long").as("copies"))
        .orderBy("n_nationkey")
    }, oracle =
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  CAST(2 AS BIGINT) AS copies
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // §2.4 ASSERT sink as data (r9; graduates the assert row): the same
    // single-pass rule aggregation as the throwing sink, surfaced as one
    // row per rule — DuckDB recomputes every measured statistic and pass
    // verdict independently.
    Case("q_assert_sink", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      Sinks.assertReport(li, Seq(
          Sinks.RowCountBetween(1L, 10000000000L),
          Sinks.NotNull("l_orderkey"),
          Sinks.MinValue("l_quantity", 0.0),
          Sinks.MaxValue("l_quantity", 60.0),
          Sinks.MinLength("l_returnflag", 1),
          Sinks.MaxLength("l_returnflag", 1),
          Sinks.MatchesRegex("l_returnflag", "^[ANR]$"),
          Sinks.FieldType("l_quantity", "double")))
        .orderBy("rule_no")
    }, oracle =
      """WITH m AS (SELECT count(*) AS n,
        |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nulls,
        |  min(l_quantity) AS minq, max(l_quantity) AS maxq,
        |  min(length(l_returnflag)) AS minl, max(length(l_returnflag)) AS maxl,
        |  sum(CASE WHEN NOT regexp_matches(l_returnflag, '^[ANR]$')
        |      THEN 1 ELSE 0 END) AS badre
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INTEGER) AS rule_no, 'row_count_between' AS rule,
        |    '' AS field, CAST(n AS DOUBLE) AS measured,
        |    n BETWEEN 1 AND 10000000000 AS passed FROM m
        |  UNION ALL SELECT 1, 'not_null', 'l_orderkey', CAST(nulls AS DOUBLE),
        |    nulls = 0 FROM m
        |  UNION ALL SELECT 2, 'min_value', 'l_quantity', CAST(minq AS DOUBLE),
        |    minq >= 0.0 FROM m
        |  UNION ALL SELECT 3, 'max_value', 'l_quantity', CAST(maxq AS DOUBLE),
        |    maxq <= 60.0 FROM m
        |  UNION ALL SELECT 4, 'min_length', 'l_returnflag', CAST(minl AS DOUBLE),
        |    minl >= 1 FROM m
        |  UNION ALL SELECT 5, 'max_length', 'l_returnflag', CAST(maxl AS DOUBLE),
        |    maxl <= 1 FROM m
        |  UNION ALL SELECT 6, 'matches_regex', 'l_returnflag', CAST(badre AS DOUBLE),
        |    badre = 0 FROM m
        |  UNION ALL SELECT 7, 'field_type', 'l_quantity', CAST(NULL AS DOUBLE),
        |    TRUE FROM m
        |) ORDER BY rule_no""".stripMargin),

    // §2.4 declarative JSON pipeline end-to-end (source->SQL->sink plan)
    Case("q_pipeline", (s, dir) => {
      val cfg =
        s"""{
           |  "source": [{"plugin": "LocalFile", "plugin_output": "cust",
           |              "path": "$dir/customer.parquet",
           |              "file_format_type": "parquet"}],
           |  "transform": [
           |    {"plugin": "Sql", "plugin_input": "cust", "plugin_output": "sel",
           |     "query": "SELECT c_custkey, UPPER(c_mktsegment) AS seg, c_acctbal FROM cust WHERE c_acctbal > 5000"},
           |    {"plugin": "Replace", "plugin_input": "sel", "plugin_output": "rep",
           |     "replace_field": "seg", "pattern": "MACHINERY", "replacement": "MACH"}
           |  ]
           |}""".stripMargin
      graft.api.Pipeline.runJson(s, cfg)("rep").orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, REPLACE(UPPER(c_mktsegment), 'MACHINERY', 'MACH') AS seg, c_acctbal
        |FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin),

    // §2.4 NATIVE HOCON pipeline end-to-end — the reference's own config
    // syntax driving a source->SQL aggregation, oracle-checked
    Case("q_pipeline_hocon", (s, dir) => {
      val conf =
        s"""env { job.mode = "BATCH" }
           |source {
           |  LocalFile {
           |    plugin_output = "orders"
           |    path = "$dir/orders.parquet"
           |    file_format_type = "parquet"
           |  }
           |}
           |transform {
           |  Sql {
           |    plugin_input = "orders"
           |    plugin_output = "agg"
           |    query = "select o_orderstatus, count(*) as n, cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total from orders group by o_orderstatus order by o_orderstatus"
           |  }
           |}
           |""".stripMargin
      graft.api.Pipeline.runHocon(s, conf)("agg")
    }, oracle =
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // §2.5 config-level SESSIONIZATION on the hash path (r20, VERDICT r19
    // #5): the Sessionize config transform (Pipeline's wiring of
    // StreamingOps.sessionizeBatch, next to WindowAgg) driven from a
    // native HOCON job — LocalFile parquet feed (user_id + epoch-ns ts
    // from Tables.load, so the feed schema is scale-independent) ->
    // Sessionize (30-minute gap) -> Zeta Sql ns->us projection, checked
    // against the same closed-form DuckDB sessions as q_sessionize. The
    // streaming leg of the same transform (flatMapGroupsWithState through
    // runStreaming) is pinned by StreamingConfigSpec.
    Case("q_pipeline_sessionize", (s, dir) => {
      val tag = sfTag(dir)
      val base = s"/tmp/graft_fixtures/pipeline_sess_$tag"
      ensureFixture(s"$base/feed", sourceToken(dir, "events")) {
        Tables.load(s, dir, "events").select(col("user_id"), col("ts"))
          .write.mode("overwrite").parquet(s"$base/feed")
      }
      val conf =
        s"""env { job.mode = "BATCH" }
           |source {
           |  LocalFile {
           |    plugin_output = "ev"
           |    path = "$base/feed"
           |    file_format_type = "parquet"
           |  }
           |}
           |transform {
           |  Sessionize {
           |    plugin_input = "ev"
           |    plugin_output = "sess"
           |    user_field = "user_id"
           |    event_time_ns_field = "ts"
           |    session_gap = "30 minutes"
           |  }
           |  Sql {
           |    plugin_input = "sess"
           |    plugin_output = "out"
           |    query = "select user_id, session_idx, n_events, start_ns div 1000 as start_us, end_ns div 1000 as end_us from sess order by user_id, session_idx"
           |  }
           |}
           |""".stripMargin
      graft.api.Pipeline.runHocon(s, conf)("out")
    }, oracle = TemporalCases.sessions30m)
  )
}

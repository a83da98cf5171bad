package graft.api

import java.nio.file.Files

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  test("JSON job config: FakeSource -> Sql + Split -> File sink") {
    val out = Files.createTempDirectory("graft-pipe").toString + "/out"
    val config =
      s"""{
         |  "source": [{
         |    "plugin": "FakeSource", "plugin_output": "fake",
         |    "row.num": 50,
         |    "schema": {"fields": {"name": "string", "num": "int"}}
         |  }],
         |  "transform": [
         |    {"plugin": "Sql", "plugin_input": "fake", "plugin_output": "sel",
         |     "query": "SELECT name, num, num % 10 AS bucket FROM fake WHERE num >= 0"},
         |    {"plugin": "Split", "plugin_input": "sel", "plugin_output": "split",
         |     "separator": "_", "split_field": "name", "output_fields": ["prefix", "suffix"]}
         |  ],
         |  "sink": [{"plugin": "File", "plugin_input": "split",
         |            "path": "$out", "file_format_type": "parquet"}]
         |}""".stripMargin
    val catalog = Pipeline.runJson(spark, config)
    assert(catalog.keySet == Set("fake", "sel", "split"))
    val written = spark.read.parquet(out)
    assert(written.count() == 50)
    assert(written.columns.toSet == Set("name", "num", "bucket", "prefix", "suffix"))
    // split of "name_<i>" -> prefix "name"
    assert(written.select("prefix").distinct().collect().map(_.getString(0)).toSeq == Seq("name"))
  }

  test("runWithMetrics reports rows written per sink via observe") {
    val out = Files.createTempDirectory("graft-metrics").toString + "/out"
    val config =
      s"""{
         |  "source": [{"plugin": "FakeSource", "plugin_output": "f", "row.num": 42,
         |              "schema": {"fields": {"num": "int"}}}],
         |  "sink": [{"plugin": "File", "plugin_input": "f",
         |            "path": "$out", "file_format_type": "parquet"}]
         |}""".stripMargin
    val (_, metrics) = Pipeline.runWithMetrics(spark, Pipeline.parse(config))
    assert(metrics == Map("File[f]" -> 42L))
  }

  test("Assert sink integrates and fails the job on violation") {
    val config =
      """{
        |  "source": [{"plugin": "FakeSource", "plugin_output": "f", "row.num": 5,
        |              "schema": {"fields": {"num": "int"}}}],
        |  "sink": [{"plugin": "Assert", "plugin_input": "f",
        |            "rules": [{"rule": "row_count_between", "min": 100, "max": 200}]}]
        |}""".stripMargin
    intercept[graft.sinks.Sinks.AssertionFailed] { Pipeline.runJson(spark, config) }
  }

  test("STREAMING job: file stream source -> Sql transform -> memory sink") {
    val dir = Files.createTempDirectory("graft-streampipe").toString
    spark.range(0, 6).selectExpr("id", "concat('u', id) AS name")
      .coalesce(1).write.mode("overwrite").json(dir)
    val job = Pipeline.parse(
      s"""{
         |  "env": {"job.mode": "STREAMING"},
         |  "source": [{"plugin": "LocalFile", "plugin_output": "ev",
         |              "path": "$dir", "file_format_type": "json",
         |              "schema": "id BIGINT, name STRING"}],
         |  "transform": [{"plugin": "Sql", "plugin_input": "ev", "plugin_output": "big",
         |                 "query": "SELECT id, UPPER(name) AS name FROM ev WHERE id >= 3"}],
         |  "sink": [{"plugin": "Memory", "plugin_input": "big", "query_name": "pipe_out"}]
         |}""".stripMargin)
    val queries = Pipeline.runStreaming(spark, job)
    try {
      queries.foreach(_.processAllAvailable())
      val rows = spark.table("pipe_out").collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(rows.toSeq == Seq((3L, "U3"), (4L, "U4"), (5L, "U5")))
    } finally queries.foreach(_.stop())
  }

  test("Embedding, LLM, and DynamicCompile plugins work from config") {
    val job = Pipeline.parse(
      """{
        |  "source": [{"plugin": "FakeSource", "plugin_output": "docs", "row.num": 4,
        |              "schema": {"fields": {"body": "string"}}}],
        |  "transform": [
        |    {"plugin": "Embedding", "plugin_input": "docs", "plugin_output": "emb",
        |     "dimension": 8, "vectorization_fields": {"vec": "body"}},
        |    {"plugin": "LLM", "plugin_input": "emb", "plugin_output": "labeled",
        |     "src_field": "body", "output_field": "label", "labels": ["body", "zz"]},
        |    {"plugin": "DynamicCompile", "plugin_input": "labeled", "plugin_output": "dyn",
        |     "row_schema": "body STRING, vec ARRAY<FLOAT>, label STRING, flag STRING",
        |     "source_code": "(r: org.apache.spark.sql.Row) => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), \"ok\")"}
        |  ]
        |}""".stripMargin)
    val catalog = Pipeline.run(spark, job)
    val rows = catalog("dyn").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[String]("label") == "body")) // body_<i> contains 'body'
    assert(rows.forall(_.getAs[String]("flag") == "ok"))
    assert(rows.forall(_.getAs[Seq[Float]]("vec").length == 8))
  }

  test("multi-table transform applies to every table matching table_match_regex") {
    val job = Pipeline.parse(
      """{
        |  "source": [
        |    {"plugin": "FakeSource", "plugin_output": "shard_1", "row.num": 2,
        |     "schema": {"fields": {"a": "int"}}},
        |    {"plugin": "FakeSource", "plugin_output": "shard_2", "row.num": 2,
        |     "schema": {"fields": {"a": "int"}}},
        |    {"plugin": "FakeSource", "plugin_output": "other", "row.num": 2,
        |     "schema": {"fields": {"a": "int"}}}
        |  ],
        |  "transform": [{"plugin": "FieldRename", "table_match_regex": "shard_.*",
        |                 "fields": {"a": "renamed"}}]
        |}""".stripMargin)
    val catalog = Pipeline.run(spark, job)
    assert(catalog("shard_1").columns.toSeq == Seq("renamed"))
    assert(catalog("shard_2").columns.toSeq == Seq("renamed"))
    assert(catalog("other").columns.toSeq == Seq("a"))
  }

  test("TableRename / TableMerge / TableFilter are catalog-level plugins") {
    val job = Pipeline.parse(
      """{
        |  "source": [
        |    {"plugin": "FakeSource", "plugin_output": "shard_1", "row.num": 2,
        |     "schema": {"fields": {"a": "int"}}},
        |    {"plugin": "FakeSource", "plugin_output": "shard_2", "row.num": 3,
        |     "schema": {"fields": {"a": "int"}}},
        |    {"plugin": "FakeSource", "plugin_output": "tmp_scratch", "row.num": 1,
        |     "schema": {"fields": {"a": "int"}}}
        |  ],
        |  "transform": [
        |    {"plugin": "TableFilter", "patterns": ["shard_.*"]},
        |    {"plugin": "TableRename", "prefix": "ods_", "convert_case": "UPPER",
        |     "replacements_with_regex": [{"replace_from": "shard", "replace_to": "tbl"}]},
        |    {"plugin": "TableMerge", "table_match_regex": "ods_tbl_.*",
        |     "output_table": "merged", "tag_source_table": true}
        |  ]
        |}""".stripMargin)
    val catalog = Pipeline.run(spark, job)
    assert(catalog.keySet == Set("merged"))
    val merged = catalog("merged")
    assert(merged.count() == 5)
    // reference convertName order: case converts the original name, the
    // spliced replacement text and the affixes attach unconverted
    assert(merged.select("__meta_table").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("ods_tbl_1", "ods_tbl_2"))
  }

  test("FieldRename supports convert_case, affixes, and regex replacements") {
    val config =
      """{
        |  "source": [{"plugin": "FakeSource", "plugin_output": "f", "row.num": 2,
        |              "schema": {"fields": {"user_name": "string", "user_age": "int"}}}],
        |  "transform": [{"plugin": "FieldRename", "plugin_input": "f", "plugin_output": "out",
        |    "prefix": "c_", "convert_case": "UPPER",
        |    "replacements_with_regex": [{"replace_from": "user_", "replace_to": ""}]}]
        |}""".stripMargin
    val catalog = Pipeline.runJson(spark, config)
    // convertCase uppercases the original name; replacement splice and
    // prefix attach unconverted (reference FieldRenameTransform.convertName)
    assert(catalog("out").columns.toSet == Set("c_NAME", "c_AGE"))
  }

  test("TableRename keeps the implicit transform chain threaded") {
    val config =
      """{
        |  "source": [{"plugin": "FakeSource", "plugin_output": "f", "row.num": 3,
        |              "schema": {"fields": {"a": "int"}}}],
        |  "transform": [
        |    {"plugin": "TableRename", "suffix": "_renamed"},
        |    {"plugin": "Filter", "include_fields": ["a"]}
        |  ]
        |}""".stripMargin
    val catalog = Pipeline.runJson(spark, config)
    assert(catalog.contains("f_renamed"))
    assert(catalog("f_renamed_out").columns.toSeq == Seq("a"))
  }

  test("Kafka streaming source shell maps reference options (module absent here)") {
    val job = Pipeline.parse(
      """{"env": {"job.mode": "STREAMING"},
        |  "source": [{"plugin": "Kafka", "plugin_output": "k",
        |              "bootstrap.servers": "broker:9092", "topic": "t",
        |              "start_mode": "earliest"}],
        |  "sink": [{"plugin": "Console", "plugin_input": "k"}]
        |}""".stripMargin)
    // spark-sql-kafka is not on this classpath: the config must reach
    // format resolution (proving the mapping), then fail on the missing
    // data source — not on option handling.
    val e = intercept[Exception] { Pipeline.runStreaming(spark, job) }
    assert(e.getMessage.toLowerCase.contains("kafka"))
  }

  test("Http source shell validates reference options (no egress here)") {
    def job(src: String) = Pipeline.parse(
      s"""{"source": [$src],
         |  "sink": [{"plugin": "Console", "plugin_input": "h"}]
         |}""".stripMargin)
    // missing url fails option validation
    val e1 = intercept[IllegalArgumentException] {
      Pipeline.run(spark, job("""{"plugin": "Http", "plugin_output": "h"}"""))
    }
    assert(e1.getMessage.contains("url"))
    // bad method fails option validation
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, job(
        """{"plugin": "Http", "plugin_output": "h",
          | "url": "http://example.invalid/data", "method": "PATCH"}""".stripMargin))
    }
    // valid config reaches the fetch, which reports the sandbox clearly
    val e2 = intercept[UnsupportedOperationException] {
      Pipeline.run(spark, job(
        """{"plugin": "Http", "plugin_output": "h",
          | "url": "http://example.invalid/data", "method": "GET",
          | "format": "json"}""".stripMargin))
    }
    assert(e2.getMessage.contains("example.invalid"))
  }

  test("env block: parallelism and job.mode are honored") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val job = Pipeline.parse(
        """{"env": {"job.mode": "BATCH", "parallelism": 7},
          |  "source": [{"plugin": "FakeSource", "plugin_output": "f", "row.num": 2,
          |              "schema": {"fields": {"a": "int"}}}]
          |}""".stripMargin)
      assert(!job.isStreaming)
      Pipeline.run(spark, job)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("transform chain without explicit inputs threads the last output") {
    val config =
      """{
        |  "source": [{"plugin": "FakeSource", "plugin_output": "f", "row.num": 3,
        |              "schema": {"fields": {"a": "int", "b": "string"}}}],
        |  "transform": [
        |    {"plugin": "Filter", "include_fields": ["a"]},
        |    {"plugin": "FieldRename", "fields": {"a": "renamed"}}
        |  ],
        |  "sink": [{"plugin": "Console", "limit": 1}]
        |}""".stripMargin
    val catalog = Pipeline.runJson(spark, config)
    assert(catalog("f_out_out").columns.toSeq == Seq("renamed"))
  }

  test("STREAMING Sql without plugin_input reads its upstream table by name") {
    val dir = Files.createTempDirectory("graft-streamimplicit").toString
    spark.range(0, 4).selectExpr("id", "concat('u', id) AS name")
      .coalesce(1).write.mode("overwrite").json(dir)
    // no plugin_input on the Sql transform: its view must still be named
    // after the upstream table (the batch contract), not `input`
    val job = Pipeline.parse(
      s"""{
         |  "env": {"job.mode": "STREAMING"},
         |  "source": [{"plugin": "LocalFile", "plugin_output": "implicit_stream_src",
         |              "path": "$dir", "file_format_type": "json",
         |              "schema": "id BIGINT, name STRING"}],
         |  "transform": [{"plugin": "Sql", "plugin_output": "picked",
         |                 "query": "SELECT id, name FROM implicit_stream_src WHERE id < 2"}],
         |  "sink": [{"plugin": "Memory", "query_name": "implicit_sql_out"}]
         |}""".stripMargin)
    val queries = Pipeline.runStreaming(spark, job)
    try {
      queries.foreach(_.processAllAvailable())
      val rows = spark.table("implicit_sql_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(rows.toSeq == Seq((0L, "u0"), (1L, "u1")))
    } finally queries.foreach(_.stop())
  }

  test("runWithMetrics checks every table of a multi-table Assert") {
    val config =
      """{
        |  "source": [
        |    {"plugin": "FakeSource", "plugin_output": "small", "row.num": 3,
        |     "schema": {"fields": {"x": "int"}}},
        |    {"plugin": "FakeSource", "plugin_output": "large", "row.num": 5,
        |     "schema": {"fields": {"x": "int"}}}
        |  ],
        |  "sink": [{"plugin": "Assert", "rules": {"tables_configs": [
        |    {"table_path": "small", "row_rules": [{"rule_type": "MAX_ROW", "rule_value": 3}]},
        |    {"table_path": "large", "row_rules": [{"rule_type": "MAX_ROW", "rule_value": 3}]}
        |  ]}}]
        |}""".stripMargin
    val e = intercept[graft.sinks.Sinks.AssertionFailed] {
      Pipeline.runWithMetrics(spark, Pipeline.parse(config))
    }
    assert(e.getMessage.contains("row count 5"), e.getMessage)
  }

  test("runWithMetrics counts a plugin_input union sink once over both inputs") {
    val out = Files.createTempDirectory("graft-metrics-union").toString + "/out"
    val job = Pipeline.parseHocon(
      s"""source {
         |  FakeSource { plugin_output = "ua", row.num = 3, schema = { fields { x = "int" } } }
         |  FakeSource { plugin_output = "ub", row.num = 4, schema = { fields { x = "int" } } }
         |}
         |sink {
         |  LocalFile {
         |    plugin_input = ["ua", "ub"]
         |    path = "$out"
         |    file_format_type = "parquet"
         |  }
         |}
         |""".stripMargin)
    val (_, metrics) = Pipeline.runWithMetrics(spark, job)
    assert(metrics == Map("LocalFile[ua,ub]" -> 7L))
    assert(spark.read.parquet(out).count() == 7L)
  }

  test("runWithMetrics fans a table_name-placeholder sink out to one directory per table") {
    val out = Files.createTempDirectory("graft-metrics-fanout").toString
    val config =
      s"""{
         |  "source": [{"plugin": "FakeSource", "tables_configs": [
         |    {"row.num": 2, "schema": {"table": "fan_a", "fields": {"x": "int"}}},
         |    {"row.num": 3, "schema": {"table": "fan_b", "fields": {"x": "int"}}}
         |  ]}],
         |  "sink": [{"plugin": "File", "path": "$out/$${table_name}",
         |            "file_format_type": "parquet"}]
         |}""".stripMargin
    val (_, metrics) = Pipeline.runWithMetrics(spark, Pipeline.parse(config))
    assert(metrics == Map("File[fan_a]" -> 2L, "File[fan_b]" -> 3L))
    assert(spark.read.parquet(s"$out/fan_a").count() == 2L)
    assert(spark.read.parquet(s"$out/fan_b").count() == 3L)
  }

  test("HOCON multi-table FakeSource: each tables_configs entry is a catalog table") {
    val job = Pipeline.parseHocon(
      """source {
        |  FakeSource {
        |    tables_configs = [
        |      {
        |        schema = { table = "mt.people", fields { name = "string", age = "int" } }
        |        rows = [
        |          { kind = INSERT, fields = ["ann", 31] },
        |          { kind = INSERT, fields = ["bob", 42] }
        |        ]
        |      },
        |      {
        |        row.num = 3
        |        parallelism = 2
        |        schema = {
        |          table = "mt.events"
        |          columns = [{ name = "id", type = "bigint" }, { name = "tag", type = "string" }]
        |        }
        |      }
        |    ]
        |  }
        |}
        |""".stripMargin)
    val catalog = Pipeline.run(spark, job)
    assert(catalog.keySet == Set("mt.people", "mt.events"))
    val people = catalog("mt.people")
    assert(people.columns.toSeq == Seq("name", "age", graft.operators.RowKindOps.RowKindCol))
    assert(people.select("name", "age").collect().map(r => (r.getString(0), r.getInt(1)))
      .toSeq == Seq(("ann", 31), ("bob", 42)))
    val events = catalog("mt.events")
    assert(events.columns.toSeq == Seq("id", "tag"))
    assert(events.count() == 6L) // row.num per degree of parallelism
  }

  test("Sessionize runs both legs on a user_field that is not an SQL identifier") {
    val tmp = Files.createTempDirectory("graft-sess-name").toString
    val ns = 1700000000000000000L
    val h = 3600000000000L
    // user 1 has two sessions, user 2 one; a far-future sentinel per user
    // closes them on the streaming leg
    val rows = Seq((1L, ns), (1L, ns + 10000000000L), (1L, ns + 2 * h), (2L, ns + 5000000000L),
      (1L, ns + 1000 * h), (2L, ns + 1000 * h))
    Files.write(java.nio.file.Paths.get(tmp, "feed.json"),
      rows.map { case (u, t) => s"""{"user id":$u,"ts":$t}""" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    def conf(mode: String, sink: String) =
      s"""env { job.mode = "$mode" }
         |source {
         |  LocalFile {
         |    plugin_output = "ev"
         |    path = "$tmp"
         |    file_format_type = "json"
         |    schema = "`user id` BIGINT, ts BIGINT"
         |  }
         |}
         |transform {
         |  Sessionize {
         |    plugin_input = "ev"
         |    plugin_output = "sess"
         |    user_field = "user id"
         |    event_time_ns_field = "ts"
         |    session_gap = "30 minutes"
         |  }
         |}
         |sink { $sink }
         |""".stripMargin
    def sessions(df: org.apache.spark.sql.DataFrame) =
      df.select("`user id`", "n_events", "start_ns", "end_ns").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = Set((1L, 2L, ns, ns + 10000000000L), (1L, 1L, ns + 2 * h, ns + 2 * h),
      (2L, 1L, ns + 5000000000L, ns + 5000000000L))
    val batch = sessions(Pipeline.run(spark, Pipeline.parseHocon(conf("BATCH", "Console { }")))("sess"))
    assert(batch == want ++ Set((1L, 1L, ns + 1000 * h, ns + 1000 * h),
      (2L, 1L, ns + 1000 * h, ns + 1000 * h)))
    val queries = Pipeline.runStreaming(spark,
      Pipeline.parseHocon(conf("STREAMING", "Memory { query_name = \"sess_user_id\" }")))
    try {
      queries.foreach(_.processAllAvailable())
      assert(sessions(spark.table("sess_user_id")) == want)
    } finally queries.foreach(_.stop())
  }

  test("FakeSource string.template collapses map keys in that map only") {
    val job = Pipeline.parseHocon(
      """env { job.mode = "BATCH" }
        |source {
        |  FakeSource {
        |    plugin_output = "fake"
        |    row.num = 3
        |    string.template = ["k"]
        |    schema = { fields { m = "map<string, int>" } }
        |  }
        |}
        |sink { Console { } }
        |""".stripMargin)
    val got = Pipeline.run(spark, job)("fake").collect()
      .map(_.getMap[String, Int](0).toMap).toSeq
    assert(got == Seq(Map("k" -> 840116), Map("k" -> 752482), Map("k" -> 918126)))
    // the session's duplicate-key policy is untouched: still an error
    val e = intercept[Exception](spark.sql("SELECT map(1, 'a', 1, 'b')").collect())
    assert(e.getMessage.contains("DUPLICATED_MAP_KEY"), e.getMessage)
  }

  test("a fresh Graft session accepts TIME in SQL and in FakeSource schemas") {
    val fresh = spark.newSession() // session options only, nothing an operator set
    val t = fresh.sql("SELECT CAST('12:34:56' AS TIME) AS t")
    assert(t.schema("t").dataType.typeName.startsWith("time"))
    assert(t.collect()(0).get(0).toString == "12:34:56")
    val fake = graft.sources.FakeSource.generate(fresh, Seq("c" -> "time"), rows = 3)
    assert(fake.schema("c").dataType.typeName.startsWith("time") && fake.count() == 3)
  }

  // ---------- sink lanes ----------

  private def sinkAt(plugin: String, opts: (String, Any)*) =
    Pipeline.Plugin(plugin, opts.toMap, Some("t"), None)
  private def fileAt(path: String) = sinkAt("LocalFile", "path" -> path)

  /** Poll `cond` for up to 10 s: Spark's status store and a pool's exiting
    * threads settle a moment after the call that ended their work returns. */
  private def eventually(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 10000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    cond
  }

  test("sink lanes: writes to distinct targets get one lane each") {
    assert(Pipeline.lanes(Seq(fileAt("/o/a"), fileAt("/o/ab"), fileAt("/p/a"), fileAt("out/x"))) ==
      Seq(Seq(0), Seq(1), Seq(2), Seq(3)))
    // Assert, Http and Socket writes share nothing, not even with their twins
    val own = Seq(sinkAt("Assert"), sinkAt("Assert"),
      sinkAt("Http", "url" -> "http://h/x"), sinkAt("Http", "url" -> "http://h/x"),
      sinkAt("Socket", "host" -> "h", "port" -> 9), sinkAt("Socket", "host" -> "h", "port" -> 9))
    assert(Pipeline.lanes(own) == own.indices.map(Seq(_)))
    assert(Pipeline.lanes(Nil).isEmpty)
  }

  test("sink lanes: writes to one target share a lane in declared order") {
    // equal paths, however spelled
    assert(Pipeline.lanes(Seq(fileAt("/o/a"), fileAt("/q"), fileAt("file:/o/x/../a/"))) ==
      Seq(Seq(0, 2), Seq(1)))
    // nested paths, either one declared first, relative or absolute
    assert(Pipeline.lanes(Seq(fileAt("out/agg"), fileAt("other"), fileAt("out"))) ==
      Seq(Seq(0, 2), Seq(1)))
    assert(Pipeline.lanes(Seq(fileAt(new java.io.File("out").getAbsolutePath), fileAt("out/agg"))) ==
      Seq(Seq(0, 1)))
    // lanes close over shared targets: /o/a and /o/b meet through /o
    assert(Pipeline.lanes(Seq(fileAt("/o/a"), fileAt("/o/b"), fileAt("/p"), fileAt("/o"))) ==
      Seq(Seq(0, 1, 3), Seq(2)))
    // stdout is one target
    assert(Pipeline.lanes(Seq(sinkAt("Console"), fileAt("/o"), sinkAt("Console", "limit" -> 5))) ==
      Seq(Seq(0, 2), Seq(1)))
    // an InMemory store key, explicit or the input table's name (here t)
    assert(Pipeline.lanes(Seq(sinkAt("InMemory", "store_key" -> "k"),
      sinkAt("InMemory", "store_key" -> "j"), sinkAt("InMemory"),
      sinkAt("InMemory", "store_key" -> "k"), sinkAt("InMemory", "store_key" -> "t"))) ==
      Seq(Seq(0, 3), Seq(1), Seq(2, 4)))
    // a Jdbc url, whatever the table
    assert(Pipeline.lanes(Seq(sinkAt("Jdbc", "url" -> "jdbc:h2:a", "table" -> "x"),
      sinkAt("Jdbc", "url" -> "jdbc:h2:b", "table" -> "x"),
      sinkAt("Jdbc", "url" -> "jdbc:h2:a", "table" -> "y"))) == Seq(Seq(0, 2), Seq(1)))
  }

  test("concurrent sink lanes write each table's rows and keep runWithMetrics' keys") {
    val out = Files.createTempDirectory("graft-lanes").toString
    val job = Pipeline.parse(
      s"""{
         |  "source": [
         |    {"plugin": "FakeSource", "plugin_output": "f", "row.num": 40,
         |     "schema": {"fields": {"name": "string", "num": "int"}}},
         |    {"plugin": "FakeSource", "tables_configs": [
         |      {"row.num": 2, "schema": {"table": "fan_a", "fields": {"x": "int"}}},
         |      {"row.num": 3, "schema": {"table": "fan_b", "fields": {"x": "int"}}}]}
         |  ],
         |  "transform": [{"plugin": "Sql", "plugin_input": "f", "plugin_output": "g",
         |    "query": "SELECT num % 7 AS k, count(*) AS n FROM f GROUP BY num % 7"}],
         |  "sink": [
         |    {"plugin": "File", "plugin_input": "f", "path": "$out/clean", "file_format_type": "parquet"},
         |    {"plugin": "File", "plugin_input": "g", "path": "$out/agg", "file_format_type": "parquet"},
         |    {"plugin": "File", "path": "$out/fan/$${table_name}", "file_format_type": "parquet"}
         |  ]
         |}""".stripMargin)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val written = Seq("clean" -> "f", "agg" -> "g", "fan/fan_a" -> "fan_a", "fan/fan_b" -> "fan_b")
    val (catalog, metrics) = Pipeline.runWithMetrics(spark, job)
    // what the sequential runner wrote: each sink's table, whole
    written.foreach { case (dir, table) =>
      assert(rows(spark.read.parquet(s"$out/$dir")) == rows(catalog(table)), dir)
    }
    assert(metrics == Map("File[f]" -> 40L, "File[g]" -> catalog("g").count(),
      "File[fan_a]" -> 2L, "File[fan_b]" -> 3L))
    val again = Pipeline.run(spark, job)
    written.foreach { case (dir, table) =>
      assert(rows(spark.read.parquet(s"$out/$dir")) == rows(again(table)), dir)
    }
    // a job without sinks still returns its catalog
    assert(Pipeline.run(spark, job.copy(sinks = Nil)).keySet == Set("f", "g", "fan_a", "fan_b"))
  }

  test("sinks on one path, or nested paths, still end with the last-declared data") {
    val out = Files.createTempDirectory("graft-lanes-same").toString
    val job = Pipeline.parse(
      s"""{
         |  "source": [
         |    {"plugin": "FakeSource", "plugin_output": "a", "row.num": 2, "schema": {"fields": {"x": "int"}}},
         |    {"plugin": "FakeSource", "plugin_output": "b", "row.num": 5, "schema": {"fields": {"y": "string"}}}
         |  ],
         |  "sink": [
         |    {"plugin": "File", "plugin_input": "a", "path": "$out/same", "file_format_type": "parquet"},
         |    {"plugin": "File", "plugin_input": "a", "path": "$out/nest/agg", "file_format_type": "parquet"},
         |    {"plugin": "File", "plugin_input": "b", "path": "$out/other", "file_format_type": "parquet"},
         |    {"plugin": "File", "plugin_input": "b", "path": "$out/same", "file_format_type": "parquet"},
         |    {"plugin": "File", "plugin_input": "b", "path": "$out/nest", "file_format_type": "parquet"}
         |  ]
         |}""".stripMargin)
    (1 to 3).foreach { _ =>
      Pipeline.run(spark, job)
      Seq("same", "nest", "other").foreach { dir =>
        val df = spark.read.parquet(s"$out/$dir")
        assert(df.columns.toSeq == Seq("y") && df.count() == 5L, dir)
      }
      // the later overwrite of nest removed nest/agg, as in declared order
      assert(!new java.io.File(s"$out/nest/agg").exists)
    }
  }

  test("failing sinks: every lane runs to its end, the earliest failure propagates, the run cleans up") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft-lanes-fail").toString
    val job = Pipeline.parse(
      s"""{
         |  "source": [{"plugin": "FakeSource", "plugin_output": "f", "row.num": 5,
         |              "schema": {"fields": {"num": "int"}}}],
         |  "sink": [
         |    {"plugin": "Assert", "plugin_input": "f",
         |     "rules": [{"rule": "row_count_between", "min": 100, "max": 200}]},
         |    {"plugin": "File", "plugin_input": "f", "path": "$out/written", "file_format_type": "parquet"},
         |    {"plugin": "File", "plugin_input": "f", "path": "$out/bad", "file_format_type": "nosuch"},
         |    {"plugin": "File", "plugin_input": "f", "path": "$out/bad", "file_format_type": "parquet"}
         |  ]
         |}""".stripMargin)
    val sc = spark.sparkContext
    // lane threads inherit the caller's job group, which keeps this run's
    // Spark jobs apart from any other suite's
    val group = s"lane-fail-${System.nanoTime()}"
    val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobStarts = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobStarts.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobEnds.put(e.jobId, e.time); ()
      }
    }
    def laneThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-sink-lane"))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "sink lane failure spec")
      val e = try intercept[graft.sinks.Sinks.AssertionFailed](Pipeline.run(spark, job))
        finally sc.clearJobGroup()
      val returnedAt = System.currentTimeMillis()
      assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("unsupported sink format: nosuch"))
      // the file sink declared after the failing Assert has a lane of its own
      assert(spark.read.parquet(s"$out/written").count() == 5L)
      // a lane makes no write after its first failure
      assert(!new java.io.File(s"$out/bad").exists)
      // every Spark job of the run had ended when run returned
      assert(!jobStarts.isEmpty)
      assert(eventually(jobStarts.asScala.forall(jobEnds.containsKey)))
      assert(jobStarts.asScala.forall(id => jobEnds.get(id) <= returnedAt))
      assert(eventually(!sc.statusTracker.getActiveJobIds.exists(jobStarts.contains)))
      assert(eventually(laneThreads.isEmpty), laneThreads)

      // the writes run in the run's cache scope, which is released once
      // every lane has stopped (failures included)
      val persisted = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
      val globalBefore = graft.GraftCaches.trackedCount
      intercept[graft.sinks.Sinks.AssertionFailed] {
        Pipeline.runBatch(spark, job) { w =>
          val cached = graft.GraftCaches.persist(w.df.where("num IS NOT NULL"))
          persisted.add(cached)
          Pipeline.runSink(cached, w.sink)
        }
      }
      assert(persisted.size == 3) // the lane's write after its failure never started
      assert(persisted.asScala.forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
      assert(graft.GraftCaches.trackedCount == globalBefore)
    } finally sc.removeSparkListener(listener)
  }
}

package graft
package driver

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.formats.ProtobufFormat
import graft.sources.{FakeSource, FileSources, Jdbc}
import graft.sinks.Sinks
import graft.driver.Fixtures._

/** Source connectors and file formats (§2.4): round trips through every
  * reader the engine ships.
  */
object SourceCases {

  /** Shared oracle of q_src_csv, q_src_xml, q_src_jdbc, q_src_archive,
    * q_src_http and q_src_socket: nation read back unchanged through another
    * format or transport.
    */
  private val nationRoundTrip: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  /** Shared oracle of q_src_json and q_src_excel: region read back unchanged.
    */
  private val regionRoundTrip: String =
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

  /** Shared oracle of q_src_avro and q_src_orc: orders' key, status, price
    * and date read back unchanged.
    */
  private val ordersRoundTrip: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_orderkey""".stripMargin

  val cases: Seq[Case] = Seq(
    // §2.4 csv file source round-trip (testdata -> csv -> FileSources)
    Case("q_src_csv", (s, dir) => {
      val tmp = s"/tmp/graft_src/csv_${sfTag(dir)}"
      Sinks.writeFile(Tables.load(s, dir, "nation"),
        Sinks.FileSinkConfig(tmp, "csv", options = Map("header" -> "true")))
      FileSources.read(s, FileSources.FileSourceConfig(tmp, "csv",
          Some(StructType(Seq(StructField("n_nationkey", IntegerType),
            StructField("n_name", StringType), StructField("n_regionkey", IntegerType)))),
          Map("header" -> "true")))
        .orderBy("n_nationkey")
    }, oracle = nationRoundTrip),

    // §2.4 json file source round-trip
    Case("q_src_json", (s, dir) => {
      val tmp = s"/tmp/graft_src/json_${sfTag(dir)}"
      Sinks.writeFile(Tables.load(s, dir, "region"), Sinks.FileSinkConfig(tmp, "json"))
      FileSources.read(s, FileSources.FileSourceConfig(tmp, "json",
          Some(StructType(Seq(StructField("r_regionkey", IntegerType),
            StructField("r_name", StringType))))))
        .orderBy("r_regionkey")
    }, oracle = regionRoundTrip),

    // §2.4 xml round-trip (Spark 4 native XML datasource; reference
    // connector-file xml file_format_type)
    Case("q_src_xml", (s, dir) => {
      val tmp = s"/tmp/graft_src/xml_${sfTag(dir)}"
      Sinks.writeFile(Tables.load(s, dir, "nation"),
        Sinks.FileSinkConfig(tmp, "xml"))
      FileSources.read(s, FileSources.FileSourceConfig(tmp, "xml",
          Some(StructType(Seq(StructField("n_nationkey", IntegerType),
            StructField("n_name", StringType), StructField("n_regionkey", IntegerType))))))
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }, oracle = nationRoundTrip),

    // §2.4 binary whole-file round-trip (reference BINARY file-copy
    // format): emit each document's text as a file via the binary sink,
    // re-ingest with the binary source, digest-compare against the table
    Case("q_src_binary", (s, dir) => {
      val tmp = s"/tmp/graft_src/bin_${sfTag(dir)}"
      // every-50th doc: file-per-row emission is the format's contract, but
      // benching 5k one-row files only measures filesystem metadata calls
      val files = Tables.load(s, dir, "documents")
        .where(col("doc_id") % 50 === 0)
        .select(encode(col("text"), "UTF-8").as("data"),
          concat(lit("doc_"), col("doc_id"), lit(".txt")).as("relativePath"))
      Sinks.writeFile(files, Sinks.FileSinkConfig(tmp, "binary"))
      FileSources.read(s, FileSources.FileSourceConfig(tmp, "binary",
          options = Map("path_glob" -> "*.txt")))
        .select(col("relativePath"),
          length(col("data")).cast("long").as("n_bytes"),
          md5(col("data")).as("digest"))
        .orderBy("relativePath")
    }, oracle =
      """SELECT 'doc_' || doc_id || '.txt' AS relativePath,
        |       octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS digest
        |FROM documents WHERE doc_id % 50 = 0 ORDER BY relativePath""".stripMargin),

    // §2.4 delimited multi-column text round-trip (reference
    // seatunnel-format-text field_delimiter files; one codegen'd
    // split/try_cast projection over spark.read.text)
    Case("q_src_text_delim", (s, dir) => {
      val tmp = s"/tmp/graft_src/textd_${sfTag(dir)}"
      // the read delimiter is a REGEX (reference String.split semantics),
      // hence the escaped pipe; writes unwrap it to the literal char
      Sinks.writeFile(
        Tables.load(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal"),
        Sinks.FileSinkConfig(tmp, "text", options = Map("field_delimiter" -> "\\|")))
      FileSources.read(s, FileSources.FileSourceConfig(tmp, "text",
          Some(StructType(Seq(StructField("s_suppkey", LongType),
            StructField("s_name", StringType), StructField("s_acctbal", DoubleType)))),
          Map("field_delimiter" -> "\\|")))
        .orderBy("s_suppkey")
    }, oracle =
      "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey"),

    // §2.4 avro file round-trip (graft.formats.AvroFormat — Avro Java API
    // over Hadoop input/output formats; splittable container files)
    Case("q_src_avro", (s, dir) => {
      val tmp = s"/tmp/graft_src/avro_${sfTag(dir)}"
      Sinks.writeFile(
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
        Sinks.FileSinkConfig(tmp, "avro"))
      FileSources.read(s, FileSources.FileSourceConfig(tmp, "avro"))
        .orderBy("o_orderkey")
    }, oracle = ordersRoundTrip),

    // §2.4 orc file round-trip (Spark-native ORC datasource via
    // FileSources/Sinks; splittable columnar files, predicate pushdown)
    Case("q_src_orc", (s, dir) => {
      val tmp = s"/tmp/graft_src/orc_${sfTag(dir)}"
      Sinks.writeFile(
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
        Sinks.FileSinkConfig(tmp, "orc"))
      FileSources.read(s, FileSources.FileSourceConfig(tmp, "orc"))
        .orderBy("o_orderkey")
    }, oracle = ordersRoundTrip),

    // §2.4 excel (.xlsx) round-trip (graft.formats.ExcelFormat — OOXML
    // over JDK zip + StAX; per-file parallel read)
    Case("q_src_excel", (s, dir) => {
      val tmp = s"/tmp/graft_src/excel_${sfTag(dir)}"
      Sinks.writeFile(Tables.load(s, dir, "region"), Sinks.FileSinkConfig(tmp, "excel"))
      FileSources.read(s, FileSources.FileSourceConfig(tmp, "excel",
          Some(StructType(Seq(StructField("r_regionkey", IntegerType),
            StructField("r_name", StringType))))))
        .orderBy("r_regionkey")
    }, oracle = regionRoundTrip),

    // §2.4 protobuf format round-trip (graft.formats.ProtobufFormat —
    // .proto-text descriptor + wire codec; golden-vector spec-tested)
    Case("q_fmt_protobuf", (s, dir) => {
      val proto =
        """syntax = "proto3";
          |message Order {
          |  int64 o_orderkey = 1;
          |  string o_orderstatus = 2;
          |  double o_totalprice = 3;
          |}""".stripMargin
      val orders = Tables.load(s, dir, "orders", fanOut = true)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val encoded = ProtobufFormat.encode(orders, None, proto, "Order")
      ProtobufFormat.decode(encoded, "proto", proto, "Order", "rec")
        .select("rec.o_orderkey", "rec.o_orderstatus", "rec.o_totalprice")
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // §2.4 JDBC round-trip through embedded Derby (parquet -> jdbc sink
    // -> jdbc source; predicate pushdown + partitioned reads spec-tested)
    Case("q_src_jdbc", (s, dir) => {
      val url = s"jdbc:derby:memory:graft_${sfTag(dir)};create=true"
      Jdbc.write(
        Tables.load(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"),
        Jdbc.JdbcSinkConfig(url, table = "nation_rt", mode = "overwrite"))
      Jdbc.read(s, Jdbc.JdbcSourceConfig(url, table = Some("nation_rt")))
        .orderBy("n_nationkey")
    }, oracle = nationRoundTrip),

    // §2.4 FakeSource generator. string/boolean generators are
    // closed-form (name_<id>, id%2==0) so DuckDB recomputes them
    // including the full-column digest; the murmur-mixed int column is
    // pinned by golden aggregates (row count and seed are fixed, so the
    // values are scale-independent). Moved from rows-only in r7.
    Case("q_fake_source", (s, dir) => {
      FakeSource.generate(s,
        Seq("name" -> "string", "num" -> "int", "flag" -> "boolean"), 1000)
        .agg(
          count(lit(1)).cast("long").as("n"),
          md5(concat_ws(",", sort_array(collect_list(col("name"))))).as("name_digest"),
          sum(when(col("flag"), 1).otherwise(0)).cast("long").as("n_flag_true"),
          (min(col("num")) >= 0 && max(col("num")) < 1000000).as("num_in_range"),
          sum(col("num")).cast("long").as("num_sum"),
          min(col("num")).cast("long").as("num_min"),
          max(col("num")).cast("long").as("num_max"))
    }, oracle =
      // name/flag columns are closed-form in the row index; the murmur-int
      // aggregates are golden values pinned from the deterministic
      // generator (fixed rows=1000, seed=42 — scale-independent).
      """SELECT CAST(1000 AS BIGINT) AS n,
        |  (SELECT md5(string_agg(name, ',' ORDER BY name))
        |   FROM (SELECT 'name_' || CAST(unnest(range(0, 1000)) AS VARCHAR) AS name)) AS name_digest,
        |  CAST(500 AS BIGINT) AS n_flag_true,
        |  true AS num_in_range,
        |  CAST(502552199 AS BIGINT) AS num_sum,
        |  CAST(1375 AS BIGINT) AS num_min,
        |  CAST(997170 AS BIGINT) AS num_max""".stripMargin),

    // §2.4 ARCHIVE source (r8): a zip of two pipe-delimited members is
    // built once from nation; Archives expands members to lines on the
    // executors (whole-file binary scan -> per-file decompress), and the
    // parsed rows are oracle-checked against the source table. Graduates
    // the archive family from spec-only to hash-exact.
    Case("q_src_archive", (s, dir) => {
      val base = s"/tmp/graft_fixtures/arch_${sfTag(dir)}"
      val zipPath = s"$base/nation.zip"
      // ensureFixture writes its token only after the zip closes, so a
      // crash mid-build can never leave a trusted truncated archive
      ensureFixture(base, sourceToken(dir, "nation")) {
        val rows = Tables.load(s, dir, "nation").orderBy("n_nationkey")
          .select(concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
          .collect().map(_.getString(0)) // 25 rows: bounded fixture build
        val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipPath))
        Seq("part1.csv" -> rows.take(13), "part2.csv" -> rows.drop(13)).foreach {
          case (name, ls) =>
            zos.putNextEntry(new java.util.zip.ZipEntry(name))
            zos.write(ls.mkString("\n").getBytes("UTF-8")); zos.closeEntry()
        }
        zos.close()
      }
      graft.sources.Archives.lines(s, zipPath, "zip")
        .select(split(col("value"), "\\|").as("f"))
        .select(col("f")(0).cast("int").as("n_nationkey"),
          col("f")(1).as("n_name"), col("f")(2).cast("int").as("n_regionkey"))
        .orderBy("n_nationkey")
    }, oracle = nationRoundTrip),

    // §2.4 HTTP source (r8): an embedded localhost server serves nation as
    // a JSON array; HttpSource fetches, splits rows, and schema-parses.
    // The fetch is eager (driver-side, bounded payload by the reference's
    // own contract), so the server stops before the plan runs.
    Case("q_src_http", (s, dir) => {
      val rows = Tables.load(s, dir, "nation").orderBy("n_nationkey").collect()
      val json = rows.map(r =>
        s"""{"n_nationkey":${r.getInt(0)},"n_name":"${r.getString(1)}","n_regionkey":${r.getInt(2)}}""")
        .mkString("[", ",", "]")
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/nation", (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = json.getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body); ex.close()
      })
      server.start()
      try graft.sources.HttpSource.read(s, graft.sources.HttpSource.Config(
          s"http://127.0.0.1:${server.getAddress.getPort}/nation",
          schema = Some(new StructType().add("n_nationkey", IntegerType)
            .add("n_name", StringType).add("n_regionkey", IntegerType))))
        .orderBy("n_nationkey")
      finally server.stop(0)
    }, oracle = nationRoundTrip),

    // §2.4 Socket source + sink (r11; reference connector-socket): an
    // embedded line server serves nation pipe-delimited; SocketSource
    // .readBounded consumes it (single-client bounded contract), the
    // parsed rows go back out through SocketSink as JSON lines to an
    // embedded collector, and the collected lines are schema-parsed —
    // the full source→sink round trip sits on the hash path. Both
    // servers stop before the returned plan runs (bounded fixture,
    // q_src_http treatment).
    Case("q_src_socket", (s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "nation").orderBy("n_nationkey").collect()
      val lines = rows.map(r => s"${r.getInt(0)}|${r.getString(1)}|${r.getInt(2)}")
      // line server: replays the fixture once per accepted connection
      val src = new java.net.ServerSocket(0, 50,
        java.net.InetAddress.getByName("127.0.0.1"))
      val srcThread = new Thread(() =>
        try while (true) {
          val c = src.accept()
          val out = new java.io.OutputStreamWriter(c.getOutputStream, "UTF-8")
          lines.foreach(l => out.write(l + "\n"))
          out.flush(); c.close()
        } catch { case _: java.io.IOException => () })
      srcThread.setDaemon(true); srcThread.start()
      // collector: accepts the sink's per-partition connections
      val snk = new java.net.ServerSocket(0, 50,
        java.net.InetAddress.getByName("127.0.0.1"))
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val snkThread = new Thread(() =>
        try while (true) {
          val c = snk.accept()
          new Thread(() => {
            val r = new java.io.BufferedReader(
              new java.io.InputStreamReader(c.getInputStream, "UTF-8"))
            var line = r.readLine()
            while (line != null) { got.add(line); line = r.readLine() }
            c.close()
          }).start()
        } catch { case _: java.io.IOException => () })
      snkThread.setDaemon(true); snkThread.start()
      try {
        val read = graft.sources.SocketSource.readBounded(s, "127.0.0.1", src.getLocalPort)
          .select(split(col("value"), "\\|").as("f"))
          .select(col("f")(0).cast("int").as("n_nationkey"),
            col("f")(1).as("n_name"), col("f")(2).cast("int").as("n_regionkey"))
        graft.sinks.SocketSink.write(read,
          graft.sinks.SocketSink.Config("127.0.0.1", snk.getLocalPort))
        val deadline = System.nanoTime() + 30e9.toLong
        while (got.size < rows.length && System.nanoTime() < deadline) Thread.sleep(20)
        val schema = new StructType().add("n_nationkey", IntegerType)
          .add("n_name", StringType).add("n_regionkey", IntegerType)
        s.createDataset(got.toArray(Array.empty[String]).toSeq).toDF("j")
          .select(from_json(col("j"), schema).as("r"))
          .select(col("r.n_nationkey"), col("r.n_name"), col("r.n_regionkey"))
          .orderBy("n_nationkey")
      } finally { src.close(); snk.close() }
    }, oracle = nationRoundTrip)
  )
}

package graft
import java.nio.file.{Files, Paths}

import graft.api.GraftSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare, and errors.json
  * (query name → failure message, `{}` when every query dumped). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Same knob as Bench (VERDICT r18 #3): a Verify leg pinned to
    // RocksDBStateStoreProvider puts the larger-than-heap streaming-state
    // path on the HASH path — correctness at scale, not just a perf knob.
    val spark = GraftSession.create(s"local[$cpus]", "graft-verify", cpus,
      sys.env.get("SPARK_GRAFT_STATE_STORE")
        .map("spark.sql.streaming.stateStore.providerClass" -> _).toMap)
    // Self-describing evidence line: the sf1/sf10 leg logs must show WHICH
    // state store the run used, read back from the live session conf (not
    // just the env), so a cited log is provenance on its own.
    sys.env.get("SPARK_GRAFT_STATE_STORE").foreach { _ =>
      System.err.println("[verify] state store provider pinned: " +
        spark.conf.get("spark.sql.streaming.stateStore.providerClass"))
    }
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional local-iteration filter: third arg "q_a,q_b" (env vars don't
    // reach the sbt server, so this must be a program argument).
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val errors = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        // tools/sf10_gate.py greps this stderr line; errors.json is the
        // artifact-side record of the same failure
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      finally GraftCaches.releaseAll(spark) // no cache carries across queries
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def jsonMap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonMap(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonMap(errors.sortBy(_._1)))
    spark.stop()
  }
}

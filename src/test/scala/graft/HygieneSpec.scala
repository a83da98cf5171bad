package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Repo hygiene guards that don't need a SparkSession. */
class HygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".scala"))
      .toSeq
  }

  // built by concatenation so this spec's own source doesn't match it
  private val needle = "def " + "main("

  test("test sources contain no scratch main entry points") {
    val offenders = scalaFiles("src/test/scala").filter { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      src.contains(needle)
    }
    assert(offenders.isEmpty,
      s"scratch main() found in test sources: ${offenders.mkString(", ")}")
  }

  // The Bench/Verify entry points plus the evidence tools that no Bench
  // option replaces: plan dumps, scale curves, the sf1/sf10 generator and
  // the larger-than-heap state stress (SCALE_r20.json state_capacity_r20).
  private val mains = Set("Bench.scala", "Verify.scala", "Explain.scala",
    "ScaleBench.scala", "Sf1Gen.scala", "StateStress.scala")

  test("main sources keep entry points to the declared driver contract") {
    // one-off timing points belong in Bench
    val offenders = scalaFiles("src/main/scala").filter { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      src.contains(needle) && !mains.contains(f.getFileName.toString)
    }
    assert(offenders.isEmpty,
      s"unexpected main() in library sources: ${offenders.mkString(", ")}")
  }

  test("only the mains read environment variables") {
    // library behaviour comes from job config and parameters; a knob read
    // deep inside an operator changes results with no trace in the job
    val envReads = Seq("sys.env", "System.getenv")
    val offenders = scalaFiles("src/main/scala")
      .filterNot(f => mains.contains(f.getFileName.toString))
      .filter { f =>
        val src = stripComments(new String(Files.readAllBytes(f), "UTF-8"))
        envReads.exists(src.contains)
      }
    assert(offenders.isEmpty,
      s"environment read outside the mains: ${offenders.mkString(", ")}")
  }

  test("every SparkSession is built by GraftSession.create") {
    // one module owns the session policy (UTC, AQE, the datetime and
    // nanos-parquet pins, function registration); a hand-built session
    // silently drifts from what users run
    val builder = "SparkSession" + ".builder"
    val offenders = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(_ != Paths.get("src/main/scala/graft/api/GraftSession.scala"))
      .filter(f => stripComments(new String(Files.readAllBytes(f), "UTF-8")).contains(builder))
    assert(offenders.isEmpty,
      s"hand-built SparkSession outside api/GraftSession.scala: ${offenders.mkString(", ")}")
  }

  test("library code leaves the session's registry, catalog and confs alone") {
    // GraftSession.create owns session policy and plans/ owns the function
    // registry. An operator that writes either makes its result depend on
    // what ran before it in the session, and breaks on a session that
    // never ran it; native expressions enter plans as typed Columns
    // (graft.plans.NativeColumns), never as SQL text that needs the
    // registry. Each allowed site is counted, with the reason the write is
    // the contract there.
    val root = "src/main/scala/graft/"
    // extraOptimizations is counted wherever it appears: the optimizer
    // rules (TsPushdown, DecimalKernels) install themselves from plans/,
    // and GraftSession.create is the one caller of DecimalKernels.install
    val writes = Seq("NativeExpressions.register(", "createOrReplaceTempView", ".conf.set(",
      "TsPushdown.install(", "extraOptimizations", "DecimalKernels.install(")
    val allowed: Map[(String, String), (Int, String)] = Map(
      ("operators/SqlOp.scala", "createOrReplaceTempView") ->
        (5, "a SQL transform reads its inputs, and `dual`, as views"),
      ("Tables.scala", "createOrReplaceTempView") ->
        (1, "registerAll publishes the tables to driver SQL"),
      ("operators/SqlOp.scala", ".conf.set(") ->
        (2, "escapedStringLiterals around a zeta parse, restored after it"),
      ("api/Pipeline.scala", ".conf.set(") ->
        (1, "a job's env.parallelism is its shuffle-partition count"),
      ("Tables.scala", "TsPushdown.install(") ->
        (1, "loads normalize ts, and the rule maps ts predicates back onto the parquet column"))
    val nativeNames = graft.plans.NativeExpressions.all.map(_._1)
    val sqlCall = """(?:\bexpr|selectExpr|call_function)\(""".r
    /** Native function names called inside the argument text of each SQL-string call. */
    def nativeInSql(src: String): Seq[String] = sqlCall.findAllMatchIn(src).toSeq.flatMap { m =>
      var depth = 1
      var i = m.end
      while (i < src.length && depth > 0) {
        if (src.charAt(i) == '(') depth += 1 else if (src.charAt(i) == ')') depth -= 1
        i += 1
      }
      val arg = src.substring(m.end, i)
      nativeNames.filter(n => s"\\b$n\\s*\\(".r.findFirstIn(arg).nonEmpty)
    }
    val sources = scalaFiles(root).map(f => f.toString.stripPrefix(root) -> f)
      .filterNot { case (rel, _) =>
        rel.startsWith("driver/") || rel.startsWith("plans/") || rel == "api/GraftSession.scala"
      }
      .map { case (rel, f) => rel -> stripComments(new String(Files.readAllBytes(f), "UTF-8")) }
    val found = sources.flatMap { case (rel, src) =>
      writes.map(w => (rel, w) -> src.sliding(w.length).count(_ == w)).filter(_._2 > 0)
    }.toMap
    val drift = (found.keySet ++ allowed.keySet).toSeq.sorted
      .filter(k => found.getOrElse(k, 0) != allowed.get(k).fold(0)(_._1))
      .map(k => s"$k: found ${found.getOrElse(k, 0)}, allowed " +
        allowed.get(k).fold("0")(a => s"${a._1} (${a._2})"))
    val sqlNative = sources.flatMap { case (rel, src) =>
      nativeInSql(src).map(n => s"$rel: $n called through SQL text; build it with graft.plans.NativeColumns")
    }
    val problems = drift ++ sqlNative
    assert(problems.isEmpty, "session writes outside GraftSession.create and plans/:\n  " +
      problems.mkString("\n  "))
  }

  /** Strip `//` line comments and (nested) `/* */` block comments from
    * Scala source, string-aware: comment markers inside `"…"`, `"""…"""`
    * and char literals don't open comments, and string CONTENT is kept
    * (ADVICE r16: the raw substring count broke — or silently inflated —
    * the allowlist when a doc comment merely mentioned `.count()`).
    * Needles inside retained string literals remain counted; that
    * residual sensitivity is accepted because library code has no reason
    * to embed action spellings in strings (and none does today).
    */
  private[graft] def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    var block = 0
    var line = false
    var str = false
    var triple = false
    def at(s: String) = src.regionMatches(i, s, 0, s.length)
    while (i < src.length) {
      val c = src.charAt(i)
      if (line) {
        if (c == '\n') { line = false; out.append(c) }
        i += 1
      } else if (block > 0) {
        if (at("/*")) { block += 1; i += 2 }
        else if (at("*/")) { block -= 1; i += 2 }
        else { if (c == '\n') out.append(c); i += 1 } // keep line numbers stable
      } else if (triple) {
        if (at("\"\"\"")) { out.append("\"\"\""); triple = false; i += 3 }
        else { out.append(c); i += 1 }
      } else if (str) {
        if (c == '\\' && i + 1 < src.length) { out.append(c).append(src.charAt(i + 1)); i += 2 }
        else { out.append(c); if (c == '"') str = false; i += 1 }
      } else if (at("//")) { line = true; i += 2 }
      else if (at("/*")) { block = 1; i += 2 }
      else if (at("\"\"\"")) { out.append("\"\"\""); triple = true; i += 3 }
      else if (c == '"') { out.append(c); str = true; i += 1 }
      else if (c == '\'' && i + 2 < src.length &&
               (src.charAt(i + 1) == '\\' || src.charAt(i + 2) == '\'')) {
        // char literal ('a', '\n', '\''): copy it whole so a quote inside
        // can't flip the string state
        val end = math.min(if (src.charAt(i + 1) == '\\') i + 4 else i + 3, src.length)
        out.append(src.substring(i, end)); i = end
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  test("stripComments removes comments but keeps code and strings") {
    val fixture =
      "val a = df.count() // df.count() in a line comment\n" +
      "/* .collect() in a block /* nested .head() */ comment */\n" +
      "val u = \"http://x\" // URL slashes must not hide this: df.collect()\n" +
      "val s = \"contains .show( in a string\"\n" +
      "val c = '\"'; val d = df.head()\n"
    val stripped = stripComments(fixture)
    val eager = Seq(".head()", ".collect()", ".count()", ".show(")
    def n(s: String) = eager.map(e => s.sliding(e.length).count(_ == e)).sum
    assert(n(fixture) == 7, s"fixture drifted: ${n(fixture)}")
    // survivors: code .count() + code .head() + the in-string .show(
    assert(n(stripped) == 3, s"stripped count: ${n(stripped)}\n$stripped")
    assert(stripped.contains("val u = \"http://x\""),
      "string-internal // must not strip the rest of the line")
  }

  test("eager driver actions in library packages stay on the SURVEY §4 allowlist") {
    // SURVEY §4: transform/query ops are pure plan-builders; the eager
    // exceptions (model/index builders, sinks/sources machinery, and the
    // bounded adaptive-stats reads in Dedup) are ENUMERATED. This pins the
    // exact per-file count of eager-action call sites in the library
    // packages (the root-level evidence mains and hosts are excluded via
    // the package dirs), so a new eager site — or another one in Dedup —
    // fails the suite and must be reviewed against the invariant.
    //
    // Needles cover the action spellings this codebase uses on
    // DataFrames/RDDs: .head(), .collect(), .count(), .show(. A grep
    // confirms zero groupBy(...).count() textual false positives (grouped
    // counts here are agg(count(lit(1)))). `.take(`/`.first()` are NOT
    // pinned: every current occurrence is on Scala collections/strings,
    // where the needle would drown the signal in false positives.
    val pkgs = Seq("api", "dedup", "formats", "functions", "multimodal",
      "operators", "plans", "similarity", "sinks", "sources", "streaming", "text")
    val eager = Seq(".head()", ".collect()", ".count()", ".show(")
    val counts = pkgs.flatMap(p => scalaFiles(s"src/main/scala/graft/$p"))
      .map { f =>
        // comments stripped first (ADVICE r16): a doc comment mentioning
        // an action spelling must not move these counts
        val src = stripComments(new String(Files.readAllBytes(f), "UTF-8"))
        f.getFileName.toString -> eager.map(n => src.sliding(n.length).count(_ == n)).sum
      }.filter(_._2 > 0).toMap
    val allowed = Map(
      // ngramJaccardPairs: vstats .head() + nDocs path-pick .count();
      // embeddingNearDupPairs: stats .head(); incrementalFromStore:
      // touched .count() broadcast decision; connectedComponents: the
      // bounded limit(N + 1) edge .collect() of the driver path, and the
      // distributed path's symRaw RDD .count() partitioner sizing;
      // minHashPairs' driver path: its two bounded pulls, the limit(N + 1)
      // band-hash .collect() and the candidates' shingle-hash .collect()
      "Dedup.scala" -> 8,
      "Profile.scala" -> 2,     // summary aggregates (profiling IS an action)
      "AnnStore.scala" -> 4,    // bounded centroid/codebook/probed-cell loads
      "IvfIndex.scala" -> 3,    // k-means sample + corpus-count for frac (cap-bounded)
      "PqIndex.scala" -> 6,     // k-means + codebook samples + counts (cap-bounded)
      "Bpe.scala" -> 2,         // vocab-merge learning loop (driver-side by design)
      "Pipeline.scala" -> 2,    // in-memory sink materialization (a sink action)
      "Sinks.scala" -> 2,       // assert-sink report row + console-sink show
      "ExcelFormat.scala" -> 1, // xlsx writer's per-partition write force (a sink action)
      "CdcCapture.scala" -> 1)  // localCheckpoint force inside the capture bracket
    assert(counts == allowed,
      s"eager-action sites drifted from the SURVEY §4 allowlist:\n" +
        s"  found:   ${counts.toSeq.sortBy(_._1)}\n" +
        s"  allowed: ${allowed.toSeq.sortBy(_._1)}\n" +
        "If the new site is intentional, document it in SURVEY §4's exception " +
        "list and the operator's scaladoc, then update this allowlist.")
  }
}

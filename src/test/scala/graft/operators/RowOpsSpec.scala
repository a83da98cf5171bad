package graft.operators

import graft.SparkSpec

class RowOpsSpec extends SparkSpec {
  import spark.implicits._

  test("filterRows applies SQL predicate") {
    val df = Seq((1, 5.0), (2, 50.0)).toDF("id", "v")
    assert(RowOps.filterRows(df, "v > 10").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("splitField pads missing parts with null and handles regex metachars") {
    val df = Seq(Tuple1("a.b.c"), Tuple1("x")).toDF("s")
    val out = RowOps.splitField(df, ".", "s", Seq("p1", "p2", "p3"))
      .select("p1", "p2", "p3").collect()
    assert(out(0).toSeq == Seq("a", "b", "c"))
    assert(out(1).toSeq == Seq("x", null, null))
  }

  test("splitField keeps the unsplit tail in the last output field (String.split limit)") {
    val df = Seq(Tuple1("a b c d")).toDF("s")
    val out = RowOps.splitField(df, " ", "s", Seq("p1", "p2")).select("p1", "p2").collect()
    assert(out(0).toSeq == Seq("a", "b c d"))
  }

  test("replaceField literal replaces all occurrences, no regex interpretation") {
    val df = Seq(Tuple1("a.b.a")).toDF("s")
    val out = RowOps.replaceField(df, "s", ".", "-").collect()
    assert(out(0).getString(0) == "a-b-a")
  }

  test("replaceField literal mode equals java.lang.String.replace") {
    // the reference's literal mode is String.replace(pattern, replacement)
    val texts = Seq("cust-00042", "a.b*c+d?a.b", "x$1y\\z", "café 中文 café", "\u00e9\u00e9\u00e9",
      "\ud83d\ude00 ok \ud83d\ude00", "", "aaaa")
    val cases = Seq(
      ("cust-", "C"),           // the etl_orders step
      (".b*", "_"),             // regex metacharacters in the pattern
      ("a", "$1"),              // a group reference in the replacement stays literal
      ("b", "\\"),             // so does a backslash
      ("caf\u00e9", "tea"),      // multi-byte text
      ("\u00e9", "e\u0301"),
      ("\ud83d\ude00", ":)"),
      ("aa", "a"),              // non-overlapping, left to right
      ("", "|"),                // an empty pattern inserts around every char
      ("", ""))
    val rows = texts.map(Option(_)) :+ None
    val df = rows.toDF("s")
    for ((pattern, replacement) <- cases) {
      val got = RowOps.replaceField(df, "s", pattern, replacement).collect().map(r => Option(r.getString(0)))
      // with an empty pattern Java splits a surrogate pair, which no UTF-8
      // string can hold: those rows are not compared
      val compared = rows.indices.filter(i => pattern.nonEmpty || rows(i).forall(t => t.length == t.codePointCount(0, t.length)))
      for (i <- compared)
        assert(got(i) == rows(i).map(_.replace(pattern, replacement)), s"pattern '$pattern' -> '$replacement' on ${rows(i)}")
    }
  }

  test("replaceField regex mode, replace-all vs replace-first") {
    val df = Seq(Tuple1("x11y222z")).toDF("s")
    assert(RowOps.replaceField(df, "s", "[0-9]+", "#", isRegex = true)
      .collect()(0).getString(0) == "x#y#z")
    assert(RowOps.replaceField(df, "s", "[0-9]+", "#", isRegex = true, replaceFirst = true)
      .collect()(0).getString(0) == "x#y222z")
  }
}

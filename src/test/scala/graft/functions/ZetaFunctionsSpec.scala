package graft.functions

import java.sql.Timestamp

import graft.SparkSpec

class ZetaFunctionsSpec extends SparkSpec {

  private lazy val registered = { ZetaFunctions.register(spark); spark }

  private def one(sql: String): Any =
    registered.sql(s"SELECT $sql AS v").collect()(0).get(0)

  test("sqlZeta keeps the session's zeta registrations (no replacement per call)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    registered
    val reg = spark.sessionState.functionRegistry
    // names register() installs and the dialect swap leaves alone
    def infos = Seq("zeta_week", "insert_str", "regexp_replace")
      .map(n => reg.lookupFunction(FunctionIdentifier(n)).get)
    val before = infos
    graft.operators.SqlOp.sqlZeta(spark, spark.range(1).toDF("x"), "SELECT x FROM input").collect()
    assert(infos.zip(before).forall { case (a, b) => a eq b })
  }

  test("hextoraw / rawtohex round-trip (4 hex digits per char)") {
    assert(ZetaFunctions.rawtohex("Az") == "0041007a")
    assert(ZetaFunctions.hextoraw("0041007a") == "Az")
    assert(one("hextoraw(rawtohex('graft'))") == "graft")
  }

  test("insert_str follows H2 semantics incl. edge cases") {
    assert(ZetaFunctions.insertStr("Hello World", 7, 5, "Spark") == "Hello Spark")
    assert(ZetaFunctions.insertStr("abc", 0, 2, "X") == "abc") // start<1 -> unchanged
    assert(ZetaFunctions.insertStr("abc", 2, 99, "X") == "aX") // len clamped
    assert(ZetaFunctions.insertStr(null, 1, 1, "X") == "X")
    assert(ZetaFunctions.insertStr("abc", 1, 1, null) == "abc")
    assert(one("insert_str('Hello World', 7, 5, 'Spark')") == "Hello Spark")
  }

  test("dateadd uses zeta argument order (ts, n, unit)") {
    val t = Timestamp.valueOf("2024-01-31 10:00:00")
    assert(ZetaFunctions.dateadd(t, 1, "MONTH") == Timestamp.valueOf("2024-02-29 10:00:00"))
    assert(ZetaFunctions.dateadd(t, -2, "HOUR") == Timestamp.valueOf("2024-01-31 08:00:00"))
    assert(one("dateadd(TIMESTAMP '2024-01-31 10:00:00', 1, 'MONTH')") ==
      Timestamp.valueOf("2024-02-29 10:00:00"))
  }

  test("zeta_datediff is b - a") {
    val a = Timestamp.valueOf("2024-01-01 00:00:00")
    val b = Timestamp.valueOf("2024-03-01 12:00:00")
    assert(ZetaFunctions.zetaDatediff(a, b, "DAY") == 60L)
    assert(ZetaFunctions.zetaDatediff(b, a, "DAY") == -60L)
    assert(ZetaFunctions.zetaDatediff(a, b, "MONTH") == 2L)
    assert(ZetaFunctions.zetaDatediff(a, b, "HOUR") == 60L * 24 + 12)
  }

  test("dayname/monthname/week/day_of_* match java.time") {
    assert(one("dayname(TIMESTAMP '2024-01-01 00:00:00')") == "Monday")
    assert(one("monthname(TIMESTAMP '2024-03-15 00:00:00')") == "March")
    assert(one("week(TIMESTAMP '2024-01-04 00:00:00')") == 1)
    assert(one("day_of_week(TIMESTAMP '2024-01-07 00:00:00')") == 1) // Sunday=1
    assert(one("day_of_month(TIMESTAMP '2024-02-29 00:00:00')") == 29)
    assert(one("day_of_year(TIMESTAMP '2024-12-31 00:00:00')") == 366)
  }

  test("formatdatetime / parsedatetime / is_date") {
    assert(one("formatdatetime(TIMESTAMP '2024-06-05 07:08:09', 'yyyy/MM/dd HH:mm')") == "2024/06/05 07:08")
    assert(one("parsedatetime('2024-06-05 07:08:09', 'yyyy-MM-dd HH:mm:ss')") ==
      Timestamp.valueOf("2024-06-05 07:08:09"))
    assert(one("parsedatetime('2024-06-05', 'yyyy-MM-dd')") ==
      Timestamp.valueOf("2024-06-05 00:00:00"))
    assert(one("is_date('2024-06-05', 'yyyy-MM-dd')") == true)
    assert(one("is_date('notadate', 'yyyy-MM-dd')") == false)
  }

  test("truncate is toward-zero at given digits") {
    assert(ZetaFunctions.truncate(3.789, 1) == 3.7)
    assert(ZetaFunctions.truncate(-3.789, 1) == -3.7)
    assert(ZetaFunctions.truncate(3.789, 0) == 3.0)
    assert(one("truncate(123.456, 2)") == 123.45)
  }

  test("to_char for timestamps and numbers") {
    assert(one("to_char(TIMESTAMP '2024-06-05 07:08:09', 'yyyy-MM-dd')") == "2024-06-05")
    assert(ZetaFunctions.toCharNum(42.0) == "42")
    assert(ZetaFunctions.toCharNum(42.5) == "42.5")
  }

  test("zeta names that are Spark builtins resolve directly") {
    assert(one("soundex('Spark')") == "S162")
    assert(one("regexp_substr('abc123def', '[0-9]+')") == "123")
    assert(one("translate('abcd', 'bd', 'xy')") == "axcy")
    assert(one("instr('seatunnel', 'tunnel')") == 4)
    assert(one("locate('tunnel', 'seatunnel')") == 4)
    assert(one("space(3)") == "   ")
    assert(one("char(65)") == "A")
    assert(one("ifnull(NULL, 'x')") == "x")
    assert(one("nullif('a', 'a')") == null)
  }
}

package graft.functions

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, LocalTime}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.SparkSession

/** SeaTunnel Zeta SQL scalar-function compatibility layer.
  *
  * Reference: seatunnel-transforms-v2 .../sql/zeta/ZetaSQLFunction.java and
  * .../sql/zeta/functions/{String,Numeric,DateTime,System}Function.java.
  *
  * Most zeta function names ARE Spark builtins (ABS..TANH, ASCII, CONCAT,
  * LPAD, REGEXP_*, SOUNDEX, SPLIT, TRANSLATE, UUID, COALESCE, NULLIF,
  * IFNULL, EXTRACT, DATE_TRUNC, FROM_UNIXTIME, HOUR..YEAR, ...) and resolve
  * to codegen'd Catalyst expressions untouched. `register` adds only the
  * names Spark lacks (or where zeta argument order differs), so reference
  * SQL runs verbatim through [[graft.operators.SqlOp]].
  *
  * Registered functions are Scala UDFs — acceptable here because each is a
  * scalar leaf, not a hot aggregation path; null-in → null-out is handled
  * by Spark's primitive-null bypass. Sessions must keep
  * spark.sql.datetime.java8API.enabled=false (Graft's builders do) so
  * temporal UDF args arrive as java.sql.Timestamp/Date.
  *
  * Zeta-order caveats (documented reference fidelity):
  *  - DATEADD(ts, n, unit)  — StringFunction-style zeta order
  *    (docs/en/transform-v2/sql-functions.md: "DATEADD(dateAndTime,
  *    addIntLong, datetimeFieldString)"); Spark's native
  *    timestampadd(unit, n, ts) remains available.
  *  - ZETA_DATEDIFF(a, b, unit) = b - a in unit (DateTimeFunction.java:143);
  *    Spark's datediff(end, start) builtin is left untouched.
  */
object ZetaFunctions {

  // ---- string ----

  /** StringFunction.java:132 — 4 hex digits per char. */
  def hextoraw(s: String): String =
    if (s == null) null
    else {
      require(s.length % 4 == 0, s"HEXTORAW needs length % 4 == 0, got ${s.length}")
      val sb = new StringBuilder(s.length / 4)
      var i = 0
      while (i < s.length) {
        sb.append(Integer.parseInt(s.substring(i, i + 4), 16).toChar)
        i += 4
      }
      sb.toString
    }

  /** StringFunction.java:150 — each char to 4 hex digits. */
  def rawtohex(s: String): String =
    if (s == null) null
    else {
      val sb = new StringBuilder(4 * s.length)
      s.foreach(c => sb.append(f"${c.toInt}%04x"))
      sb.toString
    }

  /** StringFunction.java:180 — H2 INSERT(s, start(1-based), len, repl). */
  def insertStr(s1: String, start0: Int, length0: Int, s2: String): String = {
    if (s1 == null) return s2
    if (s2 == null) return s1
    val len1 = s1.length
    val start = start0 - 1
    var length = length0
    if (start < 0 || length <= 0 || s2.isEmpty || start > len1) return s1
    if (start + length > len1) length = len1 - start
    s1.substring(0, start) + s2 + s1.substring(start + length)
  }

  // ---- datetime ----

  private def toLdt(ts: Timestamp): LocalDateTime = ts.toLocalDateTime

  private def addUnit(ldt: LocalDateTime, n: Long, unit: String): LocalDateTime =
    unit.toUpperCase match {
      case "YEAR" => ldt.plusYears(n)
      case "MONTH" => ldt.plusMonths(n)
      case "WEEK" => ldt.plusWeeks(n)
      case "DAY" | "" => ldt.plusDays(n)
      case "HOUR" => ldt.plusHours(n)
      case "MINUTE" => ldt.plusMinutes(n)
      case "SECOND" => ldt.plusSeconds(n)
      case "MILLISECOND" => ldt.plus(n, ChronoUnit.MILLIS)
      case u => throw new IllegalArgumentException(s"DATEADD: unsupported unit $u")
    }

  /** DateTimeFunction.java:55 — DATEADD(ts, n, unit), zeta argument order. */
  def dateadd(ts: Timestamp, n: Long, unit: String): Timestamp =
    if (ts == null) null else Timestamp.valueOf(addUnit(toLdt(ts), n, if (unit == null) "DAY" else unit))

  /** DateTimeFunction.java:143 — ZETA_DATEDIFF(a, b, unit) = b - a. */
  def zetaDatediff(a: Timestamp, b: Timestamp, unit: String): java.lang.Long = {
    if (a == null || b == null) return null
    val (la, lb) = (toLdt(a), toLdt(b))
    val u = if (unit == null) "DAY" else unit.toUpperCase
    u match {
      case "YEAR" => java.time.Period.between(la.toLocalDate, lb.toLocalDate).getYears.toLong
      case "MONTH" => java.time.Period.between(la.toLocalDate, lb.toLocalDate).getMonths.toLong
      case "DAY" => ChronoUnit.DAYS.between(la.toLocalDate, lb.toLocalDate)
      case "WEEK" => ChronoUnit.WEEKS.between(la.toLocalDate, lb.toLocalDate)
      case "HOUR" => ChronoUnit.HOURS.between(la, lb)
      case "MINUTE" => ChronoUnit.MINUTES.between(la, lb)
      case "SECOND" => ChronoUnit.SECONDS.between(la, lb)
      case other => throw new IllegalArgumentException(s"DATEDIFF: unsupported unit $other")
    }
  }

  /** DateTimeFunction.java:278 — full English day name. */
  def dayname(ts: Timestamp): String =
    if (ts == null) null
    else toLdt(ts).getDayOfWeek.getDisplayName(java.time.format.TextStyle.FULL, java.util.Locale.ENGLISH)

  /** DateTimeFunction.java:465 — full English month name. */
  def monthname(ts: Timestamp): String =
    if (ts == null) null
    else toLdt(ts).getMonth.getDisplayName(java.time.format.TextStyle.FULL, java.util.Locale.ENGLISH)

  /** DateTimeFunction.java:418 — java.time pattern formatting. */
  def formatdatetime(ts: Timestamp, fmt: String): String =
    if (ts == null || fmt == null) null
    else DateTimeFormatter.ofPattern(fmt).format(toLdt(ts))

  /** DateTimeFunction.java:484 — parse with a java.time pattern; falls back
    * from datetime to date-only to time-only patterns.
    */
  def parsedatetime(s: String, fmt: String): Timestamp = {
    if (s == null || fmt == null) return null
    val df = DateTimeFormatter.ofPattern(fmt)
    try Timestamp.valueOf(LocalDateTime.parse(s, df))
    catch {
      case _: Exception =>
        try Timestamp.valueOf(LocalDate.parse(s, df).atStartOfDay)
        catch {
          case _: Exception =>
            Timestamp.valueOf(LocalTime.parse(s, df).atDate(LocalDate.of(1970, 1, 1)))
        }
    }
  }

  /** DateTimeFunction.java:475 — does the string parse under the pattern. */
  def isDate(s: String, fmt: String): Boolean =
    try { parsedatetime(s, fmt) != null } catch { case _: Exception => false }

  /** ISO week of year (zeta WEEK). */
  def week(ts: Timestamp): java.lang.Integer =
    if (ts == null) null
    else toLdt(ts).get(java.time.temporal.WeekFields.ISO.weekOfWeekBasedYear())

  // ---- numeric / system ----

  /** NumericFunction truncate: toward-zero truncation at `digits` decimals. */
  def truncate(x: Double, digits: Int): Double = {
    val factor = math.pow(10, digits)
    if (x >= 0) math.floor(x * factor) / factor else math.ceil(x * factor) / factor
  }

  /** NumericFunction.java:155 — MOD via BigDecimal divideAndRemainder, so
    * fractional moduli are exact: MOD(13, 5.4) = 2.2, not Java fmod's
    * 2.1999999999999993 (reference e2e func_numeric.conf asserts 2.2).
    */
  def zetaMod(a: java.lang.Double, b: java.lang.Double): java.lang.Double = {
    if (a == null || b == null) return null
    require(b != 0d, "MOD by zero")
    java.math.BigDecimal.valueOf(a).divideAndRemainder(java.math.BigDecimal.valueOf(b))(1)
      .doubleValue()
  }

  // ---- DES (StringFunction-adjacent zeta UDFs) ----
  //
  // Reference: seatunnel-transforms-v2 .../sql/zeta/functions/udf/
  // DESUtil.java — DES/CBC/PKCS5Padding, fixed IV "12345678", DESKeySpec
  // from the password bytes, Base64-encoded ciphertext. Re-implemented
  // from that public behavioral contract on the JDK's javax.crypto.

  private def desCipher(mode: Int, password: String): javax.crypto.Cipher = {
    val dks = new javax.crypto.spec.DESKeySpec(password.getBytes("utf-8"))
    val key = javax.crypto.SecretKeyFactory.getInstance("DES").generateSecret(dks)
    val cipher = javax.crypto.Cipher.getInstance("DES/CBC/PKCS5Padding")
    cipher.init(mode, key, new javax.crypto.spec.IvParameterSpec("12345678".getBytes("utf-8")))
    cipher
  }

  def desEncrypt(password: String, data: String): String =
    if (password == null || data == null) null
    else java.util.Base64.getEncoder.encodeToString(
      desCipher(javax.crypto.Cipher.ENCRYPT_MODE, password).doFinal(data.getBytes("utf-8")))

  def desDecrypt(password: String, data: String): String =
    if (password == null || data == null) null
    else new String(desCipher(javax.crypto.Cipher.DECRYPT_MODE, password)
      .doFinal(java.util.Base64.getDecoder.decode(data)), "utf-8")

  /** StringFunction.java:654 — TO_CHAR for numbers. */
  def toCharNum(x: Double): String =
    if (x == math.rint(x) && !x.isInfinite) x.toLong.toString else x.toString

  // ---- arity/flag dispatch (doc-fidelity layer) ----
  //
  // Several documented zeta call forms can't be a single Scala UDF because
  // the same name needs multiple arities or literal-flag handling
  // (sql-functions.md: REGEXP_*(.., flagsString), TRUNC(numeric, digits),
  // DATEDIFF(a, b, unit), FROM_UNIXTIME(sec, fmt, tz)). These register as
  // function-registry BUILDERS that dispatch on argument shape and compose
  // Catalyst builtins, so 2-arg Spark forms keep their native codegen.

  /** H2 flag string -> inline regex modifiers; later flags override
    * earlier ones (sql-functions.md REGEXP_REPLACE notes).
    */
  private[functions] def flagsToInline(flags: String): String = {
    var ci = false; var dotall = false; var multi = false
    flags.foreach {
      case 'i' => ci = true
      case 'c' => ci = false
      case 'n' => dotall = true
      case 'm' => multi = true
      case ch => throw new IllegalArgumentException(s"invalid regexp flag '$ch'")
    }
    (if (ci) "(?i)" else "") + (if (dotall) "(?s)" else "") + (if (multi) "(?m)" else "")
  }

  private def registerBuilders(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String

    def call(name: String, args: Seq[Expression]): Expression =
      UnresolvedFunction(Seq(name), args, isDistinct = false)
    def litStr(e: Expression): Option[String] = e match {
      case Literal(null, _) => None
      case Literal(s: UTF8String, _) => Some(s.toString)
      case _ => None
    }
    def prefixed(pattern: Expression, flags: Expression): Expression = litStr(flags) match {
      case Some(f) if f.nonEmpty => Concat(Seq(Literal(flagsToInline(f)), pattern))
      case _ => pattern // NULL / empty flags = no modifiers
    }
    val reg = spark.sessionState.functionRegistry

    // REGEXP_REPLACE(s, re, rep[, flags]) — 4th arg is H2 flags, not
    // Spark's position
    reg.createOrReplaceTempFunction("regexp_replace", {
      case Seq(s, p, r) => RegExpReplace(s, p, r)
      case Seq(s, p, r, f) => RegExpReplace(s, prefixed(p, f), r)
      case args => throw new IllegalArgumentException(s"REGEXP_REPLACE: bad arg count ${args.length}")
    }, "built-in")

    // REGEXP_LIKE(s, re[, flags])
    reg.createOrReplaceTempFunction("regexp_like", {
      case Seq(s, p) => RLike(s, p)
      case Seq(s, p, f) => RLike(s, prefixed(p, f))
      case args => throw new IllegalArgumentException(s"REGEXP_LIKE: bad arg count ${args.length}")
    }, "built-in")

    // REGEXP_SUBSTR(s, re[, position, occurrence, flags, group]) — composed
    // from substring + regexp_extract_all + try_element_at (null on no match)
    reg.createOrReplaceTempFunction("regexp_substr", { args =>
      require(args.length >= 2, "REGEXP_SUBSTR needs at least 2 args")
      def isNullLit(e: Expression) = e match { case Literal(null, _) => true; case _ => false }
      val pat = prefixed(args(1), if (args.length >= 5) args(4) else Literal(null))
      val input = if (args.length >= 3 && !isNullLit(args(2)))
        call("substring", Seq(args.head, args(2), Literal(Int.MaxValue))) else args.head
      val occ = if (args.length >= 4 && !isNullLit(args(3))) args(3) else Literal(1)
      val grp = if (args.length >= 6 && !isNullLit(args(5))) args(5) else Literal(0)
      call("try_element_at", Seq(call("regexp_extract_all", Seq(input, pat, grp)), occ))
    }, "built-in")

    // TRUNC: numeric truncation (doc: TRUNC|TRUNCATE(numeric[, digits]));
    // string second arg keeps Spark's native date truncation
    reg.createOrReplaceTempFunction("trunc", {
      case Seq(d, fmt @ Literal(_: UTF8String, _)) => TruncDate(d, fmt)
      case Seq(x) => call("trunc_num", Seq(Cast(x, org.apache.spark.sql.types.DoubleType), Literal(0)))
      case Seq(x, digits) => call("trunc_num", Seq(Cast(x, org.apache.spark.sql.types.DoubleType), digits))
      case args => throw new IllegalArgumentException(s"TRUNC: bad arg count ${args.length}")
    }, "built-in")

    // H2/zeta CONCAT ignores NULL parameters (sql-functions.md: "NULL
    // parameters are ignored"; Spark's concat is null-propagating).
    // concat_ws('') has exactly those semantics for strings. The `||`
    // operator and DataFrame functions.concat are parsed structurally and
    // keep Spark behavior.
    reg.createOrReplaceTempFunction("concat", {
      args => call("concat_ws", Literal("") +: args)
    }, "built-in")

    // TIMESTAMPADD(ts, n, 'UNIT') — zeta order (the parser still handles
    // Spark's native TIMESTAMPADD(MONTH, n, ts) form before the registry)
    reg.createOrReplaceTempFunction("timestampadd", {
      case Seq(ts, n, unit @ Literal(_: UTF8String, _)) => call("dateadd", Seq(ts, n, unit))
      case args => throw new IllegalArgumentException(
        s"TIMESTAMPADD: expected (dateAndTime, addInt, 'unit'), got ${args.length} args")
    }, "built-in")

    // DATEDIFF(a, b, unit) = b - a per the reference (DateTimeFunction
    // .java:143); 2-arg form stays Spark's datediff(end, start)
    reg.createOrReplaceTempFunction("datediff", {
      case Seq(end, start) => DateDiff(end, start)
      case Seq(a, b, unit) => call("zeta_datediff", Seq(a, b, unit))
      case args => throw new IllegalArgumentException(s"DATEDIFF: bad arg count ${args.length}")
    }, "built-in")

    // FROM_UNIXTIME(sec[, fmt[, timeZone]]) — 3-arg zone form per the doc
    reg.createOrReplaceTempFunction("from_unixtime", {
      case Seq(sec) => FromUnixTime(sec, Literal("yyyy-MM-dd HH:mm:ss"))
      case Seq(sec, fmt) => FromUnixTime(sec, fmt)
      case Seq(sec, fmt, tz) =>
        val zone = litStr(tz).getOrElse(
          throw new IllegalArgumentException("FROM_UNIXTIME: timeZone must be a literal string"))
        FromUnixTime(sec, fmt).withTimeZone(zone).asInstanceOf[Expression]
      case args => throw new IllegalArgumentException(s"FROM_UNIXTIME: bad arg count ${args.length}")
    }, "built-in")

    // TO_CHAR: 1-arg = cast-to-string (SystemFunction-style, covers
    // numerics and booleans); 2-arg = datetime pattern formatting
    reg.createOrReplaceTempFunction("to_char", {
      case Seq(x) => Cast(x, StringType)
      case Seq(ts, fmt) => call("formatdatetime", Seq(ts, fmt))
      case args => throw new IllegalArgumentException(s"TO_CHAR: bad arg count ${args.length}")
    }, "built-in")

    // DATEADD(ts, n[, unit]) — 2-arg defaults to DAY (DateTimeFunction)
    reg.createOrReplaceTempFunction("dateadd", {
      case Seq(ts, n) => call("zeta_dateadd", Seq(ts, n, Literal("DAY")))
      case Seq(ts, n, unit) => call("zeta_dateadd", Seq(ts, n, unit))
      case args => throw new IllegalArgumentException(s"DATEADD: bad arg count ${args.length}")
    }, "built-in")

    // zeta-typed ARRAY and digit-parsing CASTs (ZetaExprs scaladoc)
    reg.createOrReplaceTempFunction("zeta_array",
      args => ZetaExprs.ZetaArray(args), "built-in")
    reg.createOrReplaceTempFunction("zeta_cast_date",
      { case Seq(x) => ZetaExprs.ZetaCastDate(x) }, "built-in")
    reg.createOrReplaceTempFunction("zeta_cast_time",
      { case Seq(x) => ZetaExprs.ZetaCastTime(x) }, "built-in")
    reg.createOrReplaceTempFunction("zeta_cast_timestamp",
      { case Seq(x) => ZetaExprs.ZetaCastTimestamp(x) }, "built-in")
  }

  /** Zeta WEEK: WeekFields.ISO.weekOfYear() + 1 (DateTimeFunction.java:537
    * — NOT the ISO week-based-year week the `week` UDF exposes).
    */
  def zetaWeek(ts: Timestamp): java.lang.Integer =
    if (ts == null) null
    else Int.box(toLdt(ts).toLocalDate.get(
      java.time.temporal.WeekFields.ISO.weekOfYear()) + 1)

  /** Zeta DAY_OF_WEEK: ISO Monday=1..Sunday=7 (DateTimeFunction.java:323). */
  def zetaDayOfWeek(ts: Timestamp): java.lang.Integer =
    if (ts == null) null else Int.box(toLdt(ts).getDayOfWeek.getValue)

  // ---- dialect-scoped overrides ----
  //
  // These REPLACE Spark builtins with zeta semantics (different result
  // types or argument orders), so they must not leak into Spark-flavored
  // SQL or the DataFrame API (Spark 4's functions.* resolve through the
  // same session registry). `withDialect` installs them, runs the body
  // (parse + analysis happen eagerly inside), and restores the previous
  // builders.

  private def dialectOverrides: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    import org.apache.spark.unsafe.types.UTF8String

    def call(name: String, args: Seq[Expression]): Expression =
      UnresolvedFunction(Seq(name), args, isDistinct = false)
    def litStr(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, _) => Some(s.toString)
      case _ => None
    }
    def isFractionalLit(e: Expression): Boolean = e match {
      case Literal(_, t) => t == DoubleType || t == org.apache.spark.sql.types.FloatType ||
        t.isInstanceOf[org.apache.spark.sql.types.DecimalType]
      case Cast(Literal(_, _), t, _, _) => t == DoubleType // dialect double-literal rewrite
      case _ => false
    }
    def intCeil(args: Seq[Expression]): Expression = args match {
      case Seq(x) => Cast(Ceil(x), IntegerType)
      case Seq(x, d) => Cast(RoundCeil(x, d), IntegerType)
      case _ => throw new IllegalArgumentException(s"CEIL: bad arg count ${args.length}")
    }

    Seq(
      // CEIL/FLOOR -> Integer (NumericFunction.java:193/:285 `.intValue()`)
      "ceil" -> intCeil _,
      "ceiling" -> intCeil _,
      "floor" -> { (args: Seq[Expression]) => args match {
        case Seq(x) => Cast(Floor(x), IntegerType)
        case Seq(x, d) => Cast(RoundFloor(x, d), IntegerType)
        case _ => throw new IllegalArgumentException(s"FLOOR: bad arg count ${args.length}")
      }},
      // SIGN -> int (NumericFunction.java:406)
      "sign" -> { (args: Seq[Expression]) => Cast(Signum(args.head), IntegerType) },
      // MOD: integral-literal modulus stays native % (cast to the
      // literal's type, NumericFunction.java:171-176); fractional-literal
      // modulus is BigDecimal-exact (zetaMod)
      "mod" -> { (args: Seq[Expression]) => args match {
        case Seq(l, r) if isFractionalLit(r) =>
          call("zeta_mod", Seq(Cast(l, DoubleType), Cast(r, DoubleType)))
        case Seq(l, r @ Literal(_, LongType)) => Cast(Remainder(l, r), LongType)
        case Seq(l, r @ Literal(_, IntegerType)) => Cast(Remainder(l, r), IntegerType)
        case Seq(l, r) => Remainder(l, r)
        case _ => throw new IllegalArgumentException(s"MOD: bad arg count ${args.length}")
      }},
      // LENGTH family -> Long (StringFunction returns Long; the e2e
      // func_string.conf asserts bigint)
      "length" -> { (args: Seq[Expression]) => Cast(Length(args.head), LongType) },
      "char_length" -> { (args: Seq[Expression]) => Cast(Length(args.head), LongType) },
      "character_length" -> { (args: Seq[Expression]) => Cast(Length(args.head), LongType) },
      "bit_length" -> { (args: Seq[Expression]) => Cast(BitLength(args.head), LongType) },
      "octet_length" -> { (args: Seq[Expression]) => Cast(OctetLength(args.head), LongType) },
      // TRIM/LTRIM/RTRIM(str[, chars]) — H2 argument order (string FIRST;
      // Spark's native 2-arg form is (trimStr, srcStr))
      "trim" -> { (args: Seq[Expression]) => args match {
        case Seq(s) => StringTrim(s, None)
        case Seq(s, chars) => StringTrim(s, Some(chars))
        case _ => throw new IllegalArgumentException(s"TRIM: bad arg count ${args.length}")
      }},
      "ltrim" -> { (args: Seq[Expression]) => args match {
        case Seq(s) => StringTrimLeft(s, None)
        case Seq(s, chars) => StringTrimLeft(s, Some(chars))
        case _ => throw new IllegalArgumentException(s"LTRIM: bad arg count ${args.length}")
      }},
      "rtrim" -> { (args: Seq[Expression]) => args match {
        case Seq(s) => StringTrimRight(s, None)
        case Seq(s, chars) => StringTrimRight(s, Some(chars))
        case _ => throw new IllegalArgumentException(s"RTRIM: bad arg count ${args.length}")
      }},
      // DATE_TRUNC: zeta order is (ts, 'UNIT'); a literal-first call keeps
      // Spark's native ('unit', ts) order so mixed SQL still works
      "date_trunc" -> { (args: Seq[Expression]) => args match {
        case Seq(fmt @ Literal(_: UTF8String, _), ts) => TruncTimestamp(fmt, ts)
        case Seq(ts, unit) => TruncTimestamp(unit, ts)
        case _ => throw new IllegalArgumentException(s"DATE_TRUNC: bad arg count ${args.length}")
      }},
      // TO_DATE(s[, fmt]): a format with time fields yields a TIMESTAMP
      // (zeta toDate returns LocalDateTime then — func_datetime.conf
      // asserts to_date(c7,'yyyy-MM-dd HH:mm:ss.SSS') IS a timestamp)
      "to_date" -> { (args: Seq[Expression]) => args match {
        case Seq(s) => new ParseToDate(s)
        case Seq(s, fmt) =>
          val hasTime = litStr(fmt).exists(_.exists(c => "Hhmsk".contains(c)))
          if (hasTime) call("parsedatetime", Seq(s, fmt)) else new ParseToDate(s, fmt)
        case _ => throw new IllegalArgumentException(s"TO_DATE: bad arg count ${args.length}")
      }},
      // EXTRACT(field FROM source) — zeta/H2: int results, ISO DAYOFWEEK
      // (Monday=1), truncated int SECOND, MILLISECOND supported
      "extract" -> { (args: Seq[Expression]) =>
        require(args.length == 2, s"EXTRACT: bad arg count ${args.length}")
        val src = args(1)
        litStr(args.head).getOrElse(
          throw new IllegalArgumentException("EXTRACT: field must be a literal")).toUpperCase match {
          case "YEAR" => Year(src)
          case "QUARTER" => Quarter(src)
          case "MONTH" => Month(src)
          case "WEEK" => call("zeta_week", Seq(src))
          case "DAY" | "DAYOFMONTH" | "DAY_OF_MONTH" => DayOfMonth(src)
          case "DAYOFWEEK" | "DAY_OF_WEEK" | "ISO_DAY_OF_WEEK" => Add(WeekDay(src), Literal(1))
          case "DAYOFYEAR" | "DAY_OF_YEAR" => DayOfYear(src)
          case "HOUR" => Hour(src)
          case "MINUTE" => Minute(src)
          case "SECOND" => Second(src)
          case "MILLISECOND" => Cast(Remainder(UnixMillis(src), Literal(1000L)), IntegerType)
          case other => throw new IllegalArgumentException(s"EXTRACT: unsupported field $other")
        }
      },
      // DATEDIFF(a, b) = b - a in days (DateTimeFunction.java:143 — the
      // REVERSE of Spark's datediff(end, start); func_datetime.conf
      // asserts datediff('2021-04-15','2022-01-23') = 283)
      "datediff" -> { (args: Seq[Expression]) => args match {
        case Seq(a, b) => call("zeta_datediff", Seq(a, b, Literal("DAY")))
        case Seq(a, b, unit) => call("zeta_datediff", Seq(a, b, unit))
        case _ => throw new IllegalArgumentException(s"DATEDIFF: bad arg count ${args.length}")
      }},
      // WEEK / DAY_OF_WEEK: zeta's own field semantics (see zetaWeek)
      "week" -> { (args: Seq[Expression]) => call("zeta_week", args) },
      "day_of_week" -> { (args: Seq[Expression]) => call("zeta_day_of_week", args) })
  }

  /** Run `body` with the zeta dialect overrides installed, restoring the
    * previous builders afterwards. Parse/analysis must happen inside
    * `body` (Dataset operations analyze eagerly, so building the plan
    * inside suffices; execution later needs no registry).
    */
  def withDialect[T](spark: SparkSession)(body: => T): T = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
    val reg = spark.sessionState.functionRegistry
    // a GraftSession.create session has the zeta names already; registering
    // them again would replace every one on every call
    if (!reg.functionExists(FunctionIdentifier("zeta_week"))) register(spark)
    val overrides = dialectOverrides
    val saved = overrides.map { case (n, _) =>
      n -> reg.lookupFunctionBuilder(FunctionIdentifier(n)) }
    // drop, then register: the registry logs a warning for every name it
    // replaces, and these swaps are deliberate
    def install(n: String, b: Option[FunctionBuilder]): Unit = {
      reg.dropFunction(FunctionIdentifier(n))
      b.foreach(reg.createOrReplaceTempFunction(n, _, "built-in"))
    }
    overrides.foreach { case (n, b) => install(n, Some(b)) }
    try body
    finally saved.foreach { case (n, b) => install(n, b) }
  }

  /** Register every zeta name Spark lacks on `spark`. Idempotent.
    * Most scalar leaves are native codegen'd expressions ([[ZetaNative]],
    * r8 — same [[ZetaFunctions]] logic, no encoder round-trip); the few
    * remaining UDFs are the ones a native form wouldn't help: INSERT's
    * asymmetric null semantics (null s1 -> s2, outside Catalyst's
    * null-propagation shape), DES where cipher setup dominates, and the
    * 0-ary CURRENT_TIME. Expression builders last — they override where
    * the same name needs arity/type dispatch (to_char, dateadd, ...).
    */
  def register(spark: SparkSession): Unit = {
    val u = spark.udf
    // Spark's parser happily parses INSERT(...) as a function call in an
    // expression position, so the zeta name registers directly;
    // INSERT_STR stays as an alias.
    u.register("insert", insertStr _)
    u.register("insert_str", insertStr _)
    u.register("des_encrypt", desEncrypt _)
    u.register("des_decrypt", desDecrypt _)
    u.register("current_time",
      () => LocalTime.now().format(DateTimeFormatter.ofPattern("HH:mm:ss")))
    ZetaNative.register(spark)
    registerBuilders(spark)
  }
}

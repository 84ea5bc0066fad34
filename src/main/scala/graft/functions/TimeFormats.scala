package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time-layout kernels for the `time_parser` operator.
  *
  * The reference supports three layout types
  * (`stanza/operator/helper/time.go:131-228`):
  *  - `strptime`: C-style `%Y-%m-%d` directives, converted once at build time
  *    (we translate to Java DateTimeFormatter patterns at the driver);
  *  - `gotime`: Go reference-time layouts (translated the same way);
  *  - `epoch`: `s|ms|us|ns|s.ms|s.us|s.ns` numeric layouts.
  *
  * All translation is driver-side; the per-row work is a plain Spark
  * `to_timestamp` / integer arithmetic — fully codegen'd.
  */
object TimeFormats {

  /** strptime directive -> Java DateTimeFormatter pattern fragment.
    * Mirrors the reference's ctimefmt table one-to-one
    * (`stanza/operator/helper/ctimefmt/ctimefmt.go:16-55`), retargeted at
    * java.time. Notable fidelity points: the reference maps %j to the
    * `-07:00` ZONE (not day-of-year), %z to colonless `Z0700` (accepts
    * `+0000` and `Z`, not `+00:00`), and %s to an 8-digit fraction.
    */
  private val strptimeMap: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy",
    // %o "_1" / %e "_2" are Go space-padded: `[ ]` skips the pad space when
    // present (syslog single-digit days); %q "1" / %g "2" are bare unpadded
    'm' -> "MM", 'o' -> "[ ]M", 'q' -> "M",
    'b' -> "MMM", 'h' -> "MMM", 'B' -> "MMMM",
    'd' -> "dd", 'e' -> "[ ]d", 'g' -> "d",
    'a' -> "EEE", 'A' -> "EEEE",
    'H' -> "HH", 'I' -> "hh", 'l' -> "h",
    'p' -> "a", 'P' -> "a",
    'M' -> "mm", 'S' -> "ss",
    'L' -> "SSS", 'f' -> "SSSSSS", 's' -> "SSSSSSSS", // "999"/"999999"/"99999999"
    'Z' -> "zzz",
    'z' -> "XX", // Go "Z0700": +0000 or Z (NOT +00:00)
    'w' -> "xxxx", // Go "-070000"
    'i' -> "x", // Go "-07"
    'j' -> "xxx", // Go "-07:00" — the reference's (unusual) %j
    'k' -> "xxxxx", // Go "-07:00:00"
    'D' -> "MM/dd/yyyy", 'x' -> "MM/dd/yyyy",
    'F' -> "yyyy-MM-dd",
    'T' -> "HH:mm:ss", 'X' -> "HH:mm:ss",
    'r' -> "hh:mm:ss a", 'R' -> "HH:mm",
    'c' -> "EEE MMM dd HH:mm:ss yyyy",
    'n' -> "\n", 't' -> "\t"
  )

  /** Translate a strptime layout into a Java time pattern; literal text is
    * single-quoted where needed.
    */
  def strptimeToJava(layout: String): String = {
    val sb = new StringBuilder
    var i = 0
    def appendLiteral(c: Char): Unit =
      if (c.isLetter || c == '\'') sb.append('\'').append(if (c == '\'') "''" else c.toString).append('\'')
      else sb.append(c)
    while (i < layout.length) {
      val c = layout.charAt(i)
      if (c == '%' && i + 1 < layout.length) {
        val d = layout.charAt(i + 1)
        if (d == '%') appendLiteral('%')
        else sb.append(strptimeMap.getOrElse(d,
          throw new IllegalArgumentException(s"unsupported strptime directive %$d in '$layout'")))
        i += 2
      } else { appendLiteral(c); i += 1 }
    }
    // %L/%f/%s are the Go `999`-family (ctimefmt.go): OPTIONAL on parse and
    // greedy on digit count. Bracket the `.S`/`,S`-runs (Go commaOrPeriod:
    // ',' is a legal fraction separator — log4j/python "%H:%M:%S,%L") so the
    // parse kernel gives them appendFraction(0, 9) instead of a mandatory
    // exact-width fraction.
    sb.toString.replaceAll("([.,])(S+)", "[$1$2]")
  }

  /** Go reference-time layout -> Java pattern: a longest-match scan over the
    * Go reference-time constants (time/format.go std* tokens), with
    * non-token letters quoted as literals (a bare `T` would otherwise be an
    * invalid Java pattern letter). `.999`-family fractions (Go: optional,
    * trailing-zero-trimmed) become Spark optional sections `[.SSS]`.
    */
  def gotimeToJava(layout: String): String = {
    val tokens = Seq( // longest-first at each scan position
      "January" -> "MMMM", "Jan" -> "MMM",
      "Monday" -> "EEEE", "Mon" -> "EEE",
      "2006" -> "yyyy", "15" -> "HH",
      "01" -> "MM", "02" -> "dd", "03" -> "hh", "04" -> "mm", "05" -> "ss",
      "06" -> "yy",
      // Go `_2` skips one leading pad space when present — Java optional
      // section `[ ]d` (classic syslog "Jan  2 15:04:05" days 1-9)
      "_2" -> "[ ]d",
      "1" -> "M", "2" -> "d", "3" -> "h", "4" -> "m", "5" -> "s",
      "PM" -> "a", "pm" -> "a",
      "Z07:00" -> "XXX", "Z0700" -> "XX",
      "-07:00" -> "xxx", "-0700" -> "xx", "-07" -> "x",
      "MST" -> "zzz")
    // fraction runs of ANY width: `.000...` = mandatory exact-width
    // (stdFracSecond0), `.999...` = optional greedy (stdFracSecond9); Go
    // also accepts ',' as the separator (commaOrPeriod). The digit run must
    // END the number (format.go "String of digits must end here") — without
    // the lookahead, date separators like "02.01.2006" would misread ".0"
    // as a fraction.
    val fracRun = "([.,])(0+|9+)(?![0-9])".r
    val sb = new StringBuilder
    var i = 0
    while (i < layout.length) {
      val frac = fracRun.findPrefixMatchOf(layout.substring(i))
      if (frac.isDefined) {
        val run = frac.get.group(2)
        val w = math.min(run.length, 9)
        val ss = frac.get.group(1) + ("S" * w)
        sb.append(if (run.charAt(0) == '9') s"[$ss]" else ss)
        i += frac.get.end
      } else tokens.find { case (go, _) => layout.startsWith(go, i) } match {
        case Some((go, jv)) => sb.append(jv); i += go.length
        case None =>
          val c = layout.charAt(i)
          if (c.isLetter || c == '\'')
            sb.append('\'').append(if (c == '\'') "''" else c.toString).append('\'')
          else sb.append(c)
          i += 1
      }
    }
    sb.toString
  }

  val epochLayouts: Set[String] = Set("s", "ms", "us", "ns", "s.ms", "s.us", "s.ns")

  /** Parse an epoch-layout value column to epoch NANOSECONDS (LongType).
    * Accepts string or numeric inputs like the reference
    * (`helper/time.go:168-228`): string inputs must be strictly integral for
    * the integer layouts (Go `strconv.ParseInt`), numeric inputs truncate
    * toward zero (Go `int64(v)`). Fractional `s.ms|s.us|s.ns` layouts read
    * the digits after '.' as that sub-second unit (NOT as a decimal
    * fraction) — faithful to `time.Unix(sec, subsec*mult)`.
    * Requires `spark.sql.ansi.enabled=false` (invalid input -> NULL -> the
    * operator's on_error path).
    */
  def epochToNanos(value: Column, layout: String, sourceIsNumeric: Boolean): Column = {
    def intVal: Column =
      if (sourceIsNumeric) value.cast("long")
      else when(value.cast("string").rlike("^[+-]?[0-9]+$"), value.cast("string").cast("long"))
    layout match {
      case "s"  => intVal * lit(1000000000L)
      case "ms" => intVal * lit(1000000L)
      case "us" => intVal * lit(1000L)
      case "ns" => intVal
      case "s.ms" | "s.us" | "s.ns" =>
        val mult = layout match { case "s.ms" => 1000000L; case "s.us" => 1000L; case _ => 1L }
        // numeric sources render fixed-decimal with the layout's digit count
        // first, exactly like getEpochStamp's %10.3f/%10.6f/%10.9f
        // (stanza/operator/helper/time.go:212-224) — a raw double->string
        // cast would go scientific and fail the split
        val digits = layout match { case "s.ms" => 3; case "s.us" => 6; case _ => 9 }
        val str =
          if (sourceIsNumeric) format_string(s"%.${digits}f", value.cast("double"))
          else value.cast("string")
        val sec = substring_index(str, ".", 1).cast("long")
        val sub = when(str.contains("."), substring_index(str, ".", -1).cast("long")).otherwise(lit(0L))
        sec * lit(1000000000L) + sub * lit(mult)
      case other =>
        throw new IllegalArgumentException(s"invalid epoch layout '$other'")
    }
  }

  /** Does a translated Java pattern carry any zone/offset directive? */
  private def hasZone(javaPattern: String): Boolean = {
    // strip quoted literals, then look for zone pattern letters
    val noLit = javaPattern.replaceAll("'[^']*'", "")
    noLit.exists(c => c == 'X' || c == 'x' || c == 'z' || c == 'Z' || c == 'O' || c == 'V')
  }

  /** Patterns Spark's parser cannot or will not parse Go-faithfully: text
    * fields (month/day names, am/pm, zone names — Spark rejects `E` outright
    * and is case-sensitive where Go is not) and fractions (Go accepts any
    * digit count where Java `SSS` runs are exact-width). These route through
    * the [[GoTimeParse]] kernel.
    */
  private def needsKernel(javaPattern: String): Boolean = {
    val noLit = javaPattern.replaceAll("'[^']*'", "")
    noLit.contains("MMM") || noLit.contains("EEE") || noLit.exists(c =>
      c == 'z' || c == 'a' || c == 'S' || c == '[')
  }

  /** Full layout dispatch -> epoch-nanos column (null on parse failure,
    * which the operator wrapper turns into the on_error path).
    *
    * `location`: IANA zone applied to ZONE-LESS layouts, like Go's
    * `time.ParseInLocation` (`helper/time.go` Location config) — a layout
    * that parses a zone from the input ignores it.
    */
  def parseToNanos(value: Column, layoutType: String, layout: String,
      sourceIsNumeric: Boolean = false, location: Option[String] = None): Column = {
    def withLoc(javaPattern: String): Column = {
      if (needsKernel(javaPattern))
        return GoTimeParse.of(value.cast("string"), javaPattern,
          if (hasZone(javaPattern)) None else location)
      val parsed = try_to_timestamp(value.cast("string"), lit(javaPattern))
      location match {
        case Some(loc) if !hasZone(javaPattern) =>
          // parsed wall-clock (session TZ = UTC) reinterpreted as zone `loc`
          unix_micros(to_utc_timestamp(parsed, loc)) * lit(1000L)
        case _ => unix_micros(parsed) * lit(1000L)
      }
    }
    layoutType match {
      case "epoch" => epochToNanos(value, layout, sourceIsNumeric)
      case "strptime" => withLoc(strptimeToJava(layout))
      case "gotime" => withLoc(gotimeToJava(layout))
      case other => throw new IllegalArgumentException(s"unsupported layout type: $other")
    }
  }
}

/** java.time-based parse kernel for the patterns Spark's formatter cannot
  * parse Go-faithfully (see `TimeFormats.needsKernel`):
  *  - `parseCaseInsensitive`: Go matches month/day names and PM in any case
  *    (time/format.go `match`); Spark/Java default is exact-case;
  *  - day-of-week (`EEE`): Spark refuses the field for parsing outright;
  *  - zone names (`zzz`): resolved through the JDK short-ID map (MST, HST,
  *    ...); Go's own behavior here is host-zone-dependent (a name unknown to
  *    the current location parses with offset 0, time/format.go:1370-1385) —
  *    the JDK's fixed resolution is the deterministic superset;
  *  - fractions: Go's `.999`/`.000` runs accept ANY number of digits
  *    (format.go commaOrPeriod), where Java `S` runs are exact-width —
  *    fraction runs become `appendFraction(NANO_OF_SECOND, min, 9)`;
  *  - returns true epoch NANOS (Spark timestamps would truncate to micros).
  *
  * The formatter is built once per plan (driver) and shared; codegen calls
  * the worker directly so the surrounding stage stays fused.
  */
final class TimeParseWorker(javaPattern: String, defaultZone: String)
    extends Serializable {
  import java.time.{LocalDate, LocalTime, ZonedDateTime, ZoneId}
  import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
  import java.time.temporal.{ChronoField, TemporalQueries}

  @transient private lazy val fmt: DateTimeFormatter = {
    val b = new DateTimeFormatterBuilder().parseCaseInsensitive()
    // split out fraction runs (".SSS", "[.SSSSSS]") into appendFraction
    val fracRe = "(\\[)?([.,])(S+)\\]?".r
    var last = 0
    for (m <- fracRe.findAllMatchIn(javaPattern)) {
      if (m.start > last) b.appendPattern(javaPattern.substring(last, m.start))
      val optional = m.group(1) != null
      val sep = m.group(2).charAt(0)
      // bracketed = Go 999-family: optional, greedy on digit count;
      // bare = Go 000-family: mandatory, EXACTLY the layout's width.
      // appendFraction's built-in decimal point is '.' only, so the
      // separator is appended as a literal (optional sections included).
      if (optional) {
        b.optionalStart()
        b.appendLiteral(sep)
        b.appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, false)
        b.optionalEnd()
      } else {
        val w = m.group(3).length
        b.appendLiteral(sep)
        b.appendFraction(ChronoField.NANO_OF_SECOND, w, w, false)
      }
      last = m.end
    }
    if (last < javaPattern.length) b.appendPattern(javaPattern.substring(last))
    // withZone supplies the default zone during resolution when the input
    // carries none (Go ParseInLocation); a parsed zone/offset wins. With a
    // complete date+time the resolver then yields INSTANT_SECONDS directly —
    // no intermediate LocalDate/ZonedDateTime objects on the hot path.
    b.toFormatter(java.util.Locale.US)
      .withZone(ZoneId.of(defaultZone, ZoneId.SHORT_IDS))
  }

  def parse(input: org.apache.spark.unsafe.types.UTF8String): java.lang.Long = {
    if (input == null) return null
    try {
      // deliberate leniency vs Go (which rejects surrounding whitespace):
      // Spark's native timestamp parser trims too, so both engine paths
      // accept padded inputs consistently
      val ta = fmt.parse(input.toString.trim)
      if (ta.isSupported(ChronoField.INSTANT_SECONDS)) {
        val nano =
          if (ta.isSupported(ChronoField.NANO_OF_SECOND))
            ta.get(ChronoField.NANO_OF_SECOND)
          else 0
        java.lang.Long.valueOf(
          ta.getLong(ChronoField.INSTANT_SECONDS) * 1000000000L + nano)
      } else {
        // date-only / partial patterns: assemble with midnight defaults;
        // year-less layouts (rfc3164 syslog "Jan _2 15:04:05") take the
        // reference's SetTimestampYear heuristic (timeutils.go:89-103):
        // current year, minus one if that lands >7 days in the future
        val z = Option(ta.query(TemporalQueries.zone()))
          .getOrElse(ZoneId.of(defaultZone, ZoneId.SHORT_IDS))
        val date =
          if (ta.isSupported(ChronoField.YEAR)) LocalDate.from(ta)
          else {
            val now = java.time.LocalDate.now(z)
            // Go time.Date NORMALIZES overflow (Feb 29 in a non-leap year
            // -> Mar 1), so build by month/day offsets, not MonthDay.atYear
            // (which clamps to Feb 28)
            val mo = ta.get(ChronoField.MONTH_OF_YEAR)
            val day = ta.get(ChronoField.DAY_OF_MONTH)
            val d = LocalDate.of(now.getYear, 1, 1)
              .plusMonths(mo - 1).plusDays(day - 1)
            if (d.isAfter(now.plusDays(7))) d.minusYears(1) else d
          }
        val time =
          if (ta.isSupported(ChronoField.HOUR_OF_DAY)) LocalTime.from(ta)
          else LocalTime.MIDNIGHT
        val inst = ZonedDateTime.of(date, time, z).toInstant
        java.lang.Long.valueOf(inst.getEpochSecond * 1000000000L + inst.getNano)
      }
    } catch { case _: Exception => null }
  }
}

case class GoTimeParse(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    javaPattern: String,
    defaultZone: String
) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected lazy val kernel = new TimeParseWorker(javaPattern, defaultZone)
  protected def method = "parse"
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): GoTimeParse =
    copy(child = newChild)
}

object GoTimeParse {
  def of(c: Column, javaPattern: String, location: Option[String]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(GoTimeParse(
      org.apache.spark.sql.graftbridge.GraftBridge.expression(c), javaPattern,
      location.getOrElse("UTC")))
}

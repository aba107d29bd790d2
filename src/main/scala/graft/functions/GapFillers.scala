package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.unsafe.types.CalendarInterval
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The function-surface gap between DataFusion 45's scalar library and
 * Spark built-ins (SURVEY.md §2.8/§7.5). Two mechanisms:
 *
 *  1. **Custom Catalyst expressions** registered into the session
 *     `FunctionRegistry` (`register`): `gcd`, `lcm`, `iszero`, `date_bin`,
 *     `arrow_typeof`, `arrow_cast`, `version`, `to_char` (chrono-format
 *     translation), the `encode`/`decode` hex|base64 dispatchers, and
 *     `approx_median`. These are cold-path functions — CodegenFallback is
 *     acceptable; the hot relational path stays whole-stage codegen.
 *  2. **Name aliases** (`aliases`) where DataFusion and Spark differ
 *     only in spelling (`approx_distinct`→`approx_count_distinct`,
 *     `to_hex`→`hex`, …): registry entries built from the target's
 *     builtin builder, so Catalyst resolves them like any function —
 *     in `spark.sql` and `expr()` too, not only in `executeSql`.
 *     `string_agg` needs no entry: Spark ships it.
 *
 * Known non-goals (documented, matching SURVEY §7.5): `current_time` /
 * the TIME type (Spark has none). GROUPS window frames are a token mark
 * (`Dialect.markGroupsFrames`) plus an optimizer rule
 * (`graft.engine.GroupsFrames`, which registers its own marker
 * function); `to_local_time` is shimmed below onto `from_utc_timestamp`
 * with the session zone.
 */
object GapFillers {

  // ------------------------------------------------------------ exprs

  /** gcd(a, b) — DataFusion math family; absent from Spark. */
  case class Gcd(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any = {
      // absExact: Long.MinValue has no positive abs — raise, as ANSI would
      var x = Math.absExact(a.asInstanceOf[Long]); var y = Math.absExact(b.asInstanceOf[Long])
      while (y != 0) { val t = x % y; x = y; y = t }
      x
    }
    override def prettyName: String = "gcd"
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** lcm(a, b). */
  case class Lcm(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = Math.absExact(a.asInstanceOf[Long]); val y = Math.absExact(b.asInstanceOf[Long])
      if (x == 0 || y == 0) 0L
      else {
        var g = x; var h = y
        while (h != 0) { val t = g % h; g = h; h = t }
        Math.multiplyExact(x / g, y) // overflow raises (ANSI semantics)
      }
    }
    override def prettyName: String = "lcm"
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** date_bin(stride, source[, origin]) — DataFusion datetime family:
    * floors `source` into `stride`-wide bins anchored at `origin`.
    * Month-bearing strides are rejected, matching DataFusion. */
  case class DateBin(stride: Expression, source: Expression, anchor: Expression)
      extends TernaryExpression with CodegenFallback {
    override def first: Expression = stride
    override def second: Expression = source
    override def third: Expression = anchor
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = children.exists(_.nullable)

    private def strideMicros(v: Any): Long = v match {
      case c: CalendarInterval =>
        if (c.months != 0)
          throw new IllegalArgumentException("date_bin does not support month strides")
        c.days * 86400000000L + c.microseconds
      case l: Long => stride.dataType match {
        case _: DayTimeIntervalType => l // already micros
        case _ => throw new IllegalArgumentException(
          s"date_bin stride must be a day-time interval, got ${stride.dataType}")
      }
      case other => throw new IllegalArgumentException(s"bad stride: $other")
    }

    override def nullSafeEval(s: Any, ts: Any, orig: Any): Any = {
      val st = strideMicros(s)
      if (st <= 0) throw new IllegalArgumentException("date_bin stride must be positive")
      val t = ts.asInstanceOf[Long]
      val o = orig.asInstanceOf[Long]
      o + Math.floorDiv(t - o, st) * st
    }
    override def prettyName: String = "date_bin"
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(a, b, c)
  }

  /** arrow_typeof(x) — Arrow type name of the argument (DataFusion debug
    * helper, used pervasively in its test suites). */
  case class ArrowTypeOf(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def foldable: Boolean = true
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      UTF8String.fromString(arrowName(child.dataType))
    override def prettyName: String = "arrow_typeof"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  private[functions] def arrowName(dt: DataType): String = dt match {
    case BooleanType => "Boolean"
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType => "Float32"
    case DoubleType => "Float64"
    case StringType => "Utf8"
    case BinaryType => "Binary"
    case DateType => "Date32"
    case _: TimestampType => "Timestamp(Microsecond, Some(\"+00:00\"))"
    case TimestampNTZType => "Timestamp(Microsecond, None)"
    case d: DecimalType => s"Decimal128(${d.precision}, ${d.scale})"
    case a: ArrayType => s"List(Field { name: \"item\", data_type: ${arrowName(a.elementType)} })"
    case NullType => "Null"
    case other => other.simpleString
  }

  /** Split `s` at top-level commas (ignoring commas nested in (), {} and
    * double-quoted strings) — for List/Struct arrow type arguments. */
  private def topSplit(s: String): List[String] = {
    val out = List.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inQ = false
    s.foreach { c =>
      if (inQ) { if (c == '"') inQ = false; cur += c }
      else c match {
        case '"' => inQ = true; cur += c
        case '(' | '{' | '[' => depth += 1; cur += c
        case ')' | '}' | ']' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private val FieldForm = """(?s)^Field\s*\{\s*name:\s*"((?:[^"\\]|\\.)*)"\s*,\s*data_type:\s*(.*?)\s*,?\s*\}$""".r

  /** One struct/list member: either Arrow's debug `Field { name: "x",
    * data_type: T }` spelling (what `arrow_typeof` prints) or the short
    * `x T` form. The name/type separator is the first TOP-LEVEL space —
    * a space inside a parameterized type (`Decimal128(10, 2)`,
    * `Timestamp(Microsecond, None)`) is part of the type, and a bare
    * parameterized type has no name at all (r03 review). */
  private def parseField(s: String, defaultName: String): StructField = s.trim match {
    case FieldForm(name, dt) => StructField(name, sparkTypeOfArrow(dt))
    case short =>
      var depth = 0
      var cut = -1
      var i = 0
      while (cut < 0 && i < short.length) {
        short.charAt(i) match {
          case '(' | '{' | '[' => depth += 1
          case ')' | '}' | ']' => depth -= 1
          case ' ' if depth == 0 => cut = i
          case _ =>
        }
        i += 1
      }
      // a top-level space only separates name from type when the head
      // token is a plain identifier (no parens) — `Decimal128(10, 2)`
      // after \s+-normalization has a top-level space INSIDE the type
      if (cut < 0 || short.substring(0, cut).exists(c => c == '(' || c == '{'))
        StructField(defaultName, sparkTypeOfArrow(short))
      else StructField(short.substring(0, cut), sparkTypeOfArrow(short.substring(cut + 1)))
  }

  private[functions] def sparkTypeOfArrow(name: String): DataType = {
    val n = name.trim
    // nested targets (r02 backlog): List/LargeList/FixedSizeList → array,
    // Struct → struct. Accepts both the short SQL spelling
    // ('List(Int32)', 'Struct(a Int32, b Utf8)') and the Field{...} debug
    // spelling arrow_typeof emits, so typeof→cast round-trips.
    def inner(prefix: String): String = n.substring(prefix.length, n.length - 1)
    if (n.startsWith("List(") && n.endsWith(")"))
      return ArrayType(parseField(inner("List("), "item").dataType)
    if (n.startsWith("LargeList(") && n.endsWith(")"))
      return ArrayType(parseField(inner("LargeList("), "item").dataType)
    if (n.startsWith("FixedSizeList(") && n.endsWith(")")) {
      val parts = topSplit(inner("FixedSizeList("))
      // trailing size argument is dropped: Spark arrays are unsized
      return ArrayType(parseField(parts.head, "item").dataType)
    }
    if (n.startsWith("Struct(") && n.endsWith(")")) {
      val fields = topSplit(inner("Struct(")).zipWithIndex
        .map { case (f, i) => parseField(f, s"c$i") }
      return StructType(fields)
    }
    n match {
      case "Boolean" => BooleanType
      case "Int8" => ByteType
      case "Int16" => ShortType
      case "Int32" => IntegerType
      case "Int64" => LongType
      case "UInt8" => ShortType   // widened (SURVEY §1.3)
      case "UInt16" => IntegerType
      case "UInt32" => LongType
      case "UInt64" => DecimalType(20, 0)
      case "Float16" | "Float32" => FloatType
      case "Float64" => DoubleType
      case "Utf8" | "LargeUtf8" | "Utf8View" => StringType
      case "Binary" | "LargeBinary" | "BinaryView" => BinaryType
      case "Date32" | "Date64" => DateType
      case _ if n.startsWith("Timestamp") =>
        if (n.contains("None")) TimestampNTZType else TimestampType
      case _ if n.startsWith("Decimal128") || n.startsWith("Decimal256") =>
        val ps = n.substring(n.indexOf('(') + 1, n.indexOf(')')).split(',')
        DecimalType(ps(0).trim.toInt, ps(1).trim.toInt)
      case other => throw new IllegalArgumentException(s"arrow_cast: unsupported type '$other'")
    }
  }

  // ------------------------------------------------------ chrono fmt
  /** chrono strftime → java.time pattern (for DataFusion `to_char`). */
  private[functions] def chronoToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    def lit(s: String): Unit = if (s.nonEmpty) sb ++= "'" + s.replace("'", "''") + "'"
    val buf = new StringBuilder
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      // space-padded codes (%e/%k/%l, and %v whose first field is %e):
      // chrono pads these to two chars with a SPACE; java.time has no
      // space-padded field, so the pattern wraps the unpadded field in
      // control-char (u0001/u0002) markers that the to_char builder
      // post-processes (single digit between markers gains a leading
      // space, then markers strip — r04 review: the unpadded form
      // silently diverged from the reference for days < 10). Markers
      // ride in the literal BUFFER so they merge with adjacent literal
      // text — emitting them as standalone quoted sections produced ''
      // escape sequences next to user literals.
      if (c == '%' && i + 1 < fmt.length && "eklv".indexOf(fmt.charAt(i + 1)) >= 0) {
        buf += '\u0001'
        lit(buf.toString); buf.clear()
        fmt.charAt(i + 1) match {
          case 'e' => sb ++= "d"; buf += '\u0002'
          case 'k' => sb ++= "H"; buf += '\u0002'
          case 'l' => sb ++= "h"; buf += '\u0002'
          case 'v' => sb ++= "d'\u0002'-MMM-yyyy"
        }
        i += 2
      } else if (c == '%' && i + 1 < fmt.length) {
        lit(buf.toString); buf.clear()
        // two-char codes: %:z (+00:00 offset) and %3f/%6f/%9f
        // (milli/micro/nano fractional seconds)
        val c2 = fmt.charAt(i + 1)
        if (c2 == ':' && i + 2 < fmt.length && fmt.charAt(i + 2) == 'z') {
          sb ++= "xxx"; i += 3
        } else if ((c2 == '3' || c2 == '6' || c2 == '9') &&
            i + 2 < fmt.length && fmt.charAt(i + 2) == 'f') {
          sb ++= "S" * (c2 - '0'); i += 3
        } else {
        fmt.charAt(i + 1) match {
          // NOTE: %G/%g (ISO week years) stay unmapped — Spark's
          // formatter rejects week-based 'Y' patterns since 3.0
          case 'Y' => sb ++= "yyyy"; case 'y' => sb ++= "yy"
          case 'm' => sb ++= "MM"; case 'd' => sb ++= "dd"
          case 'q' => sb ++= "Q"
          case 'H' => sb ++= "HH"; case 'I' => sb ++= "hh"
          case 'M' => sb ++= "mm"; case 'S' => sb ++= "ss"
          case 'f' => sb ++= "SSSSSS"
          case 'j' => sb ++= "DDD"
          case 'a' => sb ++= "EEE"; case 'A' => sb ++= "EEEE"
          case 'b' | 'h' => sb ++= "MMM"; case 'B' => sb ++= "MMMM"
          case 'p' => sb ++= "a"
          case 'z' => sb ++= "xx"; case 'Z' => sb ++= "zzz"
          // chrono composite codes (ISO date, clock time, US date, HH:MM,
          // 12-hour clock, VMS date, ctime)
          case 'F' => sb ++= "yyyy-MM-dd"
          case 'T' | 'X' => sb ++= "HH:mm:ss"
          case 'D' | 'x' => sb ++= "MM/dd/yy"
          case 'R' => sb ++= "HH:mm"
          case 'r' => sb ++= "hh:mm:ss a"
          // ctime embeds %e; its internal markers sit between pattern
          // letters/spaces, never next to another quoted section
          case 'c' => sb ++= "EEE MMM '\u0001'd'\u0002' HH:mm:ss yyyy"
          case 'n' => buf += '\n'
          case 't' => buf += '\t'
          case '%' => buf += '%'
          case other => buf += '%' += other
        }
        i += 2
        }
      } else { buf += c; i += 1 }
    }
    lit(buf.toString)
    sb.toString
  }

  // ------------------------------------------------------------ registry

  /** Registers each function into the session's registry once: a name
    * is (re)bound only while the session lacks it or still holds Spark's
    * own builder for it — `version`, `to_char`, `encode` and `decode`
    * override builtins, so "exists" alone would leave those unbound. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def f(name: String)(b: Seq[Expression] => Expression): Unit = {
      val id = FunctionIdentifier(name)
      val held = reg.lookupFunctionBuilder(id)
      if (held.isEmpty || held == FunctionRegistry.builtin.lookupFunctionBuilder(id))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }

    f("gcd") { case Seq(a, b) => Gcd(Cast(a, LongType), Cast(b, LongType)) }
    f("lcm") { case Seq(a, b) => Lcm(Cast(a, LongType), Cast(b, LongType)) }
    f("iszero") { case Seq(x) => EqualTo(Cast(x, DoubleType), Literal(0.0)) }
    f("date_bin") {
      case Seq(stride, ts) =>
        DateBin(stride, Cast(ts, TimestampType), Literal(0L, TimestampType))
      case Seq(stride, ts, origin) =>
        DateBin(stride, Cast(ts, TimestampType), Cast(origin, TimestampType))
    }
    f("arrow_typeof") { case Seq(x) => ArrowTypeOf(x) }
    f("arrow_cast") {
      case Seq(x, Literal(s: UTF8String, StringType)) =>
        Cast(x, sparkTypeOfArrow(s.toString))
      case _ => throw new IllegalArgumentException(
        "arrow_cast(expr, 'TypeName') requires a literal type name")
    }
    f("version") { case Seq() =>
      Literal(s"graft-spark 0.1.0 (Apache Spark ${org.apache.spark.SPARK_VERSION})")
    }
    f("to_char") {
      // %s (epoch seconds) is not a field pattern — special-cased as a
      // whole-format conversion
      case Seq(x, Literal(s: UTF8String, StringType)) if s.toString == "%s" =>
        Cast(UnixSeconds(Cast(x, TimestampType)), StringType)
      case Seq(x, Literal(s: UTF8String, StringType)) =>
        val p = chronoToJava(s.toString)
        val base = DateFormatClass(Cast(x, TimestampType), Literal(p))
        if (p.indexOf('\u0001') >= 0)
          RegExpReplace( // space-pad single digits, then strip markers
            RegExpReplace(base, Literal("\u0001(\\d)\u0002"), Literal(" $1")),
            Literal("\u0001(\\d+)\u0002"), Literal("$1"))
        else base
      case _ => throw new IllegalArgumentException(
        "to_char(expr, 'format') requires a literal chrono format")
    }
    // DataFusion encode/decode (hex|base64) — any other second argument
    // falls through to Spark's builtin charset encode/decode (captured
    // before our override shadows it).
    val builtinEncode = FunctionRegistry.builtin.lookupFunctionBuilder(FunctionIdentifier("encode"))
    val builtinDecode = FunctionRegistry.builtin.lookupFunctionBuilder(FunctionIdentifier("decode"))
    f("encode") {
      case Seq(x, Literal(s: UTF8String, StringType)) if s.toString.equalsIgnoreCase("hex") =>
        Lower(Hex(x))
      case Seq(x, Literal(s: UTF8String, StringType)) if s.toString.equalsIgnoreCase("base64") =>
        Base64(Cast(x, BinaryType))
      case args => builtinEncode.map(_(args)).getOrElse(
        throw new IllegalArgumentException("encode: unsupported arguments"))
    }
    f("decode") {
      case Seq(x, Literal(s: UTF8String, StringType)) if s.toString.equalsIgnoreCase("hex") =>
        Unhex(x)
      case Seq(x, Literal(s: UTF8String, StringType)) if s.toString.equalsIgnoreCase("base64") =>
        UnBase64(x)
      case args => builtinDecode.map(_(args)).getOrElse(
        throw new IllegalArgumentException("decode: unsupported arguments"))
    }
    f("approx_median") { case Seq(x) =>
      new ApproximatePercentile(x, Literal(0.5)) }
    // DataFusion to_local_time(ts): strip the timezone — re-read the
    // instant's wall clock in the session's local zone (SURVEY §7.5
    // mapping). CurrentTimeZone() resolves to the session zone during
    // analysis, so `SET TIME ZONE` is honored per statement.
    f("to_local_time") { case Seq(ts) =>
      FromUTCTimestamp(Cast(ts, TimestampType), CurrentTimeZone())
    }
    // DataFusion approx_percentile_cont_with_weight(expr, weight, pct) —
    // mapped onto Spark's exact frequency-weighted Percentile (a superset
    // in accuracy of DataFusion's t-digest, same signature). Integral
    // weights pass through exactly; fractional weights are quantized at
    // 2^-20 granularity (round(w·2^20)) instead of silently TRUNCATED to
    // whole numbers (ADVICE/VERDICT r03: Cast(w, LongType) turned 0.9
    // into 0, dropping the row). Quantization preserves weight RATIOS to
    // ~1e-6 — well inside approx_* semantics; the summed quantized
    // frequency must stay under 2^63 (≈8.8e12 unit weights), documented
    // here as the scale bound. Positive weights BELOW the quantum
    // (w < 2^-21) clamp to one quantum instead of quantizing to 0 —
    // Percentile silently skips zero-frequency rows, which would
    // re-create the dropped-row bug one scale down (r04 review).
    f("approx_percentile_cont_with_weight") { case Seq(x, w, p) =>
      val freq = w.dataType match {
        case ByteType | ShortType | IntegerType | LongType => Cast(w, LongType)
        case _ =>
          val q = Cast(Round(Multiply(Cast(w, DoubleType),
            Literal(1048576.0)), Literal(0)), LongType)
          If(And(GreaterThan(Cast(w, DoubleType), Literal(0.0)),
            LessThan(q, Literal(1L))), Literal(1L), q)
      }
      new org.apache.spark.sql.catalyst.expressions.aggregate.Percentile(x, p, freq)
    }
    aliases.foreach { case (alias, target) =>
      f(alias)(FunctionRegistry.builtin.lookupFunctionBuilder(FunctionIdentifier(target)).get)
    }
  }

  // ------------------------------------------------------------ aliases

  /** DataFusion spellings of Spark builtins with the same argument
    * shapes. `register` binds each one to its target's builtin builder,
    * so a call builds the target's expression and prints its header. */
  val aliases: Map[String, String] = Map(
    "approx_distinct" -> "approx_count_distinct",
    "approx_percentile_cont" -> "percentile_approx",
    "substr_index" -> "substring_index",
    "to_unixtime" -> "unix_timestamp",
    "to_timestamp_seconds" -> "timestamp_seconds",
    "to_timestamp_millis" -> "timestamp_millis",
    "to_timestamp_micros" -> "timestamp_micros",
    "to_hex" -> "hex",
    "today" -> "current_date",
    "list_sort" -> "sort_array")
}

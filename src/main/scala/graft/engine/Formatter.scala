package graft.engine

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, GenericInternalRow,
  InterpretedOrdering, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

/** Result encodings of the reference API (reference:
  * `src/result_format.rs:24-28`): an arrow-style bordered table or an
  * array-of-objects JSON document. */
sealed trait ResultFormat
object ResultFormat {
  case object Table extends ResultFormat
  case object Json extends ResultFormat
}

/**
 * Renders a collected result the way the reference renders Arrow batches:
 *
 *  - `table`: Arrow's `pretty_format_batches_with_options(...,
 *    FormatOptions::default())` layout (reference: `src/core.rs:120-122`,
 *    `src/result_format.rs:33-37`) — `+---+` borders, left-aligned cells
 *    padded to column width, NULL rendered as empty string, timestamps in
 *    RFC3339-like `2024-01-01T12:00:00` form, floats in shortest-round-
 *    trip form (`1` not `1.0`, matching Rust `Display`).
 *  - `json`: Arrow `json::ArrayWriter` array-of-objects (reference:
 *    `src/result_format.rs:39-47`) — null fields omitted, field order
 *    preserved.
 *
 * The formatter is the ONLY driver-side materialization point in the
 * engine, exactly like the reference's `collect` → format step; a root
 * ORDER BY without LIMIT is applied to the collected rows. The collect
 * holds every row on the driver anyway, and Spark would plan that sort
 * as a range shuffle: a job that samples the input to pick partition
 * bounds, a shuffle stage, and partitions gathered straight back into one
 * array (the reference sorts inside its single partition,
 * `target_partitions=1`). Everything below that sort stays distributed.
 * Callers that need bounded output should LIMIT — same contract as the
 * reference.
 */
object Formatter {

  def format(df: DataFrame, fmt: ResultFormat): String = fmt match {
    case ResultFormat.Table => table(df)
    case ResultFormat.Json => json(df)
  }

  // ------------------------------------------------------------- table
  def table(df: DataFrame): String = {
    val schema = df.schema
    val rows = collect(df)
    if (schema.isEmpty) return "++\n++"
    val headers = schema.fields.map(_.name)
    val cells = rows.map(r => schema.fields.indices.map(i => render(r, i, schema.fields(i).dataType)).toArray)
    val widths = headers.indices.map { i =>
      math.max(headers(i).length, if (cells.isEmpty) 0 else cells.map(_(i).length).max)
    }
    val border = widths.map(w => "-" * (w + 2)).mkString("+", "+", "+")
    def line(vals: Seq[String]) =
      vals.zip(widths).map { case (v, w) => " " + v.padTo(w, ' ') + " " }.mkString("|", "|", "|")
    val sb = new StringBuilder
    sb ++= border += '\n'
    sb ++= line(headers.toSeq) += '\n'
    sb ++= border += '\n'
    cells.foreach(c => sb ++= line(c.toSeq) += '\n')
    sb ++= border
    sb.toString
  }

  // ------------------------------------------------------------- json
  def json(df: DataFrame): String = {
    val schema = df.schema
    val rows = collect(df)
    rows.map { r =>
      schema.fields.indices.flatMap { i =>
        if (r.isNullAt(i)) None // ArrayWriter omits null fields
        else Some("\"" + escape(schema.fields(i).name) + "\":" + jsonValue(r.get(i), schema.fields(i).dataType))
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
  }

  // ------------------------------------------------------------- rows
  /** The rows of `df` in its order. When [[sortedRoot]] finds a Sort,
    * Spark runs the Sort's input and the rows are ordered here with
    * Catalyst's own `InterpretedOrdering`: the `SortOrder` semantics
    * `SortExec` runs (direction, null order, NaN, collation). A key that
    * is not an input column is computed by Spark as one more column, so
    * no key expression is evaluated on the driver. */
  private def collect(df: DataFrame): Array[Row] = sortedRoot(df.queryExecution.analyzed) match {
    case Some((columns, Sort(order, _, child, _))) =>
      val computed = order.map(o => o.child match {
        case a: Attribute if child.outputSet.contains(a) => None
        case key => Some(Alias(key, "sort_key")())
      })
      val input = if (computed.flatten.isEmpty) child else Project(child.output ++ computed.flatten, child)
      val ordering = order.zip(computed).map { case (o, c) => c.fold(o)(a => o.copy(child = a.toAttribute)) }
      val keys = ordering.map(_.child.asInstanceOf[Attribute])
      def position(a: Attribute) = input.output.indexWhere(_.exprId == a.exprId)
      val keyColumns = keys.map(a => (position(a), CatalystTypeConverters.createToCatalystConverter(a.dataType)))
      val sorted = PlanBridge.ofRows(df.sparkSession, input).collect()
        .map(r => (new GenericInternalRow(keyColumns.map { case (i, c) => c(r.get(i)) }.toArray): InternalRow, r))
        .sortBy(_._1)(new InterpretedOrdering(ordering, keys))
        .map(_._2)
      val picked = columns.map(position)
      if (picked == input.output.indices) sorted else sorted.map(r => Row.fromSeq(picked.map(r.get)))
    case None => df.collect()
  }

  /** A root ORDER BY without LIMIT: the global Sort `plan` sits on
    * through Projects whose entries are columns or renamed columns, with
    * the root's columns as the Sort's output attributes. A
    * nondeterministic key (the analyzer moves `ORDER BY rand()` into a
    * Project below the Sort, hence the check on the whole input) or a
    * subquery key keeps Spark's plan, and so does every other root:
    * LIMIT, OFFSET, a WITH statement. */
  private[engine] def sortedRoot(plan: LogicalPlan): Option[(Seq[Attribute], Sort)] = plan match {
    case s @ Sort(order, true, child, _)
        if child.deterministic && order.forall(o => o.deterministic && !SubqueryExpression.hasSubquery(o)) =>
      Some((s.output, s))
    case Project(list, child) => sortedRoot(child).flatMap { case (columns, s) =>
      val below = AttributeMap(child.output.zip(columns))
      val picked = list.map {
        case a: Attribute => below.get(a)
        case Alias(a: Attribute, _) => below.get(a)
        case _ => None
      }
      if (picked.forall(_.isDefined)) Some((picked.flatten, s)) else None
    }
    case _ => None
  }

  // ------------------------------------------------------------- cells
  /** Arrow `ArrayFormatter`-style rendering of one value. */
  private def render(r: Row, i: Int, dt: DataType): String =
    if (r.isNullAt(i)) "" else renderValue(r.get(i), dt)

  private[engine] def renderValue(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => ""
    case (d: Double, _) => renderFloating(d)
    case (f: Float, _) => renderFloating(f.toDouble)
    case (t: Timestamp, _) => renderTimestamp(t)
    case (d: Date, _) => d.toString
    case (b: Array[Byte], _) => b.map("%02x".format(_)).mkString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(x => if (x == null) "" else renderValue(x, et)).mkString("[", ", ", "]")
    case (row: Row, StructType(fields)) =>
      fields.indices.map(i => s"${fields(i).name}: ${render(row, i, fields(i).dataType)}")
        .mkString("{", ", ", "}")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, x) => s"${renderValue(k, kt)}: ${renderValue(x, vt)}" }.mkString("{", ", ", "}")
    case (x, _) => x.toString
  }

  /** Rust `Display`-for-f64 style: integral values print without ".0",
    * and NO scientific notation ever — Java's Double.toString switches
    * to 1.0E15 / 1.23E-7 outside [1e-3, 1e7), which diverges from the
    * Display parity this formatter promises (r04 review). The shortest-
    * round-trip digits come from Double.toString; BigDecimal's string
    * constructor preserves them exactly and toPlainString re-renders
    * without an exponent. */
  private def renderFloating(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d.isInfinity) { if (d > 0) "inf" else "-inf" }
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else {
      val s = d.toString
      if (s.indexOf('E') >= 0) new java.math.BigDecimal(s).toPlainString else s
    }
  }

  /** RFC3339-like naive rendering, fractional seconds only when present. */
  private def renderTimestamp(t: Timestamp): String = {
    val ldt = t.toLocalDateTime
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d" +
      f"T${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    val nanos = ldt.getNano
    if (nanos == 0) base
    else if (nanos % 1000000 == 0) base + f".${nanos / 1000000}%03d"
    else base + f".${nanos / 1000}%06d"
  }

  private def jsonValue(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => "null"
    case (s: String, _) => "\"" + escape(s) + "\""
    case (b: Boolean, _) => b.toString
    case (d: Double, _) if d.isNaN || d.isInfinity => "null" // not representable in JSON
    case (f: Float, _) if f.isNaN || f.isInfinity => "null"
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, x) =>
        "\"" + escape(renderValue(k, kt)) + "\":" + jsonValue(x, vt)
      }.mkString("{", ",", "}")
    case (t: Timestamp, _) => "\"" + renderTimestamp(t) + "\""
    case (d: Date, _) => "\"" + d.toString + "\""
    case (b: Array[Byte], _) => "\"" + b.map("%02x".format(_)).mkString + "\""
    case (d: java.math.BigDecimal, _) => d.toPlainString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(jsonValue(_, et)).mkString("[", ",", "]")
    case (row: Row, st: StructType) =>
      st.fields.indices.map(i =>
        "\"" + escape(st.fields(i).name) + "\":" +
          (if (row.isNullAt(i)) "null" else jsonValue(row.get(i), st.fields(i).dataType)))
        .mkString("{", ",", "}")
    case (x, _) => x.toString
  }

  private def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}

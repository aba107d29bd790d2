package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DataType

/**
 * SQL-standard GROUPS window frames (SURVEY §2.5): the reference's
 * planner accepts them anywhere a window is legal; Spark has no GROUPS
 * mode. A GROUPS frame counts peer groups of the window ordering, and
 * `dense_rank()` numbers exactly those peer groups, one step apart, so
 *
 *   agg OVER (PARTITION BY p ORDER BY k GROUPS <frame>)
 * ≡ agg OVER (PARTITION BY p ORDER BY r RANGE <frame>),
 *   r = dense_rank() OVER (PARTITION BY p ORDER BY k)
 *
 * `Dialect.markGroupsFrames` rewrites such a spec to a ROWS frame with
 * the same bounds and wraps its first ORDER BY key in [[GroupsMark]].
 * Spark's analyzer pulls the mark into an alias below the Window; this
 * rule puts the dense_rank Window under each Window ordered by such an
 * alias, turns its ROWS frames into RANGE frames over the rank, and then
 * strips every mark. The statement keeps its own shape, so a GROUPS
 * frame works wherever Spark plans the ROWS frame: CTEs, set operations,
 * GROUP BY, correlated subqueries, LATERAL, CTAS and temporary views.
 */
object GroupsFrames extends Rule[LogicalPlan] {

  /** The internal function `markGroupsFrames` wraps the first key in. */
  val Marker = "__graft_groups"

  /** The documented error for GROUPS shapes the emulation refuses. */
  def unsupported(why: String): Nothing =
    throw new UnsupportedOperationException(s"GROUPS window frames: $why " +
      "(Spark has no native GROUPS mode; a GROUPS frame runs as a RANGE " +
      "frame over the dense_rank of its window ordering)")

  /** Adds the marker function and this rule to `spark` once: a second
    * engine on the same session finds both in place. */
  def register(spark: SparkSession): Unit = spark.experimental.synchronized {
    registerMark(spark)
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations :+= this
  }

  private[engine] def registerMark(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(Marker)))
      reg.createOrReplaceTempFunction(Marker, { case Seq(k) => GroupsMark(k) }, "built-in")
  }

  /** A column name as written: Spark names an unaliased GROUPS window
    * column after its marked text, `... ORDER BY __graft_groups(k) ASC
    * NULLS LAST ROWS BETWEEN ...`; drop the mark, restore GROUPS. */
  def header(name: String): String = {
    val at = name.indexOf(Marker + "(")
    if (at < 0) return name
    var depth = 1
    var i = at + Marker.length + 1
    while (i < name.length && depth > 0) {
      name.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    if (depth > 0) return name
    val rest = name.substring(i)
    val frame = rest.indexOf("ROWS BETWEEN")
    val groupsRest = if (frame < 0) rest else rest.substring(0, frame) + "GROUPS" + rest.substring(frame + 4)
    header(name.substring(0, at) + name.substring(at + Marker.length + 1, i - 1) + groupsRest)
  }

  def apply(plan: LogicalPlan): LogicalPlan = {
    val marks = plan.collectWithSubqueries { case p => p.expressions }.flatten
      .flatMap(_.collect { case a @ Alias(_: GroupsMark, _) => a.exprId }).toSet
    if (marks.isEmpty) return plan
    // Every marked Window is rewritten before any mark is stripped: one
    // alias can order several Windows, and a Window whose alias lost its
    // mark first would keep its ROWS frame.
    plan.transformUpWithSubqueries {
      case w @ Window(exprs, part, order, child, hint) if order.headOption.map(_.child).exists {
          case a: Attribute => marks(a.exprId)
          case _ => false
        } =>
        val rank = Alias(WindowExpression(DenseRank(order.map(_.child)),
          WindowSpecDefinition(part, order,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), "__graft_groups_rank")()
        val byRank = Seq(SortOrder(rank.toAttribute, Ascending))
        val ranged = exprs.map(_.transform {
          case WindowSpecDefinition(p, _, SpecifiedWindowFrame(RowFrame, lo, hi)) =>
            WindowSpecDefinition(p, byRank, SpecifiedWindowFrame(RangeFrame, lo, hi))
        }.asInstanceOf[NamedExpression])
        Project(w.output, Window(ranged, part, byRank, Window(Seq(rank), part, order, child, hint), hint))
    }.transformAllExpressionsWithSubqueries { case GroupsMark(k) => k }
  }
}

/** Marks the first ORDER BY key of a GROUPS window (see [[GroupsFrames]]).
  * It has no value of its own: a plan that still holds it when it runs
  * was never rewritten by the rule, and must fail rather than answer
  * with the ROWS frame. */
case class GroupsMark(child: Expression) extends UnaryExpression with Unevaluable {
  override def dataType: DataType = child.dataType
  override def prettyName: String = GroupsFrames.Marker
  override def eval(input: InternalRow): Any = unrewritten
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = unrewritten
  private def unrewritten: Nothing =
    GroupsFrames.unsupported("this session runs the GROUPS mark without its optimizer rule")
  override protected def withNewChildInternal(c: Expression): GroupsMark = copy(c)
}

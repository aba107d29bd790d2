package graft.engine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/**
 * Value-free generated code for comparison literals. Spark's
 * `Literal.doGenCode` writes int, long, double, date and timestamp values
 * into the generated Java source, so a statement that differs from an
 * earlier one only in a WHERE key is a new class: Janino compiles it in
 * the driver's class loader and again in the executor's, and the codegen
 * cache, keyed by source text, cannot help. String and decimal literals
 * already go through the class's `references` array and do not recompile.
 *
 * This physical-plan rule gives comparisons the same treatment: in
 * `FilterExec.condition` and `ProjectExec.projectList`, each non-null
 * `Literal` operand of a `BinaryComparison` whose type Spark inlines
 * becomes a [[ParamLiteral]], whose code reads its value from
 * `references` once, into a field. Nothing else changes:
 *  - scan `dataFilters`, `partitionFilters` and pushed filters keep their
 *    `Literal`s, so parquet row-group pruning is the same;
 *  - LIKE patterns, the `round` scale, format strings and other operands
 *    their parent needs as a constant are not comparison operands;
 *  - arithmetic constants stay inlined: a deck repeats them on every run,
 *    and the JIT folds an inlined constant.
 *
 * [[SqlEngine.jvmDefaults]] installs the rule as a columnar pre-transition
 * rule, which Spark runs right before `CollapseCodegenStages`, both in
 * `QueryExecution.preparations` and in AQE's stage creation (the model is
 * SnappyData's `ParamLiteral` tokenizing literals for plan reuse).
 */
object ParamLiterals extends Rule[SparkPlan] {

  /** The session-extension hook that runs this rule. */
  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }

  /** Types whose `Literal` code embeds the value in the source. */
  private def inlined(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = tokenize(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(tokenize(_).asInstanceOf[NamedExpression]))
  }

  private def tokenize(e: Expression): Expression = e.transformUp {
    case c: BinaryComparison => c.mapChildren {
      case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
      case other => other
    }
  }
}

/** A comparison literal whose generated code does not hold its value
  * (see [[ParamLiterals]]). It equals, hashes and prints as the `Literal`
  * it replaces, so exchange and stage reuse never merge subplans that
  * differ only in a value, and EXPLAIN text is unchanged. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  @transient private lazy val literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode(): Int = literal.hashCode()
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

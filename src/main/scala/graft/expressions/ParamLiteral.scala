package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A constant whose value is bound at run time instead of written into
  * generated Java source — the prepared statement's `?` (the reference
  * binds `fk` and every pushed value this way, `session.execute(query,
  * param)`).
  *
  * Spark's `Literal` inlines primitive constants into the whole-stage
  * source, so queries that differ only in a key, a price bound or a date
  * window each produce new source: a fresh Janino compile, then a class
  * the JIT has never seen, interpreted over the whole scan. This leaf
  * reads its value once per generated-class instance from the plan's own
  * `references` array into a field, so the source no longer depends on
  * the value and Spark's codegen cache hits on the identical text. Only
  * the compiled class is shared; each plan binds its own value.
  *
  * It renders exactly as the `Literal` it replaces (`toString`, `sql`), so
  * plan strings do not change. Not foldable: it exists only in physical
  * plans, after every rule that reads literals has run.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "ParamLiteral binds non-null values only")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Rewrites the constants Spark would inline into generated source —
  * non-null boolean, byte, short, int, long, float, double, date,
  * timestamp and timestamp_ntz literals — into [[ParamLiteral]]s, where
  * they are direct operands of a comparison or `IN` inside a
  * `FilterExec` condition. Nothing else is touched: scan `dataFilters`,
  * partition and runtime filters, DSv2 pushed predicates and projections
  * keep their `Literal`s, so parquet row-group pruning and store-side
  * pushdown see what they always saw.
  *
  * Runs as a pre-columnar-transition rule, which Spark applies in both
  * `QueryExecution.preparations` and AQE's post-stage-creation rules —
  * after optimization and pushdown, before `CollapseCodegenStages`
  * generates code. Idempotent: a rewritten constant is no longer a
  * `Literal`. */
object BindFilterConstants extends Rule[SparkPlan] {

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case other => other
  }

  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      f.copy(condition = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
        case i: In => i.copy(value = param(i.value), list = i.list.map(param))
      })
  }

  /** The hook `GraftExtensions` injects. */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindFilterConstants
  }
}

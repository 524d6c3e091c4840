package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

import graft.plans.GraftExtensions

/** Native Catalyst expression for the dot product of two double arrays.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * allocates an intermediate array and walks interpreted lambda closures
  * per element; in the near-dup/top-k operators it runs millions of times
  * per task and dominates the profile. This expression generates a tight
  * primitive loop (whole-stage codegen) with an interpreted fallback, and
  * accumulates left-to-right from 0.0 — the SAME IEEE operation order as
  * the composable form and the DuckDB oracle's list_sum, so results are
  * bit-identical.
  *
  * Inputs must already be array<double> (callers cast); mismatched lengths
  * use the shorter prefix, nulls propagate (BinaryExpression default).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // element-type check only: containsNull varies between literals
    // (false) and read/transformed columns (true)
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  val DotName = "graft_dot"

  val builders: Seq[(String, GraftExtensions.Builder)] = Seq(
    DotName -> (exprs => DotProduct(exprs(0), exprs(1))))

  /** Register graft's vector expressions in the session function registry
    * (idempotent; also makes them usable from SQL text). */
  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark, builders)

  /** Codegen'd dot product of two array<double> columns. Registers on the
    * given session so the analyzer can resolve the call. */
  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(DotName, a, b)
  }
}

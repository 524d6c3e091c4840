package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

import graft.functions.{BloomExpression, IvfExpressions, MinhashExpression, NgramExpression,
  PqExpression, SimhashExpression, VectorExpressions, WinnowExpression}

/** SparkSessionExtensions hook: registers graft's native expressions in the
  * session catalog so plain SQL resolves them without any Scala-side
  * registration call — `SELECT graft_dot(a, b)`,
  * `SELECT graft_minhash(split(text, ' '), 64)`,
  * `SELECT graft_simhash(split(text, ' '))`.
  *
  * Wire-up: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` on
  * spark-submit. It injects exactly the builders each helper's `register`
  * installs (MinhashExpression.signature etc. self-register per session
  * and don't need this hook; the hook exists for SQL-only entry points:
  * thrift server, spark-sql shell, notebooks speaking pure SQL).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(build.getClass.getName, name), build))
    }
}

object GraftExtensions {
  /** How SQL text turns a native function's arguments into its expression. */
  type Builder = Seq[Expression] => Expression

  /** Every native function graft defines, by name. */
  def builders: Seq[(String, Builder)] = Seq(VectorExpressions.builders,
    MinhashExpression.builders, SimhashExpression.builders,
    WinnowExpression.builders, NgramExpression.builders, PqExpression.builders,
    IvfExpressions.builders, BloomExpression.builders).flatten

  /** Register `builders` in the session's function registry (idempotent). */
  def register(spark: SparkSession, builders: Seq[(String, Builder)]): Unit =
    builders.foreach { case (name, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    }

  /** A literal int argument; `what` names it in the error
    * (e.g. "graft_minhash's second argument"). */
  def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a literal int, got $other")
  }

  /** A constant array<double> argument: a literal (the Column API's
    * `lit(Array[Double])`) or a foldable expression (SQL text's
    * `array(1.0d, 2.0d)`); `what` names it in the error. */
  def doublesLit(e: Expression, what: String): Array[Double] =
    (e.dataType, if (e.foldable) e.eval() else null) match {
      case (ArrayType(DoubleType, _), v: ArrayData) => v.toDoubleArray()
      case _ => throw new IllegalArgumentException(
        s"$what must be a literal array<double>, got $e")
    }
}

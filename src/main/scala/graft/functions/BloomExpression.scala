package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import graft.plans.GraftExtensions

/** Native Catalyst membership test against a pre-built Bloom filter:
  * `graft_bloom_contains(strCol, filterBytesLiteral)` -> boolean.
  *
  * The serving half of [[graft.operators.Dedup.freshAgainstHistoryBloom]]:
  * the filter is built ONCE from the history fingerprint index
  * (distributed treeAggregate merge — the driver only ever holds finished
  * filters, never raw keys) and then rides the plan as a binary literal.
  * Spark broadcasts task binaries, so the filter ships to each executor
  * once per stage, exactly like the PQ codebook reference object in
  * [[PqEncodeCodes]]. Membership is `mightContainBinary` over the
  * column's UTF-8 bytes — the same bytes [[graft.operators.Dedup.buildFpBloom]]
  * inserted, so a `false` here is a PROOF of absence (Bloom filters have
  * no false negatives); only `true` needs exact confirmation.
  *
  * Null input yields null (unknown membership), matching SQL semantics;
  * callers on the dedup path fingerprint non-null text so this never
  * fires there.
  */
case class BloomMightContain(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains expects a string column, got ${other.simpleString}")
  }

  // Inflated once per deserialized expression instance (per task); the
  // byte image itself is shared via the broadcast task binary.
  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  override def nullSafeEval(v: Any): Any =
    filter.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("graftBloomFilter", filter,
        classOf[BloomFilter].getName)
      s"${ev.value} = $ref.mightContainBinary($c.getBytes());"
    })

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomExpression {
  val Name = "graft_bloom_contains"

  val builders: Seq[(String, GraftExtensions.Builder)] = Seq(
    Name -> (exprs => {
      val bytes = exprs(1) match {
        case Literal(v: Array[Byte], BinaryType) => v
        case other => throw new IllegalArgumentException(
          s"$Name's second argument must be a literal binary, got $other")
      }
      BloomMightContain(exprs(0), bytes)
    }))

  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark, builders)

  /** Membership test of a string column against a serialized
    * [[BloomFilter]] image (see [[graft.operators.Dedup.buildFpBloom]]). */
  def mightContain(spark: SparkSession, str: Column,
      filterBytes: Array[Byte]): Column = {
    register(spark)
    call_function(Name, str, lit(filterBytes))
  }
}

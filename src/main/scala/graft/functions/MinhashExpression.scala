package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

import graft.plans.GraftExtensions

/** Runtime for [[MinhashSignature]]: the whole minhash signature of one
  * document in ONE pass over its shingle array.
  *
  * Bit-identical to the column-composed family in
  * `Dedup.minhashSignatures`'s original agg form (which remains as the
  * equivalence oracle in specs):
  *   ha(s) = conv(substr(md5('0|'||s),1,15),16,10) & 0xFFFFFFFF
  *   hb(s) = (conv(substr(md5('1|'||s),1,15),16,10) & 0xFFFFFFFF) | 1
  *   h_i   = min over s of (ha + i*hb) mod (2^31-1)
  * "First 15 hex chars as a long" == the digest's first 60 bits, i.e.
  * first 8 bytes big-endian >>> 4. ha < 2^32, i*hb < 2^38 — no overflow.
  *
  * That family is LOAD-BEARING (see Dedup.minhashSignatures): its LSH
  * recall is oracle-certified at every SF; this helper must not diverge
  * from it by a single bit, and the spec asserts it doesn't.
  */
object MinhashUtil {
  private val P = 2147483647L // 2^31 - 1
  private val Seed0 = Array[Byte]('0', '|')
  private val Seed1 = Array[Byte]('1', '|')

  private[functions] def first60(digest: Array[Byte]): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (digest(k) & 0xFFL); k += 1 }
    v >>> 4
  }

  /** Null when the shingle array is empty (the agg form emits no row for
    * an empty document — callers filter). Null ELEMENTS are skipped, like
    * md5(null) falling out of a min agg. */
  def signature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val n = shingles.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var seen = false
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        seen = true
        val sb = shingles.getUTF8String(j).getBytes
        md.reset(); md.update(Seed0); md.update(sb)
        val ha = first60(md.digest()) & 0xFFFFFFFFL
        md.reset(); md.update(Seed1); md.update(sb)
        val hb = (first60(md.digest()) & 0xFFFFFFFFL) | 1L
        var i = 0
        var v = ha % P
        while (i < numHashes) {
          if (v < sig(i)) sig(i) = v
          i += 1
          // next hash incrementally: (ha + i*hb) mod P without the multiply
          v += hb % P
          if (v >= P) v -= P
        }
      }
      j += 1
    }
    if (!seen) null else new GenericArrayData(sig)
  }
}

/** Codegen-friendly whole-signature minhash: `graft_minhash(shingles, k)`
  * -> array<bigint> of k min-hashes. Replaces the explode + groupBy(id)
  * agg plan with a NARROW projection — at 100 TB the signature stage stops
  * shuffling |corpus| x |shingles| rows entirely; the only shuffle left in
  * LSH dedup is the banded candidate join itself. */
case class MinhashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if numHashes > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash expects (array<string>, positive literal int), got " +
            s"${child.dataType.simpleString}, k=$numHashes")
    }

  override def nullSafeEval(arr: Any): Any =
    MinhashUtil.signature(arr.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinhashUtil.signature($c, $numHashes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashExpression {
  val Name = "graft_minhash"

  val builders: Seq[(String, GraftExtensions.Builder)] = Seq(
    Name -> (exprs => MinhashSignature(exprs(0),
      GraftExtensions.intLit(exprs(1), s"$Name's second argument"))))

  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark, builders)

  /** Whole minhash signature of a shingle-array column, one pass, narrow. */
  def signature(spark: SparkSession, shingles: Column, numHashes: Int): Column = {
    register(spark)
    call_function(Name, shingles, org.apache.spark.sql.functions.lit(numHashes))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.GraftExtensions

/** Runtime for [[SimhashFingerprint]]: the 60-bit SimHash of one document
  * in ONE pass over its token array — bit-identical to the column-composed
  * plan in `Dedup.simhashAgg` (kept as the in-repo equivalence oracle):
  * md5-hash each DISTINCT token (h = first 60 bits of md5(w)), weight by
  * its occurrence count, sign-sum each bit, emit bit i iff its sum > 0.
  */
object SimhashUtil {
  /** Null when the token array is empty (the agg form drops the doc after
    * explode). Null elements are skipped like exploded null tokens falling
    * out of the count. */
  def fingerprint(toks: ArrayData): Any = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Int]()
    var j = 0
    while (j < n) {
      if (!toks.isNullAt(j)) {
        val w = toks.getUTF8String(j)
        val c = counts.getOrDefault(w, 0)
        // UTF8String from ArrayData views shared buffers; clone on first
        // insert so map keys stay valid beyond this row
        if (c == 0) counts.put(w.clone(), 1) else counts.put(w, c + 1)
      }
      j += 1
    }
    if (counts.isEmpty) return null
    val acc = new Array[Long](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      md.reset(); md.update(e.getKey.getBytes)
      val h = MinhashUtil.first60(md.digest())
      val cnt = e.getValue.toLong
      var i = 0
      while (i < 60) {
        if (((h >>> i) & 1L) == 1L) acc(i) += cnt else acc(i) -= cnt
        i += 1
      }
    }
    var fp = 0L
    var i = 0
    while (i < 60) { if (acc(i) > 0) fp |= (1L << i); i += 1 }
    fp
  }
}

/** `graft_simhash(tokens)` -> 60-bit simhash as bigint, one narrow pass —
  * replaces the explode + two groupBy(id) aggs (token counts, then 60
  * conditional bit sums): the fingerprint stage stops shuffling
  * |corpus| x |tokens| rows; the only shuffle left in simhash dedup is the
  * banded hamming join. */
case class SimhashFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(arr: Any): Any =
    SimhashUtil.fingerprint(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("fp")
      s"""
         |Object $boxed = graft.functions.SimhashUtil.fingerprint($c);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1L : ((Long) $boxed).longValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashFingerprint =
    copy(child = newChild)
}

object SimhashExpression {
  val Name = "graft_simhash"
  private val NameNN = "graft_simhash_nn"

  val builders: Seq[(String, GraftExtensions.Builder)] = Seq(
    Name -> (exprs => SimhashFingerprint(exprs(0))),
    // known-not-null variant: ONLY for inputs proven non-empty (e.g.
    // split() of a non-null string, which always yields >= 1 element).
    // The tag lets the optimizer FOLD the isnotnull() a downstream join
    // key would otherwise push down — that pushed filter re-evaluates the
    // whole fingerprint (measured as a 3x md5 bill in the banded join).
    NameNN -> (exprs => org.apache.spark.sql.catalyst.expressions.KnownNotNull(
      SimhashFingerprint(exprs(0)))))

  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark, builders)

  def fingerprint(spark: SparkSession, tokens: Column): Column = {
    register(spark)
    call_function(Name, tokens)
  }

  /** Caller contract: `tokens` is non-null and non-empty for every row
    * (filter first). In exchange, downstream join keys derived from the
    * fingerprint stay non-nullable and no recomputing null-filter is
    * pushed below the projection. */
  def fingerprintNonNull(spark: SparkSession, tokens: Column): Column = {
    register(spark)
    call_function(NameNN, tokens)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

import graft.plans.GraftExtensions

/** Runtime for [[WinnowFingerprints]]: a document's distinct winnowing
  * fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003) in ONE pass
  * over its TOKEN array — k-gram construction, hashing, and the sliding
  * window minimum all happen inline, no intermediate shingle strings.
  *
  * Bit-identical to the column-composed form it replaced (which remains
  * as the equivalence check in the x185 local-replay spec):
  *   g_i   = tokens[i..i+k-1] joined by ' '     (the ngrams() shingle)
  *   h_i   = conv(substr(md5(g_i),1,15),16,10)  — the md5Long 60-bit hash
  *   win_i = min(h_i..h_{i+w-1}), i in [0, max(G-w, 0)], G = n-k+1
  *   out   = distinct window minima (selection is by VALUE, so the
  *           window tie-break rule — rightmost vs leftmost min — is
  *           irrelevant: both rules select the same value set)
  * The md5 consumes exactly the joined string's UTF-8 bytes (token bytes
  * with single ' ' separators), so any engine hashing the string form
  * gets the same 60 bits. A document with fewer than w k-grams
  * contributes its single truncated window (the global min); fewer than
  * k tokens yields null (callers filter, like the empty-shingle minhash
  * row).
  *
  * Why native: the column form's shingle-string transform plus the
  * per-element interpreted conv(substr(md5(cast(...)))) chain plus
  * per-window array slices dominated x185's wall time (HOF lambdas never
  * codegen — the x116 hazard class); this is the [[MinhashUtil]]
  * treatment taken one step further, eliminating the shingle
  * materialization too. */
object WinnowUtil {
  private val Space = ' '.toByte

  def fingerprints(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tokens.numElements()
    val g = n - k + 1
    if (g <= 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    // token bytes fetched once each (getBytes allocates per call)
    val tb = new Array[Array[Byte]](n)
    var j = 0
    while (j < n) {
      tb(j) =
        if (tokens.isNullAt(j)) Array.emptyByteArray
        else tokens.getUTF8String(j).getBytes
      j += 1
    }
    val hs = new Array[Long](g)
    var i = 0
    while (i < g) {
      md.reset()
      var t = i
      while (t < i + k) {
        if (t > i) md.update(Space)
        md.update(tb(t))
        t += 1
      }
      hs(i) = MinhashUtil.first60(md.digest())
      i += 1
    }
    val nw = math.max(g - w + 1, 1)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i < nw) {
      var m = hs(i)
      val end = math.min(i + w, g)
      var t = i + 1
      while (t < end) { if (hs(t) < m) m = hs(t); t += 1 }
      out.add(m)
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = it.next(); p += 1 }
    new GenericArrayData(arr)
  }
}

/** Codegen-friendly whole-document winnowing:
  * `graft_winnow(tokens, k, w)` -> array<bigint> of the distinct selected
  * fingerprints. A NARROW projection — the ~2/(w+1)-density index feeds
  * the pair join with no window, no shingle materialization, no shuffle
  * before the sparse index itself. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k > 0 && w > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_winnow expects (array<string>, positive literal k, positive " +
            s"literal w), got ${child.dataType.simpleString}, k=$k, w=$w")
    }

  override def nullSafeEval(arr: Any): Any =
    WinnowUtil.fingerprints(arr.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.WinnowUtil.fingerprints($c, $k, $w);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowExpression {
  val Name = "graft_winnow"

  val builders: Seq[(String, GraftExtensions.Builder)] = Seq(
    Name -> (exprs => WinnowFingerprints(exprs(0),
      GraftExtensions.intLit(exprs(1), s"$Name's k"),
      GraftExtensions.intLit(exprs(2), s"$Name's w"))))

  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark, builders)

  /** Distinct winnowing fingerprints of a TOKEN-array column. */
  def fingerprints(spark: SparkSession, tokens: Column, k: Int,
      w: Int): Column = {
    register(spark)
    call_function(Name, tokens,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
  }
}

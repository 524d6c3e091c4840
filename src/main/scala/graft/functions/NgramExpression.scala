package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.GraftExtensions

/** Runtime for [[NgramShingles]]: a document's positional word n-grams
  * ("a b c d", n=3 -> ["a b c", "b c d"]) in ONE pass over its token
  * array.
  *
  * String-identical to the column-composed form it replaces
  * (`transform(sequence(1, len-n+1), i -> array_join(slice(ws, i, n),
  * ' '))`): each gram is the n tokens joined by single spaces, positional
  * (duplicates kept), EMPTY array — not null — when the document has
  * fewer than n tokens, null only when the token array itself is null.
  * Every SQL oracle that replays shingles as
  * `array_to_string(ws[i:i+n-1], ' ')` is untouched.
  *
  * Why native: the HOF form runs interpreted (lambdas never codegen — the
  * x116 hazard class) and allocates a slice array + join buffer per gram;
  * measured ~1.4 s per 5k-doc sf0.1 scan, multiplied across every
  * pair-search/dedup/LM query that shingles. This is one tight loop with
  * one UTF8String.concatWs per gram. */
object NgramUtil {
  private val Space = UTF8String.fromString(" ")

  def ngrams(tokens: ArrayData, n: Int): ArrayData = {
    val tn = tokens.numElements()
    val g = tn - n + 1
    if (g <= 0) return new GenericArrayData(Array.empty[Any])
    val ts = new Array[UTF8String](tn)
    var j = 0
    while (j < tn) {
      // split() never yields null elements; concatWs would skip one
      ts(j) = if (tokens.isNullAt(j)) null else tokens.getUTF8String(j)
      j += 1
    }
    val out = new Array[Any](g)
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i < g) {
      var t = 0
      while (t < n) { buf(t) = ts(i + t); t += 1 }
      out(i) = UTF8String.concatWs(Space, buf: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen-friendly positional n-gram shingling:
  * `graft_ngrams(tokens, n)` -> array<string>. The narrow-scan base of
  * every shingle-keyed operator (pair search, docfreq caps, LM counts). */
case class NgramShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if n > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_ngrams expects (array<string>, positive literal int), got " +
            s"${child.dataType.simpleString}, n=$n")
    }

  override def nullSafeEval(arr: Any): Any =
    NgramUtil.ngrams(arr.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.NgramUtil.ngrams($c, $n);
         |${ev.isNull} = false;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NgramShingles =
    copy(child = newChild)
}

object NgramExpression {
  val Name = "graft_ngrams"

  val builders: Seq[(String, GraftExtensions.Builder)] = Seq(
    Name -> (exprs => NgramShingles(exprs(0),
      GraftExtensions.intLit(exprs(1), s"$Name's second argument"))))

  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark, builders)
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

import graft.plans.GraftExtensions

/** Native Catalyst expression for product-quantization encoding: the
  * per-subspace argmin over a fixed codebook, emitted as ONE array<long>
  * of `m` codes per row.
  *
  * Why not compose it from builtins: the declarative form — per subspace,
  * `array_min` over an array of k (distance, index) structs whose distance
  * is a dsub-term literal sum — is a single m*k*dsub-term expression tree.
  * At the default 8x16x8 geometry its generated code exceeds janino's
  * 64 KB method limit inside the downstream Generate's consume path
  * (whole-stage codegen cannot split a tree operating on local variables),
  * so the whole stage fell back to interpreted eval: 15 s for 2 000 rows
  * at sf0.1. This expression generates a compact triple loop over a
  * codebook REFERENCE OBJECT (a `double[][]` field, not literals), keeping
  * the method a few hundred bytes at any geometry.
  *
  * Semantics (bit-identical to the declarative form and the DuckDB
  * oracle's replay):
  *  - sub-distance accumulates left-to-right over the dsub dims (IEEE
  *    order of the oracle's `list_sum(list_transform(...))`);
  *  - elements past the end of a short vector count as 0.0;
  *  - ties take the LOWEST centroid index (strict `<` keeps the first
  *    minimum — the oracle's `ORDER BY d ASC, c ASC ... rn = 1`).
  *
  * Input must already be array<double> (callers cast); a null vector
  * yields a null code array. The codebook rows must each have at least
  * m*dsub elements (callers pad).
  */
case class PqEncodeCodes(child: Expression, codebook: Array[Array[Double]],
    m: Int, dsub: Int) extends UnaryExpression {

  private val k = codebook.length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_encode expects array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val codes = new Array[Long](m)
    var j = 0
    while (j < m) {
      var best = Double.PositiveInfinity
      var bc = 0L
      var c = 0
      while (c < k) {
        var s = 0.0
        var d = 0
        while (d < dsub) {
          val i = j * dsub + d
          val x = if (i < n && !arr.isNullAt(i)) arr.getDouble(i) else 0.0
          val diff = x - codebook(c)(i)
          s += diff * diff
          d += 1
        }
        if (s < best) { best = s; bc = c }
        c += 1
      }
      codes(j) = bc
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cb = ctx.addReferenceObj("pqCodebook", codebook, "double[][]")
      val n = ctx.freshName("n")
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val bc = ctx.freshName("bc")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val diff = ctx.freshName("diff")
      s"""
         |int $n = $v.numElements();
         |long[] $codes = new long[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  double $best = Double.POSITIVE_INFINITY;
         |  long $bc = 0L;
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $dsub; $d++) {
         |      int $i = $j * $dsub + $d;
         |      double $x = ($i < $n && !$v.isNullAt($i)) ? $v.getDouble($i) : 0.0;
         |      double $diff = $x - $cb[$c][$i];
         |      $s += $diff * $diff;
         |    }
         |    if ($s < $best) { $best = $s; $bc = $c; }
         |  }
         |  $codes[$j] = $bc;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

object PqExpression {
  val Name = "graft_pq_encode"

  /** Registry form: graft_pq_encode(vec, flatCodebookLiteral, m, dsub) —
    * the flat codebook literal is row-major (k rows of m*dsub doubles). */
  val builders: Seq[(String, GraftExtensions.Builder)] = Seq(
    Name -> (exprs => {
      val m = GraftExtensions.intLit(exprs(2), s"$Name's third argument (m)")
      val dsub = GraftExtensions.intLit(exprs(3), s"$Name's fourth argument (dsub)")
      val flat = GraftExtensions.doublesLit(exprs(1), s"$Name's second argument")
      val rowLen = m * dsub
      require(flat.nonEmpty && flat.length % rowLen == 0,
        s"$Name: flat codebook length ${flat.length} is not a multiple of m*dsub=$rowLen")
      PqEncodeCodes(exprs(0), flat.grouped(rowLen).toArray, m, dsub)
    }))

  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark, builders)

  /** PQ code array of an array<double> column against `codebook`
    * (k rows, each padded/truncated to exactly m*dsub elements). */
  def codes(spark: SparkSession, vec: Column, codebook: Array[Array[Double]],
      m: Int, dsub: Int): Column = {
    register(spark)
    val rowLen = m * dsub
    val flat = codebook.flatMap(_.padTo(rowLen, 0.0).take(rowLen))
    call_function(Name, vec, lit(flat), lit(m), lit(dsub))
  }
}

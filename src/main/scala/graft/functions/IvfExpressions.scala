package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

import graft.plans.GraftExtensions

/** Native Catalyst expressions for the IVF coarse quantizer (sign-pattern
  * centroids, [[graft.operators.Similarity.ivfAssign]] /
  * [[graft.operators.Similarity.ivfProbes]]).
  *
  * Why not the declarative Column tree: at the 16-centroid x 64-dim
  * geometry, `array_sort(array(16 structs of 64-term sums))` is a ~4k-node
  * expression; its generated code blows janino's 64 KB method limit inside
  * whole-stage codegen and the stage falls back to interpreted eval — a
  * 160M-virtual-call tree walk that made x63 the slowest bench row (9.6 s
  * for a 40k-row corpus whose actual arithmetic is ~40M flops). Same
  * disease, same cure as [[PqEncodeCodes]]: a compact generated loop over
  * the sign matrix as a REFERENCE OBJECT, a few hundred bytes of bytecode
  * at any geometry.
  *
  * Semantics are bit-identical to the Column form (the DuckDB oracle
  * replays the same md5 sign convention):
  *  - score_ci accumulates sign*v[d] left-to-right over d (IEEE order);
  *    elements past the end of a short vector (or null elements) count
  *    as 0.0;
  *  - assign: argmax score, ties -> LOWEST ci (strict `>` keeps the first
  *    maximum, matching array_sort over (negscore, ci) ascending; note
  *    0.0 > -0.0 is false in Java primitive comparison, so signed zeros
  *    tie exactly like Spark's struct ordering);
  *  - probes: top-nprobe by (score desc, ci DESC on ties) — the reverse
  *    of array_sort ascending, matching `reverse(array_sort(...))`.
  */
case class IvfAssignExpr(child: Expression, signs: Array[Array[Double]])
    extends UnaryExpression {

  private val c = signs.length
  private val dims = signs.head.length

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_assign expects array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var best = 0.0
    var bi = 0
    var ci = 0
    while (ci < c) {
      var s = 0.0
      var d = 0
      while (d < dims) {
        val x = if (d < n && !arr.isNullAt(d)) arr.getDouble(d) else 0.0
        s += signs(ci)(d) * x
        d += 1
      }
      if (ci == 0 || s > best) { best = s; bi = ci }
      ci += 1
    }
    bi
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val sg = ctx.addReferenceObj("ivfSigns", signs, "double[][]")
      val n = ctx.freshName("n")
      val ci = ctx.freshName("ci")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      s"""
         |int $n = $v.numElements();
         |double $best = 0.0;
         |int $bi = 0;
         |for (int $ci = 0; $ci < $c; $ci++) {
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    double $x = ($d < $n && !$v.isNullAt($d)) ? $v.getDouble($d) : 0.0;
         |    $s += $sg[$ci][$d] * $x;
         |  }
         |  if ($ci == 0 || $s > $best) { $best = $s; $bi = $ci; }
         |}
         |${ev.value} = $bi;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IvfAssignExpr =
    copy(child = newChild)
}

case class IvfProbesExpr(child: Expression, signs: Array[Array[Double]],
    nprobe: Int) extends UnaryExpression {

  private val c = signs.length
  private val dims = signs.head.length
  private val np = math.min(nprobe, c)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_probes expects array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val scores = new Array[Double](c)
    var ci = 0
    while (ci < c) {
      var s = 0.0
      var d = 0
      while (d < dims) {
        val x = if (d < n && !arr.isNullAt(d)) arr.getDouble(d) else 0.0
        s += signs(ci)(d) * x
        d += 1
      }
      scores(ci) = s
      ci += 1
    }
    val taken = new Array[Boolean](c)
    val out = new Array[Int](np)
    var slot = 0
    while (slot < np) {
      var bi = -1
      var i = 0
      while (i < c) {
        if (!taken(i) &&
            (bi < 0 || java.lang.Double.compare(scores(i), scores(bi)) > 0 ||
             (java.lang.Double.compare(scores(i), scores(bi)) == 0 && i > bi)))
          bi = i
        i += 1
      }
      taken(bi) = true
      out(slot) = bi
      slot += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val sg = ctx.addReferenceObj("ivfSigns", signs, "double[][]")
      val n = ctx.freshName("n")
      val scores = ctx.freshName("scores")
      val taken = ctx.freshName("taken")
      val out = ctx.freshName("out")
      val ci = ctx.freshName("ci")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val slot = ctx.freshName("slot")
      val bi = ctx.freshName("bi")
      val i = ctx.freshName("i")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $n = $v.numElements();
         |double[] $scores = new double[$c];
         |for (int $ci = 0; $ci < $c; $ci++) {
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    double $x = ($d < $n && !$v.isNullAt($d)) ? $v.getDouble($d) : 0.0;
         |    $s += $sg[$ci][$d] * $x;
         |  }
         |  $scores[$ci] = $s;
         |}
         |boolean[] $taken = new boolean[$c];
         |int[] $out = new int[$np];
         |for (int $slot = 0; $slot < $np; $slot++) {
         |  int $bi = -1;
         |  for (int $i = 0; $i < $c; $i++) {
         |    if (!$taken[$i]) {
         |      int $cmp = ($bi < 0) ? 1 : java.lang.Double.compare($scores[$i], $scores[$bi]);
         |      if ($cmp > 0 || ($cmp == 0 && $i > $bi)) $bi = $i;
         |    }
         |  }
         |  $taken[$bi] = true;
         |  $out[$slot] = $bi;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IvfProbesExpr =
    copy(child = newChild)
}

object IvfExpressions {
  val AssignName = "graft_ivf_assign"
  val ProbesName = "graft_ivf_probes"

  /** The deterministic sign matrix: signs(ci)(d) = +1 iff the low bit of
    * md5Long("ci,d") is 0 — the JVM replay of
    * [[TextFunctions.md5Long]]'s convention (first 15 hex chars of md5 as
    * a 60-bit long), identical to what Catalyst constant-folds in the
    * declarative form and to the DuckDB oracle's
    * `('0x' || substr(md5(ci || ',' || d), 1, 15))::BIGINT % 2`. */
  def signMatrix(numCentroids: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numCentroids, dims) { (ci, d) =>
      md.reset()
      val hex = md.digest(s"$ci,$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
  }

  private def signsOf(e: Expression, name: String, dims: Int): Array[Array[Double]] = {
    val flat = GraftExtensions.doublesLit(e, s"$name's second argument")
    require(flat.nonEmpty && flat.length % dims == 0,
      s"$name: flat sign matrix length ${flat.length} not a multiple of dims=$dims")
    flat.grouped(dims).toArray
  }

  val builders: Seq[(String, GraftExtensions.Builder)] = Seq(
    AssignName -> (exprs => {
      val dims = GraftExtensions.intLit(exprs(2), s"$AssignName's third argument (dims)")
      IvfAssignExpr(exprs(0), signsOf(exprs(1), AssignName, dims))
    }),
    ProbesName -> (exprs => {
      val dims = GraftExtensions.intLit(exprs(2), s"$ProbesName's third argument (dims)")
      val np = GraftExtensions.intLit(exprs(3), s"$ProbesName's fourth argument (nprobe)")
      IvfProbesExpr(exprs(0), signsOf(exprs(1), ProbesName, dims), np)
    }))

  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark, builders)

  def assign(spark: SparkSession, vec: Column, numCentroids: Int,
      dims: Int): Column = {
    register(spark)
    call_function(AssignName, vec,
      lit(signMatrix(numCentroids, dims).flatten), lit(dims))
  }

  def probes(spark: SparkSession, vec: Column, numCentroids: Int,
      nprobe: Int, dims: Int): Column = {
    register(spark)
    call_function(ProbesName, vec,
      lit(signMatrix(numCentroids, dims).flatten), lit(dims), lit(nprobe))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Evaluation

class EvaluationSpec extends SparkSpec {
  import spark.implicits._

  test("confusionMatrix: cells, row-normalized rates, absent pairs omitted") {
    val df = Seq(
      ("en", "en"), ("en", "en"), ("en", "de"),
      ("de", "de"),
      ("fr", "en")
    ).toDF("truth", "guess")
    val out = Evaluation.confusionMatrix(df, "truth", "guess")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("en", "en")) == ((2L, 2.0 / 3)))
    assert(out(("en", "de")) == ((1L, 1.0 / 3)))
    assert(out(("de", "de")) == ((1L, 1.0)))
    assert(out(("fr", "en")) == ((1L, 1.0)))
    assert(out.size == 4) // zero cells never materialize
  }

  test("calibrationCurve: binning edges, exact decimal means, top-bin clamp") {
    val df = Seq(
      (0.05, false), (0.05, true),   // bin 0: mean 0.05, pos rate 0.5
      (0.95, true), (1.0, true),     // bin 9 (1.0 clamps down): mean 0.975
      (0.333333, false)              // bin 3
    ).toDF("p", "y")
    val out = Evaluation.calibrationCurve(df, "p", "y", bins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(0L) == ((2L, 0.05, 0.5)))
    assert(out(9L) == ((2L, 0.975, 1.0)))
    assert(out(3L) == ((1L, 0.333333, 0.0)))
    assert(out.size == 3)
  }

  test("aucExact: midrank tie handling matches the pairwise definition; degenerate input rejected") {
    // pairs: (.9 beats .5), (.9 beats .1), (.5 ties .5 -> 1/2), (.5 beats .1)
    // AUC = 3.5 / 4 = 0.875
    val df = Seq((0.9, true), (0.5, true), (0.5, false), (0.1, false))
      .toDF("p", "y")
    val r = graft.operators.Evaluation.aucExact(df, "p", "y").head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((2L, 2L, 0.875)))
    // perfect separation -> 1.0; inverted -> 0.0
    val sep = Seq((0.9, true), (0.8, true), (0.2, false)).toDF("p", "y")
    assert(graft.operators.Evaluation.aucExact(sep, "p", "y").head().getDouble(2) == 1.0)
    val inv = Seq((0.1, true), (0.8, false)).toDF("p", "y")
    assert(graft.operators.Evaluation.aucExact(inv, "p", "y").head().getDouble(2) == 0.0)
    // single-class inputs are rejected, not silently 0/0
    intercept[IllegalArgumentException] {
      graft.operators.Evaluation.aucExact(
        Seq((0.5, true)).toDF("p", "y"), "p", "y").collect()
    }
  }

  test("cohensKappa: hand-computed 2x2; perfect and chance-level agreement") {
    // cells: (A,A)=20 (A,B)=5 (B,A)=10 (B,B)=15 -> N=50, trace=35,
    // S = 25*30 + 25*20 = 1250 -> kappa = (50*35-1250)/(2500-1250) = 0.4
    val df = (Seq.fill(20)(("A", "A")) ++ Seq.fill(5)(("A", "B")) ++
      Seq.fill(10)(("B", "A")) ++ Seq.fill(15)(("B", "B"))).toDF("a", "b")
    val r = graft.operators.Evaluation.cohensKappa(df, "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((50L, 35L, 0.4)))
    // identical labelings -> 1.0
    val same = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    assert(graft.operators.Evaluation.cohensKappa(same, "a", "b")
      .head().getDouble(2) == 1.0)
    // both constant and equal: pe = 1, undefined -> rejected
    intercept[IllegalArgumentException] {
      graft.operators.Evaluation.cohensKappa(
        Seq(("x", "x")).toDF("a", "b"), "a", "b").collect()
    }
  }

  test("labelPropagationStep: neighbor majority, ascending-label ties, isolated nodes absent") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("a", "b")
    val labels = Seq((1L, "x"), (2L, "y"), (3L, "y"), (4L, "z"), (99L, "q"))
      .toDF("id", "lab")
    val out = graft.operators.GraphRank
      .labelPropagationStep(pairs, "a", "b", labels, "id", "lab")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L) == (("x", "y")))       // neighbors y,y,z -> majority y
    assert(out(2L) == (("y", "x")))       // neighbors x(1), y(3): 1x,1y tie -> "x" asc
    assert(out(3L) == (("y", "x")))       // neighbors 1(x), 2(y): tie -> x
    assert(out(4L) == (("z", "x")))       // sole neighbor 1 -> x
    assert(!out.contains(99L))            // isolated: not emitted
  }

  test("negativePairs: deterministic, in-range, never the anchor") {
    val ids = spark.range(20).toDF("id")
    val out = graft.operators.Selection.negativePairs(ids, "id", k = 4, n = 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall { case (a, _, neg) => neg != a && neg >= 0 && neg < 20 })
    // up to k draws per anchor; only self-collisions are dropped
    val perAnchor = out.groupBy(_._1).view.mapValues(_.length)
    assert(perAnchor.values.forall(c => c >= 3 && c <= 4))
    // byte-for-byte reproducible (pure hash, no RNG state)
    val again = graft.operators.Selection.negativePairs(ids, "id", k = 4, n = 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
  }

  test("gainsTable: a perfect scorer captures all positives in the top deciles") {
    import spark.implicits._
    // 20 rows, scores = id desc-aligned; positives = the 4 best scores
    val df = (1 to 20).map(i => (i.toLong, (21 - i).toDouble, i <= 4))
      .toDF("id", "q", "y")
    val out = graft.operators.Evaluation.gainsTable(df, "id", "q", "y")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5))).toMap
    // decile 1 = ranks 1-2 = ids 1,2 (both positive): lift = (2/2)/(4/20) = 5
    assert(out(1L) == ((2L, 2L, 2L, 0.5, 5.0)))
    // by decile 2 all 4 positives are captured
    assert(out(2L)._3 == 4L && out(2L)._4 == 1.0)
    // bottom decile: cumulative lift decays to exactly 1
    assert(out(10L)._5 == 1.0)
  }

  test("gainsTable: fewer than 10 rows throws, and its numbering cache is released when the owner scope exits") {
    import spark.implicits._
    import graft.plans.Persists
    Persists.releaseAll(spark)
    val df = (1 to 9).map(i => (i.toLong, i.toDouble, i % 2 == 0)).toDF("id", "q", "y")
    Persists.scope {
      intercept[IllegalArgumentException](
        graft.operators.Evaluation.gainsTable(df, "id", "q", "y"))
      // the sorted input was persisted for numbering before the size check
      assert(Persists.livePersistedRdds(spark) == 1)
    }
    assert(Persists.livePersistedRdds(spark) == 0)
  }

  test("mrr: reciprocal of the true top-1's approx rank; absent scores 0") {
    import spark.implicits._
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2),
      (2L, 20L, 1), (3L, 30L, 1)).toDF("q", "n", "rank")
    val approx = Seq(
      (1L, 99L, 1), (1L, 98L, 2), (1L, 10L, 3), // q1's true top-1 at rank 3
      (2L, 20L, 1)                              // q2's at rank 1; q3 absent
    ).toDF("q", "n", "rank")
    val r = graft.operators.Evaluation.mrr(approx, exact, "q", "n", "rank")
      .head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    // (1/3 + 1 + 0) / 3
    assert(math.abs(r.getDouble(2) - (1.0 / 3 + 1.0) / 3) < 1e-6)
  }

  test("spearmanExact: monotone-transform invariant; midrank ties hand-computed") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 5L), (3L, 11L), (4L, 13L), (5L, 40L))
      .toDF("x", "y")
    val r1 = graft.operators.Evaluation.spearmanExact(df, "x", "y")
      .head().getDouble(1)
    // squaring y (monotone on positives) must not change the rank corr
    val r2 = graft.operators.Evaluation.spearmanExact(
      df.select(col("x"), (col("y") * col("y")).as("y")), "x", "y")
      .head().getDouble(1)
    assert(r1 == 1.0 && r2 == 1.0)
    // midrank ties: x = (1,1,2) vs y = (5,7,9) -> r = 6/sqrt(48)
    val t = graft.operators.Evaluation.spearmanExact(
      Seq((1L, 5L), (1L, 7L), (2L, 9L)).toDF("x", "y"), "x", "y")
      .head().getDouble(1)
    assert(math.abs(t - 6.0 / math.sqrt(48.0)) < 1e-6)
  }

  test("cramersV: perfect association 1, independence 0") {
    import spark.implicits._
    val perfect = Seq(("a", "p"), ("a", "p"), ("b", "q"), ("b", "q"))
      .toDF("l", "s")
    val vp = graft.operators.Evaluation.cramersV(perfect, "l", "s").head()
    assert(vp.getLong(0) == 4L && vp.getDouble(2) == 1.0)
    val indep = Seq(("a", "p"), ("a", "q"), ("b", "p"), ("b", "q"))
      .toDF("l", "s")
    assert(graft.operators.Evaluation.cramersV(indep, "l", "s")
      .head().getDouble(2) == 0.0)
  }

  test("pearsonExact: perfect, inverse, and partition-invariant correlation") {
    import spark.implicits._
    val up = Seq((1.0, 2L), (2.0, 4L), (3.0, 6L)).toDF("x", "y")
    val r1 = graft.operators.Evaluation.pearsonExact(up, "x", "y").head()
    assert(r1.getLong(0) == 3L && r1.getDouble(1) == 1.0)
    val down = Seq((1.0, 3L), (2.0, 2L), (3.0, 1L)).toDF("x", "y")
    assert(graft.operators.Evaluation.pearsonExact(down, "x", "y")
      .head().getDouble(1) == -1.0)
    // decimal sums are order-independent: repartitioning changes nothing
    val noisy = (1 to 50).map(i => (i.toDouble, (i % 7).toLong)).toDF("x", "y")
    val a = graft.operators.Evaluation.pearsonExact(noisy, "x", "y").head()
    val b = graft.operators.Evaluation
      .pearsonExact(noisy.repartition(7), "x", "y").head()
    assert(a == b)
  }

  test("prCurve: cumulative tp/fp per distinct threshold, tie-safe") {
    import spark.implicits._
    // two positives TIED at .9 — group-level definition has no rank
    // ambiguity where per-row AP definitions diverge
    val df = Seq((0.9, true), (0.9, true), (0.8, false), (0.7, true),
      (0.5, false)).toDF("p", "y")
    val out = graft.operators.Evaluation.prCurve(df, "p", "y")
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(0.9) == ((2L, 0L, 1.0, 2.0 / 3)))
    assert(out(0.8) == ((2L, 1L, 2.0 / 3, 2.0 / 3)))
    assert(out(0.7) == ((3L, 1L, 0.75, 1.0)))
    assert(out(0.5) == ((3L, 2L, 0.6, 1.0)))
    assert(out.size == 4)
  }

  test("recallAtK: per-query hit counts, zero-hit queries included, rank cutoff honored") {
    import spark.implicits._
    // exact top-3 per query; approx overlaps 2/3 for q1, 0/3 for q2
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      // rank 4 rows must not count toward recall@3 on either side
      (1L, 99L, 4)).toDF("q", "n", "rank")
    val approx = Seq(
      (1L, 10L, 1), (1L, 12L, 2), (1L, 77L, 3),
      (2L, 88L, 1), (2L, 89L, 2), (2L, 90L, 3),
      (2L, 20L, 4) // true neighbor found, but past the cutoff
    ).toDF("q", "n", "rank")
    val out = graft.operators.Evaluation
      .recallAtK(approx, exact, "q", "n", "rank", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((2L, 2.0 / 3)))
    assert(out(2L) == ((0L, 0.0))) // zero hits still yields a row
    assert(out.size == 2)
  }

  test("ndcgAtK: exact-vs-itself is 1, disjoint is 0, one swap is hand-computable") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L), (2L, 21L, 2L), (2L, 22L, 3L)).toDF("q", "n", "rank")
    val self = graft.operators.Evaluation
      .ndcgAtK(exact, exact, "q", "n", "rank", k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(self == Map(1L -> 1.0, 2L -> 1.0))
    // q1 swaps positions 1 and 2; q2 finds nothing relevant
    val approx = Seq(
      (1L, 11L, 1L), (1L, 10L, 2L), (1L, 12L, 3L),
      (2L, 88L, 1L), (2L, 89L, 2L), (2L, 90L, 3L)).toDF("q", "n", "rank")
    val out = graft.operators.Evaluation
      .ndcgAtK(approx, exact, "q", "n", "rank", k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def l2(x: Double) = math.log(x) / math.log(2.0)
    val ideal = 3.0 / l2(2) + 2.0 / l2(3) + 1.0 / l2(4)
    val swapped = 2.0 / l2(2) + 3.0 / l2(3) + 1.0 / l2(4)
    assert(math.abs(out(1L) - swapped / ideal) < 1e-6)
    assert(out(2L) == 0.0)
  }

  test("brierDecomposition: Murphy identity on bin-constant scores, hand values") {
    import spark.implicits._
    // two bins, scores constant within each: p=0.25 (3 pos of 4),
    // p=0.75 (3 pos of 4); base rate 6/8
    val df = (Seq.fill(3)((0.25, 1.0)) ++ Seq((0.25, 0.0)) ++
      Seq.fill(3)((0.75, 1.0)) ++ Seq((0.75, 0.0))).toDF("p", "y")
    val r = graft.operators.Evaluation
      .brierDecomposition(df, "p", "y", bins = 10).head()
    val n = r.getLong(0)
    val (brier, rel, res, unc) =
      (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(n == 8L)
    // per-row (p-y)^2: 3*(0.75)^2 + (0.25)^2 + 3*(0.25)^2 + (0.75)^2 over 8
    assert(math.abs(brier - (4 * 0.5625 + 4 * 0.0625) / 8) < 1e-9)
    // bin .25: |p̄ - ȳb| = 0.5 -> 0.25; bin .75: p̄ = ȳb -> 0; weighted
    // (4·0.25 + 4·0)/8 = 0.125. ȳb = 0.75 = ȳ in both -> resolution 0;
    // uncertainty 0.75·0.25
    assert(math.abs(rel - 0.125) < 1e-9)
    assert(res == 0.0)
    assert(math.abs(unc - 0.1875) < 1e-9)
    // the Murphy identity holds exactly for bin-constant scores
    assert(math.abs(brier - (rel - res + unc)) < 1e-9)
  }

  test("conformalCoverage: hand-run split-conformal quantile, coverage, set size") {
    import spark.implicits._
    // even ids calibrate (nonconformity 0.1,0.2,0.3,0.4,0.1), odd eval;
    // alpha=0.2 -> k=ceil(6*0.8)=5 -> q=0.4 (5th smallest)
    val df = Seq(
      (0L, 0.9, true), (2L, 0.8, true), (4L, 0.3, false),
      (6L, 0.6, true), (8L, 0.1, false),
      (1L, 0.7, true), (3L, 0.5, false), (5L, 0.2, false),
      (7L, 0.9, true), (9L, 0.4, false)
    ).toDF("id", "p", "label")
    val r = graft.operators.Evaluation
      .conformalCoverage(df, "id", "p", "label", alpha = 0.2)
      .collect().head
    assert(r.getLong(0) == 5L)      // n_cal
    assert(r.getDouble(1) == 0.4)   // q
    assert(r.getLong(2) == 5L)      // n_eval
    assert(r.getDouble(3) == 0.8)   // coverage: eval id 3 (s=0.5) misses
    assert(r.getDouble(4) == 0.8)   // avg prediction-set size
  }

  test("bootstrapCiMean: replicate weights replay locally; CI brackets the mean; deterministic") {
    def md5l(x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    def pois(u: Double): Long = {
      val cdf = Evaluation.PoissonCdf
      val i = cdf.indexWhere(u < _)
      if (i < 0) cdf.size.toLong else i.toLong
    }
    val rows = (1L to 200L).map(i => (i, 10L + (i % 17)))
    val df = rows.toDF("doc_id", "n_chars")
    val r = Evaluation.bootstrapCiMean(df, "doc_id", "n_chars",
      b = 32, seed = 7).head()
    // local replay of the full replicate-mean set
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ms = (0 until 32).map { rep =>
      var wx = 0L; var w = 0L
      rows.foreach { case (id, x) =>
        val u = md5l(s"7|$rep|$id").toDouble / 1152921504606846976.0
        val wt = pois(u); wx += wt * x; w += wt
      }
      wx.toDouble / w.toDouble
    }.sorted
    assert(r.getLong(0) == 200L)
    assert(r.getDouble(1) == r6(rows.map(_._2).sum.toDouble / 200.0))
    assert(r.getDouble(2) == r6(ms(1)))   // 2nd order stat
    assert(r.getDouble(3) == r6(ms(30)))  // 31st order stat
    assert(r.getDouble(2) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(3),
      "CI must bracket the mean on this fixture")
    // determinism: a second run is bit-identical
    val r2 = Evaluation.bootstrapCiMean(df, "doc_id", "n_chars",
      b = 32, seed = 7).head()
    assert(r.toSeq == r2.toSeq)
  }

  test("offPolicyIps: hand-computed IPS/SNIPS; zero-match policy pins SNIPS NULL; SNIPS ignores match rate") {
    // 8 logged decisions over K=2 actions; rewards chosen so the two
    // estimators disagree exactly as the formulas say
    val logs = Seq(
      ("a", 1L), ("a", 0L), ("a", 1L), ("a", 1L),
      ("b", 0L), ("b", 1L), ("b", 0L), ("b", 0L)
    ).toDF("action", "r")
    val out = Evaluation.offPolicyIps(logs, "action", "r",
        Seq("pick_a" -> lit("a"), "pick_b" -> lit("b"),
          "pick_c" -> lit("c")))
      .orderBy("policy").collect()
    val byP = out.map(r => r.getString(0) -> r).toMap
    // pick_a: matched 4 rows, reward 3; K=2, n=8
    val a = byP("pick_a")
    assert(a.getLong(1) == 8L && a.getLong(2) == 2L)
    assert(a.getLong(3) == 4L && a.getLong(4) == 3L)
    assert(a.getDouble(5) == 2.0 * 3.0 / 8.0)   // IPS = K*s/n = 0.75
    assert(a.getDouble(6) == 0.75)               // SNIPS = 3/4
    assert(a.getDouble(7) == 0.5)
    // pick_b: s=1, m=4 -> IPS 0.25, SNIPS 0.25
    val b = byP("pick_b")
    assert(b.getDouble(5) == 0.25 && b.getDouble(6) == 0.25)
    // pick_c never matches the log: IPS 0 (no evidence), SNIPS NULL
    val c = byP("pick_c")
    assert(c.getLong(3) == 0L && c.getDouble(5) == 0.0)
    assert(c.isNullAt(6), "zero-match SNIPS must pin NULL")
  }

  test("kendallTau: perfect agreement 1, reversal -1, tie-corrected hand case, constant pins NULL") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val agree = Seq(("a", 1L, 10L), ("b", 2L, 20L), ("c", 3L, 30L),
      ("d", 4L, 40L)).toDF("id", "x", "y")
    assert(Evaluation.kendallTau(agree, "id", "x", "y")
      .collect()(0).getDouble(6) == 1.0)
    val rev = Seq(("a", 1L, 40L), ("b", 2L, 30L), ("c", 3L, 20L),
      ("d", 4L, 10L)).toDF("id", "x", "y")
    assert(Evaluation.kendallTau(rev, "id", "x", "y")
      .collect()(0).getDouble(6) == -1.0)
    // hand case with ties: x = (1,1,2,3), y = (1,2,2,3)
    val tied = Seq(("a", 1L, 1L), ("b", 1L, 2L), ("c", 2L, 2L),
      ("d", 3L, 3L)).toDF("id", "x", "y")
    val out = Evaluation.kendallTau(tied, "id", "x", "y").collect()(0)
    // pairs: ab tx, ac C, ad C, bc ty, bd C, cd C -> C=4 D=0 tx=1 ty=1
    assert(out.getLong(0) == 4L && out.getLong(1) == 6L)
    assert(out.getLong(2) == 4L && out.getLong(3) == 0L)
    assert(out.getLong(4) == 1L && out.getLong(5) == 1L)
    assert(out.getDouble(6) ==
      r6(4.0 / (math.sqrt(5.0) * math.sqrt(5.0))))
    // constant x: every pair x-tied -> NULL
    val const = Seq(("a", 5L, 1L), ("b", 5L, 2L), ("c", 5L, 3L))
      .toDF("id", "x", "y")
    assert(Evaluation.kendallTau(const, "id", "x", "y")
      .collect()(0).isNullAt(6))
  }

  test("ucbAllocation: microgrid means, exploration bonus favors under-pulled arms") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // arm a: 8 pulls mean 0.5; arm b: 2 pulls mean 0.4 -> greedy picks
    // a, UCB picks b (bonus sqrt(2 ln 10 / 2) ~ 1.5 dominates)
    val rows = (1 to 8).map(i => ("a", if (i % 2 == 0) 1.0 else 0.0)) ++
      Seq(("b", 0.8), ("b", 0.0))
    val out = Evaluation.ucbAllocation(rows.toDF("arm", "v"), "arm", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5)))
    val a = out.find(_._1 == "a").get; val b = out.find(_._1 == "b").get
    assert(a._2 == 8L && b._2 == 2L)
    assert(a._3 == 0.5 && b._3 == 0.4)
    assert(a._4 == r6(0.5 + math.sqrt(2.0 * math.log(10.0) / 8.0)))
    assert(b._4 == r6(0.4 + math.sqrt(2.0 * math.log(10.0) / 2.0)))
    assert(a._5 == 1L && b._5 == 2L, "greedy rank prefers a")
    assert(b._6 == 1L && a._6 == 2L, "UCB rank prefers the under-pulled b")
  }
}

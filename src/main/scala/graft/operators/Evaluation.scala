package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** Model-evaluation reports over corpus-scale predictions — the QA loop
  * for the classifier/heuristic operators (langId, bowLogisticScore,
  * quality filters): a labeler is only trustworthy with its confusion
  * matrix and calibration curve next to it. The reference has no model
  * machinery; these mirror its REPORTING habit (phase summaries,
  * TableDiff counters) applied to predictions.
  *
  * Both reports reduce the corpus to tiny cell frames before any
  * non-keyed work — the shapes survive 100 TB because the expensive part
  * is always one partial-agged groupBy over the prediction pass.
  */
object Evaluation {

  /** Off-policy evaluation of candidate action policies from a logged
    * bandit-style feed (Horvitz-Thompson 1952 / Li et al. 2011): given
    * a log of (action, integer reward) decisions whose logging policy
    * is uniform over the K-action domain (propensity 1/K — true by
    * construction for a hash-explored or round-robin logger; pass the
    * real propensity column when you have one), estimate each candidate
    * policy's value WITHOUT deploying it:
    *   IPS   = (K/n) · Σ r_i · 1[a_i = π(x_i)]     (unbiased, high-var)
    *   SNIPS = Σ r_i·1[match] / Σ 1[match]          (self-normalized —
    *           the constant K/(1/K) weights cancel; biased O(1/n),
    *           far lower variance)
    * The offline-counterfactual front door of every recommendation /
    * curation-policy loop ("would always-pick-X or pick-the-user's-
    * modal-action earn more conversions than what we logged?").
    *
    * Each policy is a Column over the log frame, so contextual policies
    * (per-user modal action, a model argmax) attach upstream as plain
    * columns. Integer rewards keep every moment exact; one aggregate
    * pass carries all policies' matched counts/reward sums, K attaches
    * as a broadcast 1-row frame, and the output is one row per policy:
    * (policy, n, k_actions, n_matched, sum_reward, ips, snips NULL at
    * zero matches, match_rate). */
  def offPolicyIps(logs: DataFrame, actionCol: String, rewardCol: String,
      policies: Seq[(String, Column)]): DataFrame = {
    require(policies.nonEmpty, "need at least one candidate policy")
    val d = (c: Column) => c.cast(DoubleType)
    val aggs = Seq(count(lit(1)).as("n")) ++
      policies.zipWithIndex.flatMap { case ((_, pol), i) =>
        Seq(sum(when(col(actionCol) === pol, 1L).otherwise(0L)).as(s"m$i"),
          sum(when(col(actionCol) === pol, col(rewardCol)).otherwise(0L))
            .as(s"s$i"))
      }
    val row = logs.agg(aggs.head, aggs.tail: _*)
    val k = logs.select(col(actionCol)).distinct()
      .agg(count(lit(1)).as("kk"))
    val base = row.crossJoin(broadcast(k)) // 1-row x 1-row
    policies.zipWithIndex.map { case ((name, _), i) =>
      base.select(lit(name).as("policy"), col("n"),
        col("kk").as("k_actions"), col(s"m$i").as("n_matched"),
        col(s"s$i").as("sum_reward"),
        round(d(col("kk")) * d(col(s"s$i")) / d(col("n")), 6).as("ips"),
        round(when(col(s"m$i") === 0L, lit(null).cast(DoubleType))
          .otherwise(d(col(s"s$i")) / d(col(s"m$i"))), 6).as("snips"),
        round(d(col(s"m$i")) / d(col("n")), 6).as("match_rate"))
    }.reduce(_ unionByName _)
  }

  /** Confusion matrix with row-normalized rates: one row per observed
    * (actual, predicted) pair — n and P(predicted | actual). The
    * normalization window runs on the k^2 cell frame (k = label
    * cardinality), not the corpus; the rate is one correctly-rounded
    * IEEE division of two exact BIGINTs, reproducible across engines.
    */
  def confusionMatrix(df: DataFrame, actualCol: String,
      predictedCol: String): DataFrame = {
    val cells = df
      .select(col(actualCol).as("actual"), col(predictedCol).as("predicted"))
      .groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val perActual = Window.partitionBy(col("actual"))
    cells.withColumn("rate",
      col("n").cast(DoubleType) / sum(col("n")).over(perActual).cast(DoubleType))
  }

  /** Cohen's kappa — chance-corrected agreement between two labelings,
    * INTEGER-EXACT until one final division: kappa = (N*trace - S) /
    * (N^2 - S) where trace = sum of diagonal cells and S = sum over
    * labels of row_total * col_total. The cell/marginal frames are
    * k^2/k rows; everything heavier is one partial-agged count shuffle.
    * Returns one row (n, trace, kappa). Degenerate pe = 1 (both sides
    * constant and equal) is rejected — kappa is undefined there.
    */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.select(col(aCol).as("a"), col(bCol).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    // k^2-bounded driver fold (label cardinality, not corpus)
    val n = cells.map(_._3).sum
    val trace = cells.collect { case (a, b, c) if a == b => c }.sum
    val rows = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    val cols = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    val s = rows.map { case (l, r) => r * cols.getOrElse(l, 0L) }.sum
    require(n * n != s, "kappa undefined: expected agreement is 1")
    val kappa = (n * trace - s).toDouble / (n * n - s).toDouble
    Seq((n, trace, kappa)).toDF("n", "trace", "kappa")
  }

  /** Exact ROC-AUC via the Mann-Whitney U statistic with midrank tie
    * handling — INTEGER-EXACT until one final division: AUC =
    * (2*S - np*(np+1)) / (2*np*nn) where S is the positive class's
    * midrank sum, and 2*midrank per score group is the integer
    * 2*cumulative_count - n + 1. No per-row global sort survives the
    * plan: rows reduce to per-score groups first (one partial-agged
    * shuffle), and the cumulative walk runs over the GROUP frame, whose
    * size is bounded by the score CODOMAIN (<= 1e6+1 for the repo's
    * 6-decimal-rounded scores), not the corpus. Returns one row
    * (n_pos, n_neg, auc). Degenerate single-class inputs are rejected
    * (AUC undefined).
    */
  def aucExact(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = df.select(col(scoreCol).as("s"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    // cumulative count over the ascending-score GROUP frame (codomain-
    // bounded — see scaladoc; the window is explicitly unpartitioned
    // because its input is the reduced frame, never corpus rows)
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val parts = g
      .withColumn("cum", sum(col("n")).over(w))
      .agg(
        sum(col("npos") * (lit(2L) * col("cum") - col("n") + 1L)).as("s2"),
        sum(col("npos")).as("np"),
        sum(col("n") - col("npos")).as("nn"))
      .head()
    val (s2, np, nn) = (parts.getLong(0), parts.getLong(1), parts.getLong(2))
    require(np > 0 && nn > 0, s"AUC undefined: n_pos=$np n_neg=$nn")
    val auc = (s2 - np * (np + 1L)).toDouble / (2L * np * nn).toDouble
    Seq((np, nn, auc)).toDF("n_pos", "n_neg", "auc")
  }

  /** Reliability (calibration) curve: scores binned into `bins` equal
    * buckets over [0,1]; per bucket the count, mean predicted score, and
    * observed positive rate. A well-calibrated scorer has mean_score ≈
    * frac_pos per bin.
    *
    * Exactness: scores are expected to be 6-decimal-rounded doubles (the
    * repo's scorer convention, e.g. bowLogisticScore) — casting to
    * DECIMAL(18,6) recovers the decimal value exactly (the nearest
    * 6-decimal to such a double is unique), so the per-bin sum is
    * order-independent and the means divide exactly once in double.
    * The bin id floor(score*bins) clamps 1.0 into the top bin.
    *
    * 100 TB shape: one narrow projection + one partial-agged groupBy over
    * at most `bins` keys.
    */
  def calibrationCurve(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    def d(c: Column) = c.cast(StringType).cast(DoubleType)
    val bin = least(floor(col(scoreCol) * bins).cast("long"), lit(bins - 1L))
    df.select(bin.as("bin"),
        col(scoreCol).cast(DecimalType(18, 6)).as("p_dec"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p_dec")).as("sp"),
        sum(col("y")).as("npos"))
      .select(col("bin"), col("n"),
        (d(col("sp")) / col("n").cast(DoubleType)).as("mean_score"),
        (col("npos").cast(DoubleType) / col("n").cast(DoubleType))
          .as("frac_pos"))
  }

  /** Exact-sum Pearson correlation between two EXACT-REPRESENTABLE
    * columns (integers, or 6-decimal-rounded scores — the repo's scorer
    * convention): is quality just length in disguise, does score A add
    * anything over score B — the feature-redundancy question asked
    * before any filter is stacked on another.
    *
    * Why not `corr()`: built-in correlation accumulates FLOATING partial
    * moments whose merge order varies with partitioning — irreproducible
    * across engines and even across runs. Here all five sums accumulate
    * in DECIMAL (exact, order-independent); the final r = (n·Σxy − ΣxΣy)
    * / (√(n·Σxx − Σx²)·√(n·Σyy − Σy²)) is one fixed-order double formula
    * both engines replay identically, rounded to 6. ONE partial-agged
    * scan. Output: (n, r). */
  def pearsonExact(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val v = df.select(col(xCol).cast(d6).as("x"), col(yCol).cast(d6).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    def d(c: Column) = c.cast(StringType).cast(DoubleType)
    val s = v.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast(DoubleType)
    val r = (n * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
      (sqrt(n * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
        sqrt(n * d(col("syy")) - d(col("sy")) * d(col("sy"))))
    s.select(col("n"), round(r, 6).as("r"))
  }

  /** Source league table: per group, the exact-sum mean of a
    * 6-decimal-rounded score and its z-score against the GLOBAL
    * distribution — which sources drag corpus quality down, in units
    * (global sds) that are comparable across refreshes. Means divide
    * exact DECIMAL sums once; the global mean/sd come from the same
    * exact moments ([[pearsonExact]]'s discipline: no floating partial
    * aggregates), and z = (mean_g − mean)/sd is a fixed-order double
    * formula rounded to 6. Two partial-agged scans + a broadcast 1-row
    * stats frame. Output: (group, n, mean_score, z). */
  def sourceLeague(df: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val v = df.select(col(groupCol), col(scoreCol).cast(d6).as("x"))
      .filter(col("x").isNotNull)
    def d(c: Column) = c.cast(StringType).cast(DoubleType)
    val g = v.agg(count(lit(1)).as("gn"), sum(col("x")).as("gsx"),
      sum(col("x") * col("x")).as("gsxx"))
    val per = v.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val gn = col("gn").cast(DoubleType)
    val mean = d(col("sx")) / col("n").cast(DoubleType)
    val gmean = d(col("gsx")) / gn
    val sd = sqrt(d(col("gsxx")) / gn - (d(col("gsx")) / gn) * (d(col("gsx")) / gn))
    per.crossJoin(broadcast(g))
      .select(col(groupCol), col("n"), round(mean, 6).as("mean_score"),
        round((mean - gmean) / sd, 6).as("z"))
  }

  /** Exact Spearman rank correlation via MIDRANKS — [[pearsonExact]] on
    * the rank scale: robust to any monotone transform (log-scaled scores
    * correlate identically), the right question when two scorers use
    * different scales. Textbook tie handling: tied values share their
    * average rank, computed EXACTLY as the integer 2·midrank =
    * 2·cum − n + 1 over each column's value-GROUP frame (the x92
    * codomain-bounded cumulative walk — never a corpus-sized rank
    * window), and r is affine-invariant so the doubling cancels. Rank
    * joins are value-keyed shuffles; the final correlation reuses
    * pearsonExact's decimal sums. Inputs must be exact-representable
    * (integers / rounded-6 scores). Output: (n, r). */
  def spearmanExact(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val v = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    def midranks(c: String): DataFrame = {
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      v.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .withColumn("cum", sum(col("n")).over(w))
        .select(col(c), (lit(2L) * col("cum") - col("n") + 1L).as(s"mr_$c"))
    }
    val ranked = v
      .join(midranks("x").hint("shuffle_hash"), Seq("x"))
      .join(midranks("y").hint("shuffle_hash"), Seq("y"))
    pearsonExact(ranked, "mr_x", "mr_y")
  }

  /** Cramér's V — association strength between two CATEGORICAL columns
    * (language x source: is language just a proxy for source?), the
    * chi-square-based 0..1 number the confusion matrix doesn't summarize.
    * Cell/marginal counts are exact from one partial-agged scan; the
    * chi-square accumulates on the DRIVER over the k² cell frame in
    * canonical (a, b) order (the x91 fold discipline — cells are
    * label-cardinality-bounded, never corpus-sized), V = √(χ²/(n·(min(r,c)−1)))
    * rounded to 6. Output: (n, chi2, v). */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.select(col(aCol).cast(StringType).as("a"),
        col(bCol).cast(StringType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    require(cells.nonEmpty, "cramersV needs at least one cell")
    val rows = cells.keys.map(_._1).toSeq.distinct.sorted
    val colsK = cells.keys.map(_._2).toSeq.distinct.sorted
    val rowN = rows.map(a => a -> cells.collect {
      case ((x, _), n) if x == a => n }.sum).toMap
    val colN = colsK.map(b => b -> cells.collect {
      case ((_, y), n) if y == b => n }.sum).toMap
    val n = cells.values.sum
    val chi2 = rows.foldLeft(0.0) { (acc, a) =>
      colsK.foldLeft(acc) { (acc2, b) =>
        val e = rowN(a).toDouble * colN(b).toDouble / n.toDouble
        val o = cells.getOrElse((a, b), 0L).toDouble
        acc2 + (o - e) * (o - e) / e
      }
    }
    val k = math.min(rows.size, colsK.size)
    require(k >= 2, "cramersV needs at least 2 categories on each side")
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n, r6(chi2), r6(math.sqrt(chi2 / (n.toDouble * (k - 1))))))
      .toDF("n", "chi2", "v")
  }

  /** Precision-recall curve at every distinct score threshold — the
    * threshold-picking companion to [[aucExact]] (ROC ranks; PR answers
    * "if I keep everything scoring >= s, what fraction is good and what
    * fraction of the good did I keep" — the actual curation decision,
    * and the honest view under class imbalance where ROC flatters).
    *
    * Defined on distinct-score GROUPS, so there is NO within-tie ordering
    * ambiguity (rank-based AP definitions differ across libraries exactly
    * there): per threshold s, TP/FP are cumulative counts over the
    * >= s region — integer-exact — and precision/recall are two
    * correctly-rounded divisions. 100 TB shape: one partial-agged
    * groupBy(score) reduces the corpus to the score CODOMAIN (bounded by
    * the 6-decimal scorer convention); the cumulative window runs
    * unpartitioned on that reduced frame only. Output: (threshold, tp,
    * fp, precision, recall) ordered by threshold desc. */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val g = df.select(col(scoreCol).as("threshold"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    val w = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val np = g.agg(sum(col("npos"))).head().getLong(0)
    require(np > 0, "prCurve undefined: no positive labels")
    g.withColumn("tp", sum(col("npos")).over(w))
      .withColumn("fp", sum(col("n") - col("npos")).over(w))
      // "prec", not "precision": PRECISION is a SQL type keyword and an
      // unquotable alias in some engines the oracle replays through
      .select(col("threshold"), col("tp"), col("fp"),
        (col("tp").cast(DoubleType) /
          (col("tp") + col("fp")).cast(DoubleType)).as("prec"),
        (col("tp").cast(DoubleType) / lit(np.toDouble)).as("recall"))
  }

  /** Decile gains table — the triage-ROI chart for a scorer: sort by
    * score descending, split into 10 EQUI-DEPTH deciles, and report per
    * decile the positives captured, the cumulative capture rate, and
    * the cumulative lift over random — "reviewing the top 20% catches
    * X% of the bad docs" is the sentence that sizes a review budget,
    * and [[aucExact]]'s one number can't say it.
    *
    * Decile membership is INTEGER-EXACT: global rank from the
    * range-partitioned RowNum (sorted score desc, id asc — never a
    * one-task window), decile = ((rank−1)·10) div n. All counts exact;
    * rates/lift are single divisions. Output: (decile 1..10, n, n_pos,
    * cum_pos, capture_rate, cum_lift). */
  def gainsTable(df: DataFrame, idCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    import graft.plans.{Events, RowNum}
    val v = df.select(col(idCol), col(scoreCol).as("s"),
        col(labelCol).cast("long").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
    // n rides the numbering pass (assignWithTotal) — the former separate
    // count() action re-evaluated the scored input once per run (round 10)
    val (numbered, n) =
      RowNum.assignWithTotal(v.orderBy(col("s").desc, col(idCol).asc))
    require(n >= 10, "gainsTable needs at least 10 rows")
    val ranked = numbered.withColumnRenamed(Events.RowNumCol, "rk")
    val dec = call_function("div", (col("rk") - 1L) * 10L, lit(n)) + 1L
    val per = ranked.select(dec.as("decile"), col("y"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // 10-row frames: bounded unpartitioned windows. The positives TOTAL
    // rides the same frame (unbounded-following) instead of a separate
    // head() action, which re-evaluated the scored input (measured: x155
    // 2.5 -> ~1.5 s). Zero-positive inputs yield null rates (was a
    // require), which the caller sees on the same pass.
    val wAll = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("tot_pos", sum(col("n_pos")).over(wAll))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_pos"),
        when(col("tot_pos") > 0L,
          col("cum_pos").cast(DoubleType) / col("tot_pos").cast(DoubleType))
          .as("capture_rate"),
        when(col("tot_pos") > 0L,
          round((col("cum_pos").cast(DoubleType) / col("cum_n").cast(DoubleType)) /
            (col("tot_pos").cast(DoubleType) / lit(n.toDouble)), 6))
          .as("cum_lift"))
  }

  /** nDCG@k of an approximate ranking against the exact one — the
    * position-weighted retrieval score that [[recallAtK]] (set overlap)
    * and [[mrr]] (top-1 position) bracket: every exact top-k item
    * carries graded relevance k−rank+1, the approximate list earns
    * rel/log2(pos+1) at the position it actually shows the item, and
    * the ideal DCG (the exact list scoring itself) normalizes to [0,1].
    * The ideal is a closed-form constant of k — folded in as a literal,
    * not recomputed per query. Inputs are two candidate-frame rankings
    * shaped (queryCol, idCol, rankCol) — both candidate-sized, joined
    * shuffle_hash on (query, id); ≤k log terms per query, rounded to 6
    * (the x45 float convention). Output: (queryCol, ndcg). */
  def ndcgAtK(approx: DataFrame, exact: DataFrame, queryCol: String,
      idCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, "ndcgAtK needs k >= 1")
    val a = approx.filter(col(rankCol) <= k)
      .select(col(queryCol), col(idCol), col(rankCol).as("__pos"))
    val t = exact.filter(col(rankCol) <= k)
      .select(col(queryCol), col(idCol),
        (lit(k.toLong) + 1L - col(rankCol)).as("__rel"))
    val ideal = (1 to k).map(r =>
      (k - r + 1).toDouble / (math.log(r + 1.0) / math.log(2.0))).sum
    a.join(t.hint("shuffle_hash"), Seq(queryCol, idCol), "left")
      .groupBy(col(queryCol))
      .agg(sum(coalesce(col("__rel"), lit(0L)).cast(DoubleType) /
        log(2.0, col("__pos").cast(DoubleType) + 1.0)).as("__dcg"))
      .select(col(queryCol), round(col("__dcg") / lit(ideal), 6).as("ndcg"))
  }

  /** Murphy decomposition of the Brier score over equal-width probability
    * bins — the one-table answer to "is the score a PROBABILITY or just
    * an ordering": brier = reliability − resolution + uncertainty, where
    * reliability (miscalibration mass; want ~0) weighs each bin's
    * (mean score − base rate)², resolution rewards bins whose base
    * rates separate from the global rate, and uncertainty is the
    * no-skill floor ȳ(1−ȳ). The x81 calibration table shows the curve;
    * this is its scalar summary. The Murphy identity
    * brier = rel − res + unc is exact when scores are constant within a
    * bin (the spec gates that case); continuous scores add the
    * within-bin variance/covariance residual, so brier is also reported
    * directly — the gap IS the binning residual, itself a diagnostic.
    *
    * Binning is INTEGER (bin = least(floor(p·bins), bins−1)); all
    * aggregates are one partial-agged groupBy over ≤`bins` cells plus
    * the j4-style 1-row crossJoins; doubles round to 6 at the end.
    * Scores must lie in [0,1]. Output: one row (n, brier, reliability,
    * resolution, uncertainty). */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, "brierDecomposition needs bins >= 1")
    val v = df.select(col(scoreCol).cast(DoubleType).as("p"),
        col(labelCol).cast(DoubleType).as("y"))
      .filter(col("p").isNotNull && col("y").isNotNull)
      .withColumn("bin", least(floor(col("p") * bins), lit((bins - 1).toLong)))
    val perBin = v.groupBy(col("bin"))
      .agg(count(lit(1)).as("nb"), sum(col("p")).as("sp"),
        sum(col("y")).as("sy"),
        sum((col("p") - col("y")) * (col("p") - col("y"))).as("sq"))
    val tot = perBin.agg(sum(col("nb")).as("n"), sum(col("sy")).as("sy_all"),
      sum(col("sq")).as("sq_all"))
    perBin.crossJoin(tot)
      .select(col("nb"), col("sp"), col("sy"), col("n"), col("sy_all"),
        col("sq_all"))
      .agg(
        first(col("n")).as("n"),
        round(first(col("sq_all")) / first(col("n")), 6).as("brier"),
        round(sum(col("nb") *
          (col("sp") / col("nb") - col("sy") / col("nb")) *
          (col("sp") / col("nb") - col("sy") / col("nb"))) / first(col("n")), 6)
          .as("reliability"),
        round(sum(col("nb") *
          (col("sy") / col("nb") - col("sy_all") / col("n")) *
          (col("sy") / col("nb") - col("sy_all") / col("n"))) / first(col("n")), 6)
          .as("resolution"),
        round((first(col("sy_all")) / first(col("n"))) *
          (lit(1.0) - first(col("sy_all")) / first(col("n"))), 6)
          .as("uncertainty"))
  }

  /** Mean reciprocal rank of the TRUE top-1 inside an approximate list —
    * [[recallAtK]]'s first-position sibling: recall@k says the right
    * answers are SOMEWHERE in the list; MRR says how close the single
    * best answer sits to the top, the metric that matters when only one
    * result is consumed (RAG context slot 1, dedup canonical pick).
    * Per query: 1/rank of the exact rank-1 item in the approx list, 0
    * if absent — an exact rational; the mean over queries divides once
    * and rounds to 6 (#queries-bounded sum, the x45 precedent). Both
    * inputs candidate-sized. Output: (n_queries, n_found, mrr). */
  def mrr(approx: DataFrame, exact: DataFrame, queryCol: String,
      idCol: String, rankCol: String): DataFrame = {
    val truth = exact.filter(col(rankCol) === 1)
      .select(col(queryCol), col(idCol))
    val hits = truth.join(
        approx.select(col(queryCol), col(idCol), col(rankCol).as("__ar")),
        Seq(queryCol, idCol), "left")
      .select(col(queryCol),
        coalesce(lit(1.0) / col("__ar").cast(DoubleType), lit(0.0)).as("rr"))
    hits.agg(count(lit(1)).as("n_queries"),
        sum(when(col("rr") > 0.0, 1L).otherwise(0L)).as("n_found"),
        round(sum(col("rr")) / count(lit(1)), 6).as("mrr"))
  }

  /** Recall@k of an approximate neighbor list against the exact one —
    * the acceptance test for every ANN trade-off in the repo (IVF probe
    * counts, PQ code budgets, LSH banding): "how much of the true top-k
    * does the cheap index return". Both inputs carry (query, neighbor,
    * rank); rows past rank k are ignored, so retriever outputs plug in
    * unchanged.
    *
    * 100 TB shape: both frames are top-k-bounded per query by
    * construction (#queries x k rows), so the semi-join and per-query
    * count are candidate-sized — the corpus was already reduced by the
    * retrievers being compared. Every exact-side query appears in the
    * output (0 hits included, via the left join); recall is one
    * correctly-rounded IEEE division of two exact integers. Output:
    * (query, n_hit long, recall double). */
  def recallAtK(approx: DataFrame, exact: DataFrame, queryCol: String,
      idCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val a = approx.filter(col(rankCol) <= k).select(col(queryCol), col(idCol))
    val e = exact.filter(col(rankCol) <= k).select(col(queryCol), col(idCol))
    val hits = e.join(a, Seq(queryCol, idCol), "left_semi")
      .groupBy(col(queryCol)).agg(count(lit(1)).as("n_hit"))
    e.select(col(queryCol)).distinct()
      .join(hits, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
          lit(k.toDouble)).as("recall"))
  }

  /** Split-conformal coverage audit for a binary scorer: does the
    * distribution-free 1-alpha guarantee actually hold on held-out
    * data? Rows with even id form the calibration split, odd the eval
    * split (hash-free parity keeps the oracle replay trivial and the
    * split leakage-safe per id). Nonconformity of a row is
    * 1 - p_true(label); the conformal quantile q is the
    * ceil((n+1)(1-alpha))-th smallest calibration nonconformity
    * (clamped to n), and an eval row's prediction SET contains a label
    * y iff 1 - p_y <= q. Reported: empirical coverage (true label in
    * set) and mean set size — the efficiency/validity trade-off on one
    * line. Coverage far below 1-alpha means the score is miscalibrated
    * in a way [[calibrationCurve]]'s binning can hide.
    *
    * 100 TB shape: the conformal quantile is an exact distributed order
    * statistic, never a sort of ~(1-alpha)·n rows into one task. The
    * k-th smallest is taken through whichever TAIL is shorter (k-th
    * smallest = (n-k+1)-th largest, and for the typical alpha the upper
    * tail is only ~alpha·n); when even that tail is too large to
    * TakeOrdered, a rank-guaranteed approxQuantile BRACKET narrows the
    * frame to ~4e-4·n rows first (exact count below the bracket, exact
    * selection within it — two bounded extra passes, still the exact
    * statistic). k stays Long throughout. The eval pass is one
    * broadcast of the 1-row q frame and one partial agg. Output 1 row:
    * (n_cal, q, n_eval, coverage, avg_set_size).
    */
  /** Exact k-th smallest (1-based, 1 <= k <= n) of column `c` over an
    * `n`-row frame, as a driver Double, in a bounded number of
    * distributed passes. The element is reached through whichever tail
    * is shorter (k-th smallest = (n-k+1)-th largest); a tail within
    * `direct` rows is a plain TakeOrdered + agg. When BOTH tails exceed
    * it, a rank-guaranteed approxQuantile bracket [lo, hi] around rank
    * k narrows the frame to ~4·eps·n rows: count strictly-below-lo
    * exactly, resolve lo-tie mass exactly, then TakeOrdered only the
    * in-bracket remainder — still the exact order statistic, never an
    * approximation. */
  private def kthSmallest(frame: DataFrame, c: String, k: Long,
      n: Long): Double = {
    val m = n - k + 1 // the same element, counted from the top
    val direct = 10L * 1000 * 1000
    def takeAsc(fr: DataFrame, kk: Long): Double =
      fr.orderBy(col(c).asc).limit(kk.toInt).agg(max(col(c)))
        .head().getDouble(0)
    if (math.min(k, m) <= direct) {
      if (k <= m) takeAsc(frame, k)
      else frame.orderBy(col(c).desc).limit(m.toInt).agg(min(col(c)))
        .head().getDouble(0)
    } else {
      val eps = 1e-4
      val f = k.toDouble / n
      val Array(lo, hi) = frame.stat.approxQuantile(c,
        Array(math.max(0.0, f - 2 * eps), math.min(1.0, f + 2 * eps)), eps)
      if (lo == hi) lo // point mass across the whole bracket
      else {
        val below = frame.filter(col(c) < lo).count()
        val j = k - below // rank within the bracket
        require(j >= 1, s"approxQuantile bracket missed rank $k " +
          s"(below=$below) — eps guarantee violated")
        val bracket = frame.filter(col(c) >= lo && col(c) <= hi)
        val loTies = bracket.filter(col(c) === lo).count()
        if (j <= loTies) lo
        else {
          val rest = j - loTies
          require(rest <= Int.MaxValue, "order-statistic bracket holds " +
            s"> Int.MaxValue rows past the lo ties (rest=$rest); " +
            "tighten approxQuantile eps")
          takeAsc(bracket.filter(col(c) > lo), rest)
        }
      }
    }
  }

  def conformalCoverage(df: DataFrame, idCol: String, scoreCol: String,
      labelCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    val base = df.select(pmod(col(idCol), lit(2L)).as("__par"),
      col(scoreCol).cast(DoubleType).as("__p"), col(labelCol).as("__y"))
    val cal = base.filter(col("__par") === 0)
      .select(when(col("__y"), lit(1.0) - col("__p"))
        .otherwise(col("__p")).as("__s"))
    val n = cal.count()
    require(n > 0, "empty calibration split")
    val k = math.min(n, math.ceil((n + 1) * (1.0 - alpha)).toLong)
    val qv = kthSmallest(cal, "__s", k, n)
    val q = cal.sparkSession.range(1).select(lit(qv).as("__q"),
      lit(n).as("n_cal"))
    base.filter(col("__par") === 1)
      .crossJoin(broadcast(q))
      .select(col("n_cal"), col("__q"),
        when(col("__y"), lit(1.0) - col("__p")).otherwise(col("__p"))
          .as("__strue"),
        ((lit(1.0) - col("__p") <= col("__q")).cast("int") +
          (col("__p") <= col("__q")).cast("int")).as("__setsz"))
      .groupBy(col("n_cal"), col("__q"))
      .agg(count(lit(1)).as("n_eval"),
        (sum((col("__strue") <= col("__q")).cast("long"))
          .cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("__cov"),
        (sum(col("__setsz").cast("long")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("__avg"))
      .select(col("n_cal"), round(col("__q"), 6).as("q"),
        col("n_eval"), round(col("__cov"), 6).as("coverage"),
        round(col("__avg"), 6).as("avg_set_size"))
  }

  /** Poisson(1) CDF thresholds for the seeded bootstrap — FIXED literals
    * shared verbatim with the SQL oracle, so the inverse-CDF draw is
    * identical on any engine (u < c_k comparisons of one exact-integer-
    * derived double against pinned constants). k > 9 has probability
    * < 1.2e-7 and caps at 10. */
  val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
    0.9999998885745216)

  /** Poisson bootstrap confidence interval for the mean of an integer
    * metric (Efron 1979; the Poisson(1) approximation to multinomial
    * resampling — the standard form AT SCALE because each row draws its
    * replicate weights independently, no global resample pass): B
    * replicate means Σw_b·x / Σw_b with w_b ~ Poisson(1) per (row, b),
    * CI from fixed order statistics of the sorted replicate means.
    *
    * DETERMINISTIC: w_b inverts the pinned [[PoissonCdf]] at
    * u = md5_60bit(seed|b|key)/2^60 — reproducible refresh-over-refresh
    * and exactly oracle-replayable (the x189 seeded-mechanism
    * discipline). Sums are exact integers; each replicate mean is one
    * double division; the CI bounds are ORDER STATISTICS of the B-array
    * (b=32: the 2nd and 31st sorted means ≈ a 94% interval), never an
    * interpolation.
    *
    * 100 TB shape: ONE aggregate pass with 2B integer agg expressions —
    * no explode, no row replication, no shuffle beyond the single
    * partial-agged reduce; everything after is a B-length array on one
    * row. Output: one row (n, mean, ci_lo, ci_hi, n_replicates). */
  def bootstrapCiMean(df: DataFrame, keyCol: String, valueCol: String,
      b: Int = 32, seed: Int = 7): DataFrame = {
    require(b >= 4, "need at least 4 replicates for order-stat bounds")
    val x = col(valueCol).cast("long")
    def weight(rep: Int): Column = {
      val u = graft.functions.TextFunctions.md5Long(
        concat_ws("|", lit(seed.toString), lit(rep.toString),
          col(keyCol).cast("string"))).cast("double") /
        lit(1152921504606846976.0) // 2^60
      PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.size.toLong)) {
        case ((c, k), els) => when(u < c, k.toLong).otherwise(els)
      }
    }
    val aggs =
      Seq(count(lit(1)).as("n"), sum(x).as("sx")) ++
        (0 until b).flatMap { r =>
          val w = weight(r)
          Seq(sum(w * x).as(s"wx$r"), sum(w).as(s"w$r"))
        }
    val means = array((0 until b).map(r =>
      col(s"wx$r").cast("double") / col(s"w$r").cast("double")): _*)
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n"),
        round(col("sx").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        round(element_at(array_sort(means), 2), 6).as("ci_lo"),
        round(element_at(array_sort(means), b - 1), 6).as("ci_hi"),
        lit(b.toLong).as("n_replicates"))
  }

  /** Adjusted Rand Index (Hubert & Arabie 1985) between a clustering
    * assignment and reference labels — the chance-corrected agreement
    * number that decides whether a clustering-based curation step
    * (semantic sharding, cluster-balanced sampling, SemDeDup buckets)
    * actually recovers the known structure: 1 = identical partitions,
    * ~0 = no better than random, negative = worse than chance.
    *
    * Every pair-counting term is EXACT integer arithmetic — C(n,2) sums
    * over the contingency cells, row and column marginals — so the only
    * doubles are one fixed final expression over exact longs (identical
    * cross-engine), rounded once.
    *
    * 100 TB shape: one partial-agged groupBy to the contingency frame
    * (|clusters| x |labels| cells — tiny at any corpus size), then all
    * marginal/total sums are aggregates of THAT frame; the three 1-row
    * results combine via broadcast. The corpus is scanned exactly once.
    * Output: one row (n, n_clusters, n_labels, sum_comb_cells,
    * sum_comb_rows, sum_comb_cols, ari). */
  def adjustedRandIndex(df: DataFrame, clusterCol: String,
      labelCol: String): DataFrame = {
    // n*(n-1) is always even; >>1 keeps the whole term in exact longs
    // (Column./ would promote to double)
    def comb2(c: Column): Column = shiftright(c * (c - lit(1L)), 1)
    val cells = df.groupBy(col(clusterCol).as("c"), col(labelCol).as("l"))
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy(col("c")).agg(sum(col("n")).as("a"))
      .agg(count(lit(1)).as("n_clusters"), sum(comb2(col("a"))).as("sa"))
    val cols = cells.groupBy(col("l")).agg(sum(col("n")).as("b"))
      .agg(count(lit(1)).as("n_labels"), sum(comb2(col("b"))).as("sb"))
    val tot = cells.agg(sum(comb2(col("n"))).as("sc"), sum(col("n")).as("n"))
    val cn = comb2(col("n")).cast(DoubleType)
    val expected = col("sa").cast(DoubleType) * col("sb").cast(DoubleType) / cn
    val maxIdx = (col("sa") + col("sb")).cast(DoubleType) / lit(2.0)
    tot.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("sc").as("sum_comb_cells"), col("sa").as("sum_comb_rows"),
        col("sb").as("sum_comb_cols"),
        // identical-trivial-partition edge (expected == max): ARI is 1
        // by convention; the oracle repeats the CASE
        round(when(maxIdx - expected === 0.0, lit(1.0))
          .otherwise((col("sc").cast(DoubleType) - expected) /
            (maxIdx - expected)), 6).as("ari"))
  }

  /** Isotonic calibration over score bins via the min-max formula
    * (Ayer et al. 1955; Barlow & Brunk 1972): the monotone fit at bin i
    * is max over j<=i of min over k>=i of the pooled rate of bins j..k —
    * the closed form of pool-adjacent-violators, chosen over PAVA's
    * sequential sweep because it is a bounded relational join (B^2
    * segments, B^3 triples for B bins) instead of an inherently ordered
    * loop. The upgrade path from [[calibrationCurve]]'s raw reliability
    * diagram to a usable monotone score->probability mapping.
    *
    * Cross-engine exactness: pooled rates divide exact integer
    * cumulative sums, min/max over identical doubles are exact; only the
    * two output rate columns round.
    *
    * 100 TB shape: one partial-agged groupBy(bin) reduces the corpus to
    * <= `bins` rows; every join after that is on the bounded bin frame
    * (B=16 -> 4096 triples). The non-equi joins are broadcast by
    * construction and never see data-sized input.
    */
  def isotonicCalibration(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 16): DataFrame = {
    require(bins >= 1 && bins <= 64, s"bins must be in [1,64]: $bins")
    val binned = df.select(
        least(floor(col(scoreCol) * bins), lit(bins - 1L)).cast("long")
          .as("bin"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    // bounded (<= bins rows) cumulative frame
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cp", sum(col("pos")).over(w))
    val jSide = cum.select(col("bin").as("j"),
      (col("cn") - col("n")).as("cnj"), (col("cp") - col("pos")).as("cpj"))
    val kSide = cum.select(col("bin").as("k"),
      col("cn").as("cnk"), col("cp").as("cpk"))
    val segs = jSide.join(broadcast(kSide), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cpk") - col("cpj")).cast(DoubleType) /
          (col("cnk") - col("cnj")).cast(DoubleType)).as("avg"))
    val triples = binned.select(col("bin").as("i"))
      .join(broadcast(segs), col("j") <= col("i") && col("i") <= col("k"))
    val iso = triples
      .groupBy(col("i"), col("j")).agg(min(col("avg")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("iso"))
    binned.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("n"), col("pos"),
        round(col("pos").cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
  }

  /** Kendall tau-b between two numeric columns of a BOUNDED keyed frame
    * (Kendall 1945 tie correction) — the rank-agreement number for
    * ranking-vs-ranking questions ([[spearmanExact]] answers the same
    * question with midranks; tau-b's concordant/discordant pairs are
    * the sort-key-advisor-friendly form: tau = P(agree) − P(disagree)).
    * The caller aggregates first — the pair join is O(k²) on the
    * k-row frame (the [[cramersV]] bounded-frame convention), never on
    * rows. Integer counts all the way: C, D, and the tie terms come
    * from exact sign comparisons; the only doubles are the final
    * sqrt denominators. Output: (n, n_pairs, concordant, discordant,
    * ties_x, ties_y, tau_b) with tau_b NULL when either tie-corrected
    * denominator is 0 (a constant column has no ranking). */
  def kendallTau(df: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val base = df.select(col(idCol).cast(StringType).as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val pairs = base.as("a").join(base.as("b"),
        col("a.id") < col("b.id"))
      .select(
        (col("a.x") - col("b.x")).as("dx"),
        (col("a.y") - col("b.y")).as("dy"))
    val agg = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("dx") =!= 0L && col("dy") =!= 0L &&
        (col("dx") > 0L) === (col("dy") > 0L), 1L).otherwise(0L))
        .as("concordant"),
      sum(when(col("dx") =!= 0L && col("dy") =!= 0L &&
        (col("dx") > 0L) =!= (col("dy") > 0L), 1L).otherwise(0L))
        .as("discordant"),
      sum(when(col("dx") === 0L, 1L).otherwise(0L)).as("ties_x"),
      sum(when(col("dy") === 0L, 1L).otherwise(0L)).as("ties_y"))
    val n1 = base.agg(count(lit(1)).as("n"))
    val denX = d(col("n_pairs") - col("ties_x"))
    val denY = d(col("n_pairs") - col("ties_y"))
    broadcast(n1).crossJoin(agg) // 1-row x 1-row
      .select(col("n"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_x"), col("ties_y"),
        round(when(col("n_pairs") === col("ties_x") ||
            col("n_pairs") === col("ties_y"),
            lit(null).cast(DoubleType))
          .otherwise(d(col("concordant") - col("discordant")) /
            (sqrt(denX) * sqrt(denY))), 6).as("tau_b"))
  }

  /** UCB1 arm-allocation audit (Auer, Cesa-Bianchi & Fischer 2002):
    * per-arm pull counts and mean reward from the logged feed, the
    * exploration bonus sqrt(2·ln N / n), and the resulting priority
    * rank — which arm a UCB policy would pull NEXT, and how far the
    * greedy and UCB orderings disagree. Rewards land on the exact 1e-6
    * integer microgrid per event (round(value·1e6) summed as longs —
    * the x181 fold), so both engines see identical sums; ln(N) is the
    * single outer transcendental. Output per arm: (arm, n, mean_reward,
    * ucb, rank_mean, rank_ucb), ranks on the K-row frame with the arm
    * name as tie-break. */
  def ucbAllocation(df: DataFrame, armCol: String,
      rewardCol: String): DataFrame =
    ucbOnCounts(df.select(col(armCol).cast(StringType).as("arm"),
        round(col(rewardCol).cast(DoubleType) * lit(1e6))
          .cast("long").as("rm"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("rm")).as("s")))

  /** The scoring/ranking fold shared by [[ucbAllocation]] and the x248
    * streaming twin's dashboard replay
    * ([[graft.streaming.EventStreams.ucbStream]]): input is the K-row
    * per-arm frame (arm, n pulls, s = exact 1e-6-microgrid reward sum).
    * One fold, two consumers — parity by construction (the
    * wilsonOnCounts convention). */
  private[graft] def ucbOnCounts(counts: DataFrame): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val perArm = counts
      .withColumn("n_total",
        sum(col("n")).over(Window.partitionBy(lit(1))))
    val mean = d(col("s")) / d(col("n")) / lit(1e6)
    val ucb = mean + sqrt(lit(2.0) * log(d(col("n_total"))) / d(col("n")))
    val scored = perArm.select(col("arm"), col("n"),
      round(mean, 6).as("mean_reward"), round(ucb, 6).as("ucb"),
      mean.as("__m"), ucb.as("__u"))
    scored
      .withColumn("rank_mean", row_number().over(
        Window.orderBy(col("__m").desc, col("arm").asc)))
      .withColumn("rank_ucb", row_number().over(
        Window.orderBy(col("__u").desc, col("arm").asc)))
      .select(col("arm"), col("n"), col("mean_reward"), col("ucb"),
        col("rank_mean").cast("long").as("rank_mean"),
        col("rank_ucb").cast("long").as("rank_ucb"))
      .orderBy(col("arm"))
  }
}

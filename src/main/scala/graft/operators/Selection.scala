package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.TextFunctions

/** Data-selection operators for pretraining pipelines: DSIR-style hashed
  * n-gram importance weights (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling") and a hashed bag-of-words
  * linear classifier (the fastText-style quality-filter shape used by
  * GPT-3/LLaMA-era web curation: score every page by a tiny linear model
  * over hashed token features).
  *
  * Both share one scale skeleton:
  *  - features are TOKEN HASH BUCKETS (md5 mod B) — the model state is a
  *    fixed B-sized table regardless of corpus vocabulary, so "training"
  *    is one partial-agged groupBy(bucket) whose output is B rows, and
  *    the learned table broadcasts back for scoring. No vocabulary-sized
  *    shuffle anywhere, no driver state beyond O(B).
  *  - scoring is one more corpus pass joining the exploded token stream
  *    against the broadcast table and reducing per document.
  *
  * All hashing goes through md5 ([[TextFunctions.md5Long]]) so any engine
  * can replay it; double accumulations follow the gate convention (final
  * scores rounded to 6, learned per-bucket values rounded to 6 BEFORE
  * scoring so both engines score with bit-identical parameters).
  */
object Selection {

  /** Token stream (id, w) with its hash bucket. One explode; the only
    * exchange is [[Scale.fanOut]]'s parallelism insurance on a
    * sub-parallel scan (identity at cluster scale) — the per-token md5
    * is compute-dense map work. */
  private def tokenBuckets(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    Scale.fanOut(docs).select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .withColumn("b", pmod(TextFunctions.md5Long(col("w")), lit(buckets.toLong)))

  /** DSIR importance log-weight per document: how much more likely the
    * document's hashed-unigram bag is under the TARGET distribution
    * (rows matching `target`) than under the RAW corpus distribution.
    * log w(d) = sum over token occurrences of
    *   ln p_target(bucket) - ln p_raw(bucket)
    * with add-one smoothing over B buckets. Documents from the target
    * slice score high; selecting top-weight raw documents tilts the
    * corpus toward the target domain (the DSIR recipe).
    *
    * 100 TB shape: ONE corpus scan counts both distributions (a
    * conditional aggregate per bucket — the target side is a filtered sum
    * in the same groupBy), yielding a B-row table whose log-ratios
    * broadcast back into the ONE scoring scan. The totals reduce the
    * B-row frame, not the corpus. Returns (idCol, n_tok, dsir_logw)
    * with dsir_logw rounded to 6.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      target: Column, buckets: Int = 64): DataFrame = {
    val toks = tokenBuckets(docs, idCol, textCol, buckets)
    // counting pass carries the target flag alongside each occurrence
    val flagged = Scale.fanOut(docs).withColumn("__tgt", target)
      .select(col(idCol).as("id"), col("__tgt"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .withColumn("b", pmod(TextFunctions.md5Long(col("w")), lit(buckets.toLong)))
    val counts = flagged.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))
    val totals = counts.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct") + 1.0) / (col("tt") + buckets.toDouble))
          - log((col("cr") + 1.0) / (col("tr") + buckets.toDouble))).as("lr"))
    toks.join(broadcast(ratios), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lr")).as("s"))
      .select(col("id").as(idCol), col("n_tok"),
        round(col("s"), 6).as("dsir_logw"))
  }

  /** Hashed bag-of-words logistic classifier: ONE full-batch gradient
    * step from zero weights against `label` (1.0/0.0), then score every
    * document with the learned weights. From w = 0 every prediction is
    * sigma(0) = 0.5, so the exact batch gradient is
    *   g_b    = (1/N) sum_docs (0.5 - y_d) * x_{d,b}
    *   g_bias = (1/N) sum_docs (0.5 - y_d)
    * with x_{d,b} = tf of bucket b in doc d / doc token count (length-
    * normalized, so features are bounded regardless of document size).
    * Weights w = -lr * g are rounded to 6 decimals before scoring (both
    * engines then score with identical parameters); the returned
    * probability p = sigma(w0 + sum_b w_b x_{d,b}) is rounded to 6.
    *
    * This is the distributed-training story in miniature: the gradient is
    * a partial-agged groupBy(bucket) over the per-(doc,bucket) tf frame —
    * map-side combine everywhere, B-row result, broadcast back. More
    * steps = iterate the same two frames (each later step needs the
    * current per-doc margin, still one corpus pass per step).
    *
    * Corpus passes are held to TWO: the nDocs and bias scalars fold out
    * of ONE bounded aggregate over `base` (round 9 ran two separate
    * actions), and the tf frame is persisted LAZILY so the consumer's
    * own job fills the cache once at the gradient branch and the scoring
    * branch reads it — the unpersisted shape re-tokenized the corpus
    * twice inside that final DAG. The fill is deliberately NOT forced at
    * construction: an eager fill action was measured SLOWER end-to-end
    * at bench scale (the blocking cache write costs more than it saves
    * on short documents), while lazy fill overlaps the consumer's job
    * and still guarantees one tokenize at 100 TB. Released when the owner
    * scope exits (Persists convention).
    * Returns (idCol, label, p) ordered as given.
    */
  def bowLogisticScore(docs: DataFrame, idCol: String, textCol: String,
      label: Column, buckets: Int = 64, learningRate: Double = 4.0): DataFrame = {
    // NOT fanned out (round-10 interleaved A/B: x50 3.2 vs 2.4 s, x214
    // 8.3 vs 4.9 s AGAINST the fan-out): the tf frame is persisted and
    // every consumer reads the cache, so the one-shot tokenize never
    // dominates — the added exchange only taxes the cache fill
    val base = docs.select(col(idCol).as("id"),
        label.cast(DoubleType).as("y"),
        TextFunctions.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
    // per-(doc, bucket) length-normalized term frequency — the feature frame
    val tf = base
      .select(col("id"), col("y"), size(col("ts")).cast(DoubleType).as("n"),
        explode(col("ts")).as("w"))
      .withColumn("b", pmod(TextFunctions.md5Long(col("w")), lit(buckets.toLong)))
      .groupBy(col("id"), col("y"), col("n"), col("b"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"))
      .withColumn("x", col("tf") / col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.plans.Persists.onScopeEnd(() => tf.unpersist(blocking = false))
    // ONE bounded action folds both scalars (every term of g is exactly
    // +-0.5, so the sum is exact); the tf cache stays lazy
    val hd = base
      .agg(count(lit(1)).as("nd"), sum(lit(0.5) - col("y")).as("g")).head()
    val nDocs = hd.getLong(0).toDouble
    val bias = BigDecimal(-learningRate * hd.getDouble(1) / nDocs)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // batch gradient at w=0: B-row aggregate + one scalar; rounded weights
    val wtab = tf.groupBy(col("b"))
      .agg(sum((lit(0.5) - col("y")) * col("x")).as("g"))
      .select(col("b"), round(lit(-learningRate) * col("g") / nDocs, 6).as("wb"))
    tf.join(broadcast(wtab), Seq("b"))
      .groupBy(col("id"), col("y"))
      .agg(sum(col("wb") * col("x")).as("z"))
      .select(col("id").as(idCol), col("y").as("label"),
        round(lit(1.0) / (lit(1.0) + exp(-(col("z") + bias))), 6).as("p"))
  }

  /** Temperature-scaled source mixing weights (the multilingual/multi-
    * source sampling rule: w_s proportional to n_s^(1/T), T > 1 upweights
    * small sources). Output is one row per source with its document count
    * and normalized sampling weight (rounded to 6) — the table a sampler
    * ([[CorpusOps.mixToWeights]] / weighted interleave) consumes. One
    * partial-agged groupBy(source); the normalization reduces the
    * #sources-row frame only. */
  def temperatureMixWeights(docs: DataFrame, sourceCol: String,
      temperature: Double): DataFrame = {
    require(temperature > 0.0, "temperature must be positive")
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_docs"))
    val scaled = counts.withColumn("sw",
      pow(col("n_docs").cast(DoubleType), lit(1.0 / temperature)))
    val tot = scaled.agg(sum(col("sw")).as("tot"))
    scaled.crossJoin(broadcast(tot))
      .select(col(sourceCol), col("n_docs"),
        round(col("sw") / col("tot"), 6).as("weight"))
  }

  /** Deterministic weighted sampling WITHOUT replacement, k per group
    * (Efraimidis & Spirakis 2006, exponential-race form): each row draws
    * a reproducible uniform u from md5(id) and gets race key
    * `e = -ln(u) / w` — the k smallest e per group are exactly an
    * E-S weighted sample without replacement (selection probability
    * proportional to w at every step). The workhorse for weighted
    * source mixing when [[temperatureMixWeights]] supplies target
    * proportions and the corpus must be SUBSAMPLED to them, with
    * lineage-stable membership across reruns (no RNG state).
    *
    * 100 TB shape: one narrow scan computes (group, id, e); per-group
    * top-k is a keyed window. If a single group is corpus-sized (e.g.
    * sampling k from ONE source), pass `presaltBuckets` > 1: a pre-pass
    * window over (group, md5(id) mod buckets) keeps each subgroup's
    * k smallest race keys — a superset of the global winners, so the
    * final window sees at most buckets*k rows per group instead of the
    * whole group in one task. Result-identical (the quota sampler's
    * two-stage top-k, CorpusOpsSpec-proven, applied to the race key).
    * Exactness: u = (md5_60bit(id) mod 1e6 + 1) / 1000001 — a ratio of
    * exact integers, bit-identical on any IEEE engine; the single `ln`
    * is rounded to 6 with id tie-break, per the engine's transcendental
    * convention. Output: (group, id, w, e double, rank long).
    */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weight: Column, k: Int, presaltBuckets: Int = 1): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(presaltBuckets >= 1, "presaltBuckets must be >= 1")
    val u = (pmod(TextFunctions.md5Long(col(idCol)), lit(1000000L)) + 1)
      .cast(DoubleType) / lit(1000001.0)
    val e = round(-log(u) / weight.cast(DoubleType), 6)
    val scored = df.select(col(groupCol), col(idCol),
      weight.cast(DoubleType).as("w"), e.as("e"))
    val pre =
      if (presaltBuckets == 1) scored
      else {
        val salted = org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol),
            pmod(TextFunctions.md5Long(col(idCol)), lit(presaltBuckets.toLong)))
          .orderBy(col("e").asc, col(idCol).asc)
        scored.withColumn("__graft_presalt_rn__", row_number().over(salted))
          .filter(col("__graft_presalt_rn__") <= k)
          .drop("__graft_presalt_rn__")
      }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("e").asc, col(idCol).asc)
    pre.withColumn("rank",
        row_number().over(win).cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= k)
  }

  /** Deterministic negative sampling for contrastive training pairs: for
    * every anchor id, k pseudo-random partner ids drawn by md5 hashing
    * (anchor, draw index) into the id space — reproducible across runs
    * and engines, no RNG state, no shuffle beyond one narrow projection.
    *
    * CONTRACT: ids must be dense [0, n) (the testdata shape; pre-index
    * with RowNum.assign otherwise) — the draw is `md5(anchor#i) % n`, so
    * a sparse id space would sample nonexistent partners. Draws that hit
    * the anchor itself are dropped (self-pairs are useless negatives), so
    * an anchor yields BETWEEN k-collisions and k rows; callers needing an
    * exact k should over-draw. No join is needed to materialize the pair
    * list; joining payloads back on `negative` is a standard keyed join.
    *
    * 100 TB shape: explode(k) then a pure projection — the output is
    * k*n rows but each partition computes its own independently.
    */
  def negativePairs(ids: DataFrame, idCol: String, k: Int, n: Long): DataFrame = {
    require(k >= 1 && n >= 2, "need k >= 1 and n >= 2")
    val draw = TextFunctions.md5Long(
      concat(col("anchor").cast("string"), lit("#"), col("i").cast("string")))
    ids.select(col(idCol).as("anchor"))
      .withColumn("i", explode(sequence(lit(0L), lit(k - 1L))))
      .withColumn("negative", pmod(draw, lit(n)))
      .filter(col("negative") =!= col("anchor"))
  }

  /** Hard-negative mining for contrastive training — the quality upgrade
    * over [[negativePairs]]' random draws: for each query, the MOST
    * similar corpus item that is still below the near-dup threshold. Too
    * similar (>= threshold) would be a false negative (it's a duplicate
    * in disguise — training on it teaches the model to separate copies);
    * random negatives are too easy (Karpukhin et al. 2020's in-batch vs
    * hard-negative gap). The band just under the dup threshold is where
    * contrastive gradients are informative.
    *
    * This is the exact brute form (query-set x corpus, like
    * Similarity.bruteForceTopK — the oracle baseline); at corpus scale
    * run the same filter+argmax over IVF-probed or ADC candidates
    * (Similarity.ivfTopK / Quantization.adcTopK), which preserve the
    * cosine ordering this selects by. The argmax is a partial-aggregable
    * max(struct(cos, -id)) — x69's pattern, no per-query window, ties to
    * the lowest id. Output: (query_id, hard_neg_id, cos rounded to 6 —
    * rounded AFTER selection so the argmax sees raw doubles). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dupThreshold: Double): DataFrame = {
    val toD: Column => Column = v => transform(v, x => x.cast(DoubleType))
    val q = queries.select(col(idCol).as("query_id"), toD(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("cand_id"), toD(col(vecCol)).as("cv"))
    q.crossJoin(c)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
      .filter(col("cos") < dupThreshold)
      .groupBy(col("query_id"))
      .agg(max(struct(col("cos"), (-col("cand_id")).as("nid"))).as("best"))
      .select(col("query_id"), (-col("best.nid")).as("hard_neg_id"),
        round(col("best.cos"), 6).as("cos"))
  }

  /** The SCALE path for [[hardNegatives]]: the same filter-then-argmax
    * evaluated over IVF-PROBED candidates instead of the full query x
    * corpus cartesian. Corpus vectors are bucketed once by the
    * deterministic sign-pattern centroid family ([[Similarity.ivfAssign]]
    * — broadcast scoring, one corpus scan, never shuffled); each query
    * probes its top-`nprobe` buckets, and the candidate join is
    * bucket-equi (probed queries broadcast — the query set is the small
    * side of hard-negative mining by construction). Candidate volume is
    * ~nprobe/numCentroids of the corpus per query; each corpus row lives
    * in exactly one bucket, so no pair is scored twice and no dedup pass
    * is needed. The per-pair math (codegen'd sequential-order dot, NaN
    * guard, argmax as a partial-aggregable max(struct(cos, -id))) is
    * bit-identical to the brute form's — the x156 gate replays the FULL
    * pruned computation (centroid scores, bucket argmax, top-nprobe
    * probes, filter-and-argmax) in independent SQL, the x63 cross-engine
    * pattern, and PlanHealthSpec asserts no cartesian survives in the
    * plan. Like all IVF serving, recall < 1.0 vs the brute argmax by
    * construction: raise `nprobe` to trade cost for recall (nprobe =
    * numCentroids degenerates to exact, bucket-partitioned brute). */
  /** Greedy k-center (farthest-first) seed selection — the
    * maximally-DIVERSE k-subset heuristic (2-approximation of the
    * k-center objective): start from the lowest id, then repeatedly take
    * the point whose distance to its nearest already-chosen center is
    * LARGEST (ties to the lowest id). The classic pick for labeling/eval
    * seed sets and kmeans++-style initialization when the sample must be
    * spread, not typical — the structural opposite of
    * [[Similarity.sampleDiversity]]'s audit (that measures spread, this
    * constructs it).
    *
    * Inherently sequential in k: each round is ONE corpus scan computing
    * the min-distance-to-chosen (a least() over ≤k broadcast center
    * literals — never a join) reduced by a partial-aggregable
    * max(struct(d, -id, v)) argmax that carries the winner's VECTOR out
    * in the same action — the struct ordering is already total on
    * (d, -id) (ids unique), so the appended vector field never affects
    * the comparison and the former separate point-lookup job per round
    * is folded away (round-10 fixed-mass shave: k bounded actions total,
    * down from 2(k−1)+1). Each action is embarrassingly parallel, which
    * IS the 100 TB shape of greedy k-center (no known one-pass exact
    * form). Distances are sequential-order folds so any engine replays
    * them; emitted d (the selection-time min-distance — the running
    * coverage radius²) rounds to 6.
    * Output: (rk 1..k, id, d), d = 0 for the first center. */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "kCenterGreedy needs k >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val toD: Column => Column = v => transform(v, x => x.cast(DoubleType))
    val v = df.select(col(idCol).cast("long").as("id"), toD(col(vecCol)).as("v"))
    val first = v.orderBy(col("id").asc).limit(1).collect()(0)
    var chosen = Vector[(Long, Seq[Double], Double)](
      (first.getLong(0), first.getSeq[Double](1), 0.0))
    def distTo(center: Seq[Double]): Column = {
      val cArr = array(center.map(lit(_)): _*)
      aggregate(zip_with(col("v"), cArr, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
    }
    for (_ <- 2 to k) {
      val md = chosen.map(c => distTo(c._2)).reduce(least(_, _))
      val chosenIds = chosen.map(_._1)
      val best = v.filter(!col("id").isin(chosenIds: _*))
        .select(col("id"), col("v"), md.as("d"))
        .agg(max(struct(col("d"), (-col("id")).as("nid"), col("v"))).as("b"))
        .select(col("b.d"), (-col("b.nid")).as("id"), col("b.v")).collect()(0)
      chosen = chosen :+ ((best.getLong(1), best.getSeq[Double](2),
        best.getDouble(0)))
    }
    chosen.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1L, id, d) }
      .toDF("rk", "id", "d_raw")
      .select(col("rk"), col("id"), round(col("d_raw"), 6).as("d"))
  }

  def hardNegativesIvf(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dupThreshold: Double,
      numCentroids: Int = 16, nprobe: Int = 4, dims: Int = 64): DataFrame = {
    val toD: Column => Column = v => transform(v, x => x.cast(DoubleType))
    def dot(x: Column, y: Column): Column =
      graft.functions.VectorExpressions.dot(corpus.sparkSession, x, y)
    val c = corpus.select(col(idCol).as("cand_id"), toD(col(vecCol)).as("cv"))
      .withColumn("bucket", Similarity.ivfAssign(col("cv"), numCentroids, dims))
    val q = queries.select(col(idCol).as("query_id"), toD(col(vecCol)).as("qv"))
      .withColumn("bucket", explode(
        Similarity.ivfProbes(col("qv"), numCentroids, nprobe, dims)))
      .select(col("query_id"), col("qv"), col("bucket"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", coalesce(try_divide(dot(col("qv"), col("cv")),
        sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("cv"), col("cv")))),
        lit(Double.NaN)))
      .filter(col("cos") < dupThreshold)
      .groupBy(col("query_id"))
      .agg(max(struct(col("cos"), (-col("cand_id")).as("nid"))).as("best"))
      .select(col("query_id"), (-col("best.nid")).as("hard_neg_id"),
        round(col("best.cos"), 6).as("cos"))
  }

  /** Token-budget selection (the "best N billion tokens" curation cut):
    * rank documents by a quality key descending and keep the prefix whose
    * cumulative token count fits `budgetTokens` — a document is selected
    * iff its running total (in (quality DESC, id ASC) order) is within
    * budget, i.e. the SlimPajama-style top-slice under a global token
    * budget.
    *
    * The naive plan is a cumulative-sum window over the GLOBAL order —
    * one partition holding the whole corpus. This implementation gets the
    * identical answer with bounded state via a two-phase prefix sum:
    *  1. aggregate token totals PER DISTINCT QUALITY VALUE (partial-agged
    *     groupBy; the quality codomain — here an integer score — is
    *     orders of magnitude smaller than the corpus);
    *  2. one cumulative window over that value-sized frame (rows =
    *     |codomain|, broadcastable) finds each value's base offset and
    *     the single BOUNDARY value where the budget crosses;
    *  3. docs in values strictly inside the budget are selected with a
    *     broadcast semi-join — NO per-doc window at all; only the
    *     boundary value's docs (one value group, bounded by that value's
    *     frequency) pay an exact intra-group running sum, partitioned
    *     by the value (never a global window).
    * Exactly the distributed prefix-sum decomposition: global cumsum =
    * per-group base + intra-group cumsum.
    *
    * Output: (id, quality, n_tok) for selected documents only — identical
    * row set to the single-window plan. Ties break by id ascending. */
  def tokenBudgetSelect(df: DataFrame, idCol: String, qualityCol: String,
      tokenCol: String, budgetTokens: Long): DataFrame = {
    val d = df.select(col(idCol).as("id"), col(qualityCol).as("quality"),
      col(tokenCol).cast(LongType).as("n_tok"))
    // value-sized frame: one row per distinct quality value
    val byVal = d.groupBy(col("quality"))
      .agg(sum(col("n_tok")).as("tot"))
      .withColumn("cum", sum(col("tot")).over(
        Window.orderBy(col("quality").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("base", col("cum") - col("tot"))
    val fullIn = byVal.filter(col("cum") <= budgetTokens).select("quality")
    val boundary = byVal
      .filter(col("base") < budgetTokens && col("cum") > budgetTokens)
      .select(col("quality"), col("base"))
    val selectedFull = d.join(broadcast(fullIn), Seq("quality"), "leftsemi")
    val selectedBoundary = d
      .join(broadcast(boundary), Seq("quality"))
      .withColumn("run", col("base") + sum(col("n_tok")).over(
        Window.partitionBy(col("quality"))
          .orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("run") <= budgetTokens)
      .select(col("id"), col("quality"), col("n_tok"))
    selectedFull.select(col("id"), col("quality"), col("n_tok"))
      .unionByName(selectedBoundary)
  }

  /** Token-budget SWEEP advisor — [[tokenBudgetSelect]]'s planning view:
    * for each budget FRACTION of the corpus's total tokens, the quality
    * CUTOFF a threshold rule should use and the volume it buys (docs,
    * tokens, budget fill). Thresholds are value-granular by nature — a
    * curator ships "keep quality >= c", not a per-document running sum —
    * so the sweep reports whole-value selections: the deepest quality
    * value (descending) whose cumulative token mass still fits each
    * budget. Budgets are exact integer fractions num/den of the total
    * (scale-free: the same query is meaningful at any corpus size).
    *
    * 100 TB shape: ONE partial-agged groupBy(quality) reduces the corpus
    * to its value-sized frame; the cumulative window, the fraction
    * spine, and every per-budget reduce run on that bounded frame
    * (budgets x values, both bounded). No per-budget corpus pass — the
    * x211/x218 one-pass-advisor discipline applied to the curation cut.
    * Output per fraction: (frac_num, frac_den, budget_tokens,
    * cutoff_quality (null when even the best value overflows), n_docs,
    * n_tokens, fill_frac rounded 6), ordered by fraction ascending. */
  def tokenBudgetSweep(df: DataFrame, qualityCol: String,
      tokenCol: String, fractions: Seq[(Int, Int)]): DataFrame = {
    require(fractions.nonEmpty &&
      fractions.forall { case (n, d) => n >= 0 && d >= 1 && n <= d },
      s"fractions must be 0 <= num/den <= 1: $fractions")
    val spark = df.sparkSession
    import spark.implicits._
    val byVal = df.select(col(qualityCol).as("q"),
        col(tokenCol).cast(LongType).as("t"))
      .groupBy(col("q"))
      .agg(count(lit(1)).as("nd"), sum(col("t")).as("nt"))
      .withColumn("cum_nt", sum(col("nt")).over(
        Window.orderBy(col("q").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_nd", sum(col("nd")).over(
        Window.orderBy(col("q").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = byVal.agg(max(col("cum_nt")).as("tot_nt"))
    val spine = fractions.toDF("num", "den")
      .crossJoin(broadcast(tot))
      .select(col("num"), col("den"),
        call_function("div", col("tot_nt") * col("num"), col("den"))
          .as("budget_tokens"))
    val d = (c: Column) => c.cast(DoubleType)
    spine
      .join(broadcast(byVal), col("cum_nt") <= col("budget_tokens"), "left")
      .groupBy(col("num"), col("den"), col("budget_tokens"))
      // cum_nd strictly increases along the descending traversal, so its
      // max IS the deepest fitting value; the struct carries that row out
      .agg(max(struct(col("cum_nd"), col("cum_nt"), col("q"))).as("best"))
      .select(col("num").as("frac_num"), col("den").as("frac_den"),
        col("budget_tokens"),
        col("best.q").as("cutoff_quality"),
        coalesce(col("best.cum_nd"), lit(0L)).as("n_docs"),
        coalesce(col("best.cum_nt"), lit(0L)).as("n_tokens"),
        round(when(col("budget_tokens") === 0L, lit(null).cast(DoubleType))
          .otherwise(d(coalesce(col("best.cum_nt"), lit(0L))) /
            d(col("budget_tokens"))), 6).as("fill_frac"))
      .orderBy(d(col("frac_num")) / d(col("frac_den")), col("frac_den"))
  }

  /** Effective sample size and design effect of an importance-weight
    * column (Kish 1965): ESS = (Σw)²/Σw², deff = n·Σw²/(Σw)². The
    * sanity gate on any [[dsirWeights]]-style tilt BEFORE training on
    * it: deff ~1 means the weights did nothing; ess_frac collapsing
    * toward 0 means the tilted corpus is effectively a handful of
    * documents resampled — the overfitting failure DSIR's authors warn
    * about. ESS is scale-invariant, so exponentiating the LOG weights
    * without normalizing is exact.
    *
    * Engine-portability: w quantizes to round(exp(min(logw, cap))·1e6)
    * — one double→integer-grid rounding per row (logw is already the
    * 6-rounded column, so inputs are bit-identical); the cap (default
    * ln 1000) bounds the grid so Σw² stays inside DECIMAL(38,0) at any
    * corpus size. Both moments are EXACT decimal sums; the three output
    * ratios are double expressions over their exact string->double
    * casts, rounded once.
    *
    * 100 TB shape: one narrow scan into one partial-agged 1-row
    * aggregate. Output: one row (n, ess, ess_frac, deff). */
  def weightDiagnostics(weights: DataFrame, logwCol: String,
      cap: Double = 6.907755278982137): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 0)
    val d = (c: Column) => c.cast(DoubleType)
    val wMicro = round(exp(least(col(logwCol), lit(cap))) * lit(1e6))
      .cast(LongType)
    val g = weights.select(wMicro.as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("w").cast(dec)).as("sw"),
        sum(col("w").cast(dec) * col("w").cast(dec)).as("sw2"))
    val swD = col("sw").cast("string").cast("double")
    val sw2D = col("sw2").cast("string").cast("double")
    g.select(col("n"),
        when(col("sw2") === 0, lit(null).cast(DoubleType))
          .otherwise(round(swD * swD / sw2D, 6)).as("ess"),
        when(col("sw2") === 0, lit(null).cast(DoubleType))
          .otherwise(round(swD * swD / sw2D / d(col("n")), 6))
          .as("ess_frac"),
        when(col("sw2") === 0, lit(null).cast(DoubleType))
          .otherwise(round(d(col("n")) * sw2D / (swD * swD), 6)).as("deff"))
  }

  /** Fractional-knapsack ingest-budget allocation: rank sources by
    * Shapley-coverage utility per byte ([[CorpusOps.shapleyCoverage]]
    * over exact per-source byte costs) and take greedily until the
    * byte budget is spent, with a fractional take on the boundary
    * source — the optimal fractional-relaxation plan (Dantzig 1957),
    * and the licensing-budget twin of [[greedyCoverSources]] (that
    * op caps source COUNT, this caps BYTES). Budget = `budgetNum /
    * budgetDen` of the total corpus bytes (exact integer division),
    * so the plan is scale-free.
    *
    * Output per source, in take order: (source, utility, cost_bytes,
    * ratio, take_frac, cum_bytes) — take_frac 1 fully taken, 0 not
    * taken, fractional on the boundary.
    *
    * 100 TB shape: the Shapley stage's documented shingle shuffle plus
    * one per-source byte agg; the ranking window orders the
    * SOURCE-bounded frame. */
  def budgetKnapsack(docs: DataFrame, sourceCol: String,
      textCol: String, budgetNum: Long = 2L, budgetDen: Long = 5L,
      n: Int = 3): DataFrame = {
    require(budgetNum >= 0 && budgetDen >= 1, "need a valid budget fraction")
    val d = (c: Column) => c.cast(DoubleType)
    val util = CorpusOps.shapleyCoverage(docs, sourceCol, textCol, n)
      .select(col(sourceCol), col("shapley").as("utility"))
    val cost = docs.groupBy(col(sourceCol))
      .agg(sum(coalesce(octet_length(col(textCol)), lit(0L)).cast("long"))
        .as("cost_bytes"))
    val tot = Window.partitionBy(lit(1))
    val order = Window.orderBy(col("ratio").desc, col(sourceCol).asc)
    val before = order.rowsBetween(Window.unboundedPreceding, -1)
    // LEFT join from the cost frame (round 9): a source whose documents
    // are all shorter than the shingle width has no coverage utility,
    // but its bytes are still corpus bytes — it must stay in the plan
    // (utility 0, taken last) and in the budget base, or "budgetNum/
    // budgetDen of the total corpus bytes" silently shrinks
    cost.join(broadcast(util), Seq(sourceCol), "left")
      .withColumn("utility", coalesce(col("utility"), lit(0.0)))
      .withColumn("ratio", d(col("utility")) / d(col("cost_bytes")))
      .withColumn("budget", call_function("div",
        sum(col("cost_bytes")).over(tot) * lit(budgetNum),
        lit(budgetDen)))
      .withColumn("cum_before",
        coalesce(sum(col("cost_bytes")).over(before), lit(0L)))
      .select(col(sourceCol), col("utility"), col("cost_bytes"),
        round(col("ratio"), 6).as("ratio"),
        round(when(col("cum_before") >= col("budget"), lit(0.0))
          .when(col("cum_before") + col("cost_bytes") <= col("budget"),
            lit(1.0))
          .otherwise(d(col("budget") - col("cum_before")) /
            d(col("cost_bytes"))), 6).as("take_frac"),
        (col("cum_before") + col("cost_bytes")).as("cum_bytes"))
      .orderBy(col("ratio").desc, col(sourceCol).asc)
  }

  /** Greedy maximum-coverage source selection: pick `k` sources, each
    * round taking the source whose documents add the most NOT-yet-
    * covered distinct n-gram shingles (ties broken by source name).
    * The classic (1 - 1/e)-approximate submodular-cover schedule
    * (Nemhauser, Wolsey & Fisher 1978) — the "which corpora do I
    * license/ingest first for maximum content diversity" shortlist,
    * and the set-cover twin of [[CorpusOps.shapleyCoverage]] (Shapley
    * values the whole coalition; greedy builds the best small one).
    *
    * Rounds with zero marginal gain stop early (the remaining sources
    * are fully covered), so the output can be shorter than `k`.
    *
    * Output per round: (round, source, gain, cum_covered, pct_covered)
    * with pct on the 6-round grid vs the total distinct-shingle count.
    *
    * 100 TB shape: the (source, shingle) presence frame is built once,
    * persisted, and then maintained INCREMENTALLY — each round anti-joins
    * only the winner's shingle set out of the persisted `remaining` frame
    * and persists the (strictly smaller) survivor, so the k rounds scan
    * O(k) shrinking frames instead of the O(k²) source-rescans a
    * recompute-covered-from-scratch loop pays (the round-8 verdict's
    * measured bottleneck at k≥4). Per round the driver collects exactly
    * ONE (source, gain) argmax row (the [[graft.operators.Bpe]]
    * bounded-collect convention — k rows total, never data-sized);
    * removed-source rows vanish from `remaining` by construction (every
    * shingle the winner had is covered), so no growing `isin(chosen)`
    * filter is ever re-evaluated over the corpus. */
  def greedyCoverSources(docs: DataFrame, sourceCol: String,
      textCol: String, k: Int, n: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs
      .select(col(sourceCol).as("g"),
        explode(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .distinct()
      .persist()
    // Each round's survivor is localCheckpoint'ed EAGERLY (one bounded
    // job over the shrinking frame) rather than persist()'ed: the
    // survivor's logical plan references its predecessor TWICE (once as
    // the anti-join's left side, once through the winner's shingle set),
    // so chained Dataset lineage grows the plan tree EXPONENTIALLY in k
    // — measured as a treeString blow-up inside CacheManager at k=16
    // (the Bpe trainer's checkpointEvery precedent, Bpe.scala:216).
    // Checkpointing snaps each round to a leaf, and eagerness makes it
    // safe to release the predecessor's block immediately.
    def releaseCkpt(d: DataFrame): Unit = d.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => () // round-1 `remaining` is `tok`, released in finally
    }
    var remaining = tok
    try {
      val total = tok.select(col("sh")).distinct().count()
      var picked = Vector.empty[(Long, String, Long, Long, Double)]
      var done = false
      var r = 1
      while (r <= k && !done) {
        val arg = remaining
          .groupBy(col("g")).agg(count(lit(1)).as("gain"))
          .orderBy(desc("gain"), asc("g"))
          .limit(1).collect()
        if (arg.isEmpty || arg(0).getLong(1) == 0L) done = true
        else {
          val src = arg(0).getString(0)
          val gain = arg(0).getLong(1)
          // cum coverage = running sum of gains BY CONSTRUCTION (each
          // gain counts exactly the newly covered shingles) — no extra
          // count job per round
          val cum = picked.lastOption.map(_._4).getOrElse(0L) + gain
          picked = picked :+ ((r.toLong, src, gain, cum,
            BigDecimal(cum.toDouble / total.toDouble)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          if (r < k) { // final round's survivor is never read — skip it
            val winSh = remaining.filter(col("g") === src)
              .select(col("sh"))
            val next = remaining
              .join(winSh.hint("shuffle_hash"), Seq("sh"), "left_anti")
              .localCheckpoint(true)
            releaseCkpt(remaining)
            remaining = next
          }
          r += 1
        }
      }
      picked
        .toDF("round", "source", "gain", "cum_covered", "pct_covered")
        .orderBy(col("round"))
    } finally { tok.unpersist(); releaseCkpt(remaining) }
  }
}

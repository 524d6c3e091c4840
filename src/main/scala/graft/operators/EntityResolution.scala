package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** End-to-end entity resolution: fuzzy-duplicate records are clustered and
  * each cluster reduced to one canonical ("golden") record — the master-
  * data / author-dedup / record-linkage composition of the engine's three
  * proven stages:
  *
  *  1. candidate pairs: [[FuzzyJoin.selfPairsSegments]] — PassJoin
  *     pigeonhole blocking, equi-shuffle candidates, never a cartesian;
  *  2. clusters: [[ConnectedComponents.labels]] — min-label propagation
  *     (pointer-jumped, O(log diameter) rounds; driver union-find fast
  *     path for small graphs);
  *  3. canonical pick: one partial-agged groupBy(entity) — member count
  *     and the min-id record's value via min_by (deterministic, no
  *     per-cluster sort).
  *
  * 100 TB shape: the label frame holds only nodes that appear in some
  * pair — typically a small fraction of the corpus — so the label
  * attachment is an equi join against a reduced frame (broadcast-able
  * when dup density is low); singletons never enter the component stage
  * at all (coalesce to their own id).
  */
object EntityResolution {

  /** Resolve records whose `nameCol` is within edit distance `k` into
    * entities. Output: (entity_id = min record id in the cluster,
    * n_members long, canonical_name = nameCol of the min-id member).
    */
  def resolve(records: DataFrame, idCol: String, nameCol: String,
      k: Int = 1): DataFrame = {
    val pairs = FuzzyJoin.selfPairsSegments(records, idCol, nameCol, k)
    val labels = ConnectedComponents.labels(pairs, s"${idCol}_a", s"${idCol}_b")
    records.select(col(idCol), col(nameCol))
      .join(labels, records(idCol) === labels("id"), "left")
      .select(col(idCol), col(nameCol),
        coalesce(col("component"), col(idCol)).as("entity_id"))
      .groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        min_by(col(nameCol), col(idCol)).as("canonical_name"))
  }

  /** Fellegi-Sunter (1969) record-linkage weights: from a labeled match
    * pair set and a labeled non-match pair set, estimate per comparison
    * field the agreement probabilities m = P(agree | match) and
    * u = P(agree | non-match) (add-half smoothed so neither log is ever
    * taken of 0), and the log2 agreement / disagreement weights a scoring
    * pass would sum per candidate pair. The calibration stage that turns
    * [[FuzzyJoin]] candidates into a principled match score.
    *
    * `fields` maps output field name -> comparison SQL expression over
    * `records` columns (e.g. `"substring(c_phone, 1, 3)"`), evaluated on
    * both sides of each pair; agreement is null-safe equality.
    *
    * 100 TB shape: each pair frame takes two equi joins against the
    * records frame (broadcast-able when records is a dimension; shuffle
    * equi join otherwise) and collapses to ONE row of agreement sums via
    * partial aggregation; the per-field fan-out happens on that 1-row
    * frame. Probabilities divide exact integer counts, so both engines
    * compute identical doubles into the final 6-digit round.
    */
  def fellegiSunterWeights(records: DataFrame, idCol: String,
      matches: DataFrame, nonmatches: DataFrame,
      fields: Seq[(String, String)]): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    def agreeSums(pairs: DataFrame, prefix: String): DataFrame = {
      // the pair frames' id columns are read positionally; a frame
      // carrying extra columns would silently miscompute agreement
      // sums (round-7 advice), so the positional contract is enforced
      require(pairs.columns.length == 2,
        s"$prefix pair frame must have exactly two id columns " +
          s"(left id, right id); got ${pairs.columns.mkString("[", ",", "]")}")
      val pa = pairs.columns(0)
      val pb = pairs.columns(1)
      val a = records.select(col(idCol).as("__ida") +:
        fields.map { case (n, c) => expr(c).as(s"__a_$n") }: _*)
      val b = records.select(col(idCol).as("__idb") +:
        fields.map { case (n, c) => expr(c).as(s"__b_$n") }: _*)
      val joined = pairs.select(col(pa).as("__ida"), col(pb).as("__idb"))
        .join(a, Seq("__ida")).join(b, Seq("__idb"))
      joined.agg(count(lit(1)).as(s"${prefix}_n"),
        fields.map { case (n, _) =>
          sum(when(col(s"__a_$n") <=> col(s"__b_$n"), 1L).otherwise(0L))
            .as(s"${prefix}_s_$n")
        }: _*)
    }
    val m = agreeSums(matches, "m")
    val u = agreeSums(nonmatches, "u")
    // smoothed probability as a ratio of exact integers: (2s+1)/(2(n+1))
    def prob(s: Column, n: Column): Column =
      (s * 2L + 1L).cast(DoubleType) / ((n + 1L) * 2L).cast(DoubleType)
    val rows = fields.map { case (n, _) =>
      struct(lit(n).as("field"),
        prob(col(s"m_s_$n"), col("m_n")).as("mp"),
        prob(col(s"u_s_$n"), col("u_n")).as("up"))
    }
    m.crossJoin(u)
      .select(col("m_n"), col("u_n"), explode(array(rows: _*)).as("f"))
      .select(col("f.field").as("field"),
        col("m_n").as("n_match_pairs"), col("u_n").as("n_nonmatch_pairs"),
        round(col("f.mp"), 6).as("m_prob"), round(col("f.up"), 6).as("u_prob"),
        round(log2(col("f.mp") / col("f.up")), 6).as("w_agree"),
        round(log2((lit(1.0) - col("f.mp")) / (lit(1.0) - col("f.up"))), 6)
          .as("w_disagree"))
  }

  /** Blocking-quality audit — the pre-flight for ANY pairwise linkage/
    * dedup run (Christen 2012's reduction ratio + pairs completeness):
    * given a blocking-key expression and a ground-truth-key expression
    * (here: the exact-dedup fingerprint), report how many candidate
    * pairs blocking generates, what fraction of the all-pairs space it
    * prunes (reduction ratio), and what fraction of TRUE duplicate
    * pairs land in the same block (pairs completeness — recall of the
    * blocking stage alone).
    *
    * COUNT-ONLY algebra: every pair total is Σ C(n_g, 2) over a
    * grouped count frame — candidate pairs from the block-key groups,
    * true pairs from the truth-key groups, captured true pairs from
    * the (truth, block) cell groups — so NO pair frame is ever
    * materialized; this audits a quadratic space with three
    * partial-agged groupBys and three 1-row reduces. Exact long
    * arithmetic (n·(n-1) per group overflows only past ~3e9 rows in
    * ONE group — a degenerate blocking key that failed long before
    * arithmetic did), integer `div` for the halving, one double
    * division per ratio at the edge.
    *
    * Output one row: (n_rows, cand_pairs, true_pairs, captured_pairs,
    * reduction_ratio, pairs_completeness). */
  /** Blocking-key ADVISOR — [[blockingQuality]] generalized to the
    * decision a linkage engineer actually makes: given N candidate
    * blocking expressions, rank them by reduction ratio AND pairs
    * completeness in ONE corpus pass (the x211/x218 grouping-sets
    * consolidation applied to Christen 2012's audit metrics).
    *
    * For each candidate b_i: reduction ratio RR = 1 − Σ_blocks C(n,2) /
    * C(N,2) (how much of the quadratic comparison space blocking
    * prunes), pairs completeness PC = Σ_(b_i,t) C(n,2) / Σ_t C(n,2)
    * (what fraction of TRUE duplicate pairs share a block — the recall
    * of the blocking stage alone), and their harmonic mean `f_quality`
    * (the single number to rank by: a key that prunes everything but
    * captures nothing, or vice versa, scores near 0).
    *
    * 100 TB shape: ONE grouping-sets scan of the corpus computes every
    * candidate's block-count frame, every (candidate, truth) cell
    * frame, and the truth-key frame together — sets (b_i), (b_i, t),
    * (t) — then eagerly localCheckpoints the key-domain-sized result so
    * no per-candidate branch can re-scan the corpus (the sortKeyAdvisor
    * convention; CacheManager matching is not trusted for grouping-sets
    * subtrees). COUNT-ONLY algebra throughout: the quadratic space is
    * audited with partial-agged counts, no pair frame exists, and each
    * candidate's metrics reduce bounded frames. grouping_id() bit-math
    * keeps real NULL key values distinguishable from rolled-up columns.
    * Exact long arithmetic; one double division per ratio at the edge.
    *
    * Output one row per candidate, ordered by the caller:
    * (candidate, n_blocks, cand_pairs, true_pairs, captured_pairs,
    * reduction_ratio, pairs_completeness, f_quality). */
  def blockingKeyAdvisor(df: DataFrame, candidates: Seq[(String, String)],
      truthExpr: String): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate block key")
    val half = (c: Column) => call_function("div", c * (c - 1L), lit(2L))
    val d = (c: Column) => c.cast(DoubleType)
    val names = candidates.map(_._1)
    require(names.distinct.length == names.length,
      s"duplicate candidate names in ${names.mkString(",")}")
    val bCols = candidates.indices.map(i => s"__b_$i")
    val rows = df.select(
      candidates.zipWithIndex.map { case ((_, e), i) =>
        expr(e).as(s"__b_$i") } :+ expr(truthExpr).as("__t"): _*)
    val gcols = bCols :+ "__t"
    val nG = gcols.length
    def gidOf(cs: String*): Long =
      cs.foldLeft((1L << nG) - 1L)((acc, nm) =>
        acc - (1L << (nG - 1 - gcols.indexOf(nm))))
    val sets = bCols.map(c => Seq(col(c))) ++ Seq(Seq(col("__t"))) ++
      bCols.map(c => Seq(col(c), col("__t")))
    // THE one corpus pass, checkpointed to a plan leaf
    val gs = rows.groupingSets(sets, gcols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), grouping_id().as("__gid"))
      .localCheckpoint(true)
    graft.plans.Persists.releaseCheckpointAtScopeEnd(gs)
    // shared truth totals: true pairs + corpus row count (Σ cnt over
    // the truth set is exactly N)
    val truthTot = gs.filter(col("__gid") === gidOf("__t"))
      .agg(sum(half(col("cnt"))).as("true_pairs"),
        sum(col("cnt")).as("n_rows"))
    val perKey = candidates.zipWithIndex.map { case ((name, _), i) =>
      val bc = s"__b_$i"
      val cand = gs.filter(col("__gid") === gidOf(bc))
        .agg(count(lit(1)).as("n_blocks"),
          sum(half(col("cnt"))).as("cand_pairs"))
      val captured = gs.filter(col("__gid") === gidOf(bc, "__t"))
        .agg(sum(half(col("cnt"))).as("captured_pairs"))
      val rr = when(col("n_rows") < 2L, lit(null).cast(DoubleType))
        .otherwise(lit(1.0) - d(col("cand_pairs")) / d(half(col("n_rows"))))
      val pc = when(col("true_pairs") === 0L, lit(null).cast(DoubleType))
        .otherwise(d(coalesce(col("captured_pairs"), lit(0L))) /
          d(col("true_pairs")))
      cand.crossJoin(broadcast(captured)).crossJoin(broadcast(truthTot))
        .select(lit(name).as("candidate"), col("n_blocks"),
          col("cand_pairs"), col("true_pairs"),
          coalesce(col("captured_pairs"), lit(0L)).as("captured_pairs"),
          round(rr, 6).as("reduction_ratio"),
          round(pc, 6).as("pairs_completeness"),
          round(when(rr.isNull || pc.isNull || (rr + pc) === 0.0,
              lit(null).cast(DoubleType))
            .otherwise(lit(2.0) * rr * pc / (rr + pc)), 6).as("f_quality"))
    }
    perKey.reduce(_ unionAll _)
  }

  def blockingQuality(df: DataFrame, blockExpr: String,
      truthExpr: String): DataFrame = {
    val half = (c: Column) => call_function("div", c * (c - 1L), lit(2L))
    val rows = df.select(expr(blockExpr).as("__b"), expr(truthExpr).as("__t"))
    val cand = rows.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")).as("n_rows"),
        sum(half(col("__n"))).as("cand_pairs"))
    val truth = rows.groupBy(col("__t")).agg(count(lit(1)).as("__n"))
      .agg(sum(half(col("__n"))).as("true_pairs"))
    val captured = rows.groupBy(col("__t"), col("__b"))
      .agg(count(lit(1)).as("__n"))
      .agg(sum(half(col("__n"))).as("captured_pairs"))
    val d = (c: Column) => c.cast(DoubleType)
    cand.crossJoin(broadcast(truth)).crossJoin(broadcast(captured))
      .select(col("n_rows"), col("cand_pairs"), col("true_pairs"),
        col("captured_pairs"),
        round(when(col("n_rows") < 2L, lit(null).cast(DoubleType))
          .otherwise(lit(1.0) -
            d(col("cand_pairs")) / d(half(col("n_rows")))), 6)
          .as("reduction_ratio"),
        round(when(col("true_pairs") === 0L, lit(null).cast(DoubleType))
          .otherwise(d(col("captured_pairs")) / d(col("true_pairs"))), 6)
          .as("pairs_completeness"))
  }
}

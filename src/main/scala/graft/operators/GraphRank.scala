package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TextFunctions

/** Weighted PageRank power iteration over an edge frame, and its TextRank
  * specialization (Mihalcea & Tarau 2004: rank tokens by the stationary
  * distribution of a random walk over the co-occurrence graph — a
  * keyword/salience signal for corpus analysis).
  *
  * 100 TB shape: the graph is held as (src, dst, p) transition rows —
  * built once with a single groupBy(src) for out-weights — and each
  * iteration is one shuffle_hash join of the rank frame onto the
  * transition frame plus one partial-agged groupBy(dst). State per
  * iteration is one (node, pr) row per vertex; nothing ever collects to
  * the driver. The transition and node frames are persisted across
  * iterations and released when the owner scope exits
  * ([[graft.plans.Persists]] lifecycle, the ConnectedComponents pattern).
  *
  * Dangling nodes (in-edges only) keep the teleport term and simply
  * don't redistribute — the TextRank convention, replayable exactly in
  * SQL (no global dangling-mass reduction, which would add a cross-engine
  * scalar dependency per round).
  */
object GraphRank {

  /** `iters` PageRank power iterations from the uniform vector over the
    * nodes of `edges` (union of endpoints). Returns (node, pr) with pr
    * rounded to 6 decimals (full precision inside the iteration; the
    * cross-engine contract is the rounded fixpoint approximation). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      wtCol: String, damping: Double = 0.85, iters: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wtCol).cast(DoubleType).as("wt"))
    val outw = e.groupBy(col("src")).agg(sum(col("wt")).as("ow"))
    val trans = e.join(outw.hint("shuffle_hash"), Seq("src"))
      .select(col("src"), col("dst"), (col("wt") / col("ow")).as("p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val n = nodes.count().toDouble
    val teleport = (1.0 - damping) / n

    var r = nodes.select(col("node"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = trans
        .join(r.hint("shuffle_hash"), trans("src") === r("node"))
        .select(trans("dst").as("node"), (col("p") * col("pr")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cin"))
      r = nodes.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + lit(damping) * coalesce(col("cin"), lit(0.0))).as("pr"))
    }
    graft.plans.Persists.onScopeEnd(() => { trans.unpersist(); nodes.unpersist() })
    r.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** Personalized PageRank from a seed set (Haveliwala 2002): identical
    * power iteration to [[pageRank]], but the teleport mass restarts at
    * the SEEDS instead of uniformly — ranks become "importance relative
    * to the seeds". On a near-dup/link graph: "which documents sit
    * closest, in random-walk reach, to these known-good (or known-bad)
    * documents" — the label-expansion move when only a handful of
    * curated labels exist ([[labelPropagationStep]] spreads hard labels
    * one hop; PPR spreads soft mass any number of hops, damped).
    *
    * Same shapes as pageRank: per iteration ONE shuffle_hash join + one
    * partial-agged groupBy(dst); the seed frame is #seeds rows joined
    * once into the restart vector. Nodes unreachable from the seeds
    * decay to 0 (exactly 0 — the teleport never reaches them). Output:
    * (node, pr) rounded to 6. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      wtCol: String, seeds: DataFrame, seedCol: String,
      damping: Double = 0.85, iters: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wtCol).cast(DoubleType).as("wt"))
    val outw = e.groupBy(col("src")).agg(sum(col("wt")).as("ow"))
    val trans = e.join(outw.hint("shuffle_hash"), Seq("src"))
      .select(col("src"), col("dst"), (col("wt") / col("ow")).as("p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    val ns = seedSet.count().toDouble
    require(ns > 0, "personalizedPageRank needs at least one seed")
    // restart vector: (1-d)/|seeds| on seeds, 0 elsewhere
    val restart = nodes
      .join(seedSet.withColumn("__isSeed", lit(1)).hint("shuffle_hash"),
        Seq("node"), "left")
      .select(col("node"),
        when(col("__isSeed").isNotNull, lit((1.0 - damping) / ns))
          .otherwise(lit(0.0)).as("rv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    var r = restart.select(col("node"),
      (col("rv") / lit(1.0 - damping)).as("pr")) // start: seed-uniform mass 1
    for (_ <- 1 to iters) {
      val contrib = trans
        .join(r.hint("shuffle_hash"), trans("src") === r("node"))
        .select(trans("dst").as("node"), (col("p") * col("pr")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cin"))
      r = restart.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (col("rv") + lit(damping) * coalesce(col("cin"), lit(0.0))).as("pr"))
    }
    graft.plans.Persists.onScopeEnd(() => {
      trans.unpersist(); nodes.unpersist(); restart.unpersist()
    })
    r.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** TextRank over the corpus's directed bigram graph: nodes are tokens,
    * edge (w1 -> w2) weighted by the corpus bigram count. Tokens that
    * never co-occur (only seen in single-token documents) are not in the
    * graph. The bigram count table is the SAME one-explode one-groupBy
    * reduction the bigram LM trains on ([[LanguageModel]]) — vocabulary-
    * squared-bounded, never corpus-sized after the first reduce. */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
      damping: Double = 0.85, iters: Int = 3): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
    val bi = toks
      .select(posexplode(slice(col("ts"), lit(1), size(col("ts")) - 1))
        .as(Seq("i", "w1")), col("ts"))
      .select(col("w1"), element_at(col("ts"), col("i") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("wt"))
    pageRank(bi, "w1", "w2", "wt", damping, iters)
  }

  /** Per-node triangle counts over an undirected pair graph — the
    * clustering-coefficient numerator. On a near-dup pair graph this
    * separates TEMPLATE families (boilerplate expansions form dense
    * near-cliques — triangle-rich) from chain-shaped coincidental
    * overlaps (quote-of-a-quote threads — triangle-free), a curation
    * diagnostic the pair count alone can't give.
    *
    * Shape: edges normalize to a < b (each undirected edge once — the
    * standard orientation, so each triangle a<b<c is found exactly once
    * as wedge (a,b),(a,c) closed by (b,c)); the wedge build is a
    * shuffle_hash self-join on the lower endpoint and the closure check
    * is a second equi-join onto the edge frame. Cost is sum over nodes of
    * deg_oriented^2 — on near-dup graphs, bounded by cluster sizes; for
    * general graphs with power-law hubs, cap candidate degree upstream
    * (the [[Dedup.shingleIndex]] maxDocFreq pattern). Nodes in no
    * triangle are absent from the output. Output: (id, n_triangles). */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val tri = e.toDF("a", "b")
      .join(e.toDF("a", "c").hint("shuffle_hash"), Seq("a"))
      .filter(col("b") < col("c"))
      .join(e.toDF("b", "c").hint("shuffle_hash"), Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** One label-propagation step (the community/semi-supervised staple
    * over the near-dup graph): every node with at least one neighbor
    * adopts the MAJORITY label among its neighbors, ties broken by
    * ascending label. The argmax is a partial-agged `min(struct(-count,
    * label))` — one shuffle on node, no per-node window sort — following
    * x69's canonical-selection pattern. Iterating to convergence is
    * `maxIter` calls re-labeling between steps (each step one pass, like
    * the Lloyd step x46).
    *
    * Output: (node, old_label, new_label) for every node with >= 1
    * neighbor; isolated nodes keep their label by definition and are not
    * emitted.
    */
  def labelPropagationStep(pairs: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val e = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(col(aCol).as("a"), col(bCol).as("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    val nbrLabel = sym
      .join(labels.select(col(idCol).as("b"), col(labelCol).as("nl")),
        Seq("b"))
    val votes = nbrLabel
      .groupBy(col("a"), col("nl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("a"))
      .agg(min(struct((-col("cnt")).as("neg"), col("nl").as("l"))).as("w"))
      .select(col("a").as("node"), col("w")("l").as("new_label"))
    votes
      .join(labels.select(col(idCol).as("node"),
        col(labelCol).as("old_label")), Seq("node"))
      .select(col("node"), col("old_label"), col("new_label"))
  }

  /** HITS hubs and authorities (Kleinberg 1999) over the weighted
    * directed graph — run UNNORMALIZED in exact integer arithmetic:
    * with h0 = 1, a1 = Σ_in wt·h0 and h1 = Σ_out wt·a1 stay integers
    * (DecimalType(38,0) — a2 is bounded by (Σwt)³, comfortably inside
    * 38 digits at any corpus this library sees), so every iteration is
    * bit-replayable on any engine. The textbook per-round L2
    * normalization is a POSITIVE SCALAR per round — it changes no
    * ordering and no ratio, but it would force a global double through
    * both engines each round, the exact cross-engine hazard
    * [[pageRank]]'s dangling-mass note documents. Two rounds: report
    * a2 (authority) and h1 (hub); pure sources have authority 0, pure
    * sinks hub 0.
    *
    * 100 TB shape: like [[pageRank]] — each half-round is one
    * shuffle_hash join of the node-score frame onto the edge frame plus
    * one partial-agged groupBy; scores are one row per node; nothing
    * collects to the driver. Output: (node, authority, hub). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      wtCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wtCol).cast(dec).as("wt"))
    val a1 = e.groupBy(col("dst")).agg(sum(col("wt")).as("a1"))
    val h1 = e.join(a1.hint("shuffle_hash"), Seq("dst"))
      .groupBy(col("src")).agg(sum(col("wt") * col("a1")).as("h1"))
    val a2 = e.join(h1.hint("shuffle_hash"), Seq("src"))
      .groupBy(col("dst")).agg(sum(col("wt") * col("h1")).as("a2"))
    a2.select(col("dst").as("node"), col("a2"))
      .join(h1.select(col("src").as("node"), col("h1")),
        Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("a2"), lit(0)).cast(dec).as("authority"),
        coalesce(col("h1"), lit(0)).cast(dec).as("hub"))
  }

  /** k-core of the undirected graph (Seidman 1983): the maximal subgraph
    * in which every node has degree >= k, found by iterated peeling —
    * drop nodes with degree < k, recompute degrees in what remains,
    * repeat to fixpoint. On a near-dup graph the k-core separates
    * TEMPLATE FAMILIES (dense cores every member of which has many
    * near-dup siblings) from incidental chains and stars that
    * triangle counts ([[triangleCounts]]) score weakly and component
    * size ([[graft.operators.Dedup.clusterCohesion]]) can't tell apart
    * — the standard spam-farm / boilerplate-hub detector on link and
    * similarity graphs.
    *
    * Distributed shape: edges symmetrize ONCE and persist; each peel
    * round is two left_semi shuffle_hash joins of the edge frame onto
    * the (node)-survivor frame plus one partial-agged degree groupBy —
    * no window, no driver-side graph. Survivor frames are node-sized,
    * persisted per round and released as soon as the next round's count
    * materializes. The loop early-stops at the fixpoint (survivor sets
    * only shrink, so equal COUNT means equal SET) or after `maxRounds`;
    * peeling converges in a handful of rounds on similarity graphs
    * (each round removes every node whose support collapsed), and the
    * bounded-round contract is what makes the operator exactly
    * replayable as a fixed-round SQL unroll — like the BPE trainer,
    * both engines run the identical program.
    *
    * Output: (id, degree) for every k-core member, degree measured
    * WITHIN the core (>= k by definition). Empty when no core exists. */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int = 16): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val e0 = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(col(aCol).as("a"), col(bCol).as("b"))
      .distinct()
    val edges = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      .persist(lvl)

    // survivors within `cur`: both endpoints must survive, then degree
    def peel(cur: DataFrame): DataFrame = edges
      .join(cur.hint("shuffle_hash"), Seq("a"), "left_semi")
      .join(cur.select(col("a").as("b")).hint("shuffle_hash"),
        Seq("b"), "left_semi")
      .groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("a"))

    var cur = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select(col("a"))
      .persist(lvl)
    var n = cur.count()
    var rounds = 1
    var converged = false
    while (!converged && rounds < maxRounds && n > 0L) {
      val next = peel(cur).persist(lvl)
      val m = next.count()
      // next is always a subset of cur, so equal count == equal set
      converged = m == n
      cur.unpersist()
      cur = next
      n = m
      rounds += 1
    }
    val core = cur
    graft.plans.Persists.onScopeEnd(() => { edges.unpersist(); core.unpersist() })
    edges
      .join(core.hint("shuffle_hash"), Seq("a"), "left_semi")
      .join(core.select(col("a").as("b")).hint("shuffle_hash"),
        Seq("b"), "left_semi")
      .groupBy(col("a")).agg(count(lit(1)).as("degree"))
      .select(col("a").as("id"), col("degree"))
  }

  /** Neighborhood Jaccard per edge (Liben-Nowell & Kleinberg 2003's
    * link-prediction similarity, applied to existing edges):
    * |N(a) ∩ N(b)| / |N(a) ∪ N(b)| over open neighborhoods. On the
    * near-dup graph this scores how EMBEDDED each duplicate relationship
    * is — a high-Jaccard edge sits inside a mirror clique (safe to
    * transitively merge), a zero-Jaccard edge is an isolated coincidence
    * the closure step should treat with suspicion. The per-edge
    * companion to [[clusteringCoefficients]]' per-node view.
    *
    * 100 TB shape: the adjacency frame is the edge list doubled; common
    * neighbors come from one equi self-join on the wedge midpoint (the
    * triangleCounts shape), degrees from a partial-agged count — all
    * shuffle-hash equi joins, exact integer counts.
    */
  def neighborhoodJaccard(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val adj = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = adj.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    // common neighbors: wedges a-w-b counted per (a,b)
    val common = adj.toDF("a", "w")
      .join(adj.toDF("b", "w").hint("shuffle_hash"), Seq("w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    e.join(common, Seq("a", "b"), "left")
      .join(deg.withColumnRenamed("id", "a")
        .withColumnRenamed("deg", "deg_a"), Seq("a"))
      .join(deg.withColumnRenamed("id", "b")
        .withColumnRenamed("deg", "deg_b"), Seq("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"),
        coalesce(col("common"), lit(0L)).as("common"),
        (col("deg_a") + col("deg_b") -
          coalesce(col("common"), lit(0L))).as("union_size"))
      .withColumn("jaccard", round(col("common").cast(DoubleType) /
        col("union_size").cast(DoubleType), 6))
  }

  /** Local clustering coefficients over an undirected pair graph:
    * c_i = 2 * triangles_i / (deg_i * (deg_i - 1)) for nodes of degree
    * >= 2 (the coefficient is undefined below that). High coefficients in
    * a near-dup graph mean tight mirror cliques (one canonical survives
    * dedup cleanly); low ones mean chain-shaped similarity (pivot-text
    * drift) where transitive-closure dedup over-merges — the local
    * companion to x138's per-cluster cohesion.
    *
    * 100 TB shape: composes [[triangleCounts]] (pinned shuffle-hash
    * equi joins) with one explode + partial-agged degree count and a
    * final equi join — nothing new beyond the triangle pass it reuses.
    */
  def clusteringCoefficients(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(e, "a", "b")
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            .cast(DoubleType) /
          (col("degree").cast(DoubleType) *
            (col("degree").cast(DoubleType) - 1.0)), 6).as("coeff"))
  }

  /** Modularity of a node partition over an undirected graph (Newman &
    * Girvan 2004): for each community c,
    * q_c = within_c / m - (deg_c / 2m)^2, summing to the partition's
    * modularity Q. Applied to the near-dup pair graph with the document's
    * `source` as the community, it answers "is duplication intra-source
    * (each source re-posts its own content) or cross-source (mirrors)?" —
    * the graph-structure companion to the x154 duplicate-flow matrix.
    * Output: one row per community with n_nodes, within_edges, deg_sum,
    * and q_contrib (rounded 6).
    *
    * 100 TB shape: edges are deduped once; degrees come from one explode +
    * partial-agged count; community attachment is an equi join against the
    * membership frame; the per-community reduction is community-sized. The
    * only non-equi piece is the 1-row total-edge frame, broadcast by
    * construction. within/m and (deg/2m)^2 divide exact BIGINTs, so both
    * engines compute identical doubles.
    */
  def partitionModularity(pairs: DataFrame, aCol: String, bCol: String,
      membership: DataFrame, idCol: String, commCol: String): DataFrame = {
    val e = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val mem = membership.select(col(idCol).as("__graft_mid__"),
      col(commCol).as("__graft_comm__"))
    val withComms = e
      .join(mem.withColumnRenamed("__graft_mid__", "a")
        .withColumnRenamed("__graft_comm__", "ca"), Seq("a"))
      .join(mem.withColumnRenamed("__graft_mid__", "b")
        .withColumnRenamed("__graft_comm__", "cb"), Seq("b"))
    val total = e.agg(count(lit(1)).as("m_edges"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .join(mem.withColumnRenamed("__graft_mid__", "id"), Seq("id"))
      .groupBy(col("__graft_comm__"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val within = withComms.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("__graft_comm__"))
      .agg(count(lit(1)).as("within_edges"))
    deg.join(within, Seq("__graft_comm__"), "left")
      .crossJoin(broadcast(total))
      .select(col("__graft_comm__").as("community"), col("n_nodes"),
        coalesce(col("within_edges"), lit(0L)).as("within_edges"),
        col("deg_sum"),
        round(coalesce(col("within_edges"), lit(0L)).cast(DoubleType) /
            col("m_edges").cast(DoubleType) -
          (col("deg_sum").cast(DoubleType) /
            (lit(2.0) * col("m_edges").cast(DoubleType))) *
          (col("deg_sum").cast(DoubleType) /
            (lit(2.0) * col("m_edges").cast(DoubleType))), 6)
          .as("q_contrib"))
  }
}

package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.Persists

/** Connected components over a pair graph — the transitive-closure step
  * that turns near-dup PAIRS (minhash/simhash/embedding candidates, which
  * are edges) into dedup CLUSTERS (one keeper per component). Without it,
  * pair-at-a-time "keep the min of each pair" under-deletes: {A~B, B~C}
  * must collapse to one survivor even though A~C was never emitted.
  *
  * Algorithm: distributed min-label propagation with POINTER JUMPING.
  * Each round every node takes the min label over itself and its
  * neighbors (one partial-agged shuffle), then labels are shortcut
  * through themselves (comp := label(comp)), which collapses label chains
  * geometrically: rounds = O(log diameter) instead of O(diameter).
  * Near-dup graphs are unions of near-cliques (diameter 1-2), so this
  * converges in 2-3 rounds; the pointer jump is what keeps adversarial
  * chain-shaped graphs (quote-of-a-quote threads) from turning rounds
  * into corpus scans. Convergence is the monotone label sum (labels only
  * ever decrease; equal sum == fixpoint), accumulated in BigInt so the
  * test is overflow-proof at any id range.
  *
  * This is the library's one deliberately RDD-shaped operator: an
  * iterative self-referencing DataFrame loop clones the Catalyst subtree
  * at every self-join (plan size doubles per round — measured OOM at ~6
  * rounds rendering the plan string), while the RDD lineage is a shared
  * DAG. The iteration state is keyed by ONE HashPartitioner throughout,
  * so every round's joins co-locate for free and only the propagated
  * labels move. Per-round state persists MEMORY_AND_DISK and is released
  * as soon as the next round materializes; the final frame's blocks are
  * released when the owner scope exits ([[Persists.scope]]).
  *
  * Small graphs (at most `smallGraphMax` symmetric edges — an explicit,
  * bounded guard) take a driver union-find fast path instead: the
  * distributed loop's 2-3 fixed-latency shuffle rounds dominate when the
  * pair graph is tiny, which after LSH banding + exact verification it
  * usually is. Both paths emit identical labels; a spec asserts it.
  *
  * Output: (id, component) for every node that appears in `pairs`,
  * component = smallest reachable id. Nodes in no pair are implicitly
  * their own singleton component and are not emitted.
  */
object ConnectedComponents {

  /** Edge counts at or below this take the driver union-find fast path:
    * the distributed loop costs 2-3 fixed-latency shuffle rounds that
    * dominate small graphs (measured ~1s on a 500-pair graph that the
    * fast path labels in milliseconds), while 2^20 edges collect in
    * ~16 MB. Above it the pointer-jumping loop runs — near-dup pair
    * graphs at corpus scale must never round-trip the driver. */
  val SmallGraphMaxEdges: Long = 1L << 20

  def labels(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50,
      smallGraphMax: Long = SmallGraphMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .as[(Long, Long)].rdd.filter { case (a, b) => a != b }
    val part = new HashPartitioner(
      math.max(spark.sparkContext.defaultParallelism, e.getNumPartitions))
    val sym = e.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)

    // one cheap action on the persisted edges picks the path; the fast
    // path's collect is bounded by the guard it just passed
    if (sym.count() <= smallGraphMax) {
      val edges = sym.collect()
      sym.unpersist(blocking = false)
      // distribute the (guard-bounded) result instead of returning a local
      // relation: downstream anti-joins then plan exactly like the
      // distributed path's output (Scan ExistingRDD), and the pipelines'
      // no-LocalTableScan plan invariant keeps meaning "no UNBOUNDED
      // driver round-trip"
      return spark.createDataset(
        spark.sparkContext.parallelize(unionFindMinLabels(edges), 1))
        .toDF("id", "component")
    }

    var labels: RDD[(Long, Long)] = sym.mapValues(_ => 0)
      .reduceByKey(part, (a, _) => a)
      .mapPartitions(_.map { case (v, _) => (v, v) }, preservesPartitioning = true)
    var prevSum: BigInt = null
    var it = 0
    var converged = false
    var prevPersisted: RDD[_] = null
    while (!converged && it < maxIter) {
      // 1. each neighbor v of u receives u's label; min per receiver
      val nbrMin = sym.join(labels, part)
        .map { case (_, (v, l)) => (v, l) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val propagated = labels.leftOuterJoin(nbrMin, part)
        .mapValues { case (l, o) => math.min(l, o.getOrElse(l)) }
      // 2. pointer jump: comp := comp's own label (comp is always a node id)
      val next = propagated.map { case (id, l) => (l, id) }
        .join(propagated, part)
        .map { case (_, (id, ll)) => (id, ll) }
        .partitionBy(part)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val s = next.aggregate(BigInt(0))((acc, kv) => acc + kv._2, _ + _)
      if (prevPersisted != null) prevPersisted.unpersist(blocking = false)
      prevPersisted = next
      labels = next
      converged = prevSum != null && s == prevSum
      prevSum = s
      it += 1
    }
    sym.unpersist(blocking = false)
    require(converged, s"connected components did not converge in $maxIter rounds")
    val out = labels
    Persists.onScopeEnd(() => out.unpersist(blocking = false))
    spark.createDataset(labels).toDF("id", "component")
  }

  /** Driver-side union-find with min-label semantics: every node's
    * component is the smallest reachable id — bit-identical to the
    * distributed loop's output on the same edges. Path-halving + union by
    * smaller root id (the root IS the running min, so find() returns the
    * final label directly once all unions are in). */
  private def unionFindMinLabels(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) {
        val p = parent.get(r)
        parent.put(r, parent.get(p)) // path halving
        r = parent.get(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // union by min id: the root of any tree is its component's min
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().iterator().asScala.map(id => (id, find(id))).toSeq
  }

  /** Dedup keepers from a pair graph: one row per component — the keeper
    * is the component label itself (the smallest reachable id, by
    * construction) with the cluster size, join-able back onto the corpus
    * as the survivor set. */
  def keepers(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    labels(pairs, aCol, bCol)
      .groupBy(col("component").as("keeper"))
      .agg(count(lit(1)).as("cluster_size"))
}

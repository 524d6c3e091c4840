package graft

import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents
import graft.plans.Persists

/** Min-label propagation + pointer jumping vs a driver-side union-find
  * oracle. Extension operator (no reference counterpart): the transitive-
  * closure step between near-dup pairs and dedup clusters. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def sparkLabels(edges: Seq[(Long, Long)],
      smallGraphMax: Long = ConnectedComponents.SmallGraphMaxEdges): Map[Long, Long] =
    ConnectedComponents.labels(edges.toDF("a", "b"), "a", "b",
      smallGraphMax = smallGraphMax)
      .as[(Long, Long)].collect().toMap

  test("matches union-find on a random pair graph — both paths, identical labels") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    val want = unionFind(edges)
    assert(sparkLabels(edges) == want, "driver fast path")
    assert(sparkLabels(edges, smallGraphMax = 0) == want, "distributed path")
  }

  test("long chain collapses to one component (pointer jumping, few rounds)") {
    // a 64-node path on the DISTRIBUTED path: naive propagation needs 63
    // rounds, jumping needs ~log
    val edges = (0L until 63L).map(i => (i, i + 1))
    val out = sparkLabels(edges, smallGraphMax = 0)
    assert(out.size == 64 && out.values.forall(_ == 0L))
  }

  test("two disjoint cliques get two labels; singletons are not emitted") {
    val clique = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val clique2 = for { a <- 10L to 12L; b <- (a + 1) to 12L } yield (a, b)
    val out = sparkLabels(clique ++ clique2)
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("empty pair set yields an empty labeling") {
    assert(sparkLabels(Seq.empty) == Map.empty)
  }

  test("keepers: one row per component, keeper == min id, sizes correct") {
    val edges = Seq((5L, 3L), (3L, 9L), (20L, 21L))
    val out = ConnectedComponents.keepers(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(3L -> 3L, 20L -> 2L))
  }

  test("no persisted blocks survive the owner's scope (either path)") {
    Persists.releaseAll(spark)
    for (max <- Seq(ConnectedComponents.SmallGraphMaxEdges, 0L)) {
      Persists.scope {
        ConnectedComponents.labels(Seq((1L, 2L)).toDF("a", "b"), "a", "b",
          smallGraphMax = max).count()
      }
      assert(Persists.livePersistedRdds(spark) == 0, s"smallGraphMax=$max")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.plans.{Events, Persists, RowNum}

/** No-leak invariant for two-pass operators: persisted blocks are scoped to
  * the first Dataset action on the operator's output
  * ([[Persists.releaseOnNextAction]]) instead of waiting for the
  * ContextCleaner — the round-2 driver bench measured one query's leaked
  * blocks billing the NEXT queries 2-15x (r4_renumber 0.37s -> 10.3s). */
class PersistsSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** Listener delivery is async (listener-bus thread) — poll briefly. */
  private def awaitNoLive(maxMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (Persists.livePersistedRdds(spark) > 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(Persists.livePersistedRdds(spark) === 0)
  }

  private def clean(): Unit = {
    Persists.releaseAll(spark) // baseline: earlier suites share this JVM/session
    assert(Persists.livePersistedRdds(spark) === 0)
  }

  test("RowNum.assign: narrow inputs persist nothing (round-10 fast path); shuffled inputs persist between passes and release on the first action") {
    clean()
    // narrow-deterministic input: the count pass is column-pruned and NO
    // cache is created — recomputation is row-stable by construction
    val df = spark.range(0, 10000).toDF("id").withColumn("x", col("id") * 2)
    val numbered = RowNum.assign(df)
    assert(Persists.livePersistedRdds(spark) === 0)
    assert(numbered.count() === 10000L)
    // numbering is exact and stable across repeated actions: range order
    // is partition order, so row_num must equal id + 1 every time
    (1 to 2).foreach { _ =>
      assert(numbered.filter(col(Events.RowNumCol) =!= col("id") + 1L)
        .count() === 0L)
    }
    // shuffled input: within-partition order is only stable across actions
    // if both passes read one materialization — the persist must be there,
    // scoped to the first action
    val shuffled = df.repartition(4)
    val n2 = RowNum.assign(shuffled)
    assert(Persists.livePersistedRdds(spark) === 1) // alive between passes
    assert(n2.count() === 10000L)
    awaitNoLive()
    // early release is correct: the frame still evaluates after the blocks
    // are gone (lineage recompute, same broadcast offsets)
    assert(n2.count() === 10000L)
  }

  test("packSequences blocks are released by the first action on the output") {
    clean()
    val df = spark.range(0, 1000).toDF("doc_id").withColumn("n_tokens", lit(7))
    val packed = graft.operators.CorpusOps.packSequences(df, "doc_id", "n_tokens", 64)
    assert(packed.count() === 1000L)
    awaitNoLive()
  }

  test("every ranked gated query leaves no blocks after its action") {
    clean()
    for (name <- Seq("b3_sort_by", "r4_renumber", "x19_pack_sequences")) {
      SparkEntry.queries(name)(spark, sfDir).count()
      awaitNoLive()
    }
  }

  test("curation e1 query leaves no blocks after its action") {
    clean()
    SparkEntry.queries("e1_curation_pipeline")(spark, sfDir).count()
    awaitNoLive()
  }

  test("releaseAll drops persisted RDDs and cached relations immediately") {
    clean()
    val df = spark.range(0, 100).toDF("id").persist()
    df.count()
    spark.range(0, 50).toDF("i").cache().count()
    assert(Persists.livePersistedRdds(spark) >= 1)
    Persists.releaseAll(spark)
    assert(Persists.livePersistedRdds(spark) === 0)
  }

  test("onActionOf fires only on the CONSUMER'S action — interleaved actions leave the release armed") {
    clean()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val target = spark.range(0, 64).toDF("id")
      .withColumn("y", col("id") * 3)
    Persists.onActionOf(target)(() => fired.set(true))
    // an UNRELATED action must not fire the consumer-matched release —
    // this was exactly the round-9 hazard: any interleaved session
    // action dropped the advisors' caches mid-construction
    spark.range(1).count()
    Thread.sleep(400) // listener delivery is async; give it time to misfire
    assert(!fired.get(), "unrelated action fired a consumer-matched release")
    // a DOWNSTREAM action on the target (wrapped in more operators —
    // containment, not equality) fires it
    target.groupBy().agg(sum(col("y"))).count()
    val deadline = System.nanoTime() + 15000L * 1000000L
    while (!fired.get() && System.nanoTime() < deadline) Thread.sleep(50)
    assert(fired.get(), "consumer action did not fire the release")
  }

  test("releaseAll drains still-armed deferred releases so abandoned queries never leak listeners") {
    clean()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val target = spark.range(0, 32).toDF("id").withColumn("z", col("id") + 1)
    Persists.onActionOf(target)(() => fired.set(true))
    // the query is abandoned — no consumer action ever runs; the harness
    // boundary (releaseAll between queries) must fire-and-unregister it
    Persists.releaseAll(spark)
    assert(fired.get(), "releaseAll did not drain the armed release")
  }

  test("a phase that throws releases its own cache and its predecessor's: zero-row and collected-error gates") {
    import java.nio.file.Files
    import graft.functions.{ColType, ColumnDef}
    import graft.plans.{DataException, Phase, Pipeline, Step}
    import graft.sources.Format
    def runFailing(failing: Phase, why: String): Unit = {
      clean()
      val dir = Files.createTempDirectory("graft_leak")
      val src = Files.writeString(dir.resolve("in.csv"), "v\n1\n2\nx\n")
      // the first phase passes; its output is cached while the second runs
      val pipe = new Pipeline(spark, Seq(Phase("First"), failing),
        dir.resolve("out").toString, src.toString, saveFormat = Format.Csv)
      val ex = intercept[DataException](pipe.run())
      assert(ex.getMessage.contains(why), ex.getMessage)
      assert(Persists.livePersistedRdds(spark) === 0)
    }
    runFailing(Phase("Empty", steps = Seq(Step.dropRowsWhen("all", lit(true), "gone"))),
      "zero rows")
    runFailing(Phase("Errors", columns = Seq(ColumnDef("v", ColType.IntT))), "errors")
  }
}

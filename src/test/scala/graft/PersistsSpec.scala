package graft

import org.apache.spark.sql.functions._
import graft.plans.{Events, Persists, RowNum}

/** No-leak invariant for operators that persist: their blocks belong to
  * the owner's scope ([[Persists.scope]]) and are released when it exits,
  * instead of waiting for the ContextCleaner — the round-2 driver bench
  * measured one query's leaked blocks billing the NEXT queries 2-15x
  * (r4_renumber 0.37s -> 10.3s). Every test here already runs inside its
  * own scope (SparkSpec), so each check opens an inner one. */
class PersistsSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def clean(): Unit = {
    Persists.releaseAll(spark) // baseline: earlier suites share this JVM/session
    assert(Persists.livePersistedRdds(spark) === 0)
  }

  test("RowNum.assign: narrow inputs persist nothing (round-10 fast path); shuffled inputs persist between passes and release when the owner scope exits") {
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
    // and it outlives every action inside the scope
    val n2 = Persists.scope {
      val n = RowNum.assign(df.repartition(4))
      assert(Persists.livePersistedRdds(spark) === 1) // alive between passes
      assert(n.count() === 10000L)
      assert(n.count() === 10000L)
      assert(Persists.livePersistedRdds(spark) === 1)
      n
    }
    assert(Persists.livePersistedRdds(spark) === 0)
    // the frame still evaluates after the blocks are gone (lineage
    // recompute, same broadcast offsets)
    assert(n2.count() === 10000L)
  }

  test("packSequences blocks are released when the owner scope exits") {
    clean()
    val df = spark.range(0, 1000).toDF("doc_id").withColumn("n_tokens", lit(7))
    Persists.scope {
      val packed = graft.operators.CorpusOps.packSequences(df, "doc_id", "n_tokens", 64)
      assert(packed.count() === 1000L)
      assert(Persists.livePersistedRdds(spark) === 1)
    }
    assert(Persists.livePersistedRdds(spark) === 0)
  }

  test("every ranked gated query leaves no blocks after its action") {
    clean()
    for (name <- Seq("b3_sort_by", "r4_renumber", "x19_pack_sequences")) {
      Persists.scope(SparkEntry.queries(name)(spark, sfDir).count())
      assert(Persists.livePersistedRdds(spark) === 0, name)
    }
  }

  test("curation e1 query leaves no blocks after its action") {
    clean()
    Persists.scope(SparkEntry.queries("e1_curation_pipeline")(spark, sfDir).count())
    assert(Persists.livePersistedRdds(spark) === 0)
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

  test("scopes nest and run their releases newest first; outside any scope a registration is dropped") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    Persists.scope {
      Persists.onScopeEnd(() => order += "outer")
      Persists.scope {
        Persists.onScopeEnd(() => order += "inner1")
        Persists.onScopeEnd(() => order += "inner2")
      }
      assert(order === Seq("inner2", "inner1"))
    }
    assert(order === Seq("inner2", "inner1", "outer"))
    // a fresh thread has no scope, not even its creator's
    val t = new Thread(() => Persists.onScopeEnd(() => order += "orphan"))
    t.start(); t.join()
    assert(order === Seq("inner2", "inner1", "outer"))
  }

  test("a release belongs to its thread's scope: another thread's action never fires it; the scope's exit does, also when the body throws") {
    import java.util.concurrent.CountDownLatch
    import java.util.concurrent.atomic.AtomicInteger
    clean()
    val fired = new AtomicInteger(0)
    val registered = new CountDownLatch(1)
    val otherActed = new CountDownLatch(1)
    @volatile var seenInScope = (-1, -1)
    val a = new Thread(() => Persists.scope {
      val numbered = RowNum.assign(spark.range(0, 1000).toDF("id").repartition(4))
      Persists.onScopeEnd(() => fired.incrementAndGet())
      assert(numbered.count() === 1000L)
      registered.countDown()
      otherActed.await()
      seenInScope = (fired.get(), Persists.livePersistedRdds(spark))
    })
    a.start()
    assert(registered.await(120, java.util.concurrent.TimeUnit.SECONDS))
    // thread B (this one) runs Dataset actions while A's scope is open
    assert(spark.range(10).count() === 10L)
    spark.range(5).toDF("i").collect()
    otherActed.countDown()
    a.join()
    assert(seenInScope === ((0, 1)), "B's actions released A's blocks")
    assert(fired.get() === 1)
    assert(Persists.livePersistedRdds(spark) === 0)

    val ex = intercept[IllegalStateException](Persists.scope {
      RowNum.assign(spark.range(0, 100).toDF("id").repartition(2))
      Persists.onScopeEnd(() => fired.incrementAndGet())
      throw new IllegalStateException("boom")
    })
    assert(ex.getMessage === "boom")
    assert(fired.get() === 2)
    assert(Persists.livePersistedRdds(spark) === 0)
  }

  test("two pipelines run concurrently on one session match their serial runs, and leave no blocks once both scopes close") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    import graft.plans.{Phase, Pipeline}
    import graft.sources.Format
    clean()
    val root = Files.createTempDirectory("graft_concurrent")
    val header = "employeeNumber,firstName,lastName,payType,paidPer,payRate,bonusAmount,Status\n"
    val sources = Seq(
      header + "1,Benjamin,Sisko,salary,Year,188625,30000,Active\n" +
        ",None,Garak,salary,Year,100000,,Inactive\n" +
        "3,Julian,Bashir,salary,Year,142880,25000,Active\n" +
        "4,Miles,O'Brien,hourly,Hour,-5,,Active\n",
      header + "7,Jadzia,Dax,salary,Year,150000,10000,Active\n" +
        "8,Worf,Mogh,weekly,Week,3000,,Active\n" +
        "9,Odo,None,monthly,Month,9000,100,Active\n" +
        ",Quark,None,daily,Day,300,,Inactive\n")
      .zipWithIndex.map { case (csv, i) => Files.writeString(root.resolve(s"in$i.csv"), csv) }
    // the third phase renumbers: a sorted frame numbered through the
    // persist path, so each phase scope owns a cache
    val phases = graft.examples.Employees.phases :+ Phase("Renumber", renumber = true)
    def runInto(dir: String, src: Path): Unit = Persists.scope {
      val pipe = new Pipeline(spark, phases, root.resolve(dir).toString, src.toString,
        saveFormat = Format.Csv, errorPolicy = graft.plans.ErrorPolicy.Warn)
      pipe.run().count()
    }
    // every output file of a run, as sorted lines (part-file names and
    // order carry no meaning)
    def outputs(dir: String): Map[String, Seq[String]] =
      Files.list(root.resolve(dir)).iterator().asScala.toSeq.map { p =>
        val lines =
          if (Files.isDirectory(p))
            Files.list(p).iterator().asScala.toSeq
              .filter(_.getFileName.toString.startsWith("part-"))
              .flatMap(f => Files.readAllLines(f).asScala).sorted
          else Files.readAllLines(p).asScala.toSeq
        p.getFileName.toString -> lines
      }.toMap
    sources.zipWithIndex.foreach { case (src, i) => runInto(s"serial$i", src) }
    val threads = sources.zipWithIndex.map { case (src, i) =>
      val t = new Thread(() => runInto(s"concurrent$i", src))
      t.start(); t
    }
    threads.foreach(_.join())
    sources.indices.foreach { i =>
      val serial = outputs(s"serial$i")
      assert(serial.contains("errors_and_warnings.txt") &&
        serial.contains("Renumber_output.csv"), serial.keys)
      assert(outputs(s"concurrent$i") === serial, s"pipeline $i")
    }
    assert(Persists.livePersistedRdds(spark) === 0)
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

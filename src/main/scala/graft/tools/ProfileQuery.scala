package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.SparkEntry

/** Single-query harness: time SparkEntry queries and profile them for
  * FIXED-MASS overhead — the per-query cost that does not scale with data
  * (driver actions, job count, plan/analysis time). For each query it
  * reports, at the best rep: wall time, time to BUILD the DataFrame (plan
  * construction + analysis), number of Spark jobs the action triggered
  * (every extra job beyond 1 is an internal collect/count someone could
  * fold), stages, tasks and rows; then every rep's wall time.
  *
  *   runMain graft.tools.ProfileQuery <name>[,<name>...] [sfDir] [reps]
  *   runMain graft.tools.ProfileQuery @all [sfDir] [reps]   # every registered query
  *
  * `sfDir` defaults to SPARK_GRAFT_SF_DIR, then /root/testdata/sf0.1;
  * `reps` to 3. SPARK_GRAFT_EXPLAIN=1 also prints each query's formatted
  * plan once, after its reps.
  *
  * Output: one `[prof]` line per query, machine-greppable.
  */
object ProfileQuery {
  // listenerBus is private[spark]; this is a dev tool, reflection is fine
  private def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = {
    val m = sc.getClass.getMethods.find(_.getName == "listenerBus")
    m.foreach { lb =>
      val bus = lb.invoke(sc)
      bus.getClass.getMethods
        .find(x => x.getName == "waitUntilEmpty" && x.getParameterCount == 0)
        .foreach(_.invoke(bus))
    }
  }

  private case class Rep(wall: Double, build: Double, jobs: Int, stages: Int,
      tasks: Int, rows: Long)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <q1,q2,...|@all> [sfDir] [reps]")
    val sfDir =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.length > 2) args(2).toInt else 3
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val names: Seq[String] =
      if (args(0) == "@all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Harness.session("graft-profile")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(
        s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      val runs = (1 to reps).map { _ =>
        // let the listener bus drain so counters attribute correctly
        drainListenerBus(sc)
        jobs.set(0); stages.set(0); tasks.set(0)
        var build = 0.0
        val (rows, wall) = Harness.timed(spark) {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.queryExecution.assertAnalyzed()
          build = (System.nanoTime() - t0) / 1e9
          df.count()
        }
        drainListenerBus(sc)
        Rep(wall, build, jobs.get(), stages.get(), tasks.get(), rows)
      }
      val best = runs.minBy(_.wall)
      println(f"[prof] $name%-32s wall=${best.wall}%7.3f build=${best.build}%6.3f " +
        f"jobs=${best.jobs}%3d stages=${best.stages}%3d tasks=${best.tasks}%5d " +
        f"rows=${best.rows}%d (all: ${runs.map(r => f"${r.wall}%.3f").mkString(", ")})")
      // after the reps: a plan built (and cached) here never serves a rep
      if (explain) Harness.timed(spark)(fn(spark, sfDir).explain("formatted"))
    }
    spark.stop()
  }
}

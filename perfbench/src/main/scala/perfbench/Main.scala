package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.perfbench.Internals

import graft.Tables
import graft.plans.Persists

/** The benchmark's JVM side. One invocation runs one workload in a closed
  * loop with one client (each run starts when the previous one ends) and
  * writes its raw samples as JSON to `--out`; `run.py` turns them into
  * metrics.
  *
  *   --workload W --data DIR --work DIR --out FILE --seconds S
  *   --trace 0|1 --setups K --cores N
  */
object Main {
  final case class Config(workload: String, data: Path, work: Path, out: Path,
      seconds: Double, trace: Boolean, setups: Int, cores: Int)

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val result = new Bench(cfg).run()
    Files.writeString(cfg.out, Json(result))
  }

  private def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String, lo: Int, hi: Int): Int = {
      val v = need(k).toIntOption.getOrElse(throw new IllegalArgumentException(s"--$k must be an integer"))
      require(v >= lo && v <= hi, s"--$k must be in [$lo, $hi]")
      v
    }
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w")
    Config(w, Path.of(need("data")), Path.of(need("work")), Path.of(need("out")),
      int("seconds", 1, 600).toDouble, int("trace", 0, 1) == 1, int("setups", 1, 10),
      int("cores", 1, 256))
  }
}

final class Bench(cfg: Main.Config) {
  private val w = Workloads(cfg.workload, cfg.data)
  private val spans = new Spans
  private val oracleDir = cfg.work.resolve("oracle")
  private var runs = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  private val failedRuns = mutable.Set.empty[Int]
  private var lastDir: Option[Path] = None

  def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** One run into a fresh working dir. The previous run's dir is deleted
    * first (the pipeline would otherwise archive it into
    * `<name>-<timestamp>/` and pile outputs up); the last one is kept for the
    * checks made once per invocation. Returns wall seconds. */
  private def oneRun(spark: SparkSession): Double = {
    quiesce(spark)
    lastDir.foreach(graft.sources.GraftIO.deleteRecursively)
    runs += 1
    val dir = cfg.work.resolve(s"run-$runs")
    lastDir = Some(dir)
    spans.run = runs
    val t0 = System.nanoTime()
    val found =
      try spans("run")(w.run(spark, dir, spans))
      catch { case NonFatal(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    found.foreach(p => problems += s"run $runs: $p")
    if (found.nonEmpty) failedRuns += runs
    System.err.println(f"[perfbench] run $runs: $secs%.3f s" +
      found.map("\n[perfbench]   " + _).mkString)
    secs
  }

  /** Let the previous run's asynchronous clean-up (block removal, listener
    * delivery, ContextCleaner work that a GC triggers) finish before the
    * next run starts, so it is not billed to that run. */
  private def quiesce(spark: SparkSession): Unit = {
    Persists.releaseAll(spark)
    System.gc()
    Internals.drainListenerBus(spark)
    Thread.sleep(100)
  }

  private def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Session creation plus the first, cold run; repeated `setups` times,
    * keeping the last session open for the measured runs. */
  private def setups(): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to cfg.setups).map { i =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session()
      oneRun(spark)
      val t = (System.nanoTime() - t0) / 1e9
      Persists.releaseAll(spark)
      t
    }
    (spark, times)
  }

  /** Measured runs for `seconds` of wall time (at least `minRuns`). */
  private def measure(spark: SparkSession, seconds: Double, minRuns: Int,
      after: Path => Unit = _ => ()): Seq[Double] = {
    val start = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < minRuns || (System.nanoTime() - start) / 1e9 < seconds) {
      out += oneRun(spark)
      after(lastDir.get)
      Persists.releaseAll(spark)
    }
    out.toSeq
  }

  def run(): Map[String, Any] = {
    Files.createDirectories(oracleDir)
    val (spark, setupTimes) = setups()
    val base = ListMap[String, Any](
      "workload" -> cfg.workload, "cores" -> cfg.cores,
      "input_rows" -> w.inputRows, "source_bytes" -> w.sourceBytes,
      "setup_s" -> setupTimes)
    val body = if (cfg.trace) traced(spark) else untraced(spark)
    w.exportForOracle(spark, oracleDir, lastDir.get)
    val tail = ListMap[String, Any](
      "output_bytes" -> w.outputBytes(lastDir.get, oracleDir),
      "last_run_dir" -> lastDir.get.toString,
      "oracle_dir" -> oracleDir.toString,
      "attempted" -> runs, "failed" -> failedRuns.size, "problems" -> problems.toSeq)
    stop(spark)
    base ++ body ++ tail
  }

  private def untraced(spark: SparkSession): Map[String, Any] = {
    val heap = mutable.ArrayBuffer.empty[Double]
    val times = measure(spark, cfg.seconds, minRuns = 3, after = _ => {
      Persists.releaseAll(spark)
      heap += heapAfterGcMb()
    })
    ListMap("run_s" -> times, "heap_retained_mb" -> heap.toSeq)
  }

  // ---------------------------------------------------------------- traced

  /** Untraced and traced runs alternate (ABBA order, so the JVM's warm-up
    * trend cancels out of the tracing overhead); then the prefix probes. */
  private def traced(spark: SparkSession): Map[String, Any] = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val baseListeners = Internals.queryListeners(spark)
    def tracing(on: Boolean): Unit = { rec.active = on; spans.enabled = on }

    val plain = mutable.ArrayBuffer.empty[Double]
    val times = mutable.ArrayBuffer.empty[Double]
    val perRun = mutable.ArrayBuffer.empty[Map[String, Double]]
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    while (times.size < 2 || (System.nanoTime() - start) / 1e9 < cfg.seconds) {
      val order = if (times.size % 2 == 0) Seq(false, true) else Seq(true, false)
      order.foreach { on =>
        tracing(on)
        val t = oneRun(spark)
        if (on) {
          Internals.drainListenerBus(spark)
          times += t
          jobs ++= rec.jobs.map(j => ListMap("run" -> runs,
            "site" -> j.site, "layer" -> Recorder.layer(j.site),
            "start_ms" -> j.startMs, "end_ms" -> j.endMs))
          perRun += runCounters(rec, lastDir.get) ++ Map(
            "persist.blocks_left" -> Persists.livePersistedRdds(spark).toDouble,
            "persist.listeners_left" -> (Internals.queryListeners(spark) - baseListeners).toDouble)
        } else plain += t
        Persists.releaseAll(spark)
        Internals.drainListenerBus(spark)
        rec.reset()
      }
    }
    tracing(true)
    val prefix = prefixTimes(spark)
    val plan = planShape(w.prefixes(spark).last._2())
    Persists.releaseAll(spark)
    tracing(false)

    val med = perRun.head.keys.map(k => k -> Stats.median(perRun.map(_(k)).toSeq)).toMap
    val layers = layerMetrics(med, prefix, plan, Stats.median(times.toSeq), Stats.median(plain.toSeq))
    ListMap(
      "run_s" -> plain.toSeq, "traced_run_s" -> times.toSeq,
      "per_layer" -> layers,
      "prefix_s" -> prefix,
      "per_run" -> perRun.toSeq,
      "jobs" -> jobs.toSeq,
      "spans" -> spans.all.toSeq.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
  }

  /** Counters of the run that just ended, from the listener and the spans. */
  private def runCounters(rec: Recorder, dir: Path): Map[String, Double] =
    rec.synchronized {
      val run = spans.ofRun(runs).find(_.name == "run").get
      val jobs = rec.jobs
      val byLayer = jobs.groupBy(j => Recorder.layer(j.site))
        .map { case (l, js) => l -> js.map(j => (j.endMs - j.startMs) / 1000.0).sum }
      val covered = Stats.unionMs(jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1000.0
      val aggs = rec.stages.values
      val writeStages = jobs.filter(j => Recorder.layer(j.site) == "io").flatMap(_.stageIds)
        .filter(rec.stages.contains)
      val writeTaskMs = writeStages.toSeq.map(rec.stages(_).taskMs).sum
      val writeWallMs = writeStages.toSeq.flatMap(rec.stageWindow.get).map { case (s, e) => e - s }.sum
      val cpuS = aggs.map(_.cpuNs).sum / 1e9
      val querySpans = spans.ofRun(runs).filter(_.name.startsWith("query."))
      Map(
        "wall_s" -> run.seconds,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> rec.stageWindow.size.toDouble,
        "spark.tasks" -> aggs.map(_.tasks).sum.toDouble,
        "spark.shuffle_write_bytes" -> aggs.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> aggs.map(_.shuffleRead).sum.toDouble,
        "spark.spill_bytes" -> aggs.map(_.spill).sum.toDouble,
        "spark.executor_cpu_s" -> cpuS,
        "spark.cpu_util" -> cpuS / (run.seconds * cfg.cores),
        "spark.gc_s" -> aggs.map(_.gcMs).sum / 1000.0,
        "pipeline.driver_idle_s" -> math.max(0.0, run.seconds - covered),
        "pipeline.plan_s" -> rec.planMs / 1000.0,
        "rownum.jobs" -> jobs.count(j => Recorder.layer(j.site) == "rownum").toDouble,
        "drain.jobs" -> jobs.count(j => Recorder.layer(j.site) == "drain").toDouble,
        "io.write_bytes" -> Workloads.bytesUnder(dir).toDouble,
        "io.write_parallelism" -> (if (writeWallMs > 0) writeTaskMs.toDouble / writeWallMs else 0.0),
        "persist.peak_mb" -> rec.peakBlockBytes / 1048576.0,
        "drain.events_collected" -> Workloads.reportLinesByPhase(dir).values.sum.toDouble
      ) ++ Recorder.Layers.map(l => s"layer.${l}_s" -> byLayer.getOrElse(l, 0.0)) ++
        querySpans.map(s => s"${s.name}_s" -> s.seconds) ++
        spans.ofRun(runs).filter(_.name == "TableDiff.diff").map(s => "diff.s" -> s.seconds)
    }

  /** Median wall time of each cumulative prefix, noop-written, 3 reps. */
  private def prefixTimes(spark: SparkSession): ListMap[String, Double] =
    ListMap(w.prefixes(spark).map { case (name, build) =>
      val reps = (1 to 3).map { _ =>
        Persists.releaseAll(spark)
        val t0 = System.nanoTime()
        spans(s"prefix.$name")(Workloads.noop(build()))
        (System.nanoTime() - t0) / 1e9
      }
      name -> Stats.median(reps)
    }: _*)

  /** CodegenFallback expressions and expression nodes in the executed plan
    * of the workload's fully composed phases. */
  private def planShape(df: DataFrame): (Int, Int) = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    var fallback = 0
    var nodes = 0
    unwrap(df.queryExecution.executedPlan).foreach { node =>
      node.expressions.foreach(_.foreach { e =>
        nodes += 1
        if (e.isInstanceOf[CodegenFallback]) fallback += 1
      })
    }
    (fallback, nodes)
  }

  private def layerMetrics(med: Map[String, Double], prefix: ListMap[String, Double],
      plan: (Int, Int), tracedRunS: Double, plainRunS: Double): ListMap[String, Double] = {
    val p = prefix.values.toIndexedSeq
    val declared = w.manifest.long("declared_columns")
    val cells = w.inputRows * math.max(1L, declared)
    ListMap(
      "io.read_s" -> p(0),
      "rownum.s" -> (p(1) - p(0)),
      "validate.s" -> (p(2) - p(1)),
      "validate.ns_per_cell" -> (p(2) - p(1)) * 1e9 / cells,
      "validate.codegen_fallback_exprs" -> plan._1.toDouble,
      "validate.expr_nodes" -> plan._2.toDouble,
      "steps.s" -> (p(3) - p(2)),
      "drain.s" -> med("layer.drain_s"),
      "io.write_s" -> med("layer.io_s"),
      "pipeline.gate_s" -> med("layer.pipeline_s"),
      "operators.s" -> med("layer.operators_s"),
      "trace.overhead_s" -> (tracedRunS - plainRunS)
    ) ++ med.toSeq.sortBy(_._1)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

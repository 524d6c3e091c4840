package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: every SparkEntry query at SPARK_GRAFT_SF_DIR, one JSON
  * line to stdout AND to a file (SPARK_GRAFT_BENCH_OUT, default
  * bench_result.json — a stdout scrape can be defeated by sbt's [info]
  * prefix; the file cannot).
  *
  * FORKED BY DEFAULT: the full sweep runs as child JVMs, one per
  * content-hash bucket (SPARK_GRAFT_BENCH_BUCKETS, default 24 → ~14
  * queries each at the current registry size), results merged into one
  * artifact.
  * Two rounds of bisection proved a single-JVM 227-query sweep
  * accumulates state that per-query rep-min + releaseAll + System.gc
  * cannot undo: round 5's e2/e3 AQE bimodality, then round 6's
  * e1 4.6x / x96 1.8x / x138 1.8x inflation vs the same queries in
  * fresh driver-mode JVMs (~30% aggregate overstatement). Chunking
  * bounds any residual cross-query contamination to 15 same-chunk
  * neighbors and makes the recorded artifact agree with fresh-JVM
  * truth. SPARK_GRAFT_BENCH_FORK=0 forces the old inline sweep;
  * SPARK_GRAFT_BENCH_ONLY (builder-side bisection) implies it.
  *
  * Inline-mode self-defense (per child): each query runs
  * SPARK_GRAFT_BENCH_REPS times (default 3) and reports the MIN, and
  * after every rep all persisted RDDs and cached relations are dropped
  * ([[graft.plans.Persists.releaseAll]]) — two-pass operators persist
  * their input around the numbering passes, and without the release one
  * query's blocks bill the next query's time (the round-2 driver bench
  * measured a contiguous 2-15x bulge from exactly this).
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val forkRequested = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "1") != "0"
    // forking re-launches this class with the parent's own classpath; that
    // only works when the JVM was started with the real app classpath
    // (sbt run/fork=true and spark-submit both do this). A launcher-jar
    // classpath can't be reused — fall back to the inline sweep.
    val cp = System.getProperty("java.class.path")
    val forkable = cp != null && cp.contains("spark-sql") &&
      new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").canExecute
    if (forkRequested && only.isEmpty && forkable) runForked(cp)
    else runInline(only)
  }

  // must mirror build.sbt's jdk17AddOpens (JavaModuleOptions.
  // defaultModuleOptions) — children are raw `java`, not sbt-forked
  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def writeLine(ok: Seq[(String, Double)],
      errors: Seq[(String, String)], sfDir: String): Unit = {
    val qs = ok.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"failed":${errors.size},"sf":${jstr(sfDir)}}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Compact summary as the FINAL stdout line (round 11): at 337 queries
    // the full per-query line is ~11 KB and any consumer that keeps only a
    // bounded output tail truncates it mid-object (the round-10 driver
    // parsed null from every bench run for exactly this reason). The full
    // line above is unchanged — the contract's queries map still prints and
    // still lands in SPARK_GRAFT_BENCH_OUT — this line only guarantees the
    // totals survive any tail window. Addition-only; no timing semantics.
    // an unparsable SPARK_GRAFT_CPUS reports null rather than breaking the line
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold("4")(_.trim.toIntOption.fold("null")(_.toString))
    println(s"""{"total_sec":$total,"n":${ok.size},"failed":${errors.size},"sf":${jstr(sfDir)},"cpus":$cpus,"result_file":${jstr(outPath)}}""")
  }

  /** Parent: assign each query to a chunk BY CONTENT (murmur3 of the query
    * name mod SPARK_GRAFT_BENCH_BUCKETS, default 24), run each chunk in a
    * fresh child JVM (same classpath, same envs, SPARK_GRAFT_BENCH_ONLY set
    * to the chunk), merge the chunk artifacts. A chunk that dies without
    * writing its artifact reports every query it owned as failed.
    *
    * Content-hash assignment (round 9) replaces positional grouping
    * (`sorted.grouped(16)`): under the old scheme, registering ONE new
    * query re-seated every alphabetically-later query into a different
    * chunk, changing its JVM neighbors and making cross-round min-of-3
    * comparisons partly measure chunk composition rather than code (the
    * round-8 e2/e3 "doubling with zero code change" question). With
    * murmur3(name) % buckets, a query's chunk is a pure function of its
    * name: adding queries only ever appends to the one bucket each new
    * name hashes into (~N/buckets same-chunk neighbors affected, vs ~all
    * under positional grouping). Within a chunk, execution order stays
    * alphabetical, which is likewise append-stable. */
  private def runForked(cp: String): Unit = {
    // the pre-round-9 positional-chunk knob is gone; fail loudly rather
    // than silently handing an old invocation the 24-bucket default
    sys.env.get("SPARK_GRAFT_BENCH_CHUNK").foreach { v =>
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_BENCH_CHUNK=$v " +
        "is ignored (chunking is content-hashed since round 9); " +
        "set SPARK_GRAFT_BENCH_BUCKETS to control bucket count")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val numBuckets = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUCKETS", "24").toInt
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val names = SparkEntry.queries.keys.toSeq.sorted
    // MurmurHash3.stringHash with the library's fixed default seed —
    // deterministic across JVMs and Scala patch versions, unlike
    // String.hashCode-order accidents or runtime-seeded hashing.
    val chunks = names
      .groupBy(n => Math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(n), numBuckets))
      .toSeq.sortBy(_._1).map(_._2)
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("target", "bench_chunks"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    var ok = Vector.empty[(String, Double)]
    var errors = Vector.empty[(String, String)]
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val out = dir.resolve(s"chunk_$i.json").toFile
      val log = dir.resolve(s"chunk_$i.log").toFile
      out.delete()
      val cmd = (Seq(javaBin) ++ jdk17AddOpens ++ Seq(
        s"-Xmx$mem", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.Bench")).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", chunk.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.getAbsolutePath)
      pb.environment().put("SPARK_GRAFT_BENCH_FORK", "0")
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      val t0 = System.nanoTime()
      val code = pb.start().waitFor()
      val dt = (System.nanoTime() - t0) / 1e9
      if (out.isFile) {
        val node = om.readTree(out)
        val qs = node.get("queries")
        qs.fieldNames().forEachRemaining { q =>
          ok = ok :+ (q -> qs.get(q).asDouble())
        }
        val es = node.get("errors")
        es.fieldNames().forEachRemaining { q =>
          errors = errors :+ (q -> es.get(q).asText())
        }
        System.err.println(f"[bench] chunk ${i + 1}/${chunks.size} " +
          f"(${chunk.size} queries) exit=$code wall=$dt%.1fs")
      } else {
        chunk.foreach(q => errors = errors :+
          (q -> s"chunk JVM exited $code without artifact (see $log)"))
        System.err.println(s"[bench] chunk ${i + 1}/${chunks.size} FAILED " +
          s"exit=$code without artifact; see $log")
      }
    }
    ok = ok.sortBy(_._1)
    errors.foreach { case (n, e) => System.err.println(s"[bench] FAILED $n: $e") }
    writeLine(ok, errors, sfDir)
    if (errors.nonEmpty) sys.exit(1)
  }

  /** One JVM, one session, the named queries (or all), rep-min timing. */
  private def runInline(only: Option[Set[String]]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/classloading so the first timed query isn't charged
    // for session startup
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    graft.plans.Persists.releaseAll(spark)
    // A failed rep must never masquerade as a fast time (round-4 incident:
    // analysis errors were swallowed and 17 broken queries "ran" in 0.05 s).
    // Failed queries are excluded from `queries`/total, reported under
    // `errors`, and fail the whole run's exit code.
    // Steady-state reps (the JMH warmup discipline): in a fresh JVM the
    // first reps still pay JIT compilation — heavier queries measurably
    // keep dropping at rep 3 (x96: 7.4/3.4/3.0 s, solo capture) — so
    // after the base `reps`, keep repping while the latest rep IMPROVED
    // the running min by >3%, up to SPARK_GRAFT_BENCH_MAX_REPS (default
    // 6). The reported number is the min: the query's steady-state cost,
    // which is what a long-lived driver actually pays.
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_REPS", "6").toInt
      .max(reps)
    val raw = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      var err: Option[String] = None
      def rep(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          err = Some((e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("")).replaceAll("\\s+", " ").take(300))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.plans.Persists.releaseAll(spark)
        dt
      }
      var times = (1 to reps).map(_ => rep()).toVector
      while (err.isEmpty && times.length < maxReps &&
          times.last < times.dropRight(1).min * 0.97) {
        times = times :+ rep()
      }
      System.gc() // broadcast/driver-heap hygiene between queries
      (name, times.min, err)
    }
    val ok = raw.collect { case (n, t, None) => n -> t }
    val errors = raw.collect { case (n, _, Some(e)) => n -> e }
    errors.foreach { case (n, e) => System.err.println(s"[bench] FAILED $n: $e") }
    writeLine(ok, errors, sfDir)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}

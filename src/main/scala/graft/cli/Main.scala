package graft.cli

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.plans.{ErrorPolicy, Phase, Pipeline}
import graft.sources.Format

/** CLI (reference: phaser/cli/main.py + commands/run.py,diff.py,describe.py).
  *
  *   run <pipeline> <workdir> <source> [--error-policy P] [--format F]
  *   describe <pipeline>
  *   debug <pipeline> <source> [--explain true]
  *   diff <workdir> <file1> <file2> [--out report.html]
  *
  * Pipelines are looked up in [[Registry]] by name (the reference discovers
  * the unique Pipeline subclass in `pipelines.<name>`; a registry is the
  * JVM-idiomatic equivalent — spark-submit-able).
  */
object Main {

  object Registry {
    val pipelines: Map[String, Seq[Phase]] = Map(
      "employees" -> graft.examples.Employees.phases,
      "employees_enrich" -> graft.examples.EmployeesEnrich.phases,
      "curation" -> graft.examples.Curation.phases)
    def apply(name: String): Seq[Phase] =
      pipelines.getOrElse(name,
        sys.error(s"Unknown pipeline '$name'; known: ${pipelines.keys.mkString(", ")}"))
  }

  /** The user-facing mains' session (`run`, `debug`, `diff`): master
    * `SPARK_MASTER` (default `local[*]`), `SPARK_GRAFT_CPUS` shuffle
    * partitions (default 32), no UI, the engine's session confs. */
  def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: pipelineName :: workDir :: source :: rest =>
      val opts = parseOpts(rest)
      val policy = opts.get("error-policy").map(ErrorPolicy.fromName)
        .getOrElse(ErrorPolicy.Collect)
      val format = opts.get("format").map {
        case "csv" => Format.Csv
        case "json" => Format.JsonRecord
        case "parquet" => Format.Parquet
        case "orc" => Format.Orc
        case other => sys.error(
          s"Unknown --format '$other'; supported: csv, json, parquet, orc")
      }.getOrElse(Format.Csv)
      // any other --<name> <path> flag is an extra-source init (the
      // reference's incremental args for uninitialized extra sources,
      // cli/main.py:119-123)
      val known = Set("error-policy", "format", "strict")
      val extraSources = opts.filterNot { case (k, _) => known.contains(k) }
      val spark = session()
      val pipeline = new Pipeline(spark, Registry(pipelineName), workDir, source,
        name = pipelineName, saveFormat = format, errorPolicy = policy,
        extraSourcePaths = extraSources,
        strictCheckpointCompat = opts.get("strict").contains("true"))
      val out = pipeline.run()
      println(s"[graft] pipeline $pipelineName finished: ${out.count()} rows, " +
        s"checkpoints in $workDir")

    case "describe" :: pipelineName :: Nil =>
      Registry(pipelineName).foreach { phase =>
        println(s"phase ${phase.name}" + (if (phase.renumber) " (renumber)" else ""))
        phase.columns.foreach(c => println(
          s"  column ${c.name}: ${c.colType.sparkType.simpleString}" +
            (if (!c.required) " optional" else "") +
            (if (!c.save) " unsaved" else "")))
        phase.steps.foreach(s => println(s"  step ${s.name}"))
      }

    case "debug" :: pipelineName :: source :: rest =>
      // the reference's DebugPipelineCommand is an empty stub
      // (cli/commands/debug.py); implemented here: run each phase in
      // sequence WITHOUT writing checkpoints, printing per-phase row
      // counts, event tallies by type, and (with --explain true) the
      // formatted physical plan a cluster would execute
      import org.apache.spark.sql.functions.{col, explode}
      import graft.plans.{Context, Events, RowNum}
      val opts = parseOpts(rest)
      val spark = session()
      val ctx = new Context(spark)
      var df = RowNum.ensure(graft.sources.GraftIO.read(spark, source))
      Registry(pipelineName).foreach { phase =>
        df = phase(df, ctx)
        val byType = df
          .select(explode(col(Events.EventsCol)).as("e"))
          .groupBy(col("e.etype")).count()
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
        println(s"phase ${phase.name}: ${df.count()} rows" +
          (if (byType.isEmpty) "" else byType.mkString(" [", " ", "]")))
        if (opts.get("explain").contains("true"))
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }

    case "diff" :: rest =>
      graft.operators.TableDiffCli.main(rest.toArray)

    case _ =>
      System.err.println(
        """usage: graft run <pipeline> <workdir> <source> [--error-policy warn|collect|drop_row|stop_now] [--format csv|json|parquet] [--strict true]
          |       graft describe <pipeline>
          |       graft debug <pipeline> <source> [--explain true]
          |       graft diff <workdir> <file1> <file2> [--out report.html]""".stripMargin)
      sys.exit(2)
  }

  private def parseOpts(args: List[String]): Map[String, String] = {
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case key :: value :: tail if key.startsWith("--") =>
        go(tail, acc + (key.stripPrefix("--") -> value))
      case Nil => acc
      case other => sys.error(s"Cannot parse arguments: ${other.mkString(" ")}")
    }
    go(args, Map.empty)
  }
}

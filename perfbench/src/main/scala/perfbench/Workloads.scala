package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkEntry
import graft.examples.Curation
import graft.functions.{ColType, ColumnDef}
import graft.operators.TableDiff
import graft.plans.{Context, ErrorPolicy, Events, Persists, Phase, Pipeline, RowNum, Step}
import graft.sources.{Format, GraftIO}

/** Expected counts written by the input generator (gen.py). */
final class Manifest(path: Path) {
  private val props = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(path)
    try p.load(in) finally in.close()
    p
  }
  def long(key: String): Long = props.getProperty(key, "0").toLong
  def string(key: String): String = props.getProperty(key)
  /** Sum of `events.<phase>.<etype>.*` entries. */
  def events(phase: String, etype: String = ""): Long =
    props.stringPropertyNames.asScala.toSeq
      .filter(_.startsWith(s"events.$phase.$etype"))
      .map(long).sum
}

/** One benchmark workload. `run` executes one complete, fully materialized
  * run into a fresh working dir and returns the problems its cheap
  * correctness checks found (empty = correct). */
trait Workload {
  def name: String
  def data: Path
  def manifest: Manifest
  /** Input rows a run processes (for rows_per_s). */
  def inputRows: Long
  /** Bytes of the inputs a run reads (base of ckpt_bytes_ratio). */
  def sourceBytes: Long
  def run(spark: SparkSession, dir: Path, spans: Spans): Seq[String]
  /** Cumulative prefixes of the workload's fused plan, for per-layer self
    * times: read, + row numbering, + declared columns, + steps. Each thunk
    * builds its frame (eager actions included) for a noop write. */
  def prefixes(spark: SparkSession): Seq[(String, () => DataFrame)]
  /** Once per invocation: leave what the oracle check needs under `dir`
    * (result parquet + `oracle.json`). */
  def exportForOracle(spark: SparkSession, dir: Path, lastRun: Path): Unit = ()
  /** Bytes a run leaves behind, for ckpt_bytes_ratio. */
  def outputBytes(run: Path, oracleDir: Path): Long = Workloads.bytesUnder(run)
}

object Workloads {
  val Names = Seq("validate_wide", "curation_dedup", "csv_phases", "registry_queries")

  def apply(name: String, data: Path): Workload = name match {
    case "validate_wide" => new PipelineWorkload(name, data, Format.Parquet,
      Seq(ValidateWide.validate, ValidateWide.enrich))
    case "curation_dedup" => new PipelineWorkload(name, data, Format.Parquet,
      Curation.phases, oracle = Some("e1_curation_pipeline" ->
        Seq("doc_id", "lang_pred", "n_tokens", "quality")))
    case "csv_phases" => new CsvPhases(data)
    case "registry_queries" => new RegistryQueries(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The rows of `errors_and_warnings.txt`, grouped by phase. */
  def reportLinesByPhase(dir: Path): Map[String, Int] = {
    val f = dir.resolve("errors_and_warnings.txt")
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.toSeq
      .map(_.split(" in phase ", 2))
      .collect { case Array(_, rest) => rest.takeWhile(_ != ' ') }
      .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Chain prefixes shared by the pipeline workloads. */
  def pipelinePrefixes(spark: SparkSession, source: => DataFrame,
      phases: Seq[Phase]): Seq[(String, () => DataFrame)] = {
    def fold(df: DataFrame, ps: Seq[Phase]) = {
      val ctx = new Context(spark)
      ps.foldLeft(df)((d, p) => p(d, ctx))
    }
    Seq(
      "read" -> (() => source),
      "rownum" -> (() => RowNum.assign(source)),
      "columns" -> (() => fold(RowNum.assign(source), phases.map(_.copy(steps = Nil)))),
      "steps" -> (() => fold(RowNum.assign(source), phases)))
  }
}

/** validate_wide: 16 string columns, 6 declared (Warn and DropRow), then a
  * row-step phase. */
object ValidateWide {
  private def c(name: String, t: ColType, drop: Boolean, min: Option[Any] = None,
      max: Option[Any] = None) =
    ColumnDef(name, t, minValue = min, maxValue = max,
      onErrorOpt = Some(if (drop) ErrorPolicy.DropRow else ErrorPolicy.Warn))

  val validate: Phase = Phase("Validate", columns = Seq(
    c("l_orderkey", ColType.IntT, drop = true, min = Some(1)),
    c("l_partkey", ColType.IntT, drop = false),
    c("l_suppkey", ColType.IntT, drop = false),
    c("l_linenumber", ColType.IntT, drop = true, min = Some(1), max = Some(7)),
    c("l_quantity", ColType.FloatT, drop = true, min = Some(1), max = Some(50)),
    c("l_extendedprice", ColType.FloatT, drop = false, min = Some(0))))

  /** Thresholds match gen.py's ENRICH_WARNINGS. */
  val enrich: Phase = Phase("Enrich", steps = Seq(
    Step.withColumns("derive",
      "net_price" -> col("l_extendedprice") * (lit(1.0) - col("l_discount").cast("double")),
      "receipt_lag" -> datediff(to_date(col("l_receiptdate")), to_date(col("l_shipdate"))),
      "ship_year" -> year(to_date(col("l_shipdate")))),
    Step.dropRowsWhen("zero_tax", col("l_tax").cast("double") === 0.0, "Zero tax rate"),
    Step.warnRowsWhen("large_quantity", col("l_quantity") >= 20.0, "Quantity at or above 20"),
    Step.warnRowsWhen("high_discount", col("l_discount").cast("double") >= 0.04,
      "Discount at or above 4%"),
    Step.warnRowsWhen("slow_receipt", col("receipt_lag") >= 10, "Received 10 or more days after shipping")))
}

/** A pipeline over a generated source, checked against the manifest, or,
  * when `oracle` names a registry query and the columns it returns, against
  * that query's oracle SQL over the last phase's checkpoint. */
class PipelineWorkload(val name: String, val data: Path, format: Format,
    val phases: Seq[Phase], oracle: Option[(String, Seq[String])] = None) extends Workload {
  val manifest = new Manifest(data.resolve("manifest.properties"))
  val source: String = data.resolve(manifest.string("source")).toString
  def inputRows: Long = manifest.long("rows.source")
  def sourceBytes: Long = Workloads.bytesUnder(Path.of(source))

  def pipeline(spark: SparkSession, dir: Path): Pipeline =
    new Pipeline(spark, phases, dir.toString, source, name = name, saveFormat = format)

  def run(spark: SparkSession, dir: Path, spans: Spans): Seq[String] = {
    val p = pipeline(spark, dir)
    spans("Pipeline.run")(p.run())
    checkEvents(p, dir)
  }

  /** Per-phase DROPPED_ROW counts (exact in the context) and report line
    * counts (row events are capped per phase at Context.maxCollected). */
  protected def checkEvents(p: Pipeline, dir: Path): Seq[String] =
    if (manifest.long("events_checked") == 0) Nil
    else {
      val lines = Workloads.reportLinesByPhase(dir)
      phases.map(_.name).flatMap { ph =>
        val dropped = manifest.events(ph, Events.DroppedType)
        val expectLines = math.min(manifest.events(ph), Context.maxCollected.toLong) +
          manifest.long(s"driver_events.$ph")
        val got = lines.getOrElse(ph, 0).toLong
        Seq(
          Option.when(p.context.droppedCount(ph) != dropped)(
            s"$ph: ${p.context.droppedCount(ph)} dropped rows, expected $dropped"),
          Option.when(got != expectLines)(
            s"$ph: $got report lines, expected $expectLines")).flatten
      }
    }

  def prefixes(spark: SparkSession): Seq[(String, () => DataFrame)] =
    Workloads.pipelinePrefixes(spark, GraftIO.read(spark, source), phases)

  override def exportForOracle(spark: SparkSession, dir: Path, lastRun: Path): Unit =
    oracle.foreach { case (query, columns) =>
      Files.writeString(dir.resolve("oracle.json"), Json(Map(query -> Map(
        "sql" -> SparkEntry.oracleSql(query),
        "result" -> lastRun.resolve(s"${phases.last.name}_output.${format.extension}").toString,
        "columns" -> columns))))
    }
}

/** csv_phases: the CLI-default shape — CSV source and checkpoints, six
  * phases, an extra output, then a diff of the first and last checkpoints. */
final class CsvPhases(data: Path) extends PipelineWorkload("csv_phases", data, Format.Csv,
  CsvPhases.phases) {

  override def run(spark: SparkSession, dir: Path, spans: Spans): Seq[String] = {
    val p = pipeline(spark, dir)
    spans("Pipeline.run")(p.run())
    val diffed = spans("TableDiff.diff") {
      val first = spans("GraftIO.read")(GraftIO.read(spark, dir.resolve("Types_output.csv").toString))
      val last = spans("GraftIO.read")(GraftIO.read(spark, dir.resolve("Summary_output.csv").toString))
      val d = TableDiff.diff(first, last)
      spans("write.noop")(Workloads.noop(d))
      d
    }
    checkEvents(p, dir) ++ checkDiff(diffed) ++ checkSummary(spark, dir)
  }

  private def checkDiff(d: DataFrame): Seq[String] = {
    val c = TableDiff.counters(d)
    Seq("added" -> c.added, "removed" -> c.removed, "changed" -> c.changed,
        "unchanged" -> c.unchanged).flatMap { case (k, v) =>
      val want = manifest.long(s"diff.$k")
      Option.when(v != want)(s"diff $k: $v, expected $want")
    }
  }

  private def checkSummary(spark: SparkSession, dir: Path): Seq[String] = {
    val got = GraftIO.read(spark, dir.resolve("flag_summary.csv").toString)
      .collect().map(r => r.getAs[String]("l_returnflag") -> r.getAs[String]("n").toLong).toMap
    Seq("A", "N", "R").flatMap { f =>
      val want = manifest.long(s"summary.$f")
      Option.when(got.getOrElse(f, 0L) != want)(s"flag_summary $f: ${got.get(f)}, expected $want")
    }
  }
}

object CsvPhases {
  private val warn = Some(ErrorPolicy.Warn)
  val phases: Seq[Phase] = Seq(
    Phase("Types", errorPolicy = warn, columns = Seq(
      ColumnDef("l_orderkey", ColType.IntT), ColumnDef("l_quantity", ColType.FloatT),
      ColumnDef("l_extendedprice", ColType.FloatT), ColumnDef("l_shipdate", ColType.DateT()))),
    Phase("Derive", steps = Seq(Step.withColumn("net", "net",
      col("l_extendedprice") * (lit(1.0) - col("l_discount").cast("double"))))),
    Phase("Filter", steps = Seq(Step.dropRowsWhen("drop_line_7",
      col("l_linenumber") === "7", "Line number 7 is out of scope"))),
    Phase("Flag", steps = Seq(Step.warnRowsWhen("large_quantity",
      col("l_quantity") > 45.0, "Quantity above 45"))),
    Phase("Label", steps = Seq(Step.withColumn("label", "ship_year", year(col("l_shipdate"))))),
    Phase("Summary", extraOutputs = Seq("flag_summary"), steps = Seq(
      Step.batch("flag_summary") { (df, ctx) =>
        ctx.setOutput("flag_summary", df.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), round(sum(col("net")), 2).as("net"))
          .orderBy(col("l_returnflag")))
        df
      })))
}

/** registry_queries: eight gated registry queries, each fully materialized
  * by a noop write; one pass over the list is one run. */
final class RegistryQueries(val data: Path) extends Workload {
  val name = "registry_queries"
  val manifest = new Manifest(data.resolve("manifest.properties"))
  val queries: Seq[String] = Seq("p1_phase_columns", "r4_renumber", "x7_lang_id",
    "x36_dedup_jaccard_prefix", "x188_kcore", "x207_neighborhood_jaccard",
    "x160_threshold_sweep", "e2_incremental_ingest")
  private val tableOf = Map("p1_phase_columns" -> "lineitem", "r4_renumber" -> "lineitem")
  private def table(q: String) = tableOf.getOrElse(q, "documents")

  def inputRows: Long = queries.map(q => manifest.long(s"rows.${table(q)}")).sum
  def sourceBytes: Long =
    queries.map(q => Workloads.bytesUnder(data.resolve(s"${table(q)}.parquet"))).sum

  def run(spark: SparkSession, dir: Path, spans: Spans): Seq[String] = {
    val all = SparkEntry.queries
    queries.foreach { q =>
      spans(s"query.$q") {
        val df = spans("SparkEntry.queries")(all(q)(spark, data.toString))
        spans("write.noop")(Workloads.noop(df))
      }
      Persists.releaseAll(spark)
    }
    Nil
  }

  /** p1_phase_columns' source projection and phase, the registry's one
    * declared-column plan. */
  def prefixes(spark: SparkSession): Seq[(String, () => DataFrame)] = {
    def src = graft.Tables.load(spark, data.toString, "lineitem").select(
      col("l_orderkey").cast(StringType).as(" L_OrderKey "),
      col("l_quantity").cast(StringType).as("L_QUANTITY"),
      col("l_extendedprice").cast(StringType).as("price"),
      date_format(col("l_shipdate"), "yyyy/MM/dd").as("Ship_Date"),
      when(col("l_returnflag") === "R", "yes").otherwise("no").as("returned"))
    val phase = Phase("ColumnPass", columns = Seq(
      ColumnDef("l_orderkey", ColType.IntT),
      ColumnDef("l_quantity", ColType.IntT),
      ColumnDef("l_extendedprice", ColType.FloatT, rename = Seq("price")),
      ColumnDef("ship_date", ColType.DateT()),
      ColumnDef("returned", ColType.BoolT)))
    Workloads.pipelinePrefixes(spark, src, Seq(phase))
  }

  override def exportForOracle(spark: SparkSession, dir: Path, lastRun: Path): Unit = {
    val all = SparkEntry.queries
    val entries = queries.map { q =>
      val out = dir.resolve(q).toString
      all(q)(spark, data.toString).write.mode("overwrite").parquet(out)
      Persists.releaseAll(spark)
      q -> Map("sql" -> SparkEntry.oracleSql(q), "result" -> out)
    }
    Files.writeString(dir.resolve("oracle.json"), Json(scala.collection.immutable.ListMap(entries: _*)))
  }

  /** The pass itself writes nothing; its output bytes are those of its
    * results written once as parquet for the oracle check. */
  override def outputBytes(run: Path, oracleDir: Path): Long =
    queries.map(q => Workloads.bytesUnder(oracleDir.resolve(q))).sum
}

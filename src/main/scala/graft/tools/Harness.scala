package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.plans.Persists

/** The measurement mains' shared core: one session shape, one
  * time-then-release step, one JSON string escaper. Bench, Verify,
  * Stress, [[BenchAB]] and [[ProfileQuery]] all go through it, so their
  * numbers come from the same session and the same timing discipline.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, default 4: the local core count and the shuffle
    * partition count of [[session]]. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A `local[cpus]` session with as many shuffle partitions, no UI,
    * every [[Tables.sessionConfigs]] entry and the log level
    * `SPARK_GRAFT_LOG` (default WARN). One warm-up query runs before it
    * is returned, so the first timed action is not charged for codegen
    * and class loading. */
  def session(appName: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** Runs `body` and returns its value with its wall seconds. Every
    * persisted RDD and cached relation is dropped afterwards, also when
    * `body` throws: two-pass operators persist their input, and without
    * the release one rep's blocks bill the next rep's time. The release
    * is not part of the measured time. */
  def timed[T](spark: SparkSession)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    try {
      val value = body
      (value, (System.nanoTime() - t0) / 1e9)
    } finally Persists.releaseAll(spark)
  }

  /** `s` as a JSON string literal: quote and backslash escaped, `\n`,
    * `\r` and `\t` as short escapes, every other control character as
    * `\u00XX`. A raw control character in builder-authored SQL would make
    * a strict JSON reader reject the whole file. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

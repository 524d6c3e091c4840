package graft

import java.nio.file.{Files, Paths}

import graft.tools.Harness
import graft.tools.Harness.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // builder-side iteration aid: optional 3rd+ args restrict the dump to
    // the named queries (the driver always calls with exactly two args)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    def selected(name: String): Boolean = only.isEmpty || only.contains(name)
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A query that throws must be loudly visible in the artifact, not just
    // stderr — in round 4, 17 formerly-green queries silently vanished from
    // the correctness report because a missing row is indistinguishable
    // from a never-registered query. Write a failure manifest and exit
    // nonzero so a dump with missing rows can never pass silently.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // the write IS the query's materialization; the blocks a two-pass
      // operator left behind are released after it
      Harness.timed(spark) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = (e.getClass.getName + ": " +
            Option(e.getMessage).getOrElse("")).replaceAll("\\s+", " ").take(500)
          System.err.println(s"[verify] $name failed: $msg")
          failed(name) = msg
        }
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failed
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed_queries.json"), failJson)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

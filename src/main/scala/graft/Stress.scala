package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GraftIO
import graft.tools.Harness

/** Scaling-trend harness (opt-in; NOT part of the bench or the gate): a
  * table replicator in front of the query registry. For each multiplier m
  * it writes `documents`, `events` and `embeddings` replicated m times
  * into a scratch sf dir, next to unchanged copies of the other tables,
  * then times the selected [[SparkEntry.queries]] on that dir. Replicas
  * get disjoint ids and disjoint shingle vocabularies, so corpora grow
  * realistically: no cross-replica near-dups, linear vocabulary growth.
  * The deliverable is the TREND: per-row cost staying ~flat as the corpus
  * doubles is measured evidence the plan shapes scale; superlinear growth
  * is a red flag the small-SF gate can't see.
  *
  * Run: SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Stress 1 2 4"
  *
  * The replicas are written before any timing starts and deleted when the
  * multiplier's sweep ends (m = 1 runs on the sf dir itself). The first
  * sweep is an untimed warm-up: one pass of the selected queries over the
  * m = 1 tables, printing nothing, so first-use codegen and the first
  * table reads are not billed to the first multiplier (at sf0.01 the JIT
  * keeps warming past that one pass; read trends at sf0.1 or above).
  * `SPARK_GRAFT_STRESS_OPS=a,b` selects registry queries (default: all,
  * sorted by name); `SPARK_GRAFT_STRESS_REPS` (default 3) is the number
  * of reps per query, of which the min is reported. Prints one JSON line
  * per (query, multiplier): `op`, `mult`, `docs`, `events` (the replica
  * tables' row counts), `out_rows` and `sec`; a query that throws prints
  * `op`, `mult` and `error`, and the sweep continues.
  */
object Stress {

  /** Replica r of the documents table: ids offset into a disjoint range;
    * every TOKEN gets a replica suffix, so replicas share NO shingles
    * (disjoint vocabularies) while each replica keeps the original's
    * n-gram structure exactly — near-dup relationships within a replica
    * are preserved, none are added across replicas, and shingle
    * selectivity matches real text. (The earlier construction — a marker
    * token in every inter-token GAP — degraded half of all 3-grams to
    * effective unigrams, `marker w marker`, inflating LSH background
    * collisions ~500x over real data; useful as an adversarial
    * robustness case, wrong as a growth model.) */
  private def replicateDocs(docs: DataFrame, m: Int): DataFrame =
    (0 until m).map { r =>
      docs.select(
        (col("doc_id") + lit(r.toLong * 1000000L)).as("doc_id"),
        (if (r == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"$$1zr$r")).as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionByName _)

  /** Replica r of the embeddings table: disjoint id ranges, identical
    * vectors/labels — cluster count stays fixed while membership grows,
    * the regime a Lloyd step sees on a growing corpus. */
  private def replicateEmbeddings(embs: DataFrame, m: Int): DataFrame =
    (0 until m).map { r =>
      embs.select(
        (col("vec_id") + lit(r.toLong * 1000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)

  private def replicateEvents(events: DataFrame, m: Int): DataFrame =
    (0 until m).map { r =>
      events.select(
        (col("event_id") + lit(r.toLong * 100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)

  private val replicated: Map[String, (DataFrame, Int) => DataFrame] = Map(
    "documents" -> replicateDocs,
    "events" -> replicateEvents,
    "embeddings" -> replicateEmbeddings)

  /** Writes the sf tables at `sfDir` into `dir` as an sf dir of their
    * own: `documents`, `events` and `embeddings` replicated `m` times
    * (from [[Tables.load]] frames, so `events.ts` is written as the
    * normalized timestamp), every other table copied byte for byte. */
  private[graft] def replicateTo(spark: SparkSession, sfDir: String, m: Int,
      dir: Path): Unit =
    Tables.names.foreach { table =>
      val target = dir.resolve(s"$table.parquet")
      replicated.get(table) match {
        case Some(replicate) =>
          replicate(Tables.load(spark, sfDir, table), m).write.parquet(target.toString)
        case None =>
          val src = Paths.get(sfDir, s"$table.parquet")
          val files = Files.walk(src)
          try files.iterator().asScala.foreach { p =>
            Files.copy(p, target.resolve(src.relativize(p).toString))
          } finally files.close()
      }
    }

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val known = SparkEntry.queries.keys.toSeq.sorted
    val names = sys.env.get("SPARK_GRAFT_STRESS_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(known)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown query ${unknown.mkString(", ")}; known: ${known.mkString(", ")}")
    // the min of n reps: single-shot numbers carry enough run-to-run
    // variance (AQE replanning, GC, first-use codegen) to fake a
    // superlinear trend
    val reps = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "3").toInt
    val spark = Harness.session("graft-stress")

    // the leading sweep is the untimed warm-up (see the object doc)
    for ((m, warmUp) <- (1, true) +: mults.map((_, false))) {
      val scratch = if (m == 1) None else Some(Files.createTempDirectory("graft-stress-"))
      try {
        val dir = scratch.fold(sfDir) { d => replicateTo(spark, sfDir, m, d); d.toString }
        val nDocs = Tables.load(spark, dir, "documents").count()
        val nEvents = Tables.load(spark, dir, "events").count()
        for (name <- names) {
          val head = s"""{"op":${Harness.jsonString(name)},"mult":$m,"""
          try {
            val runs = (1 to (if (warmUp) 1 else reps)).map(_ =>
              Harness.timed(spark)(SparkEntry.queries(name)(spark, dir).count()))
            val (rows, sec) = (runs.last._1, runs.map(_._2).min)
            if (!warmUp)
              println(head + s""""docs":$nDocs,"events":$nEvents,""" +
                s""""out_rows":$rows,"sec":${math.round(sec * 1000) / 1000.0}}""")
          } catch {
            // a query that fails its warm-up fails again, printed, below
            case NonFatal(e) => if (!warmUp)
              println(head + s""""error":${Harness.jsonString(String.valueOf(e.getMessage))}}""")
          }
        }
      } finally scratch.foreach(GraftIO.deleteRecursively)
    }
    spark.stop()
  }
}

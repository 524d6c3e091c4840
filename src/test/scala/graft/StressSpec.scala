package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.operators.Dedup
import graft.sources.GraftIO

/** Stress's replicator: the sf0.001 tables written at m = 2 into a
  * scratch sf dir, read back through [[Tables.load]] like every registry
  * query reads them. */
class StressSpec extends SparkSpec with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val dir = {
    val d = Files.createTempDirectory("graft-stress-spec-")
    Stress.replicateTo(spark, sfDir, 2, d)
    d
  }

  override def afterAll(): Unit =
    try GraftIO.deleteRecursively(dir) finally super.afterAll()

  private def replica(table: String) = Tables.load(spark, dir.toString, table)

  test("replicated tables hold exactly 2x the rows, with unique ids") {
    Seq("documents" -> "doc_id", "events" -> "event_id", "embeddings" -> "vec_id")
      .foreach { case (table, id) =>
        val n = Tables.load(spark, sfDir, table).count()
        assert(replica(table).count() === 2 * n, table)
        assert(replica(table).select(id).distinct().count() === 2 * n, table)
      }
  }

  test("every non-empty replica-1 token ends in zr1") {
    val toks = replica("documents").filter(col("doc_id") >= 1000000L)
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    assert(toks.count() > 0)
    assert(toks.filter(!col("tok").endsWith("zr1")).count() === 0)
  }

  test("the other seven tables are byte-identical copies") {
    val copied = Tables.names.filterNot(Set("documents", "events", "embeddings"))
    assert(copied.size === 7)
    copied.foreach { table =>
      val name = s"$table.parquet"
      assert(Files.readAllBytes(dir.resolve(name)) sameElements
        Files.readAllBytes(Paths.get(sfDir, name)), table)
    }
  }

  test("replicas share no shingles: exact ngram jaccard finds exactly 2x the pairs") {
    def pairs(d: String) =
      Dedup.ngramJaccardPairs(Tables.load(spark, d, "documents"), "doc_id", "text", 3, 0.8)
        .count()
    val source = pairs(sfDir)
    assert(source > 0)
    assert(pairs(dir.toString) === 2 * source)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Streaming ingest for a documents corpus: the streaming half of the
  * curation story (the batch half is examples.PretrainPrep).
  */
object CorpusStreams {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based stream over a directory of documents parquet. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Incremental exact dedup on a document stream via foreachBatch: each
    * micro-batch is deduped against the STATIC historical fingerprint
    * index and within itself (Dedup.dedupAgainstHistory), then handed to
    * `writeBatch` — which in production appends to the corpus sink AND
    * unions the batch's fingerprints into the index for the next day's
    * run. foreachBatch is the right tool here (not
    * dropDuplicatesWithinWatermark): the history index predates the
    * stream, so there is no watermark horizon that could bound it as
    * stream state — it stays a static side input of the batch join.
    *
    * Cross-MICRO-batch duplicates within one run are bounded by pairing
    * this with [[EventStreams.dedupStream]]-style watermark dedup
    * upstream, or by folding each batch's fingerprints into the index
    * inside `writeBatch` (exactly what the daily-ingest pipeline does).
    */
  def incrementalDedupStream(docs: DataFrame, historyFp: DataFrame,
      idCol: String = "doc_id", textCol: String = "text")(
      writeBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = docs.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(Dedup.dedupAgainstHistory(batch, historyFp, idCol, textCol),
          batchId)
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming twin of [[graft.examples.IncrementalIngest]]: each
    * micro-batch runs the FULL nightly-ingest composition — quality gate,
    * exact dedup vs history, banded near-dup AGAINST the snapshot,
    * in-batch component clusters — and hands the survivors to
    * `writeBatch`. foreachBatch is structural here, not a shortcut: three
    * of the four stages join against a PRE-STREAM static snapshot (no
    * watermark horizon can bound it as stream state), and the in-batch
    * closure is an iterative RDD computation — batch semantics applied
    * per micro-batch. In production `writeBatch` appends survivors to the
    * corpus sink AND folds their fingerprints/band buckets into the
    * history indexes, so the next trigger (or night) dedups against an
    * up-to-date snapshot. A spec gates each micro-batch's survivors
    * against the batch pipeline's output on the same data. Each
    * micro-batch owns the caches its stages create: they are released
    * once `writeBatch` has consumed the survivors. */
  def nightlyIngestStream(docs: DataFrame, history: DataFrame,
      minTokens: Int = 8, threshold: Double = 0.8)(
      writeBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = docs.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.plans.Persists.scope(writeBatch(
          graft.examples.IncrementalIngest.run(batch, history, minTokens, threshold),
          batchId))
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Bin thresholds for [[psiDriftStream]], from the SAME left-closed
    * reference-CDF integer-div binning as the batch
    * [[graft.operators.Profile.psiDrift]]: threshold t_b = the smallest
    * reference value whose bin is b, so binOf(v) = #{t_b <= v} agrees
    * with the batch bin for every v — including values between or
    * outside the reference support (they inherit the bin of the largest
    * reference value at or below them; below the minimum is bin 0,
    * exactly the batch cum_r = 0 guard). Bounded collect: at most
    * bins-1 thresholds (the Markov-matrix convention). */
  def psiBinThresholds(ref: DataFrame, valueCol: String,
      bins: Int): Array[Long] = {
    require(bins >= 2 && bins <= 64, s"bins must be in [2,64]: $bins")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val byValue = ref.select(col(valueCol).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("r"))
    val tot = byValue.agg(sum(col("r")).as("n_ref"))
    byValue.withColumn("cum_r", sum(col("r")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("bin",
        expr(s"(${bins}L * greatest(cum_r - 1L, 0L)) div n_ref"))
      .groupBy(col("bin")).agg(min(col("v")).as("t"))
      .filter(col("bin") > 0L)
      .orderBy(col("bin"))
      .collect().map(_.getLong(1))
  }

  /** Streaming PSI-drift deltas — the live twin of x220's batch
    * [[graft.operators.Profile.psiDrift]]. Drift monitoring is the
    * canonical CONTINUOUS readout: the reference histogram is static
    * (pinned at calibration time via [[psiBinThresholds]]), so each
    * arriving document emits one (bin, +1) delta and the dashboard's
    * running per-bin sums equal the batch operator's cur_n at every
    * point — PSI recomputes from the same smoothed closed form
    * continuously (the srmStream delta convention, with ZERO state:
    * the bin projection is a pure codegen'd expression, no
    * flatMapGroupsWithState, no watermark — late data is just another
    * +1 in its bin). Output: (bin, delta). */
  def psiDriftStream(cur: DataFrame, valueCol: String,
      thresholds: Array[Long]): DataFrame = {
    val v = col(valueCol).cast("long")
    val bin =
      if (thresholds.isEmpty) lit(0L)
      else thresholds.map(t => when(v >= t, 1L).otherwise(0L))
        .reduce(_ + _)
    cur.select(bin.as("bin"), lit(1L).as("delta"))
  }

  /** The static eval-side shingle frame for [[contaminationStream]] —
    * per-doc DISTINCT n-grams, exactly the batch
    * [[graft.operators.Dedup.contaminationAudit]] eval projection. */
  def evalShingleFrame(evalSet: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    evalSet.select(col(idCol).as("eval_id"),
      explode(graft.functions.TextFunctions.shingles(col(textCol), n))
        .as("s"))

  /** Streaming contamination deltas — the live twin of x281's batch
    * [[graft.operators.Dedup.contaminationAudit]]. Decontamination is a
    * MONITOR in production: the benchmark is fixed, the crawl grows, and
    * the question "how contaminated is my eval set becoming" must update
    * without reprocessing the corpus. The eval shingle frame is STATIC
    * ([[evalShingleFrame]], batch-side); each arriving corpus document
    * explodes its distinct n-grams, and a keyed flatMapGroupsWithState
    * on the n-gram emits each DISTINCT corpus n-gram ONCE, first-seen —
    * the dedupStream state convention; state is one empty marker per
    * distinct corpus n-gram, the same domain the batch op's distinct
    * frame materializes. Newly-seen n-grams inner-join the static eval
    * frame and emit (eval_id, +1) deltas, so the rolled per-eval sums
    * equal the batch n_hit at every point BY CONSTRUCTION: a corpus
    * n-gram contributes exactly once per eval doc containing it, in
    * both engines. Late or duplicate corpus docs are absorbed by the
    * first-seen state, never double-counted. Output: (eval_id, delta).
    */
  def contaminationStream(corpus: DataFrame, textCol: String,
      evalShingles: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = corpus.sparkSession
    import spark.implicits._
    val firstSeen = corpus
      .select(explode(
        graft.functions.TextFunctions.shingles(col(textCol), n)).as("s"))
      .as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState[Boolean, String](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (s: String, _: Iterator[String],
            state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(s) }
      }
      .toDF("s")
    firstSeen.join(evalShingles, Seq("s"))
      .select(col("eval_id"), lit(1L).as("delta"))
  }
}

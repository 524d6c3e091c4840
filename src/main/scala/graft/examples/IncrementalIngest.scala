package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Dedup}
import graft.plans.Persists

/** End-to-end NIGHTLY-INGEST curation: given a new `batch` and the
  * `history` snapshot it must not duplicate, emit the batch survivors —
  * the composition a production corpus actually runs every day, as
  * opposed to [[Curation]]'s one-shot whole-corpus pass.
  *
  * Stage order is the cost order of a 100 TB snapshot + small batch:
  *  1. quality gate — narrow filter, drops rows before anything shuffles;
  *  2. exact dedup, in-batch + vs history — the history side is its
  *     distinct fingerprint INDEX (one narrow column), never the corpus;
  *  3. near-dup vs history — the batch is banded AGAINST the snapshot;
  *     the snapshot never self-joins;
  *  4. in-batch near-dup clusters — pair graph -> transitive closure
  *     ([[ConnectedComponents]]), keep each cluster's min id (pairwise
  *     keep-min under-deletes chains: {A~B, B~C} must leave ONE doc).
  *
  * The batch's minhash band-buckets are computed ONCE on the persisted
  * narrow (doc_id, text) frame ([[Dedup.minhashBandBuckets]]) and feed
  * BOTH the vs-history join and the in-batch pair search — the signature
  * stage is the md5-dominant cost of the pipeline and must not run twice.
  * Loser sets stay DataFrames end to end: persisted, counted (so each
  * pair search executes exactly once), and removed with `left_anti`
  * `shuffle_hash` joins — never collected to the driver. At RefinedWeb
  * dup rates (30-50%) the loser set is corpus-scale; a driver round-trip
  * is an OOM, and the anti-join shape costs one key shuffle regardless of
  * density. 32 hashes x 8 bands: at the j>=0.9 similarity of true
  * near-dup clusters a pair escapes 8 4-row bands with p=(1-0.9^4)^8
  * ~ 2e-4, and recall is DETERMINISTIC for fixed data (md5 family) —
  * certified by the e2 oracle replaying every stage from the naive rules
  * at sf0.01 and sf0.1.
  *
  * Driver gate: e2 replays every stage in SQL (fingerprint rule, exact
  * jaccard cross + self pairs, recursive-CTE closure) — the whole
  * pipeline is result-proven against the naive rules, at sf0.01 and
  * sf0.1.
  */
object IncrementalIngest {

  def run(batch: DataFrame, history: DataFrame,
      minTokens: Int = 8, threshold: Double = 0.8,
      numHashes: Int = 32, bands: Int = 8): DataFrame =
    runWithIndexes(batch, history,
      historyFp = history.select(TextFunctions.fingerprint(col("text")).as("fp")).distinct(),
      historyBuckets = Dedup.minhashBandBuckets(
        history.select(col("doc_id"), col("text")), "doc_id", "text",
        numHashes = numHashes, bands = bands),
      minTokens = minTokens, threshold = threshold)

  /** The production entry point: a real nightly run dedups against
    * PERSISTED history indexes — the snapshot's distinct fingerprint
    * column ([[Dedup.exactGroups]] output) and its minhash band buckets
    * ([[Dedup.minhashBandBuckets]], SAME (n, numHashes, bands) family;
    * signatures are frame-independent) — updated incrementally with each
    * night's survivors, never recomputed from the 100 TB snapshot.
    * `history` itself (doc_id, text) is still required: cross-pair
    * candidates are exact-jaccard-verified against the snapshot's text.
    * `numHashes`/`bands` must be the family `historyBuckets` was built
    * with (the batch is signed with the same one). [[run]] delegates here
    * after deriving both indexes; a spec asserts the two entry points
    * agree. */
  def runWithIndexes(batch: DataFrame, history: DataFrame,
      historyFp: DataFrame, historyBuckets: DataFrame,
      minTokens: Int = 8, threshold: Double = 0.8,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val spark = batch.sparkSession

    // 1. quality gate (narrow, first)
    val q = batch.filter(TextFunctions.tokenCount(col("text")) >= minTokens)

    // 2. exact dedup: in-batch lowest-id-per-fingerprint, minus history
    // fps. Persisted WIDE (documents rows are id + text + a few tags;
    // text dominates either way): the pair walks read its narrow
    // projection, and the final anti-joins read the same blocks instead
    // of re-running the fingerprint dedup — released when the owner
    // scope exits, like the loser frames.
    val exact = Dedup.dedupAgainstHistory(q, historyFp, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    Persists.onScopeEnd(() => exact.unpersist(false))
    val slim = exact.select(col("doc_id"), col("text"))

    // the batch's band buckets — signed ONCE, shared by stages 3 and 4
    val buckets = Dedup.minhashBandBuckets(slim, "doc_id", "text",
      numHashes = numHashes, bands = bands)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val histSlim = history.select(col("doc_id"), col("text"))

      // Stages 3-4 run ~8 sequential eager actions (the loser count, the
      // closure's edge count + pointer-jump rounds). AQE re-optimizes
      // every stage of every one of them; at bench scale that fixed
      // per-action scheduling cost is 2-3x the query's real work and
      // BIMODAL (r5's recorded 16.9 s vs 6.3 s fresh-JVM truth) — while
      // the plans here are already the shapes AQE would pick: every join
      // is an explicit shuffle_hash/broadcast, sized by the narrow
      // persisted frames. Pin AQE off for THIS pipeline's internal
      // actions only; the session default stays ON (it measurably helps
      // the single-action LSH sweeps, x3/x36). The consumer's final
      // action (cached `exact` + two anti-joins) runs under the session
      // default — one action, no re-optimization cascade.
      val (crossLosers, clusterLosers) = Persists.withSessionConf(spark)(
        "spark.sql.adaptive.enabled" -> "false") {
        // 3. near-dup vs history: batch docs similar to ANY snapshot doc
        // drop. The loser set stays a FRAME — persisted and materialized
        // NOW (count(), not collect(): the pair search must run exactly
        // once, and its blocks outlive this function until the owner
        // scope exits), then anti-joined twice below.
        val crossLosers = Dedup.lshPairsFromBucketsAcross(
            buckets, historyBuckets, slim, histSlim, "doc_id", "text",
            threshold = threshold)
          .select(col("id_a").as("doc_id")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        Persists.onScopeEnd(() => crossLosers.unpersist(false))
        crossLosers.count()

        // 4. in-batch clusters over the survivors: REUSE the batch buckets
        // (filtered by the same anti-join — no re-signing), closure over
        // the pair graph, keep each component's min id
        val survivorBuckets = buckets.join(
          crossLosers.withColumnRenamed("doc_id", "id").hint("shuffle_hash"),
          Seq("id"), "left_anti")
        val pairs = Dedup.lshPairsFromBuckets(survivorBuckets, slim,
          "doc_id", "text", threshold = threshold)
        val clusterLosers = ConnectedComponents.labels(pairs, "id_a", "id_b")
          .filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id"))
        (crossLosers, clusterLosers)
      }
      exact
        .join(crossLosers.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
        .join(clusterLosers.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
    } finally {
      // fully consumed by the eager stages above (crossLosers' count and
      // ConnectedComponents' internal actions); the returned plan depends
      // only on the persisted exact + the two loser frames
      buckets.unpersist(blocking = false)
    }
  }
}

package graft.examples

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.plans.{Phase, Step}

/** Training-data curation pipeline — the north-star use case, composed
  * entirely from graft operators:
  *
  *   1. Analyze:  language-ID, token counts, quality score, fingerprint —
  *                all codegen'd column expressions, no shuffle.
  *   2. Filter:   drop short/low-quality rows via the DropRow event path
  *                (counts surface in errors_and_warnings.txt).
  *   3. Dedup:    exact dedup on the md5 fingerprint, then MinHash-LSH
  *                near-dup removal keeping the lowest doc id of each
  *                near-dup pair.
  *
  * Every stage is shuffle-bounded (fingerprint groupBy, LSH band joins) —
  * the shape survives a 1000-executor scale-up; run it on a documents
  * parquet: `graft run curation <workdir> <documents.parquet>`.
  */
object Curation {

  val analyze: Phase = Phase(
    name = "Analyze",
    steps = Seq(
      Step.withColumns("text_metrics",
        "lang_pred" -> TextFunctions.langId(col("text")),
        "n_tokens" -> TextFunctions.tokenCount(col("text")),
        "quality" -> TextFunctions.qualityScore(col("text")),
        "fp" -> TextFunctions.fingerprint(col("text")))))

  val filter: Phase = Phase(
    name = "Filter",
    steps = Seq(
      Step.dropRowsWhen("drop_short", col("n_tokens") < 5,
        "Document too short for training"),
      Step.dropRowsWhen("drop_low_quality", col("quality") < 0.2,
        "Quality score below threshold")))

  val dedup: Phase = Phase(
    name = "Dedup",
    steps = Seq(
      Step.batch("exact_dedup") { (df, _) =>
        Dedup.exactDedup(df, "doc_id", "text")
      },
      Step.batch("near_dedup_minhash") { (df, _) =>
        // greedy near-dup removal: for every near-dup pair keep the lower
        // id; higher ids become a drop list, removed with an anti-join.
        //
        // The pair search walks the survivor frame several times
        // (signatures + both sides of the exact-jaccard verify), and each
        // walk would recompute the analyze/filter lineage — including the
        // interpreted higher-order lang-id/quality lambdas. Persist ONLY
        // the narrow (doc_id, text) projection those walks need: a few
        // bytes per doc, serialized, spill-safe — unlike persisting the
        // full frame (events array + metrics), which measured SLOWER than
        // recompute here.
        val slim = df.select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        try {
          // 32 hashes x 8 bands (vs the 64x16 default): the curation
          // threshold is 0.8 but the near-dup clusters this step exists to
          // kill sit at j >= 0.9, where 8 4-row bands miss a pair with
          // p = (1-0.9^4)^8 ~ 2e-4 — and recall is DETERMINISTIC for fixed
          // data (md5 family), certified by the e1 oracle at all three SFs.
          // Halves the signature aggregation and banding cost of the
          // pipeline's hottest stage.
          val pairs = Dedup.minhashLshPairs(slim, "doc_id", "text",
            n = 3, threshold = 0.8, numHashes = 32, bands = 8)
          // the loser set stays a FRAME — persisted and counted NOW (so
          // the pair search executes exactly once and slim's blocks can be
          // released deterministically in the finally), NEVER collected:
          // real web corpora run 30-50% duplicate rates, where losers is a
          // corpus-scale set and a driver round-trip is an OOM. The count
          // picks the removal join: a broadcast fast-path under an
          // explicit size guard, else a key-shuffled anti-join.
          val losers = pairs.select(col("id_b").as("doc_id")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          graft.plans.Persists.onScopeEnd(() => losers.unpersist(false))
          val nLosers = losers.count()
          val removal =
            if (nLosers <= BroadcastLoserMax) broadcast(losers)
            else losers.hint("shuffle_hash")
          df.join(removal, Seq("doc_id"), "left_anti")
        } finally slim.unpersist(false)
      }))

  /** Loser sets at or below this row count take the broadcast anti-join
    * fast-path; above it the removal is a key-shuffled anti-join (a
    * million longs broadcast in a few MB; a 30-50%-dup-rate corpus's
    * loser set does not). */
  val BroadcastLoserMax: Long = 1000000L

  val phases: Seq[Phase] = Seq(analyze, filter, dedup)
}

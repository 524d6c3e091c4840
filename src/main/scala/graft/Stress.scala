package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tools.Harness

/** Scaling-trend harness (opt-in; NOT part of the bench or the gate):
  * replicates the sf tables 1x/2x/4x/... with content perturbed so corpora
  * grow realistically (disjoint shingle vocabularies per replica — no
  * cross-replica near-dups, linear vocabulary growth), then times the
  * operators whose 100 TB behavior the design leans on. The deliverable is
  * the TREND: per-row cost staying ~flat as the corpus doubles is measured
  * evidence the plan shapes scale; superlinear growth is a red flag the
  * small-SF gate can't see.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.Stress 1 2 4"
  * Prints one JSON line per (op, multiplier).
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

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-stress")

    for (m <- mults) {
      val docs = replicateDocs(Tables.load(spark, sfDir, "documents"), m)
      val events = replicateEvents(Tables.load(spark, sfDir, "events"), m)
      val nDocs = docs.count(); val nEvents = events.count() // materialize inputs fairly

      val ops: Seq[(String, () => Long)] = Seq(
        "exact_dedup" -> (() =>
          operators.Dedup.exactDedup(docs, "doc_id", "text").count()),
        "minhash_lsh_pairs" -> (() =>
          operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
            n = 3, threshold = 0.8).count()),
        "hash_split" -> (() =>
          operators.CorpusOps.hashSplit(docs, "doc_id")
            .groupBy("split").count().count()),
        "pack_sequences" -> (() =>
          operators.CorpusOps.packSequences(
            docs.select(col("doc_id"),
              functions.TextFunctions.tokenCount(col("text"))
                .cast("long").as("n_tokens")),
            "doc_id", "n_tokens", 512).count()),
        "top_ngrams" -> (() =>
          operators.CorpusOps.topNgramsPerGroup(docs, "lang", "text", 2, 5).count()),
        "distinct_users" -> (() =>
          operators.Scale.distinctCountPerKey(events, "event_type", "user_id").count()),
        "interval_join" -> (() => {
          val iv = Tables.load(spark, sfDir, "nation").select(
            col("n_nationkey").as("promo_id"),
            (lit(1704067200L) + col("n_nationkey") * 108000L).as("lo"),
            (lit(1704067200L) + col("n_nationkey") * 108000L + 180000L).as("hi"))
          val pts = events.select(col("event_id"), unix_timestamp(col("ts")).as("pt"))
          operators.RangeJoin.intervalJoin(pts, iv, "pt", "lo", "hi", 86400L).count()
        }),
        "dedup_components" -> (() =>
          operators.ConnectedComponents.labels(
            operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
              threshold = 0.8), "id_a", "id_b").count()),
        // the nightly-ingest flagship: 90/10 batch/history split (stable
        // under replication — replica id offsets are multiples of 10)
        "incremental_ingest" -> (() =>
          examples.IncrementalIngest.run(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0)).count()),
        // e2 stage bisection (round-4 verdict #8: the 4x/2x wall ratio of
        // the whole pipeline ran 1.5x; these isolate which stage is the
        // superlinear term — each is one stage on the same 90/10 split)
        "ingest_exact" -> (() => {
          val batch = docs.filter(col("doc_id") % 10 =!= 0)
          val hist = docs.filter(col("doc_id") % 10 === 0)
          operators.Dedup.dedupAgainstHistory(batch,
            hist.select(functions.TextFunctions.fingerprint(col("text")).as("fp")).distinct(),
            "doc_id", "text").count()
        }),
        "ingest_sign" -> (() =>
          operators.Dedup.minhashBandBuckets(
            docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text")),
            "doc_id", "text", numHashes = 32, bands = 8).count()),
        "ingest_cross_pairs" -> (() => {
          val batch = docs.filter(col("doc_id") % 10 =!= 0)
            .select(col("doc_id"), col("text"))
          val hist = docs.filter(col("doc_id") % 10 === 0)
            .select(col("doc_id"), col("text"))
          operators.Dedup.lshPairsFromBucketsAcross(
            operators.Dedup.minhashBandBuckets(batch, "doc_id", "text", numHashes = 32, bands = 8),
            operators.Dedup.minhashBandBuckets(hist, "doc_id", "text", numHashes = 32, bands = 8),
            batch, hist, "doc_id", "text", threshold = 0.8).count()
        }),
        "ingest_inbatch_pairs" -> (() => {
          val batch = docs.filter(col("doc_id") % 10 =!= 0)
            .select(col("doc_id"), col("text"))
          operators.Dedup.lshPairsFromBuckets(
            operators.Dedup.minhashBandBuckets(batch, "doc_id", "text", numHashes = 32, bands = 8),
            batch, "doc_id", "text", threshold = 0.8).count()
        }),
        "ingest_closure" -> (() => {
          val batch = docs.filter(col("doc_id") % 10 =!= 0)
            .select(col("doc_id"), col("text"))
          operators.ConnectedComponents.labels(
            operators.Dedup.lshPairsFromBuckets(
              operators.Dedup.minhashBandBuckets(batch, "doc_id", "text", numHashes = 32, bands = 8),
              batch, "doc_id", "text", threshold = 0.8),
            "id_a", "id_b").count()
        }),
        "sessionize" -> (() =>
          operators.Temporal.sessionize(events, "user_id", "ts", "event_id",
            gapSeconds = 1800).count()),
        // narrow scoring scan: per-doc cost must stay flat as the corpus
        // doubles (query terms live in replica 0's vocabulary only — df
        // constant, scan linear)
        "bm25_topk" -> (() =>
          operators.Retrieval.bm25TopK(docs, "doc_id", "text",
            query = Seq("dup", "vector", "stream"), k = 20).count()),
        // LM table grows with the (disjoint-per-replica) vocabulary; the
        // trend probes the bigram-key shuffle joins
        "bigram_nll" -> (() =>
          operators.LanguageModel.bigramNll(docs, "doc_id", "text").count()),
        // corpus-sized bucketed agg, then everything on the reduced
        // frame: replicas land in the SAME (type, bucket) cells, so the
        // trend isolates the one corpus scan (reduced frame constant)
        "resample_gapfill" -> (() =>
          operators.Temporal.resampleGapFill(events, "event_type", "ts",
            "value", bucketSeconds = 3600L).count()),
        // vocabulary (and the pair table) grows linearly with the
        // disjoint-vocab replicas — probes the pair-key agg + broadcast
        // scoring joins under vocabulary growth
        "pmi_collocations" -> (() =>
          operators.LanguageModel.pmiCollocations(docs, "doc_id", "text",
            minCount = 5L).count()),
        // fixed probe set vs a growing corpus: the broadcast-probe scan
        // must stay linear (per-row cost flat), matches constant
        "fuzzy_link" -> (() => {
          val cust = (0 until m).map { r =>
            val c = Tables.load(spark, sfDir, "customer")
            c.select((col("c_custkey") + lit(r.toLong * 10000000L)).as("c_custkey"),
              (if (r == 0) col("c_name")
               else concat(col("c_name"), lit(s"r$r"))).as("c_name"))
          }.reduce(_ unionByName _)
          operators.FuzzyJoin.linkProbes(cust,
            cust.filter(col("c_custkey") % 100 === 0 &&
              col("c_custkey") < 10000000L),
            "c_custkey", "c_name", k = 1).count()
        }),
        "kmeans_step" -> (() => {
          val embs = replicateEmbeddings(
            Tables.load(spark, sfDir, "embeddings"), m)
          val minIds = embs.groupBy(col("label").as("cl"))
            .agg(min(col("vec_id")).as("cvid"))
          val cents = embs.join(minIds,
              embs("label") === minIds("cl") && embs("vec_id") === minIds("cvid"))
            .select(col("label"), col("embedding"))
          operators.Similarity.lloydStep(
            embs, cents, "vec_id", "embedding", "label", dims = 64).count()
        }),
        // ONE collect_list shuffle + per-user fold: per-row cost must stay
        // flat as replicas add users (disjoint user-id ranges)
        "funnel" -> (() =>
          operators.EventAnalytics.funnel(events, "user_id", "event_type",
            "ts", steps = Seq("view", "click", "purchase")).count()),
        // ONE corpus shuffle; per-user set bounded by the time span
        "retention" -> (() =>
          operators.EventAnalytics.retentionCohorts(events, "user_id", "ts",
            bucketSeconds = 86400L).count()),
        // narrow scan + keyed top-k window; replicas multiply group
        // membership, k fixed — probes the race-key window under growth
        "weighted_sample" -> (() =>
          operators.Selection.weightedSample(docs, "source", "doc_id",
            weight = size(split(col("text"), " ")).cast("double"),
            k = 50).count()),
        // pure narrow Generate: output rows grow linearly, wall-clock must
        // track the scan
        "chunk_documents" -> (() =>
          operators.CorpusOps.chunkDocuments(docs, "doc_id", "text",
            window = 64, stride = 48).count()),
        // component-grouped split: pair graph + closure + narrow split —
        // replicas multiply components, never chain across replicas
        "leakage_safit" -> (() =>
          operators.CorpusOps.leakageSafeSplit(docs, "doc_id",
            operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
              threshold = 0.8)).count()),
        // cells bounded by span x types: the corpus shuffle partial-aggs
        // to the SAME cell count at every multiplier (replicas share the
        // time range), so wall must stay ~flat
        "count_outliers" -> (() =>
          operators.EventAnalytics.countOutliers(events, "event_type", "ts",
            bucketSeconds = 3600L, sigma = 2).count()),
        // pair graph + closure + one argmax shuffle: must track the pair
        // search (components never chain across replicas)
        "canonical_select" -> (() =>
          operators.Dedup.canonicalPerCluster(
            docs.withColumn("len", length(col("text"))),
            operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
              threshold = 0.8),
            "doc_id", col("len")).count()),
        // disjoint replica vocabularies grow the frequency table linearly,
        // but the vocab stays 500 rows (broadcast) and the per-doc agg is
        // one corpus shuffle — wall must track the explode, not the vocab
        "vocab_oov" -> (() => {
          val toks = docs.select(col("doc_id"),
            explode(split(col("text"), " ")).as("tok"))
          val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("tok").asc).limit(500)
            .select(col("tok"), lit(1).as("in_vocab"))
          toks.join(broadcast(vocab), Seq("tok"), "left")
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_tokens"),
              (sum(when(col("in_vocab").isNull, 1L).otherwise(0L)) /
                count(lit(1))).as("oov_rate"))
            .count()
        }),
        "event_transitions" -> (() =>
          operators.EventAnalytics.transitionMatrix(events,
            "user_id", "event_type", "ts", "event_id").count()),
        "tfidf_terms" -> (() =>
          operators.Retrieval.tfidfTopTerms(docs, "doc_id", "text", 3).count()),
        "hll_distinct" -> (() =>
          operators.Profile.hllDistinct(events, "event_type", "user_id").count()),
        "funnel_within" -> (() =>
          operators.EventAnalytics.funnelWithin(events, "user_id",
            "event_type", "ts", Seq("view", "click", "purchase"),
            windowSeconds = 86400L).count()),
        "attribution" -> (() =>
          operators.EventAnalytics.touchAttribution(events, "user_id",
            "event_type", "ts", "event_id", "purchase", "view",
            pmod(get_json_object(col("props"), "$.k").cast("long"), lit(4L)),
            windowSeconds = 86400L).count()),
        "top_paths" -> (() =>
          operators.EventAnalytics.topPaths(events, "user_id", "event_type",
            "ts", "event_id", k = 20).count()),
        // sketch cells bounded at depth x width whatever the corpus: the
        // build shuffle is constant-size, wall must track the token
        // explode linearly (query items live in replica 0's vocabulary)
        "countmin" -> (() => {
          import spark.implicits._
          operators.FrequentItems.countMin(
            docs.select(explode(split(col("text"), " ")).as("tok")), "tok",
            Seq("the", "data", "vector", "stream").toDF("tok"), "tok",
            depth = 4, width = 512).count()
        }),
        // inverted-index pair search: disjoint replica vocabularies keep
        // candidates within replicas — same trend contract as the jaccard
        // family (docfreq-capped index bounds the fan-out)
        "containment" -> (() =>
          operators.Dedup.ngramContainmentPairs(docs, "doc_id", "text",
            n = 3, threshold = 0.9, maxDocFreq = Some(50)).count()),
        // one keyed lag window + one partial-agged groupBy per user:
        // replicas add users, per-user cost fixed — wall must stay flat
        // per row
        "gap_regularity" -> (() =>
          operators.EventAnalytics.gapRegularity(events, "user_id", "ts",
            "event_id").count()),
        // two grouped percentile aggs (per-group value buffers — the
        // documented QA-scale trade; groupedSorted is the bounded path):
        // watch that the trend stays linear while groups stay fixed
        "mad_outliers" -> (() =>
          operators.Percentiles.madOutliers(events, "event_type",
            "event_id", "value", k = 3.0).count()),
        // keyed session window + co-partitioned groupBy: per-row cost
        // must stay flat as replicas add users
        "session_features" -> (() =>
          operators.Temporal.sessionFeatures(events, "user_id", "ts",
            "event_id", gapSeconds = 1800, valueCol = "value").count()),
        // one corpus scan to span x 256 cells; everything after is
        // scaffold-sized — wall must track the scan only
        "rolling_distinct" -> (() =>
          operators.Profile.rollingHllDistinct(events, "ts", "user_id",
            bucketSeconds = 86400L, windowBuckets = 7).count()),
        // k^2 LM tables stay 25 rows at any multiplier; the keyed lead
        // window and the per-user agg track the event count linearly
        "sequence_nll" -> (() =>
          operators.EventAnalytics.sequenceNll(events, "user_id",
            "event_type", "ts", "event_id").count()),
        // keyed lag window only: per-row cost flat as users double
        "debounce" -> (() =>
          operators.Temporal.debounce(events, "user_id", "event_type",
            "ts", "event_id", withinSeconds = 600).count()),
        // distinct (source, shingle) reduction feeds a #sources^2-bounded
        // pair join: wall must track the explode, not the join
        "source_overlap" -> (() =>
          operators.CorpusOps.sourceOverlapMatrix(docs, "source", "text",
            n = 3).count()),
        // keyed window over the calendar-bounded daily frame: wall must
        // track the count agg's scan, never the day*day tail
        "cusum_changepoint" -> (() =>
          operators.Temporal.cusumChangepoint(events, "event_type", "ts",
            86400L).count()),
        // the pair self-join is days^2 per key — FIXED as replicas grow
        // (same calendar); only the daily count agg sees more rows
        "theilsen" -> (() =>
          operators.Temporal.theilSenSlope(events, "event_type", "ts",
            86400L).count()),
        // sort+limit order statistic over the calibration half + one
        // broadcast: the TakeOrdered k is n-derived but tiny vs corpus
        "conformal" -> (() =>
          operators.Evaluation.conformalCoverage(
            events.select(col("event_id"),
              (pmod(col("event_id"), lit(100L)) / lit(100.0)).as("p"),
              (col("event_type") === "view").as("y")),
            "event_id", "p", "y", alpha = 0.1).count()),
        // two equi lag joins of the daily aggregate — join inputs are
        // calendar-bounded, so wall tracks the bucket agg only
        "seasonal_backtest" -> (() =>
          operators.Temporal.seasonalNaiveBacktest(events, "event_type",
            "ts", "value", 86400L, season = 7).count()),
        // k bounded corpus scans (2(k-1)+1 actions, broadcast-literal
        // distances): wall must track the scan count linearly with the
        // corpus, rounds fixed at k
        "kcenter" -> (() =>
          operators.Selection.kCenterGreedy(
            replicateEmbeddings(Tables.load(spark, sfDir, "embeddings"), m),
            "vec_id", "embedding", k = 4).count()),
        // ONE inverted-index pair pass histogrammed into 20 integer
        // bands: wall must track the pair search (within-replica only —
        // disjoint vocabularies), never the band count
        "threshold_sweep" -> (() =>
          operators.Dedup.jaccardThresholdSweep(docs, "doc_id", "text",
            n = 3, minBucket = 10, buckets = 20).count()),
        // trainer rounds are vocab-sized with a 1-row argmax each; the
        // corpus is scanned once into the word vocab. Replica-suffixed
        // tokens grow the vocab linearly but hold symbol structure, so
        // per-round cost must stay ~flat (fixed k = 16 with a
        // mid-trainer localCheckpoint at 8)
        "bpe_train" -> (() =>
          operators.Bpe.learnMergesDf(docs, "text", numMerges = 16,
            checkpointEvery = 8).count()),
        // keyed anti-join replace + <=numCentroids-row health windows:
        // only the 10% batch is scored, the standing corpus is never
        // re-scanned for assignment — wall must track the batch scan
        "ivf_upsert" -> (() => {
          val embs = replicateEmbeddings(
            Tables.load(spark, sfDir, "embeddings"), m)
          examples.VectorIndexMaintenance.run(
            embs.filter(pmod(col("vec_id"), lit(10L)) =!= 0L),
            embs.filter(pmod(col("vec_id"), lit(10L)) === 0L),
            "vec_id", "embedding", numCentroids = 16, dims = 64).count()
        }),
        // two co-keyed aggs, per-doc cost linear in token count — the
        // pure-scan control row: any trend above linear here means the
        // harness, not an operator
        "token_entropy" -> (() =>
          operators.QualityFilters.tokenEntropyStats(
            docs, "doc_id", "text").count()),
        // ONE segment-keyed window + left join: state per key is a
        // segment's occurrence count; disjoint replica vocabularies keep
        // cross-replica segments distinct, so the window's per-key group
        // stays replica-local and the trend must stay ~linear
        "segment_dedup" -> (() =>
          operators.CorpusOps.segmentDedup(
            docs, "doc_id", "text", segTokens = 16).count()),
        // value-sized cumsum frame + boundary-group window; budget scales
        // with the corpus so the selected fraction is constant — a flat
        // trend proves the cut never pays a corpus-order window
        "token_budget" -> (() =>
          operators.Selection.tokenBudgetSelect(
            docs.select(col("doc_id"), length(col("text")).as("q"),
              functions.TextFunctions.tokenCount(col("text"))
                .cast("long").as("n_tok")),
            "doc_id", "q", "n_tok",
            budgetTokens = 15000L * m).count()),
        // weighted inverted-index pair search: same Σ df² fan-out bound
        // as the unweighted sweep (df<=50 semantic cap), plus two
        // vocab-sized weight joins — must track minhash_lsh_pairs' trend
        "idf_jaccard" -> (() =>
          operators.Dedup.idfWeightedJaccardPairs(
            docs, "doc_id", "text", n = 3, threshold = 0.5,
            maxDocFreq = Some(50)).count()),
        // narrow fingerprint selection + a ~2/(w+1)-density index join:
        // must track (and undercut) minhash_lsh_pairs' trend — the
        // winnowing index is the SPARSE one
        "winnowing" -> (() =>
          operators.Dedup.winnowingPairs(
            docs, "doc_id", "text", k = 3, w = 4, minShared = 2,
            maxFpFreq = Some(50)).count()),
        // LM count tables grow with the (replica-suffixed) vocabulary;
        // the tertile machinery adds only grid-frame work — trend must
        // match the underlying trigram scorer, never the corpus sort a
        // naive per-lang quantile would pay
        "ccnet_buckets" -> (() =>
          operators.LanguageModel.perLangPerplexityBuckets(
            docs, "doc_id", "text", "lang").count()),
        // the iterative peel: pair volume grows with the replicas
        // (within-replica near-dups only), round count stays the graph's
        // own degeneracy depth — wall must track the pair search, not
        // superlinear in rounds
        "kcore" -> (() =>
          operators.GraphRank.kCore(
            operators.Dedup.minhashLshPairs(docs, "doc_id", "text"),
            "id_a", "id_b", k = 2).count()),
        // pair volume grows with replicas (within-replica dups only);
        // the membership joins and per-community rollup ride the same
        // frames — wall must track the pair search
        "source_modularity" -> (() =>
          operators.GraphRank.partitionModularity(
            operators.Dedup.minhashLshPairs(docs, "doc_id", "text"),
            "id_a", "id_b", docs, "doc_id", "source").count()),
        // distributed range sort + two-pass rank: per-row flat is the
        // whole claim
        "epoch_shuffle" -> (() =>
          operators.CorpusOps.epochShuffle(docs, "doc_id", seed = 7,
            nShards = 8).count()),
        // keyed window: parallel across sources, sequential within —
        // per-row flat while the per-source file count grows
        "compaction_plan" -> (() =>
          operators.CorpusOps.compactionPlan(
            docs.withColumn("sz", length(col("text"))),
            "source", "doc_id", "sz", targetBytes = 4096L).count()),
        // one per-user partial agg + broadcast 1-row moments
        "cuped" -> (() =>
          operators.EventAnalytics.cupedAdjust(events, "user_id", "ts",
            "value", "2024-01-16 00:00:00").count()),
        // per-user agg, then the codomain-bounded value frame: the rank
        // window must never see row-sized input
        "mann_whitney" -> (() =>
          operators.Experiment.mannWhitney(events, "user_id").count()),
        // corpus -> 16-bin frame -> bounded joins; per-row flat
        "isotonic" -> (() =>
          operators.Evaluation.isotonicCalibration(
            docs.select((length(col("text")) % 1000).cast("double")./(1000.0)
              .as("p"), (col("lang") === "en").as("label")),
            "p", "label", bins = 16).count()),
        // journeys reduce to a state-space-sized matrix: wall must track
        // the per-user windows + transition groupBy, never the solve
        "markov_attribution" -> (() =>
          operators.MarkovAttribution.attribute(events, "user_id", "ts",
            "event_id", "event_type", "purchase",
            Seq("click", "error", "signup", "view")).count()),
        // per-user agg + bounded distinct-score deciles
        "qini" -> (() =>
          operators.Experiment.qiniCurve(events, "user_id", "ts",
            "2024-01-16 00:00:00").count()),
        // days-sized frame after one partial agg
        "msprt" -> (() =>
          operators.Experiment.msprt(events, "user_id", "ts").count()),
        // per candidate: one groupBy(key) + domain-bounded windows +
        // a probes x bins broadcast count
        "sort_advisor" -> (() =>
          operators.Scale.sortKeyAdvisor(
            docs.withColumn("sz", length(col("text"))),
            Seq("doc_id", "sz", "source"), "sz").count()),
        // rides the same pair search as kcore/modularity
        "neighborhood_jaccard" -> (() =>
          operators.GraphRank.neighborhoodJaccard(
            operators.Dedup.minhashLshPairs(docs, "doc_id", "text"),
            "id_a", "id_b").count()),
        // one per-user partial agg into a covariates-sized SMD frame
        "covariate_balance" -> (() =>
          operators.Experiment.covariateBalance(events, "user_id", "ts",
            "event_type").count()),
        // the composed guardrail+readout flagship: SRM, CUPED, balance,
        // mSPRT, QTE in one pass structure
        "experiment_readout" -> (() =>
          examples.ExperimentReadout.run(events, "user_id", "ts", "value",
            cutoff = "2024-01-16 00:00:00", segmentCol = "event_type")
            .count()),
        // BOW classifier composed upstream of the qini rollup: per-user
        // event-text scoring plus the binned curve (x214)
        "qini_bow" -> (() => {
          val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
          val userDocs = events.filter(col("ts") < cutoff)
            .groupBy(col("user_id"))
            .agg(concat_ws(" ",
                sort_array(collect_list(col("event_type")))).as("txt"),
              max(when(col("event_type") === "purchase", 1L).otherwise(0L))
                .as("lbl"))
          val scored = operators.Selection.bowLogisticScore(
            userDocs, "user_id", "txt", label = col("lbl") === 1L,
            buckets = 64, learningRate = 4.0)
          val post = events.filter(col("ts") >= cutoff)
            .groupBy(col("user_id")).agg(count(lit(1)).as("y"))
          val perUser = scored.select(col("user_id"), col("p"))
            .join(post, Seq("user_id"), "left")
            .select(col("user_id"), col("p"),
              coalesce(col("y"), lit(0L)).as("y"),
              operators.Experiment.armOf(col("user_id"), 2).as("arm"))
          operators.Experiment.qiniScored(perUser, "p", "y", "arm").count()
        }),
        // two value-frame groupBys + a B-row spine; the window runs on
        // the distinct-length frame, never rows (replicas drop n_chars,
        // so derive it)
        "psi_drift" -> (() => {
          val dl = docs.withColumn("n_chars", length(col("text")))
          operators.Profile.psiDrift(dl.filter(col("lang") === "en"),
            dl.filter(col("lang") =!= "en"), "n_chars").count()
        }),
        // explode -> (group, token) partial agg -> group-sized reduce;
        // replica-suffixed vocabularies keep type counts growing linearly
        "vocab_richness" -> (() =>
          operators.CorpusOps.vocabRichness(docs, "lang", "text").count()),
        // groupBy(group, len) then a window on the bounded value frame
        "gini_sources" -> (() =>
          operators.CorpusOps.giniConcentration(docs, "source", "text")
            .count()),
        // one per-user partial agg into a 1-row 2B-expression aggregate
        "permutation_test" -> (() =>
          operators.Experiment.permutationTest(events, "user_id").count()),
        // per-user partial agg -> strata-sized 2x2 cells -> 1-row pool
        "mantel_haenszel" -> (() =>
          operators.Experiment.mantelHaenszel(events, "user_id", "ts",
            "event_type", "purchase", "2024-01-16 00:00:00",
            maxStratum = 6, bucketWidth = 8).count()),
        // two token-count scans into one vocab-frame full-outer join;
        // replica-suffixed vocabularies grow the frame linearly
        "js_divergence" -> (() =>
          operators.Profile.jsDivergence(docs.filter(col("lang") === "en"),
            docs.filter(col("lang") =!= "en"), "text").count()),
        // dsir weight scan + one 1-row decimal-moment aggregate
        "ess_weights" -> (() =>
          operators.Selection.weightDiagnostics(
            operators.Selection.dsirWeights(docs, "doc_id", "text",
              target = col("lang") === "en", buckets = 64),
            "dsir_logw").count()),
        // corpus reduces to bounded cell/margin frames, then a pinned
        // driver solve (markov bounded-collect convention)
        "raking" -> (() => {
          val tcnt = events.groupBy(col("user_id"), col("event_type"))
            .agg(count(lit(1)).as("cnt"))
          val modal = tcnt.withColumn("rn",
              org.apache.spark.sql.functions.row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy(col("user_id"))
                  .orderBy(col("cnt").desc, col("event_type").desc)))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("event_type").as("a"))
          val act = events.groupBy(col("user_id"))
            .agg(count(lit(1)).as("c"))
            .select(col("user_id"),
              least(expr("c div 16"), lit(5L)).cast("string").as("b"),
              operators.Experiment.armOf(col("user_id"), 2).as("arm"))
          val ub = modal.join(act, Seq("user_id"))
          operators.Experiment.rakeWeights(
            ub.filter(col("arm") === 1).groupBy(col("a"), col("b"))
              .agg(count(lit(1)).as("n")),
            "a", "b", "n",
            ub.filter(col("arm") === 0).groupBy(col("a"))
              .agg(count(lit(1)).as("t")),
            ub.filter(col("arm") === 0).groupBy(col("b"))
              .agg(count(lit(1)).as("t")),
            "t", iters = 8).count()
        }),
        // (user,type) partial agg + type rollup carrying 2B sums + a
        // broadcast 1-row user frame; BH itself is a K-row window
        "fdr_bh" -> (() =>
          operators.Experiment.fdrBh(events, "user_id", "event_type")
            .count()),
        // one ngram-keyed shuffle for first ranks; everything above the
        // scan is a 16-row frame (replica-suffixed vocab keeps the
        // trigram inventory growing, so the fit stays non-degenerate)
        "heaps_law" -> (() =>
          operators.CorpusOps.heapsLaw(docs, "doc_id", "text",
            checkpoints = 16, n = 3).count()),
        // one per-user partial agg + a 2-row arm moment rollup
        "aipw_ate" -> (() =>
          operators.Experiment.aipwAte(events, "user_id", "ts",
            "2024-01-16 00:00:00").count()),
        // one groupBy(source) scan, then the source-domain driver solve
        "budget_waterfill" -> (() => {
          val d2 = docs.withColumn("n_tokens",
            size(split(col("text"), " ")).cast("long"))
          val budget = d2.agg(sum(col("n_tokens"))).collect()(0).getLong(0) / 2L
          operators.CorpusOps.waterFillBudget(d2, "source", "n_tokens",
            ((0 until 4).map(i => s"src$i" -> 8L) ++
              (4 until 20).map(i => s"src$i" -> 1L)).toMap,
            budget = budget, epochCapMicro = 900000L).count()
        }),
        // one groupBy(source) + the source-domain rollup
        "cluster_ate" -> (() =>
          operators.Experiment.clusterAte(
            docs.withColumn("n_chars", length(col("text"))),
            "source", "n_chars").count()),
        // (user,type) modal agg + narrow coin projection + K-row release
        "randomized_response" -> (() =>
          operators.Profile.randomizedResponse(events, "user_id",
            "event_type").count()),
        // reward interval-join per user + one agg pass for all policies
        "offpolicy_ips" -> (() => {
          val lg = events.filter(col("event_type") =!= "purchase")
            .select(col("event_id"), col("user_id"), col("ts"),
              col("event_type"))
          val purch = events.filter(col("event_type") === "purchase")
            .select(col("user_id").as("pu"), col("ts").as("pts"))
          val rewards = lg.join(purch,
              col("user_id") === col("pu") && col("pts") > col("ts") &&
                col("pts") <= col("ts") + expr("INTERVAL 1 HOUR"), "left")
            .groupBy(col("event_id"), col("user_id"), col("event_type"))
            .agg(max(when(col("pts").isNotNull, 1L).otherwise(0L)).as("r"))
          operators.Evaluation.offPolicyIps(rewards, "event_type", "r",
            Seq("always_click" ->
              org.apache.spark.sql.functions.lit("click"))).count()
        }),
        // value-frame median window + one groupBy(group)
        "selection_parity" -> (() =>
          operators.CorpusOps.selectionParity(
            docs.withColumn("n_chars", length(col("text"))),
            "lang", "n_chars").count()),
        // range-partitioned shuffle + shard-keyed lag windows
        "shuffle_audit" -> (() =>
          operators.CorpusOps.shuffleRunAudit(docs, "doc_id", "source",
            seed = 5, nShards = 8).count()),
        // per-user duration agg + day-bounded risk-frame windows
        "kaplan_meier" -> (() =>
          operators.Survival.kaplanMeier(events, "user_id", "ts",
            "event_type", "purchase").count()),
        "logrank" -> (() =>
          operators.Survival.logRank(events, "user_id", "ts",
            "event_type", "purchase").count()),
        // two per-user aggs into 2-row arm frames
        "iv_wald" -> (() =>
          operators.Experiment.ivWald(events, "user_id", "event_type",
            "click", "purchase").count()),
        "wilson_ci" -> (() =>
          operators.Experiment.wilsonGuardrail(events, "user_id",
            "event_type", "purchase").count()),
        // per-user agg + 5-row broadcast inequality join
        "group_sequential" -> (() =>
          operators.Experiment.groupSequential(events, "user_id", "ts",
            "event_type", "purchase").count()),
        // narrow 8-way fan-out + keyed max windows + 8-row rollup
        "rendezvous" -> (() =>
          operators.Scale.rendezvousAudit(docs, "doc_id", 8).count()),
        // (group x codomain) grid windows above one partial agg
        "wasserstein" -> (() =>
          operators.Profile.wasserstein1d(
            docs.withColumn("n_chars", length(col("text"))),
            "source", "n_chars").count()),
        // K-row arm frame after one partial agg
        "ucb_allocation" -> (() =>
          operators.Evaluation.ucbAllocation(events, "event_type",
            "value").count()),
        // two-pass prefix-sum ranks + batch-frame rollups
        "padding_waste" -> (() =>
          operators.CorpusOps.paddingWaste(
            docs.withColumn("n_chars", length(col("text"))),
            "doc_id", "n_chars", batchSize = 32).count()),
        // exact cent grid + 9-row digit frame
        "benford" -> (() =>
          operators.Profile.benford(events, "value", 100L).count()),
        // day spine + log2(days) bounded level folds
        "haar_volume" -> (() =>
          operators.Temporal.haarVolume(events, "ts", 16).count()),
        // per-source (n,sum) frame closed form
        "loo_influence" -> (() =>
          operators.CorpusOps.looInfluence(
            docs.withColumn("n_chars", length(col("text"))),
            "source", "n_chars").count()),
        // the x240 risk-table shape with a second bounded fold
        "nelson_aalen" -> (() =>
          operators.Survival.nelsonAalen(events, "user_id", "ts",
            "event_type", "purchase").count()),
        // two gated detectors + an equi-join of their pair frames
        "capture_recapture" -> (() =>
          operators.Dedup.captureRecapture(
            operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
              n = 3, threshold = 0.8),
            operators.Dedup.simhashPairs(docs, "doc_id", "text",
              maxHamming = 3)).count()),
        // source-frame closed forms
        "jackknife" -> (() =>
          operators.CorpusOps.jackknifeVariance(
            docs.withColumn("n_chars", length(col("text"))),
            "source", "n_chars").count()),
        "pareto_front" -> (() =>
          operators.CorpusOps.paretoFront(
            docs.withColumn("n_chars", length(col("text"))),
            "source", "n_chars").count()),
        // docfreq shape: presence frame + shingle-keyed count join
        "shapley_coverage" -> (() =>
          operators.CorpusOps.shapleyCoverage(
            docs, "source", "text", n = 3).count()),
        // per-arm day-bounded KM fold + micro-area sum
        "rmst" -> (() =>
          operators.Survival.rmstByArm(events, "user_id", "ts",
            "event_type", "purchase", tauDays = 28L).count()),
        // k bounded argmax collects over the persisted presence frame
        "greedy_cover" -> (() =>
          operators.Selection.greedyCoverSources(
            docs, "source", "text", k = 4, n = 3).count()),
        // k-trend twin: the round-9 incremental covered-set must make
        // cost linear in k (O(k) scans of a shrinking frame), not O(k²)
        "greedy_cover_k16" -> (() =>
          operators.Selection.greedyCoverSources(
            docs, "source", "text", k = 16, n = 3).count()),
        // the e11 flagship COMPOSED (LOO influence + jackknife SE +
        // Shapley coverage + Pareto front + greedy shortlist in one
        // run) — parts have their own rows; the composition's trend is
        // what the flagship's user pays
        "e11_source_valuation" -> (() =>
          examples.SourceValuation.run(
            docs.withColumn("n_chars", length(col("text"))),
            "source", "text", "n_chars").count()),
        // one narrow partial-agged scan per table
        "broadcast_advisor" -> (() =>
          operators.Scale.broadcastAdvisor(Seq(
            "documents" -> docs, "events" -> events)).count()),
        // bounded probe panel broadcast vs one corpus scan
        "intrinsic_dim" -> (() =>
          operators.Similarity.intrinsicDimTwoNN(
            replicateEmbeddings(
              Tables.load(spark, sfDir, "embeddings"), m),
            "vec_id", "embedding",
            probeMod = 50L, probeCap = 2500L).count()),
        // narrow scan + broadcast 1-row max + groupBy(key)
        "decay_volume" -> (() =>
          operators.Temporal.decayedVolume(
            events, "ts", "event_type", halfLifeDays = 7).count()),
        // codomain-bounded value frame + broadcast thresholds
        "tail_ownership" -> (() =>
          operators.CorpusOps.tailOwnership(
            docs.withColumn("n_chars", length(col("text"))),
            "source", "n_chars").count()),
        // narrow scan + broadcast max date + groupBy(key)
        "ttl_audit" -> (() =>
          operators.Temporal.ttlAudit(
            events, "ts", "event_type",
            payloadCols = Seq("props", "event_type"),
            ttlDays = 21).count()),
        // one cell groupBy into class x value; bounded folds after
        "t_closeness" -> (() =>
          operators.Profile.tCloseness(
            docs, Seq("lang"), "source", t = 0.15).count()),
        // three grouped counts, sum C(n,2) each — no pair frame
        "blocking_quality" -> (() =>
          operators.EntityResolution.blockingQuality(docs,
            "concat_ws(' ', slice(split(lower(text), ' '), 1, 2))",
            "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' '))")
            .count()),
        // one value-sized cumulative frame serves every budget fraction
        "token_budget_sweep" -> (() =>
          operators.Selection.tokenBudgetSweep(
            docs.select(
              expr("cast(length(text) div 16 as bigint)").as("quality"),
              functions.TextFunctions.tokenCount(col("text"))
                .cast("long").as("n_tok")),
            "quality", "n_tok",
            Seq((1, 16), (1, 4), (1, 2), (3, 4), (1, 1))).count()),
        // corpus distinct-ngram set + one left_semi membership join
        "contamination_audit" -> (() => {
          val isEval = pmod(functions.TextFunctions.md5Long(
            col("doc_id")), lit(10L)) === 0L
          operators.Dedup.contaminationAudit(
            docs.filter(!isEval), docs.filter(isEval),
            "doc_id", "text", n = 3, threshold = 0.2).count()
        }),
        // one corpus assign pass + sampled brute truth; sweep from
        // probe-rank counts, never re-running the search per nprobe
        "ivf_nprobe_advisor" -> (() =>
          operators.Similarity.ivfNprobeAdvisor(
            replicateEmbeddings(
              Tables.load(spark, sfDir, "embeddings"), m),
            "vec_id", "embedding", k = 10).count()),
        // ONE grouping-sets pass (checkpointed) for all 4 candidates
        "blocking_advisor" -> (() =>
          operators.EntityResolution.blockingKeyAdvisor(docs,
            Seq(
              "first2" -> "concat_ws(' ', slice(split(lower(text), ' '), 1, 2))",
              "lang" -> "lang",
              "len100" -> "cast(length(text) div 100 as bigint)",
              "source" -> "source"),
            "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' '))")
            .count()),
        // posexplode fan-out partial-aggs into the (dim x 2) frame
        "mmd_embeddings" -> (() =>
          operators.Similarity.mmdLinear(
            replicateEmbeddings(
              Tables.load(spark, sfDir, "embeddings"), m),
            "vec_id", "embedding").count()),
        // per-user partial agg + 2-row arm agg + 1-row cross
        "power_mde_rate" -> (() =>
          operators.Experiment.powerMdeProportion(
            events, "user_id", "event_type", "purchase").count()),
        // per-user partial agg into the 4-cell factorial frame
        "factorial" -> (() =>
          operators.Experiment.factorial2(
            events, "user_id", "event_type", "purchase").count()),
        // per-user count partial agg + 1-row moment reduce
        "negbin_fit" -> (() =>
          operators.EventAnalytics.negBinFit(events, "user_id").count()),
        // cent-grid value frame + 1-row quartile reduce
        "histogram_advisor" -> (() =>
          operators.Profile.histogramAdvisor(
            events, "value", scale = 100L).count()),
        // per-user partial agg + 1-row pooled moments broadcast back
        "regression_adjust" -> (() =>
          operators.EventAnalytics.regressionAdjust2(
            events, "user_id", "ts", "value",
            cutoff = "2024-01-16 00:00:00").count()),
        // Shapley shingle stage + source-frame ranking window
        "budget_knapsack" -> (() =>
          operators.Selection.budgetKnapsack(
            docs, "source", "text").count()),
        // prefix-keyed group sizes joined back (docfreq shape)
        "prefix_cache" -> (() =>
          operators.CorpusOps.prefixCacheAudit(
            docs, "source", "text", prefixTokens = 8).count()),
        // posexplode fan-out into the dims-bounded partial agg
        "dim_stats" -> (() =>
          operators.Similarity.dimStats(
            replicateEmbeddings(
              Tables.load(spark, sfDir, "embeddings"), m),
            "embedding").count()),
        // one grouped audit per ladder granularity
        "kanon_planner" -> (() =>
          operators.Profile.kAnonPlanner(
            docs.withColumn("n_chars", length(col("text"))),
            "source", "n_chars", k = 5L).count()),
        // embarrassingly parallel codec scan (synth + frame decode)
        "frame_sample" -> (() => {
          val ids = docs.select(col("doc_id")).limit(2000 * m)
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("content",
              org.apache.spark.sql.types.BinaryType)))
          val vids = spark.createDataFrame(ids.rdd.mapPartitions { rs =>
            rs.map { r =>
              val id = r.getLong(0)
              org.apache.spark.sql.Row(id, operators.Multimodal
                .renderVideoGray(16, 16, 8, id % 256L))
            }
          }, schema)
          operators.Multimodal.frameSample(vids, "doc_id",
            everyK = 2).count()
        }),
        // real-container twin: RIFF walk + JPEG decode + dHash per
        // sampled frame (synth cost included, as with frame_sample)
        "avi_mjpeg_frames" -> (() => {
          val ids = docs.select(col("doc_id")).limit(200 * m)
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("content",
              org.apache.spark.sql.types.BinaryType)))
          val vids = spark.createDataFrame(ids.rdd.mapPartitions { rs =>
            rs.map { r =>
              val id = r.getLong(0)
              val frames = (0 until 3).map { f =>
                val md = java.security.MessageDigest.getInstance("MD5")
                operators.Multimodal.renderJpegHashEncoded(
                  md.digest(s"${id}_$f".getBytes("UTF-8")).take(8))
              }
              org.apache.spark.sql.Row(id,
                operators.Multimodal.renderAviMjpeg(frames, 72, 64))
            }
          }, schema)
          operators.Multimodal.aviMjpegFrameHashes(vids, "doc_id",
            everyK = 2).count()
        }),
        // embarrassingly parallel codec scan (synth + decode + RMS)
        "wav_vad" -> (() => {
          val ids = docs.select(col("doc_id")).limit(2000 * m)
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("content",
              org.apache.spark.sql.types.BinaryType)))
          val wavs = spark.createDataFrame(ids.rdd.mapPartitions { rs =>
            rs.map { r =>
              val id = r.getLong(0)
              org.apache.spark.sql.Row(id, operators.Multimodal
                .renderWavBursts(16, 64, (id * 2654435761L) % 65536L))
            }
          }, schema)
          operators.Multimodal.wavVadSegments(wavs, "doc_id").count()
        }))

      // SPARK_GRAFT_STRESS_OPS=a,b,c runs only the named ops (bisection
      // runs shouldn't pay the full sweep per hypothesis)
      val only = sys.env.get("SPARK_GRAFT_STRESS_OPS")
        .map(_.split(",").map(_.trim).toSet)
      // SPARK_GRAFT_STRESS_REPS>1 reports the MIN of n reps per op — the
      // single-shot numbers carry enough run-to-run variance (AQE
      // replanning, GC, first-use codegen) to fake a superlinear trend:
      // e2's round-4 "1.5x at 4x/2x" was 1.9x and 1.2x on two single-shot
      // round-5 runs of identical code.
      val reps = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "1").toInt
      for ((name, run) <- ops if only.forall(_.contains(name))) {
        val runs = (1 to reps).map(_ => Harness.timed(spark)(run()))
        val (rows, sec) = (runs.last._1, runs.map(_._2).min)
        println(s"""{"op":"$name","mult":$m,"docs":$nDocs,"events":$nEvents,""" +
          s""""out_rows":$rows,"sec":${math.round(sec * 1000) / 1000.0}}""")
      }
    }
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.TextFunctions._

/** Deduplication family for large-scale training-data pipelines. The
  * reference has only whole-row exact dedup (builtin_steps.py:15-54); these
  * are the scale extensions the north star asks for.
  *
  * Design rules for 100 TB:
  *  - every join/groupBy shuffles on a content key (never a cross join on
  *    the full table);
  *  - candidate generation is inverted-index or LSH-band joins whose
  *    fan-out is bounded by `maxDocFreq` (hot-key guard);
  *  - hashing is md5-based so results are engine-reproducible (oracle-able)
  *    — no engine-private hash functions.
  */
object Dedup {

  /** Exact dedup groups: md5 fingerprint of normalized text -> keeper =
    * lowest id, plus copy count. One shuffle on the fingerprint. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Exact dedup: keep one row per normalized-text fingerprint (lowest id
    * wins — deterministic, unlike dropDuplicates' partition-order winner). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental exact dedup: drop rows of `newDocs` whose normalized-text
    * fingerprint already exists in `history`, then dedup within the batch
    * itself (lowest id wins). The daily-ingest shape: at 100 TB the
    * history side is the (distinct) fingerprint INDEX — one narrow column
    * shuffled by content key, not the historical corpus; in production it
    * would be the persisted output of [[exactGroups]], so pass a frame
    * with a precomputed `fp` column to skip re-hashing history. */
  def dedupAgainstHistory(newDocs: DataFrame, history: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val histFp =
      if (history.columns.contains("fp")) history.select(col("fp")).distinct()
      else history.select(fingerprint(col(textCol)).as("fp")).distinct()
    val fresh = newDocs
      .withColumn("__fp", fingerprint(col(textCol)))
      .join(histFp.withColumnRenamed("fp", "__fp").hint("shuffle_hash"),
        Seq("__fp"), "left_anti")
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol).asc)
    fresh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__fp")
  }

  /** Serialized Bloom filter over a one-string-column frame of
    * fingerprints. Built with a distributed treeAggregate merge (the
    * [[FrequentItems]] pattern): every partition fills its own filter
    * over the fps it holds, filters OR-merge up a tree, and the driver
    * receives only finished `bits/8`-byte images — never raw keys.
    * EAGER (runs a job at call time). Insertions are the fingerprint's
    * UTF-8 bytes, the exact bytes [[graft.functions.BloomMightContain]]
    * probes. Size the filter for the HISTORY cardinality: 1e9 keys at 1%
    * fpp is ~1.2 GB — broadcast-able on large-memory executors, and fpp
    * only costs extra exact-join traffic, never correctness. */
  def buildFpBloom(fps: DataFrame, fpCol: String, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val bf = fps.select(col(fpCol)).na.drop().rdd.treeAggregate(
      BloomFilter.create(expectedItems, fpp))(
      (f, row) => {
        f.putBinary(row.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f
      },
      (a, b) => { a.mergeInPlace(b); a })
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Batch rows whose fingerprint is NOT in history, with the history fp
    * index compacted into a broadcast Bloom filter so the batch itself
    * never shuffles (contrast [[dedupAgainstHistory]], whose anti-join
    * shuffles every batch row by fingerprint):
    *
    *  - rows FAILING the Bloom probe are provably fresh (no false
    *    negatives) and flow straight to the output from a narrow scan;
    *  - only the probable-hit sliver (true dups + ~fpp of the rest)
    *    takes the exact `shuffle_hash` anti-join that removes real dups —
    *    at realistic ingest dup rates that is a few percent of the batch.
    *
    * The batch is scanned twice (once per side of the Bloom split) — at
    * 100 TB two narrow columnar scans are far cheaper than one full-batch
    * shuffle, and the scans are of the SOURCE, not a materialization.
    * Output keeps in-batch duplicates (this is the vs-history gate only;
    * compose with [[exactDedup]] for the full nightly shape) and is
    * row-identical to the plain anti-join for ANY fpp — the filter is a
    * pruning device, not an approximation of the result. History must fit
    * the sized filter ([[buildFpBloom]] is eager; pass `expectedItems`
    * at or above the true distinct-fp count to hold the fpp bound). */
  def freshAgainstHistoryBloom(newDocs: DataFrame, history: DataFrame,
      idCol: String, textCol: String, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val spark = newDocs.sparkSession
    val histFp =
      if (history.columns.contains("fp")) history.select(col("fp")).distinct()
      else history.select(fingerprint(col(textCol)).as("fp")).distinct()
    val bloomBytes = buildFpBloom(histFp, "fp", expectedItems, fpp)
    val batch = newDocs.withColumn("__fp", fingerprint(col(textCol)))
    val hit = graft.functions.BloomExpression.mightContain(
      spark, col("__fp"), bloomBytes)
    val provablyFresh = batch.filter(!hit)
    val confirmedFresh = batch.filter(hit)
      .join(histFp.withColumnRenamed("fp", "__fp").hint("shuffle_hash"),
        Seq("__fp"), "left_anti")
    provablyFresh.unionByName(confirmedFresh).drop("__fp")
  }

  /** Inverted index: (id, distinct shingle). The base for exact-jaccard
    * candidate generation. `maxDocFreq` drops shingles appearing in more
    * documents than the cap — the standard hot-key guard that keeps the
    * candidate join from going quadratic on boilerplate shingles. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int,
      maxDocFreq: Option[Int] = None): DataFrame = {
    // NOT fanned out (round-10 measurement): the shingle explode is cheap
    // relative to an added exchange — queries scanning the corpus via this
    // index several times (x123 6 scans, x138, x187) regressed 1.5-2.8x in
    // fresh-JVM A/B when each scan gained a repartition; Scale.fanOut is
    // reserved for compute-dense projections (minhash, levenshtein DP)
    val sh = df.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("s"))
    maxDocFreq match {
      case None => sh
      case Some(cap) =>
        val hot = sh.groupBy("s").agg(count(lit(1)).as("df")).filter(col("df") > cap)
        // USING-join puts the key column first; restore (id, s) so callers'
        // positional toDF renames stay correct
        sh.join(hot, Seq("s"), "left_anti").select(col("id"), col("s"))
    }
  }

  /** Verify candidate pairs with EXACT jaccard over the FULL shingle sets
    * of the original documents; emits (id_a, id_b, jaccard >= threshold).
    * Shared by every near-dup variant so their outputs are value-identical
    * to the brute-force oracle for any pair they surface. */
  private def verifyJaccard(cand: DataFrame, df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): DataFrame =
    verifyJaccardAcross(cand, df, df, idCol, textCol, n, threshold)

  /** Exact-jaccard verification of candidate pairs whose two sides come
    * from DIFFERENT frames (id_a from `left`, id_b from `right`).
    *
    * Shingle arrays are computed ONCE PER DOC, before the pair join, as
    * join-side attributes. The tempting alternative — carry raw text
    * through the join and shingle per candidate pair — is cheaper only
    * while candidates ~ output, and candidate volume is a property of
    * the DATA, not the algorithm: project-collapse inlines a post-join
    * shingles() into the threshold Filter and the output Project (and
    * higher-order functions are interpreted, so codegen subexpression
    * elimination never deduplicates them), so each candidate pays ~4
    * interpreted shingle evaluations. Measured: a boilerplate-degraded
    * corpus whose banding emitted 255k candidates for 511 true pairs ran
    * 64s with per-pair evaluation vs ~10s per-doc; the prefix-filter plan
    * (x36) regressed 2.7x the same way. Per-doc is worst-case-safe at one
    * extra corpus-keyed array shuffle.
    *
    * A second tempting alternative — semi-join-prune each side to its
    * candidate ids before shingling, so only candidate docs' arrays move
    * — was measured in round 5 and REJECTED: the prune needs cand
    * materialized (one extra eager job) plus two corpus (id, text)
    * shuffles and two more join stages, and at sf0.1 it DOUBLED x36
    * (5.2 -> 10.5s) and cost x3/x41 ~40% each. The array shuffle it
    * saves is only ~3x the text bytes it adds, and candidates are
    * usually a tiny fraction of the corpus anyway — stage count, not
    * shuffle volume, dominates this operator. */
  private def verifyJaccardAcross(cand: DataFrame, left: DataFrame,
      right: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double): DataFrame = {
    val shA = left.select(col(idCol).as("id_a"), shingles(col(textCol), n).as("arr_a"))
    val shB = right.select(col(idCol).as("id_b"), shingles(col(textCol), n).as("arr_b"))
    cand
      .join(shA.hint("shuffle_hash"), Seq("id_a"))
      .join(shB.hint("shuffle_hash"), Seq("id_b"))
      .withColumn("c", size(array_intersect(col("arr_a"), col("arr_b"))))
      .withColumn("jaccard", col("c").cast(DoubleType) /
        (size(col("arr_a")) + size(col("arr_b")) - col("c")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** N-gram Jaccard near-dup pairs. Without `maxDocFreq`: exact —
    * inverted-index join counts intersections with one (shingle-keyed)
    * shuffle into a partial-agg groupBy, no arrays materialized per pair.
    * That join's cost is sum over shingles of docfreq^2, which goes
    * quadratic on hot/boilerplate shingles; WITH `maxDocFreq` the capped
    * index generates CANDIDATES only (pairs sharing at least one shingle
    * with docfreq <= cap) and each candidate is verified with exact
    * jaccard over the full shingle sets — output values are identical to
    * the uncapped variant for every surfaced pair, and a true near-dup
    * pair is missed only if ALL its shared shingles are hotter than the
    * cap (near-identical docs share their doc-specific rare shingles, so
    * pick the cap well above the near-dup cluster size). For
    * large-vocabulary corpora see also [[ngramJaccardPairsPrefix]].
    * Output: (id_a, id_b, jaccard) with jaccard >= threshold, id_a < id_b.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol, n, maxDocFreq)
    maxDocFreq match {
      case None =>
        val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
        // Sizes join AFTER the pair aggregation on purpose: carrying
        // |A|/|B| through the index rows (size(arr) before the explode,
        // first() in the pair agg) looks like it saves three exchanges,
        // but it widens the candidate-join intermediate — the Σ df²
        // blowup that dominates this pipeline's volume at every scale —
        // and measured 1.8x SLOWER at sf0.1 (2.4 -> 4.2 s). Join the
        // doc-sized sizes frame against the collapsed pair frame instead.
        // shuffle_hash hint: Catalyst's size estimate after an explode is
        // garbage and it happily broadcasts the whole inverted index — fatal
        // at scale; a shingle-keyed shuffle-hash join is bounded on both sides
        val inter = sh.toDF("id_a", "s")
          .join(sh.toDF("id_b", "s").hint("shuffle_hash"), Seq("s"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("c"))
        // shuffle_hash here too: post-aggregation size estimates are no
        // better than post-explode ones, and an AQE broadcast of the
        // (1-row-per-doc, still huge at scale) sizes side or of `inter`
        // itself is exactly the run-to-run 2-130s instability seen locally
        inter
          .join(sizes.toDF("id_a", "sz_a").hint("shuffle_hash"), Seq("id_a"))
          .join(sizes.toDF("id_b", "sz_b").hint("shuffle_hash"), Seq("id_b"))
          .withColumn("jaccard", col("c").cast(DoubleType) /
            (col("sz_a") + col("sz_b") - col("c")).cast(DoubleType))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
      case Some(_) =>
        val cand = sh.toDF("id_a", "s")
          .join(sh.toDF("id_b", "s").hint("shuffle_hash"), Seq("s"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        verifyJaccard(cand, df, idCol, textCol, n, threshold)
    }
  }

  /** IDF-weighted n-gram Jaccard near-dup pairs — the dedup variant that
    * discounts boilerplate overlap: two docs sharing only stock phrases
    * (high docfreq, low IDF) score near 0 even when their raw Jaccard
    * clears the threshold, while overlap on rare content counts fully.
    * sim(A,B) = Σ_{s∈A∩B} idf(s) / Σ_{s∈A∪B} idf(s), idf = ln(N/df).
    *
    * Engine-portability: idf is quantized ONCE per shingle to an integer
    * microweight w = round(ln(N/df)·1e6) (one double→long rounding on a
    * vocab-sized frame), so every per-doc and per-pair aggregate is an
    * EXACT integer sum — no float-summation order dependence across
    * engines — and the threshold test is exact long arithmetic
    * (inter·1e6 ≥ τµ·union). The emitted similarity is one double
    * division of two exact longs.
    *
    * 100 TB shape: same skeleton as [[ngramJaccardPairs]] — distinct
    * (id, shingle) inverted index, docfreq from ONE partial-agged
    * vocab-sized groupBy, weights joined back on the shingle key
    * (shuffle-hash; both sides bounded), pair candidates from the
    * index self-join, per-doc total weights joined AFTER the pair
    * aggregation (the measured-1.8x-faster shape, see ngramJaccardPairs).
    *
    * `maxDocFreq` here is a SEMANTIC cap, not a candidate heuristic:
    * shingles with df > cap are assigned weight ZERO (dropped from the
    * weighted index, so they generate no candidates and no weight mass
    * on either side of the ratio). That is the natural weighted-dedup
    * reading — IDF already sends boilerplate weight toward 0, the cap
    * truncates it — and it keeps the operator oracle-exact (the replay
    * filters df <= cap identically) while bounding the index join's
    * Σ df² fan-out at scale.
    * Output: (id_a, id_b, wjaccard) with wjaccard >= threshold, id_a <
    * id_b, wjaccard rounded to 6 digits. */
  def idfWeightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    val tauMicro = math.round(threshold * 1e6) // exact long threshold
    val sh = shingleIndex(df, idCol, textCol, n, maxDocFreq = None)
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    // vocab-sized; the ONLY place a double is rounded to the integer grid
    val wts = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("s"), col("df"),
        round(log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType))
          * lit(1e6)).cast(LongType).as("w"))
    val hotPruned = maxDocFreq match {
      case Some(cap) => wts.filter(col("df") <= cap)
      case None => wts
    }
    val wIdx = sh.join(hotPruned.select(col("s"), col("w")).hint("shuffle_hash"),
      Seq("s"))
    val docW = wIdx.groupBy(col("id")).agg(sum(col("w")).as("tw"))
    val inter = wIdx.select(col("id").as("id_a"), col("s"), col("w"))
      .join(wIdx.select(col("id").as("id_b"), col("s")).hint("shuffle_hash"),
        Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w")).as("iw"))
    inter
      .join(docW.toDF("id_a", "tw_a").hint("shuffle_hash"), Seq("id_a"))
      .join(docW.toDF("id_b", "tw_b").hint("shuffle_hash"), Seq("id_b"))
      .withColumn("uw", col("tw_a") + col("tw_b") - col("iw"))
      .filter(col("iw") * lit(1000000L) >= lit(tauMicro) * col("uw"))
      .select(col("id_a"), col("id_b"),
        round(col("iw").cast(DoubleType) / col("uw").cast(DoubleType), 6)
          .as("wjaccard"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    * token k-gram, slide a window of `w` consecutive hashes, and keep the
    * MINIMUM hash of each window. The guarantee: any shared run of
    * w + k − 1 tokens between two documents yields at least one shared
    * selected fingerprint, while only ~2/(w+1) of all k-gram hashes are
    * kept — the index this feeds is ~3x smaller than the full shingle
    * index at w=4 with a detection guarantee MinHash can't give (MinHash
    * bounds the MISS RATE probabilistically; winnowing bounds the matched
    * SPAN deterministically).
    *
    * Only the distinct selected hash VALUES per document are emitted, so
    * the window tie-break rule (rightmost vs leftmost min) is irrelevant
    * — both select the same value set — which is what makes the operator
    * exactly replayable on any engine with the same md5-derived hashes.
    * Documents with fewer than w k-grams contribute their single
    * truncated window (= global min); documents shorter than k tokens
    * have no k-grams and drop out.
    *
    * 100 TB shape: ONE narrow projection — hashing and window minima run
    * inside the codegen'd [[graft.functions.WinnowFingerprints]]
    * expression, one pass per row (the graft_minhash treatment: the
    * column-composed md5 transform + per-window slices were interpreted
    * HOFs, the x116 hazard class, and dominated the operator's wall
    * time) — then an explode of the ~2/(w+1)-density fingerprint set.
    * Output: (id, fp) distinct per doc. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    df.select(col(idCol).as("id"),
      graft.functions.WinnowExpression.fingerprints(
        df.sparkSession, split(col(textCol), " "), k, w).as("fps"))
      .filter(col("fps").isNotNull)
      .select(col("id"), explode(col("fps")).as("fp"))
  }

  /** Near-dup candidate pairs from shared winnowing fingerprints: pairs
    * sharing >= `minShared` selected fingerprints, with the shared count.
    * By the winnowing guarantee, any pair sharing a token run of length
    * >= w + k - 1 appears with n_shared >= 1 — so minShared = 2 means
    * "two independent shared spans (or one long one)", the plagiarism-
    * detector notion of a match, at ~1/(w+1)² the join volume of the
    * full-shingle pair search.
    *
    * `maxFpFreq` is the hot-key guard (same role as shingle docfreq caps):
    * fingerprints selected by more than that many documents are
    * boilerplate and are dropped from the index BEFORE the self-join —
    * a semantic cap the oracle replays, bounding the Σ df² fan-out.
    * Output: (id_a, id_b, n_shared), id_a < id_b, all exact integers. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxFpFreq: Option[Int] = None): DataFrame = {
    // the selection scan (md5 per k-gram + the window-min ladder) is the
    // expensive leg and feeds FOUR consumers (hot-list, cap anti-join,
    // both self-join sides) — persist it once, release when the owner
    // scope exits (the pageRank/kCore lifecycle); without this the plan
    // re-runs the scan per consumer (measured 4x at sf0.1)
    val idx0 = winnowingFingerprints(df, idCol, textCol, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    graft.plans.Persists.onScopeEnd(() => idx0.unpersist())
    val idx = maxFpFreq match {
      case None => idx0
      case Some(cap) =>
        val hot = idx0.groupBy(col("fp")).agg(count(lit(1)).as("dfq"))
          .filter(col("dfq") > cap)
        // USING-join puts fp first; restore (id, fp) for positional toDF
        idx0.join(hot, Seq("fp"), "left_anti").select(col("id"), col("fp"))
    }
    idx.toDF("id_a", "fp")
      .join(idx.toDF("id_b", "fp").hint("shuffle_hash"), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-source exact-duplicate rate — the dedup dashboard number that
    * decides where cleaning effort goes (a source at 40% dup rate is a
    * crawler bug or a mirror; at 2% it's organic): per group, total docs,
    * distinct fingerprints, and the duplicate fraction. Uses the x1
    * fingerprint (whitespace-normalized lowercase md5) so formatting-only
    * copies count as duplicates.
    *
    * 100 TB shape: one narrow fingerprint scan; the distinct count is the
    * two-stage (group, fp)-distinct shape (Scale.distinctCountPerKey —
    * no COUNT(DISTINCT) Expand, hot groups spread over their fp space);
    * the final join is #groups-sized. dup_rate is one division of exact
    * integers. Output: (group, n_docs, n_unique, dup_rate). */
  def dupRateReport(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val fp = df.select(col(groupCol).as("grp"),
      fingerprint(col(textCol)).as("fp"))
    val uniq = Scale.distinctCountPerKey(fp, "grp", "fp", as = "n_unique")
    fp.groupBy(col("grp")).agg(count(lit(1)).as("n_docs"))
      .join(uniq, Seq("grp"))
      .select(col("grp").as(groupCol), col("n_docs"), col("n_unique"),
        ((col("n_docs") - col("n_unique")).cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("dup_rate"))
  }

  /** Deterministic audit queue over a scored pair frame: `perBand` pairs
    * sampled from each score band for HUMAN REVIEW — the
    * threshold-tuning workflow (look at pairs at 0.80-0.85, at
    * 0.85-0.90, ...) needs a reproducible, band-balanced sample, not the
    * top of an id sort (which over-represents one corpus region) and not
    * an RNG draw (which changes under reruns and partitioning). Selection
    * ranks by md5(id_a#id_b) inside each band — stable across engines,
    * reruns, and corpus growth (a pair keeps its draw forever).
    *
    * One narrow banding projection + a BAND-KEYED rank window bounded by
    * bands x perBand output rows; the pair frame is already
    * detector-bounded. Output: (band, rk, id_a, id_b, score). */
  def pairAuditQueue(pairs: DataFrame, aCol: String, bCol: String,
      scoreCol: String, bands: Int, perBand: Int): DataFrame = {
    require(bands >= 1 && perBand >= 1, "bands and perBand must be >= 1")
    val band = least(floor(col(scoreCol) * bands).cast(LongType),
      lit(bands - 1L))
    val key = md5Long(concat(col(aCol).cast("string"), lit("#"),
      col(bCol).cast("string")))
    val w = Window.partitionBy(col("band"))
      .orderBy(col("__k").asc, col(aCol).asc, col(bCol).asc)
    pairs
      .select(band.as("band"), key.as("__k"), col(aCol), col(bCol),
        col(scoreCol))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= perBand)
      .select(col("band"), col("rk"), col(aCol), col(bCol), col(scoreCol))
  }

  /** Cross-source duplication flow — which source PAIRS share exact
    * copies: for every fingerprint present in more than one source, the
    * (source, source) pairs it connects, counted. [[dupRateReport]] says
    * how dirty each source is internally and
    * [[CorpusOps.sourceOverlapMatrix]] measures vocabulary similarity;
    * this is the harder evidence — literal copy traffic — that decides
    * which feed is a mirror OF WHICH. Distinct (fp, source) reduction
    * (one partial-agged shuffle), fp-keyed self-join with fan-out
    * bounded by #sources² per fingerprint. Output: (src_a, src_b,
    * n_shared_fps), a < b. */
  def dupFlowMatrix(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val fs = df.select(fingerprint(col(textCol)).as("fp"),
      col(sourceCol).as("src")).distinct()
    fs.toDF("fp", "src_a")
      .join(fs.toDF("fp", "src_b").hint("shuffle_hash"), Seq("fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** Empirical hash-collision audit for the 60-bit fingerprint every
    * md5-based operator keys on: distinct normalized texts vs distinct
    * fingerprintLong values — any gap is a REAL collision on THIS
    * corpus, turning the birthday-bound argument (~n²/2^61) into a
    * measured certificate per refresh. Two-stage distinct counts (the
    * x31 shape, no Expand); one narrow normalize scan. Output: one row
    * (n_distinct_texts, n_distinct_fps, n_collisions). */
  def hashCollisionAudit(df: DataFrame, textCol: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val texts = df.select(norm.as("nt")).distinct()
    val nTexts = texts.agg(count(lit(1)).as("n_distinct_texts"))
    val nFps = texts.select(md5Long(col("nt")).as("fp")).distinct()
      .agg(count(lit(1)).as("n_distinct_fps"))
    nTexts.crossJoin(broadcast(nFps))
      .select(col("n_distinct_texts"), col("n_distinct_fps"),
        (col("n_distinct_texts") - col("n_distinct_fps")).as("n_collisions"))
  }

  /** Exact-dedup SAVINGS estimate — the before/after token accounting
    * that justifies (or kills) a dedup stage: total corpus tokens, the
    * tokens surviving exact dedup (lowest-id keeper per fingerprint),
    * and the savings rate. ALL-INTEGER: token counts are exact longs,
    * the rate is one division. Two partial-agged passes (corpus totals;
    * keeper totals via the fingerprint window) — no join of the corpus
    * against itself. Output: one row (total_tokens, kept_tokens,
    * dup_tokens, savings_rate). */
  def dedupSavings(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val tok = tokenCount(col(textCol)).cast(LongType)
    val total = df.agg(sum(tok).as("total_tokens"))
    val kept = exactDedup(df, idCol, textCol)
      .agg(sum(tok).as("kept_tokens"))
    total.crossJoin(broadcast(kept))
      .select(col("total_tokens"), col("kept_tokens"),
        (col("total_tokens") - col("kept_tokens")).as("dup_tokens"),
        ((col("total_tokens") - col("kept_tokens")).cast(DoubleType) /
          col("total_tokens").cast(DoubleType)).as("savings_rate"))
  }

  /** Near-dup CLUSTER cohesion report: per connected component of the
    * pair graph, its size, detected-pair count, pair DENSITY (pairs /
    * possible pairs — dense ≈ template family, sparse ≈ chain of
    * coincidental overlaps; the cluster-level reading of x67's triangle
    * counts) and the mean pair score. Density is a division of exact
    * integers; the mean averages the handful of per-cluster scores
    * (rounded to 6, the x45 summation precedent — clusters are small by
    * the detector's construction).
    *
    * Shapes: pointer-jumping labels (ConnectedComponents), one
    * shuffle_hash label join onto the pair frame, partial-agged
    * per-cluster aggregates. Output: (cluster, n_nodes, n_pairs,
    * density, mean_score). */
  def clusterCohesion(pairs: DataFrame, aCol: String, bCol: String,
      scoreCol: String): DataFrame = {
    // the pair frame is consumed twice (the closure's edge RDD and the
    // per-cluster score join) and deliberately NOT eagerly persisted:
    // measured head-to-head at bench scale, persist+count ran SLOWER
    // (5.2 s vs 4.7 s min-of-3) — an extra synchronous action plus cache
    // traffic against a duplicate evaluation that the scheduler already
    // pipelines well. Callers composing MANY passes over one pair frame
    // should persist at their level (the e2/e3 pipelines do).
    val p = pairs
    val labels = ConnectedComponents.labels(p, aCol, bCol)
    val sizes = labels.groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_nodes"))
    val perCluster = p
      .join(labels.toDF(aCol, "cluster").hint("shuffle_hash"), Seq(aCol))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col(scoreCol)), 6).as("mean_score"))
    perCluster.join(sizes.hint("shuffle_hash"), Seq("cluster"))
      .select(col("cluster"), col("n_nodes"), col("n_pairs"),
        (col("n_pairs").cast(DoubleType) * 2.0 /
          (col("n_nodes") * (col("n_nodes") - 1L)).cast(DoubleType))
          .as("density"),
        col("mean_score"))
  }

  /** MinHash estimator calibration over a verified pair set: for each
    * exact-jaccard pair, the signature-agreement estimate
    * (#{i : sig_i(a) = sig_i(b)} / numHashes) NEXT TO the true jaccard —
    * the banding-parameter tuning table (bands/rows are chosen from the
    * estimator's curve, so the curve itself deserves a gate), and the
    * strongest cross-engine proof of the codegen'd `graft_minhash`
    * expression: the x123 oracle rebuilds every signature from scratch
    * in SQL (two md5 bases, the affine family, 64 min-aggregates) and
    * the per-pair estimates must match BIT FOR BIT.
    *
    * Pair-frame-sized: signatures are one narrow projection; the two
    * signature joins are id-keyed shuffle_hash. Output:
    * (id_a, id_b, jaccard, mh_est). */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, numHashes: Int = 64): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, threshold)
    val sigs = minhashSignatures(df, idCol, textCol, n, numHashes)
    val a = sigs.toDF("id_a" +: (0 until numHashes).map(i => s"a$i"): _*)
    val b = sigs.toDF("id_b" +: (0 until numHashes).map(i => s"b$i"): _*)
    val agree = (0 until numHashes).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    pairs.join(a.hint("shuffle_hash"), Seq("id_a"))
      .join(b.hint("shuffle_hash"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (agree.cast(DoubleType) / numHashes).as("mh_est"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * shingles that appear in NO other document (corpus docfreq 1) — high
    * novelty marks original content, low novelty marks template/mirror/
    * boilerplate-heavy text even when no single pair crosses a near-dup
    * threshold (the aggregate complement of the pair-wise detectors).
    *
    * 100 TB shape: ONE shingle explode feeds the docfreq table and the
    * per-doc re-aggregation; the docfreq join is shuffle_hash-pinned on
    * the shingle key (no broadcast of the growing vocabulary). Documents
    * shorter than n tokens have no shingles and are absent from the
    * output. Output: (id, n_shingles, n_novel, novelty). */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol, n)
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("dfq"))
    sh.join(dfreq.hint("shuffle_hash"), Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("dfq") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast(DoubleType) /
          col("n_shingles").cast(DoubleType)).as("novelty"))
  }

  /** N-gram CONTAINMENT near-dup pairs: containment(a,b) =
    * |Sa ∩ Sb| / min(|Sa|, |Sb|) — the asymmetric-length dual of
    * [[ngramJaccardPairs]]. Jaccard divides by the UNION, so a short
    * document fully embedded in a long one (a quoted article inside a
    * page, a doc re-published with appended boilerplate) scores only
    * ~|Sa|/|Sb| and slips under any practical jaccard threshold;
    * max-containment scores it ~1 regardless of the length ratio. The
    * standard second pass of a dedup stack (jaccard catches same-length
    * near-dups, containment catches subsumption).
    *
    * Same machinery and 100 TB shape as the jaccard variant: uncapped =
    * count-based inverted index, one shingle-keyed shuffle into a
    * partial-agg groupBy, sizes joined shuffle_hash (no broadcast of a
    * corpus-sized side); with `maxDocFreq` the capped index generates
    * candidates, pairs where either side holds no hot shingle emit their
    * containment directly from the capped count (exact for them — a
    * shared shingle is capped-visible or hot in both docs), and only
    * hot-overlapping pairs pay the exact full-set verify. Output:
    * (id_a, id_b, containment) with containment >= threshold,
    * id_a < id_b. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    maxDocFreq match {
      case None =>
        val sh = shingleIndex(df, idCol, textCol, n, None)
        val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
        val inter = sh.toDF("id_a", "s")
          .join(sh.toDF("id_b", "s").hint("shuffle_hash"), Seq("s"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("c"))
        inter
          .join(sizes.toDF("id_a", "sz_a").hint("shuffle_hash"), Seq("id_a"))
          .join(sizes.toDF("id_b", "sz_b").hint("shuffle_hash"), Seq("id_b"))
          .withColumn("containment", col("c").cast(DoubleType) /
            least(col("sz_a"), col("sz_b")).cast(DoubleType))
          .filter(col("containment") >= threshold)
          .select(col("id_a"), col("id_b"), col("containment"))
      case Some(cap) =>
        // the df-annotated index feeds THREE sibling stages (the per-doc
        // size/hot agg and both legs of the pair self-join), which Spark
        // schedules concurrently — a lazily-persisted frame would be
        // computed by each of them in parallel before any cache block
        // lands. Build it ONCE eagerly (the e2/e3 pipeline pattern:
        // persist + count), released when the owner scope exits.
        val idx = df.select(col(idCol).as("id"),
            explode(shingles(col(textCol), n)).as("s"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        // Only the HOT side of the docfreq table is ever consulted
        // (keep == "not hot"), and it is small by construction: at most
        // total_shingle_rows / cap DISTINCT values. So instead of
        // annotating every index row with its df through a corpus-sized
        // shuffle join (the round-6 shape — two extra full exchanges),
        // aggregate once, keep the hot set, and BROADCAST it when it fits
        // (guard below; a boilerplate-saturated corpus where it doesn't
        // falls back to the shuffle-annotated plan). The docfreq
        // annotation is NOT a count window either: an unordered window
        // still sorts every partition by s (WindowExec groups by
        // sorting), measured 1.0 s slower than the hash exchanges.
        val hotSet = idx.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("s"), lit(true).as("__h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val hotCount = hotSet.count() // materializes idx + hotSet
        val anyHot = hotCount > 0L
        // ~24 B/shingle -> <= ~12 MB broadcast at the guard
        val broadcastable = hotCount <= 500000L
        val marked0 =
          if (broadcastable)
            idx.join(broadcast(hotSet), Seq("s"), "left")
              .select(col("id"), col("s"), col("__h").isNull.as("keep"))
          else
            idx.join(hotSet.hint("shuffle_hash"), Seq("s"), "left")
              .select(col("id"), col("s"), col("__h").isNull.as("keep"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val idxf = marked0
        // the annotated frame feeds three concurrently-scheduled sibling
        // stages; a lazily-persisted frame would be computed by each in
        // parallel before any cache block lands — materialize eagerly
        // (broadcast mode needs no barrier: the join is a narrow map over
        // the already-cached idx)
        if (!broadcastable) idxf.count()
        graft.plans.Persists.onScopeEnd(() => {
          idx.unpersist(false); hotSet.unpersist(false)
          if (!broadcastable) idxf.unpersist(false)
        })
        // candidate pairs keep their CAPPED-intersection count from the
        // same partial-agged groupBy the uncapped form uses (a count is
        // strictly cheaper than the distinct-project it replaces), which
        // admits a SOUND prune before the expensive full-array verify:
        // true_c <= capped_c + min(hot_a, hot_b) — a shared shingle is
        // either capped-visible or hot in BOTH docs — so any pair with
        // capped_c + min(hot_a, hot_b) < t * min(|A|, |B|) can be
        // discarded without computing its exact intersection.
        val sizes = idxf.groupBy(col("id")).agg(
          count(lit(1)).as("szf"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("hot"))
        val capped = idxf.filter(col("keep")).select(col("id"), col("s"))
        val counts = capped.toDF("id_a", "s")
          .join(capped.toDF("id_b", "s").hint("shuffle_hash"), Seq("s"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("cc"))
        val scored = counts
          .join(sizes.select(col("id").as("id_a"), col("szf").as("szf_a"),
            col("hot").as("hot_a")).hint("shuffle_hash"), Seq("id_a"))
          .join(sizes.select(col("id").as("id_b"), col("szf").as("szf_b"),
            col("hot").as("hot_b")).hint("shuffle_hash"), Seq("id_b"))
          .filter((col("cc") + least(col("hot_a"), col("hot_b")))
            .cast(DoubleType) >=
            lit(threshold) * least(col("szf_a"), col("szf_b")).cast(DoubleType))
        // FAST PATH: a shared shingle is either capped-visible or hot in
        // BOTH docs, so when min(hot_a, hot_b) = 0 the pair shares no
        // cap-dropped shingle and capped_c IS the exact intersection —
        // emit its containment directly from cc/min(szf). Only pairs where
        // both sides carry hot shingles can have cap-hidden overlap; they
        // alone pay the full-array verify. On clean corpora (no shingle
        // over the cap anywhere — idxf probe below, one limit-1 scan of
        // the cached index) the verify branch is provably empty and is
        // not even planned, so the capped form costs the same as the
        // uncapped one plus the docfreq join.
        val exact = scored.filter(least(col("hot_a"), col("hot_b")) === 0)
          .withColumn("containment", col("cc").cast(DoubleType) /
            least(col("szf_a"), col("szf_b")).cast(DoubleType))
          .filter(col("containment") >= threshold)
          .select(col("id_a"), col("id_b"), col("containment"))
        if (!anyHot) exact
        else {
          val pruned = scored
            .filter(least(col("hot_a"), col("hot_b")) > 0)
            .select(col("id_a"), col("id_b"))
          val shA = df.select(col(idCol).as("id_a"), shingles(col(textCol), n).as("arr_a"))
          val shB = df.select(col(idCol).as("id_b"), shingles(col(textCol), n).as("arr_b"))
          val verified = pruned
            .join(shA.hint("shuffle_hash"), Seq("id_a"))
            .join(shB.hint("shuffle_hash"), Seq("id_b"))
            .withColumn("c", size(array_intersect(col("arr_a"), col("arr_b"))))
            .withColumn("containment", col("c").cast(DoubleType) /
              least(size(col("arr_a")), size(col("arr_b"))).cast(DoubleType))
            .filter(col("containment") >= threshold)
            .select(col("id_a"), col("id_b"), col("containment"))
          exact.unionByName(verified)
        }
    }
  }

  /** N-gram Jaccard with PREFIX FILTERING (AllPairs/PPJoin candidate
    * pruning): shingles are globally ordered by (document frequency asc,
    * shingle asc); a document of set size z indexes only its first
    * `z - ceil(t*z) + 1` shingles — any pair with jaccard >= t must share
    * a shingle inside both prefixes (pigeonhole over the shared global
    * order), so the candidate self-join shrinks to ~(1-t) of the inverted
    * index. Candidates are verified against the full shingle sets; the
    * output — every pair with EXACT jaccard >= t — equals the count-based
    * variant. Pays off on large-vocabulary corpora (Zipfian shingle
    * frequencies); on tiny hot vocabularies the count-based variant wins.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol, n, maxDocFreq)
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("dfq"))
    // per-doc set size: NARROW when the index is uncapped (size of the
    // distinct shingle array per row — no groupBy over |corpus|x|shingles|
    // index rows); a cap changes which shingles are indexed, so only then
    // is the re-aggregation of the capped index needed
    val sizes = maxDocFreq match {
      case None => df.select(col(idCol).as("id"),
        size(shingles(col(textCol), n)).cast(LongType).as("sz"))
      case Some(_) => sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    }
    val prefix = sh
      .join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("dfq").asc, col("s").asc)))
      .join(sizes, Seq("id"))
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("s"))

    val cand = prefix.toDF("id_a", "s")
      .join(prefix.toDF("id_b", "s").hint("shuffle_hash"), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // verify against the FULL shingle sets — the same contract as every
    // other variant (surfaced pairs carry the exact uncapped jaccard);
    // verifying against capped sets would emit different values and
    // different pairs than the count-based capped variant
    verifyJaccard(cand, df, idCol, textCol, n, threshold)
  }

  /** MinHash signatures: numHashes min-hashes over the shingle set, from a
    * 2-universal affine family h_i(s) = (a(s) + i*b(s)) mod (2^31-1),
    * where a,b are two md5-derived base hashes — 2 md5 evaluations per
    * shingle (the md5-per-seed variant was the dominant cost of the whole
    * LSH pipeline). Computed per ROW by the codegen'd graft_minhash
    * expression ([[graft.functions.MinhashSignature]]): zero shuffles —
    * at 100 TB the signature stage is a pure map, and the only shuffle in
    * LSH dedup is the banded candidate join. Output schema (id, h0..h_k-1)
    * is unchanged from the agg plan. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    // One-pass NARROW projection via the graft_minhash expression — no
    // explode, no shuffle; the signature stage's cost is pure CPU. The
    // family is bit-identical to [[minhashSignaturesAgg]] (the original
    // explode+agg plan, kept below as the in-repo equivalence oracle), so
    // every recall certification carries over unchanged.
    // empty-shingle docs drop BEFORE the signature projection, on the
    // cheap token-count proxy (shingles nonempty <=> >= n tokens): a
    // filter on sig.isNotNull would be pushed below the Project and
    // re-evaluate the whole signature — measured 2x the md5 work
    // NOT fanned out (round-10 interleaved A/B: x123 2.2 vs 1.6 s against
    // the fan-out — several queries consume signatures through multiple
    // scans and the per-scan exchange outweighs the one-pass expression)
    val sig = df.filter(size(tokens(col(textCol))) >= n)
      .select(col(idCol).as("id"),
        graft.functions.MinhashExpression.signature(df.sparkSession,
          shingles(col(textCol), n), numHashes).as("sig"))
    sig.select(col("id") +:
      (0 until numHashes).map(i => col("sig").getItem(i).as(s"h$i")): _*)
  }

  /** The original explode + groupBy(id) signature plan. Superseded by the
    * narrow [[minhashSignatures]] for execution, kept as the equivalence
    * oracle: a spec asserts both produce bit-identical signatures. */
  def minhashSignaturesAgg(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    // 32-bit bases keep ha + i*hb under 2^40 — no long overflow, which
    // ANSI mode (Spark 4 default) would turn into a task failure.
    // NOTE: this exact two-md5 seeded family is load-bearing — its recall
    // against the exact-jaccard oracle is 100% on the gate data; swapping
    // in a cheaper family (e.g. two slices of one digest) dropped a
    // borderline pair at sf0.01 for ~0.2s of savings. Don't change it
    // without re-running the oracle at every SF.
    val sh = shingleIndex(df, idCol, textCol, n)
      .withColumn("ha", md5LongSeeded(col("s"), 0).bitwiseAND(lit(0xFFFFFFFFL)))
      .withColumn("hb", md5LongSeeded(col("s"), 1).bitwiseAND(lit(0xFFFFFFFFL)).bitwiseOR(lit(1L)))
    // REDUCE MOD A PRIME. Without the modulus, min(a + i*b) converges to
    // the shingle with the smallest b as i grows — the i-th hashes stop
    // being independent and LSH recall quietly collapses (measured: 3
    // misses in 256 true pairs at 5k docs). Mod 2^31-1 this is a proper
    // 2-universal family; a + i*b < 2^40 keeps ANSI arithmetic safe.
    val p = 2147483647L // 2^31 - 1
    val mins = (0 until numHashes).map(i =>
      min(pmod(col("ha") + lit(i.toLong) * col("hb"), lit(p))).as(s"h$i"))
    sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding near-dup pairs. Signature rows are split into
    * `bands` bands of `numHashes/bands` rows; docs sharing any band bucket
    * become candidates (shuffle keyed on (band, bucket-hash)); candidates
    * are then verified with EXACT jaccard over the shingle sets, so the
    * output contract — all pairs with jaccard >= threshold — matches the
    * brute-force oracle as long as LSH recall holds.
    *
    * Defaults are 16 bands x 4 rows (64 hashes): 4-row buckets keep
    * background-similarity candidates rare (per-band match ~j^4) and 16
    * bands give ~2e-4 per-pair miss at exactly j=0.8. The PRE-modulus
    * affine family measured 3 misses in 256 true pairs at 5k docs with
    * this same banding — the pmod fix below (not more bands) is what
    * restored recall; with it, 16x4 passes the exact-jaccard oracle at
    * every SF. Recall is DETERMINISTIC for fixed data (md5-derived
    * hashes, no RNG), so one green oracle run at a scale certifies that
    * scale forever; re-check at every SF before changing numHashes/bands
    * or the family.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16): DataFrame =
    lshPairsFromBuckets(
      minhashBandBuckets(df, idCol, textCol, n, numHashes, bands),
      df, idCol, textCol, n, threshold)

  /** The banded-bucket stage of [[minhashLshPairs]] on its own: (id, band,
    * bucket) rows — the signature computation is the md5-dominant cost of
    * the whole LSH pipeline, so when one corpus participates in SEVERAL
    * pair searches (vs-history AND in-batch in a nightly ingest), compute
    * this once on a persisted narrow frame and feed each search via
    * [[lshPairsFromBuckets]] / [[lshPairsFromBucketsAcross]]. */
  def minhashBandBuckets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    bandBuckets(minhashSignatures(df, idCol, textCol, n, numHashes),
      bands, numHashes / bands)
  }

  /** Near-dup pairs from PRECOMPUTED band buckets (self-join): candidates
    * share a (band, bucket), then exact-jaccard verification against
    * `corpus`'s shingle sets — value-identical to [[minhashLshPairs]] when
    * `buckets = minhashBandBuckets(corpus, ...)`. `buckets` may be a
    * SUBSET of the corpus's buckets (e.g. survivors of an earlier dedup
    * stage): only pairs within the subset are surfaced. */
  def lshPairsFromBuckets(buckets: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // shuffle_hash: post-explode size estimates are garbage and an AQE
    // broadcast of the banded side is the run-to-run 2-130s instability
    val cand = buckets.toDF("id_a", "band", "bucket")
      .join(buckets.toDF("id_b", "band", "bucket").hint("shuffle_hash"),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // verify candidates with exact jaccard over full shingle sets
    verifyJaccard(cand, corpus, idCol, textCol, n, threshold)
  }

  /** Cross-frame twin of [[lshPairsFromBuckets]]: candidates pair
    * `bucketsA` (id_a, from `left`) against `bucketsB` (id_b, from
    * `right`). Both bucket frames must come from the same (n, numHashes,
    * bands) family — signatures are frame-independent, so precomputed
    * history buckets can be reused across nightly batches. */
  def lshPairsFromBucketsAcross(bucketsA: DataFrame, bucketsB: DataFrame,
      left: DataFrame, right: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val cand = bucketsA.toDF("id_a", "band", "bucket")
      .join(bucketsB.toDF("id_b", "band", "bucket").hint("shuffle_hash"),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    verifyJaccardAcross(cand, left, right, idCol, textCol, n, threshold)
  }

  /** Banded LSH buckets of a signature frame: the bucket key is the
    * band's raw signature slice (a struct) — no re-hashing needed, the
    * join key IS the band values. */
  private def bandBuckets(sig: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).zipWithIndex
        .map { case (i, j) => col(s"h$i").as(s"v$j") }
      struct(lit(b).as("band"), struct(cols: _*).as("bucket"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** MinHash-LSH near-dup detection of `corpus` AGAINST `history` — the
    * incremental-ingest path: yesterday's corpus is a fixed snapshot, only
    * the new batch is banded against it, and the corpus never self-joins
    * (at 100 TB the nightly batch is ~0.1% of the snapshot; a self-join of
    * the union would re-pay the full-corpus pair search every night).
    * Both sides use the SAME md5-affine family, so a document's signature
    * is frame-independent and recall certified for the self-join variant
    * (x3's exact-jaccard gate) carries over: cross pairs are a subset of
    * the union's pairs. Output: (id_a from corpus, id_b from history,
    * jaccard >= threshold), exact-verified like the self-join variant.
    */
  def minhashLshPairsAgainst(corpus: DataFrame, history: DataFrame,
      idCol: String, textCol: String, n: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16): DataFrame =
    lshPairsFromBucketsAcross(
      minhashBandBuckets(corpus, idCol, textCol, n, numHashes, bands),
      minhashBandBuckets(history, idCol, textCol, n, numHashes, bands),
      corpus, history, idCol, textCol, n, threshold)

  /** ExactSubstr-style overlap detector (the window-granular exact dedup
    * of "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022): pairs of documents sharing at least one exact
    * k-token window, with the count of distinct shared windows. Unlike
    * [[ngramJaccardPairs]] (whole-document set similarity), this flags
    * LOCAL verbatim overlap — a copied paragraph inside two otherwise
    * unrelated documents, which jaccard at document granularity dilutes
    * below any useful threshold.
    *
    * Same inverted-index cost model as the jaccard family: one
    * shingle-keyed shuffle into a partial-agged groupBy, cost sum of
    * docfreq^2 per window. At the published k (~50 tokens) windows are
    * nearly unique, so the index is near-linear; `maxDocFreq` caps the
    * boilerplate windows if not (a pair is missed only if EVERY shared
    * window is hotter than the cap). Output: (id_a, id_b, n_shared),
    * id_a < id_b, exact when uncapped. */
  def sharedWindowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 50, maxDocFreq: Option[Int] = None): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol, k, maxDocFreq)
    sh.toDF("id_a", "s")
      .join(sh.toDF("id_b", "s").hint("shuffle_hash"), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
  }

  /** 60-bit SimHash per document: md5-hash each distinct token, weight by
    * its occurrence count, sign-sum each bit. Computed per ROW by the
    * codegen'd graft_simhash expression — zero shuffles (the explode +
    * groupBy plan is kept as [[simhashAgg]], the in-repo equivalence
    * oracle; a spec asserts bit-identical fingerprints). Docs whose text
    * is null drop, like the exploded plan. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      // non-null variant is sound here: split() of a non-null string
      // always yields >= 1 element, so the fingerprint can't be null —
      // and band keys derived from it stay non-nullable (no pushed
      // isnotnull filter re-evaluating the fingerprint below the project)
      .select(col(idCol).as("id"),
        graft.functions.SimhashExpression.fingerprintNonNull(df.sparkSession,
          tokens(col(textCol))).as("simhash"))

  /** The original explode + two-agg simhash plan, kept as the equivalence
    * oracle for [[simhash]]. */
  def simhashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5Long(col("w")))
    val bitSums = (0 until 60).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$i"))
    val sums = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 60).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a + b)
    sums.select(col("id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming(simhash) <= maxHamming. Candidates via
    * 4 bands of 15 bits (pigeonhole: any pair with <=3 differing bits
    * shares at least one clean band), verified with bit_count(xor). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x15-bit banding guarantees recall only for hamming <= 3")
    val sh = simhash(df, idCol, textCol)
    val chunks = (0 until 4).map(j =>
      struct(lit(j).as("chunk"),
        shiftright(col("simhash"), j * 15).bitwiseAND(lit(0x7fffL)).as("ck")))
    val banded = sh.select(col("id"), col("simhash"),
      explode(array(chunks: _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk"), col("cc.ck"))
    banded.toDF("id_a", "sim_a", "chunk", "ck")
      .join(banded.toDF("id_b", "sim_b", "chunk", "ck").hint("shuffle_hash"),
        Seq("chunk", "ck"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---- embedding near-dup ----

  /** Cosine similarity between two double arrays — explicit dot/sqrt form
    * so an oracle can reproduce the exact IEEE operation order. Zero-norm
    * inputs yield NaN via try_divide instead of the ANSI DIVIDE_BY_ZERO
    * task failure (one degenerate embedding must not kill a corpus job);
    * a NaN cosine fails every `>= threshold` filter, so degenerate
    * vectors simply pair with nothing. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    coalesce(try_divide(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b))),
      lit(Double.NaN))
  }

  private def asDouble(vec: Column): Column =
    transform(vec, v => v.cast(DoubleType))

  /** Brute-force embedding near-dup pairs with cosine >= threshold.
    * O(n^2) — the CORRECTNESS baseline; use [[embeddingCosinePairsLsh]] as
    * the scale path. Norms are precomputed per vector (2n dot products
    * instead of 2 per pair), which changes nothing numerically: the
    * pairwise expression is still dot/(sqrt(na)*sqrt(nb)). */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    def dot(x: Column, y: Column): Column =
      graft.functions.VectorExpressions.dot(df.sparkSession, x, y)
    val e = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    e.toDF("id_a", "v_a", "norm_a").crossJoin(e.toDF("id_b", "v_b", "norm_b"))
      .filter(col("id_a") < col("id_b"))
      // try_divide: zero-norm rows drop at the threshold filter instead
      // of throwing DIVIDE_BY_ZERO under ANSI (see [[cosine]])
      .withColumn("cos", try_divide(dot(col("v_a"), col("v_b")),
        col("norm_a") * col("norm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup by
    * partitioning the embedding space into clusters and collapsing
    * within-cluster pairs with cosine >= threshold to the lowest id.
    * Pairs in different clusters are never compared — the published
    * recall trade-off that turns the corpus-quadratic pair search into
    * sum over clusters of |cluster|^2 (~n^2/k for balanced k-means), with
    * candidate generation an ordinary equi-join on the cluster id — the
    * same bounded-fan-out shape as every other dedup variant (pick k so
    * the largest cluster's self-join stays tractable; the hot-cluster
    * failure mode is the same as a hot shingle, and the fix is more
    * centroids). `centroids` carries (labelCol, vecCol): at 100 TB the
    * k-means / coreset output, broadcast once by
    * [[Similarity.nearestCentroid]] — the corpus is scanned, never
    * shuffled, for assignment. Returns the surviving rows of `df`
    * unchanged. */
  def semDedup(df: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, labelCol: String, threshold: Double): DataFrame = {
    def dot(x: Column, y: Column): Column =
      graft.functions.VectorExpressions.dot(df.sparkSession, x, y)
    val assigned = Similarity.nearestCentroid(df, centroids, idCol, vecCol, labelCol)
      .select(col(idCol).as("id"), col(labelCol).as("cl"))
    // norms precomputed per vector (like embeddingCosinePairs); the
    // within-cluster join is shuffle_hash-pinned on the cluster id
    val e = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .join(assigned.hint("shuffle_hash"), Seq("id"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .select(col("id"), col("v"), col("norm"), col("cl"))
    val losers = e.toDF("id_a", "v_a", "norm_a", "cl")
      .join(e.toDF("id_b", "v_b", "norm_b", "cl").hint("shuffle_hash"), Seq("cl"))
      .filter(col("id_a") < col("id_b"))
      // try_divide: zero-norm rows drop at the threshold filter instead
      // of throwing DIVIDE_BY_ZERO under ANSI (see [[cosine]])
      .withColumn("cos", try_divide(dot(col("v_a"), col("v_b")),
        col("norm_a") * col("norm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Sign-random-projection LSH (deterministic: the "random" hyperplanes
    * are the coordinate axes of the first 60 dims — i.e. sign bits),
    * banded like simhash, then exact-cosine verification. Recall is below
    * 1.0 (documented trade-off) — the scale path for >1M vectors. */
  def embeddingCosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 10, rowsPerBand: Int = 6): DataFrame = {
    val e = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val sig = e.withColumn("bits",
      transform(slice(col("v"), 1, bands * rowsPerBand), v => (v > 0).cast(LongType)))
    val chunks = (0 until bands).map(j =>
      struct(lit(j).as("chunk"),
        md5Long(concat_ws(",",
          (0 until rowsPerBand).map(i =>
            // try_element_at: a vector shorter than bands*rowsPerBand
            // zero-pads instead of failing the task under ANSI
            coalesce(try_element_at(col("bits"), lit(j * rowsPerBand + i + 1)), lit(0L))): _*))
          .as("ck")))
    val banded = sig.select(col("id"), col("v"), explode(array(chunks: _*)).as("cc"))
      .select(col("id"), col("v"), col("cc.chunk"), col("cc.ck"))
    banded.toDF("id_a", "v_a", "chunk", "ck")
      .join(banded.toDF("id_b", "v_b", "chunk", "ck").hint("shuffle_hash"),
        Seq("chunk", "ck"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "v_a", "v_b").distinct()
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Canonical-document selection: collapse each near-dup cluster to ONE
    * representative — the standard curation move after pair discovery
    * (keep the longest/highest-quality member, drop the rest) rather than
    * the keep-lowest-id rule the plain dedup entries use. Clusters are
    * connected components of `pairs`; documents in no pair are their own
    * singleton cluster. The winner is argmax of `scoreCol` with ties to
    * the LOWEST id — encoded as `max(struct(score, -id, id))`, a partial-
    * aggregable one-shuffle argmax (no per-cluster window sort).
    *
    * Scale shape: the labels frame is bounded by near-dup NODES (a small
    * fraction of the corpus), so the corpus-side left join streams; the
    * cluster agg shuffles one narrow row per document. Output: one row per
    * kept document (cluster, kept_id, n_members, best score).
    */
  def canonicalPerCluster(df: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: Column): DataFrame = {
    val labels = ConnectedComponents.labels(pairs, "id_a", "id_b")
      .toDF("id", "cluster")
    val members = df
      .select(col(idCol).cast(LongType).as("id"), scoreCol.cast(LongType).as("score"))
      .join(labels, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    members.groupBy(col("cluster"))
      .agg(
        max(struct(col("score"), (-col("id")).as("neg_id"), col("id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("best.id").as("kept_id"),
        col("n_members"), col("best.score").as("kept_score"))
  }

  /** Jaccard THRESHOLD-SWEEP histogram — the knee plot a dedup threshold
    * is actually chosen from: pair counts per jaccard band over every
    * pair at or above `minBucket`/`buckets`, from ONE pass of the
    * count-based inverted index (the same machinery as
    * [[ngramJaccardPairs]], aggregated by band instead of filtered at a
    * single threshold — running the pair search once per candidate
    * threshold is the naive alternative this replaces). Banding is
    * INTEGER-exact in both engines: band = (buckets·|A∩B|) div |A∪B|
    * never touches a float, so no 0.05-step boundary can disagree
    * between engines (0.05 is not representable in binary). Output:
    * (band, band_lo, n_pairs) for non-empty bands, band b covering
    * jaccard ∈ [b/buckets, (b+1)/buckets) and band == buckets meaning
    * exactly 1.0. */
  def jaccardThresholdSweep(df: DataFrame, idCol: String, textCol: String,
      n: Int, minBucket: Int = 10, buckets: Int = 20): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol, n, None)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = sh.toDF("id_a", "s")
      .join(sh.toDF("id_b", "s").hint("shuffle_hash"), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.toDF("id_a", "sz_a").hint("shuffle_hash"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sz_b").hint("shuffle_hash"), Seq("id_b"))
      .select(call_function("div", lit(buckets.toLong) * col("c"),
        col("sz_a") + col("sz_b") - col("c")).as("band"))
      .filter(col("band") >= minBucket.toLong)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("band"),
        round(col("band").cast(DoubleType) / buckets, 6).as("band_lo"),
        col("n_pairs"))
  }

  /** Capture-recapture estimate of the TOTAL near-dup pair population
    * from two independent detectors (Chapman 1951's bias-corrected
    * Lincoln-Petersen): if detector A finds n1 pairs, detector B finds
    * n2, and m pairs are found by BOTH, the unseen-population estimate
    * is (n1+1)(n2+1)/(m+1) − 1 — the ecology trick applied to the
    * question every dedup pipeline owner asks ("how many dups did we
    * MISS?"), valid to the extent the detectors' miss patterns are
    * independent (shingle-overlap vs bit-signature misses are close
    * enough for a planning number). Per-detector coverage = n/N̂.
    * Exact integer counts into one 1-row reduce; the pair frames come
    * from already-gated detectors. Output: (n_a, n_b, n_both,
    * est_total, coverage_a, coverage_b). */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame,
      idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    def keyed(df: DataFrame) =
      df.select(col(idACol).as("ka"), col(idBCol).as("kb"))
    val a = keyed(pairsA); val b = keyed(pairsB)
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val m = a.join(b.hint("shuffle_hash"), Seq("ka", "kb"))
      .agg(count(lit(1)).as("n_both"))
    val est = d((col("n_a") + 1L) * (col("n_b") + 1L)) /
      d(col("n_both") + 1L) - lit(1.0)
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(m)) // 1-row each
      .select(col("n_a"), col("n_b"), col("n_both"),
        round(est, 6).as("est_total"),
        round(when(est === 0.0, lit(null).cast(DoubleType))
          .otherwise(d(col("n_a")) / est), 6).as("coverage_a"),
        round(when(est === 0.0, lit(null).cast(DoubleType))
          .otherwise(d(col("n_b")) / est), 6).as("coverage_b"))
  }

  /** LSH (bands, rows) parameter planner: for each rows-per-band r that
    * divides into the `totalHashes` budget, the S-curve facts a
    * [[minhashLshPairs]] caller tunes against (Leskovec-Rajaraman-Ullman
    * ch. 3): collision probability 1-(1-s^r)^b at the target threshold,
    * at a `lowT` non-dup similarity (false-positive pressure on the
    * candidate verifier) and at a `highT` true-dup similarity (miss
    * rate), plus the curve midpoint (1/b)^(1/r) and the chosen row —
    * the r whose midpoint lands closest to the threshold. The planner
    * frame is maxR rows of closed-form math; measured calibration of a
    * BUILT index is x123's job, this is the pre-build advisor.
    * `lowT`/`highT` are explicit (not derived from `threshold`) so both
    * engines evaluate pow on bit-identical literals. */
  def lshPlanner(spark: org.apache.spark.sql.SparkSession,
      threshold: Double, lowT: Double, highT: Double,
      totalHashes: Int = 256, maxR: Int = 16): DataFrame = {
    require(threshold > 0 && threshold < 1 && lowT < threshold &&
      highT > threshold && highT < 1, "need lowT < threshold < highT in (0,1)")
    val d = (c: Column) => c.cast(DoubleType)
    def sCurve(s: Double): Column =
      lit(1.0) - pow(lit(1.0) - pow(lit(s), d(col("r"))), d(col("b")))
    val base = spark.range(1L, maxR.toLong + 1L)
      .select(col("id").as("r"))
      .withColumn("b",
        call_function("div", lit(totalHashes.toLong), col("r")))
      .filter(col("b") >= 1L)
      .withColumn("hashes", col("b") * col("r"))
      .withColumn("mid",
        pow(lit(1.0) / d(col("b")), lit(1.0) / d(col("r"))))
      .withColumn("p_t", sCurve(threshold))
      .withColumn("p_fp", sCurve(lowT))
      .withColumn("p_fn",
        pow(lit(1.0) - pow(lit(highT), d(col("r"))), d(col("b"))))
      .withColumn("dist", abs(col("mid") - lit(threshold)))
    base
      .withColumn("chosen", row_number().over( // maxR-row frame
        Window.orderBy(col("dist").asc, col("r").asc)) === 1)
      .select(col("r"), col("b"), col("hashes"),
        round(col("mid"), 6).as("midpoint"),
        round(col("p_t"), 6).as("p_at_threshold"),
        round(col("p_fp"), 6).as("p_fp_low"),
        round(col("p_fn"), 6).as("p_fn_high"),
        col("chosen"))
      .orderBy(col("r"))
  }

  /** Train/eval CONTAMINATION audit — the decontamination pre-flight
    * every pretraining pipeline runs before trusting a benchmark number
    * (the GPT-3 appendix-C shape, Brown et al. 2020: an eval document is
    * contaminated when too many of its word n-grams also occur anywhere
    * in the training corpus). For each eval document: its distinct
    * n-gram count, how many of those n-grams the corpus contains, the
    * overlap fraction, and the threshold verdict.
    *
    * 100 TB shape: the corpus side reduces to its DISTINCT n-gram set
    * (one explode + partial-agged dedup — vocabulary-bounded, never
    * doc-pair-bounded) and membership is ONE left_semi shuffle-hash
    * equi-join from the eval side's (doc, n-gram) frame; no pair frame,
    * no per-doc corpus scan. The eval set is tiny by definition, so the
    * heavy side is exactly one corpus n-gram pass. Eval docs with fewer
    * than n tokens carry no n-grams and drop out (the shingle-family
    * convention). Output: (eval_id, n_shingles, n_hit, overlap_frac
    * rounded 6, contaminated). */
  def contaminationAudit(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int,
      threshold: Double): DataFrame = {
    require(n >= 1 && threshold >= 0.0 && threshold <= 1.0,
      s"need n >= 1 and threshold in [0,1]: n=$n threshold=$threshold")
    val evalSh = evalSet.select(col(idCol).as("eval_id"),
      explode(shingles(col(textCol), n)).as("s"))
    val corpusSh = corpus
      .select(explode(shingles(col(textCol), n)).as("s")).distinct()
    val sizes = evalSh.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = evalSh.join(corpusSh.hint("shuffle_hash"), Seq("s"),
        "left_semi")
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_hit"))
    sizes.join(hits.hint("shuffle_hash"), Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("overlap_frac", round(col("n_hit").cast(DoubleType) /
        col("n_shingles").cast(DoubleType), 6))
      .withColumn("contaminated",
        col("n_hit").cast(DoubleType) /
          col("n_shingles").cast(DoubleType) >= threshold)
  }
}

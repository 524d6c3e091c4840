package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.TextFunctions

/** Corpus-curation operators a large-scale training-data pipeline needs on
  * top of the dedup/similarity/text family: reproducible splits, per-source
  * quotas, sequence packing, benchmark decontamination, and PII scrubbing.
  *
  * Every operator here is deterministic (no RNG — hashes of stable keys
  * decide sampling and salting), so reruns, retried tasks, and different
  * cluster layouts produce byte-identical corpora. That property is what
  * makes them oracle-checkable cross-engine, and at 100 TB it is also what
  * makes a failed 12-hour job resumable without a reshuffled train set.
  */
object CorpusOps {

  /** Deterministic train/val/test split assignment: bucket = md5(key) mod
    * `buckets`, split = first entry whose cumulative share covers the
    * bucket. Narrow (no shuffle), reproducible across runs and engines —
    * unlike `df.sample`/`randomSplit`, adding or removing OTHER documents
    * never flips this document's split (stable under corpus growth).
    *
    * `shares` are (name, percent) with percents summing to `buckets`
    * (default 100). DuckDB twin: `('0x'||substr(md5(CAST(k AS VARCHAR)),1,15))::BIGINT % 100`.
    */
  def hashSplit(df: DataFrame, keyCol: String,
      shares: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 5, "test" -> 5),
      buckets: Int = 100, as: String = "split"): DataFrame = {
    require(shares.map(_._2).sum == buckets,
      s"shares must sum to $buckets: $shares")
    // null keys hash as "" (md5(null) would yield a null split silently)
    val bucket = pmod(TextFunctions.md5Long(
      coalesce(col(keyCol).cast("string"), lit(""))), lit(buckets.toLong))
    val cum = shares.scanLeft(0)(_ + _._2).tail
    val assigned = shares.zip(cum).foldLeft(lit(null).cast("string")) {
      case (acc, ((name, _), upper)) =>
        when(acc.isNotNull, acc).otherwise(when(bucket < upper, name))
    }
    df.withColumn(as, assigned)
  }

  /** Deterministic fraction sample: keep rows where md5(key) mod `buckets`
    * < fraction*buckets. Same stability story as [[hashSplit]]. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
      buckets: Int = 10000): DataFrame = {
    val keep = math.round(fraction * buckets)
    df.filter(pmod(TextFunctions.md5Long(
      coalesce(col(keyCol).cast("string"), lit(""))), lit(buckets.toLong)) < keep)
  }

  /** Leakage-safe train/val/test split: near-duplicate documents MUST land
    * in the same split — a near-dup of a training doc in the eval split is
    * eval contamination ([[hashSplit]] on the doc id alone cannot see it).
    * `pairs` is any near-dup pair frame ((id_a, id_b) — MinHash LSH,
    * SimHash, embedding cosine...); documents are grouped by the
    * transitive closure of the pairs ([[ConnectedComponents]] — A~B, B~C
    * puts all three together even though A and C never paired), singletons
    * form their own group, and the md5 split rule is applied to the GROUP
    * key. Same-group => same split, by construction.
    *
    * 100 TB shape: the pair graph is pair-bounded (not corpus-bounded);
    * the closure is pointer-jumping O(log diameter) rounds; the label
    * join is one shuffle_hash equi-join of the corpus against the
    * paired-node labels; the split itself is a narrow projection. Output:
    * (idCol, group_key long, split string). */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      shares: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 5, "test" -> 5),
      buckets: Int = 100, as: String = "split"): DataFrame = {
    val labels = ConnectedComponents.labels(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val grouped = df.select(col(idCol))
      .join(labels.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("group_key", coalesce(col("component"), col(idCol)))
      .drop("component")
    hashSplit(grouped, "group_key", shares, buckets, as)
  }

  /** Top-k n-grams per group by occurrence count (positional n-grams, so
    * repeats count) — the corpus-statistics op behind vocabulary audits
    * and boilerplate discovery. One explode + one partial-agged
    * groupBy(group, gram) + a rank window BOUNDED BY the group key (never
    * a global sort). A pathologically hot group can pre-reduce through
    * [[quotaPerKey]]'s two-stage trick; gram counts themselves partial-
    * aggregate map-side so the shuffle carries (group, gram, partial n).
    * Ties break lexicographically on the gram for determinism. */
  def topNgramsPerGroup(df: DataFrame, groupCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val grams = df.select(col(groupCol).as("grp"),
        explode(TextFunctions.ngrams(col(textCol), n)).as("gram"))
      .groupBy(col("grp"), col("gram")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("n").desc, col("gram").asc)
    grams.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("grp").as(groupCol), col("rk"), col("gram"), col("n"))
  }

  /** Deterministic STRATIFIED sample: a per-stratum keep fraction (e.g.
    * downsample boilerplate-heavy web sources hard, keep books at 100%).
    * Same md5-bucket arithmetic as [[hashSample]] — narrow, no shuffle,
    * stable under corpus growth — with the threshold looked up from the
    * stratum column. Strata missing from `fractions` keep `default`
    * (0.0 = drop unlisted strata; null stratum uses `default` too). */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], default: Double = 0.0,
      buckets: Int = 10000): DataFrame = {
    require((fractions.values.toSeq :+ default).forall(f => f >= 0 && f <= 1),
      s"fractions must be in [0,1]: $fractions default=$default")
    val keep = fractions.foldLeft(lit(math.round(default * buckets))) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(math.round(f * buckets))).otherwise(acc)
    }
    df.filter(pmod(TextFunctions.md5Long(
      coalesce(col(keyCol).cast("string"), lit(""))), lit(buckets.toLong)) < keep)
  }

  /** Deterministic corpus mixing: downsample sources so their proportions
    * hit integer target `weights` EXACTLY (the data-mixture step of a
    * pretraining pipeline: "4 parts web, 2 parts code, 1 part books").
    *
    * The mix size is the largest N with floor(w_s*N/W) <= count_s for
    * every source; each source keeps its quota q_s = floor(w_s*N/W) in
    * md5-of-key order. ALL-INTEGER arithmetic — no float rounding, so any
    * engine replaying the same rule selects the same rows (the x22 oracle
    * does, in SQL). Which rows: the q_s lowest (md5(key), key) per source
    * — a deterministic "random" subset, stable across runs and layouts.
    *
    * Cost: one per-source count (tiny collect, bounded by #sources), one
    * shuffle on `keyBy` for the per-source rank window. A pathologically
    * hot source can reuse the [[quotaPerKey]] two-stage trick upstream.
    */
  def mixToWeights(df: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Int]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val totalW = weights.values.sum.toLong
    val in = df.filter(col(sourceCol).isInCollection(weights.keys.toSeq))
    val counts = in.groupBy(col(sourceCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // fail fast on a weighted source with no rows: the quota rule would
    // make the ENTIRE mix empty (n = 0), while a SQL replay that inner-
    // joins quotas to present sources would silently keep mixing — the
    // two engines must not diverge on a config typo
    val missing = weights.keySet.filter(s => counts.getOrElse(s, 0L) == 0L)
    require(missing.isEmpty,
      s"mixToWeights: weighted source(s) absent from corpus: ${missing.toSeq.sorted.mkString(", ")}")
    val n = weights.map { case (s, w) =>
      counts.getOrElse(s, 0L) * totalW / w
    }.min
    val quotas = weights.map { case (s, w) => s -> w * n / totalW }
    val quotaCol = quotas.foldLeft(lit(0L)) { case (acc, (s, q)) =>
      when(col(sourceCol) === s, lit(q)).otherwise(acc)
    }
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(TextFunctions.md5Long(col(idCol)), col(idCol))
    in.withColumn("__graft_mix_rn__", row_number().over(w))
      .filter(col("__graft_mix_rn__") <= quotaCol)
      .drop("__graft_mix_rn__")
  }

  /** Per-key quota cap (e.g. at most `cap` documents per domain — the
    * standard web-corpus balance step): keep the first `cap` rows of each
    * key in `orderCol` order (ties broken by `orderCol` itself, so pass a
    * unique column for determinism).
    *
    * One shuffle on the key. A hot key (a domain with 10^9 pages at 100 TB)
    * would make that key's window a single task, so with `presaltBuckets >
    * 1` a pre-pass first caps each (key, md5(orderCol) mod salts) subgroup
    * to `cap` rows — the global top-`cap` of a key is a subset of every
    * subgroup's top-`cap`, so the pre-pass only discards rows the final
    * window would discard anyway (two-stage top-k; result-identical, and
    * the hot key enters the final single-task window with at most
    * salts*cap rows instead of 10^9).
    */
  def quotaPerKey(df: DataFrame, keyCol: String, orderCol: String, cap: Int,
      presaltBuckets: Int = 1): DataFrame = {
    require(cap > 0 && presaltBuckets > 0)
    val pre =
      if (presaltBuckets == 1) df
      else {
        val salted = Window
          .partitionBy(col(keyCol),
            pmod(TextFunctions.md5Long(col(orderCol)), lit(presaltBuckets.toLong)))
          .orderBy(col(orderCol))
        df.withColumn("__graft_presalt_rn__", row_number().over(salted))
          .filter(col("__graft_presalt_rn__") <= cap)
          .drop("__graft_presalt_rn__")
      }
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
    pre.withColumn("__graft_quota_rn__", row_number().over(w))
      .filter(col("__graft_quota_rn__") <= cap)
      .drop("__graft_quota_rn__")
  }

  /** Concat-and-chunk sequence packing (the standard LLM-pretraining prep:
    * documents are concatenated in a fixed order and sliced every
    * `capacity` tokens): for each document, its exclusive running token
    * offset in `orderCol` order and the chunk its first token lands in.
    *
    * The global running sum is computed the scale-safe way — sort (range
    * partitioned), one pass for per-partition token totals, broadcast the
    * partition offsets, then a per-partition streaming scan — NOT a
    * partition-less `Window.orderBy`, which would move every row to one
    * task. The sorted input is persisted (MEMORY_AND_DISK_SER) around the
    * two passes so the upstream executes once; the blocks are released when
    * the owner scope exits ([[graft.plans.Persists.scope]] — same contract
    * as `plans.RowNum.assign`).
    *
    * Output: input columns + `start_offset` (exclusive cumsum of
    * `tokensCol`, long) + `chunk_id` (= start_offset / capacity, long).
    */
  def packSequences(df: DataFrame, orderCol: String, tokensCol: String,
      capacity: Int): DataFrame = {
    require(capacity > 0)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructField
    val sorted = df.orderBy(col(orderCol))
    val tokIdx = sorted.schema.fieldIndex(tokensCol)
    val schema = sorted.schema
      .add(StructField("start_offset", LongType, nullable = false))
      .add(StructField("chunk_id", LongType, nullable = false))
    val rdd0 = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    graft.plans.Persists.onScopeEnd(() => rdd0.unpersist(blocking = false))
    val sums = rdd0
      .mapPartitionsWithIndex((pid, it) =>
        Iterator(pid -> it.foldLeft(0L)((acc, r) => acc + numAt(r, tokIdx))))
      .collect().toMap
    val maxPid = if (sums.isEmpty) -1 else sums.keys.max
    val offsets = (0 to maxPid).scanLeft(0L)((acc, pid) => acc + sums.getOrElse(pid, 0L))
    val bc = df.sparkSession.sparkContext.broadcast(offsets.toArray)
    val rdd = rdd0.mapPartitionsWithIndex { case (pid, it) =>
      var off = if (pid < bc.value.length) bc.value(pid) else 0L
      it.map { r =>
        val start = off
        off += numAt(r, tokIdx)
        Row.fromSeq(r.toSeq :+ start :+ (start / capacity))
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  private def numAt(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
    case null => 0L
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalArgumentException(
      s"tokensCol must be numeric, got ${other.getClass.getName}")
  }

  /** Sliding-window document chunking: split each document's token stream
    * into `window`-token chunks every `stride` tokens (overlap =
    * window - stride), the context-window preparation step for training
    * and RAG indexing ([[packSequences]] packs WHOLE short docs; this
    * splits LONG docs). Chunk starts are 0, stride, 2*stride, ... and the
    * last chunk is the (possibly shorter) remainder; a document of
    * <= `window` tokens yields exactly one chunk of itself.
    *
    * 100 TB shape: ONE narrow Generate per document — the chunk count and
    * every slice come from per-row integer arithmetic (exact long floor
    * division, no doubles) over the already-split token array; no
    * shuffle, no join, and chunk rows inherit the input's partitioning.
    * Output: (id, chunk_id long, n_tokens long, chunk_text).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window")
    val ts = TextFunctions.tokens(col(textCol))
    val n = size(ts).cast(LongType)
    // ceil((n - window) / stride) + 1 in exact long math, min 1
    val nChunks = when(n <= window, lit(1L)).otherwise(
      call_function("div", n - window + (stride - 1), lit(stride.toLong)) + 1L)
    docs.select(col(idCol), ts.as("__ts"),
        posexplode(sequence(lit(0L), nChunks - 1L)).as(Seq("chunk_id", "__i")))
      .select(col(idCol), col("chunk_id").cast(LongType).as("chunk_id"),
        slice(col("__ts"), (col("__i") * stride + 1L).cast("int"), lit(window))
          .as("__chunk"))
      .select(col(idCol), col("chunk_id"),
        size(col("__chunk")).cast(LongType).as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minOverlap` word n-gram shingles with any benchmark document (the
    * standard eval-leakage check run before training). Returns
    * (id, n_overlap) for contaminated documents only.
    *
    * The benchmark shingle set is tiny next to the corpus (eval suites are
    * MBs; the corpus is TBs), so it is deduplicated and BROADCAST — the
    * corpus side streams through a broadcast-hash semi-style join with no
    * corpus shuffle; only the per-doc overlap count aggregates (one shuffle
    * on doc id, partial-agg combined map-side). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minOverlap: Int = 1): DataFrame = {
    val corpusSh = Dedup.shingleIndex(corpus, idCol, textCol, n)
    val benchSh = benchmark
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("s"))
      .distinct()
    corpusSh.join(broadcast(benchSh), Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap")) // shingleIndex rows are distinct per (id, s)
      .filter(col("n_overlap") >= minOverlap)
  }

  /** The OTHER direction of [[decontaminate]]: per BENCHMARK item, what
    * fraction of its shingles appears anywhere in the training corpus —
    * the leakage-severity report an eval owner reads ([[decontaminate]]
    * flags corpus docs to drop; this quantifies how compromised each eval
    * item already is — an item at 95% coverage is memorizable from
    * training data even after the flagged docs are removed).
    *
    * The big side is now the CORPUS shingle set, so no broadcast: the
    * corpus deduplicates to distinct shingles (one partial-agged shuffle
    * on the shingle key) and the benchmark's (item, shingle) rows
    * LEFT-SEMI join it on the same key — benchmark-sized output from a
    * shingle-keyed equi shuffle, never a cartesian. Coverage is one
    * division of exact counts. Output: (id, n_shingles, n_overlap,
    * coverage) for every benchmark item (0-coverage rows included). */
  def benchmarkOverlapReport(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val corpusSh = corpus
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("s"))
      .distinct()
    val benchSh = Dedup.shingleIndex(benchmark, idCol, textCol, n)
    val totals = benchSh.groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = benchSh
      .join(corpusSh.hint("shuffle_hash"), Seq("s"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
    totals.join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast(DoubleType) /
          col("n_shingles").cast(DoubleType)).as("coverage"))
  }

  /** Cross-source overlap matrix — which sources MIRROR each other: for
    * every source pair, the shared distinct-shingle count and the
    * containment-style overlap |A ∩ B| / min(|A|, |B|). High-overlap
    * pairs are mirrors / syndication feeds / re-crawls of one another —
    * the SOURCE-granular view where [[Dedup.dupRateReport]] is
    * within-source and pair detectors are per-document; this matrix is
    * read before deciding which whole sources to drop.
    *
    * 100 TB shape: the corpus reduces to DISTINCT (source, shingle) rows
    * (one partial-agged shuffle); the self-join fans out per shingle by
    * at most #sources² (sources are tens, not millions) on the shingle
    * key; pair counts partial-agg on the #sources² key space, sizes
    * broadcast back. Output: (src_a, src_b, n_shared, overlap), a < b. */
  def sourceOverlapMatrix(docs: DataFrame, sourceCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val sh = docs.select(col(sourceCol).as("src"),
        explode(TextFunctions.shingles(col(textCol), n)).as("s"))
      .distinct()
    val sizes = sh.groupBy(col("src")).agg(count(lit(1)).as("sz"))
    sh.toDF("src_a", "s")
      .join(sh.toDF("src_b", "s").hint("shuffle_hash"), Seq("s"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.toDF("src_a", "sz_a")), Seq("src_a"))
      .join(broadcast(sizes.toDF("src_b", "sz_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (col("n_shared").cast(DoubleType) /
          least(col("sz_a"), col("sz_b")).cast(DoubleType)).as("overlap"))
  }

  /** Vocabulary growth curve (the Heaps'-law diagnostic a tokenizer
    * budget is sized from): cumulative distinct-token count after each
    * quarter of the corpus in id order. Sublinear growth means the
    * vocabulary is saturating — more data buys fewer new tokens; linear
    * growth means the corpus keeps introducing novel vocabulary (or
    * noise) and an OOV strategy matters.
    *
    * Each token is attributed to its FIRST-occurrence document rank (one
    * explode + min partial-agg — the token stream shuffles once on the
    * token key), ranks come from the range-partitioned RowNum (no
    * one-task window), and the quartile fold runs on a 4-row frame. The
    * bucket rule is integer-exact: quartile = ((rank-1)*4) div N.
    * Output: (quartile 1..4, n_docs cumulative, vocab cumulative). */
  def vocabGrowthCurve(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import graft.plans.{Events, RowNum}
    import org.apache.spark.sql.expressions.Window
    val ranked = RowNum.assign(docs.select(col(idCol), col(textCol))
        .orderBy(col(idCol).asc))
      .withColumnRenamed(Events.RowNumCol, "rk")
    val n = docs.count()
    require(n >= 4, "vocabGrowthCurve needs at least 4 documents")
    val firstSeen = ranked
      .select(col("rk"), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(min(col("rk")).as("frk"))
    val q = call_function("div", (col("frk") - 1L) * 4L, lit(n)) + 1L
    val perQ = firstSeen.select(q.as("quartile"))
      .groupBy(col("quartile")).agg(count(lit(1)).as("new_tokens"))
    val w = Window.orderBy(col("quartile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // DENSE 4-row output (a saturated vocabulary would otherwise emit
    // only quartile 1 and hide the saturation it should show); the
    // unpartitioned window is bounded at 4 rows by construction
    docs.sparkSession.range(1L, 5L).toDF("quartile")
      .join(perQ, Seq("quartile"), "left")
      .withColumn("vocab", sum(coalesce(col("new_tokens"), lit(0L))).over(w))
      .select(col("quartile"),
        // docs in quartiles <= k: count of ranks r with ((r-1)*4) div n < k
        // == ceil(k*n/4) exactly = (k*n + 3) div 4
        call_function("div", col("quartile") * n + 3L, lit(4L)).as("n_docs"),
        col("vocab"))
  }

  /** Heaps'-law fit over the vocabulary growth curve: V(N) ≈ k·N^β,
    * estimated by log-log OLS over `checkpoints` evenly spaced corpus
    * prefixes in id order — the quantitative companion to
    * [[vocabGrowthCurve]] (which eyeballs the same curve at 4 points).
    * β near 1 means the corpus keeps minting novel tokens (noise, ids,
    * boilerplate churn); the English-text reference band is β ≈ 0.4–0.6
    * (Heaps 1978), and a tokenizer vocab budget extrapolates from k·N^β
    * directly. Paired with [[zipfSlope]] they sanity-check each other
    * (Heaps' β ≈ 1/|Zipf slope| asymptotically).
    *
    * Exactness: the curve itself is integer-exact (cumulative token
    * counts and first-occurrence vocab counts over an integer-exact
    * bucket rule, the x113 convention); the fit replays [[zipfSlope]]'s
    * k-row regression-sums fold (ln into double sums over the
    * checkpoint frame, round-6 at the edge). Prefixes with zero tokens
    * (impossible unless leading docs are empty) drop from the fit on
    * both engines.
    *
    * 100 TB shape: ranks come from the range-partitioned two-pass
    * [[graft.plans.RowNum.assign]] (no one-task window); the token
    * stream shuffles ONCE on the token key for first-occurrence ranks;
    * everything after runs on a `checkpoints`-row frame. Output one
    * row: (n_points, beta, k_coef). */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
      checkpoints: Int = 16, n: Int = 1): DataFrame = {
    import graft.plans.{Events, RowNum}
    require(checkpoints >= 3, s"need >= 3 fit points: $checkpoints")
    require(n >= 1, s"n-gram order must be >= 1: $n")
    val k = checkpoints.toLong
    // the "token" unit is the n-gram TYPE: unigrams for a word-level
    // vocab budget, n>=2 for corpora whose word vocabulary saturates
    // instantly (templated/synthetic text) but whose phrase inventory
    // still grows — the unit the fit is read against, not a detail
    val unit = (c: Column) =>
      if (n == 1) TextFunctions.tokens(c) else TextFunctions.ngrams(c, n)
    val ranked = RowNum.assign(docs.select(col(idCol), col(textCol))
        .orderBy(col(idCol).asc))
      .withColumnRenamed(Events.RowNumCol, "rk")
    val nDocs = docs.count()
    require(nDocs >= checkpoints, s"heapsLaw needs at least $checkpoints docs")
    val bucketOf = (r: Column) =>
      call_function("div", (r - 1L) * k, lit(nDocs)) + 1L
    // cumulative token mass per prefix bucket (integer-exact)
    val tokPerB = ranked
      .select(bucketOf(col("rk")).as("b"),
        size(unit(col(textCol))).cast(LongType).as("m"))
      .groupBy(col("b")).agg(sum(col("m")).as("toks"))
    // new-vocabulary mass per bucket via first-occurrence rank
    val vocPerB = ranked
      .select(col("rk"), explode(unit(col(textCol))).as("w"))
      .groupBy(col("w")).agg(min(col("rk")).as("frk"))
      .select(bucketOf(col("frk")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nv"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // DENSE k-row frame (the k-row window is bounded by construction)
    val curve = docs.sparkSession.range(1L, k + 1L).toDF("b")
      .join(tokPerB, Seq("b"), "left").join(vocPerB, Seq("b"), "left")
      .withColumn("n_tokens", sum(coalesce(col("toks"), lit(0L))).over(w))
      .withColumn("vocab", sum(coalesce(col("nv"), lit(0L))).over(w))
      .filter(col("n_tokens") > 0L && col("vocab") > 0L)
    val pts = curve.select(
      log(col("n_tokens").cast(DoubleType)).as("x"),
      log(col("vocab").cast(DoubleType)).as("y"))
    pts.agg(count(lit(1)).as("np"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("np").as("n_points"),
        round((col("np") * col("sxy") - col("sx") * col("sy")) /
          (col("np") * col("sxx") - col("sx") * col("sx")), 6).as("beta"),
        // exp on the 1e-6 grid (the x227 convention): round the
        // intercept BEFORE exp so no last-ulp libm divergence between
        // engines can cross a rounding boundary
        round(exp(round((col("sy") - ((col("np") * col("sxy") -
          col("sx") * col("sy")) /
          (col("np") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("np"), 6)), 6).as("k_coef"))
  }

  /** Token-budget water-filling across sources under availability caps —
    * the allocation a mixture spec actually compiles to: target weights
    * say WHAT share of the training budget each source should get,
    * availability (x an epoch cap — re-reading a small source 10x is how
    * corpora overfit) says what it CAN get, and the difference must be
    * redistributed to the sources that still have headroom, proportional
    * to THEIR weights. Greedy proportional fill, `iters` pinned rounds:
    *   rem = budget − Σ alloc;  W = Σ weight over unsaturated sources;
    *   give_s = min(cap_s − alloc_s, (rem · w_s) div W)
    * — all INTEGER arithmetic (token counts, micro-unit epoch cap,
    * floor division), so every round is bit-replayable cross-engine and
    * the fixpoint is reached in ≤ |sources| effective rounds (each round
    * either saturates a source or allocates the whole remainder up to
    * flooring dust, which stays deliberately unallocated).
    *
    * The weight-only siblings: [[mixToWeights]] (weights → hash-sampled
    * rows, no budget), [[epochMix]] (explicit per-source byte budgets,
    * no redistribution), [[graft.operators.Selection.temperatureMixWeights]]
    * (weights FROM availability). This one closes the loop: weights +
    * budget + caps → feasible allocation.
    *
    * 100 TB shape: one partial-agged per-source scan; the solve runs on
    * the collected source-domain frame (the [[graft.operators.Experiment.rakeWeights]]
    * bounded-collect convention) in BigInt, so 1e14-token corpora times
    * micro-unit caps cannot overflow. Output per source: availability,
    * cap, weight, allocation, epochs (round-6), saturated. */
  def waterFillBudget(docs: DataFrame, keyCol: String, massCol: String,
      weights: Map[String, Long], budget: Long,
      epochCapMicro: Long = 1000000L, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters must be in [1,32]: $iters")
    require(budget >= 0L, s"budget must be >= 0: $budget")
    require(epochCapMicro > 0L, s"epochCapMicro must be > 0: $epochCapMicro")
    require(weights.values.forall(_ >= 0L), s"weights must be >= 0: $weights")
    val spark = docs.sparkSession
    import spark.implicits._
    val avail = docs.groupBy(col(keyCol).cast("string").as("k"))
      .agg(sum(col(massCol).cast(LongType)).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)
    val caps = avail.map { case (k, m) =>
      (BigInt(m) * epochCapMicro) / 1000000L }
    val ws = avail.map { case (k, _) => BigInt(weights.getOrElse(k, 0L)) }
    val alloc = Array.fill(avail.length)(BigInt(0))
    var round = 0
    while (round < iters) {
      val rem = BigInt(budget) - alloc.sum
      val active = avail.indices.filter(i =>
        alloc(i) < caps(i) && ws(i) > 0)
      val wAct = active.map(ws).sum
      if (rem > 0 && wAct > 0) {
        active.foreach { i =>
          alloc(i) += (caps(i) - alloc(i)).min(rem * ws(i) / wAct)
        }
      }
      round += 1
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    avail.indices.map { i =>
      val (k, m) = avail(i)
      (k, m, caps(i).toLong, weights.getOrElse(k, 0L), alloc(i).toLong,
        if (m == 0L) None else Some(r6(alloc(i).toDouble / m.toDouble)),
        alloc(i) == caps(i))
    }.toDF(keyCol, "avail_mass", "cap", "target_w", "alloc", "epochs",
      "saturated")
  }

  /** Selection-parity audit of a value-thresholded curation step (the
    * EEOC four-fifths rule applied to corpus curation): select rows
    * with `valueCol` at/above the GLOBAL exact type-1 median, then per
    * `groupCol` report the selection rate, its ratio to the
    * best-treated group's rate, and the 80%-rule flag. A quality
    * threshold that looks neutral ("keep docs above median length")
    * can silently gut a language or source; this is the one-line audit
    * that catches it before the mixture ships.
    *
    * Exactness: the median is the smallest value whose cumulative count
    * reaches ceil(n/2) — integer arithmetic on the codomain-bounded
    * value frame (the x13 convention); rates are rounded divisions of
    * exact longs and the parity ratio divides the ROUNDED rates, so
    * both engines compare on the same grid. rate_max > 0 always (the
    * median selects at least half the corpus).
    *
    * 100 TB shape: one value-frame groupBy + bounded cumulative window
    * for the median, one broadcast 1-row attach, one groupBy(group).
    * Output per group: (group, n, n_sel, rate, parity_ratio, flagged). */
  def selectionParity(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val byV = df.groupBy(col(valueCol).cast(LongType).as("v"))
      .agg(count(lit(1)).as("t"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(lit(1))
    // smallest v with 2*cum >= n  ==  cum >= ceil(n/2) (type-1 median)
    val med = byV.withColumn("c", sum(col("t")).over(w))
      .withColumn("nn", sum(col("t")).over(tot))
      .filter(col("c") * 2L >= col("nn"))
      .agg(min(col("v")).as("median"))
    val rates = df.crossJoin(broadcast(med))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(valueCol).cast(LongType) >= col("median"), 1L)
          .otherwise(0L)).as("n_sel"))
      .withColumn("rate", round(d(col("n_sel")) / d(col("n")), 6))
    val mx = rates.agg(max(col("rate")).as("rate_max"))
    rates.crossJoin(broadcast(mx)) // group-frame x 1-row
      .select(col(groupCol), col("n"), col("n_sel"), col("rate"),
        round(col("rate") / col("rate_max"), 6).as("parity_ratio"))
      .withColumn("flagged", col("parity_ratio") < 0.8)
  }

  /** Shuffle-quality audit of [[epochShuffle]] (the training-order
    * check: correlated batches from a bad shuffle bias gradients long
    * before anyone looks at the loss): deal the corpus into shards,
    * walk each shard in position order, and compare the observed mean
    * same-`groupCol` run length against the iid expectation
    * 1/(1 − Σ p_s²) — a ratio near 1 means sources interleave like an
    * independent draw; a ratio well above 1 means the "shuffle" is
    * still clumped (hash collisions, a degenerate seed, or an id space
    * that correlates with the group).
    *
    * Exactness: run starts are exact integers from a lag over
    * (shard, position); Σ n_s² folds as exact DECIMAL (no Long overflow
    * at any corpus size, no double summation order); the two run-length
    * expressions and their ratio are single double folds rounded at the
    * edge.
    *
    * 100 TB shape: the shuffle itself is [[epochShuffle]]'s
    * range-partitioned sort + two-pass rank; the lag window partitions
    * by shard (shard count scales with the cluster, keeping partitions
    * bounded); group masses are a group-domain frame. Output one row:
    * (n_rows, n_shards, n_runs, mean_run, expected_run, ratio). */
  def shuffleRunAudit(df: DataFrame, idCol: String, groupCol: String,
      seed: Int, nShards: Int): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val sh = epochShuffle(df.select(col(idCol), col(groupCol)),
      idCol, seed, nShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("shard_pos"))
    val starts = sh
      .withColumn("prev", lag(col(groupCol), 1).over(w))
      .select(when(col("prev").isNull || col("prev") =!= col(groupCol), 1L)
        .otherwise(0L).as("st"))
      .agg(count(lit(1)).as("n_rows"), sum(col("st")).as("n_runs"))
    val gs = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__graft_gmass__"))
      .agg(sum(col("__graft_gmass__").cast(dec) *
        col("__graft_gmass__").cast(dec)).as("ss"))
      .select(col("ss").cast("string").cast(DoubleType).as("ss"))
    // a single-group corpus has Σp² = 1: the iid expectation diverges
    // (every order is one run) — pin NULL rather than emit inf
    val degenerate =
      d(col("n_rows")) * d(col("n_rows")) - col("ss") === 0.0
    starts.crossJoin(broadcast(gs)) // 1-row x 1-row
      .select(col("n_rows"), lit(nShards.toLong).as("n_shards"),
        col("n_runs"),
        round(d(col("n_rows")) / d(col("n_runs")), 6).as("mean_run"),
        round(when(degenerate, lit(null).cast(DoubleType))
          .otherwise(d(col("n_rows")) * d(col("n_rows")) /
            (d(col("n_rows")) * d(col("n_rows")) - col("ss"))), 6)
          .as("expected_run"),
        round(when(degenerate, lit(null).cast(DoubleType))
          .otherwise((d(col("n_rows")) / d(col("n_runs"))) /
            (d(col("n_rows")) * d(col("n_rows")) /
              (d(col("n_rows")) * d(col("n_rows")) - col("ss")))), 6)
          .as("run_ratio"))
  }

  /** Gopher-style repetition signals per document:
    *  - `dup_5gram_frac`: fraction of 5-gram occurrences that repeat an
    *    earlier one — a pure scalar expression (no shuffle).
    *  - `top_bigram_frac`: fraction of bigram occurrences covered by the
    *    document's single most frequent bigram — needs per-(doc, bigram)
    *    counts: one explode + two id-keyed partial aggregations; scales
    *    as corpus token count, never cross-document.
    * Documents shorter than the n-gram width score 0.0 on that signal
    * (left join + coalesce, mirrored in the x23 oracle). */
  def repetitionScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      TextFunctions.dupNgramFraction(col(textCol), 5).as("dup_5gram_frac"))
    val top = df
      .select(col(idCol).as("id"),
        explode(TextFunctions.ngrams(col(textCol), 2)).as("bg"))
      .groupBy(col("id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg((max(col("c")).cast(DoubleType) /
        sum(col("c")).cast(DoubleType)).as("top_bigram_frac"))
    base.join(top, Seq("id"), "left")
      .withColumn("top_bigram_frac", coalesce(col("top_bigram_frac"), lit(0.0)))
  }

  /** PII scrubbing: redact emails and phone-shaped numbers, and count the
    * redactions per row. Pure codegen'd projection (regexp_replace /
    * regexp_extract_all) — no shuffle, no UDF. Patterns are kept to the
    * regex subset with identical semantics in Java regex and RE2 so the
    * operation is engine-portable (and oracle-checkable). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def piiScrub(df: DataFrame, textCol: String, as: String = "text_scrubbed"): DataFrame =
    df
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).cast(LongType))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhonePattern), lit(0))).cast(LongType))
      .withColumn(as,
        regexp_replace(regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"))

  /** Corpus-wide boilerplate removal (the RefinedWeb/CCNet line-dedup
    * step): drop every text UNIT that occurs in more than `num/den` of all
    * documents, preserving the order of what survives. `delim` picks the
    * unit — "\n" for the real line-level pass on web corpora; the gated
    * query uses " " (token level) because the synthetic docs are
    * single-line, which degenerates to corpus-adaptive stopword removal.
    *
    * Plan shape (the part that must survive 100 TB):
    *  1. the unit->document-frequency table aggregates DISTINCT per-doc
    *     units (`array_distinct` applied narrowly BEFORE the explode, so
    *     the shuffle carries unique (doc,unit) pairs, partial-agged on the
    *     map side);
    *  2. the boilerplate set is collected to the driver — BOUNDED: a unit
    *     needs > N*num/den documents, so at most (avg units/doc)*den/num
    *     units can qualify, independent of corpus size;
    *  3. the scrub itself is a NARROW per-row array filter against that
    *     in-literal set — documents are never exploded, reassembled, or
    *     shuffled (the naive plan re-aggregates the whole corpus with
    *     string_agg; the oracle replays that rule, proving identity).
    *
    * The threshold is exact integer arithmetic (docfreq*den > N*num), so
    * any engine replaying the rule selects the same set.
    *
    * NOTE: EAGER — steps 1-2 (the corpus count and the boilerplate-set
    * collect) run at CALL time, not at the returned frame's first action;
    * the returned frame only carries the narrow per-row scrub. Null-text
    * documents scrub to "" (the same value a document consisting entirely
    * of boilerplate scrubs to), not null. */
  def scrubBoilerplate(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n", num: Int = 1, den: Int = 2,
      as: String = "scrubbed"): DataFrame = {
    require(num > 0 && den > 0 && num < den, s"need 0 < num/den < 1: $num/$den")
    val n = df.count()
    val quoted = java.util.regex.Pattern.quote(delim)
    val units = df.select(
      explode(array_distinct(split(col(textCol), quoted, -1))).as("unit"))
    val boilerplate = units.groupBy("unit")
      .agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") * den > n * num)
      .select("unit").collect().map(_.getString(0)).sorted
    val bl = lit(boilerplate)
    df.select(col(idCol), coalesce(array_join(
      filter(split(col(textCol), quoted, -1), u => !array_contains(bl, u)),
      delim), lit("")).as(as))
  }

  /** Segment-level exact dedup, keep-first (the CCNet/RefinedWeb line-dedup
    * stage adapted to delimiter-free text): cut each document into
    * fixed-size token segments, keep only the GLOBALLY first occurrence of
    * each distinct segment (first = lowest (doc_id, position)), and
    * reassemble each document from its surviving segments in original
    * order. Kills templated spans and mirror-page chunks that whole-doc
    * dedup misses because the surrounding text differs; repeated segments
    * WITHIN one document dedup too (a template loop keeps one copy).
    *
    * 100 TB shape: segments posexplode narrowly (positions come from the
    * token array, no window over the corpus order); first-occurrence is
    * ONE row_number window PARTITIONED BY the segment value — state per
    * key is the segment's occurrence list, bounded by that segment's
    * duplication, never corpus-sized; reassembly is one groupBy on the
    * doc id with a sort_array over the doc's own (bounded) kept
    * positions. The left join restores documents whose every segment
    * lost (kept_text = ''), so output row count equals input.
    * Output: (id, n_segs, n_kept, kept_text), ordered reassembly. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 16): DataFrame = {
    require(segTokens >= 1, "segTokens must be >= 1")
    val ws = TextFunctions.tokens(col(textCol))
    val nSeg = ceil(size(ws).cast(DoubleType) / lit(segTokens)).cast(LongType)
    val segs = df.select(col(idCol).as("id"),
      posexplode(transform(sequence(lit(0L), nSeg - 1L),
        i => array_join(
          slice(ws, (i * segTokens + 1L).cast("int"), lit(segTokens)), " "))))
      .toDF("id", "pos", "seg")
    val first = segs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("id"), col("pos"))))
      .filter(col("rn") === 1)
    val kept = first.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("seg")))),
          s => s.getField("seg")), " ").as("kept_text"))
    df.select(col(idCol).as("id"), nSeg.as("n_segs"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Snake-order balanced sharding (the output-layout step before a
    * pretraining run: N files whose token totals match within one
    * document): rank documents by weight descending globally, then deal
    * rank r into shard via the boustrophedon walk 0..n-1, n-1..0, ... —
    * the classic near-LPT heuristic whose per-shard sums differ by at
    * most one document's weight from each other when weights are
    * similar, and which needs NO driver state or iterative bin state.
    *
    * 100 TB shape: the global rank is [[graft.plans.RowNum]]'s
    * range-partitioned sort + per-partition offsets (no single-partition
    * window); the shard id is then a pure projection. Output: input
    * columns + `shard` (long in [0, nShards)).
    */
  def balancedShards(df: DataFrame, idCol: String, weightCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val sorted = df.orderBy(col(weightCol).desc, col(idCol).asc)
    val ranked = graft.plans.RowNum.assign(sorted)
      .withColumnRenamed(graft.plans.Events.RowNumCol, "__graft_rank__")
    val pos = (col("__graft_rank__") - 1L) % (2L * nShards)
    ranked.withColumn("shard",
        when(pos < nShards, pos).otherwise(lit(2L * nShards - 1L) - pos))
      .drop("__graft_rank__")
  }

  /** Token-budget epoch mixing (the "2 epochs of wiki, 0.3 of web" step):
    * for each source with a token budget B, every document is emitted
    * floor(B/T) times (T = the source's total weight) plus one more time
    * for a deterministic md5-chosen fraction of documents, so each
    * source's emitted weight lands within one document of its budget in
    * expectation. The fractional cut is INTEGER-EXACT: a document repeats
    * the extra time iff md5(id) % 1e6 < ((B mod T) * 1e6) div T — no
    * double ratio that could 1-ulp-flip membership between engines.
    *
    * 100 TB shape: per-source totals are one partial-agged aggregate
    * (|sources| rows, broadcast back as literals via the budgets fold);
    * the emission is a narrow explode — each partition replicates its own
    * rows, no shuffle. Sources without a budget are dropped. Output:
    * input columns + `epoch_copy` (long, 1-based copy index).
    */
  def epochMix(df: DataFrame, idCol: String, sourceCol: String,
      weightCol: String, budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ >= 0),
      "budgets must be non-negative")
    val in = df.filter(col(sourceCol).isInCollection(budgets.keys.toSeq))
    val totals = in.groupBy(col(sourceCol))
      .agg(sum(col(weightCol).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = budgets.keySet.filter(s => totals.getOrElse(s, 0L) == 0L)
    require(missing.isEmpty,
      s"epochMix: budgeted source(s) absent or weightless: ${missing.toSeq.sorted.mkString(", ")}")
    val full = budgets.map { case (s, b) => s -> b / totals(s) }
    val thr = budgets.map { case (s, b) =>
      s -> (b % totals(s)) * 1000000L / totals(s)
    }
    def bySource(m: Map[String, Long]): Column =
      m.foldLeft(lit(0L)) { case (acc, (s, v)) =>
        when(col(sourceCol) === s, lit(v)).otherwise(acc)
      }
    val copies = bySource(full) +
      when(pmod(TextFunctions.md5Long(col(idCol)), lit(1000000L)) <
        bySource(thr), 1L).otherwise(0L)
    in.withColumn("__graft_copies__", copies)
      .filter(col("__graft_copies__") >= 1L)
      .withColumn("epoch_copy",
        explode(sequence(lit(1L), col("__graft_copies__"))))
      .drop("__graft_copies__")
  }

  /** Tokenization-stability report: for each doc, is the text already in
    * canonical single-space form — i.e. does it round-trip
    * trim + split-on-whitespace-RUNS + single-space-join unchanged?
    * Docs that do not (leading/trailing whitespace, doubled spaces, tabs)
    * produce empty or whitespace-bearing tokens under the engine's
    * space-split tokenizer ([[TextFunctions.tokens]]), silently skewing
    * every token-count, shingle, and n-gram downstream; the (stable, n)
    * histogram quantifies how much of the corpus that touches. (The
    * round-5 inline form compared against split-on-SINGLE-space + join,
    * which is the identity for any string — it counted nothing.) One
    * narrow projection + one partial-agged 2-row groupBy — the cheapest
    * possible full-corpus scan shape. */
  def tokenizationStability(df: DataFrame, textCol: String): DataFrame =
    df.select((col(textCol) === array_join(
        split(trim(col(textCol)), "\\s+"), " ")).as("stable"))
      .groupBy(col("stable")).agg(count(lit(1)).as("n"))

  /** Zipf fit of the corpus vocabulary: OLS of ln(freq) over ln(rank) for
    * the top `topRanks` token frequencies (rank ties broken by token, so
    * both engines rank identical rows). A healthy natural-language corpus
    * sits near slope -1; a flatter slope flags template/boilerplate mass
    * (many tokens at similar frequency), a steeper one flags a degenerate
    * vocabulary — the one-number companion to [[graft.operators
    * .LanguageModel]]'s per-doc scores and x113's growth curve.
    *
    * 100 TB shape: one token explode into a partial-agged count, a
    * TakeOrdered top-k cut (per-partition heaps, never a global sort),
    * then all regression sums over the k-row frame (the k-row window is
    * bounded by `topRanks`, not the vocabulary). Doubles are summed over
    * k rows and rounded to 6 at the end — the established cross-engine
    * float convention (x45/x109). Output: one row (n_ranks, slope,
    * intercept). */
  def zipfSlope(df: DataFrame, textCol: String,
      topRanks: Int = 500): DataFrame = {
    val freqs = df.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc).limit(topRanks)
    val ranked = freqs.withColumn("r",
      row_number().over(Window.orderBy(col("f").desc, col("w").asc)))
    val pts = ranked.select(
      log(col("r").cast(DoubleType)).as("x"),
      log(col("f").cast(DoubleType)).as("y"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_ranks"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n"), 6).as("intercept"))
  }

  /** Deterministic seeded epoch shuffle: a reproducible global permutation
    * of the corpus (order by a seeded md5 of the id) dealt round-robin into
    * `nShards` shards, with the position within each shard. This is the
    * "shuffle the training data between epochs" primitive: a different seed
    * gives an independent permutation, the same seed always replays the
    * same one — across reruns, retries, and cluster layouts — so a training
    * job that dies at shard 317 resumes on byte-identical data.
    *
    * 100 TB shape: the sort is a range-partitioned distributed sort on the
    * hash (Spark's exchange does the sampling), and the rank comes from
    * [[graft.plans.RowNum.assign]]'s two-pass partition-offset numbering —
    * no single-partition window anywhere. Round-robin dealing (rank mod
    * shards) makes every shard a uniform sample of the hash order, so shard
    * sizes differ by at most one row by construction.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: Int,
      nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val hashed = df.withColumn("__graft_eo__",
      TextFunctions.md5LongSeeded(col(idCol), seed))
    val ranked = graft.plans.RowNum.assign(
        hashed.orderBy(col("__graft_eo__").asc, col(idCol).asc))
      .withColumnRenamed(graft.plans.Events.RowNumCol, "__graft_rank__")
    ranked
      .withColumn("shard", (col("__graft_rank__") - 1L) % nShards)
      // IntegralDivide: Column./ is DOUBLE division (RangeJoin.scala:48)
      .withColumn("shard_pos", call_function("div",
        col("__graft_rank__") - 1L, lit(nShards.toLong)))
      .drop("__graft_eo__", "__graft_rank__")
  }

  /** Compaction plan for a small-files table: within each `keyCol`
    * directory, walk the files in `orderCol` order and cut a new output
    * bin every time the running byte total crosses `targetBytes` — the
    * next-fit packing a compaction job actually executes (contiguous
    * input ranges per output file, so the rewrite is a sequential read).
    * Output: one row per (key, bin) with file count, byte total, and fill
    * ratio vs the target — the report a table-maintenance service uses to
    * decide which partitions are worth rewriting.
    *
    * 100 TB shape: one window partitioned by key (cumulative sum in file
    * order) and one partial-agged groupBy — the sequential scan within a
    * key is inherent to contiguous packing, and keys (table partitions)
    * parallelize. Bin id is integer arithmetic on exact byte counts, so
    * the plan is reproducible cross-engine.
    */
  def compactionPlan(df: DataFrame, keyCol: String, orderCol: String,
      sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol), col(orderCol),
        col(sizeCol).cast(LongType).as("__graft_sz__"))
      .withColumn("__graft_cum__", sum(col("__graft_sz__")).over(w))
      // a file belongs to the bin its FIRST byte lands in: bins overflow
      // past the target by at most one file, and never split a file
      // (IntegralDivide — Column./ would be double division)
      .withColumn("bin", call_function("div",
        col("__graft_cum__") - col("__graft_sz__"), lit(targetBytes)))
      .groupBy(col(keyCol), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("__graft_sz__")).as("bytes"))
      .withColumn("fill",
        round(col("bytes").cast(DoubleType) / targetBytes.toDouble, 6))
  }

  /** Neyman-optimal stratified sample allocation: given a total budget of
    * `totalN` rows, allocate to each stratum proportionally to
    * N_h * sigma_h (population size times population std of `valueCol`) —
    * the allocation that minimizes the variance of the stratified mean
    * estimator (Neyman 1934). The companion to [[stratifiedSample]]: this
    * op decides the per-stratum fractions, that op executes them.
    *
    * Cross-engine exactness: N_h * sigma_h = sqrt(N_h * S2_h - S1_h^2)
    * where S1/S2 are integer sums of the value and its square — the
    * argument to sqrt is computed in exact BIGINT arithmetic in both
    * engines, so the double weights (and hence the allocations) agree
    * bit-for-bit. One partial-agged groupBy plus a strata-sized
    * window — nothing in the plan scales with rows beyond the scan.
    *
    * Integrality: independent per-stratum rounding drifts from the
    * budget (round-7 advice), so the allocation is LARGEST-REMAINDER
    * (Hamilton): floor every share, then hand the totalN - Σfloor
    * leftover rows to the largest fractional remainders (ties broken by
    * stratum, both engines). Σ alloc_n == totalN exactly UNLESS a
    * stratum is capped at its population n_pop — a capped stratum means
    * the Neyman budget is infeasible there, and its shortfall is
    * deliberately NOT re-spread (waterfilling would be iterative and
    * would over-sample strata the variance argument says need less). */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
      totalN: Long): DataFrame = {
    require(totalN >= 0, "totalN must be >= 0")
    val v = col(valueCol).cast(LongType)
    val per = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_pop"),
        sum(v).as("__graft_s1__"), sum(v * v).as("__graft_s2__"))
      .withColumn("__graft_w__",
        sqrt((col("n_pop") * col("__graft_s2__") -
          col("__graft_s1__") * col("__graft_s1__")).cast(DoubleType)))
    // strata-count-sized windows (sources/languages, not rows)
    val tot = Window.partitionBy(lit(1))
    val byRem = Window.partitionBy(lit(1))
      .orderBy(col("__graft_rem__").desc, col(strataCol).asc)
    per
      .withColumn("__graft_wsum__", sum(col("__graft_w__")).over(tot))
      .withColumn("__graft_share__",
        when(col("__graft_wsum__") > 0.0,
          lit(totalN.toDouble) * col("__graft_w__") / col("__graft_wsum__"))
          .otherwise(lit(0.0)))
      .withColumn("__graft_fl__",
        floor(col("__graft_share__")).cast(LongType))
      .withColumn("__graft_rem__",
        col("__graft_share__") - floor(col("__graft_share__")))
      .withColumn("__graft_flsum__", sum(col("__graft_fl__")).over(tot))
      .withColumn("__graft_rk__", row_number().over(byRem).cast(LongType))
      .select(col(strataCol), col("n_pop"),
        round(col("__graft_w__") / col("n_pop").cast(DoubleType), 6)
          .as("sigma"),
        least(col("__graft_fl__") +
            when(col("__graft_rk__") <= lit(totalN) - col("__graft_flsum__"),
              lit(1L)).otherwise(lit(0L)),
          col("n_pop")).as("alloc_n"))
      .withColumn("alloc_frac",
        round(col("alloc_n").cast(DoubleType) /
          col("n_pop").cast(DoubleType), 6))
  }

  /** Chao1 vocabulary-richness estimate per group (Chao 1984, the
    * bias-corrected form): S_chao1 = S_obs + f1(f1-1) / (2(f2+1)), where
    * f1/f2 are the singleton/doubleton type counts. The "how much
    * vocabulary haven't we crawled yet" number next to
    * [[vocabGrowthCurve]]'s trajectory: a source whose chao1 far exceeds
    * its observed type count is under-sampled; one where they agree is
    * saturated. The bias-corrected form is defined even at f2 = 0 (the
    * classic f1^2/(2 f2) blows up there).
    *
    * Exactness: S_obs, f1, f2, and the token total are exact longs from
    * two chained groupBys; chao1 is ONE double expression over them,
    * rounded once — identical cross-engine.
    *
    * 100 TB shape: explode -> (group, token) partial-agged count ->
    * group-sized reduce. Same two-shuffle profile as
    * [[topNgramsPerGroup]]; output is one row per group. */
  def vocabRichness(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    df.select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("grp"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("s_obs"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("s_obs"),
        col("f1"), col("f2"),
        round(d(col("s_obs")) + d(col("f1")) * d(col("f1") - lit(1L)) /
          (lit(2.0) * d(col("f2") + lit(1L))), 6).as("chao1"))
  }

  /** Gini coefficient of token mass over documents, per group — the
    * concentration audit behind [[quotaPerKey]] and [[balancedShards]]:
    * a source where a handful of giant documents own most of the token
    * mass (gini near 1) needs per-document caps before it can be mixed at
    * a source-level weight; a flat source (gini near 0) doesn't.
    *
    * Exact grouped-data form: with the per-group value frame (m -> t docs)
    * sorted by m, the docs at value m occupy ranks (cum-t, cum], so
    * sum(i * x_i) = sum over values of m * (t*cum - t(t-1)/2) — exact
    * longs end-to-end — and G = 2*S1 / (n*sum_x) - (n+1)/n is one double
    * expression, rounded once. Groups with zero token mass report NULL.
    *
    * 100 TB shape: one narrow scan to (group, tokens-per-doc), a
    * partial-agged groupBy to the per-group value frame (codomain-bounded
    * — document lengths, not documents), a window ON that frame, and a
    * group-sized reduce. */
  def giniConcentration(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val byValue = df
      .select(col(groupCol).as("grp"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("m"))
      .groupBy(col("grp"), col("m"))
      .agg(count(lit(1)).as("t"))
    val w = Window.partitionBy(col("grp")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byValue
      .withColumn("cum", sum(col("t")).over(w))
      // sum of ranks for this value group, times the value — exact longs
      .withColumn("s1_part",
        col("m") * (col("t") * col("cum") -
          shiftright(col("t") * (col("t") - lit(1L)), 1)))
      .groupBy(col("grp"))
      .agg(sum(col("t")).as("n_docs"), sum(col("m") * col("t")).as("n_tokens"),
        sum(col("s1_part")).as("s1"))
      .select(col("grp").as(groupCol), col("n_docs"), col("n_tokens"),
        when(col("n_tokens") === 0L, lit(null).cast(DoubleType))
          .otherwise(round(
            lit(2.0) * d(col("s1")) / (d(col("n_docs")) * d(col("n_tokens"))) -
              d(col("n_docs") + lit(1L)) / d(col("n_docs")), 6))
          .as("gini"))
  }

  /** Padding-waste audit for fixed-size batch assembly: if docs are
    * batched `batchSize` at a time in a given order and every sequence
    * in a batch pads to the batch max, what fraction of the compute is
    * padding? Compares ARRIVAL order (batch whatever comes) against
    * LENGTH-SORTED order (the bucketing trick) — the measured
    * justification for a sort-by-length stage in front of
    * [[packSequences]]-style assembly (packing removes padding
    * entirely; bucketing is what serving/training stacks that require
    * fixed shapes actually do).
    *
    * Ranks come from [[Scale.cumByRange]]'s value-deterministic
    * prefix sums (never an unpartitioned corpus window — the x211
    * discipline): arrival rank = cum over the unique-id frame;
    * length-sorted rank = cum-before(len) + row_number within the
    * per-length group (keyed window). Batch frames are n/batchSize
    * rows; totals are exact integers with ONE final rounded division.
    * Output per strategy: (strategy, n_batches, total_tokens,
    * padded_tokens, waste_frac), waste NULL if padded is 0. */
  def paddingWaste(df: DataFrame, idCol: String, lenCol: String,
      batchSize: Int = 32): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    val d = (c: Column) => c.cast(DoubleType)
    val base = df.select(col(idCol).as("id"),
      col(lenCol).cast("long").as("len"))
    // arrival: ids are unique, so the value-frame cum IS the rank
    val arrival = Scale.cumByRange(
        base.withColumn("cnt", lit(1L)), "id", "cnt")
      .select(col("len"), col("cum").as("rank"))
    // length-sorted: cum-before on the length frame + keyed row_number
    val lenCum = Scale.cumByRange(
      base.groupBy(col("len")).agg(count(lit(1)).as("cnt")),
      "len", "cnt").select(col("len"), (col("cum") - col("cnt")).as("cb"))
    val sorted = base.join(lenCum.hint("shuffle_hash"), Seq("len"))
      .withColumn("rank", col("cb") + row_number().over(
        Window.partitionBy(col("len")).orderBy(col("id"))))
      .select(col("len"), col("rank"))
    def audit(ranked: DataFrame, name: String): DataFrame = {
      val batches = ranked
        .withColumn("batch", call_function("div",
          col("rank") - 1L, lit(batchSize.toLong)))
        .groupBy(col("batch"))
        .agg(max(col("len")).as("mx"), count(lit(1)).as("sz"),
          sum(col("len")).as("s"))
      batches.agg(count(lit(1)).as("n_batches"),
          sum(col("s")).as("total_tokens"),
          sum(col("mx") * col("sz")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          round(when(col("padded_tokens") === 0L,
              lit(null).cast(DoubleType))
            .otherwise((d(col("padded_tokens")) -
              d(col("total_tokens"))) / d(col("padded_tokens"))), 6)
            .as("waste_frac"))
    }
    audit(arrival, "arrival").unionAll(audit(sorted, "length_sorted"))
      .orderBy(col("strategy"))
  }

  /** Delete-one-group jackknife standard error of the corpus mean
    * (Quenouille 1956, Tukey 1958; delete-GROUP because sources are
    * the natural correlated unit — the same reasoning as
    * [[Experiment.clusterAte]]'s between-cluster variance): pseudo-mean
    * θ_i = mean without group i (the [[looInfluence]] closed form),
    * se² = (k−1)/k · Σ(θ_i − θ̄)². θ values land on the rounded-6 grid
    * and fold through the round-then-DECIMAL-sum x219 discipline, so
    * both engines sum identical decimals. Output one row:
    * (k, n, mean, se_jack), NULLs at k < 2. */
  def jackknifeVariance(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val per = df.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val tot = per.agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"),
      count(lit(1)).as("k"))
    val thetas = per.crossJoin(broadcast(tot))
      .select(col("nn"), col("ss"), col("k"),
        // k = 1 means nn == n: no pseudo-mean exists (se pins NULL
        // below); 0.0 keeps the ANSI division alive without affecting
        // the k >= 2 fold
        when(col("nn") === col("n"), lit(0.0))
          .otherwise(round(d(col("ss") - col("s")) /
            d(col("nn") - col("n")), 6)).as("th"))
      .withColumn("th2", round(col("th") * col("th"), 6))
    val folded = thetas.groupBy(col("nn"), col("ss"), col("k"))
      .agg(sum(col("th").cast(dec)).as("s1"),
        sum(col("th2").cast(dec)).as("s2"))
      .select(col("nn"), col("ss"), col("k"),
        col("s1").cast("string").cast(DoubleType).as("s1"),
        col("s2").cast("string").cast(DoubleType).as("s2"))
    val varJack = (d(col("k")) - lit(1.0)) / d(col("k")) *
      (col("s2") - col("s1") * col("s1") / d(col("k")))
    folded.select(col("k"), col("nn").as("n"),
      round(d(col("ss")) / d(col("nn")), 6).as("mean"),
      round(when(col("k") < 2L, lit(null).cast(DoubleType))
        .otherwise(sqrt(varJack)), 6).as("se_jack"))
  }

  /** Pareto front over the per-group (volume, quality) frame: a group
    * is ON the front iff no other group has >= volume AND >= quality
    * with at least one strict — the mixture-planning shortlist (a
    * dominated source is never the right marginal pick at any
    * volume-quality tradeoff). Quality = rounded-6 group mean, so the
    * domination comparisons are grid-exact in both engines; the pair
    * join is O(k²) on the group frame (the [[Evaluation.kendallTau]]
    * bounded-frame convention). Output: (group, n_docs, mean_q,
    * on_front). */
  def paretoFront(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val per = df.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .select(col("g"), col("n"),
        round(d(col("s")) / d(col("n")), 6).as("q"))
    val dominated = per.as("a").join(per.as("b"),
        col("b.n") >= col("a.n") && col("b.q") >= col("a.q") &&
          (col("b.n") > col("a.n") || col("b.q") > col("a.q")),
        "left_semi")
      .select(col("g"))
    per.join(dominated.withColumn("dom", lit(true)),
        Seq("g"), "left")
      .select(col("g").as(groupCol), col("n").as("n_docs"),
        col("q").as("mean_q"),
        (coalesce(col("dom"), lit(false)) === false).as("on_front"))
      .orderBy(col(groupCol))
  }

  /** Leave-one-source-out influence on the corpus mean of `valueCol`:
    * for each group, the global mean recomputed WITHOUT it minus the
    * mean with it — closed form from the per-group (n, sum) frame, the
    * cheapest member of the data-valuation family (which source drags
    * corpus quality, and by how much). Positive influence = removing
    * the source RAISES the mean. Exact integer sums; the only doubles
    * are the two final divisions. NULL when the group is the whole
    * corpus. Output: (group, n, mean_in, influence). */
  def looInfluence(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val per = df.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val tot = per.agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"))
    per.crossJoin(broadcast(tot))
      .select(col("g").as(groupCol), col("n"),
        round(d(col("s")) / d(col("n")), 6).as("mean_in"),
        round(when(col("nn") === col("n"), lit(null).cast(DoubleType))
          .otherwise(d(col("ss") - col("s")) / d(col("nn") - col("n")) -
            d(col("ss")) / d(col("nn"))), 6).as("influence"))
      .orderBy(col(groupCol))
  }

  /** Exact Shapley data valuation of sources under the shingle-COVERAGE
    * utility (v(S) = distinct n-gram shingles covered by the union of
    * S). Coverage games have a closed-form Shapley value — no
    * permutation sampling: a shingle present in exactly `cvr` sources
    * contributes 1/cvr to each of them (each is equally likely to be
    * the first of the cvr in a random arrival order), so
    * phi(source) = sum over its shingles of 1/cvr. Unlike
    * [[looInfluence]] (marginal vs the full coalition), Shapley credits
    * a source for content that only FEW others duplicate — the
    * "how much unique coverage does this source really buy" valuation
    * behind corpus licensing and mixture decisions (Ghorbani & Zou
    * 2019 frame the sampling version; coverage utility makes it exact).
    *
    * Determinism: each 1/cvr term is HALF-UP rounded to the 1e6
    * microgrid with exact integer division (k*1e6/cvr per (source,
    * cvr) cell), summed as longs; only the final /1e6 is a double.
    *
    * Output per source: (source, n_shingles, n_exclusive, shapley)
    * where shapley sums to ~the total distinct-shingle count
    * (efficiency, up to microgrid rounding).
    *
    * 100 TB shape: the docfreq shape — distinct (source, shingle)
    * presence frame, shingle-keyed count join, then a per-(source,
    * coverage-count) cell agg; the final fold is over a
    * sources x max-coverage bounded frame. Nothing collects. */
  def shapleyCoverage(docs: DataFrame, sourceCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val tok = docs
      .select(col(sourceCol).as("g"),
        explode(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .distinct()
    val cvr = tok.groupBy(col("sh")).agg(count(lit(1)).as("cvr"))
    // shuffle_hash pin: post-explode/post-agg size estimates are
    // unreliable (the Dedup.scala hazard) — never sort the shingle rows
    val cells = tok.join(cvr.hint("shuffle_hash"), Seq("sh"))
      .groupBy(col("g"), col("cvr")).agg(count(lit(1)).as("k"))
    // HALF-UP k*1e6/cvr on the microgrid, exact on longs
    val termMicro = call_function("div",
      lit(2L) * col("k") * lit(1000000L) + col("cvr"),
      lit(2L) * col("cvr"))
    cells.withColumn("tm", termMicro)
      .groupBy(col("g"))
      .agg(sum(col("k")).as("n_shingles"),
        sum(when(col("cvr") === 1L, col("k")).otherwise(0L))
          .as("n_exclusive"),
        sum(col("tm")).as("shm"))
      .select(col("g").as(sourceCol), col("n_shingles"),
        col("n_exclusive"),
        round(d(col("shm")) / lit(1e6), 6).as("shapley"))
      .orderBy(col(sourceCol))
  }

  /** Tail ownership: which sources supply the corpus's extreme-value
    * documents. Global P90/P99 thresholds of `valueCol` are found
    * INTEGER-exactly on the distinct-value frame (p90 = min v with
    * cum*10 >= 9*n — no double percentile anywhere), then each source
    * reports its count and share of the strictly-above-threshold
    * tails. The mixture diagnostic behind "our longest documents all
    * come from two sources" — mean-based per-source stats
    * ([[looInfluence]]) cannot see tail concentration.
    *
    * Output per source: (source, n_docs, n_above_p90, n_above_p99,
    * share_p90, share_p99) with shares NULL when the tail is empty.
    *
    * 100 TB shape: the cumulative window orders the DISTINCT-VALUE
    * frame (codomain-bounded — the x246 convention; `valueCol` must be
    * a measurement with a bounded codomain like a length, not a unique
    * id); thresholds broadcast back as a 1-row frame; one
    * partial-agged groupBy(source) ends it. */
  def tailOwnership(docs: DataFrame, sourceCol: String,
      valueCol: String): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val vals = docs.select(col(sourceCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val byV = vals.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val tot = Window.partitionBy(lit(1))
    val wcum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val th = byV
      .withColumn("n", sum(col("cnt")).over(tot))
      .withColumn("cum", sum(col("cnt")).over(wcum))
      .agg(
        min(when(col("cum") * 10L >= col("n") * 9L, col("v")))
          .as("p90v"),
        min(when(col("cum") * 100L >= col("n") * 99L, col("v")))
          .as("p99v"))
    val per = vals.crossJoin(broadcast(th))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("v") > col("p90v"), 1L).otherwise(0L))
          .as("n_above_p90"),
        sum(when(col("v") > col("p99v"), 1L).otherwise(0L))
          .as("n_above_p99"))
    per
      .withColumn("t90", sum(col("n_above_p90")).over(tot))
      .withColumn("t99", sum(col("n_above_p99")).over(tot))
      .select(col("g").as(sourceCol), col("n_docs"),
        col("n_above_p90"), col("n_above_p99"),
        round(when(col("t90") === 0L, lit(null).cast(DoubleType))
          .otherwise(d(col("n_above_p90")) / d(col("t90"))), 6)
          .as("share_p90"),
        round(when(col("t99") === 0L, lit(null).cast(DoubleType))
          .otherwise(d(col("n_above_p99")) / d(col("t99"))), 6)
          .as("share_p99"))
      .orderBy(col(sourceCol))
  }

  /** Prefix-cache hit-rate audit: how much of the corpus opens with a
    * prefix some OTHER document shares — the planning number behind
    * prefix-caching inference servers and dedup-adjacent "template
    * intro" detection (a corpus whose documents all start with the
    * same boilerplate caches beautifully and trains badly). The prefix
    * key is the first `prefixTokens` whitespace tokens; documents
    * shorter than that use their whole text (they still group).
    *
    * Output per source: (source, n_docs, distinct_prefixes, n_shared,
    * hit_rate) where n_shared counts documents whose prefix group has
    * >= 2 members CORPUS-wide (cross-source sharing counts — the cache
    * doesn't care which source warmed it).
    *
    * 100 TB shape: one prefix-keyed groupBy for group sizes, one
    * shuffle_hash join back (the docfreq shape), one per-source
    * reduce. */
  def prefixCacheAudit(docs: DataFrame, sourceCol: String,
      textCol: String, prefixTokens: Int = 8): DataFrame = {
    require(prefixTokens >= 1, "prefixTokens must be >= 1")
    val d = (c: Column) => c.cast(DoubleType)
    val pfx = array_join(
      slice(TextFunctions.tokens(col(textCol)), 1, prefixTokens), " ")
    val keyed = docs.select(col(sourceCol).as("g"), pfx.as("pfx"))
    val groups = keyed.groupBy(col("pfx"))
      .agg(count(lit(1)).as("gsz"))
    keyed.join(groups.hint("shuffle_hash"), Seq("pfx"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("pfx")).as("distinct_prefixes"),
        sum(when(col("gsz") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .select(col("g").as(sourceCol), col("n_docs"),
        col("distinct_prefixes"), col("n_shared"),
        round(d(col("n_shared")) / d(col("n_docs")), 6).as("hit_rate"))
      .orderBy(col(sourceCol))
  }
}

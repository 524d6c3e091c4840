package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.md5Long

/** Skew-handling utilities for the 1000-executor case. Spark's AQE
  * skew-join split handles sort-merge joins adaptively; these helpers cover
  * the patterns AQE does not: broadcast-infeasible lookup joins against a
  * skewed key, and aggregations whose per-key state is heavy.
  *
  * All salts are DETERMINISTIC (md5 of a caller-chosen discriminator
  * column), keeping results reproducible run-over-run — no rand().
  */
object Scale {

  /** Parallelism insurance for a compute-dense map stage: round-robin
    * repartition `df` to the session's target parallelism IFF its planned
    * input parallelism is below it; the identity otherwise.
    *
    * Why it exists (round-10 profiling): a single-row-group parquet file
    * yields ONE scan split no matter the split configs, so every
    * expression-heavy map pass over it — thresholded levenshtein under a
    * broadcast join, per-token md5 hashing, shingle/minhash explodes,
    * probe-vs-corpus dot products — runs serially while the other 31
    * cores idle (x57_fuzzy_link: 4 tasks total, 3.8 s of which ~3.5 s is
    * one task's BroadcastNestedLoopJoin). The repartition moves only the
    * operator's INPUT bytes once (bounded by the scan it sits on), orders
    * of magnitude below the compute it unlocks.
    *
    * Scale-adaptive by construction, not a local-mode constant: the
    * target defaults to `sparkContext.defaultParallelism` (the session's
    * own core count — the bench's low-core runs get a proportionally
    * lower target), and any input that already carries >= target
    * partitions — every real table at cluster scale — passes through
    * untouched, so no exchange is ever added where the scan can already
    * feed the cluster. `spark.graft.fanout.target` overrides the target
    * (<= 1 disables; plan-shape specs pin the no-op this way).
    *
    * Determinism: repartition's round-robin assignment sorts its input
    * partition locally first (spark.sql.execution.sortBeforeRepartition,
    * on by default) so retries reproduce the same placement; row ORDER
    * feeding downstream ops is not changed in any way the engine's
    * order-insensitive aggregates/joins or the queries' total output
    * orderings could observe. */
  def fanOut(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val target = df.sparkSession.conf
      .getOption("spark.graft.fanout.target").map(_.toInt)
      .getOrElse(sc.defaultParallelism)
    if (target <= 1) df
    else {
      // planned pre-AQE parallelism of the frame's physical input; for
      // the scans this guards it is the file-split count. Building the
      // RDD plans the subtree but runs nothing.
      val parts = df.rdd.getNumPartitions
      if (parts >= target) df else df.repartition(target)
    }
  }

  /** Salted equi-join of a skewed `big` side against a `small` side that
    * is too large to broadcast but small enough to replicate `salts`-fold:
    * big rows get a salt derived from `discriminator` (any column that
    * spreads hot keys, e.g. a row id), the small side is exploded across
    * all salt values, and the join key becomes (key, salt) — hot keys fan
    * out over `salts` tasks instead of one.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      discriminator: String, salts: Int = 16,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"saltedJoin supports inner/left joins only (right/full would duplicate " +
        s"unmatched small-side rows $salts-fold); got '$joinType'")
    // null discriminator -> salt 0, not a null salt (a null would never
    // equal any replicated salt and the row would silently vanish)
    val saltedBig = big.withColumn("__graft_salt__",
      pmod(coalesce(md5Long(col(discriminator)), lit(0L)), lit(salts.toLong)))
    val saltedSmall = small.withColumn("__graft_salt__",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    // shuffle_hash: the salted join exists precisely because the small
    // side is too big to broadcast — don't let AQE re-broadcast the
    // exploded replica (post-explode size estimates are unreliable)
    saltedBig.join(saltedSmall.hint("shuffle_hash"), Seq(key, "__graft_salt__"), joinType)
      .drop("__graft_salt__")
  }

  /** Two-stage salted aggregation: partial aggregate on (key, salt), then
    * final combine on key. For algebraic aggregates Spark's map-side
    * partial aggregation usually suffices; use this when per-key hash-map
    * state is the bottleneck (huge distinct counts per hot key, long
    * collect_list buffers). `partials` maps output column -> (stage1 agg
    * of the input column, stage2 combine of the stage1 column).
    */
  def saltedAggregate(df: DataFrame, key: String, discriminator: String,
      salts: Int,
      stage1: Seq[(String, Column)],
      stage2: Seq[(String, Column => Column)]): DataFrame = {
    val salted = df.withColumn("__graft_salt__",
      pmod(md5Long(col(discriminator)), lit(salts.toLong)))
    val partial = salted.groupBy(col(key), col("__graft_salt__"))
      .agg(stage1.head._2.as(stage1.head._1),
        stage1.tail.map { case (n, e) => e.as(n) }: _*)
    partial.groupBy(col(key))
      .agg(stage2.head._2(col(stage2.head._1)).as(stage2.head._1),
        stage2.tail.map { case (n, g) => g(col(n)).as(n) }: _*)
  }

  /** Exact distinct count per key, two-stage: stage 1 deduplicates
    * (key, value) pairs — a groupBy whose partial aggregation collapses
    * per-partition duplicates map-side — stage 2 counts survivors per key.
    * The scale replacement for `countDistinct`: Spark plans COUNT(DISTINCT)
    * as a single Expand+agg whose per-key hash-set state concentrates on
    * the reducer owning a hot key; here the heavy dedup stage is keyed on
    * (key, value), which spreads a hot key across the cluster, and stage 2
    * only ever sees pre-deduplicated rows. Approximate alternative at even
    * larger cardinalities: `approx_count_distinct` (HLL, no exact-oracle
    * gate possible). Counts NON-NULL values like COUNT(DISTINCT v): the
    * distinct() keeps one (key, null) row per key, so the final count must
    * be count(value) — count(1) would bill that row as a distinct item. */
  def distinctCountPerKey(df: DataFrame, key: String, valueCol: String,
      as: String = "n_distinct"): DataFrame =
    df.select(col(key), col(valueCol)).distinct()
      .groupBy(col(key)).agg(count(col(valueCol)).as(as))

  /** Convenience: salted count per key. */
  def saltedCount(df: DataFrame, key: String, discriminator: String,
      salts: Int = 16): DataFrame =
    saltedAggregate(df, key, discriminator, salts,
      Seq("cnt" -> count(lit(1))),
      Seq("cnt" -> ((c: Column) => sum(c).cast("long"))))

  /** Repartition by key with an explicit partition count — the
    * pre-shuffle co-location primitive for repeated joins/aggs on the same
    * key (bucketing without a metastore). */
  def repartitionByKey(df: DataFrame, key: String, partitions: Int): DataFrame =
    df.repartition(partitions, col(key))

  /** Persist a frame as a BUCKETED (+ sorted) parquet table: two tables
    * bucketed the same way join with NO exchange on either side — the
    * amortize-the-shuffle primitive when the same key is joined repeatedly
    * (fact/dim co-location at 100 TB). Spark's in-memory catalog stores
    * bucket metadata under spark.sql.warehouse.dir. */
  def bucketedWrite(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // an in-memory catalog forgets the table across sessions while its
    // warehouse directory survives; clear the stale location so overwrite
    // semantics hold run-over-run
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    graft.sources.GraftIO.deleteRecursively(
      java.nio.file.Paths.get(wh).resolve(table.toLowerCase))
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Z-order (Morton) interleave of two bucketed dimensions — the
    * multi-column data-skipping layout: files range-partitioned on the
    * Z-value keep BOTH dimensions' per-file min/max ranges narrow
    * (~sqrt(files) of the domain each), so predicates on EITHER column
    * prune files, where a lexicographic sort prunes only its leading
    * column. Inputs must already be bucketed to [0, 2^bits) ints (rank,
    * modulo, or range bucketing — caller's choice); the interleave itself
    * is `bits` shift/mask terms per column, a pure codegen'd projection.
    */
  def zOrderValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Lay a frame out for multi-dimensional data skipping: range-partition
    * on the Z-value of the two bucketed dims into `numFiles` partitions
    * and sort within each — `.write.parquet` then produces one file per
    * partition whose footer min/max stats are tight in BOTH dims. */
  def zOrderLayout(df: DataFrame, aBucket: Column, bBucket: Column,
      numFiles: Int, bits: Int = 16): DataFrame = {
    val z = zOrderValue(aBucket, bBucket, bits).as("__graft_zval")
    df.withColumn("__graft_zval", z)
      .repartitionByRange(numFiles, col("__graft_zval"))
      .sortWithinPartitions(col("__graft_zval"))
  }

  /** Pre-flight skew diagnostic for a planned equi-join: per-key row
    * counts on both sides and the per-key output cardinality cnt_l*cnt_r,
    * top-k keys. The numbers that decide whether a join needs
    * [[saltedJoin]], a broadcast, or an AQE skew threshold BEFORE paying
    * for the join — the sum of out_rows over all keys is the join's exact
    * output size, and one dominant key is the shuffle straggler.
    *
    * 100 TB shape: both sides reduce to per-key counts with map-side
    * partial aggregation (the wire carries keys, not rows); the count
    * frames join on the key and TakeOrdered keeps k rows. Nothing about
    * the probe is heavier than two groupBy-counts.
    */
  def joinSkewProbe(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val lc = left.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("cnt_l"))
    val rc = right.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("cnt_r"))
    lc.join(rc, Seq("key"))
      .select(col("key"), col("cnt_l"), col("cnt_r"),
        (col("cnt_l") * col("cnt_r")).as("out_rows"))
      .orderBy(col("out_rows").desc, col("key").asc)
      .limit(topK)
  }

  /** Inclusive cumulative sum of `cntCol` in `orderCol` order, plus the
    * grand total as column `n` — WITHOUT an unpartitioned window. The
    * round-7 advisor shapes ([[sortKeyAdvisor]], [[rangeSplits]]) ran
    * `Window.orderBy(key)` over the distinct-key frame; when the
    * candidate key is unique (x211 passes doc_id) that frame IS the
    * corpus and the whole dataset funneled through one task.
    *
    * Scalable shape (the RowNum.assign two-pass idea, generalized to
    * weighted sums), with one twist: the bucket a key lands in must be a
    * pure FUNCTION OF THE KEY VALUE, never of a sampled physical layout.
    * (A first cut used repartitionByRange + spark_partition_id; range
    * exchange samples with an RDD-id-derived seed, so an unpersist-then-
    * recompute re-draws the boundaries and the collected offsets silently
    * mismatch — observed as x211 losing a bin at sf0.1.) Boundaries here
    * are md5-SAMPLED KEYS (~one per expected shuffle partition, capped)
    * captured as plan literals; bucket id = count of boundaries <= key, a
    * codegen'd when-chain that is monotone in key order for ANY boundary
    * subset, so the result is exact and identical no matter how the
    * sample lands — boundary quality affects only balance. Per-bucket
    * totals (bounded) collect once; the emit is a bucket-partitioned
    * window plus the broadcast prefix offset. The input is persisted
    * around the bounded passes and released when the caller's owner scope
    * exits ([[graft.plans.Persists.scope]]); a caller that already knows
    * the row count passes `knownN` and skips the count job. */
  private[graft] def cumByRange(df: DataFrame, orderCol: String,
      cntCol: String, smallDomain: Long = 1L << 20,
      knownN: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    val cached = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.plans.Persists.onScopeEnd(() => cached.unpersist(blocking = false))
    // a caller that already knows the row count (the advisors fold every
    // set's count out of ONE gs.groupBy(__gid) action) skips the per-call
    // count() job; the value only routes between the two equivalent paths
    val nKeys = knownN.getOrElse(cached.count())
    if (nKeys <= smallDomain) {
      // KNOWN-bounded domain: a single-task ordered window over <= 2^20
      // rows is sub-second and costs two fewer jobs than the bucketed
      // path — the funnel hazard this function exists for only bites
      // when the distinct-key frame approaches corpus scale, and the
      // count() just measured it. Values identical on either path.
      val w = Window.orderBy(col(orderCol).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(lit(1))
      return cached
        .withColumn("cum", sum(col(cntCol)).over(w))
        .withColumn("n", sum(col(cntCol)).over(tot))
    }
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val m = math.max(1L, nKeys / math.max(1, p))
    val boundVals = cached
      .filter(pmod(md5Long(col(orderCol)), lit(m)) === 0L)
      .select(col(orderCol)).collect().map(_.get(0)).distinct.take(512)
    val bucket = boundVals.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(orderCol) >= lit(b), 1).otherwise(0)
    }
    val withB = cached.withColumn("__bkt", bucket)
    val tots = withB.groupBy(col("__bkt")).agg(sum(col(cntCol)).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to boundVals.length).scanLeft(0L)((acc, bkt) =>
      acc + tots.getOrElse(bkt, 0L))
    val w = Window.partitionBy(col("__bkt")).orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB
      .withColumn("cum", sum(col(cntCol)).over(w) +
        element_at(lit(offsets.dropRight(1).toArray), col("__bkt") + 1))
      .withColumn("n", lit(offsets.last))
      .drop("__bkt")
  }

  /** Sort-key advisor: for each candidate layout key, how effective would
    * zone maps (per-file min/max of `probeCol`) be at skipping files for
    * point lookups on `probeCol`? Rows are packed into `nBins`
    * equal-count files in candidate-key order (ties stay together, the
    * [[rangeSplits]] rule), each file keeps its probe min/max, and a
    * workload of `nProbes` evenly-spaced probe quantiles counts how many
    * files each lookup must open. The report says which sort key buys
    * the most skipping — THE decision behind a z-order/sort-on-write
    * job, measured instead of guessed.
    *
    * 100 TB shape: ONE grouping-sets scan of the corpus computes every
    * candidate's distinct-key frame AND the probe value frame together
    * (round 9 — previously one groupBy scan per candidate plus one for
    * the probes; the round-8 verdict measured the per-candidate job
    * chains at ~1.8-3.8 s of pure latency). The persisted grouping-sets
    * frame is key-domain-sized per set, carries map-side partial
    * aggregation, and is released when the owner scope exits. All
    * cumulative positions run through [[cumByRange]]'s partitioned
    * two-pass shape, so a UNIQUE candidate key (distinct-key frame =
    * corpus) no longer funnels the dataset through one task.
    * All-integer arithmetic when `probeCol` is integral.
    */
  def sortKeyAdvisor(df: DataFrame, candidateKeys: Seq[String],
      probeCol: String, nBins: Int = 32, nProbes: Int = 9): DataFrame = {
    require(candidateKeys.nonEmpty && nBins >= 2 && nProbes >= 1,
      "need candidates, >=2 bins, >=1 probe")
    // one pass: GROUPING SETS ((k1),(k2),...,(probe)) — each single-column
    // set reproduces exactly the per-candidate groupBy it replaces, and
    // grouping_id() (bit 1 = column aggregated away, leftmost column =
    // most significant bit) tags which set a row belongs to, so real NULL
    // key values stay distinguishable from rolled-up columns
    val gcols = (candidateKeys :+ probeCol).distinct
    val nG = gcols.length
    def gidOf(name: String): Long =
      (1L << nG) - 1L - (1L << (nG - 1 - gcols.indexOf(name)))
    // THE one corpus pass, materialized EAGERLY as a plan leaf: every
    // candidate branch below references the checkpointed RDD, so no
    // branch can re-plan a parquet scan — the round-9 persist() relied
    // on CacheManager canonical matching, which silently fails for
    // grouping-sets subtrees once the analyzer deduplicates the union's
    // repeated references (measured: only the first branch read the
    // cache; the rest re-ran the Expand from parquet)
    val gs = df
      .groupingSets(gcols.map(c => Seq(col(c))), gcols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), min(col(probeCol)).as("pmin"),
        max(col(probeCol)).as("pmax"), grouping_id().as("__gid"))
      .localCheckpoint(true)
    graft.plans.Persists.releaseCheckpointAtScopeEnd(gs)
    // one bounded collect over the stored partitions yields every set's
    // row count, so no cumByRange call below needs its own count() job
    // (round 9 ran one count action per candidate + probes)
    val gidRows = gs.groupBy(col("__gid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // probe workload: the i/(nProbes+1) exact quantiles of probeCol
    val pv = gs.filter(col("__gid") === gidOf(probeCol))
      .select(col(probeCol).as("pv"), col("cnt"))
    val pcum = cumByRange(pv, "pv", "cnt",
      knownN = Some(gidRows.getOrElse(gidOf(probeCol), 0L)))
    val probeAggs = (1 to nProbes).map { i =>
      min(when(col("cum") * (nProbes + 1).toLong >= lit(i.toLong) * col("n"),
        col("pv"))).as(s"p_$i")
    }
    val probes = pcum.groupBy().agg(probeAggs.head, probeAggs.tail: _*)
      .select(explode(array((1 to nProbes).map(i => col(s"p_$i")): _*))
        .as("probe"))
    val perKey = candidateKeys.map { key =>
      val counts = gs.filter(col("__gid") === gidOf(key))
        .select(col(key).as("k"), col("cnt"), col("pmin"), col("pmax"))
      val kcum = cumByRange(counts, "k", "cnt",
        knownN = Some(gidRows.getOrElse(gidOf(key), 0L)))
      val bins = kcum
        .withColumn("bin", call_function("div",
          (col("cum") - col("cnt")) * nBins.toLong, col("n")))
        .groupBy(col("bin"))
        .agg(min(col("pmin")).as("bmin"), max(col("pmax")).as("bmax"))
      val nb = bins.agg(count(lit(1)).as("n_bins"))
      bins.join(broadcast(probes),
          col("probe") >= col("bmin") && col("probe") <= col("bmax"),
          "inner")
        .agg(count(lit(1)).as("bins_scanned"))
        .crossJoin(broadcast(nb))
        .select(lit(key).as("candidate"), col("n_bins"),
          round(col("bins_scanned").cast("double") / nProbes.toDouble, 6)
            .as("avg_bins_scanned"),
          round(col("bins_scanned").cast("double") /
            (col("n_bins").cast("double") * nProbes.toDouble), 6)
            .as("scan_frac"))
    }
    perKey.reduce(_ unionAll _)
  }

  /** Bloom-filter advisor — the [[sortKeyAdvisor]] sibling for the OTHER
    * skipping index: if each of the `nBins` equal-count files (packed in
    * candidate-key order) carries a Bloom filter over `probeCol`
    * (`bitsPerFile` bits, `nHashes` hashes), how many files does a point
    * lookup open? A probe opens every file that truly contains its value
    * plus, per non-containing file, a false-positive open at rate
    * fpp = (1 - e^(-k·nd/m))^k from the file's DISTINCT probe-value
    * count nd (Bloom 1970). Zone maps (x211) win on clustered keys;
    * blooms win on scattered ones — this op measures the decision
    * instead of guessing it.
    *
    * Cross-engine exactness: per-file fpp is the one transcendental,
    * rounded to 6 (the engine's libm convention) and carried as
    * DECIMAL(18,6) so every SUM of fpp mass is exact — no double
    * summation order anywhere; final ratios divide exact decimal/integer
    * sums into doubles at the edge.
    *
    * 100 TB shape: ONE grouping-sets scan of the corpus computes every
    * candidate's per-key counts, the per-candidate distinct (key, value)
    * pair frames for file contents, AND the probe value frame together
    * (round 9 — sets (k_i), (k_i, probe), (probe); previously ~2 corpus
    * scans per candidate plus one for the probes). Each set's output is
    * key-domain-sized with map-side partial aggregation; everything
    * downstream is bin- or probe-sized, and cumulative positions run
    * through [[cumByRange]]'s partitioned shape. The probe workload is
    * the same exact quantiles as [[sortKeyAdvisor]]'s.
    */
  def bloomAdvisor(df: DataFrame, candidateKeys: Seq[String],
      probeCol: String, nBins: Int = 32, nProbes: Int = 9,
      bitsPerFile: Long = 4096, nHashes: Int = 3): DataFrame = {
    require(candidateKeys.nonEmpty && nBins >= 2 && nProbes >= 1 &&
      bitsPerFile >= 8 && nHashes >= 1,
      "need candidates, >=2 bins, >=1 probe, >=8 bits, >=1 hash")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val d = (c: Column) => c.cast(org.apache.spark.sql.types.DoubleType)
    // one pass over the corpus: single-column sets for the per-key count
    // frames and the probe value frame, (key, probe) pair sets for the
    // per-file distinct-contents frames; grouping_id() (bit 1 = column
    // aggregated away) selects each set back out, NULL-safely
    val gcols = (candidateKeys :+ probeCol).distinct
    val nG = gcols.length
    def gidOf(names: String*): Long =
      names.foldLeft((1L << nG) - 1L)((acc, nm) =>
        acc - (1L << (nG - 1 - gcols.indexOf(nm))))
    val singleSets = gcols.map(c => Seq(col(c)))
    val pairSets = candidateKeys.filter(_ != probeCol)
      .map(k => Seq(col(k), col(probeCol)))
    // the one corpus pass, eagerly checkpointed to a plan leaf — see
    // sortKeyAdvisor for why persist+CacheManager matching is not enough
    val gs = df
      .groupingSets(singleSets ++ pairSets, gcols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), grouping_id().as("__gid"))
      .localCheckpoint(true)
    graft.plans.Persists.releaseCheckpointAtScopeEnd(gs)
    // one bounded collect: every set's row count from stored partitions
    val gidRows = gs.groupBy(col("__gid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pv = gs.filter(col("__gid") === gidOf(probeCol))
      .select(col(probeCol).as("pv"), col("cnt"))
    val pcum = cumByRange(pv, "pv", "cnt",
      knownN = Some(gidRows.getOrElse(gidOf(probeCol), 0L)))
    val probeAggs = (1 to nProbes).map { i =>
      min(when(col("cum") * (nProbes + 1).toLong >= lit(i.toLong) * col("n"),
        col("pv"))).as(s"p_$i")
    }
    val probes = pcum.groupBy().agg(probeAggs.head, probeAggs.tail: _*)
      .select(explode(array((1 to nProbes).map(i => col(s"p_$i")): _*))
        .as("probe"))
    val perKey = candidateKeys.map { key =>
      val counts = gs.filter(col("__gid") === gidOf(key))
        .select(col(key).as("k"), col("cnt"))
      val kcum = cumByRange(counts, "k", "cnt",
        knownN = Some(gidRows.getOrElse(gidOf(key), 0L)))
      val bins = kcum
        .withColumn("bin", call_function("div",
          (col("cum") - col("cnt")) * nBins.toLong, col("n")))
        .select(col("k"), col("bin"))
      // per-file contents: distinct probe values per bin — the (key,
      // probe) grouping set IS the distinct pair frame (for key ==
      // probeCol the single-column probe set is that frame)
      val pairFrame =
        if (key == probeCol)
          gs.filter(col("__gid") === gidOf(probeCol))
            .select(col(probeCol).as("k"), col(probeCol).as("pv"))
        else
          gs.filter(col("__gid") === gidOf(key, probeCol))
            .select(col(key).as("k"), col(probeCol).as("pv"))
      val binVals = pairFrame
        .join(bins, Seq("k"))
        .select(col("bin"), col("pv")).distinct()
      val fpp = binVals.groupBy(col("bin")).agg(count(lit(1)).as("nd"))
        .withColumn("fpp", round(
          pow(lit(1.0) - exp(lit(-nHashes.toDouble) * d(col("nd")) /
            lit(bitsPerFile.toDouble)), lit(nHashes.toDouble)), 6)
          .cast(dec))
      val totals = fpp.agg(count(lit(1)).as("n_bins"),
        sum(col("fpp")).as("fpp_all"))
      val cb = binVals.join(fpp.select(col("bin"), col("fpp")), Seq("bin"))
        .select(col("pv"), col("fpp"))
      val perProbe = probes.join(cb, col("probe") === col("pv"), "left")
        .groupBy(col("probe"))
        .agg(count(col("pv")).as("tb"),
          sum(coalesce(col("fpp"), lit(0).cast(dec))).as("fc"))
      perProbe.agg(sum(col("tb")).as("t_all"), sum(col("fc")).as("c_all"))
        .crossJoin(broadcast(totals))
        // Σ_probes fp mass = nProbes·fpp_all − Σ contained fpp: exact
        // decimal; into doubles via string (the j4 convention)
        .withColumn("__fp", (col("fpp_all") * nProbes.toLong - col("c_all"))
          .cast("string").cast("double"))
        .select(lit(key).as("candidate"), col("n_bins"),
          round(d(col("t_all")) / nProbes.toDouble, 6).as("avg_true_bins"),
          round(col("__fp") / nProbes.toDouble, 6).as("avg_fp_bins"),
          round((d(col("t_all")) + col("__fp")) /
            (lit(nProbes.toDouble) * d(col("n_bins"))), 6).as("open_frac"))
    }
    perKey.reduce(_ unionAll _)
  }

  /** Range-partition planner: choose split boundaries over `keyCol` for
    * `nParts` partitions and report the resulting layout — part id, key
    * range, row count, and skew (size vs the ideal n/parts). The planning
    * step behind a range-partitioned write or a sort-merge bucketing
    * scheme: rows of EQUAL key must land in the same partition, so the
    * plan assigns each distinct key to the partition its cumulative
    * position (scaled by parts/n, integer arithmetic) falls in, and the
    * report shows how much key-ties force the layout away from ideal.
    *
    * 100 TB shape: the only per-row work is one partial-agged
    * groupBy(key); everything after runs on the DISTINCT-KEY frame, whose
    * size is bounded by the key domain, not the corpus (the cumulative
    * window is ordered but domain-sized — documented bounded, same class
    * as x104's weighted quantiles). No global row sort: this is exactly
    * what Spark's RangePartitioner approximates by sampling; the exact
    * variant is the oracle-checkable form.
    */
  def rangeSplits(df: DataFrame, keyCol: String, nParts: Int): DataFrame = {
    require(nParts >= 1, "nParts must be >= 1")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    // partitioned two-pass cumulative — a high-cardinality key's
    // distinct-key frame no longer funnels through one task
    cumByRange(counts, keyCol, "cnt")
      // the key's FIRST row decides its partition: floor((cum-cnt)*P/n)
      // in exact long arithmetic (IntegralDivide, not Column./'s double)
      .withColumn("part", call_function("div",
        (col("cum") - col("cnt")) * nParts.toLong, col("n")))
      .groupBy(col("part"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
        sum(col("cnt")).as("n_rows"),
        max(col("n")).as("__n__"))
      .select(col("part"), col("lo"), col("hi"), col("n_rows"),
        round(col("n_rows").cast("double") * nParts.toLong /
          col("__n__").cast("double"), 6).as("skew"))
  }

  /** Rendezvous (highest-random-weight) shard assignment audit
    * (Thaler & Ravishankar 1998): each key goes to the node with the
    * highest md5(key|node) score, so removing a node moves ONLY the
    * keys that lived on it — the minimal-disruption guarantee mod-N
    * hashing lacks (there a node removal reshuffles ~(N-1)/N of ALL
    * keys). Output one row per node: keys assigned with all `nNodes`
    * nodes (n_before), keys assigned after the LAST node is removed
    * (n_after; 0 for the removed node itself), moved_in = n_after −
    * n_before (every gain comes from the removed node's keys — the
    * spec asserts sum(moved_in) over survivors equals the removed
    * node's n_before), and the mod-hash comparison columns: keys at
    * this node under mod-N (mod_before) and still there under mod-(N-1)
    * (mod_stay).
    *
    * 100 TB shape: a narrow nNodes-way fan-out projection (posexplode
    * of the per-key score array) + per-key max windows bounded at
    * nNodes rows per key + one groupBy(node) into an nNodes-row frame.
    * Scores are 60-bit md5 — a cross-node tie would double-count that
    * key identically in both engines (deterministic, ~2^-60·nNodes²
    * probability). */
  def rendezvousAudit(df: DataFrame, idCol: String,
      nNodes: Int = 8): DataFrame = {
    require(nNodes >= 2, s"need at least 2 nodes: $nNodes")
    val id = col(idCol).cast("string")
    val h = md5Long(id)
    val scores = array((0 until nNodes).map(i =>
      md5Long(concat(id, lit(s"|n$i")))): _*)
    val exploded = df.select(id.as("__id"), h.as("__h"),
        posexplode(scores).as(Seq("node", "s")))
      .withColumn("node", col("node").cast("long"))
    val w = Window.partitionBy(col("__id")) // bounded: nNodes rows/key
    val flagged = exploded
      .withColumn("mb", max(col("s")).over(w))
      .withColumn("ma", max(when(col("node") < (nNodes - 1).toLong,
        col("s"))).over(w))
      .select(col("node"),
        when(col("s") === col("mb"), 1L).otherwise(0L).as("isb"),
        when(col("node") < (nNodes - 1).toLong &&
          col("s") === col("ma"), 1L).otherwise(0L).as("isa"),
        when(pmod(col("__h"), lit(nNodes.toLong)) === col("node"), 1L)
          .otherwise(0L).as("modb"),
        when(pmod(col("__h"), lit(nNodes.toLong)) === col("node") &&
          pmod(col("__h"), lit((nNodes - 1).toLong)) === col("node"), 1L)
          .otherwise(0L).as("mods"))
    flagged.groupBy(col("node"))
      .agg(sum(col("isb")).as("n_before"), sum(col("isa")).as("n_after"),
        sum(col("modb")).as("mod_before"), sum(col("mods")).as("mod_stay"))
      .withColumn("moved_in", col("n_after") - col("n_before"))
      .select(col("node"), col("n_before"), col("n_after"),
        col("moved_in"), col("mod_before"), col("mod_stay"))
      .orderBy(col("node"))
  }

  /** Join-strategy advisor: one catalog-stats row per table —
    * (table_name, n_rows, est_bytes, strategy) with a DETERMINISTIC
    * in-memory size estimate (exact data bytes, not sampled: string
    * columns by octet length, fixed-width columns by their physical
    * width, float-array columns by 4*len + a length word) and the
    * strategy a planner should pin for a join probing that table:
    * `broadcast` up to `broadcastBytes` (Spark's
    * autoBroadcastJoinThreshold default, 10 MiB), `shuffle_hash` while
    * one partition's build side still fits executor memory
    * (`hashBytes`), else `sort_merge`. This is the pre-flight that
    * turns the engine's own join-hint conventions (the j1 broadcast
    * invariant, the pinned shuffle_hash family) into data-driven
    * configuration instead of folklore — at 100 TB the difference
    * between a broadcast and an accidental 600 TB shuffle.
    *
    * 100 TB shape: one narrow partial-agged scan per table (count +
    * byte sum); the per-table scans project to a uniform (table_name,
    * row_bytes) shape and UNION before a single groupBy(table_name), so
    * the whole advisor carries ONE exchange instead of one 1-row
    * aggregate exchange per table (round 10: the 9-table x261 plan ran
    * 19 AQE stage jobs of pure latency; union-then-aggregate runs ~4).
    * A names spine left-join keeps the former semantics for EMPTY
    * tables (a zero row, not a missing one); output stays table-count
    * bounded. */
  def broadcastAdvisor(tables: Seq[(String, DataFrame)],
      broadcastBytes: Long = 10L * 1024 * 1024,
      hashBytes: Long = 300L * 1024 * 1024): DataFrame = {
    require(tables.nonEmpty && broadcastBytes < hashBytes,
      "need tables and broadcast < hash threshold")
    import org.apache.spark.sql.types._
    def width(f: StructField): Column = f.dataType match {
      case StringType => coalesce(octet_length(col(f.name)), lit(0L))
        .cast("long")
      case LongType | DoubleType | TimestampType | TimestampNTZType =>
        lit(8L)
      case IntegerType | FloatType | DateType => lit(4L)
      case BooleanType => lit(1L)
      case ArrayType(FloatType, _) =>
        (coalesce(size(col(f.name)), lit(0)) * 4 + 4).cast("long")
      case ArrayType(DoubleType, _) | ArrayType(LongType, _) =>
        (coalesce(size(col(f.name)), lit(0)) * 8 + 4).cast("long")
      case _ => coalesce(octet_length(col(f.name).cast("string")),
        lit(0L)).cast("long")
    }
    val spark = tables.head._2.sparkSession
    val tagged = tables.map { case (name, df) =>
      val rowBytes = df.schema.fields.map(width).reduce(_ + _)
      df.select(lit(name).as("table_name"), rowBytes.as("__row_bytes"))
    }.reduce(_ unionByName _)
    val agged = tagged.groupBy(col("table_name"))
      .agg(count(lit(1)).as("__n"), sum(col("__row_bytes")).as("__b"))
    import scala.jdk.CollectionConverters._
    val spine = spark.createDataFrame(
      tables.map(t => org.apache.spark.sql.Row(t._1)).asJava,
      StructType(Seq(StructField("table_name", StringType, nullable = false))))
    spine.join(broadcast(agged), Seq("table_name"), "left")
      .select(col("table_name"),
        coalesce(col("__n"), lit(0L)).as("n_rows"),
        coalesce(col("__b"), lit(0L)).as("est_bytes"))
      .withColumn("strategy",
        when(col("est_bytes") <= broadcastBytes, lit("broadcast"))
          .when(col("est_bytes") <= hashBytes, lit("shuffle_hash"))
          .otherwise(lit("sort_merge")))
      .orderBy(col("table_name"))
  }
}

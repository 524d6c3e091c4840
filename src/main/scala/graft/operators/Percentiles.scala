package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Percentile estimation at three price points:
  *
  *  - [[exact]] — Spark's `percentile()` aggregate: buffers EVERY value in
  *    the aggregation buffer. Correct and oracle-friendly, but
  *    memory-unbounded — fine for a column that fits one executor's heap,
  *    a scale-killer at 100 TB. Use as the correctness baseline only.
  *  - [[approx]] — `approx_percentile` (Greenwald-Khanna sketch): one pass,
  *    fixed-size state, mergeable across partitions. The default at scale
  *    when a bounded rank error (1/accuracy) is acceptable.
  *  - [[exactSorted]] — exact order statistics the distributed way: one
  *    count, one range-partitioned sort with per-partition offsets
  *    ([[graft.plans.RowNum.assign]]-style), then a filter for the bracket
  *    rows and linear interpolation (matching `percentile()`/DuckDB
  *    `quantile_cont` semantics). Two passes over the column, bounded
  *    memory everywhere — the exact answer at any scale.
  */
object Percentiles {

  def exact(df: DataFrame, valueCol: String, ps: Seq[Double]): DataFrame = {
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      expr(s"percentile($valueCol, $p)").as(s"p$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  def approx(df: DataFrame, valueCol: String, ps: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      expr(s"approx_percentile($valueCol, $p, $accuracy)").as(s"p$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Exact continuous percentiles via distributed order statistics.
    * Returns one row with the given column names (doubles), like [[exact]].
    * The interpolation replicates Spark's `Percentile` aggregate bit for
    * bit (0-based pos = p*(n-1); lower + (higher-lower)*(pos-floor(pos))),
    * which DuckDB's `quantile_cont` also matches — so this is
    * oracle-compatible with both. */
  def exactSorted(df: DataFrame, valueCol: String, ps: Seq[Double],
      names: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val colNames = if (names.nonEmpty) names else ps.indices.map(i => s"p$i")
    require(colNames.length == ps.length, "one output name per percentile")
    val vals = df.select(col(valueCol).cast("double").as("v")).filter(col("v").isNotNull)
    val n = vals.count()
    require(n > 0, s"exactSorted needs at least one non-null $valueCol")
    // Spark Percentile.getPercentile arithmetic, 0-based
    val brackets = ps.map { p =>
      val pos = p * (n - 1)
      val lo = math.floor(pos).toLong
      val hi = math.ceil(pos).toLong
      (lo + 1, hi + 1, pos - lo) // 1-based ranks for RowNum
    }
    val needed = brackets.flatMap { case (lo, hi, _) => Seq(lo, hi) }.distinct
    // the numbered frame is fully consumed by this collect, so its
    // numbering persist is dropped as soon as the collect returns
    val picked = graft.plans.Persists.scope {
      graft.plans.RowNum.assign(vals.orderBy(col("v")))
        .filter(col(graft.plans.Events.RowNumCol).isin(needed: _*))
        .select(col(graft.plans.Events.RowNumCol).as("rk"), col("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val out = brackets.map { case (lo, hi, w) =>
      // Spark's Percentile.getPercentile weighted form (also DuckDB's):
      // lower*(higher-pos) + higher*(pos-lower); the algebraically equal
      // lo + (hi-lo)*w differs by an ulp on real data
      if (lo == hi) picked(lo)
      else picked(lo) * (1.0 - w) + picked(hi) * w
    }
    spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(out)),
      org.apache.spark.sql.types.StructType(colNames.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DoubleType))))
  }

  /** Exact continuous percentiles PER GROUP, bounded memory — the grouped
    * twin of [[exactSorted]] (the scale path where [[exact]]'s
    * `percentile()` would buffer every group value in one aggregation
    * buffer).
    *
    * Shape: (1) per-group counts — a map-side-combined groupBy producing
    * #groups rows, broadcast-joined back; (2) ONE shuffle+sort on
    * (group, value) for a keyed `row_number` window (never a global sort);
    * (3) each percentile's bracket rows contribute `v*(1-frac)` /
    * `v*frac` terms summed per group (at most two non-null terms per
    * percentile, so the double sum is order-independent). The
    * interpolation replicates Spark's `Percentile` aggregate / DuckDB's
    * `quantile_cont` bit for bit: `lower*(1-frac) + higher*frac` with
    * 0-based `pos = p*(n-1)`.
    *
    * A pathologically hot group is one window task, but it streams from
    * the spillable window buffer rather than an in-heap aggregation
    * buffer — disk-bounded, not heap-bounded. */
  def groupedSorted(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], names: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val colNames = if (names.nonEmpty) names else ps.indices.map(i => s"p$i")
    require(colNames.length == ps.length, "one output name per percentile")
    val vals = df.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val counts = vals.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val ranked = vals
      .join(broadcast(counts), Seq("g"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v"))))
    val aggs = ps.zip(colNames).map { case (p, name) =>
      // 0-based pos within the group's sorted values (Percentile semantics)
      val pos = lit(p) * (col("n") - lit(1)).cast("double")
      val lo = floor(pos).cast("long") + lit(1L)
      val hi = ceil(pos).cast("long") + lit(1L)
      val frac = pos - floor(pos)
      val term = when(col("rk") === lo && col("rk") === hi, col("v"))
        .when(col("rk") === lo, col("v") * (lit(1.0) - frac))
        .when(col("rk") === hi, col("v") * frac)
      sum(term).as(name)
    }
    ranked.groupBy(col("g").as(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Winsorize (percentile clipping), the numeric-cleaning staple: clamp
    * `valueCol` into its own [pLo, pHi] percentile band. Cutoffs come
    * from [[exact]] (percentile_cont semantics both engines replicate bit
    * for bit) as a broadcast 1-row frame; the clip itself is a narrow
    * projection. Adds `<valueCol>__w` (clamped) plus the cutoffs as
    * `__w_lo`/`__w_hi`; callers aggregate or drop as needed. Nulls stay
    * null (they were never in the distribution).
    */
  def winsorize(df: DataFrame, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val cuts = exact(df, valueCol, Seq(pLo, pHi))
      .select(col("p0").as("__w_lo"), col("p1").as("__w_hi"))
    df.crossJoin(org.apache.spark.sql.functions.broadcast(cuts))
      .withColumn(s"${valueCol}__w",
        when(col(valueCol).isNull, lit(null))
          .otherwise(least(greatest(col(valueCol), col("__w_lo")),
            col("__w_hi"))))
  }

  /** Per-group MAD outliers — the robust sibling of [[winsorize]] (clip)
    * and EventAnalytics.countOutliers (volume z-score): flag rows whose
    * value sits more than k median-absolute-deviations from the group
    * median. Mean/stddev outlier tests are circular — a heavy outlier
    * inflates the stddev that is supposed to expose it; the median and
    * MAD have 50% breakdown, the standard robust detector for telemetry
    * values and quality scores.
    *
    * Two grouped exact-percentile aggregates (median of v, then median of
    * |v - med|) and two broadcast joins of the #groups-row cut frames; the
    * corpus is scanned twice and never self-joined. `percentile()`
    * buffers each group's values — the QA-scale trade; at true corpus
    * scale swap the median calls for [[groupedSorted]] (bounded-memory
    * order statistics, proven value-identical in the x13/x16 gates). All
    * post-median arithmetic is the same IEEE expression on both engines
    * (abs, one multiply, one compare) — no ulp ambiguity. Output: the
    * flagged rows as (group, id, value, med, mad). */
  def madOutliers(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(k > 0, "k must be > 0")
    val v = df.select(col(groupCol), col(idCol),
      col(valueCol).cast("double").as("v")).filter(col("v").isNotNull)
    val med = v.groupBy(col(groupCol))
      .agg(expr("percentile(v, 0.5)").as("med"))
    val dev = v.join(broadcast(med), Seq(groupCol))
      .withColumn("ad", abs(col("v") - col("med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(ad, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .filter(col("ad") > lit(k) * col("mad"))
      .select(col(groupCol), col(idCol), col("v").as(valueCol),
        col("med"), col("mad"))
  }

  /** Exact WEIGHTED quantiles — "the median document length weighted by
    * token count" answers 'half the TOKENS live in docs shorter than X',
    * where the unweighted median answers the (much less useful) per-doc
    * question; the same shape prices storage by bytes, traffic by cost,
    * sources by token budget. Inverse-CDF convention, integer-exact: the
    * p-percent quantile is the smallest value v whose cumulative weight
    * (own row included) satisfies 100*cumw >= p*W — no interpolation, no
    * float thresholds, so the answer is a value FROM THE DATA and
    * reproduces on any engine (ties in v are safe: whether a tie GROUP
    * crosses the threshold depends only on its order-independent end
    * cumulative weight).
    *
    * 100 TB shape: one range-partitioned sort by value + per-partition
    * weight offsets (the packSequences/RowNum.assign pattern — a
    * bounded-size offset array on the driver, never a one-task window),
    * then ONE filtered-min aggregate evaluates every requested percent in
    * the same pass. Weights must be non-negative integers (cast to long).
    * Output: one row, a `p<N>` double column per requested percent. */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
      percents: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType, DoubleType}
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "percents must be within [1, 100]")
    val spark = df.sparkSession
    val sorted = df
      .select(col(valueCol).cast("double").as("v"),
        col(weightCol).cast("long").as("w"))
      .filter(col("v").isNotNull && col("w") > 0L)
      .orderBy(col("v").asc)
    val rdd0 = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    graft.plans.Persists.onScopeEnd(() => rdd0.unpersist(blocking = false))
    val sums = rdd0.mapPartitionsWithIndex((pid, it) =>
      Iterator(pid -> it.foldLeft(0L)((acc, r) => acc + r.getLong(1))))
      .collect().toMap
    val maxPid = if (sums.isEmpty) -1 else sums.keys.max
    val offsets = (0 to maxPid).scanLeft(0L)((acc, pid) =>
      acc + sums.getOrElse(pid, 0L))
    val total = offsets.last
    require(total > 0L, "weightedQuantiles needs positive total weight")
    val bc = spark.sparkContext.broadcast(offsets.toArray)
    val cum = spark.createDataFrame(
      rdd0.mapPartitionsWithIndex { case (pid, it) =>
        var off = if (pid < bc.value.length) bc.value(pid) else 0L
        it.map { r => off += r.getLong(1); Row(r.getDouble(0), off) }
      },
      StructType(Seq(StructField("v", DoubleType, nullable = false),
        StructField("cw", LongType, nullable = false))))
    val aggs = percents.map { p =>
      min(when(col("cw") * 100L >= lit(p.toLong) * total, col("v")))
        .as(s"p$p")
    }
    cum.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-key exact weighted quantiles — [[weightedQuantiles]] for every
    * group at once (token-weighted length bands per source, cost bands
    * per tenant). Same integer-exact inverse-CDF rule; the cumulative
    * weight comes from a KEYED window (shuffle by key, sort within the
    * key's frame — never a global sort), totals from one partial-agged
    * groupBy, and one grouped filtered-min agg evaluates every percent.
    * Tie groups are safe for the same end-weight-invariance reason.
    * Output: (key, p<N>... doubles). */
  def weightedQuantilesByKey(df: DataFrame, keyCol: String, valueCol: String,
      weightCol: String, percents: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "percents must be within [1, 100]")
    val v = df.select(col(keyCol), col(valueCol).cast("double").as("v"),
        col(weightCol).cast("long").as("w"))
      .filter(col("v").isNotNull && col("w") > 0L)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = v.withColumn("cw", sum(col("w")).over(w))
    val tot = v.groupBy(col(keyCol)).agg(sum(col("w")).as("tw"))
    val aggs = percents.map { p =>
      min(when(col("cw") * 100L >= lit(p.toLong) * col("tw"), col("v")))
        .as(s"p$p")
    }
    cum.join(tot.hint("shuffle_hash"), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Quantile normalization of per-group scores onto the POOLED score
    * distribution — the calibration move when heterogeneous scorers (one
    * quality model per source/language) must be thresholded together: a
    * document at its source's p-th percentile maps to the pooled
    * distribution's p-th percentile value, so one global cutoff means the
    * same thing for every source. Rank-based (no distributional
    * assumption), the standard cross-batch normalization from
    * bioinformatics applied to curation scores.
    *
    * 100 TB shape: the per-group rank is a KEYED window; the pooled order
    * statistics come from a range-partitioned sort + per-partition
    * offsets ([[graft.plans.RowNum.assign]] — never a one-task global
    * window); the percentile lookup is two equi shuffle joins on the
    * pooled rank (bracket rows lo/hi), with the #groups-row size frame
    * broadcast. Interpolation replicates the percentile()/quantile_cont
    * arithmetic (0-based pos = p*(N-1)) with identical expression order
    * on both engines; `norm` is rounded to 6. Output: (group, id, score,
    * norm). */
  def quantileNormalize(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    import graft.plans.{Events, RowNum}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.broadcast
    val v = df.select(col(groupCol), col(idCol),
      col(scoreCol).cast("double").as("v")).filter(col("v").isNotNull)
    val pooled = RowNum.assign(
      v.select(col("v").as("pv"), col(groupCol).as("pg"), col(idCol).as("pid"))
        .orderBy(col("pv").asc, col("pg").asc, col("pid").asc))
      .withColumnRenamed(Events.RowNumCol, "rk")
      .select(col("rk"), col("pv"))
    val nTotal = v.count()
    require(nTotal > 0, "quantileNormalize needs at least one non-null score")
    val wSrc = Window.partitionBy(col(groupCol))
      .orderBy(col("v").asc, col(idCol).asc)
    val sizes = v.groupBy(col(groupCol)).agg(count(lit(1)).as("ns"))
    val pr = when(col("ns") === 1L, lit(0.0))
      .otherwise((col("rn") - 1L).cast("double") / (col("ns") - 1L).cast("double"))
    val withPos = v
      .withColumn("rn", row_number().over(wSrc).cast("long"))
      .join(broadcast(sizes), Seq(groupCol))
      .withColumn("pos", pr * lit((nTotal - 1).toDouble))
      .withColumn("lo", (floor(col("pos")) + 1).cast("long"))
      .withColumn("hi", (ceil(col("pos")) + 1).cast("long"))
      .withColumn("frac", col("pos") - floor(col("pos")))
    withPos
      .join(pooled.toDF("lo", "v_lo").hint("shuffle_hash"), Seq("lo"))
      .join(pooled.toDF("hi", "v_hi").hint("shuffle_hash"), Seq("hi"))
      .select(col(groupCol), col(idCol), col("v").as(scoreCol),
        round(col("v_lo") + (col("v_hi") - col("v_lo")) * col("frac"), 6)
          .as("norm"))
  }
}

package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Stable 1-based row numbers (reference: records.py:63-92 — assigned on
  * construction, monotonically increasing, preserved across phases; diff
  * joins on them, table_diff.py:40).
  *
  * Implementation notes for scale:
  *  - Ingest numbering is `zipWithIndex` (one narrow extra pass, no
  *    shuffle, deterministic for a fixed source layout).
  *  - Appended rows get `max(existing) + rank` — the max() is one cheap
  *    action over a long column.
  *  - `renumber` re-sorts by the old numbers; it is the only globally
  *    ordered operation and phases using it are marked non-diffable
  *    (reference phase.py:330-331).
  */
object RowNum {
  import Events.RowNumCol

  /** Assign 1..n in current row order. Numbering is inherently two passes
    * (per-partition offsets need every partition's count before any row can
    * be numbered). For narrow-deterministic inputs (round 10) the count
    * pass runs column-pruned and NOTHING is persisted — see
    * [[assignWithTotal]]. Otherwise the input is persisted around the
    * passes: the count pass executes the upstream ONCE and materializes it;
    * the numbering pass reads the stored partitions instead of recomputing.
    * The blocks are released when the caller's owner scope exits
    * ([[Persists.scope]]) — the phase, pipeline run or query that consumes
    * the numbered frame — not when the ContextCleaner GCs the lineage
    * (which leaked blocks across a 50-query bench session, billing one
    * query's storage to the next).
    *
    * Both passes stay in COLUMNAR Dataset land (round-5 change): the
    * original implementation dropped to `df.rdd`, which converts every
    * InternalRow to a boxed external Row and then Java-serializes those
    * objects into the persist — 3.6 of p1's 3.7 s at sf0.1 was that
    * round-trip alone. Now the frame is Dataset-persisted (compressed
    * columnar), the count pass is a raw RDD action over
    * `queryExecution.toRdd` (no Row boxing), and the numbering pass is a
    * pure PROJECTION: `monotonically_increasing_id()` is (partitionId << 33)
    * + per-partition counter by contract, so decoding (pid, local index)
    * and adding the broadcast per-partition offset yields exactly the old
    * zipWithIndex numbering — same partition layout, same in-partition
    * order, now codegen'd. Count and numbering run on the SAME cached
    * frame — a separately-built (e.g. column-pruned) plan could partition
    * rows differently, which would scramble the offsets. */
  def assign(df: DataFrame): DataFrame = assignWithTotal(df)._1

  /** A plan whose recomputation is row-for-row stable: a WHITELISTED
    * narrow chain (scan / project / filter / generate / union / range /
    * local relation) with no nondeterministic expression. For such plans
    * the two numbering passes may run on two separately-planned trees —
    * file splits are a pure function of the files and session confs, not
    * of the read schema, so a column-pruned count pass sees the identical
    * partition layout — and the persist is pure waste.
    *
    * Classified on the LOGICAL plan by an explicit whitelist, NOT by
    * looking for exchanges in a physical plan: `sparkPlan` only carries
    * exchanges the user asked for (repartition) — the ones
    * EnsureRequirements inserts for a global sort / aggregate / join are
    * added during execution preparation, inside AdaptiveSparkPlanExec
    * when AQE is on, and are invisible to both `sparkPlan` and an
    * `exists` over `executedPlan` (the round-10 r4 incident: a global
    * sort over a multi-split scan was misclassified as narrow and the
    * count pass counted UNSORTED scan partitions; sf0.01's single-split
    * file hid it, the sf0.1 oracle caught it). Anything outside the
    * whitelist — Sort, Aggregate, Join, Window, Repartition, anything
    * new — takes the persist path by default. */
  private def narrowDeterministic(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = df.queryExecution.analyzed
    val allNarrow = plan.collectFirst {
      case p if !(p.isInstanceOf[Project] || p.isInstanceOf[Filter] ||
        p.isInstanceOf[Generate] || p.isInstanceOf[SubqueryAlias] ||
        p.isInstanceOf[Union] || p.isInstanceOf[Range] ||
        p.isInstanceOf[LocalRelation] ||
        p.isInstanceOf[LogicalRelation]) => p
    }.isEmpty
    allNarrow &&
      plan.find(p => p.expressions.exists(e => !e.deterministic)).isEmpty
  }

  /** [[assign]] plus the TOTAL row count, for free: the numbering pass
    * already counts every partition, so a caller that needs n (e.g. a
    * decile boundary) must not pay a second full-scan count action
    * (round 10: gainsTable's separate count re-evaluated its scored
    * input once per run). */
  def assignWithTotal(df: DataFrame): (DataFrame, Long) = {
    val withoutOld = df.drop(RowNumCol)
    // Narrow-deterministic fast path (round 10): the count pass runs on
    // the COLUMN-PRUNED plan — `select()` collapses a parquet scan to a
    // zero-column metadata read, so an expensive projection above it
    // (p1's string casts: 2.9 s of the query's 3.1 s at sf0.1) is never
    // eagerly evaluated — and nothing is persisted: recomputation is
    // row-stable by construction, every downstream action sees the same
    // numbers, and at 100 TB the numbering no longer writes a corpus-sized
    // cache nobody asked for. Plans with a shuffle (or nondeterminism)
    // keep the persist-both-passes shape: their within-partition order is
    // only stable across actions if both passes read ONE materialization.
    // probe a FRESH wrapper (select(*) allocates a new QueryExecution):
    // forcing withoutOld's own queryExecution here would freeze its
    // physical plan BEFORE the persist below registers with the
    // CacheManager, and the count pass would silently bypass the cache
    if (narrowDeterministic(withoutOld.select(col("*")))) {
      val counts = withoutOld.select().queryExecution.toRdd
        .mapPartitionsWithIndex((pid, it) =>
          Iterator(pid -> it.foldLeft(0L)((n, _) => n + 1)))
        .collect().toMap
      (numberByOffsets(withoutOld, counts), counts.values.sum)
    } else {
      val cached = withoutOld.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Persists.onScopeEnd(() => cached.unpersist(blocking = false))
      val counts = cached.queryExecution.toRdd
        // fold into a Long: Iterator.size returns Int and a >2^31-row
        // partition would overflow negative, scrambling every later offset
        .mapPartitionsWithIndex((pid, it) =>
          Iterator(pid -> it.foldLeft(0L)((n, _) => n + 1)))
        .collect().toMap
      (numberByOffsets(cached, counts), counts.values.sum)
    }
  }

  private def numberByOffsets(frame: DataFrame,
      counts: Map[Int, Long]): DataFrame = {
    val maxPid = if (counts.isEmpty) -1 else counts.keys.max
    val offsets = (0 to maxPid).scanLeft(0L)((acc, pid) => acc + counts.getOrElse(pid, 0L))
    // mid = (pid << 33) + localIdx; row_num = offsets(pid) + localIdx + 1.
    // offsets inline as an array literal — one narrow codegen'd projection.
    val mid = monotonically_increasing_id()
    val rowNum = element_at(lit(offsets.toArray),
        (shiftright(mid, 33) + 1).cast("int")) +
      mid.bitwiseAND(lit((1L << 33) - 1)) + 1L
    frame.withColumn(RowNumCol, rowNum)
  }

  def ensure(df: DataFrame): DataFrame =
    if (df.columns.contains(RowNumCol)) df else assign(df)

  /** Number rows of `appended` after the current max of `existing`
    * (reference phase.py:120-124: new rows numbered after current max). */
  def appendNumbered(existing: DataFrame, appended: DataFrame): DataFrame = {
    val maxNum = existing.agg(max(col(RowNumCol))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val numbered = assign(appended)
      .withColumn(RowNumCol, col(RowNumCol) + lit(maxNum))
    existing.unionByName(numbered)
  }

  /** Re-assign 1..n in the order of the current numbers (renumber=True
    * phases, records.py:79-81). Globally ordered by construction. */
  def renumber(df: DataFrame): DataFrame =
    assign(df.orderBy(col(RowNumCol)))
}

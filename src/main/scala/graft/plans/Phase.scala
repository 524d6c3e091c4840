package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ColumnDef

/** A Phase = header canonicalization + declared-column cast/validate +
  * ordered steps + prepare-for-save (reference: phaser/phase.py:146-235).
  *
  * The whole phase composes lazily into ONE Catalyst plan; materialization
  * happens only at the pipeline's checkpoint boundary — the reference's
  * step-by-step full materialization (phase.py:88-128) is replaced by plan
  * composition, which is the main scale win.
  *
  * apply() returns the frame WITH internal columns (row numbers, event
  * channel and status bits); [[Pipeline]] handles policy application,
  * checkpointing, and stripping internals.
  */
final case class Phase(
    name: String,
    columns: Seq[ColumnDef] = Nil,
    steps: Seq[Step] = Nil,
    renumber: Boolean = false,
    extraSources: Seq[String] = Nil,
    extraOutputs: Seq[String] = Nil,
    /** Phase-level default error policy; None inherits the pipeline's
      * (reference: Phase error_policy attr, e.g. families.py; pipeline
      * default COLLECT). Per-column onErrorOpt still overrides. */
    errorPolicy: Option[ErrorPolicy] = None) {

  // Declared-rename conflicts are definition errors (phase.py:222-228).
  val renameList: Map[String, String] = {
    val pairs = for (c <- columns; alt <- c.rename) yield alt -> c.name
    pairs.groupBy(_._1).foreach { case (alt, targets) =>
      if (targets.map(_._2).distinct.size > 1)
        throw GraftError(
          s"Column cannot be renamed from $alt to ${targets.map(_._2).distinct.mkString(" and ")}, " +
            "please fix column declarations")
    }
    pairs.toMap
  }

  def diffable: Boolean = !renumber && !steps.exists(_.renumbers)

  /** Run the phase on a frame. */
  def apply(df0: DataFrame, ctx: Context): DataFrame = {
    val df = Events.withEventsCol(RowNum.ensure(df0))
    val renamed = renameColumns(df, ctx)
    val defaultPolicy = errorPolicy.getOrElse(ctx.errorPolicy)
    checkRequired(renamed, ctx, defaultPolicy)
    // rows dropped by per-column DropRow policies are removed BEFORE steps
    // run (reference: DropRowException removes the row inside the column
    // pass, phase.py:101-105, so check_unique/batch steps never see it);
    // their events are tracked lazily and drained at the phase boundary
    val (casted, dropped) = castColumns(renamed, defaultPolicy)
    dropped.foreach(ctx.registerDroppedEvents(name, _))
    val stepped = steps.foldLeft(casted)((d, s) => s(d, ctx, name))
    val renumbered = if (renumber) RowNum.renumber(stepped) else stepped
    prepareForSave(renumbered, ctx)
  }

  /** H1 — canonicalize headers: strip spaces/quotes, strict-name match to
    * declared names, then declared renames (phase.py:264-300). Pure driver
    * logic over df.columns + one projection. */
  private[plans] def renameColumns(df: DataFrame, ctx: Context): DataFrame = {
    val strictToDeclared = columns.map(c => c.strictName -> c.name).toMap
    val userCols = df.columns.filterNot(Events.internalCols.contains)

    // two headers collapsing onto one declared strict name is a coding error
    val canonicalized = userCols.map(ColumnDef.makeStrictName)
    strictToDeclared.keys.foreach { strict =>
      if (canonicalized.count(_ == strict) > 1)
        throw GraftError(s"Cannot reliably rename columns - $strict appears with different variations")
    }

    def renameMe(name0: String): String = {
      var n = name0.trim
      if (n.length >= 2 && n.startsWith("\"") && n.endsWith("\""))
        n = n.substring(1, n.length - 1)
      n = strictToDeclared.getOrElse(ColumnDef.makeStrictName(n), n)
      renameList.getOrElse(n, n)
    }

    val mapping = df.columns.map(c =>
      if (Events.internalCols.contains(c)) c -> c else c -> renameMe(c))
    // two distinct input headers landing on one final name (e.g. both the
    // declared name and its rename alias present) would produce a
    // duplicate-column frame and ambiguous references downstream — a
    // definition/data error, same class as the strict-name collision above
    val collisions = mapping.map(_._2).filterNot(Events.internalCols.contains)
      .groupBy(identity).filter(_._2.length > 1).keys
    if (collisions.nonEmpty)
      throw GraftError(
        s"Multiple source columns map to ${collisions.mkString(", ")} after renames")
    if (mapping.forall { case (a, b) => a == b }) df
    else df.withColumnsRenamed(mapping.toMap)
  }

  /** H2 — required declared columns must exist in the headers; the error
    * is routed through the column's effective policy (column.py:107-112
    * raises via use_exception): on_error=warn records a warning and the
    * phase continues (the column is synthesized as nulls by the cast pass);
    * any other policy is a hard failure. */
  private def checkRequired(df: DataFrame, ctx: Context,
      defaultPolicy: ErrorPolicy): Unit =
    columns.filter(_.required).foreach { c =>
      if (!df.columns.contains(c.name)) {
        val msg =
          s"Header ${c.name} not found in ${df.columns.filterNot(Events.internalCols.contains).mkString("[", ", ", "]")}"
        c.onErrorOpt.getOrElse(defaultPolicy) match {
          case ErrorPolicy.Warn => ctx.addWarning(name, "check_required", msg)
          case _ => throw DataException(msg)
        }
      }
    }

  /** The implicit first row-step: cast + validate every declared column in
    * declared order (cast_each_column_value, phase.py:241-261). Casting is
    * only applied when the column is required, saved, or present
    * (phase.py:251-252). Guarded so a row failed by an earlier column is
    * not modified by later ones (first-error-wins, as in the reference
    * where the row step aborts on first raise).
    *
    * Compiled as two projections, linear in the number of checks. The
    * lower one computes `fail_at`, the 1-based index of the first declared
    * column whose non-Warn checks fire: -1 when the row arrived dropped, 0
    * when it arrived failed, n+1 when nothing fires. It is one CASE chain
    * that references each failing check once. The upper one guards on it:
    * column k keeps its old value when `fail_at < k` and emits its events
    * when `fail_at >= k`; the events column becomes
    * `concat(events, term_1, ..., term_m)` (one conditional singleton per
    * check) and the status bits follow from `fail_at` and the failing
    * column's policy. Guarding on the accumulated events instead repeats
    * every earlier column's checks in each later column's guard, and
    * Catalyst's project-collapse and predicate pushdown copy that tree
    * into every consumer until codegen gives up.
    *
    * When a column can fire DropRow (or a row arrived dropped) the rows
    * with `fail_at` in {-1, DropRow columns} are filtered out here, and the
    * second result is the lazy frame of their DROPPED_ROW events, built
    * from the lower projection and the DropRow columns' terms only. */
  private[plans] def castColumns(df: DataFrame,
      defaultPolicy: ErrorPolicy = ErrorPolicy.Collect): (DataFrame, Option[DataFrame]) = {
    val applicable = columns.flatMap { cdef =>
      val present = df.columns.contains(cdef.name)
      if (!(cdef.required || cdef.save || present)) None
      else {
        val raw = if (present) df(cdef.name) else lit(null).cast("string")
        // failed rows keep the SAFE cast of their old value (try-cast
        // semantics: null when unparsable) — a bare df(name) here would be
        // implicitly ANSI-cast to the declared type when the branches
        // coerce, and an unparsable value on an already-failed row then
        // CRASHES the task instead of staying an event
        val oldVal = if (present) cdef.colType.cast(df(cdef.name))
                     else lit(null).cast(cdef.colType.sparkType)
        Some((cdef, oldVal,
          cdef.compileChecks(raw, s"cast_and_check:${cdef.name}", defaultPolicy)))
      }
    }.zipWithIndex.map { case ((cdef, oldVal, cc), i) => (i + 1, cdef, oldVal, cc) }
    // a row that arrives dropped must leave the phase here as well
    val canDrop = columns.exists(c =>
      c.onErrorOpt.getOrElse(defaultPolicy) == ErrorPolicy.DropRow)
    if (applicable.isEmpty && !canDrop) return (df, None)

    val FailAtCol = "__graft_fail_at__"
    val status = df(Events.StatusCol)
    val failAt = applicable
      .foldLeft(when(Events.hasBit(status, Events.DroppedBit), lit(-1))
        .when(Events.hasBit(status, Events.FailedBit), lit(0))) {
        // `fails` is false for Warn columns, and the optimizer prunes it
        case (chain, (k, _, _, cc)) => chain.when(cc.fails, lit(k))
      }
      .otherwise(lit(applicable.size + 1))
    val lower = df.withColumn(FailAtCol, failAt)
    val fa = lower(FailAtCol)
    def termsOf(k: Int, cdef: ColumnDef, cc: ColumnDef.Compiled) =
      cc.checks.map { case (cond, msg) =>
        Events.appendTerm(fa >= k && coalesce(cond, lit(false)),
          cc.etype, s"cast_and_check:${cdef.name}", msg, cc.policy)
      }
    val e0 = lower(Events.EventsCol)
    val terms = applicable.flatMap { case (k, cdef, _, cc) => termsOf(k, cdef, cc) }
    val dropAt = applicable.collect {
      case (k, _, _, cc) if cc.policy == ErrorPolicy.DropRow => k
    }
    val newStatus = when(fa.isin(dropAt: _*), lit(Events.FailedBit | Events.DroppedBit))
      .when(fa > 0 && fa <= applicable.size, lit(Events.FailedBit))
      .otherwise(status)
    val values = applicable.map { case (k, cdef, oldVal, cc) =>
      cdef.name -> when(fa < k, oldVal).otherwise(cc.value)
    }.toMap
    // the status replaces its own column in place, so the Map's order
    // (which places undeclared-but-saved new columns) stays as it was
    val casted = lower.withColumns(values +
      (Events.EventsCol -> (if (terms.isEmpty) e0 else concat((e0 +: terms): _*))))
      .withColumn(Events.StatusCol, newStatus)
    if (!canDrop) (casted.drop(FailAtCol), None)
    else {
      val droppedAt = fa.isin((-1 +: dropAt): _*)
      val droppedEvents = applicable.flatMap {
        case (k, cdef, _, cc) if cc.policy == ErrorPolicy.DropRow => termsOf(k, cdef, cc)
        case _ => Nil
      }
      // an arrived-dropped row brings its DROPPED_ROW events in `e0`, and
      // the terms are gated off for it; any other dropped row arrived clean
      val events = lower.filter(droppedAt)
        .select(col(Events.RowNumCol).as("row_num"),
          explode(concat((e0 +: droppedEvents): _*)).as("e"))
        .filter(col("e.etype") === Events.DroppedType)
        .select(col("row_num"), col("e.etype").as("etype"),
          col("e.step").as("step"), col("e.message").as("message"))
      (casted.filter(!droppedAt).drop(FailAtCol), Some(events))
    }
  }

  /** H3/H4 — consistency warning for undeclared new fields + drop
    * save=false columns (phase.py:302-327). Column-set comparison is pure
    * driver logic. */
  private def prepareForSave(df: DataFrame, ctx: Context): DataFrame = {
    // (new-field warnings are emitted by Pipeline, which knows the input
    // headers; here we only drop unsaved columns)
    val toDrop = columns.filter(!_.save).map(_.name)
    if (toDrop.isEmpty) df else df.drop(toDrop: _*)
  }
}

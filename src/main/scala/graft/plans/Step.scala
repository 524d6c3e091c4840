package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The step algebra (reference executors E1-E4, phase.py:84-140 +
  * steps.py). A phaser step is a row/batch/context function; here every
  * step compiles to a lazy `DataFrame => DataFrame` so Catalyst fuses the
  * whole phase into one plan — the reference's per-step full
  * materialization (phase.py:88-128) is deliberately NOT reproduced.
  *
  * Error-skip discipline (X4): row-scoped steps must leave failed rows
  * unchanged. Declarative row steps get that automatically via
  * [[Events.guarded]]; arbitrary batch steps operate on the whole frame
  * (same as the reference, where batch steps see every row). A batch
  * step may append to the event channel directly, so the status bits are
  * re-derived from the array after it.
  */
sealed trait Step {
  def name: String
  def apply(df: DataFrame, ctx: Context, phase: String): DataFrame
  /** True when the step can leave a DROPPED_ROW event in the channel
    * instead of removing the row itself, so the phase output needs the
    * pipeline's safety-net filter. */
  def appendsDropped: Boolean = false
  /** True when the step reassigns row numbers (pivot/explode reshape the
    * row space entirely). A phase containing such a step is non-diffable,
    * like renumber=true phases — diffing against the previous checkpoint
    * would misclassify every reordered row as changed. */
  def renumbers: Boolean = false
}

object Step {

  /** E1 declarative row step: named column assignments, each guarded so
    * failed rows pass through unchanged. */
  final case class WithColumns(name: String, assignments: Seq[(String, Column)])
      extends Step {
    def apply(df: DataFrame, ctx: Context, phase: String): DataFrame =
      assignments.foldLeft(Events.withEventsCol(df)) { case (d, (colName, value)) =>
        val old = if (d.columns.contains(colName)) d(colName) else lit(null)
        d.withColumn(colName, Events.guarded(d, value, old))
      }
  }

  /** E1 row step that can flag rows: emits an event when `cond` holds.
    * With policy DropRow this is phaser's DropRowException path: the row is
    * removed immediately (later steps never see it, reference
    * phase.py:101-105) and its DROPPED_ROW event is tracked lazily in the
    * context, evaluated once at the phase boundary. */
  final case class FlagRows(name: String, cond: Column, message: Column,
      policy: ErrorPolicy, etype: String) extends Step {
    override def appendsDropped: Boolean =
      policy != ErrorPolicy.DropRow && etype == Events.DroppedType
    def apply(df: DataFrame, ctx: Context, phase: String): DataFrame = {
      val d = Events.withEventsCol(df)
      val fires = !Events.rowFailed(d) && coalesce(cond, lit(false))
      policy match {
        case ErrorPolicy.DropRow =>
          ctx.registerDroppedEvents(phase,
            Events.droppedRows(d.filter(fires), name, message.cast("string")))
          d.filter(!fires)
        case _ =>
          val events = Events.append(d(Events.EventsCol), fires, etype, name, message, policy)
          val status = d(Events.StatusCol)
          val bits = Events.bitsOf(etype)
          if (bits == 0) d.withColumn(Events.EventsCol, events)
          else d.withColumns(Map(Events.EventsCol -> events,
            Events.StatusCol -> when(fires, status.bitwiseOR(lit(bits))).otherwise(status)))
      }
    }
  }

  /** E2 batch step: whole-frame transform; may add/drop/reorder rows.
    * check_size=true reproduces the reference's row-count-change warning
    * (phase.py:111-118) — it costs two counts, so it defaults off. */
  final case class Batch(name: String, f: (DataFrame, Context) => DataFrame,
      checkSize: Boolean = false,
      override val renumbers: Boolean = false) extends Step {
    override def appendsDropped: Boolean = true
    def apply(df: DataFrame, ctx: Context, phase: String): DataFrame = {
      val d = Events.withEventsCol(df)
      val out = Events.withStatusFromEvents(f(d, ctx))
      if (checkSize) {
        val before = d.count()
        val after = out.count()
        if (after > before)
          ctx.addWarning(phase, name, s"${after - before} rows were ADDED during step $name")
        else if (after < before)
          ctx.addWarning(phase, name, s"${before - after} rows were dropped during step $name")
      }
      out
    }
  }

  /** Batch step whose function also receives the running phase name (for
    * steps that register lazily-drained events against the phase). */
  final case class PhaseAwareBatch(name: String,
      f: (DataFrame, Context, String) => DataFrame) extends Step {
    override def appendsDropped: Boolean = true
    def apply(df: DataFrame, ctx: Context, phase: String): DataFrame =
      Events.withStatusFromEvents(f(Events.withEventsCol(df), ctx, phase))
  }

  /** E4 context step: side effects only (may run actions to set
    * variables); the frame passes through untouched. */
  final case class ContextStep(name: String, f: (DataFrame, Context) => Unit)
      extends Step {
    def apply(df: DataFrame, ctx: Context, phase: String): DataFrame = {
      f(df, ctx); df
    }
  }

  // -------- convenience constructors --------

  def withColumn(name: String, colName: String, value: Column): Step =
    WithColumns(name, Seq(colName -> value))

  def withColumns(name: String, assignments: (String, Column)*): Step =
    WithColumns(name, assignments)

  /** Drop rows where cond holds, recording DROPPED_ROW events (the
    * DropRowException path; rows are physically removed at phase end). */
  def dropRowsWhen(name: String, cond: Column, message: String): Step =
    FlagRows(name, cond, lit(message), ErrorPolicy.DropRow, Events.DroppedType)

  def warnRowsWhen(name: String, cond: Column, message: String): Step =
    FlagRows(name, cond, lit(message), ErrorPolicy.Warn, Events.WarningType)

  def errorRowsWhen(name: String, cond: Column, message: String,
      policy: ErrorPolicy = ErrorPolicy.Collect): Step =
    FlagRows(name, cond, lit(message), policy, Events.ErrorType)

  def batch(name: String)(f: (DataFrame, Context) => DataFrame): Step =
    Batch(name, f)

  def context(name: String)(f: (DataFrame, Context) => Unit): Step =
    ContextStep(name, f)
}

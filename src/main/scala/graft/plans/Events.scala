package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-row error channel.
  *
  * The reference throws exceptions per row and the phase catches them
  * (/root/reference/phaser/phase.py:84-106); Spark tasks are all-or-nothing,
  * so instead every row carries `__graft_events__`, an
  * `array<struct<etype,step,message,policy>>`. Compiled column checks and
  * steps append to it with `when(...)` guards, the phase routes the events
  * to the context's event log at the phase boundary, and policies are
  * applied there (drop rows, fail phase, ...).
  *
  * Next to the array every row carries `__graft_status__`, an int whose
  * bit 1 means "failed" (an ERROR or DROPPED_ROW event) and bit 2 means
  * "dropped" (a DROPPED_ROW event). Guards and filters test the bits, so
  * no later step rescans the array, and no filter pushed below a step
  * drags the array's whole construction with it. Code that appends to the
  * array directly keeps the bits exact through [[withStatusFromEvents]];
  * [[Step]] does that after every opaque batch step.
  *
  * Everything here is built from codegen'd built-in expressions (`when`,
  * `concat`, `array_append`, `array_contains`, bit tests). Spark evaluates
  * lambda functions such as `exists(events, e -> ...)` interpreted, so
  * none are used. No UDFs in the hot path either.
  */
object Events {
  /** Stable row-number column; 1-based, survives filters, assigned at
    * ingest (reference: PHASER_ROW_NUM, constants.py:2). */
  val RowNumCol = "__graft_row_num__"
  val EventsCol = "__graft_events__"
  /** Per-row status bits, kept in step with [[EventsCol]]: [[FailedBit]]
    * and [[DroppedBit]]. Internal like the channel: reset between phases
    * and never checkpointed. */
  val StatusCol = "__graft_status__"
  val FailedBit = 1
  val DroppedBit = 2

  val ErrorType = "ERROR"
  val WarningType = "WARNING"
  val DroppedType = "DROPPED_ROW"

  val eventStruct: StructType = StructType(Seq(
    StructField("etype", StringType, nullable = false),
    StructField("step", StringType, nullable = false),
    StructField("message", StringType, nullable = true),
    StructField("policy", StringType, nullable = false)))

  val schema: ArrayType = ArrayType(eventStruct, containsNull = false)

  def emptyEvents: Column = array().cast(schema)

  /** Internal columns excluded from user-facing schema operations. */
  val internalCols: Seq[String] = Seq(RowNumCol, EventsCol, StatusCol)

  /** Add the channel (empty) and its status (0) when missing. A frame
    * that brings its own events but no status gets the status derived
    * from them. */
  def withEventsCol(df: DataFrame): DataFrame =
    if (!df.columns.contains(EventsCol)) resetEvents(df)
    else if (!df.columns.contains(StatusCol)) withStatusFromEvents(df)
    else df

  /** Re-derive the status bits from the event array, for frames whose
    * array was changed by code that does not maintain the bits. */
  def withStatusFromEvents(df: DataFrame): DataFrame =
    if (!df.columns.contains(EventsCol)) withEventsCol(df)
    else df.withColumn(StatusCol, statusOf(df(EventsCol)))

  /** An empty channel: what every phase starts from. */
  def resetEvents(df: DataFrame): DataFrame =
    df.withColumns(Map(EventsCol -> emptyEvents, StatusCol -> lit(0)))

  def dropInternal(df: DataFrame): DataFrame =
    df.drop(internalCols: _*)

  /** Checkpoint schema: row numbers included (reference serializes
    * PHASER_ROW_NUM into every checkpoint, records.py:102-107), event
    * channel and status excluded (the events are reported to
    * errors_and_warnings.txt instead). */
  def forCheckpoint(df: DataFrame): DataFrame = df.drop(EventsCol, StatusCol)

  /** One row per event in `events` (an array column of `df`), optionally
    * only those of one etype: `(row_num, etype, step, message)` — the
    * shape the phase-boundary drain reads. */
  def eventRows(df: DataFrame, events: Column,
      etype: Option[String] = None): DataFrame = {
    val rows = df.select(col(RowNumCol).as("row_num"), explode(events).as("e"))
    etype.fold(rows)(t => rows.filter(col("e.etype") === t))
      .select(col("row_num"), col("e.etype").as("etype"),
        col("e.step").as("step"), col("e.message").as("message"))
  }

  /** Build one event struct. `message` may be a dynamic Column. */
  def event(etype: String, step: String, message: Column, policy: ErrorPolicy): Column =
    struct(
      lit(etype).as("etype"),
      lit(step).as("step"),
      message.as("message"),
      lit(policy.name).as("policy"))

  /** events' = if cond then events :+ event else events. For StopNow the
    * append is replaced by an immediate job failure. */
  def append(events: Column, cond: Column, etype: String, step: String,
             message: Column, policy: ErrorPolicy): Column =
    policy match {
      case ErrorPolicy.StopNow =>
        when(coalesce(cond, lit(false)),
          raise_error(concat(lit(s"[$step] "), coalesce(message, lit("error")))))
          .otherwise(events)
      case _ =>
        when(coalesce(cond, lit(false)),
          array_append(events, event(etype, step, message, policy)))
          .otherwise(events)
    }

  /** A conditional singleton event array for concat-style assembly:
    * `if cond then [event] else []`. Unlike [[append]], the accumulated
    * events column is NOT referenced, so a chain of N checks built as
    * `concat(events, term1, ..., termN)` stays linear in N — the
    * `when(cond, append(events,...)).otherwise(events)` nesting references
    * the previous layer twice and goes exponential under project-collapse.
    * StopNow keeps its fail-fast semantics (raise_error under cond). */
  def appendTerm(cond: Column, etype: String, step: String,
                 message: Column, policy: ErrorPolicy): Column =
    policy match {
      case ErrorPolicy.StopNow =>
        when(coalesce(cond, lit(false)),
          raise_error(concat(lit(s"[$step] "), coalesce(message, lit("error")))).cast(schema))
          .otherwise(emptyEvents)
      case _ =>
        when(coalesce(cond, lit(false)), array(event(etype, step, message, policy)).cast(schema))
          .otherwise(emptyEvents)
    }

  /** True if the row has any event that makes later steps skip it
    * (ERROR from Collect, or a DropRow request). Warnings don't skip.
    * `etype` is non-nullable, so `array_contains` has the same null
    * semantics as a per-element scan. */
  def rowFailed(events: Column): Column =
    array_contains(events("etype"), ErrorType) || rowDropped(events)

  /** [[rowFailed]] as a test of the frame's status bit. */
  def rowFailed(df: DataFrame): Column = hasBit(df(StatusCol), FailedBit)

  /** True if the row was marked for dropping (policy drop_row). */
  def rowDropped(events: Column): Column =
    array_contains(events("etype"), DroppedType)

  /** [[rowDropped]] as a test of the frame's status bit. */
  def rowDropped(df: DataFrame): Column = hasBit(df(StatusCol), DroppedBit)

  def hasWarning(events: Column): Column =
    array_contains(events("etype"), WarningType)

  def hasBit(status: Column, bit: Int): Column =
    status.bitwiseAND(lit(bit)) =!= 0

  /** The status bits an event array implies. */
  def statusOf(events: Column): Column =
    when(rowDropped(events), lit(FailedBit | DroppedBit))
      .when(rowFailed(events), lit(FailedBit))
      .otherwise(lit(0))

  /** The bits an appended event of type `etype` sets. */
  def bitsOf(etype: String): Int = etype match {
    case ErrorType => FailedBit
    case DroppedType => FailedBit | DroppedBit
    case _ => 0
  }

  /** Guard a per-row transform so failed rows pass through unchanged
    * (reference: rows with errors are skipped by later steps but retained,
    * phase.py:90-91, 101-105). */
  def guarded(df: DataFrame, newValue: Column, oldValue: Column): Column =
    when(rowFailed(df), oldValue).otherwise(newValue)
}

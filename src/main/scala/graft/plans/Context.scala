package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One event row surfaced from the per-row event channel (or emitted
  * driver-side by batch/context code). */
final case class EventRecord(
    phase: String,
    rowNum: Option[Long],
    etype: String,
    step: String,
    message: String)

/** Cross-phase mutable state (reference: phaser/context.py:14-126):
  * variables, the event log (indexed phase -> row_num), and the registry of
  * named extra sources/outputs ("rwos", context.py:107-125).
  *
  * Events live driver-side as a bounded list: per-phase, the event-column
  * contents are counted exactly but only the first [[Context.maxCollected]]
  * are materialized (at 100 TB an unbounded per-row error collect would be
  * a driver OOM; counts stay exact either way).
  */
final class Context(
    val spark: SparkSession,
    val errorPolicy: ErrorPolicy = ErrorPolicy.Collect) {

  val variables: mutable.Map[String, Any] = mutable.Map.empty
  def set(key: String, value: Any): Unit = variables(key) = value
  def get(key: String): Option[Any] = variables.get(key)

  // ---- named extra sources / outputs ----
  private val sources: mutable.Map[String, DataFrame] = mutable.Map.empty
  private val outputs: mutable.Map[String, DataFrame] = mutable.Map.empty
  private val usedOutputs: mutable.Set[String] = mutable.Set.empty

  def setSource(name: String, df: DataFrame): Unit = sources(name) = df
  def getSource(name: String): DataFrame =
    sources.getOrElse(name,
      outputs.getOrElse(name, throw GraftError(s"Source '$name' not loaded/initialized")))
  def hasSource(name: String): Boolean = sources.contains(name) || outputs.contains(name)

  def setOutput(name: String, df: DataFrame): Unit = { outputs(name) = df; usedOutputs += name }
  def getOutput(name: String): DataFrame =
    outputs.getOrElse(name, throw GraftError(s"Output '$name' not set"))
  def outputNames: Seq[String] = outputs.keys.toSeq

  // ---- event log ----
  private val eventLog: mutable.ArrayBuffer[EventRecord] = mutable.ArrayBuffer.empty
  private val errorCounts: mutable.Map[String, Long] = mutable.Map.empty
  private val droppedCounts: mutable.Map[String, Long] = mutable.Map.empty

  def addEvent(e: EventRecord): Unit = eventLog += e
  def addWarning(phase: String, step: String, message: String, rowNum: Option[Long] = None): Unit =
    eventLog += EventRecord(phase, rowNum, Events.WarningType, step, message)
  def addError(phase: String, step: String, message: String, rowNum: Option[Long] = None): Unit = {
    eventLog += EventRecord(phase, rowNum, Events.ErrorType, step, message)
    errorCounts(phase) = errorCounts.getOrElse(phase, 0L) + 1
  }

  def events: Seq[EventRecord] = eventLog.toSeq
  def eventsForPhase(phase: String): Seq[EventRecord] = eventLog.filter(_.phase == phase).toSeq
  def phaseHadErrors(phase: String): Boolean = errorCounts.getOrElse(phase, 0L) > 0
  def errorCount(phase: String): Long = errorCounts.getOrElse(phase, 0L)
  def droppedCount(phase: String): Long = droppedCounts.getOrElse(phase, 0L)

  // Rows removed mid-phase by DropRow steps: their events are tracked as
  // lazy frames (schema: row_num, etype, step, message) and drained once
  // at the phase boundary, so no action runs inside the phase.
  private val droppedFrames: mutable.ArrayBuffer[(String, DataFrame)] = mutable.ArrayBuffer.empty
  def registerDroppedEvents(phase: String, df: DataFrame): Unit =
    droppedFrames += phase -> df

  /** Drain the per-row event channel of a phase output into the log.
    * Counts are exact (one aggregate); materialized rows are capped. */
  def collectRowEvents(phase: String, df: DataFrame): Unit = {
    import Events._
    val fromChannel = eventRows(df, col(EventsCol))
    val dropped = droppedFrames.filter(_._1 == phase).map(_._2)
    droppedFrames.filterInPlace(_._1 != phase)
    // persist around the two actions: the registered dropped-event frames
    // re-derive from mid-phase (pre-filter) plans that the phase-output
    // cache does NOT cover, so without this the upstream runs once for the
    // count and again for the collect; both actions are eager, so the
    // blocks are droppable immediately after
    val exploded = (fromChannel +: dropped).reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val counts = exploded.groupBy(col("etype")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      errorCounts(phase) = errorCounts.getOrElse(phase, 0L) + counts.getOrElse(ErrorType, 0L)
      droppedCounts(phase) = droppedCounts.getOrElse(phase, 0L) + counts.getOrElse(DroppedType, 0L)
      exploded.limit(Context.maxCollected).collect().foreach { r =>
        eventLog += EventRecord(phase, Some(r.getLong(0)), r.getString(1),
          r.getString(2), if (r.isNullAt(3)) "" else r.getString(3))
      }
    } finally exploded.unpersist(false)
  }
}

object Context {
  /** Cap on per-phase events materialized to the driver. */
  val maxCollected = 10000
}

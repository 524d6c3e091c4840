package graft.plans

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Format, GraftIO}

/** Orchestrator (reference: phaser/pipeline.py:17-43,157-199): runs phases
  * sequentially, writing a checkpoint after each phase plus a source copy
  * and an errors/warnings report.
  *
  * Key deviation from the reference, by design (SURVEY §4.1): phases hand
  * each other the in-memory DataFrame; the checkpoint file is a tap for
  * debuggability/resume, not the pipe. The reference re-reads every phase's
  * output from CSV, re-stringifying all types (pipeline.py:174-182) — at
  * 100 TB that would double every phase's I/O.
  */
final class Pipeline(
    val spark: SparkSession,
    val phases: Seq[Phase],
    val workingDir: String,
    val source: String,
    val name: String = "Pipeline",
    val saveFormat: Format = Format.Parquet,
    val errorPolicy: ErrorPolicy = ErrorPolicy.Collect,
    val extraSourcePaths: Map[String, String] = Map.empty,
    /** When false, skip all checkpoint/source-copy writes (pure in-memory
      * run; used by tests and by callers that only want the result). */
    val checkpoints: Boolean = true,
    /** Bug-for-bug reference compat (SURVEY §4.1): feed each phase from its
      * predecessor's CHECKPOINT FILE instead of the in-memory frame, so
      * types round-trip through the save format exactly as the reference's
      * CSV re-read re-stringifies them (pipeline.py:174-182). Costs a full
      * write+read per phase — off by default; the in-memory pipe is the
      * scale path. */
    val strictCheckpointCompat: Boolean = false) {
  require(!strictCheckpointCompat || checkpoints,
    "strictCheckpointCompat requires checkpoints")

  val context = new Context(spark, errorPolicy)

  private def ext: String = saveFormat.extension
  private def outPath(fileName: String): String =
    Paths.get(workingDir, fileName).toString

  /** Checkpoint name per phase (pipeline.py:266-274). */
  def checkpointName(phase: Phase): String = s"${phase.name}_output.$ext"

  def expectedOutputs: Seq[String] =
    phases.map(checkpointName) ++
      phases.flatMap(_.extraOutputs).map(n => s"$n.$ext") :+ s"source_copy.$ext"

  /** S9 — expected outputs must not collide with each other or the source
    * (pipeline.py:98-110). */
  private def checkOutputCollision(): Unit = {
    val outs = expectedOutputs
    val dups = outs.groupBy(identity).filter(_._2.size > 1).keys
    if (dups.nonEmpty)
      throw GraftError(s"Pipeline outputs collide: ${dups.mkString(", ")}")
    val sourceName = Paths.get(source).getFileName.toString
    if (outs.contains(sourceName))
      throw GraftError(s"Pipeline output would overwrite source $sourceName")
  }

  /** S8 — archive previous outputs into `<name>-<timestamp>/`
    * (cleanup_working_dir, pipeline.py:112-127). */
  private def cleanupWorkingDir(): Unit = {
    val wd = Paths.get(workingDir)
    Files.createDirectories(wd)
    val existing = expectedOutputs.map(wd.resolve)
      .filter(Files.exists(_)) ++
      Seq(wd.resolve("errors_and_warnings.txt")).filter(Files.exists(_))
    if (existing.nonEmpty) {
      val stamp = ZonedDateTime.now(ZoneOffset.UTC)
        .format(DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss"))
      val archive = wd.resolve(s"$name-$stamp")
      Files.createDirectories(archive)
      existing.foreach { p =>
        Files.move(p, archive.resolve(p.getFileName))
      }
    }
  }

  private def initExtraSources(): Unit =
    extraSourcePaths.foreach { case (srcName, path) =>
      context.setSource(srcName, GraftIO.read(spark, path))
    }

  def load(): DataFrame = GraftIO.read(spark, source)

  /** EP1/EP2 run loop (pipeline.py:157-199). Returns the final phase
    * output (user-facing schema, internal columns dropped). */
  def run(): DataFrame = {
    // validate BEFORE archiving: a mis-configured pipeline must not
    // disturb the previous run's outputs
    if (checkpoints) { checkOutputCollision(); cleanupWorkingDir() }
    initExtraSources()

    var df = RowNum.assign(load())
    if (checkpoints)
      save(Events.forCheckpoint(df), outPath(s"source_copy.$ext"))

    var prevCached: Option[DataFrame] = None
    phases.foreach { phase =>
      val phaseOut =
        try runPhase(phase, df)
        catch {
          // a failed phase ends the run: nothing will read the predecessor's
          // cache again (runPhase released its own output)
          case t: Throwable =>
            prevCached.foreach(_.unpersist(false))
            throw t
        }
      // runPhase materialized the new cache (event drain + checkpoint);
      // the predecessor's cache is no longer on the critical path
      prevCached.foreach(_.unpersist(false))
      prevCached = Some(phaseOut)
      // the phase's events were drained and reported; clear the channel so
      // the next phase's drain doesn't re-report them under its own name
      // (the checkpoint never carries events, so the in-memory pipe must
      // not either)
      df = Events.resetEvents(phaseOut)
      if (strictCheckpointCompat) {
        // re-read the checkpoint so the next phase sees exactly what was
        // serialized (CSV: everything re-stringified, like the reference)
        val reread = GraftIO.read(spark, outPath(checkpointName(phase)), Some(saveFormat))
        df = reread.withColumn(Events.RowNumCol,
          org.apache.spark.sql.functions.col(Events.RowNumCol).cast("long"))
      }
    }
    // the LAST phase's cache serves the caller's actions on the returned
    // frame; the caller's scope owns it (the loop only unpersisted
    // predecessors)
    prevCached.foreach(c => Persists.onScopeEnd(() => c.unpersist(false)))
    Events.dropInternal(df)
  }

  /** One phase: run, apply policies, checkpoint, surface events, enforce
    * failure gates (run_phase, pipeline.py:179-199). The phase owns the
    * caches its steps create: they are released once its output has been
    * drained and checkpointed, or when it throws. */
  def runPhase(phase: Phase, input: DataFrame): DataFrame = Persists.scope {
    val inputCols = input.columns.filterNot(Events.internalCols.contains).toSet
    val out0 = phase(input, context)

    // Phase.apply already removed per-column-policy dropped rows before
    // its steps ran; this filter is a safety net for steps that can append
    // DROPPED_ROW events directly (batch steps, and FlagRows with a
    // DROPPED_ROW etype under a non-drop policy), so it is planned only
    // when the phase has one. Their events are registered for the drain
    // FIRST — filtering before registering would erase the only audit
    // trail of those rows (every drop must be reported). Rows with
    // collected ERRORs are retained unchanged (X4).
    val kept = if (!phase.steps.exists(_.appendsDropped)) out0 else {
      val dropped = Events.rowDropped(out0)
      context.registerDroppedEvents(phase.name, Events.eventRows(
        out0.filter(dropped), col(Events.EventsCol), Some(Events.DroppedType)))
      out0.filter(!dropped)
    }
    // cache: event drain + checkpoint + next phase all reuse this plan
    val out = kept.persist()
    try finishPhase(phase, inputCols, out)
    catch {
      // the gates below throw; nothing downstream will read this cache
      case t: Throwable =>
        out.unpersist(false)
        throw t
    }
    out
  }

  /** Drain, report, checkpoint and gate a phase's persisted output. */
  private def finishPhase(phase: Phase, inputCols: Set[String], out: DataFrame): Unit = {
    context.collectRowEvents(phase.name, out)

    // H4 — consistency warning for undeclared new fields (phase.py:315-327)
    val declared = phase.columns.map(_.name).toSet
    out.columns.filterNot(Events.internalCols.contains).foreach { c =>
      if (!inputCols.contains(c) && !declared.contains(c))
        context.addWarning(phase.name, "consistency_check",
          s"New field '$c' was added to the row_data and not declared as a column")
    }

    // X5 failure gates (pipeline.py:191-199): the zero-rows gate fires
    // BEFORE the checkpoint is written (the reference raises 'No rows left
    // to process' before saving, pipeline.py:191-193); only the
    // collected-errors gate runs after the save. The events REPORT is
    // still written first — the user needs errors_and_warnings.txt to see
    // which step dropped everything.
    if (out.head(1).isEmpty) {
      if (checkpoints) reportEvents(phase)
      throw DataException(s"Phase ${phase.name} produced zero rows; terminating pipeline")
    }

    if (checkpoints) {
      save(Events.forCheckpoint(out), outPath(checkpointName(phase)))
      phase.extraOutputs.foreach { outName =>
        save(context.getOutput(outName), outPath(s"$outName.$ext"))
      }
      reportEvents(phase)
    }

    if (context.phaseHadErrors(phase.name))
      throw DataException(
        s"Phase ${phase.name} failed with ${context.errorCount(phase.name)} errors")
  }

  private def save(df: DataFrame, path: String): Unit =
    GraftIO.save(df, path, Some(saveFormat))

  /** X3 — errors_and_warnings.txt per phase (pipeline.py:201-216). */
  private def reportEvents(phase: Phase): Unit = {
    val path = outPath("errors_and_warnings.txt")
    val w = new BufferedWriter(new FileWriter(path, true))
    try {
      context.eventsForPhase(phase.name).foreach { e =>
        val rowPart = e.rowNum.map(n => s" row $n").getOrElse("")
        w.write(s"${e.etype} in phase ${e.phase}${rowPart} step ${e.step}: ${e.message}\n")
      }
    } finally w.close()
  }
}

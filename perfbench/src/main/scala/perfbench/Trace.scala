package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver-side spans around the public calls the benchmark makes. Kept in
  * memory and written once, when the benchmark ends. Times are epoch
  * milliseconds (fractional), the clock Spark's listener events use. */
final case class Span(id: Int, parent: Int, name: String, run: Int,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

final class Spans {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val all = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  var run = 0
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val start = nowMs
      open = id :: open
      try body
      finally {
        open = open.tail
        all += Span(id, parent, name, run, start, nowMs)
      }
    }

  def ofRun(r: Int): Seq[Span] = all.filter(_.run == r).toSeq
}

/** Per-job and per-task counters from Spark's listener bus. Each job is
  * assigned to a module layer by its call site: Spark names a job's stages
  * `<action> at <File>.scala:<line>`, the first frame outside Spark. Jobs
  * that adaptive execution submits from its own threads carry a JDK call
  * site; they take the site of the program job in the same SQL execution. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder.{Job, StageAgg}

  @volatile var active = false
  private val started = mutable.ArrayBuffer.empty[Job]
  val stageWindow = mutable.Map.empty[Int, (Long, Long)]
  val stages = mutable.Map.empty[Int, StageAgg]
  private val blocks = mutable.Map.empty[String, Long]
  var peakBlockBytes = 0L
  var planMs = 0.0

  def reset(): Unit = synchronized {
    started.clear(); stageWindow.clear(); stages.clear()
    peakBlockBytes = blocks.values.sum
    planMs = 0.0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("?")
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id"))))
    started += Job(e.jobId, site, exec, e.stageIds, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  /** The jobs since the last reset, with JDK call sites resolved. */
  def jobs: Seq[Job] = synchronized {
    val programSite = started.filter(j => Recorder.layer(j.site) != "other")
      .flatMap(j => j.exec.map(_ -> j.site)).toMap
    started.toSeq.map(j =>
      if (Recorder.layer(j.site) != "other") j
      else j.copy(site = j.exec.flatMap(programSite.get).getOrElse(j.site)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageWindow(i.stageId) = (s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    val m = e.taskMetrics
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    a.cpuNs += m.executorCpuTime
    a.gcMs += m.jvmGCTime
    a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val bytes = i.memSize + i.diskSize
      if (bytes == 0 || !i.storageLevel.isValid) blocks -= i.blockId.name
      else blocks(i.blockId.name) = bytes
      if (active) peakBlockBytes = math.max(peakBlockBytes, blocks.values.sum)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlanning(qe)

  private def addPlanning(qe: QueryExecution): Unit = if (active) synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
  }
}

object Recorder {
  final case class Job(id: Int, site: String, exec: Option[String], stageIds: Seq[Int],
      startMs: Long, var endMs: Long)
  final class StageAgg {
    var tasks = 0L; var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }

  val Layers: Seq[String] = Seq("io", "rownum", "drain", "pipeline", "diff", "steps",
    "operators", "registry", "bench", "other")

  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored

  /** The module layer a call site belongs to. */
  def layer(site: String): String = site match {
    case SiteFile(file) => file match {
      case "GraftIO" => "io"
      case "RowNum" => "rownum"
      case "Context" | "Events" => "drain"
      case "Pipeline" => "pipeline"
      case "TableDiff" => "diff"
      case "Phase" | "Step" => "steps"
      case "Workloads" | "Main" | "Trace" => "bench"
      case "SparkEntry" => "registry"
      case _ => "operators"
    }
    case _ => "other"
  }
}

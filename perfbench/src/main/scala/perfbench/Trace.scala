package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed mode call: the span the per-layer figures are cut by, in
  * epoch ms (the clock Spark's listener events use).
  */
final case class Span(id: String, startMs: Long, endMs: Long,
    reportStartMs: Long) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
}

/** Per-layer accounting of one traced mode call. */
final case class SpanLayers(driverS: Double, planS: Double, execS: Double,
    reportS: Double, jobs: Int, tasks: Int, taskRunS: Double, gcS: Double,
    schedWaitS: Double, shuffleBytes: Long, spillBytes: Long,
    taskFailures: Int, jobSByModule: Map[String, Double])

/** The traced run's recorder: a SparkListener for jobs, stages and
  * tasks plus a QueryExecutionListener for Catalyst's planning phases.
  * Events are kept raw in memory and cut into spans at the end:
  * a job belongs to the span named by its `perfbench.span` local
  * property (inherited by threads a mode starts), else to the span
  * whose interval holds its start time.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  // (first planning phase start, planning ms)
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val markers = mutable.Set.empty[String]
  private val executionModule = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      moduleOf(Seq(x.details)).foreach(executionModule(x.executionId) = _)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    // jobs a query submits from Spark's own threads (adaptive query
    // stages, broadcasts) carry no user frames: charge them to the
    // call site of the query's root action
    val module = moduleOf(e.stageInfos.map(_.details)).orElse(
      Option(e.properties).flatMap(p => Option(p.getProperty(ExecutionIdKey)))
        .flatMap(id => executionModule.get(id.toLong))).getOrElse("other")
    jobs(e.jobId) = Job(span, e.time, module)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitMs(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += Task(e.stageId, e.taskInfo.launchTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      e.reason != Success)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    qe.analyzed.schema.fieldNames.filter(_.startsWith(MarkerPrefix))
      .foreach(markers += _)
  }

  /** Whether the marker query `name` (run under span property
    * `name`) has been seen by both listeners: every event posted
    * before it has then been delivered.
    */
  def sawMarker(name: String): Boolean = synchronized {
    markers.contains(name) &&
      jobs.values.exists(j => j.span.contains(name) && j.endMs >= 0)
  }

  /** Cut the recorded events into the given spans. */
  def layers(spans: Seq[Span]): Map[String, SpanLayers] = synchronized {
    def spanOf(j: Job): Option[Span] =
      j.span.flatMap(id => spans.find(_.id == id))
        .orElse(spans.find(_.contains(j.startMs)))
    val jobSpan: Map[Int, Span] = jobs.iterator
      .flatMap { case (id, j) => spanOf(j).map(id -> _) }.toMap
    spans.map { sp =>
      val js = jobs.iterator.collect {
        case (id, j) if jobSpan.get(id).contains(sp) => j
      }.toSeq
      // exec = span time covered by at least one job (interval union)
      val ivs = js.map(j => (math.max(j.startMs, sp.startMs),
        math.min(if (j.endMs < 0) sp.endMs else j.endMs, sp.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curEnd = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (b > curEnd) {
          covered += b - math.max(a, curEnd)
          curEnd = b
        }
      }
      val ts = tasks.filter(t =>
        stageJob.get(t.stageId).flatMap(jobSpan.get).contains(sp))
      val plan = plans.collect { case (t, ms) if sp.contains(t) => ms }.sum
      val byModule = js.groupBy(_.module).map { case (m, g) =>
        m -> g.map(j => (math.max(j.endMs, j.startMs) - j.startMs) / 1e3).sum
      }
      sp.id -> SpanLayers(
        driverS = (sp.endMs - sp.startMs - covered) / 1e3,
        planS = plan / 1e3,
        execS = covered / 1e3,
        reportS = (sp.endMs - sp.reportStartMs) / 1e3,
        jobs = js.size,
        tasks = ts.size,
        taskRunS = ts.map(_.runMs).sum / 1e3,
        gcS = ts.map(_.gcMs).sum / 1e3,
        schedWaitS = ts.map(t => math.max(0L, t.launchMs -
          stageSubmitMs.getOrElse(t.stageId, t.launchMs))).sum / 1e3,
        shuffleBytes = ts.map(_.shuffleBytes).sum,
        spillBytes = ts.map(_.spillBytes).sum,
        taskFailures = ts.count(_.failed),
        jobSByModule = byModule)
    }.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MarkerPrefix = "perfbench_marker_"

  private final case class Job(span: Option[String], startMs: Long,
      module: String, var endMs: Long = -1L)
  private final case class Task(stageId: Int, launchMs: Long, runMs: Long,
      gcMs: Long, shuffleBytes: Long, spillBytes: Long, failed: Boolean)

  private val ExecutionIdKey = "spark.sql.execution.id"

  /** Source file → the engine module (layer) it belongs to. */
  private val fileModule: Map[String, String] = Map(
    "Catalog" -> "Catalog", "Assess" -> "Assess", "Check" -> "Check",
    "Reverse" -> "Reverse", "Ddl" -> "Reverse", "OracleTypes" -> "Reverse",
    "CharsetMaps" -> "Reverse", "Prepare" -> "Prepare",
    "Compare" -> "Compare", "Norm" -> "Compare",
    "ChunkSummaryAgg" -> "Compare", "Migrate" -> "Migrate",
    "Pipeline" -> "Pipeline", "Ledger" -> "Ledger", "Cdc" -> "Cdc",
    "ReplaceShim" -> "Cdc", "TaskModes" -> "TaskModes",
    "Config" -> "TaskModes", "Tables" -> "Tables", "Snapshot" -> "Snapshot")

  /** The engine module a call site is charged to: its innermost
    * `graft.*` frame's source file names the module (`other` for an
    * engine file outside [[fileModule]]); `bench` when only the
    * benchmark's own frames are there (report materialisation); None
    * when there are no user frames at all.
    */
  def moduleOf(details: Seq[String]): Option[String] = {
    val frames = details.flatMap(_.linesIterator.map(_.trim))
    frames.find(_.startsWith("graft.")) match {
      case Some(f) =>
        val file = f.substring(f.lastIndexOf('(') + 1).takeWhile(_ != ':')
        Some(fileModule.getOrElse(file.stripSuffix(".scala"), "other"))
      case None =>
        if (frames.exists(_.startsWith("perfbench."))) Some("bench") else None
    }
  }
}

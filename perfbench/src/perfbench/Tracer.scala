package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's public listeners, attached from outside the program for the
  * length of one traced pass.
  *
  * Every event is kept in memory with its own timestamps. Because the
  * harness runs one query at a time, a job, stage, task, planned action or
  * micro-batch belongs to the pass (and query) whose wall-clock window
  * holds its start — which also credits jobs that a query submits from its
  * own driver thread pool. All times are epoch milliseconds.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val actions = new ConcurrentLinkedQueue[Action]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))
          .orElse(Option(p.getProperty("callSite.short")))).getOrElse("")
      jobs.add(Job(e.jobId, e.time, e.stageIds, desc)): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L), i.numTasks)): Unit
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime,
        m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)): Unit
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      actions.add(Action(at, ms("analysis"), ms("optimization"), ms("planning"))): Unit
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = try Instant.parse(p.timestamp).toEpochMilli
        catch { case _: Exception => System.currentTimeMillis() }
      batches.add(Batch(at, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)): Unit
    }
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = Bus.drain(spark.sparkContext)

  /** Attach every listener; queued events of the untraced past are
    * delivered first so they cannot land in this pass. */
  def attach(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver everything posted so far, then detach. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-layer counters of the pass that ran over `[from, to]`. */
  def layers(from: Long, to: Long): Map[String, Double] = {
    def in(t: Long) = t >= from && t <= to
    val js = jobs.asScala.filter(j => in(j.start)).toSeq
    val intervals = js.map(j => (j.start, math.min(to, endOf(j))))
    val ss = stages.asScala.filter(s => in(s.submitted)).toSeq
    val submittedAt = ss.map(s => s.id -> s.submitted).toMap
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    val as = actions.asScala.filter(a => in(a.at)).toSeq
    val bs = batches.asScala.filter(b => in(b.at)).toSeq
    def bsum(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val jobS = intervals.map { case (a, b) => b - a }.sum / 1e3
    val taskRunS = ts.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "catalyst.actions" -> as.size.toDouble,
      "catalyst.analysis_s" -> as.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> as.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> as.map(_.planningMs).sum / 1e3,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> ss.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.job_s" -> jobS,
      "scheduler.driver_gap_s" -> ((to - from) - unionMs(intervals)) / 1e3,
      "scheduler.task_wait_s" -> ts.map(t =>
        submittedAt.get(t.stage).map(s => math.max(0L, t.launch - s)).getOrElse(0L)).sum / 1e3,
      "executor.task_run_s" -> taskRunS,
      "executor.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "executor.parallelism" -> (if (jobS > 0) taskRunS / jobS else 0.0),
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / mb,
      "scan.input_mb" -> ts.map(_.inBytes).sum / mb,
      "scan.input_rows" -> ts.map(_.inRows).sum.toDouble,
      "sink.output_mb" -> ts.map(_.outBytes).sum / mb,
      "sink.output_rows" -> ts.map(_.outRows).sum.toDouble,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.data_batch_frac" ->
        (if (bs.isEmpty) 0.0 else bs.count(_.rows > 0).toDouble / bs.size),
      "streaming.batch_s" -> bsum("triggerExecution"),
      "streaming.planning_s" -> bsum("queryPlanning"),
      "streaming.add_batch_s" -> bsum("addBatch"),
      "streaming.commit_s" -> (bsum("walCommit") + bsum("commitOffsets")))
  }

  /** Job and stage spans, each carrying the id of the query whose window
    * `(id, start, buildEnd, end)` holds its start; a job's parent is the
    * query's build or action span, a stage's parent its job. */
  def spans(windows: Seq[(String, Long, Long, Long)]): Seq[Map[String, Any]] = {
    val stageById = stages.asScala.map(s => s.id -> s).toMap
    jobs.asScala.toSeq.flatMap { j =>
      windows.find { case (_, a, _, b) => j.start >= a && j.start <= b }.toSeq.flatMap {
        case (id, _, buildEnd, _) =>
          Map("span" -> "job", "id" -> id, "job" -> j.id,
            "parent" -> (if (j.start < buildEnd) "build" else "action"),
            "start_ms" -> j.start, "end_ms" -> endOf(j), "desc" -> j.desc) +:
            j.stageIds.flatMap(stageById.get).filter(_.submitted >= 0).map(s =>
              Map("span" -> "stage", "id" -> id, "stage" -> s.id, "parent" -> s"job ${j.id}",
                "start_ms" -> s.submitted, "end_ms" -> s.completed, "tasks" -> s.numTasks))
      }
    }
  }

  private def endOf(j: Job): Long = {
    val e = jobEnds.get(j.id)
    if (e == null) j.start else e.longValue
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, stageIds: Seq[Int], desc: String)
  final case class Stage(id: Int, submitted: Long, completed: Long, numTasks: Int)
  final case class Task(stage: Int, launch: Long, runMs: Long, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      inBytes: Long, inRows: Long, outBytes: Long, outRows: Long)
  final case class Action(at: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class Batch(at: Long, rows: Long, durations: Map[String, Long])

  /** Total length covered by a set of intervals (overlaps counted once). */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    covered
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev measurement tool (guide §1): run named queries under the Bench
  * session config and print a per-Spark-job time/shuffle breakdown, so a
  * multi-action lifecycle query's wall-clock can be attributed to its
  * individual jobs (ingest wave N, append write, meta read, …) instead of
  * being one opaque number. Usage:
  *
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.Profile <sfDir> <query> [query…]"
  *
  * Prints, per job: whether it ran while the query built its frame
  * (`B`: an eager action inside the query) or in the timed action on the
  * returned frame (`A`), duration, task count, shuffle read/write bytes
  * and a label — the job description when one is set, else the first
  * `graft.` frame of the job's or its SQL execution's call site (SQL
  * jobs carry no short call site). Gaps between jobs (driver-side
  * planning/listing/codegen) show up as the difference between the
  * query wall total and the job-time sum. Each query's header line counts its build and action jobs and
  * its Janino compiles and their time, so a query that keeps recompiling
  * (codegen cache misses) shows as a nonzero count on a warm run
  * (`SPARK_GRAFT_PROFILE_WARM=1`).
  */
object Profile {
  private final case class JobRow(
      id: Int, t0: Long, var t1: Long = 0L, var tasks: Int = 0,
      var shufR: Long = 0L, var shufW: Long = 0L, desc: String)

  private def graftFrame(stack: String): Option[String] =
    stack.linesIterator.map(_.trim).find(_.startsWith("graft."))

  /** The job's description if set, else the first `graft.` frame of its
    * last stage's call-site stack, else of its SQL execution's (`frames`,
    * by execution id): adaptive query stages submit their jobs from a
    * pool thread, whose stack holds no `graft.` frame.
    */
  private def label(
      e: SparkListenerJobStart,
      frames: java.util.Map[Long, String]): String = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(e.stageInfos.lastOption.flatMap(st => graftFrame(st.details)))
      .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(frames.get(id.toLong))))
      .getOrElse("")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // stage→job map built at job start: concurrent jobs (the x119/x40
    // driver pools) would mis-credit tasks under any "most recent active
    // job" heuristic, and those pooled queries are exactly the ones worth
    // profiling
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val execFrames = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          graftFrame(x.details).foreach(execFrames.put(x.executionId, _))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, JobRow(e.jobId, e.time, desc = label(e, execFrames)))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        order.add(e.jobId): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.t1 = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrDefault(e.stageId, -1)
        val r = if (jid >= 0) jobs.get(jid) else null
        if (r != null && e.taskMetrics != null) {
          r.tasks += 1
          r.shufR += e.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shufW += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // warm once (JIT/codegen parity with Bench's in-registry position)
      if (sys.env.get("SPARK_GRAFT_PROFILE_WARM").contains("1")) {
        try Bench.hashReduce(fn(spark, sfDir)).collect()
        catch { case e: Throwable => println(s"warm failed: $e") }
      }
      jobs.clear(); order.clear(); stageToJob.clear(); execFrames.clear()
      spark.sparkContext.addSparkListener(listener)
      val (compiles0, compileNs0) = (Session.compiles, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      // listener event times are wall-clock ms: a job that started before
      // the frame came back ran inside the query's build
      val builtAt = System.currentTimeMillis()
      Bench.hashReduce(df).collect()
      val t1 = System.nanoTime()
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let straggler listener events drain
      val rows = order.asScala.toSeq.map(jobs.get)
      val nBuild = rows.count(_.t0 <= builtAt)
      println(f"\n===== $n  total=${(t1 - t0) / 1e9}%.3fs build=${(tPlan - t0) / 1e9}%.3fs " +
        f"jobs=${rows.size}%d build_jobs=$nBuild%d action_jobs=${rows.size - nBuild}%d " +
        f"compiles=${Session.compiles - compiles0}%d " +
        f"compile=${(CodeGenerator.compileTime - compileNs0) / 1e6}%.0fms")
      var sum = 0L
      rows.foreach { r =>
        val dur = if (r.t1 > 0) r.t1 - r.t0 else -1L
        sum += math.max(0L, dur)
        val phase = if (r.t0 <= builtAt) "B" else "A"
        println(f"job ${r.id}%4d $phase ${dur / 1000.0}%8.3fs tasks=${r.tasks}%4d " +
          f"shufR=${r.shufR}%10d shufW=${r.shufW}%10d  ${r.desc.take(100)}")
      }
      println(f"job-time sum=${sum / 1000.0}%.3fs  wall=${(t1 - t0) / 1e9}%.3fs  " +
        f"(driver gaps=${(t1 - t0) / 1e9 - sum / 1000.0}%.3fs)")
    }
    spark.stop()
  }
}

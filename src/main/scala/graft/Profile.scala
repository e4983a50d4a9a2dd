package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev measurement tool (guide §1): run named queries under the Bench
  * session config and print a per-Spark-job time/shuffle breakdown, so a
  * multi-action lifecycle query's wall-clock can be attributed to its
  * individual jobs (ingest wave N, append write, meta read, …) instead of
  * being one opaque number. Usage:
  *
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.Profile <sfDir> <query> [query…]"
  *
  * Prints, per job: duration, task count, shuffle read/write bytes and the
  * first 60 chars of the job's callSite/description. Gaps between jobs
  * (driver-side planning/listing/codegen) show up as the difference
  * between the query wall total and the job-time sum. Each query's
  * header line also counts its Janino compiles and their time, so a
  * query that keeps recompiling (codegen cache misses) shows as a
  * nonzero count on a warm run (`SPARK_GRAFT_PROFILE_WARM=1`).
  */
object Profile {
  private final case class JobRow(
      id: Int, t0: Long, var t1: Long = 0L, var tasks: Int = 0,
      var shufR: Long = 0L, var shufW: Long = 0L, desc: String)

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
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, JobRow(e.jobId, e.time, desc = desc))
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
      jobs.clear(); order.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val (compiles0, compileNs0) = (Session.compiles, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      Bench.hashReduce(df).collect()
      val t1 = System.nanoTime()
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let straggler listener events drain
      println(f"\n===== $n  total=${(t1 - t0) / 1e9}%.3fs build=${(tPlan - t0) / 1e9}%.3fs " +
        f"compiles=${Session.compiles - compiles0}%d " +
        f"compile=${(CodeGenerator.compileTime - compileNs0) / 1e6}%.0fms")
      var sum = 0L
      val it = order.iterator()
      while (it.hasNext) {
        val r = jobs.get(it.next())
        val dur = if (r.t1 > 0) r.t1 - r.t0 else -1L
        sum += math.max(0L, dur)
        println(f"job ${r.id}%4d ${dur / 1000.0}%8.3fs tasks=${r.tasks}%4d " +
          f"shufR=${r.shufR}%10d shufW=${r.shufW}%10d  ${r.desc.take(100)}")
      }
      println(f"job-time sum=${sum / 1000.0}%.3fs  wall=${(t1 - t0) / 1e9}%.3fs  " +
        f"(driver gaps=${(t1 - t0) / 1e9 - sum / 1000.0}%.3fs)")
    }
    spark.stop()
  }
}

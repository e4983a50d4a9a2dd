package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** Dev measurement tool (guide §1): run named queries under the Bench
  * session config and print a per-Spark-job time/shuffle breakdown, so a
  * multi-action lifecycle query's wall-clock can be attributed to its
  * individual jobs (ingest wave N, append write, meta read, …) instead of
  * being one opaque number. Usage:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.Profile <sfDir> <query> [query…]"
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", 256)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratch.sub("spark"))
      .config("spark.sql.warehouse.dir", Scratch.sub("warehouse_default"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Session.install(spark)

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
        try {
          val df = fn(spark, sfDir)
          df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
            .agg(expr("bit_xor(__h)")).collect()
        } catch { case e: Throwable => println(s"warm failed: $e") }
      }
      jobs.clear(); order.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val (compiles0, compileNs0) = (Session.compiles, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
        .agg(expr("bit_xor(__h)")).collect()
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

package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch,
  TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + long-format fixture helpers. */
trait SparkSpec extends AnyFunSuite {
  /** `local[4]` whatever `SPARK_GRAFT_CPUS` says, under the mains' config. */
  lazy val spark: SparkSession = Session.local(4)

  /** Fresh RAM-backed checkpoint dir for one streaming query. A session-
    * global `spark.sql.streaming.checkpointLocation` keys checkpoints by
    * queryName, so a second test reusing a name fails with "does not
    * support recovering from checkpoint" — every stream gets its own dir
    * instead.
    */
  def freshCkpt(): String =
    s"${Scratch.sub("ckpt-test")}/${java.util.UUID.randomUUID()}"

  /** One job: the physical plan of the SQL execution that launched it
    * ("" for a job outside any SQL execution, a parquet schema
    * inference), whether one of its stages scans files, and the input
    * records its tasks read.
    */
  case class Job(plan: String, scansFiles: Boolean, records: Long)

  /** `block`'s result and the jobs started while it ran, in start order.
    * A canary job closes the window: listener events arrive in order, so
    * once it is seen every earlier job and task has been recorded.
    */
  def jobsDuring[T](block: => T): (T, Seq[Job]) = {
    val canary = "jobs-during-canary"
    val seen = new CountDownLatch(1)
    val plans = new ConcurrentHashMap[Long, String]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val records = new ConcurrentHashMap[Int, Long]()
    val scans = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new ConcurrentLinkedQueue[(Int, Option[Long])]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          plans.put(x.executionId, x.physicalPlanDescription): Unit
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == canary)) seen.countDown()
        else {
          e.stageInfos.foreach { st =>
            stageJob.put(st.stageId, e.jobId)
            if (st.rddInfos.exists(_.name == "FileScanRDD")) scans.add(e.jobId)
          }
          records.put(e.jobId, 0L)
          jobs.add((e.jobId, props.flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))): Unit
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach { j =>
          records.merge(j, e.taskMetrics.inputMetrics.recordsRead, _ + _): Unit
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try {
      val r = block
      spark.sparkContext.setJobDescription(canary)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener never saw the canary job")
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    (result, jobs.asScala.toSeq.map { case (id, exec) =>
      Job(exec.map(plans.getOrDefault(_, "")).getOrElse(""), scans.contains(id), records.get(id))
    })
  }

  /** One or more named series → long frame (series_id, t, value). */
  def seriesDf(series: (String, Seq[Double])*): DataFrame = {
    val rows = series.flatMap { case (id, vs) =>
      vs.zipWithIndex.map { case (v, i) => (id, i.toLong, v) }
    }
    import spark.implicits._
    rows.toDF("series_id", "t", "value")
  }

  /** Collect one series' outCol ordered by t. */
  def outSeries(df: DataFrame, id: String, outCol: String): Seq[Double] = {
    import org.apache.spark.sql.functions._
    df.filter(col("series_id") === id).orderBy(col("t"))
      .select(col(outCol)).collect().map(_.getDouble(0)).toSeq
  }

  def assertSeqAlmost(got: Seq[Double], exp: Seq[Double], tol: Double = 1e-9): Unit = {
    assert(got.length == exp.length, s"length ${got.length} != ${exp.length}: $got vs $exp")
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) <= tol, s"idx $i: $g != $e (got $got, exp $exp)")
    }
  }
}

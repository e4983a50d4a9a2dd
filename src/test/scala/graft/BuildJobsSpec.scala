package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch,
  TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The lifecycle queries prove their invariants without Spark jobs of
  * their own: row counts come from parquet footers and per-version
  * statistics ride on the returned frame, so building the frame runs
  * only the writes the query exists to make.
  */
class BuildJobsSpec extends SparkSpec {

  /** For each job started while `build` runs, in start order: the
    * physical plan of the SQL execution that launched it, or "" for a
    * job outside any SQL execution (a parquet schema inference). A
    * canary job closes the window: listener events arrive in order, so
    * once it is seen every earlier job has been recorded.
    */
  private def jobPlansDuring(build: => Unit): Seq[String] = {
    val canary = "build-jobs-spec-canary"
    val seen = new CountDownLatch(1)
    val plans = new ConcurrentHashMap[Long, String]()
    val jobs = new ConcurrentLinkedQueue[Option[Long]]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          plans.put(x.executionId, x.physicalPlanDescription): Unit
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == canary)) seen.countDown()
        else jobs.add(props.flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      build
      spark.sparkContext.setJobDescription(canary)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener never saw the canary job")
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq.map(_.map(plans.getOrDefault(_, "")).getOrElse(""))
  }

  test("x90 and x151 run only their write jobs while building their frames") {
    val dir = "perfbench/data/sf0.001"
    for (q <- Seq("x90_idempotent_overwrite", "x151_snapshot_schema_evolution")) {
      val fn = SparkEntry.queries(q)
      fn(spark, dir).collect() // warm: the source tables' schemas are memoized
      val plans = jobPlansDuring(fn(spark, dir))
      assert(plans.nonEmpty, s"$q: no write job seen")
      val other = plans.filterNot(_.contains("InsertIntoHadoopFsRelationCommand"))
      assert(other.isEmpty,
        s"$q ran ${other.size} job(s) besides its writes:\n${other.mkString("\n")}")
    }
  }
}

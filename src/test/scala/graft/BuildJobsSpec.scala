package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch,
  TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, explode}

/** The lifecycle queries prove their invariants without Spark jobs of
  * their own: row counts come from parquet footers and per-version
  * statistics ride on the returned frame, so building the frame runs
  * only the writes the query exists to make. The broadcast guards
  * ([[Tables.atMostRows]]) likewise bound a plan from its `maxRows` or
  * its footers, and probe with a job only when neither bound holds.
  */
class BuildJobsSpec extends SparkSpec {

  /** One job: the physical plan of the SQL execution that launched it
    * ("" for a job outside any SQL execution, a parquet schema
    * inference), whether one of its stages scans files, and the input
    * records its tasks read.
    */
  private case class Job(plan: String, scansFiles: Boolean, records: Long)

  /** `block`'s result and the jobs started while it ran, in start order.
    * A canary job closes the window: listener events arrive in order, so
    * once it is seen every earlier job and task has been recorded.
    */
  private def jobsDuring[T](block: => T): (T, Seq[Job]) = {
    val canary = "build-jobs-spec-canary"
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

  test("x90 and x151 run only their write jobs while building their frames") {
    val dir = "perfbench/data/sf0.001"
    for (q <- Seq("x90_idempotent_overwrite", "x151_snapshot_schema_evolution")) {
      val fn = SparkEntry.queries(q)
      fn(spark, dir).collect() // warm: the source tables' schemas are memoized
      val plans = jobsDuring(fn(spark, dir))._2.map(_.plan)
      assert(plans.nonEmpty, s"$q: no write job seen")
      val other = plans.filterNot(_.contains("InsertIntoHadoopFsRelationCommand"))
      assert(other.isEmpty,
        s"$q ran ${other.size} job(s) besides its writes:\n${other.mkString("\n")}")
    }
  }

  test("x32 elects each batch once: at most 8 jobs, and its action scans no file") {
    val dir = "perfbench/data/sf0.001"
    val fn = SparkEntry.queries("x32_incremental_dedup")
    // warm, as above; the survivor counts are what the action may read
    val survivors = fn(spark, dir).collect().map(_.getAs[Long]("n_survivors")).sum
    val (df, build) = jobsDuring(fn(spark, dir))
    val action = jobsDuring(Bench.hashReduce(df).collect())._2
    assert(build.size + action.size <= 8,
      s"x32 ran ${build.size} build + ${action.size} action jobs")
    assert(!action.exists(_.scansFiles), s"x32's action scans files: $action")
    // Spark counts reads of cached blocks as input records: the action
    // reads each checkpointed survivor once and nothing else
    assert(action.map(_.records).sum == survivors,
      s"x32's action read ${action.map(_.records)}, not $survivors survivor rows")
  }

  test("d1_knn starts no job while it builds its frame") {
    val dir = "perfbench/data/sf0.001"
    val fn = SparkEntry.queries("d1_knn")
    fn(spark, dir).collect() // warm, as above
    val build = jobsDuring(fn(spark, dir))._2
    assert(build.isEmpty, s"d1_knn ran ${build.size} job(s) while building")
  }

  test("atMostRows: a maxRows- or footer-bounded plan starts no job") {
    val dir = "perfbench/data/sf0.001"
    val n = Tables.rowCount(spark, dir, "embeddings")
    val emb = Tables.embeddings(spark, dir)
    for ((df, max) <- Seq(
        emb.filter(col("vec_id") % 20 === 0).select(col("vec_id"), col("embedding")) -> n,
        emb -> n,
        spark.range(10).toDF() -> 10L,
        emb.limit(3) -> 3L)) {
      val (ok, jobs) = jobsDuring(Tables.atMostRows(df, max))
      assert(ok)
      assert(jobs.isEmpty, s"${jobs.size} job(s) for ${df.queryExecution.optimizedPlan}")
    }
  }

  test("atMostRows: a bound above max falls back to the probe, which decides") {
    val dir = "perfbench/data/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val (ok, jobs) = jobsDuring(Tables.atMostRows(emb.filter(col("vec_id") < 3), 5))
    assert(ok && jobs.nonEmpty, s"ok=$ok after ${jobs.size} job(s)")
    val (over, _) = jobsDuring(Tables.atMostRows(emb.filter(col("vec_id") < 9), 5))
    assert(!over)
    val e = intercept[IllegalArgumentException] {
      ml.Knn.classify(emb, emb.filter(col("vec_id") < 9), "embedding", "label",
        "vec_id", "vec_id", k = 3, maxTestRows = 5)
    }
    assert(e.getMessage == "requirement failed: exact KNN broadcasts the test side, " +
      "which exceeds 5 rows; for query sets this large use the approximate paths " +
      "(graft.similarity.Ann.cosineTopKLsh or graft.similarity.Ivf)")
  }

  test("atMostRows: a Join or a Generate falls back to the probe") {
    val dir = "perfbench/data/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val n = Tables.rowCount(spark, dir, "embeddings")
    for (df <- Seq(
        emb.select(col("vec_id")).join(emb.select(col("vec_id")), "vec_id"),
        emb.select(explode(col("embedding"))))) {
      val (ok, jobs) = jobsDuring(Tables.atMostRows(df, n * 1000))
      assert(ok && jobs.nonEmpty, s"ok=$ok after ${jobs.size} job(s)")
    }
  }
}

package graft

import org.apache.spark.sql.functions.{col, explode}

/** The lifecycle queries prove their invariants without Spark jobs of
  * their own: row counts come from parquet footers and per-version
  * statistics ride on the returned frame, so building the frame runs
  * only the writes the query exists to make. The broadcast guards
  * ([[Tables.atMostRows]]) likewise bound a plan from its `maxRows` or
  * its footers, and probe with a job only when neither bound holds.
  */
class BuildJobsSpec extends SparkSpec {

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

package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** Driver-run benchmark: times every registered query at the given scale
  * factor and prints one JSON line.
  *
  * Each query is forced through a full-output hash-reduce
  * (`bit_xor(xxhash64(struct(*)))`) rather than `count()` — under a bare
  * count Catalyst prunes unused projections and whole Window operators,
  * so narrow transforms would be timed without computing their output.
  * A query failure fails the whole run (rc=1) instead of being silently
  * recorded as a fast success.
  */
object Bench {
  /** The 56 queries constituting the round-2 253.5 s standing baseline
    * (BENCH_r02.json's registry) — the registry has since grown 3.5×, so
    * the full-run total is not comparable across rounds; the sum over
    * THIS set is, and is emitted as `baseline56_sec` in every bench line
    * so the artifact carries its own like-for-like number.
    */
  private val Baseline56: Set[String] = Set(
    "d1_knn", "d2_rf_detector", "d3_svm_detector", "d4_gbt_detector",
    "d5_xgb_detector", "d6_lgbm_detector", "d7_catboost_detector",
    "d8_hyper_search", "f1_ewma_last", "f2_holt_last", "f3_moving_average",
    "f3_moving_average_valid", "f4_median_filter", "f5_bandpass_dc",
    "f6_kalman_last", "g1_segment_stats", "g2_resample_cubic",
    "g2_resample_linear", "g2_resample_nearest", "g3_spline_upsample",
    "g4_failure_encoder", "m1_linear_sim", "m2_discrete_sim",
    "m3_nonlinear_sim", "m4_discrete_nonlinear", "m5_generator",
    "o1_matrix_kalman", "o2_luenberger", "o3_sliding_mode",
    "q1_pricing_summary", "q3_unshipped_orders", "q5_revenue_by_nation",
    "q6_forecast_revenue", "s1_standard_scaler", "s2_minmax_scaler",
    "s3_robust_scaler", "t1_lag_features", "t2_downsample_minmax",
    "t3_forecast_eval", "x10_hourly_agg", "x11_props_json",
    "x12_simhash_dup", "x13_worddup", "x14_embed_dup",
    "x15_payload_entropy", "x16_winnow_dup", "x17_ann_ivf",
    "x1_exact_dedup", "x2_neardup", "x3_ann_lsh", "x4_cosine_topk",
    "x5_token_stats", "x6_quality_score", "x7_language_id",
    "x8_bpeish_tokens", "x9_sessionize")
  /** 1/5/15-min load averages from /proc/loadavg, or NaNs off-Linux.
    * Recorded before and after the run so a co-tenant burst that inflates
    * timings is visible in the artifact itself (BASELINE.md documents
    * idle-host reruns measuring 3-5x lower totals than loaded-host runs —
    * without these fields that was undecidable from BENCH_r*.json alone).
    */
  private def loadAvg(): Seq[Double] =
    try {
      scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split("\\s+").take(3).toSeq.map(_.toDouble)
    } catch { case _: Throwable => Seq(Double.NaN, Double.NaN, Double.NaN) }

  /** The timed action's frame: `bit_xor` of the `xxhash64` of every
    * output row of `df`.
    */
  def hashReduce(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
      .agg(expr("bit_xor(__h)"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
    // Optional comma-separated query-name filter for targeted local timing
    // (unset by the round driver → full registry).
    val only = Session.only
    var failed = List.empty[String]
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Warm the JVM/codegen/parquet-footer paths once so the first timed
    // query doesn't absorb several seconds of one-off session cost. The
    // second block runs the sketch-dedup operators on a 64-doc slice: the
    // md5-shingle explode, the typed sketch aggregates, banding and the
    // pair-gen mapPartitions serde are JIT/codegen-compiled here, NOT in
    // whichever heavy query happens to run first (measured: the first
    // sketch query otherwise carries ~3 s of one-off compilation, making
    // per-query numbers depend on registry order).
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Tables.events(spark, sfDir).limit(1).collect()
      val docs = Tables.documents(spark, sfDir).limit(64).cache()
      docs.count()
      graft.text.TextOps.nearDupPairs(docs, "doc_id", "text").collect()
      graft.text.TextOps.simHashDupPairs(docs, "doc_id",
        graft.text.TextOps.charShingles(col("text"), 5)).collect()
      docs.unpersist(blocking = false)
      // MLlib fit warm-up: the first classifier fit in a session pays
      // ~3-4 s of one-off BLAS/L-BFGS/tree JIT + codegen. Round-9
      // adjudication measured the SAME d3 query at 7.3 s when first in
      // registry order and 2.3 s otherwise — and registry order shifts
      // every round as queries are added, so without this the spike
      // wanders between rounds masquerading as a per-query regression.
      val toy = spark.range(64).selectExpr(
        "cast(array(id % 7, id % 5, id % 3) as array<double>) as f",
        "cast(id % 2 as int) as y")
      new graft.ml.SVMFaultDetector(maxIter = 2, rffFeatures = 8)
        .fit(toy, "f", "y").predict(toy, "f").collect()
      new graft.ml.GradientBoostingFaultDetector(nEstimators = 2)
        .fit(toy, "f", "y").predict(toy, "f").collect()
    } catch { case _: Throwable => }
    // disk-write probe brackets the run: loadavg misses IO co-tenancy
    // (round-7: 9.6 MB/s fsync writes on an idle-CPU host), so record it
    val ioBefore = Scratch.diskWriteMbps()
    val wakeBefore = Scratch.wakeLatencyMicros()
    val loadBefore = loadAvg()
    val results = selected.map { case (name, fn) =>
      System.err.println(s"[bench] ${java.time.Instant.now()} running $name")
      val t0 = System.nanoTime()
      try Watchdog.run(spark, name)(hashReduce(fn(spark, sfDir)).collect())
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        failed ::= name
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val loadAfter = loadAvg()
    val ioAfter = Scratch.diskWriteMbps()
    val wakeAfter = Scratch.wakeLatencyMicros()
    // The driver keeps only the LAST 2000 chars of stdout and parses what
    // survives; with 90+ queries the full line is >2.5 KB, so its HEAD
    // (including the total) was lost three rounds running. Emit the full
    // line first (it lands verbatim in BENCH_LAST.json regardless), then a
    // compact summary line — total + probes, no per-query map, ~300 bytes —
    // as the FINAL stdout line so the tail capture always holds one
    // complete parseable JSON object.
    // Locale.ROOT everywhere: f"%.3f" under a comma-decimal default locale
    // would emit invalid JSON.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // like-for-like vs the 253.5 s round-2 baseline (see Baseline56)
    val base56 = results.collect {
      case (k, v) if Baseline56.contains(k) => v }.sum
    def loadJson(l: Seq[Double]) = l.map(d => if (d.isNaN) "null" else d.toString)
      .mkString("[", ",", "]")
    def num(d: Double) = if (d.isNaN) "null" else d.toString
    val probes = s""""baseline56_sec":${f3(base56)},"load_before":${loadJson(loadBefore)},"load_after":${loadJson(loadAfter)},"io_mbps_before":${num(ioBefore)},"io_mbps_after":${num(ioAfter)},"wake_us_before":${num(wakeBefore)},"wake_us_after":${num(wakeAfter)},"cpus":$cpus,"sf":"$sfDir""""
    // Targeted SPARK_GRAFT_ONLY runs land in BENCH_SUBSET.json so a
    // spike-adjudication rerun can never clobber the driver's canonical
    // full-registry artifact (it happened in round 10 — a judge's subset
    // run overwrote the per-query map the driver had just recorded).
    val outFile = if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_LAST.json"
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,$probes}"""
    val summary = s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${results.size},"queries":"see $outFile",$probes}"""
    println(line)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Exception => }
    println(summary)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Filters
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.SeriesPoint

/** Streaming recurrences must produce EXACTLY the batch results when fed
  * the same rows — state carries across micro-batch boundaries.
  */
class StreamingSpec extends SparkSpec {

  private def runStream(
      batches: Seq[Seq[SeriesPoint]],
      mk: org.apache.spark.sql.Dataset[SeriesPoint] => org.apache.spark.sql.Dataset[StreamingOps.ScanOut]
  ): Seq[StreamingOps.ScanOut] = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[SeriesPoint]
    val q = mk(mem.toDS())
      .writeStream.format("memory").queryName("scanout")
      .option("checkpointLocation", freshCkpt())
      .outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      spark.table("scanout").as[StreamingOps.ScanOut]
        .collect().sortBy(p => (p.series_id, p.t)).toSeq
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS scanout")
    }
  }

  val vals = Seq(5.0, 1.0, 4.0, 2.0, 8.0, 3.0)

  test("streaming EWMA across micro-batches matches batch EWMA") {
    val pts = vals.zipWithIndex.map { case (v, i) => SeriesPoint("a", i.toLong, v) }
    // split mid-series: state must survive the batch boundary
    val got = runStream(Seq(pts.take(2), pts.slice(2, 5), pts.drop(5)),
      ds => StreamingOps.ewmaStream(ds, alpha = 0.3))
    val batch = Filters.exponentialSmoothing(
      seriesDf("a" -> vals), Seq("series_id"), Seq("t"), "value", "out", alpha = 0.3)
    assertSeqAlmost(got.map(_.out), outSeries(batch, "a", "out"))
  }

  test("streaming Kalman across micro-batches matches batch Kalman") {
    val pts = vals.zipWithIndex.map { case (v, i) => SeriesPoint("a", i.toLong, v) }
    val got = runStream(Seq(pts.take(1), pts.slice(1, 4), pts.drop(4)),
      ds => StreamingOps.kalmanStream(ds, q = 0.5, r = 2.0))
    val batch = Filters.kalmanScalar(
      seriesDf("a" -> vals), Seq("series_id"), Seq("t"), "value", "out",
      q = 0.5, r = 2.0)
    assertSeqAlmost(got.map(_.out), outSeries(batch, "a", "out"))
  }

  test("streaming Holt matches batch Holt, first point deferred across batches") {
    val pts = vals.zipWithIndex.map { case (v, i) => SeriesPoint("a", i.toLong, v) }
    // batch boundary BETWEEN the first and second point: the buffered
    // first row must survive in state and emit when its successor arrives
    val got = runStream(Seq(pts.take(1), pts.slice(1, 4), pts.drop(4)),
      ds => StreamingOps.holtStream(ds, alpha = 0.3, beta = 0.1))
    val batch = Filters.doubleExponentialSmoothing(
      seriesDf("a" -> vals), Seq("series_id"), Seq("t"), "value", "out",
      alpha = 0.3, beta = 0.1)
    assertSeqAlmost(got.map(_.out), outSeries(batch, "a", "out"))
  }

  test("streaming keeps independent state per series") {
    val a = Seq(1.0, 2.0, 3.0)
    val b = Seq(10.0, 20.0)
    val pts = a.zipWithIndex.map { case (v, i) => SeriesPoint("a", i.toLong, v) } ++
      b.zipWithIndex.map { case (v, i) => SeriesPoint("b", i.toLong, v) }
    val got = runStream(Seq(pts.take(2), pts.drop(2)),
      ds => StreamingOps.ewmaStream(ds, alpha = 0.5))
    val batch = Filters.exponentialSmoothing(
      seriesDf("a" -> a, "b" -> b), Seq("series_id"), Seq("t"), "value", "out",
      alpha = 0.5)
    assertSeqAlmost(got.filter(_.series_id == "a").map(_.out), outSeries(batch, "a", "out"))
    assertSeqAlmost(got.filter(_.series_id == "b").map(_.out), outSeries(batch, "b", "out"))
  }

  test("streaming matrix Kalman matches the batch observer across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.observers.Observers
    // 2-state constant-velocity model observed through position
    val kf = Observers.MatrixKalman(
      f = Array(Array(1.0, 0.1), Array(0.0, 1.0)),
      b = Array(Array(0.0), Array(0.0)),
      h = Array(Array(1.0, 0.0)),
      q = Array(Array(0.01, 0.0), Array(0.0, 0.01)),
      r = Array(Array(0.5)))
    val x0 = Array(0.0, 0.0)
    val p0 = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val zs = Seq(0.1, 0.25, 0.45, 0.6, 0.82, 1.01)
    val pts = zs.zipWithIndex.map { case (z, i) =>
      StreamingOps.VecPoint("a", i.toLong, Seq(z), Seq.empty)
    }
    val mem = MemoryStream[StreamingOps.VecPoint]
    val q = StreamingOps.matrixKalmanStream(mem.toDS(), kf, x0.toSeq, p0.map(_.toSeq).toSeq)
      .writeStream.format("memory").queryName("mkal")
      .option("checkpointLocation", freshCkpt()).outputMode("append").start()
    val got = try {
      Seq(pts.take(2), pts.slice(2, 5), pts.drop(5)).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
      spark.table("mkal").as[StreamingOps.VecScanOut]
        .collect().sortBy(_.t).map(_.xhat).toSeq
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS mkal") }
    val batchDf = Observers.kalman(
      seriesDf("a" -> zs), Seq("series_id"), Seq("t"), Seq("value"), Nil,
      kf, x0, p0)
    val exp = batchDf.orderBy(col("t")).select(col("x_hat"))
      .collect().map(_.getSeq[Double](0)).toSeq
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) => assertSeqAlmost(g, e) }
  }

  test("streaming Luenberger matches the batch observer across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.observers.Observers
    val a = Array(Array(0.0, 1.0), Array(-2.0, -0.5))
    val b = Array(Array(0.0), Array(1.0))
    val c = Array(Array(1.0, 0.0))
    val obs = Observers.LuenbergerObserver(a, b, c, dt = 0.01,
      desiredPoles = Some(Seq(-8.0, -9.0)))
    val ys = Seq(1.0, 0.9, 0.85, 0.7, 0.6, 0.45, 0.3, 0.2)
    val pts = ys.zipWithIndex.map { case (y, i) =>
      StreamingOps.VecPoint("a", i.toLong, Seq(y), Seq.empty)
    }
    val mem = MemoryStream[StreamingOps.VecPoint]
    val q = StreamingOps.luenbergerStream(mem.toDS(), obs, Seq(0.0, 0.0))
      .writeStream.format("memory").queryName("luen")
      .option("checkpointLocation", freshCkpt()).outputMode("append").start()
    val got = try {
      Seq(pts.take(3), pts.slice(3, 6), pts.drop(6)).foreach { bb =>
        mem.addData(bb: _*); q.processAllAvailable()
      }
      spark.table("luen").as[StreamingOps.VecScanOut]
        .collect().sortBy(_.t).map(_.xhat).toSeq
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS luen") }
    val batchDf = Observers.luenberger(
      seriesDf("a" -> ys), Seq("series_id"), Seq("t"), Seq("value"), Nil,
      obs, Array(0.0, 0.0))
    val exp = batchDf.orderBy(col("t")).select(col("x_hat"))
      .collect().map(_.getSeq[Double](0)).toSeq
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) => assertSeqAlmost(g, e) }
  }

  test("streaming sliding-mode matches the batch observer across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.observers.Observers
    val a = Array(Array(-1.0)); val b = Array(Array(1.0)); val c = Array(Array(1.0))
    val dt = 0.01
    val obs = Observers.SlidingModeObserver(a, b, c, desiredPoles = Some(Seq(-3.0)))
    val ys = Seq(2.0, 1.8, 1.65, 1.5, 1.38, 1.25, 1.15, 1.05)
    val pts = ys.zipWithIndex.map { case (y, i) =>
      StreamingOps.VecPoint("a", i.toLong, Seq(y), Seq(0.5))
    }
    val mem = MemoryStream[StreamingOps.VecPoint]
    val q = StreamingOps.slidingModeStream(mem.toDS(), obs, Seq(0.0), dt)
      .writeStream.format("memory").queryName("smo")
      .option("checkpointLocation", freshCkpt()).outputMode("append").start()
    val got = try {
      Seq(pts.take(2), pts.slice(2, 5), pts.drop(5)).foreach { bb =>
        mem.addData(bb: _*); q.processAllAvailable()
      }
      spark.table("smo").as[StreamingOps.VecScanOut]
        .collect().sortBy(_.t).map(_.xhat).toSeq
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS smo") }
    val batchDf = Observers.slidingMode(
      seriesDf("a" -> ys).withColumn("u", lit(0.5)),
      Seq("series_id"), Seq("t"), Seq("value"), Seq("u"),
      obs, Array(0.0), dt)
    val exp = batchDf.orderBy(col("t")).select(col("x_hat"))
      .collect().map(_.getSeq[Double](0)).toSeq
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) => assertSeqAlmost(g, e) }
  }

  test("sessionAgg groups rows separated by less than the gap (batch mode)") {
    import spark.implicits._
    val rows = Seq(
      ("u1", Timestamp.valueOf("2026-01-01 00:00:00"), 1.0),
      ("u1", Timestamp.valueOf("2026-01-01 00:10:00"), 2.0),
      ("u1", Timestamp.valueOf("2026-01-01 02:00:00"), 3.0), // new session
      ("u2", Timestamp.valueOf("2026-01-01 00:05:00"), 4.0)
    ).toDF("user_id", "ts", "value")
    val out = StreamingOps.sessionAgg(rows, "ts", Seq("user_id"), gap = "30 minutes")
    val u1 = out.filter(col("user_id") === "u1").orderBy(col("session_start")).collect()
    assert(u1.length == 2)
    assert(u1(0).getAs[Long]("n_events") == 2)
    assert(u1(1).getAs[Long]("n_events") == 1)
    assert(out.filter(col("user_id") === "u2").count() == 1)
  }

  test("streaming sessionAgg matches batch Sessionize gap-sessionization (x9 parity)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // gap = 600 s; per-user sessions: u1 → {0,100,300}, {1000,1200};
    // u2 → {50}, {700,750}; u3 → {10}. Event times stay clear of the exact
    // gap boundary (batch uses >gap, session_window uses >=gap there).
    val ev = Seq(
      ("u1", 0L), ("u3", 10L), ("u2", 50L), ("u1", 100L), ("u1", 300L),
      ("u2", 700L), ("u2", 750L), ("u1", 1000L),
      ("u1", 1200L))
    val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime // epoch ms
    def tsOf(s: Long) = new Timestamp(base + s * 1000)
    // micro-batches split mid-session (u1's {1000,1200} spans two) and
    // time-ordered so the 1 s watermark never drops a live row
    val batches = Seq(ev.take(5), ev.slice(5, 8), ev.drop(8))
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.sessionAgg(mem.toDF().toDF("ts", "user_id", "value"),
      "ts", Seq("user_id"), gap = "10 minutes", delay = "1 second")
      .writeStream.format("memory").queryName("sessparity")
      .option("checkpointLocation", freshCkpt()).outputMode("append").start()
    val got = try {
      batches.foreach { b =>
        mem.addData(b.map { case (u, s) => (tsOf(s), u, 1.0) }: _*)
        q.processAllAvailable()
      }
      // close the open sessions: advance the watermark far past every gap,
      // then one more batch so the closed sessions flush through append mode
      mem.addData((tsOf(100000L), "zz", 0.0)); q.processAllAvailable()
      mem.addData((tsOf(200000L), "zz", 0.0)); q.processAllAvailable()
      spark.table("sessparity").filter(col("user_id") =!= "zz").collect()
        .map(r => (r.getString(r.fieldIndex("user_id")),
          r.getTimestamp(r.fieldIndex("session_start")).getTime,
          // session_window end = last event + gap; undo it for min/max parity
          r.getTimestamp(r.fieldIndex("session_end")).getTime - 600000L,
          r.getLong(r.fieldIndex("n_events")))).toSet
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS sessparity") }
    // batch analogue: the x9 operator on the same rows as epoch-ms longs
    val evDf = ev.map { case (u, s) => (u, base + s * 1000) }.toDF("user_id", "ts_ms")
    val exp = graft.operators.Sessionize.sessionize(
      evDf, Seq("user_id"), "ts_ms", Seq("ts_ms"), gap = 600000L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_ms")).as("s"), max(col("ts_ms")).as("e"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(r.fieldIndex("s")),
        r.getLong(r.fieldIndex("e")), r.getLong(r.fieldIndex("n")))).toSet
    assert(got == exp, s"streaming $got != batch $exp")
  }

  test("tumblingAgg buckets by fixed windows (batch mode)") {
    import spark.implicits._
    val rows = Seq(
      ("u1", Timestamp.valueOf("2026-01-01 00:15:00"), 2.0),
      ("u1", Timestamp.valueOf("2026-01-01 00:45:00"), 4.0),
      ("u1", Timestamp.valueOf("2026-01-01 01:05:00"), 6.0)
    ).toDF("user_id", "ts", "value")
    val out = StreamingOps.tumblingAgg(rows, "ts", Seq("user_id"), width = "1 hour")
    val got = out.orderBy(col("window_start")).collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("n_events") == 2)
    assert(got(0).getAs[Double]("avg_value") == 3.0)
    assert(got(1).getAs[Long]("n_events") == 1)
  }

  test("streaming session window emits closed sessions under watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
    val q = StreamingOps.sessionAgg(df, "ts", Seq("user_id"),
      gap = "10 minutes", delay = "1 minute")
      .writeStream.format("memory").queryName("sess")
      .option("checkpointLocation", freshCkpt()).outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2026-01-01 00:00:00"), "u1", 1.0),
        (Timestamp.valueOf("2026-01-01 00:05:00"), "u1", 2.0))
      q.processAllAvailable()
      // advance the watermark far past the session gap → session closes
      mem.addData((Timestamp.valueOf("2026-01-01 01:00:00"), "u1", 9.0))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2026-01-01 02:00:00"), "u1", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
      assert(rows.exists(r => r.getAs[Long]("n_events") == 2),
        s"expected the 2-event session to be emitted, got ${rows.mkString(";")}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sess")
    }
  }

  test("dropDuplicatesWithinWatermark: dups inside the horizon drop, late re-emissions survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (key, epoch-seconds)
    val q = mem.toDF().toDF("key", "ts")
      .withColumn("event_time", timestamp_seconds(col("ts")))
      .withWatermark("event_time", "10 seconds")
      .dropDuplicatesWithinWatermark("key")
      .select(col("key"), col("ts"))
      .writeStream.format("memory").queryName("dd_sink")
      .option("checkpointLocation", freshCkpt())
      .outputMode("append").start()
    try {
      // batch 1: key 1 at t=100; batch 2: a dup of key 1 at t=105 —
      // watermark (100-10=90) has not evicted the key → suppressed
      mem.addData((1L, 100L)); q.processAllAvailable()
      mem.addData((1L, 105L)); q.processAllAvailable()
      // batch 3: push the watermark far past 100+10 (key 2 at t=1000
      // → watermark 990), evicting key 1's state
      mem.addData((2L, 1000L)); q.processAllAvailable()
      // batch 4: key 1 re-emitted AFTER eviction → a NEW first occurrence
      mem.addData((1L, 1005L)); q.processAllAvailable()
      val got = spark.table("dd_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L), (2L, 1000L), (1L, 1005L)),
        s"horizon semantics violated: $got")
    } finally q.stop()
  }

  /** A memory-sink query over a fresh `MemoryStream[Long]`, for [[StreamingOps.drive]]. */
  private def longSink(name: String) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = mem.toDF().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", freshCkpt()).outputMode("append").start()
    (mem, q)
  }

  test("drive throws once its deadline has passed, and stops the query") {
    val (mem, q) = longSink("drive_deadline")
    try {
      val e = intercept[RuntimeException] {
        StreamingOps.drive(q, "t0", deadlineSec = 0)(Seq(1L))(mem.addData(_))
      }
      assert(e.getMessage == "t0 stream exceeded its 0s deadline")
      assert(!q.isActive && spark.streams.active.isEmpty)
      assert(spark.table("drive_deadline").count() == 0, "a step was fed after the deadline")
    } finally spark.sql("DROP TABLE IF EXISTS drive_deadline")
  }

  test("drive processes each step before the next, propagates a failing feed, and stops the query") {
    val (mem, q) = longSink("drive_feed")
    try {
      val e = intercept[IllegalStateException] {
        StreamingOps.drive(q, "t1")(Seq(1L, 2L, 3L)) { b =>
          if (b == 3L) throw new IllegalStateException("feed failed")
          mem.addData(b)
        }
      }
      assert(e.getMessage == "feed failed")
      assert(!q.isActive && spark.streams.active.isEmpty)
      assert(spark.table("drive_feed").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    } finally spark.sql("DROP TABLE IF EXISTS drive_feed")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming execution mode for the keyed recurrence operators
  * (SURVEY §2.9). The reference has no streaming runtime — its observers
  * are row-at-a-time objects with mutable state
  * (`fdi_flow/state_observers/kalman.py:17-24` `predict/update/step`),
  * which is exactly the `GroupState` contract — so these are the same
  * recurrences as [[graft.operators.Filters]] re-hosted on Structured
  * Streaming: `groupByKey(series)` → `flatMapGroupsWithState` with O(1)
  * state per series, one output row per input row (Append mode).
  *
  * Ordering: within a micro-batch each group's rows are sorted by `t`
  * before entering the recurrence; cross-batch order is the arrival
  * order. For event-time correctness feed an ordered-per-key source
  * (e.g. Kafka partitions keyed by series) or pre-sort with a watermark
  * stage — same contract as any stateful streaming recurrence.
  *
  * State is a tiny case-class per series (product encoder, no kryo), so
  * the state store scales with #series, not #rows — the 100 TB shape.
  */
object StreamingOps {

  /** Run `start` (a `writeStream...start()` call) under the micro-batch
    * session confs every stateful harness in this repo wants, restoring
    * the caller's values afterwards (streaming queries clone the session
    * at start, so the pinned values stick to the query):
    *
    *  - `spark.sql.shuffle.partitions` = `parts` (default 2): one state
    *    store open/commit PER partition PER micro-batch — 32 partitions
    *    hung the round-6 gates on MB-scale batches; a deployment sizes
    *    this to its state volume, not its core count.
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` = false: the
    *    engine otherwise runs an EXTRA zero-row micro-batch after every
    *    data batch that advances the watermark — full per-batch planning
    *    + a state-store commit cycle each, for queries whose flush
    *    device is already the explicit far-future sentinel BATCHES (the
    *    x33 sentinel-closure contract: sentinel 1 advances the
    *    watermark, sentinel 2 is the batch that emits). Every kernel
    *    here is `GroupStateTimeout.NoTimeout` or watermark-append, so a
    *    no-data batch can only re-run planning and eviction the next
    *    data batch performs anyway; measured ~0.5 s per no-data batch at
    *    bench SF (≈half of x101's micro-batches were no-data). Output
    *    row sets are oracle-identical by construction and verified.
    *
    * `keepNoData = true` opts a harness back into the engine default:
    * watermark updates only become EFFECTIVE for the drop rule once a
    * batch runs after the update, and the no-data batch is what runs
    * "between" data batches — so a query whose ORACLE pins the
    * watermark-during-batch-k = max-event-time-of-batches-<k drop rule
    * (x93's late-data accounting) needs the no-data batches to keep its
    * row set; without them late rows are judged one batch staler
    * (measured: x93 3298 → 3385 rows, oracle FAIL). Emission-only
    * consumers (x33/x34/x50/x53/x101: every window eventually closed by
    * the sentinel data batches, whole-sink aggregation) are
    * timing-invariant and keep the default false.
    *
    * The confs are session-wide, so the set/start/restore window holds a
    * lock on the session: two harnesses starting queries on one session
    * at once take turns, and neither restores over the other's values
    * while the other's query is starting.
    */
  def withBatchConfs[T](
      s: org.apache.spark.sql.SparkSession, parts: String = "2",
      keepNoData: Boolean = false)(start: => T): T = s.synchronized {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData =
      s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", parts)
    if (!keepNoData)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try start
    finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
  }

  /** Drive a started query through `steps`, the micro-batch loop of every
    * MemoryStream harness in this repo: for each step, check the deadline,
    * `feed` the step to the query's source(s) and wait until the query
    * has processed everything fed so far. The query is stopped on the way
    * out, whether the loop ends, times out or `feed` throws.
    *
    * The deadline stops THIS stream: `graft.Watchdog` can cancel batch
    * jobs, but not a streaming query's execution thread.
    */
  def drive[B](q: StreamingQuery, tag: String, deadlineSec: Int = 120)(
      steps: Iterable[B])(feed: B => Unit): Unit = {
    val deadline = System.nanoTime() + deadlineSec * 1000000000L
    try steps.foreach { step =>
      if (System.nanoTime() >= deadline)
        throw new RuntimeException(s"$tag stream exceeded its ${deadlineSec}s deadline")
      feed(step)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** A fresh checkpoint directory for one run of harness `tag`, on
    * RAM-backed scratch: state commits on a throttled disk stall the
    * micro-batches.
    */
  def checkpointDir(tag: String): String =
    s"${graft.Scratch.dir}/${tag}_ckpt_${System.nanoTime()}"

  /** Long-format streaming sample: one point of one series. */
  case class SeriesPoint(series_id: String, t: Long, value: Double)

  /** Input point + recurrence output. */
  case class ScanOut(series_id: String, t: Long, value: Double, out: Double)

  /** EWMA state / scalar-Kalman state as product types (StateStore-encodable). */
  case class EwmaState(s: Double)
  case class KalmanState(x: Double, p: Double)

  /** Streaming EWMA — identical recurrence to
    * `Filters.exponentialSmoothing` (reference `filters.py:69-74`):
    * `s[0]=x[0]; s[i]=α·x[i]+(1−α)·s[i−1]`, state carried across
    * micro-batches per series.
    */
  def ewmaStream(ds: Dataset[SeriesPoint], alpha: Double = 0.3): Dataset[ScanOut] = {
    require(alpha > 0 && alpha < 1, "Alpha must be between 0 and 1")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.series_id)
      .flatMapGroupsWithState[EwmaState, ScanOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[SeriesPoint], state: GroupState[EwmaState]) =>
          val sorted = rows.toArray.sortBy(_.t)
          var st = state.getOption
          val out = sorted.map { p =>
            val s2 = st match {
              case None => p.value
              case Some(EwmaState(s)) => alpha * p.value + (1 - alpha) * s
            }
            st = Some(EwmaState(s2))
            ScanOut(p.series_id, p.t, p.value, s2)
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Holt streaming state: either one buffered first point (`pending` —
    * the reference's `trend[0] = x[1] − x[0]` needs the second sample) or
    * the running `(level, trend)` pair.
    */
  case class HoltState(
      pending: Boolean, px: Double, pt: Long,
      running: Boolean, level: Double, trend: Double)

  /** Streaming Holt double exponential smoothing — identical recurrence
    * to `Filters.doubleExponentialSmoothing` (reference
    * `filters.py:106-119`, emits `level + trend`). The first point of a
    * series is BUFFERED until its successor arrives (its output needs
    * `trend[0] = x[1] − x[0]`), then both rows emit in order; a series
    * that never receives a second point keeps its first row pending — the
    * streaming analogue of the batch n<2 guard (a stream cannot know the
    * series ended).
    */
  def holtStream(
      ds: Dataset[SeriesPoint],
      alpha: Double = 0.3,
      beta: Double = 0.1): Dataset[ScanOut] = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "Alpha and beta must be between 0 and 1")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.series_id)
      .flatMapGroupsWithState[HoltState, ScanOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sid: String, rows: Iterator[SeriesPoint], state: GroupState[HoltState]) =>
          val sorted = rows.toArray.sortBy(_.t)
          var st = state.getOption.getOrElse(
            HoltState(pending = false, 0d, 0L, running = false, 0d, 0d))
          val out = scala.collection.mutable.ArrayBuffer.empty[ScanOut]
          sorted.foreach { p =>
            if (st.running) {
              val level2 = alpha * p.value + (1 - alpha) * (st.level + st.trend)
              val trend2 = beta * (level2 - st.level) + (1 - beta) * st.trend
              out += ScanOut(sid, p.t, p.value, level2 + trend2)
              st = st.copy(level = level2, trend = trend2)
            } else if (st.pending) {
              val trend0 = p.value - st.px
              out += ScanOut(sid, st.pt, st.px, st.px + trend0)
              val level2 = alpha * p.value + (1 - alpha) * (st.px + trend0)
              val trend2 = beta * (level2 - st.px) + (1 - beta) * trend0
              out += ScanOut(sid, p.t, p.value, level2 + trend2)
              st = HoltState(pending = false, 0d, 0L, running = true, level2, trend2)
            } else {
              st = HoltState(pending = true, p.value, p.t, running = false, 0d, 0d)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming scalar Kalman — identical recurrence to
    * `Filters.kalmanScalar` (reference `filters.py:332-356`): first output
    * is the initial state (not measurement-updated), then
    * `p+=q; K=p/(p+r); x+=K(z−x); p=(1−K)p`.
    */
  def kalmanStream(
      ds: Dataset[SeriesPoint],
      q: Double = 1.0,
      r: Double = 1.0,
      x0: Option[Double] = None,
      p0: Double = 1.0): Dataset[ScanOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.series_id)
      .flatMapGroupsWithState[KalmanState, ScanOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[SeriesPoint], state: GroupState[KalmanState]) =>
          val sorted = rows.toArray.sortBy(_.t)
          var st = state.getOption
          val out = sorted.map { p =>
            val (st2, o) = st match {
              case None =>
                val x = x0.getOrElse(p.value)
                (KalmanState(x, p0), x)
              case Some(KalmanState(x, pp)) =>
                val pPred = pp + q
                val k = pPred / (pPred + r)
                val x2 = x + k * (p.value - x)
                (KalmanState(x2, (1 - k) * pPred), x2)
            }
            st = Some(st2)
            ScanOut(p.series_id, p.t, p.value, o)
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Vector measurement point of one series (`z` = measurement, `u` =
    * optional control input).
    */
  case class VecPoint(series_id: String, t: Long, z: Seq[Double], u: Seq[Double])

  /** Matrix-observer output: the state estimate after this measurement. */
  case class VecScanOut(series_id: String, t: Long, xhat: Seq[Double])

  /** Matrix-Kalman state: `x̂` and the flattened covariance `P`
    * (product-encodable for the state store; p is small — n² doubles).
    */
  case class MatKalmanState(x: Seq[Double], pFlat: Seq[Double])

  /** Streaming matrix Kalman observer (O1) — the same
    * `predict(u)`/`update(z)` recurrence as `Observers.kalman`
    * (reference `state_observers/kalman.py:26-90`) hosted on
    * `flatMapGroupsWithState`: per-series `(x̂, P)` state across
    * micro-batches. The reference's row-at-a-time `step()` object IS this
    * contract — mutable per-object state advanced one measurement at a
    * time.
    */
  def matrixKalmanStream(
      ds: Dataset[VecPoint],
      kf: graft.observers.Observers.MatrixKalman,
      x0: Seq[Double],
      p0: Seq[Seq[Double]]): Dataset[VecScanOut] = {
    import ds.sparkSession.implicits._
    val n = x0.length
    ds.groupByKey(_.series_id)
      .flatMapGroupsWithState[MatKalmanState, VecScanOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[VecPoint], state: GroupState[MatKalmanState]) =>
          val sorted = rows.toArray.sortBy(_.t)
          var st = state.getOption.getOrElse(
            MatKalmanState(x0, p0.flatten))
          val out = sorted.map { pt =>
            val p = Array.tabulate(n, n)((i, j) => st.pFlat(i * n + j))
            val u = if (pt.u == null || pt.u.isEmpty) None else Some(pt.u.toArray)
            val (x2, p2) = kf.step(st.x.toArray, p, pt.z.toArray, u)
            st = MatKalmanState(x2.toSeq, p2.flatten.toSeq)
            VecScanOut(pt.series_id, pt.t, x2.toSeq)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Observer estimate state: just `x̂` (Luenberger / sliding-mode carry
    * no covariance).
    */
  case class XhatState(x: Seq[Double])

  /** Streaming Luenberger observer (O2) — the same per-measurement
    * `x̂ ← x̂ + (Ax̂ + Bu − L(Cx̂ − y))·dt` recurrence as
    * `Observers.luenberger` (reference `state_observers/luenberger.py:
    * 77-102`) hosted on `flatMapGroupsWithState`: per-series `x̂` across
    * micro-batches, gain designed once at construction on the driver.
    * `VecPoint.z` carries the measurement `y`; empty `u` → zero control.
    */
  def luenbergerStream(
      ds: Dataset[VecPoint],
      obs: graft.observers.Observers.LuenbergerObserver,
      xHat0: Seq[Double]): Dataset[VecScanOut] = {
    import ds.sparkSession.implicits._
    val uZero = Seq.fill(obs.b(0).length)(0.0)
    ds.groupByKey(_.series_id)
      .flatMapGroupsWithState[XhatState, VecScanOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[VecPoint], state: GroupState[XhatState]) =>
          val sorted = rows.toArray.sortBy(_.t)
          var st = state.getOption.getOrElse(XhatState(xHat0))
          val out = sorted.map { pt =>
            val u = if (pt.u == null || pt.u.isEmpty) uZero else pt.u
            val x = obs.update(st.x.toArray, u.toArray, pt.z.toArray)
            st = XhatState(x.toSeq)
            VecScanOut(pt.series_id, pt.t, st.x)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming sliding-mode observer (O3) — the same per-measurement
    * `x̂ ← x̂ + (Ax̂ + Bu + LS + K·tanh(S/ε))·dt` recurrence as
    * `Observers.slidingMode` (reference `state_observers/sliding_mode.py:
    * 64-100`) on `flatMapGroupsWithState`; gains (L by pole placement,
    * K by the reference's norm heuristic) fixed at construction.
    */
  def slidingModeStream(
      ds: Dataset[VecPoint],
      obs: graft.observers.Observers.SlidingModeObserver,
      xHat0: Seq[Double],
      dt: Double): Dataset[VecScanOut] = {
    import ds.sparkSession.implicits._
    val uZero = Seq.fill(obs.b(0).length)(0.0)
    ds.groupByKey(_.series_id)
      .flatMapGroupsWithState[XhatState, VecScanOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[VecPoint], state: GroupState[XhatState]) =>
          val sorted = rows.toArray.sortBy(_.t)
          var st = state.getOption.getOrElse(XhatState(xHat0))
          val out = sorted.map { pt =>
            val u = if (pt.u == null || pt.u.isEmpty) uZero else pt.u
            val x = obs.step(st.x.toArray, pt.z.toArray, dt, u.toArray)
            st = XhatState(x.toSeq)
            VecScanOut(pt.series_id, pt.t, st.x)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Event-time session windows over a timestamped frame — works on both
    * batch and streaming DataFrames (`session_window` + watermark). The
    * batch analogue is `Sessionize.sessionize`; in streaming the watermark
    * bounds state: sessions close `gap` after their last event, late rows
    * beyond `delay` are dropped.
    */
  def sessionAgg(
      df: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      gap: String = "30 minutes",
      delay: String = "10 minutes"): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, delay) else df
    wm.groupBy(session_window(col(tsCol), gap) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"), avg(col("value")).as("avg_value"))
      .select(
        keyCols.map(col) ++ Seq(
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("avg_value")): _*)
  }

  /** Watermarked tumbling-window aggregate (streaming analogue of the
    * batch `Sessionize.tumbling` buckets).
    */
  def tumblingAgg(
      df: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      width: String = "1 hour",
      delay: String = "10 minutes"): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, delay) else df
    wm.groupBy(window(col(tsCol), width) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"), avg(col("value")).as("avg_value"))
      .select(
        keyCols.map(col) ++ Seq(
          col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("n_events"), col("avg_value")): _*)
  }
}

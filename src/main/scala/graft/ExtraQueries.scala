package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.forecast.{DeepForecaster, Forecast, TimeSeriesForecaster}
import graft.operators.{Filters, Segmenters}
import graft.streaming.StreamingOps
import graft.text.TextOps

/** Registry entries for operators that were implemented (and unit-tested)
  * in round 1 but not yet driver-checked: F5 bandpass, F3 valid-mode,
  * G2-nearest, G3 spline upsample, BPE-ish token counting.
  */
object ExtraQueries {

  /** Fitted-forest replay SQL stashed by the t3 run for its thunk oracle
    * (the fitted-state device — see `MlQueries.treeReplay`): rebuilds the
    * downsample(10) → global minmax → 8-lag/2-lead window chain in
    * DuckDB, applies each horizon's exported forest to the lag columns,
    * and recomputes the per-horizon RMSE over the held-out series.
    */
  @volatile private var t3Replay: Option[String] = None
  @volatile private var t4Replay: Option[String] = None

  /** t4's LSTM forward pass replayed in ANSI SQL — the deepest
    * fitted-state thunk in the registry: the trained flat parameter
    * vector (8 hidden units × 8 steps × 4 gates, d=1) is interpolated
    * as literals and the recurrence UNROLLED as 3 CTEs per time step
    * (gates z → cell c → hidden h), then the dense head and the RMSE
    * aggregate. Steps are `MATERIALIZED` so DuckDB's projection-merge
    * cannot substitute the (multiply-referenced) hidden columns into an
    * exponentially-blown expression. Accumulation order matches
    * [[graft.forecast.DeepNet]] exactly (bias, then W·x, then U·h in
    * unit order; `fg·c + ig·gg`; `og·tanh(c)`); `sigmoid` replays as
    * its defining formula and `tanh` via the `1 − 2/(1+exp(2z))`
    * identity (this DuckDB build lacks `tanh`) — both agree with the
    * JVM to ~1 ulp, invisible under the round-6 contract.
    */
  private def t4ReplaySql(fc: graft.forecast.DeepForecaster): String = {
    val cfg = fc.cfg
    require(!cfg.conv && cfg.d == 1, "replay covers the lstm architecture")
    require(cfg.t == 8 && cfg.os == 2,
      "the feature-window SQL below is written for timeSteps=8, outputStep=2")
    val p = fc.fittedParams
    val H = cfg.h; val T = cfg.t; val os = cfg.os
    def sig(z: String) = s"(1 / (1 + exp(-($z))))"
    def th(z: String) = s"(1 - 2 / (1 + exp(2 * ($z))))"
    def lit(v: Double) = s"(${v.toString})"
    // z_{gate,u} at step k (1-based): bias + W·x_{k-1} + Σ_v U·h{k-1}_v
    def z(block: Int, u: Int, k: Int): String = {
      val b = lit(p(cfg.offB + block * H + u))
      val w = lit(p(cfg.offW + (block * H + u) * cfg.d))
      val uTerms = (0 until H).map(v =>
        s" + ${lit(p(cfg.offU + (block * H + u) * H + v))} * h${k - 1}_$v")
        .mkString
      s"$b + $w * x${k - 1}$uTerms"
    }
    val s0 = (0 until H).map(u => s"0.0 AS h0_$u, 0.0 AS c0_$u").mkString(", ")
    val steps = (1 to T).map { k =>
      val gates = (0 until H).map { u =>
        s"${z(0, u, k)} AS zi${k}_$u, ${z(1, u, k)} AS zf${k}_$u, " +
          s"${z(2, u, k)} AS zg${k}_$u, ${z(3, u, k)} AS zo${k}_$u"
      }.mkString(",\n            ")
      val cells = (0 until H).map { u =>
        s"${sig(s"zf${k}_$u")} * c${k - 1}_$u + " +
          s"${sig(s"zi${k}_$u")} * ${th(s"zg${k}_$u")} AS c${k}_$u"
      }.mkString(",\n            ")
      val hid = (0 until H).map { u =>
        s"${sig(s"zo${k}_$u")} * ${th(s"c${k}_$u")} AS h${k}_$u"
      }.mkString(",\n            ")
      s"""g$k AS MATERIALIZED (
          SELECT *,
            $gates
          FROM s${k - 1}
        ), cc$k AS MATERIALIZED (
          SELECT *,
            $cells
          FROM g$k
        ), s$k AS MATERIALIZED (
          SELECT *,
            $hid
          FROM cc$k
        )"""
    }.mkString(", ")
    val preds = (0 until os).map { j =>
      val terms = (0 until H).map(u =>
        s" + ${lit(p(cfg.offWd + j * H + u))} * h${T}_$u").mkString
      s"${lit(p(cfg.offBd + j))}$terms AS p${j + 1}"
    }.mkString(",\n            ")
    val rmses = (1 to os).map(j =>
      s"round(sqrt(avg((p$j - y$j) * (p$j - y$j))), 6) AS rmse_y$j")
      .mkString(", ")
    s"""
        WITH s AS (
          SELECT event_id, event_type, ts, value,
            row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
          FROM events
        ), d AS (
          SELECT * FROM s WHERE (rn-1) % 10 = 0
        ), g AS (SELECT min(value) AS mn, max(value) AS mx FROM d),
        n AS (
          SELECT event_id, event_type, ts,
            CASE WHEN mx = mn THEN 0.0 ELSE (value - mn) / (mx - mn) END AS nv
          FROM d, g
        ), w AS (
          SELECT event_type,
            lag(nv, 7) OVER w AS x0, lag(nv, 6) OVER w AS x1,
            lag(nv, 5) OVER w AS x2, lag(nv, 4) OVER w AS x3,
            lag(nv, 3) OVER w AS x4, lag(nv, 2) OVER w AS x5,
            lag(nv, 1) OVER w AS x6, nv AS x7,
            lead(nv, 1) OVER w AS y1, lead(nv, 2) OVER w AS y2
          FROM n WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        ), f AS (
          SELECT * FROM w
          WHERE x0 IS NOT NULL AND y2 IS NOT NULL AND event_type = 'purchase'
        ), s0 AS (
          SELECT *, $s0 FROM f
        ), $steps
        SELECT $rmses,
          (SELECT count(*) FROM f) AS n_test_windows
        FROM (SELECT y1, y2,
            $preds
          FROM s$T)
    """.stripMargin.trim
  }

  private def t3ReplaySql(fc: TimeSeriesForecaster): String = {
    import org.apache.spark.ml.regression.RandomForestRegressionModel
    val Seq(m1, m2) = fc.fittedModels.map(_.asInstanceOf[RandomForestRegressionModel])
    val p1 = graft.ml.TreeSql.rfRegressionPredictSql(m1, i => s"x$i")
    val p2 = graft.ml.TreeSql.rfRegressionPredictSql(m2, i => s"x$i")
    s"""
        WITH s AS (
          SELECT event_id, event_type, ts, value,
            row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
          FROM events
        ), d AS (
          SELECT * FROM s WHERE (rn-1) % 10 = 0
        ), g AS (SELECT min(value) AS mn, max(value) AS mx FROM d),
        n AS (
          SELECT event_id, event_type, ts,
            CASE WHEN mx = mn THEN 0.0 ELSE (value - mn) / (mx - mn) END AS nv
          FROM d, g
        ), w AS (
          SELECT event_type,
            lag(nv, 7) OVER w AS x0, lag(nv, 6) OVER w AS x1,
            lag(nv, 5) OVER w AS x2, lag(nv, 4) OVER w AS x3,
            lag(nv, 3) OVER w AS x4, lag(nv, 2) OVER w AS x5,
            lag(nv, 1) OVER w AS x6, nv AS x7,
            lead(nv, 1) OVER w AS y1, lead(nv, 2) OVER w AS y2
          FROM n WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        ), f AS (
          SELECT * FROM w
          WHERE x0 IS NOT NULL AND y2 IS NOT NULL AND event_type = 'purchase'
        ), p AS (
          SELECT y1, y2,
            $p1 AS p1,
            $p2 AS p2
          FROM f
        )
        SELECT round(sqrt(avg((p1 - y1) * (p1 - y1))), 6) AS rmse_y1,
          round(sqrt(avg((p2 - y2) * (p2 - y2))), 6) AS rmse_y2,
          (SELECT count(*) FROM f) AS n_test_windows
        FROM p
    """.stripMargin.trim
  }

  private def ev(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir)

  /** First `limit` rows of each series in (ts, event_id) order — used by
    * the cubic-spline queries so the DuckDB oracle's Thomas-sweep
    * recursion is `limit`-deep instead of corpus-deep (the recursive CTE
    * pays per-iteration overhead; 2000-deep was ~90 s of oracle wall,
    * 256-deep is seconds, and the spline math exercised is identical).
    */
  private def evSlice(
      s: org.apache.spark.sql.SparkSession, dir: String, limit: Int) = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    ev(s, dir).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= limit).drop("__rn")
  }

  val defs: Seq[QueryDef] = Seq(

    // ── F5: FFT bandpass, DC-projection oracle ──
    // Passband [0, 1e-9] keeps ONLY the DC bin, so the filtered series
    // must equal the series mean at EVERY sample — an end-to-end
    // invariant DuckDB can check without an FFT: dc_mean = avg(value)
    // and max deviation from it rounds to exactly 0. Any FFT/IFFT bug
    // (scaling, bin mapping, Bluestein chirp) breaks it.
    QueryDef(
      "f5_bandpass_dc",
      (s, dir) => {
        val bp = Filters.bandpass(ev(s, dir), Seq("event_type"),
          Seq("ts", "event_id"), "value", "__bp",
          lowCutoff = 0.0, highCutoff = 1e-9, sampleRate = 1.0)
        val w = Window.partitionBy(col("event_type"))
        bp.withColumn("__mean", avg(col("value")).over(w))
          .groupBy(col("event_type"))
          .agg(
            round(avg(col("__bp")), 6).as("dc_mean"),
            round(max(abs(col("__bp") - col("__mean"))), 6).as("max_dev"))
      },
      Some("""
        SELECT event_type, round(avg(value), 6) AS dc_mean,
          CAST(0.0 AS DOUBLE) AS max_dev
        FROM events GROUP BY event_type
      """.stripMargin.trim)),

    // ── F3 valid mode: output w−1 rows shorter per series ──
    QueryDef(
      "f3_moving_average_valid",
      (s, dir) => {
        Filters.movingAverageValid(ev(s, dir), Seq("event_type"),
          Seq("ts", "event_id"), "value", "__ma", windowSize = 7)
          .select(col("event_id"), col("event_type"),
            round(col("__ma"), 6).as("ma_value"))
      },
      Some("""
        WITH b AS (
          SELECT event_id, event_type, value,
            row_number() OVER w AS rn, count(*) OVER (PARTITION BY event_type) AS n,
            avg(value) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma
          FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        SELECT event_id, event_type,
          round(CASE WHEN n < 7 THEN value ELSE ma END, 6) AS ma_value
        FROM b WHERE n < 7 OR rn >= 7
      """.stripMargin.trim)),

    // ── G2 nearest-neighbor resampling (scipy tie-break DOWNWARD) ──
    QueryDef(
      "g2_resample_nearest",
      (s, dir) => {
        Segmenters.resample(ev(s, dir), Seq("event_type"),
          Seq("ts", "event_id"), "value", targetSize = 100, method = "nearest")
          .select(col("event_type"), col("idx"),
            round(col("value"), 6).as("value"))
      },
      Some("""
        WITH o AS (
          SELECT event_type, value,
            row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ), grid AS (
          SELECT event_type, n, unnest(generate_series(0, 99)) AS idx
          FROM (SELECT DISTINCT event_type, n FROM o)
        ), g AS (
          SELECT event_type, idx,
            least(greatest(CAST(0 AS DOUBLE), ceil(idx*(n-1)/99.0 - 0.5))::BIGINT + 1, n) AS rn
          FROM grid
        )
        SELECT g.event_type, g.idx, round(o.value, 6) AS value
        FROM g JOIN o ON g.event_type = o.event_type AND g.rn = o.rn
      """.stripMargin.trim)),

    // ── G2 cubic resampling (not-a-knot spline through the grid points).
    //    The oracle replays the exact Spline.cubic algorithm in DuckDB:
    //    the Thomas forward sweep and back substitution are linear
    //    recurrences, expressed as recursive CTEs (one iteration per grid
    //    index, all series advance together). Every arithmetic expression
    //    mirrors the Scala operation order on IEEE doubles, so the
    //    pre-rounding values are bit-identical — verified at sf0.01
    //    (500/500 rows, 0 ulp differences). MATERIALIZED hints keep
    //    DuckDB from re-inlining the CTE chain inside the recursion
    //    (which is quadratic without them). Both sides take the first
    //    256 rows per series: the recursion pays per-iteration overhead,
    //    so its depth must be bounded by the query, not the corpus.
    //    Requires n >= 4 per series. ──
    QueryDef(
      "g2_resample_cubic",
      (s, dir) => {
        Segmenters.resample(evSlice(s, dir, 256), Seq("event_type"),
          Seq("ts", "event_id"), "value", targetSize = 100, method = "cubic")
          .select(col("event_type"), col("idx"),
            round(col("value"), 6).as("value"))
      },
      Some("""
        WITH RECURSIVE o AS MATERIALIZED (
          SELECT event_type, y, i, count(*) OVER (PARTITION BY event_type) AS n
          FROM (
            SELECT event_type, CAST(value AS DOUBLE) AS y,
              row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS i
            FROM events)
          WHERE i < 256
        ), xs AS MATERIALIZED (
          SELECT event_type, i, n, y, CAST(i AS DOUBLE) / (n - 1) AS x FROM o
        ), h AS MATERIALIZED (
          -- interval widths h(i) = xs(i+1) - xs(i) and slopes d(i), i = 0..n-2
          SELECT a.event_type, a.i, a.n, b.x - a.x AS h, (b.y - a.y) / (b.x - a.x) AS d
          FROM xs a JOIN xs b ON b.event_type = a.event_type AND b.i = a.i + 1
        ), sys AS MATERIALIZED (
          -- interior equations j = 0..k-1 for unknowns u(j) = M(j+1), k = n-2
          SELECT hm.event_type, hm.i AS j, hm.n - 2 AS k,
            hm.h / 6 AS lower0, (hm.h + hi.h) / 3 AS diag0, hi.h / 6 AS upper0,
            hi.d - hm.d AS rhs
          FROM h hm JOIN h hi ON hi.event_type = hm.event_type AND hi.i = hm.i + 1
        ), bnd AS MATERIALIZED (
          -- not-a-knot boundary ratios r0 = h0/h1, r1 = h(n-2)/h(n-3)
          SELECT h0.event_type,
            h0.h / h1.h AS r0, h0.h AS ha,
            hl.h / hp.h AS r1, hl.h AS hb
          FROM h h0
          JOIN h h1 ON h1.event_type = h0.event_type AND h1.i = 1
          JOIN h hl ON hl.event_type = h0.event_type AND hl.i = hl.n - 2
          JOIN h hp ON hp.event_type = h0.event_type AND hp.i = hp.n - 3
          WHERE h0.i = 0
        ), tri AS MATERIALIZED (
          -- fold the M0 / M(n-1) substitutions into the first/last rows
          SELECT s.event_type, s.j, s.k,
            CASE WHEN s.j = s.k - 1 THEN s.lower0 + (b.hb / 6) * (-b.r1) ELSE s.lower0 END AS lo,
            CASE WHEN s.j = 0 THEN s.diag0 + (b.ha / 6) * (1 + b.r0)
                 WHEN s.j = s.k - 1 THEN s.diag0 + (b.hb / 6) * (1 + b.r1)
                 ELSE s.diag0 END AS di,
            CASE WHEN s.j = 0 THEN s.upper0 + (b.ha / 6) * (-b.r0) ELSE s.upper0 END AS up,
            s.rhs
          FROM sys s JOIN bnd b USING (event_type)
        ), fwd AS MATERIALIZED (
          -- Thomas forward sweep: cp/dp recurrence over j
          SELECT event_type, j, k, up / di AS cp, rhs / di AS dp FROM tri WHERE j = 0
          UNION ALL
          SELECT t.event_type, t.j, t.k,
            t.up / (t.di - t.lo * f.cp) AS cp,
            (t.rhs - t.lo * f.dp) / (t.di - t.lo * f.cp) AS dp
          FROM tri t JOIN fwd f ON f.event_type = t.event_type AND t.j = f.j + 1
        ), bwd AS MATERIALIZED (
          -- back substitution: u(j) = dp(j) - cp(j) * u(j+1)
          SELECT event_type, j, k, dp AS u FROM fwd WHERE j = k - 1
          UNION ALL
          SELECT f.event_type, f.j, f.k, f.dp - f.cp * w.u AS u
          FROM fwd f JOIN bwd w ON w.event_type = f.event_type AND f.j = w.j - 1
        ), m AS MATERIALIZED (
          -- second derivatives M(1..n-2) = u(0..k-1), plus the not-a-knot ends
          SELECT event_type, j + 1 AS i, u AS m FROM bwd
          UNION ALL
          SELECT w1.event_type, 0 AS i, (1 + b.r0) * w1.u - b.r0 * w2.u AS m
          FROM bwd w1 JOIN bwd w2 ON w2.event_type = w1.event_type AND w2.j = 1
          JOIN bnd b ON b.event_type = w1.event_type
          WHERE w1.j = 0
          UNION ALL
          SELECT w1.event_type, w1.k + 1 AS i, (1 + b.r1) * w1.u - b.r1 * w2.u AS m
          FROM bwd w1 JOIN bwd w2 ON w2.event_type = w1.event_type AND w2.j = w1.k - 2
          JOIN bnd b ON b.event_type = w1.event_type
          WHERE w1.j = w1.k - 1
        ), grid AS MATERIALIZED (
          SELECT event_type, n, unnest(generate_series(0, 99)) AS gi
          FROM (SELECT DISTINCT event_type, n FROM o)
        ), gx AS MATERIALIZED (
          SELECT event_type, n, gi, CAST(gi AS DOUBLE) / 99 AS x FROM grid
        ), iv AS (
          -- bracket: largest i with xs(i) <= x, clamped to n-2 (binarySearch)
          SELECT g.event_type, g.gi, g.x, least(max(p.i), g.n - 2) AS i
          FROM gx g JOIN xs p ON p.event_type = g.event_type AND p.x <= g.x
          GROUP BY g.event_type, g.gi, g.x, g.n
        )
        SELECT v.event_type, v.gi AS idx,
          round(
            ((pa.x - v.x) / (pa.x - pb.x)) * pb.y + ((v.x - pb.x) / (pa.x - pb.x)) * pa.y +
            ((((pa.x - v.x) / (pa.x - pb.x)) * ((pa.x - v.x) / (pa.x - pb.x)) * ((pa.x - v.x) / (pa.x - pb.x)) - ((pa.x - v.x) / (pa.x - pb.x))) * mb.m
             + (((v.x - pb.x) / (pa.x - pb.x)) * ((v.x - pb.x) / (pa.x - pb.x)) * ((v.x - pb.x) / (pa.x - pb.x)) - ((v.x - pb.x) / (pa.x - pb.x))) * ma.m)
             * (pa.x - pb.x) * (pa.x - pb.x) / 6, 6) AS value
        FROM iv v
        JOIN xs pb ON pb.event_type = v.event_type AND pb.i = v.i
        JOIN xs pa ON pa.event_type = v.event_type AND pa.i = v.i + 1
        JOIN m mb ON mb.event_type = v.event_type AND mb.i = v.i
        JOIN m ma ON ma.event_type = v.event_type AND ma.i = v.i + 1
      """.stripMargin.trim)),

    // ── G3: interpolating spline upsample (not-a-knot cubic) — same
    //    recursive-CTE Thomas-sweep oracle as g2_resample_cubic (the
    //    solve is identical; only the target grid differs: 500 points,
    //    x = gi/499), bit-exact at sf0.01 like the G2 variant ──
    QueryDef(
      "g3_spline_upsample",
      (s, dir) => {
        Segmenters.splineUpsample(evSlice(s, dir, 256), Seq("event_type"),
          Seq("ts", "event_id"), "value", targetSize = 500, degree = 3)
          .select(col("event_type"), col("idx"), round(col("value"), 6).as("value"))
      },
      Some("""
        WITH RECURSIVE o AS MATERIALIZED (
          SELECT event_type, y, i, count(*) OVER (PARTITION BY event_type) AS n
          FROM (
            SELECT event_type, CAST(value AS DOUBLE) AS y,
              row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS i
            FROM events)
          WHERE i < 256
        ), xs AS MATERIALIZED (
          SELECT event_type, i, n, y, CAST(i AS DOUBLE) / (n - 1) AS x FROM o
        ), h AS MATERIALIZED (
          SELECT a.event_type, a.i, a.n, b.x - a.x AS h, (b.y - a.y) / (b.x - a.x) AS d
          FROM xs a JOIN xs b ON b.event_type = a.event_type AND b.i = a.i + 1
        ), sys AS MATERIALIZED (
          SELECT hm.event_type, hm.i AS j, hm.n - 2 AS k,
            hm.h / 6 AS lower0, (hm.h + hi.h) / 3 AS diag0, hi.h / 6 AS upper0,
            hi.d - hm.d AS rhs
          FROM h hm JOIN h hi ON hi.event_type = hm.event_type AND hi.i = hm.i + 1
        ), bnd AS MATERIALIZED (
          SELECT h0.event_type,
            h0.h / h1.h AS r0, h0.h AS ha,
            hl.h / hp.h AS r1, hl.h AS hb
          FROM h h0
          JOIN h h1 ON h1.event_type = h0.event_type AND h1.i = 1
          JOIN h hl ON hl.event_type = h0.event_type AND hl.i = hl.n - 2
          JOIN h hp ON hp.event_type = h0.event_type AND hp.i = hp.n - 3
          WHERE h0.i = 0
        ), tri AS MATERIALIZED (
          SELECT s.event_type, s.j, s.k,
            CASE WHEN s.j = s.k - 1 THEN s.lower0 + (b.hb / 6) * (-b.r1) ELSE s.lower0 END AS lo,
            CASE WHEN s.j = 0 THEN s.diag0 + (b.ha / 6) * (1 + b.r0)
                 WHEN s.j = s.k - 1 THEN s.diag0 + (b.hb / 6) * (1 + b.r1)
                 ELSE s.diag0 END AS di,
            CASE WHEN s.j = 0 THEN s.upper0 + (b.ha / 6) * (-b.r0) ELSE s.upper0 END AS up,
            s.rhs
          FROM sys s JOIN bnd b USING (event_type)
        ), fwd AS MATERIALIZED (
          SELECT event_type, j, k, up / di AS cp, rhs / di AS dp FROM tri WHERE j = 0
          UNION ALL
          SELECT t.event_type, t.j, t.k,
            t.up / (t.di - t.lo * f.cp) AS cp,
            (t.rhs - t.lo * f.dp) / (t.di - t.lo * f.cp) AS dp
          FROM tri t JOIN fwd f ON f.event_type = t.event_type AND t.j = f.j + 1
        ), bwd AS MATERIALIZED (
          SELECT event_type, j, k, dp AS u FROM fwd WHERE j = k - 1
          UNION ALL
          SELECT f.event_type, f.j, f.k, f.dp - f.cp * w.u AS u
          FROM fwd f JOIN bwd w ON w.event_type = f.event_type AND f.j = w.j - 1
        ), m AS MATERIALIZED (
          SELECT event_type, j + 1 AS i, u AS m FROM bwd
          UNION ALL
          SELECT w1.event_type, 0 AS i, (1 + b.r0) * w1.u - b.r0 * w2.u AS m
          FROM bwd w1 JOIN bwd w2 ON w2.event_type = w1.event_type AND w2.j = 1
          JOIN bnd b ON b.event_type = w1.event_type
          WHERE w1.j = 0
          UNION ALL
          SELECT w1.event_type, w1.k + 1 AS i, (1 + b.r1) * w1.u - b.r1 * w2.u AS m
          FROM bwd w1 JOIN bwd w2 ON w2.event_type = w1.event_type AND w2.j = w1.k - 2
          JOIN bnd b ON b.event_type = w1.event_type
          WHERE w1.j = w1.k - 1
        ), grid AS MATERIALIZED (
          SELECT event_type, n, unnest(generate_series(0, 499)) AS gi
          FROM (SELECT DISTINCT event_type, n FROM o)
        ), gx AS MATERIALIZED (
          SELECT event_type, n, gi, CAST(gi AS DOUBLE) / 499 AS x FROM grid
        ), iv AS (
          SELECT g.event_type, g.gi, g.x, least(max(p.i), g.n - 2) AS i
          FROM gx g JOIN xs p ON p.event_type = g.event_type AND p.x <= g.x
          GROUP BY g.event_type, g.gi, g.x, g.n
        )
        SELECT v.event_type, v.gi AS idx,
          round(
            ((pa.x - v.x) / (pa.x - pb.x)) * pb.y + ((v.x - pb.x) / (pa.x - pb.x)) * pa.y +
            ((((pa.x - v.x) / (pa.x - pb.x)) * ((pa.x - v.x) / (pa.x - pb.x)) * ((pa.x - v.x) / (pa.x - pb.x)) - ((pa.x - v.x) / (pa.x - pb.x))) * mb.m
             + (((v.x - pb.x) / (pa.x - pb.x)) * ((v.x - pb.x) / (pa.x - pb.x)) * ((v.x - pb.x) / (pa.x - pb.x)) - ((v.x - pb.x) / (pa.x - pb.x))) * ma.m)
             * (pa.x - pb.x) * (pa.x - pb.x) / 6, 6) AS value
        FROM iv v
        JOIN xs pb ON pb.event_type = v.event_type AND pb.i = v.i
        JOIN xs pa ON pa.event_type = v.event_type AND pa.i = v.i + 1
        JOIN m mb ON mb.event_type = v.event_type AND mb.i = v.i
        JOIN m ma ON ma.event_type = v.event_type AND ma.i = v.i + 1
      """.stripMargin.trim)),

    // ── X8: BPE-ish token counting per source ──
    QueryDef(
      "x8_bpeish_tokens",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        d.groupBy(col("source"))
          .agg(sum(TextOps.bpeishTokenCount(col("text"))).as("total_tokens"),
            count(lit(1)).as("n_docs"))
      },
      Some("""
        SELECT source,
          CAST(sum(list_aggregate(
            list_transform(string_split_regex(trim(text), '\s+'),
              w -> CAST(ceil(length(w)/4.0) AS BIGINT)), 'sum')) AS BIGINT) AS total_tokens,
          count(*) AS n_docs
        FROM documents GROUP BY source
      """.stripMargin.trim)),

    // ── T2: reference forecast preprocessing — [::200] downsample per
    //    series + min-max normalization on the GLOBAL min/max over all
    //    series together (time_series_model.py:108-134) ──
    QueryDef(
      "t2_downsample_minmax",
      (s, dir) => {
        Forecast.downsampleMinMax(ev(s, dir), Seq("event_type"),
          Seq("ts", "event_id"), "value", step = 200)
          .select(col("event_id"), col("event_type"),
            round(col("norm_value"), 6).as("norm_value"))
      },
      Some("""
        WITH s AS (
          SELECT event_id, event_type, value,
            row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
          FROM events
        ), d AS (
          SELECT * FROM s WHERE (rn-1) % 200 = 0
        ), g AS (SELECT min(value) AS mn, max(value) AS mx FROM d)
        SELECT event_id, event_type,
          round(CASE WHEN mx = mn THEN 0.0
                     ELSE (value - mn) / (mx - mn) END, 6) AS norm_value
        FROM d, g
      """.stripMargin.trim)),

    // ── T3: forecast train/eval — RF-per-horizon over T1/T2 windows
    //    (the documented MLlib substitution for the reference's keras
    //    LSTM, time_series_model.py:168-275). Train on four series, hold
    //    out one, report per-horizon RMSE + window counts. FULL oracle
    //    since round 10 via the fitted-tree replay (TreeSql): the
    //    downsample → minmax → lag-window chain is the t1/t2 replay, and
    //    each horizon's fitted regression forest is exported as nested
    //    CASE literals over the lag columns — mean-of-leaves, the exact
    //    RandomForestRegressionModel.predict rule. RMSE quality is still
    //    asserted vs a persistence baseline in ForecastSpec ──
    QueryDef(
      "t3_forecast_eval",
      (s, dir) => {
        val norm = Forecast.downsampleMinMax(ev(s, dir), Seq("event_type"),
          Seq("ts", "event_id"), "value", step = 10)
        // step/window sized so even sf0.001 (200 rows/series) yields
        // complete windows: 20 samples/series ≥ timeSteps+outputStep
        val feats = Forecast.lagFeatures(norm, Seq("event_type"),
          Seq("ts", "event_id"), "norm_value", timeSteps = 8, outputStep = 2)
        val train = feats.filter(col("event_type") =!= "purchase")
        val test = feats.filter(col("event_type") === "purchase")
        // rf: all trees fit in one pass — GBT's sequential per-tree jobs
        // are scheduler-bound on a frame this small
        val fc = new TimeSeriesForecaster(
          timeSteps = 8, outputStep = 2, modelType = "rf",
          maxIter = 20, maxDepth = 5, seed = 7L)
        fc.fit(train)
        t3Replay = Some(t3ReplaySql(fc))
        fc.evaluate(test)
          .select(round(col("rmse_y1"), 6).as("rmse_y1"),
            round(col("rmse_y2"), 6).as("rmse_y2"))
          .crossJoin(test.agg(count(lit(1)).as("n_test_windows")))
      },
      () => t3Replay),

    // ── T4: DEEP forecast train/eval — the reference's actual LSTM
    //    architecture (time_series_model.py:175-178: LSTM → Dropout →
    //    Dense(out_steps), MSE+Adam), hand-built and trained data-parallel
    //    (broadcast params, treeAggregate gradients, driver Adam). Small
    //    hidden/epochs here to bound bench time. FULL oracle since the
    //    round-10 third block: the L-BFGS-style objection doesn't apply —
    //    TRAINING stays rows-only-impossible, but the fitted weights are
    //    bounded driver state, so inference replays in SQL (t4ReplaySql:
    //    the unrolled forward pass over interpolated literals). BPTT
    //    correctness is separately proved by the numerical gradient
    //    checks in ForecastSpec; forecast quality by beats-persistence. ──
    QueryDef(
      "t4_deep_forecast",
      (s, dir) => {
        val norm = Forecast.downsampleMinMax(ev(s, dir), Seq("event_type"),
          Seq("ts", "event_id"), "value", step = 10)
        val feats = Forecast.lagFeatures(norm, Seq("event_type"),
          Seq("ts", "event_id"), "norm_value", timeSteps = 8, outputStep = 2)
        val train = feats.filter(col("event_type") =!= "purchase")
        val test = feats.filter(col("event_type") === "purchase")
        val fc = new DeepForecaster(timeSteps = 8, outputStep = 2,
          modelType = "lstm", hidden = 8, dropout = 0.1,
          epochs = 40, learningRate = 0.02, seed = 7L)
        fc.fit(train)
        t4Replay = Some(t4ReplaySql(fc))
        fc.evaluate(test)
          .select(round(col("rmse_y1"), 6).as("rmse_y1"),
            round(col("rmse_y2"), 6).as("rmse_y2"))
          .crossJoin(test.agg(count(lit(1)).as("n_test_windows")))
      },
      () => t4Replay),

    // ── X11: semi-structured props column — JSON extraction surface
    //    (SURVEY §1.4: events.props → get_json_object) ──
    QueryDef(
      "x11_props_json",
      (s, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("long")
        ev(s, dir).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(k).as("sum_k"),
            round(avg(k), 6).as("avg_k"))
      },
      Some("""
        SELECT event_type, count(*) AS n,
          CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
        FROM events GROUP BY event_type
      """.stripMargin.trim)),

    // ── X30: streaming/batch parity as a driver surface — the EWMA
    //    recurrence (§2.9) run through a REAL Structured Streaming query:
    //    the static events frame is fed through a MemoryStream in three
    //    ordered micro-batches (per-series state must survive every
    //    boundary), the flatMapGroupsWithState kernel appends to a memory
    //    sink, and the last smoothed value + row count per series must
    //    match the batch recurrence replayed by the oracle. The driver-
    //    side collect here is the harness feeding the stream (a real
    //    deployment reads Kafka); the kernel under test holds O(1) state
    //    per series regardless of corpus size. Batch/partition counts are
    //    deliberately small: per-micro-batch state-store open/commit is
    //    the fixed cost that dominated this query (a 32-partition state
    //    stage hung the round-6 driver gates), and two partitions ×
    //    three batches already exercise cross-boundary, cross-partition
    //    state. ──
    QueryDef(
      "x30_stream_parity",
      (s, dir) =>
        streamParity(s, dir, "x30",
          ds => StreamingOps.ewmaStream(ds, alpha = 0.3))
          .groupBy(col("series_id").as("event_type"))
          .agg(round(max_by(col("out"), col("t")), 6).as("ewma_last"),
            count(lit(1)).as("n_rows")),
      Some("""
        SELECT event_type,
          round(list_reduce(list(value ORDER BY ts, event_id),
            (a, b) -> CAST(0.3 AS DOUBLE) * b + (1 - CAST(0.3 AS DOUBLE)) * a), 6) AS ewma_last,
          count(*) AS n_rows
        FROM events GROUP BY event_type
      """.stripMargin.trim)),

    // ── X31: second streaming kernel through the driver surface — the
    //    scalar-Kalman recurrence (§2.9, reference `filters.py:332-356`)
    //    run through the identical MemoryStream harness as x30, checked
    //    against the same fold oracle as the batch `f6_kalman_last`
    //    (q=0.5, r=2.0, p0=1.0, x0=first sample). The round-6 wipeout
    //    proved the streaming path is where environment bugs hide; a
    //    second kernel through the REAL-stream harness is the insurance. ──
    QueryDef(
      "x31_stream_kalman",
      (s, dir) =>
        streamParity(s, dir, "x31",
          ds => StreamingOps.kalmanStream(
            ds, q = 0.5, r = 2.0, x0 = None, p0 = 1.0))
          .groupBy(col("series_id").as("event_type"))
          .agg(round(max_by(col("out"), col("t")), 6).as("kalman_last"),
            count(lit(1)).as("n_rows")),
      Some("""
        WITH s AS (
          SELECT event_type, list(value ORDER BY ts, event_id) AS vs,
            count(*) AS n_rows
          FROM events GROUP BY event_type
        )
        SELECT event_type,
          round(list_reduce(
            list_transform(vs, v -> [v, CAST(-1 AS DOUBLE)]),
            (a, e) ->
              [a[1] + (((CASE WHEN a[2] < 0 THEN CAST(1.0 AS DOUBLE) ELSE a[2] END) + CAST(0.5 AS DOUBLE))
                 / (((CASE WHEN a[2] < 0 THEN CAST(1.0 AS DOUBLE) ELSE a[2] END) + CAST(0.5 AS DOUBLE)) + CAST(2.0 AS DOUBLE)))
                 * (e[1] - a[1]),
               (1 - (((CASE WHEN a[2] < 0 THEN CAST(1.0 AS DOUBLE) ELSE a[2] END) + CAST(0.5 AS DOUBLE))
                 / (((CASE WHEN a[2] < 0 THEN CAST(1.0 AS DOUBLE) ELSE a[2] END) + CAST(0.5 AS DOUBLE)) + CAST(2.0 AS DOUBLE))))
                 * ((CASE WHEN a[2] < 0 THEN CAST(1.0 AS DOUBLE) ELSE a[2] END) + CAST(0.5 AS DOUBLE))])[1], 6) AS kalman_last,
          n_rows
        FROM s
      """.stripMargin.trim)),

    // ── X33: streaming event-time tumbling windows through the driver
    //    surface — the third streaming shape after the recurrence kernels
    //    (x30/x31): `StreamingOps.tumblingAgg` (watermark + window() +
    //    append mode) over a REAL MemoryStream, vs the batch x10 bucket
    //    oracle. Append mode only emits a window once the watermark
    //    passes its end, so two far-future sentinel rows are fed in two
    //    trailing micro-batches: the first advances the watermark past
    //    every real window, the second triggers the batch that emits
    //    them; the sentinels' own windows never close and never emit.
    //    State is O(open windows per key), watermark-evicted — the
    //    unbounded-stream shape. ──
    QueryDef(
      "x33_stream_tumbling",
      (s, dir) =>
        // nanos → micros truncation inside the harness cannot cross a
        // whole-second window boundary, so bucketing matches the
        // epoch-nanos oracle
        streamWindowParity(s, dir, "x33",
          in => StreamingOps.tumblingAgg(
            in, "event_time", Seq("event_type"),
            width = "1 hour", delay = "1 second"))
          .select(col("event_type"),
            unix_timestamp(col("window_start")).as("bucket_start_s"),
            col("n_events"),
            round(col("avg_value"), 6).as("avg_value")),
      Some("""
        SELECT event_type,
          (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_start_s,
          count(*) AS n_events,
          round(avg(value), 6) AS avg_value
        FROM events GROUP BY event_type, bucket_start_s
      """.stripMargin.trim)),

    // ── X34: streaming event-time SESSION windows through the driver
    //    surface — `StreamingOps.sessionAgg` (`session_window` + watermark,
    //    append mode) over a real MemoryStream, same sentinel-closure
    //    harness as x33. The oracle replays `session_window`'s own merge
    //    rule (a new session when the in-key time delta is >= gap — the
    //    batch x9 operator breaks on > gap, an intentional boundary
    //    difference documented in StreamingSpec), so the comparison is
    //    exact whatever the corpus cadence. State is O(open sessions),
    //    watermark-evicted. ──
    QueryDef(
      "x34_stream_sessions",
      (s, dir) =>
        streamWindowParity(s, dir, "x34",
          in => StreamingOps.sessionAgg(
            in, "event_time", Seq("event_type"),
            gap = "30 minutes", delay = "1 second"))
          .select(col("event_type"),
            unix_timestamp(col("session_start")).as("session_start_s"),
            col("n_events"),
            round(col("avg_value"), 6).as("avg_value")),
      Some("""
        WITH e AS (
          SELECT event_type, epoch_ns(ts) AS tns, value FROM events
        ), d AS (
          SELECT event_type, tns, value,
            CASE WHEN lag(tns) OVER (PARTITION BY event_type ORDER BY tns) IS NULL
                   OR tns - lag(tns) OVER (PARTITION BY event_type ORDER BY tns)
                        >= 1800000000000
                 THEN 1 ELSE 0 END AS brk
          FROM e
        ), s AS (
          SELECT event_type, tns, value,
            sum(brk) OVER (PARTITION BY event_type ORDER BY tns
                           ROWS UNBOUNDED PRECEDING) AS sid
          FROM d
        )
        SELECT event_type,
          min(tns) // 1000000000 AS session_start_s,
          count(*) AS n_events,
          round(avg(value), 6) AS avg_value
        FROM s GROUP BY event_type, sid
      """.stripMargin.trim)),

    // ── X93: streaming LATE-DATA accounting — the watermark's other half
    //    (x33 proved on-time emission; this proves the DROP rule). Rows
    //    are delivered out of order on an engineered schedule: events
    //    sorted by time, split into terciles (batches 0-2), and every
    //    event_id % 7 == 0 row held back one batch — so batches 1-3
    //    carry genuinely late rows, some beyond the 1-hour delay. A late
    //    row is dropped iff its window was already finalized
    //    (window_end ≤ watermark, where the watermark during batch k is
    //    max delivered event-time of batches < k, floored to ms, minus
    //    the delay). The oracle replays batch assignment, per-batch
    //    watermark and the drop rule EXACTLY, so the retained window
    //    aggregates hash-match only if the engine's late semantics do ──
    QueryDef(
      "x93_stream_late_data",
      (s, dir) => streamLateParity(s, dir)
        .select(col("event_type"),
          unix_timestamp(col("window_start")).as("bucket_start_s"),
          col("n_events"),
          round(col("avg_value"), 6).as("avg_value")),
      Some("""
        WITH e AS (
          SELECT event_type, epoch_ns(ts) // 1000 AS us, value,
            (event_id % 7 = 0) AS delayed,
            row_number() OVER (ORDER BY ts, event_id) - 1 AS r,
            count(*) OVER () AS n
          FROM events
        ), b AS (
          SELECT event_type, us, value,
            CAST(least(r * 3 // n + CASE WHEN delayed THEN 1 ELSE 0 END, 3)
              AS INT) AS k
          FROM e
        ), mx AS (
          SELECT k, max(us) AS mxus FROM b GROUP BY k
        ), wm AS (
          SELECT k, max(mxus) OVER (ORDER BY k
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
          FROM mx
        ), kept AS (
          SELECT b.event_type, b.us, b.value
          FROM b JOIN wm USING (k)
          WHERE wm.prevmax IS NULL
            OR (b.us // 3600000000 + 1) * 3600000000
               > (wm.prevmax // 1000 - 3600000) * 1000
        )
        SELECT event_type,
          us // 3600000000 * 3600 AS bucket_start_s,
          count(*) AS n_events,
          round(avg(value), 6) AS avg_value
        FROM kept GROUP BY 1, 2
      """.stripMargin.trim)),

    // ── X95: checkpoint recovery — the exactly-once restart contract: a
    //    streaming query writes a parquet file sink for one micro-batch,
    //    is STOPPED, and a NEW query (same plan, same checkpoint, same
    //    sink) resumes for the remaining batches. The file sink's
    //    transaction log must neither re-emit the pre-restart batch nor
    //    lose it; the aggregate over the sink files hash-matches the
    //    batch oracle only if recovery was exactly-once ──
    QueryDef(
      "x95_stream_restart",
      (s, dir) => streamRestart(s, dir),
      Some("""
        SELECT event_type, count(*) AS n_events,
          round(sum(value * 2), 6) AS sum_doubled,
          min(event_id) AS min_event
        FROM events GROUP BY 1
      """.stripMargin.trim))
  )

  /** The x95 harness: one MemoryStream, two writeStream incarnations
    * sharing a checkpoint + parquet sink. Batch 1 runs under the first
    * query; the query is stopped (a crash stand-in); the second query
    * resumes from the checkpoint for batches 2-3. Output is read back
    * from the sink FILES (through the sink's own transaction log, which
    * is what enforces exactly-once across the restart).
    */
  private def streamRestart(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val pts = ev(s, dir)
      .select(col("event_id"), col("event_type"), col("value").cast("double"))
      .as[(Long, String, Double)]
      .collect().sortBy(_._1)
    val stamp = System.nanoTime()
    val ck = s"${Scratch.dir}/x95_ckpt_$stamp"
    val out = s"${Scratch.dir}/x95_sink_$stamp"
    val mem = MemoryStream[(Long, String, Double)]
    def startQuery() = StreamingOps.withBatchConfs(s, keepNoData = true) {
      mem.toDF().toDF("event_id", "event_type", "value")
        .withColumn("doubled", col("value") * 2)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()
    }
    val chunk = math.max(1, math.ceil(pts.length / 3.0).toInt)
    val batches = pts.grouped(chunk).toSeq
    // the first query's stop after batch 1 is the "crash"
    StreamingOps.drive(startQuery(), "x95")(batches.take(1))(b => mem.addData(b: _*))
    StreamingOps.drive(startQuery(), "x95")(batches.tail)(b => mem.addData(b: _*))
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("doubled")), 6).as("sum_doubled"),
        min(col("event_id")).as("min_event"))
  }

  /** The x93 harness: like [[streamWindowParity]] but with an engineered
    * out-of-order delivery schedule — time-ordered terciles with every
    * `event_id % 7 == 0` row held back one batch — through
    * `StreamingOps.tumblingAgg` (1-hour windows, 1-hour delay), closed by
    * the two far-future sentinel batches.
    */
  private def streamLateParity(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val pts = ev(s, dir)
      .select(col("event_type"), col("ts"), col("value").cast("double"),
        col("event_id"))
      .as[(String, Long, Double, Long)]
      .collect().sortBy(r => (r._2, r._4))
    val n = pts.length
    val hourNs = 3600L * 1000 * 1000 * 1000
    val maxT = pts.map(_._2).max
    val batches = Array.fill(4)(Seq.newBuilder[(String, Long, Double)])
    pts.zipWithIndex.foreach { case ((et, t, v, id), r) =>
      val k0 = (r.toLong * 3 / n).toInt
      val k = math.min(k0 + (if (id % 7 == 0) 1 else 0), 3)
      batches(k) += ((et, t, v))
    }
    val sink = "x93_sink"
    s.catalog.dropTempView(sink)
    val mem = MemoryStream[(String, Long, Double)]
    val q =
      // keepNoData: x93's oracle pins the watermark-effective-during-
      // batch-k drop rule, which needs the between-batch no-data runs
      StreamingOps.withBatchConfs(s, keepNoData = true) {
        val in = mem.toDF().toDF("event_type", "t", "value")
          .withColumn("event_time", timestamp_micros(expr("t div 1000")))
        StreamingOps.tumblingAgg(
          in, "event_time", Seq("event_type"), width = "1 hour", delay = "1 hour")
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", StreamingOps.checkpointDir("x93"))
          .outputMode("append").start()
      }
    val all = batches.map(_.result()).filter(_.nonEmpty) ++ Seq(
      Seq(("__sentinel", maxT + 4 * hourNs, 0.0)),
      Seq(("__sentinel", maxT + 8 * hourNs, 0.0)))
    StreamingOps.drive(q, "x93")(all)(b => mem.addData(b: _*))
    s.table(sink).filter(col("event_type") =!= "__sentinel")
  }

  /** Sentinel-closure variant of [[streamParity]] for watermarked window
    * aggregates (x33/x34): append mode only emits a window once the
    * watermark passes its end, and a MemoryStream triggers no batch
    * without data — so after the three event-ordered data batches, two
    * far-future sentinel batches run: the first advances the watermark
    * past every real window, the second triggers the micro-batch that
    * emits them. The sentinels' own windows never close, and their rows
    * are filtered from the returned sink table. `agg` receives a
    * streaming frame with `event_type`, `event_time` (micros timestamp
    * from the epoch-nanos ts) and `value`.
    */
  private def streamWindowParity(
      s: org.apache.spark.sql.SparkSession, dir: String, tag: String,
      agg: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val pts = ev(s, dir)
      .select(col("event_type"), col("ts"), col("value").cast("double"))
      .as[(String, Long, Double)]
      .collect().sortBy(_._2) // arrival ≈ event order → monotone watermark
    val hourNs = 3600L * 1000 * 1000 * 1000
    val maxT = pts.map(_._2).max
    val sink = s"${tag}_sink"
    s.catalog.dropTempView(sink) // re-invocation safety (smoke tests)
    val mem = MemoryStream[(String, Long, Double)]
    val q =
      StreamingOps.withBatchConfs(s) {
        val in = mem.toDF().toDF("event_type", "t", "value")
          .withColumn("event_time", timestamp_micros(expr("t div 1000")))
        agg(in)
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", StreamingOps.checkpointDir(tag))
          .outputMode("append").start()
      }
    val chunk = math.max(1, math.ceil(pts.length / 3.0).toInt)
    val batches = pts.grouped(chunk).map(_.toSeq).toSeq ++ Seq(
      Seq(("__sentinel", maxT + 2 * hourNs, 0.0)),
      Seq(("__sentinel", maxT + 4 * hourNs, 0.0)))
    StreamingOps.drive(q, tag)(batches)(b => mem.addData(b: _*))
    s.table(sink).filter(col("event_type") =!= "__sentinel")
  }

  /** Shared real-stream parity harness (x30/x31): feeds the static events
    * frame through a MemoryStream in three ordered micro-batches — so
    * per-series state must survive every batch boundary — runs `kernel`
    * as a REAL Structured Streaming query into a memory sink, and returns
    * the sink table. The driver-side collect here is the harness feeding
    * the stream (a real deployment reads Kafka); the kernel under test
    * holds O(1) state per series regardless of corpus size.
    *
    * Hard-learned plumbing, shared so every streaming driver query gets
    * it: state partitions pinned to 2 (one state-store open/commit per
    * partition PER micro-batch — 32 partitions hung the round-6 gates),
    * a fresh checkpoint on RAM-backed scratch per run (java.io.tmpdir
    * state commits hang on a throttled disk), and an internal deadline
    * that stops THIS stream (the gate watchdog can interrupt batch jobs
    * but not a streaming query's execution thread).
    */
  private def streamParity(
      s: org.apache.spark.sql.SparkSession, dir: String, tag: String,
      kernel: org.apache.spark.sql.Dataset[StreamingOps.SeriesPoint] =>
        org.apache.spark.sql.Dataset[StreamingOps.ScanOut])
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val pts = ev(s, dir)
      .withColumn("__t", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))).cast("long"))
      .select(col("event_type").as("series_id"), col("__t").as("t"),
        col("value").cast("double").as("value"))
      .as[StreamingOps.SeriesPoint]
      // global sort by per-series index so every micro-batch slice
      // delivers each series' rows in order across batch boundaries
      .collect().sortBy(_.t)
    val sink = s"${tag}_sink"
    s.catalog.dropTempView(sink) // re-invocation safety (smoke tests)
    val mem = MemoryStream[StreamingOps.SeriesPoint]
    val q =
      StreamingOps.withBatchConfs(s) {
        kernel(mem.toDS())
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", StreamingOps.checkpointDir(tag))
          .outputMode("append").start()
      }
    val chunk = math.max(1, math.ceil(pts.length / 3.0).toInt)
    StreamingOps.drive(q, tag)(pts.grouped(chunk).toSeq)(b => mem.addData(b.toSeq: _*))
    s.table(sink)
  }
}

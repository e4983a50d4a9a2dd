package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.text.TextOps
import graft.forecast.Forecast
import graft.ml.Knn
import graft.similarity.Ann
import graft.streaming.StreamingOps

/** Named query registry binding every implemented operator to the driver
  * tables (TESTDATA.md), with a DuckDB-equivalent oracle SQL wherever the
  * semantics are ANSI-expressible (driver contract, SURVEY §5/§7).
  *
  * Convention: computed doubles are rounded to 6 decimals ON BOTH SIDES so
  * cross-engine float summation-order differences (last-ulp) cannot break
  * the driver's hash compare; column names are aliased identically on both
  * sides (the compare sorts columns by name).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: () => Option[String])

object QueryDef {
  /** Static-oracle convenience — nearly every query's SQL is a fixed
    * string. The thunk form exists for queries whose oracle interpolates
    * artifacts only known AFTER the run (e.g. trained PQ codebooks as
    * literals — the x41 JL-matrix trick extended to fitted state):
    * `Verify` dumps `oracle_sql.json` after the query loop, so a thunk
    * reading state the run stashed is evaluated exactly then.
    */
  def apply(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String]): QueryDef =
    QueryDef(name, run, () => oracle)
}

object Queries {

  private def ev(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** `(p, [w...]::DOUBLE[])` VALUES rows of [[Ann.planeMatrix]] for the
    * hyperplane-LSH oracles (x3 here, x20 in DedupQueries) — the plane
    * matrix is a deterministic pure function, so the literals match the
    * engine's planes exactly (Double.toString round-trips IEEE754).
    */
  private[graft] def planeSqlValues(dim: Int, nPlanes: Int, seed: Long): String =
    graft.similarity.Ann.planeMatrix(dim, nPlanes, seed).zipWithIndex
      .map { case (w, p) => s"($p, ${w.mkString("[", ", ", "]")}::DOUBLE[])" }
      .mkString(",\n          ")

  /** Persisted NSW adjacency stashed by the x73 run for its thunk oracle
    * (the x39/x40 fitted-state device): `(id, shard, sorted neighbor
    * ids)` for every node of the grown index.
    */
  @volatile private var x73Graph: Option[Seq[(Long, Int, Seq[Long])]] = None

  /** In-run NSW adjacency stashed by the x71 run for its thunk oracle —
    * the x73 device applied to the JUST-BUILT graph (the frame is
    * eagerly checkpointed, so the pinned structure and the searched
    * structure are one artifact; the m5 fitted-draw precedent for
    * pinnable in-run state).
    */
  @volatile private var x71Graph: Option[Seq[(Long, Int, Seq[Long])]] = None

  /** Quantizer centroids stashed by the x117 run for its thunk oracle
    * (the x17 persisted-centroid device).
    */
  @volatile private var x117Centroids: Option[Array[Array[Double]]] = None

  /** Realized quality order stashed by the x118 run for its thunk oracle:
    * doc_ids in selection order (rounded-score desc, doc_id asc). The
    * order KEY is the one quantity a DuckDB replay cannot reproduce
    * bit-exactly — it is a sigmoid of logs (JVM `StrictMath.exp` vs
    * libm), and when two docs' raw scores straddle a 6-decimal rounding
    * boundary even the ROUNDED keys disagree (r10+r11's one red row).
    * So the order is pinned as literals and DuckDB independently replays
    * everything downstream of it: the per-doc token model, the ROWS-frame
    * cumulative sum, the budget aggregate and the cutoff.
    */
  @volatile private var x118Order: Option[Seq[Long]] = None

  /** x73 thunk oracle: replay the NSW greedy beam search in a DuckDB
    * recursive CTE. The interpolated state is the graph STRUCTURE only
    * (id, shard, neighbor list — what the index persisted); vectors,
    * norms and every cosine come from the embeddings table, and the walk
    * itself — best-first beam with a visited set, candidate queue and
    * width-48 result list, exactly `Hnsw`'s layer-0 `searchLayer`, the
    * NSW walk — is replayed one state-machine step per recursive row: an 'S' step pops the best
    * candidate (termination when the queue is empty or its best falls
    * below the worst kept), an 'E' step admits ONE fresh neighbor
    * (skip-scanning past already-visited ones in-list, so iterations
    * stay proportional to admissions, not adjacency length). Struct
    * elements are (c, -id) so DuckDB's lexicographic list_sort realizes
    * the engine's (cosine, -id) tie order; the terminal state per
    * (query, shard) is the max-iteration row, its found list is cut to
    * k per shard, and the global rank mirrors `Ann.rankTopKScored`
    * (cosine desc, id asc). Widths/filters are pinned to the x73
    * registration: queries vec_id < 20, k = 3, beam width 48.
    */
  private[graft] def nswWalkReplaySql(graph: Seq[(Long, Int, Seq[Long])]): String = {
    val gvals = graph.map { case (id, sh, nbs) =>
      s"($id, $sh, [${nbs.mkString(",")}]::BIGINT[])"
    }.mkString(",\n          ")
    s"""
        WITH RECURSIVE g(id, shard, nbs) AS (VALUES
          $gvals
        ), evn AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)) AS nrm
          FROM embeddings
        ), qv AS (
          SELECT id AS qid, v, nrm FROM evn WHERE id < 20
        ), gn AS (
          SELECT g.shard, g.id, g.nbs, evn.v, evn.nrm
          FROM g JOIN evn ON evn.id = g.id
        ), entry AS (
          SELECT shard, min(id) AS eid FROM g GROUP BY shard
        ), init AS (
          SELECT q.qid, e.shard, 0 AS it, 'S' AS phase,
            CAST(NULL AS BIGINT) AS cur, CAST(NULL AS INT) AS nbpos,
            [e.eid] AS visited,
            [{'c': CASE WHEN q.nrm * n.nrm > 0
                THEN list_reduce(list_transform(list_zip(q.v, n.v), z -> z[1]*z[2]), (x,y) -> x+y)
                     / (q.nrm * n.nrm) ELSE 0.0 END,
               'ni': -e.eid}] AS cand,
            [{'c': CASE WHEN q.nrm * n.nrm > 0
                THEN list_reduce(list_transform(list_zip(q.v, n.v), z -> z[1]*z[2]), (x,y) -> x+y)
                     / (q.nrm * n.nrm) ELSE 0.0 END,
               'ni': -e.eid}] AS found
          FROM entry e JOIN gn n ON n.shard = e.shard AND n.id = e.eid
          CROSS JOIN qv q
        ), walk(qid, shard, it, phase, cur, nbpos, visited, cand, found) AS (
          SELECT * FROM init
          UNION ALL
          SELECT qid, shard, it + 1,
            CASE WHEN phase = 'S' THEN 'E'
                 WHEN nxt IS NULL THEN 'S' ELSE 'E' END AS phase,
            CASE WHEN phase = 'S' THEN -sc[len(sc)].ni
                 WHEN nxt IS NULL THEN NULL ELSE cur END AS cur,
            CASE WHEN phase = 'S' THEN 1
                 WHEN nxt IS NULL THEN NULL ELSE nxt + 1 END AS nbpos,
            CASE WHEN phase = 'E' AND nxt IS NOT NULL THEN list_append(visited, nbid)
                 ELSE visited END AS visited,
            CASE WHEN phase = 'S' THEN sc[1:len(sc)-1]
                 WHEN nxt IS NOT NULL AND admit THEN list_append(cand, {'c': cc, 'ni': -nbid})
                 ELSE cand END AS cand,
            CASE WHEN phase = 'E' AND nxt IS NOT NULL AND admit THEN
                   CASE WHEN len(found) + 1 > 48
                        THEN list_sort(list_append(found, {'c': cc, 'ni': -nbid}))[2:]
                        ELSE list_append(found, {'c': cc, 'ni': -nbid}) END
                 ELSE found END AS found
          FROM (
            SELECT t.*,
              CASE WHEN t.nxt IS NOT NULL AND t.qnrm * nv.nrm > 0
                   THEN list_reduce(list_transform(list_zip(t.qv, nv.v), z -> z[1]*z[2]),
                          (x,y) -> x+y) / (t.qnrm * nv.nrm)
                   ELSE 0.0 END AS cc,
              CASE WHEN t.wf IS NULL THEN true
                   ELSE (CASE WHEN t.nxt IS NOT NULL AND t.qnrm * nv.nrm > 0
                         THEN list_reduce(list_transform(list_zip(t.qv, nv.v), z -> z[1]*z[2]),
                                (x,y) -> x+y) / (t.qnrm * nv.nrm) ELSE 0.0 END) > t.wf
                   END AS admit,
              CASE WHEN t.nxt IS NOT NULL THEN t.nbs[t.nxt] END AS nbid
            FROM (
              SELECT s.qid, s.shard, s.it, s.phase, s.cur, s.nbpos,
                s.visited, s.cand, s.found,
                q.v AS qv, q.nrm AS qnrm,
                list_sort(s.cand) AS sc,
                CASE WHEN len(s.found) < 48 THEN NULL
                     ELSE list_sort(s.found)[1].c END AS wf,
                n.nbs AS nbs,
                CASE WHEN s.phase = 'E' THEN
                  list_min(list_filter(generate_series(s.nbpos, CAST(len(n.nbs) AS INT)),
                    p -> NOT list_contains(s.visited, n.nbs[p])))
                END AS nxt
              FROM walk s
              JOIN qv q ON q.qid = s.qid
              LEFT JOIN gn n ON s.phase = 'E' AND n.shard = s.shard AND n.id = s.cur
            ) t
            LEFT JOIN evn nv ON t.nxt IS NOT NULL AND nv.id = t.nbs[t.nxt]
          )
          WHERE NOT (phase = 'S' AND (len(cand) = 0 OR (wf IS NOT NULL AND sc[len(sc)].c < wf)))
        ), fin AS (
          SELECT qid, shard, found,
            row_number() OVER (PARTITION BY qid, shard ORDER BY it DESC) AS rn
          FROM walk
        ), res AS (
          SELECT qid, shard, u.e.c AS c, -u.e.ni AS nid,
            row_number() OVER (PARTITION BY qid, shard
              ORDER BY u.e.c DESC, -u.e.ni ASC) AS srank
          FROM (
            SELECT qid, shard, unnest(list_reverse(list_sort(found))) AS e
            FROM fin WHERE rn = 1) u
          WHERE -u.e.ni <> qid
        )
        SELECT qid AS vec_id, CAST(grank AS INT) AS rank, nid AS neighbor_id,
          round(c, 6) AS cosine
        FROM (
          SELECT qid, nid, c,
            row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid ASC) AS grank
          FROM res WHERE srank <= 3)
        WHERE grank <= 3
    """.stripMargin.trim
  }

  /** Persisted HNSW adjacency stashed by the x112 run for its thunk
    * oracle: `(id, shard, level, per-layer sorted neighbor ids)`.
    */
  @volatile private var x112Graph: Option[Seq[(Long, Int, Int, Seq[Seq[Long]])]] = None

  /** In-run HNSW adjacency stashed by the x111 run (the x71 device on
    * the layered graph — structure collected from the checkpointed
    * build frame the search then walks).
    */
  @volatile private var x111Graph: Option[Seq[(Long, Int, Int, Seq[Seq[Long]])]] = None

  /** Post-stream adjacency stashed by the x123 run (same shape/oracle
    * device as x112 — the walk replay is indifferent to HOW the
    * persisted graph was grown).
    */
  @volatile private var x123Graph: Option[Seq[(Long, Int, Int, Seq[Seq[Long]])]] = None

  /** x112 thunk oracle: the [[nswWalkReplaySql]] device extended with
    * HNSW's express-lane descent. Phase 'N' rows replay the greedy
    * argmax hop one neighbor-scan step at a time (carrying the running
    * (best, bestC) pair; a finished scan either re-scans from the
    * improved node, drops a layer, or — at layer 1 with no improvement —
    * seeds the layer-0 beam from the descent result), and the beam
    * phases 'S'/'E' are exactly the x73 machine over the layer-0
    * adjacency. The per-shard entry is the min-id node of the max
    * level — the persisted-entry contract of `Hnsw.searchIndex`.
    */
  private[graft] def hnswWalkReplaySql(
      graph: Seq[(Long, Int, Int, Seq[Seq[Long]])]): String = {
    val gvals = graph.map { case (id, sh, lvl, layers) =>
      val lay = layers.map(l => s"[${l.mkString(",")}]::BIGINT[]")
        .mkString("[", ",", "]")
      s"($id, $sh, $lvl, $lay)"
    }.mkString(",\n          ")
    def cosOf(q: String, v: String) =
      s"""CASE WHEN ${q}nrm * $v.nrm > 0 THEN
        |            list_reduce(list_transform(list_zip(${q}v, $v.v), z -> z[1]*z[2]), (x,y) -> x+y)
        |            / (${q}nrm * $v.nrm) ELSE 0.0 END""".stripMargin
    s"""
        WITH RECURSIVE g(id, shard, level, layers) AS (VALUES
          $gvals
        ), evn AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)) AS nrm
          FROM embeddings
        ), qv AS (
          SELECT id AS qid, v, nrm FROM evn WHERE id < 20
        ), gn AS (
          SELECT g.shard, g.id, g.level, g.layers, evn.v, evn.nrm
          FROM g JOIN evn ON evn.id = g.id
        ), shmax AS (
          SELECT shard, max(level) AS maxl FROM g GROUP BY shard
        ), entry AS (
          SELECT g.shard, min(g.id) AS eid, min(s.maxl) AS maxl
          FROM g JOIN shmax s ON s.shard = g.shard AND g.level = s.maxl
          GROUP BY g.shard
        ), init AS (
          SELECT q.qid, e.shard, 0 AS it,
            CASE WHEN e.maxl = 0 THEN 'S' ELSE 'N' END AS phase,
            CASE WHEN e.maxl = 0 THEN NULL ELSE e.maxl END AS layer,
            e.eid AS cur,
            ${cosOf("q.", "n")} AS curc,
            CAST(1 AS INT) AS nbpos,
            e.eid AS best,
            ${cosOf("q.", "n")} AS bestc,
            CASE WHEN e.maxl = 0 THEN [e.eid] END AS visited,
            CASE WHEN e.maxl = 0 THEN [{'c': ${cosOf("q.", "n")}, 'ni': -e.eid}] END AS cand,
            CASE WHEN e.maxl = 0 THEN [{'c': ${cosOf("q.", "n")}, 'ni': -e.eid}] END AS found
          FROM entry e JOIN gn n ON n.shard = e.shard AND n.id = e.eid
          CROSS JOIN qv q
        ), walk(qid, shard, it, phase, layer, cur, curc, nbpos, best, bestc,
                visited, cand, found) AS (
          SELECT * FROM init
          UNION ALL
          SELECT qid, shard, it + 1,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN 'N'
              WHEN phase = 'N' AND best <> cur THEN 'N'
              WHEN phase = 'N' AND layer > 1 THEN 'N'
              WHEN phase = 'N' THEN 'S'
              WHEN phase = 'S' THEN 'E'
              WHEN nxt IS NULL THEN 'S' ELSE 'E' END AS phase,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN layer
              WHEN phase = 'N' AND best <> cur THEN layer
              WHEN phase = 'N' AND layer > 1 THEN layer - 1
              ELSE NULL END AS layer,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN cur
              WHEN phase = 'N' THEN best
              WHEN phase = 'S' THEN -sc[len(sc)].ni
              WHEN nxt IS NULL THEN NULL ELSE cur END AS cur,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN curc
              WHEN phase = 'N' THEN bestc
              ELSE NULL END AS curc,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN nbpos + 1
              WHEN phase = 'N' THEN 1
              WHEN phase = 'S' THEN 1
              WHEN nxt IS NULL THEN NULL ELSE nxt + 1 END AS nbpos,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN
                CASE WHEN cc > bestc OR (cc = bestc AND nbid < best) THEN nbid ELSE best END
              WHEN phase = 'N' THEN best
              ELSE NULL END AS best,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN
                CASE WHEN cc > bestc OR (cc = bestc AND nbid < best) THEN cc ELSE bestc END
              WHEN phase = 'N' THEN bestc
              ELSE NULL END AS bestc,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN NULL
              WHEN phase = 'N' AND best <> cur THEN NULL
              WHEN phase = 'N' AND layer > 1 THEN NULL
              WHEN phase = 'N' THEN [cur]
              WHEN phase = 'E' AND nxt IS NOT NULL THEN list_append(visited, nbid)
              ELSE visited END AS visited,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN NULL
              WHEN phase = 'N' AND best <> cur THEN NULL
              WHEN phase = 'N' AND layer > 1 THEN NULL
              WHEN phase = 'N' THEN [{'c': curc, 'ni': -cur}]
              WHEN phase = 'S' THEN sc[1:len(sc)-1]
              WHEN nxt IS NOT NULL AND admit THEN list_append(cand, {'c': cc, 'ni': -nbid})
              ELSE cand END AS cand,
            CASE
              WHEN phase = 'N' AND nbpos <= nlen THEN NULL
              WHEN phase = 'N' AND best <> cur THEN NULL
              WHEN phase = 'N' AND layer > 1 THEN NULL
              WHEN phase = 'N' THEN [{'c': curc, 'ni': -cur}]
              WHEN phase = 'E' AND nxt IS NOT NULL AND admit THEN
                CASE WHEN len(found) + 1 > 48
                     THEN list_sort(list_append(found, {'c': cc, 'ni': -nbid}))[2:]
                     ELSE list_append(found, {'c': cc, 'ni': -nbid}) END
              ELSE found END AS found
          FROM (
            SELECT t.*,
              CASE WHEN t.nb0 IS NOT NULL AND t.qnrm * nv.nrm > 0
                   THEN list_reduce(list_transform(list_zip(t.qv, nv.v), z -> z[1]*z[2]),
                          (x,y) -> x+y) / (t.qnrm * nv.nrm)
                   ELSE 0.0 END AS cc,
              CASE WHEN t.wf IS NULL THEN true
                   ELSE (CASE WHEN t.nb0 IS NOT NULL AND t.qnrm * nv.nrm > 0
                         THEN list_reduce(list_transform(list_zip(t.qv, nv.v), z -> z[1]*z[2]),
                                (x,y) -> x+y) / (t.qnrm * nv.nrm) ELSE 0.0 END) > t.wf
                   END AS admit,
              t.nb0 AS nbid
            FROM (
              SELECT s.qid, s.shard, s.it, s.phase, s.layer, s.cur, s.curc,
                s.nbpos, s.best, s.bestc, s.visited, s.cand, s.found,
                q.v AS qv, q.nrm AS qnrm,
                list_sort(s.cand) AS sc,
                CASE WHEN len(s.found) < 48 THEN NULL
                     ELSE list_sort(s.found)[1].c END AS wf,
                CASE WHEN s.phase = 'N' THEN len(n.layers[s.layer + 1])
                     ELSE NULL END AS nlen,
                CASE WHEN s.phase = 'E' THEN
                  list_min(list_filter(generate_series(s.nbpos,
                      CAST(len(n.layers[1]) AS INT)),
                    p -> NOT list_contains(s.visited, n.layers[1][p])))
                END AS nxt,
                CASE
                  WHEN s.phase = 'N' AND s.nbpos <= len(n.layers[s.layer + 1])
                    THEN n.layers[s.layer + 1][s.nbpos]
                  WHEN s.phase = 'E' THEN n.layers[1][
                    list_min(list_filter(generate_series(s.nbpos,
                        CAST(len(n.layers[1]) AS INT)),
                      p -> NOT list_contains(s.visited, n.layers[1][p])))]
                  ELSE NULL END AS nb0
              FROM walk s
              JOIN qv q ON q.qid = s.qid
              LEFT JOIN gn n ON s.phase IN ('N', 'E') AND n.shard = s.shard
                AND n.id = s.cur
            ) t
            LEFT JOIN evn nv ON t.nb0 IS NOT NULL AND nv.id = t.nb0
          )
          WHERE NOT (phase = 'S' AND (len(cand) = 0 OR (wf IS NOT NULL AND sc[len(sc)].c < wf)))
        ), fin AS (
          SELECT qid, shard, found,
            row_number() OVER (PARTITION BY qid, shard ORDER BY it DESC) AS rn
          FROM walk WHERE found IS NOT NULL
        ), res AS (
          SELECT qid, shard, u.e.c AS c, -u.e.ni AS nid,
            row_number() OVER (PARTITION BY qid, shard
              ORDER BY u.e.c DESC, -u.e.ni ASC) AS srank
          FROM (
            SELECT qid, shard, unnest(list_reverse(list_sort(found))) AS e
            FROM fin WHERE rn = 1) u
          WHERE -u.e.ni <> qid
        )
        SELECT qid AS vec_id, CAST(grank AS INT) AS rank, nid AS neighbor_id,
          round(c, 6) AS cosine
        FROM (
          SELECT qid, nid, c,
            row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid ASC) AS grank
          FROM res WHERE srank <= 3)
        WHERE grank <= 3
    """.stripMargin.trim
  }

  val defs: Seq[QueryDef] = Seq(

    // ── S1: per-series z-score, population std (scalers.py:42-77) ──
    QueryDef(
      "s1_standard_scaler",
      (s, dir) => {
        Scalers.standard(ev(s, dir), Seq("event_type"), "value", "__z")
          .select(col("event_id"), col("event_type"),
            round(col("__z"), 6).as("z_value"))
      },
      Some("""
        SELECT event_id, event_type,
          round(CASE WHEN stddev_pop(value) OVER w > 0
            THEN (value - avg(value) OVER w) / stddev_pop(value) OVER w
            ELSE value - avg(value) OVER w END, 6) AS z_value
        FROM events WINDOW w AS (PARTITION BY event_type)
      """.stripMargin.trim)),

    // ── S2: per-series min-max to [0,1]; constant series → midpoint ──
    QueryDef(
      "s2_minmax_scaler",
      (s, dir) => {
        Scalers.minMax(ev(s, dir), Seq("event_type"), "value", "__mm")
          .select(col("event_id"), col("event_type"),
            round(col("__mm"), 6).as("mm_value"))
      },
      Some("""
        SELECT event_id, event_type,
          round(CASE WHEN max(value) OVER w = min(value) OVER w THEN 0.5
            ELSE (value - min(value) OVER w)
                 / (max(value) OVER w - min(value) OVER w) END, 6) AS mm_value
        FROM events WINDOW w AS (PARTITION BY event_type)
      """.stripMargin.trim)),

    // ── S3: robust scaler (median / IQR, linear-interp percentiles) ──
    QueryDef(
      "s3_robust_scaler",
      (s, dir) => {
        Scalers.robust(ev(s, dir), Seq("event_type"), "value", "__r")
          .select(col("event_id"), col("event_type"),
            round(col("__r"), 6).as("r_value"))
      },
      Some("""
        SELECT event_id, event_type,
          round(CASE WHEN (quantile_cont(value, 0.75) OVER w
                           - quantile_cont(value, 0.25) OVER w) > 0
            THEN (value - quantile_cont(value, 0.5) OVER w)
                 / (quantile_cont(value, 0.75) OVER w
                    - quantile_cont(value, 0.25) OVER w)
            ELSE value - quantile_cont(value, 0.5) OVER w END, 6) AS r_value
        FROM events WINDOW w AS (PARTITION BY event_type)
      """.stripMargin.trim)),

    // ── TPC-H-style pricing summary (joins/aggs sanity + bench headliner) ──
    QueryDef(
      "q1_pricing_summary",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1d) - col("l_discount"))), 2).as("sum_disc_price"),
            round(avg(col("l_discount")), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
          round(sum(l_quantity), 2) AS sum_qty,
          round(sum(l_extendedprice), 2) AS sum_base_price,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          round(avg(l_discount), 6) AS avg_disc,
          count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
      """.stripMargin.trim)),

    // ── F1: EWMA — final smoothed value per series (fold parity with
    //    DuckDB list_reduce; full series covered by unit tests) ──
    QueryDef(
      "f1_ewma_last",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sm = Filters.exponentialSmoothing(
          ev(s, dir), Seq("event_type"), Seq("ts", "event_id"), "value", "__ewma", 0.3)
        sm.withColumn("__rk", row_number().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("__rk") === 1)
          .select(col("event_type"), round(col("__ewma"), 6).as("ewma_last"))
      },
      Some("""
        SELECT event_type,
          round(list_reduce(list(value ORDER BY ts, event_id),
            (a, b) -> CAST(0.3 AS DOUBLE) * b + (1 - CAST(0.3 AS DOUBLE)) * a), 6) AS ewma_last
        FROM events GROUP BY event_type
      """.stripMargin.trim)),

    // ── F2: Holt — final level+trend per series (struct-accumulator fold
    //    replicating the reference recurrence verbatim, incl. the
    //    x0+(x1−x0) float-op order of the first step) ──
    QueryDef(
      "f2_holt_last",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sm = Filters.doubleExponentialSmoothing(
          ev(s, dir), Seq("event_type"), Seq("ts", "event_id"), "value", "__holt",
          alpha = 0.4, beta = 0.2)
        sm.withColumn("__rk", row_number().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("__rk") === 1)
          .select(col("event_type"), round(col("__holt"), 6).as("holt_last"))
      },
      Some("""
        WITH s AS (
          SELECT event_type, list(value ORDER BY ts, event_id) AS vs
          FROM events GROUP BY event_type
        ), f AS (
          SELECT event_type,
            list_reduce(
              list_transform(vs, v -> [v, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]),
              (a, e) -> CASE WHEN a[3] = 0 THEN
                [CAST(0.4 AS DOUBLE) * e[1] + (1 - CAST(0.4 AS DOUBLE)) * (a[1] + (e[1] - a[1])),
                 CAST(0.2 AS DOUBLE) * ((CAST(0.4 AS DOUBLE) * e[1] + (1 - CAST(0.4 AS DOUBLE)) * (a[1] + (e[1] - a[1]))) - a[1])
                   + (1 - CAST(0.2 AS DOUBLE)) * (e[1] - a[1]),
                 CAST(1 AS DOUBLE)]
              ELSE
                [CAST(0.4 AS DOUBLE) * e[1] + (1 - CAST(0.4 AS DOUBLE)) * (a[1] + a[2]),
                 CAST(0.2 AS DOUBLE) * ((CAST(0.4 AS DOUBLE) * e[1] + (1 - CAST(0.4 AS DOUBLE)) * (a[1] + a[2])) - a[1])
                   + (1 - CAST(0.2 AS DOUBLE)) * a[2],
                 CAST(1 AS DOUBLE)]
              END) AS st
          FROM s
        )
        SELECT event_type, round(st[1] + st[2], 6) AS holt_last FROM f
      """.stripMargin.trim)),

    // ── F6: scalar Kalman — final filtered value per series (fold with
    //    (x,p) struct state; p<0 is the "first step" sentinel since p0>0) ──
    QueryDef(
      "f6_kalman_last",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sm = Filters.kalmanScalar(
          ev(s, dir), Seq("event_type"), Seq("ts", "event_id"), "value", "__k",
          q = 0.5, r = 2.0, x0 = None, p0 = 1.0)
        sm.withColumn("__rk", row_number().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("__rk") === 1)
          .select(col("event_type"), round(col("__k"), 6).as("kalman_last"))
      },
      Some("""
        WITH s AS (
          SELECT event_type, list(value ORDER BY ts, event_id) AS vs
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
                 * ((CASE WHEN a[2] < 0 THEN CAST(1.0 AS DOUBLE) ELSE a[2] END) + CAST(0.5 AS DOUBLE))])[1], 6) AS kalman_last
        FROM s
      """.stripMargin.trim)),

    // ── F3: edge-replicated centered moving average (w=7) ──
    QueryDef(
      "f3_moving_average",
      (s, dir) => {
        Filters.movingAveragePadded(
          ev(s, dir), Seq("event_type"), Seq("ts", "event_id"), "value", "__ma", 7)
          .select(col("event_id"), col("event_type"), round(col("__ma"), 6).as("ma_value"))
      },
      Some("""
        WITH b AS (
          SELECT event_id, event_type, value,
            row_number() OVER w AS rn,
            count(*) OVER (PARTITION BY event_type) AS n,
            sum(value) OVER (w ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s,
            first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv,
            last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
          FROM events
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        SELECT event_id, event_type,
          round(CASE WHEN n < 7 THEN value
            ELSE (s + greatest(0, 3 - (rn - 1)) * fv + greatest(0, rn + 3 - n) * lv) / 7
            END, 6) AS ma_value
        FROM b
      """.stripMargin.trim)),

    // ── F4: centered median filter (w=5, edge-replicated) via clamped
    //    position multi-join in the oracle ──
    QueryDef(
      "f4_median_filter",
      (s, dir) => {
        Filters.medianFilter(
          ev(s, dir), Seq("event_type"), Seq("ts", "event_id"), "value", "__med", 5)
          .select(col("event_id"), col("event_type"), round(col("__med"), 6).as("med_value"))
      },
      Some("""
        WITH idx AS (
          SELECT event_id, event_type, value,
            row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ), ex AS (
          SELECT a.event_id, a.event_type,
            least(greatest(a.rn + k.k, 1), a.n) AS brn
          FROM idx a, unnest(generate_series(-2, 2)) k(k)
        )
        SELECT ex.event_id, ex.event_type, round(median(b.value), 6) AS med_value
        FROM ex JOIN idx b ON b.event_type = ex.event_type AND b.rn = ex.brn
        GROUP BY ex.event_id, ex.event_type
      """.stripMargin.trim)),

    // ── G1: sliding-window segmentation (w=50, step=25, keep tail) with
    //    per-window stats ──
    QueryDef(
      "g1_segment_stats",
      (s, dir) => {
        Segmenters.segment(ev(s, dir), Seq("event_type"), Seq("ts", "event_id"),
          50, 25, dropLast = false)
          .groupBy(col("event_type"), col("window_id"))
          .agg(
            count(lit(1)).as("n_rows"),
            round(avg(col("value")), 6).as("avg_value"),
            round(min(col("value")), 6).as("min_value"),
            round(max(col("value")), 6).as("max_value"))
      },
      Some("""
        WITH idx AS (
          SELECT event_type, value,
            row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ), reg AS (
          SELECT event_type, value, rn, n,
            unnest(generate_series(
              greatest(0, CAST(ceil((rn - 49) / 25.0) AS BIGINT)),
              least((n - 50) // 25, rn // 25))) AS window_id
          FROM idx WHERE n >= 50
        ), tail AS (
          SELECT event_type, value, rn, n,
            ((n - 50) // 25 + 1) AS window_id
          FROM idx
          WHERE n >= 50 AND n - ((n - 50) // 25 + 1) * 25 > 0 AND rn >= n - 50
        ), allw AS (
          SELECT * FROM reg UNION ALL SELECT * FROM tail
        )
        SELECT event_type, window_id, count(*) AS n_rows,
          round(avg(value), 6) AS avg_value,
          round(min(value), 6) AS min_value,
          round(max(value), 6) AS max_value
        FROM allw GROUP BY event_type, window_id
      """.stripMargin.trim)),

    // ── G2: linear resample to 100 points per series (bracketing join) ──
    QueryDef(
      "g2_resample_linear",
      (s, dir) => {
        Segmenters.resample(ev(s, dir), Seq("event_type"), Seq("ts", "event_id"),
          "value", 100, "linear")
          .select(col("event_type"), col("idx"), round(col("value"), 6).as("value"))
      },
      Some("""
        WITH idx AS (
          SELECT event_type, value,
            row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ), grid AS (
          SELECT event_type, n, unnest(generate_series(0, 99)) AS gi
          FROM (SELECT DISTINCT event_type, n FROM idx)
        ), pos AS (
          SELECT event_type, gi,
            gi * CAST(n - 1 AS DOUBLE) / 99 AS p,
            greatest(0, least(CAST(floor(gi * CAST(n - 1 AS DOUBLE) / 99) AS BIGINT), n - 2)) AS k
          FROM grid
        )
        SELECT p.event_type, p.gi AS idx,
          round(a.value + (b.value - a.value) * (p.p - p.k), 6) AS value
        FROM pos p
        JOIN idx a ON a.event_type = p.event_type AND a.rn = p.k + 1
        JOIN idx b ON b.event_type = p.event_type AND b.rn = p.k + 2
      """.stripMargin.trim)),

    // ── G4: failure encoder over thresholded fault codes ──
    QueryDef(
      "g4_failure_encoder",
      (s, dir) => {
        val coded = ev(s, dir).withColumn("fault_code",
          when(col("value") >= 150d, 2d).when(col("value") >= 100d, 1d).otherwise(0d))
        Segmenters.failureEncode(coded, Seq("event_type"), Seq("ts", "event_id"),
          "fault_code", failureThreshold = 5.0)
      },
      Some("""
        WITH c AS (
          SELECT event_type,
            CASE WHEN value >= 150 THEN 2.0 WHEN value >= 100 THEN 1.0 ELSE 0.0 END AS v,
            row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
          FROM events
        ), tot AS (
          SELECT event_type, count(*) AS total,
            count(CASE WHEN v <> 0 THEN 1 END) AS nz
          FROM c GROUP BY event_type
        ), vc AS (
          SELECT event_type, v, count(*) AS cnt, min(rn) AS frn
          FROM c WHERE v <> 0 GROUP BY event_type, v
        ), md AS (
          SELECT event_type, v FROM (
            SELECT event_type, v,
              row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, frn ASC) AS rk
            FROM vc) WHERE rk = 1
        )
        SELECT t.event_type,
          CAST(CASE WHEN t.nz = 0 THEN 0.0
            WHEN 100.0 * t.nz / t.total >= 5.0 THEN m.v
            ELSE 0.0 END AS DOUBLE) AS failure_code
        FROM tot t LEFT JOIN md m USING (event_type)
      """.stripMargin.trim)),

    // ── T1: supervised lag/lead windows (timeSteps=5, outputStep=2) ──
    QueryDef(
      "t1_lag_features",
      (s, dir) => {
        Forecast.lagFeatures(ev(s, dir), Seq("event_type"), Seq("ts", "event_id"),
          "value", 5, 2)
          .select(col("event_id"), col("event_type"),
            col("x0"), col("x1"), col("x2"), col("x3"), col("x4"),
            col("y1"), col("y2"))
      },
      Some("""
        WITH b AS (
          SELECT event_id, event_type,
            lag(value, 4) OVER w AS x0, lag(value, 3) OVER w AS x1,
            lag(value, 2) OVER w AS x2, lag(value, 1) OVER w AS x3,
            value AS x4,
            lead(value, 1) OVER w AS y1, lead(value, 2) OVER w AS y2
          FROM events
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        SELECT * FROM b WHERE x0 IS NOT NULL AND y2 IS NOT NULL
      """.stripMargin.trim)),

    // ── X1: exact dedup summary per source (md5 of normalized text) ──
    QueryDef(
      "x1_exact_dedup",
      (s, dir) => TextOps.dedupSummary(Tables.documents(s, dir), "text", Seq("source")),
      Some("""
        SELECT source, count(*) AS n_docs,
          count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique,
          count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_dupes
        FROM documents GROUP BY source
      """.stripMargin.trim)),

    // ── X2: near-dup pairs via banded MinHash LSH + exact Jaccard ──
    //    FULL oracle: the md5-minhash, banding and Jaccard formula are
    //    engine-portable, so DuckDB replays the entire LSH pipeline —
    //    candidate generation included — and must produce the same pairs.
    QueryDef(
      "x2_neardup",
      (s, dir) => {
        TextOps.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 5, numHashes = 128, bands = 16, threshold = 0.8)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), sh AS (
          SELECT doc_id,
            list_distinct(list_transform(
              generate_series(0, greatest(length(norm)-5, 0)),
              i -> substr(norm, i+1, 5))) AS s
          FROM d
        ), ab AS (
          SELECT doc_id, s,
            list_transform(s, x -> (('0x' || substring(md5(x),1,8))::BIGINT)) AS av,
            list_transform(s, x -> (('0x' || substring(md5(x),9,8))::BIGINT)) AS bv
          FROM sh
        ), sig AS (
          SELECT doc_id, s,
            list_transform(generate_series(0, 127), k ->
              list_aggregate(list_transform(generate_series(1, len(av)),
                i -> (av[i] + k*bv[i]) % 4294967311), 'min')) AS sig
          FROM ab
        ), banded AS (
          SELECT doc_id, b.b AS band, sig[(b.b*8+1):(b.b*8+8)] AS key
          FROM sig, (SELECT unnest(generate_series(0, 15)) AS b) b
        ), pairs AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
            AND l.doc_id < r.doc_id
        ), j AS (
          SELECT id_a, id_b,
            len(list_intersect(a.s, b.s))::DOUBLE /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
          FROM pairs JOIN sh a ON pairs.id_a = a.doc_id
                     JOIN sh b ON pairs.id_b = b.doc_id
        )
        SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.8
      """.stripMargin.trim)),

    // ── X3: LSH-bucketed approximate cosine top-k (the 100 TB ANN path).
    //    FULL oracle since round 9: the seeded plane matrix is a
    //    deterministic constant interpolated as literals (the x41 JL
    //    trick), and the per-plane ArrayDot projection has a fixed
    //    summation order, so DuckDB replays sign bits → bands →
    //    candidates → exact-cosine top-k bit-identically ──
    QueryDef(
      "x3_ann_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // short bands: the synthetic embeddings are near-orthogonal
        // (max cos ≈ 0.49), so long bands would yield zero candidates;
        // 8×4 bits probes ~1/3 of the corpus — still bucketed, not
        // all-pairs, and recall on clustered data is covered by AnnSpec
        Ann.cosineTopKLsh(emb, emb.filter(col("vec_id") < 20), "embedding",
          "vec_id", "vec_id", k = 3, dim = 64, bands = 8, bitsPerBand = 4)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some(s"""
        WITH planes(p, w) AS (VALUES
          ${planeSqlValues(dim = 64, nPlanes = 32, seed = 42L)}
        ), e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), proj AS (
          SELECT e.vec_id, planes.p,
            list_reduce(list_transform(list_zip(e.v, planes.w),
              z -> z[1] * z[2]), (x, y) -> x + y) AS pr
          FROM e CROSS JOIN planes
        ), bv AS (
          SELECT vec_id, p // 4 AS band,
            CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END)
              AS BIGINT) AS v
          FROM proj GROUP BY vec_id, p // 4
        ), cand AS (
          SELECT DISTINCT a.vec_id AS cid, b.vec_id AS qid
          FROM bv a JOIN bv b ON a.band = b.band AND a.v = b.v
          WHERE b.vec_id < 20 AND a.vec_id <> b.vec_id
        ), scored AS (
          SELECT cand.qid, cand.cid,
            list_reduce(list_transform(list_zip(q.v, c.v),
              z -> z[1] * z[2]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(q.v, x -> x * x), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(c.v, x -> x * x), (x, y) -> x + y))) AS cos
          FROM cand JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid
        )
        SELECT qid AS vec_id, rank, cid AS neighbor_id, round(cos, 6) AS cosine FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
          FROM scored) WHERE rank <= 3
      """.stripMargin.trim)),

    // ── X71: graph-based ANN — per-shard navigable-small-world graphs
    //    built IN-RUN (Nsw.buildGraphRows → searchGraphRows, the
    //    on-the-fly lifecycle; x73 is the persisted variant), the
    //    graph-family scale path beside the IVF/PQ cluster-and-code
    //    paths. FULL oracle (r13 — formerly rows-only): the build frame
    //    is eagerly checkpointed, its realized adjacency collected as
    //    literals, and DuckDB replays the greedy beam walk over that
    //    exact structure ([[nswWalkReplaySql]]) — the searched graph and
    //    the replayed graph are one artifact. AnnSpec keeps recall ≥ 0.9
    //    vs exact + run-to-run determinism ──
    QueryDef(
      "x71_ann_nsw",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val g = graft.similarity.Nsw.buildGraphRows(
          emb, "embedding", "vec_id", numShards = 8)
          .localCheckpoint(true)
        x71Graph = Some(g
          .select(col("id").cast("long"), col("__shard").cast("int"),
            col("neighbors").cast("array<bigint>"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
          .sortBy(t => (t._2, t._1)).toSeq)
        graft.similarity.Nsw.searchGraphRows(
          g, emb.filter(col("vec_id") < 20), "embedding", "vec_id",
          k = 3, m = 8, efConstruction = 32)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x71Graph.map(nswWalkReplaySql)),

    // ── X111: HIERARCHICAL NSW (Malkov & Yashunin 2016) — the
    //    production-default multi-layer graph ANN (hnswlib/FAISS-HNSW):
    //    geometric levels from the id (P(level ≥ l) = m^−l,
    //    deterministic), upper layers as sparse express lanes descended
    //    greedily before the ef-beam on layer 0, built IN-RUN
    //    (Hnsw.buildGraphRows → searchGraphRows; x112 is the persisted
    //    variant). FULL oracle (r13 — formerly rows-only): the x71
    //    device on the layered graph — the checkpointed build frame's
    //    adjacency is pinned as literals and DuckDB replays descent +
    //    beam over it ([[hnswWalkReplaySql]]). AnnSpec keeps recall
    //    ≥ 0.9 vs exact, bit-determinism and the geometric layer decay ──
    QueryDef(
      "x111_ann_hnsw",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val g = graft.similarity.Hnsw.buildGraphRows(
          emb, "embedding", "vec_id", numShards = 8)
          .localCheckpoint(true)
        x111Graph = Some(g
          .select(col("id").cast("long"), col("__shard").cast("int"),
            col("level").cast("int"), col("layers").cast("array<array<bigint>>"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            r.getSeq[scala.collection.Seq[Long]](3).map(_.toSeq).toSeq))
          .sortBy(t => (t._2, t._1)).toSeq)
        graft.similarity.Hnsw.searchGraphRows(
          g, emb.filter(col("vec_id") < 20), "embedding", "vec_id",
          k = 3, m = 8, efConstruction = 32)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x111Graph.map(hnswWalkReplaySql)),

    // ── X116: SEMANTIC decontamination (Ann.semanticContamination) —
    //    the embedding-space tier completing the decon family (exact
    //    x23, Bloom x44, fuzzy MinHash x63): corpus vectors flagged on
    //    cosine ≥ 0.4 to any bench vector (vec_id%7==0 slice, the x23
    //    split; 0.4 is this corpus's established x14 near-dup level —
    //    its synthetic embeddings top out near 0.49 cross-pair),
    //    catching paraphrase-level leakage no n-gram screen sees.
    //    Bench broadcast, corpus streamed once. FULL oracle ──
    QueryDef(
      "x116_decontaminate_semantic",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.similarity.Ann.semanticContamination(
          emb.filter(col("vec_id") % 7 =!= 0),
          emb.filter(col("vec_id") % 7 === 0),
          "embedding", "vec_id", "vec_id", threshold = 0.4)
          .select(col("vec_id"), col("bench_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), c AS (
          SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 7 != 0
        ), b AS (
          SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % 7 = 0
        ), d AS (
          SELECT cid, bid,
            list_reduce(list_transform(list_zip(cv, bv), z -> z[1]*z[2]), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y))
               * sqrt(list_reduce(list_transform(bv, x -> x*x), (x,y) -> x+y))) AS cos
          FROM c CROSS JOIN b
        )
        SELECT cid AS vec_id, bid AS bench_id, round(cos, 6) AS cosine
        FROM (
          SELECT cid, bid, cos,
            row_number() OVER (PARTITION BY cid ORDER BY cos DESC, bid) AS rk
          FROM d WHERE cos >= 0.4)
        WHERE rk = 1
      """.stripMargin.trim)),

    // ── X117: cluster-stratified diversity sampling
    //    (DiversitySample.clusterStratified) — the embedding-space
    //    complement of the source mixers x59/x60: nearest-centroid cells
    //    capped at 12 rows each by md5 draw, so dominant modes shrink
    //    while tail clusters survive. FULL oracle via the persisted-
    //    centroid thunk (the x17 device): DuckDB replays argmin
    //    assignment, per-cell population and the md5-rank draw ──
    QueryDef(
      "x117_diversity_sample",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = graft.similarity.Ivf.trainQuantizer(
          emb, "embedding", "vec_id", nlist = 8, seed = 11L)
        x117Centroids = Some(cents)
        graft.similarity.DiversitySample.clusterStratified(
          emb, "embedding", "vec_id", cents, capPerCell = 12)
      },
      () => x117Centroids.map { cents =>
        val centVals = cents.zipWithIndex
          .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")}::DOUBLE[])" }
          .mkString(",\n          ")
        s"""
        WITH cents(cell, c) AS (VALUES
          $centVals
        ), e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), ad AS (
          SELECT e.vec_id, cents.cell,
            list_reduce(list_transform(list_zip(e.v, cents.c),
              p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y) AS d
          FROM e CROSS JOIN cents
        ), asgn AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM ad) WHERE rn = 1
        ), r AS (
          SELECT vec_id, cell,
            count(*) OVER (PARTITION BY cell) AS cell_n,
            row_number() OVER (PARTITION BY cell
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
          FROM asgn
        )
        SELECT vec_id, cell, cell_n FROM r WHERE rk <= 12
        """.stripMargin.trim
      }),

    // ── X118: token-budget data selection (PrefixSum.runningTotal) —
    //    "keep the best documents until half the token budget is
    //    spent": quality-desc total order (x6's score, doc_id
    //    tie-break), exact distributed prefix sum of the x25 token
    //    model, cutoff at floor(total/2). The running total comes from
    //    the range-sort + two-pass offset device, NOT a single-task
    //    global window. FULL oracle via the fitted-state thunk (the
    //    x39/x40 device): the ORDER KEY is a sigmoid of logs, and
    //    JVM-vs-libm last-ulp disagreement can move the raw scores
    //    across a 6-decimal ROUNDING boundary — so even rounded keys
    //    diverge between engines (r10+r11's one red row; rounding
    //    narrows the hazard, it cannot remove it). The run stashes the
    //    realized order (doc_id ranks) as literals; DuckDB then
    //    independently replays the token model, the ROWS-frame
    //    cumulative sum, the budget aggregate and the cutoff — the
    //    prefix-sum machinery stays honestly oracled while the libm
    //    dependence disappears. r13: the r10-r12 red turned out to be a
    //    TYPE divergence, not ordering — DuckDB returns HUGEINT for a
    //    bare list_aggregate(...,'sum') and DOUBLE for the windowed
    //    sum, while Spark emits BIGINT; the driver's hash is
    //    type-sensitive. The final SELECT casts both derived columns to
    //    BIGINT (values were already identical). ──
    QueryDef(
      "x118_token_budget_select",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = TextOps.qualityScore(docs, "text", "__q")
          .withColumn("__tok", TextOps.bpeishTokenCount(col("text")))
          .select(col("doc_id"), col("__q"), col("__tok"))
        // stash the realized total order for the thunk oracle (driver
        // state is one long per doc — oracle support, not query state)
        x118Order = Some(scored
          .select(col("doc_id"))
          .orderBy(round(col("__q"), 6).desc, col("doc_id").asc)
          .collect().map(_.getLong(0)).toSeq)
        val run = graft.operators.PrefixSum.runningTotal(scored,
          Seq(round(col("__q"), 6).desc, col("doc_id").asc), "__tok", "running")
        val budget = broadcast(scored.agg(
          floor(sum(col("__tok")) / lit(2)).cast("long").as("__budget")))
        run.crossJoin(budget)
          .filter(col("running") <= col("__budget"))
          .select(col("doc_id"), col("__tok").as("tokens"), col("running"))
      },
      () => x118Order.map { ord =>
        val vals = ord.zipWithIndex
          .map { case (id, i) => s"($id, ${i + 1})" }
          .mkString(",\n          ")
        s"""
        WITH ord(doc_id, rk) AS (VALUES
          $vals
        ), t AS (
          SELECT doc_id,
            list_aggregate(list_transform(string_split_regex(trim(text), '\\s+'),
              w -> CAST(ceil(length(w)/4.0) AS BIGINT)), 'sum') AS tok
          FROM documents
        ), r AS (
          SELECT t.doc_id, t.tok, sum(t.tok) OVER (ORDER BY o.rk
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
          FROM t JOIN ord o ON o.doc_id = t.doc_id
        ), g AS (
          SELECT CAST(floor(sum(tok) / 2.0) AS BIGINT) AS budget FROM t
        )
        SELECT doc_id, CAST(tok AS BIGINT) AS tokens,
          CAST(running AS BIGINT) AS running
        FROM r, g WHERE running <= budget
        """.stripMargin.trim
      }),

    // ── X113: hard-negative mining (Ann.hardNegatives) — the
    //    contrastive-training data-prep step: per anchor, the top-k
    //    most-similar corpus rows with cosine BELOW the near-dup
    //    threshold (the highest-similarity non-positives; would-be
    //    false negatives excluded by the same 0.95 the dedup stage
    //    uses). cosineTopK's broadcast+stream plan with the filter
    //    fused before the bounded top-k aggregate. FULL oracle ──
    QueryDef(
      "x113_hard_negatives",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.similarity.Ann.hardNegatives(
          emb, emb.filter(col("vec_id") < 20), "embedding",
          "vec_id", "vec_id", k = 3, posThreshold = 0.95)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), q AS (
          SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20
        ), d AS (
          SELECT q.qid, e.vec_id AS cid,
            list_reduce(list_transform(list_zip(q.qv, e.v), z -> z[1]*z[2]), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(q.qv, x -> x*x), (x,y) -> x+y))
               * sqrt(list_reduce(list_transform(e.v, x -> x*x), (x,y) -> x+y))) AS cos
          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid
        )
        SELECT qid AS vec_id, CAST(rank AS INT) AS rank,
          cid AS neighbor_id, round(cos, 6) AS cosine
        FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
          FROM d WHERE cos < 0.95)
        WHERE rank <= 3
      """.stripMargin.trim)),

    // ── X112: persisted HNSW index — build on two thirds of the corpus,
    //    GROW it with an append batch (round 11: `Hnsw.appendToIndex`,
    //    the hnswlib/FAISS `add` contract — only touched shards
    //    read/rewritten, levels recomputed from the pure id function,
    //    resident adjacency preloaded and insertion resumed), then
    //    search the reopened grown index — the full production loop
    //    (build → append → search), mirroring x73's NSW shape. FULL
    //    oracle via the x73 device extended with the express-lane
    //    descent ([[hnswWalkReplaySql]]): the run stashes the persisted
    //    POST-APPEND layered adjacency (structure only) and DuckDB
    //    replays entry selection, the greedy argmax descent AND the
    //    layer-0 beam step by step — so any append bug (lost backlinks,
    //    wrong entry, level drift) breaks the hash ──
    QueryDef(
      "x112_ann_hnsw_indexed",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("hnsw_index", dir)
        graft.similarity.Hnsw.writeIndex(
          emb.filter(col("vec_id") % 3 =!= 0), "embedding", "vec_id", path,
          numShards = 8)
        graft.similarity.Hnsw.appendToIndex(
          emb.filter(col("vec_id") % 3 === 0), "embedding", "vec_id", path)
        x112Graph = Some(s.read.parquet(s"$path/nodes")
          .select(col("id").cast("long"), col("__shard").cast("int"),
            col("level").cast("int"), col("layers").cast("array<array<bigint>>"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            r.getSeq[scala.collection.Seq[Long]](3).map(_.toSeq).toSeq))
          .sortBy(t => (t._2, t._1)).toSeq)
        graft.similarity.Hnsw.searchIndex(
          s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x112Graph.map(hnswWalkReplaySql)),

    // ── X123: the streaming GRAPH-ANN ingest loop — the HNSW member of
    //    the ingest-loop matrix (exact: x32/x45; near-dup: x75/x122;
    //    IVF: x29/x46; NSW: x73; HNSW batch: x112): an index is
    //    bootstrapped from a third of the embeddings, then a real
    //    Structured Streaming foreachBatch drive grows it with
    //    `Hnsw.appendToIndex` in two micro-batches (touched shards only;
    //    levels from the pure id function, so arrival order never moves
    //    a node's level), and the stream-grown index is searched. No
    //    re-delivery batch: graph appends are not idempotent by design
    //    (the FAISS/hnswlib add contract — production puts the x45
    //    exact-dedup stage in front, exactly as x46's IVF loop). FULL
    //    oracle: the x112 walk-replay device over the persisted
    //    POST-STREAM adjacency — the streaming execution is invisible
    //    to the oracle, which replays whatever graph the stream built ──
    QueryDef(
      "x123_stream_hnsw_ingest",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("hnsw_stream", dir)
        graft.similarity.Hnsw.writeIndex(
          emb.filter(col("vec_id") % 3 === 0), "embedding", "vec_id", path,
          numShards = 8)
        val rest = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").cast("long"), col("embedding"))
          .as[(Long, Array[Float])].collect()
        val mem = MemoryStream[(Long, Array[Float])]
        val q = mem.toDF().toDF("vec_id", "embedding").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            graft.similarity.Hnsw.appendToIndex(
              batch, "embedding", "vec_id", path)
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x123"))
          .start()
        StreamingOps.drive(q, "x123")(Seq(1L, 2L).map(m => rest.filter(_._1 % 3 == m)))(
          b => mem.addData(b.toIndexedSeq: _*))
        x123Graph = Some(s.read.parquet(s"$path/nodes")
          .select(col("id").cast("long"), col("__shard").cast("int"),
            col("level").cast("int"), col("layers").cast("array<array<bigint>>"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            r.getSeq[scala.collection.Seq[Long]](3).map(_.toSeq).toSeq))
          .sortBy(t => (t._2, t._1)).toSeq)
        graft.similarity.Hnsw.searchIndex(
          s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x123Graph.map(hnswWalkReplaySql)),

    // ── X73: persisted NSW graph index — build, grow by an append batch
    //    (only the touched shards are read/rewritten), then search the
    //    stream-grown graph. The x18/x29 production contract for the
    //    graph family. FULL oracle via the fitted-state thunk: the run
    //    reads back the adjacency it just persisted (structure only —
    //    ids, shards, neighbor lists) and DuckDB replays the greedy beam
    //    walk itself step by step in a recursive CTE
    //    ([[nswWalkReplaySql]]); AnnSpec keeps recall + untouched-shard
    //    immutability ──
    QueryDef(
      "x73_ann_nsw_indexed",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("nsw_index", dir)
        graft.similarity.Nsw.writeIndex(
          emb.filter(col("vec_id") % 3 =!= 0), "embedding", "vec_id",
          path, numShards = 8)
        graft.similarity.Nsw.appendToIndex(
          emb.filter(col("vec_id") % 3 === 0), "embedding", "vec_id", path)
        x73Graph = Some(s.read.parquet(s"$path/nodes")
          .select(col("id").cast("long"), col("__shard").cast("int"),
            col("neighbors").cast("array<bigint>"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
          .sortBy(t => (t._2, t._1)).toSeq)
        graft.similarity.Nsw.searchIndex(
          s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x73Graph.map(nswWalkReplaySql)),

    // ── X5: token stats per (source, lang) ──
    QueryDef(
      "x5_token_stats",
      (s, dir) => {
        TextOps.tokenStats(Tables.documents(s, dir), "text", Seq("source", "lang"))
          .select(col("source"), col("lang"), col("n_docs"),
            round(col("avg_tokens"), 6).as("avg_tokens"),
            round(col("avg_chars"), 6).as("avg_chars"))
      },
      Some("""
        SELECT source, lang, count(*) AS n_docs,
          round(avg(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)), 6) AS avg_tokens,
          round(avg(CAST(length(text) AS DOUBLE)), 6) AS avg_chars
        FROM documents GROUP BY source, lang
      """.stripMargin.trim)),

    // ── X6: heuristic quality score per document ──
    QueryDef(
      "x6_quality_score",
      (s, dir) => {
        TextOps.qualityScore(Tables.documents(s, dir), "text", "__q")
          .select(col("doc_id"), round(col("__q"), 6).as("quality"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS ntok,
            CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
              x -> x IN (${TextOps.langStopwords.flatMap(_._2).distinct.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) AS nstop,
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
            CAST(length(text) AS DOUBLE) AS nchar
          FROM documents
        )
        SELECT doc_id,
          round(1 / (1 + exp(-(0.2 * ln(1 + ntok) + 2 * (nstop / greatest(ntok, 1))
            - 8 * (npunct / greatest(nchar, 1)) - 1))), 6) AS quality
        FROM t
      """.stripMargin.trim)),

    // ── X7: stopword-vote language ID per document ──
    QueryDef(
      "x7_language_id",
      (s, dir) => {
        TextOps.languageId(Tables.documents(s, dir), "text", "pred_lang")
          .select(col("doc_id"), col("lang"), col("pred_lang"))
      },
      Some {
        val hits = TextOps.langStopwords.map { case (lang, ws) =>
          s"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN (${ws.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS h_$lang"
        }.mkString(", ")
        s"""
        WITH h AS (SELECT doc_id, lang, $hits FROM documents)
        SELECT doc_id, lang,
          CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
               WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
               WHEN h_fr >= h_es THEN 'fr'
               ELSE 'es' END AS pred_lang
        FROM h
        """.stripMargin.trim
      }),

    // ── X110: Cavnar–Trenkle n-gram language-ID (LangId) — the
    //    published rank-profile method beside x7's stopword argmax:
    //    per-language top-100 char-3-gram profiles from the labeled
    //    corpus, per-doc top-50 rank lists, out-of-place distance with
    //    absent-gram penalty, argmin with total-order tie-breaks.
    //    Profiles are langs×100 rows broadcast-joined; classification
    //    is one explode + keyed window + grouped aggregate,
    //    corpus-linear. FULL oracle: training AND classification replay
    //    in DuckDB windows (no fitted state — the profile build is
    //    itself deterministic SQL) ──
    QueryDef(
      "x110_langid_ngram",
      (s, dir) => {
        graft.text.LangId.classifySelfLabeled(
          Tables.documents(s, dir), "doc_id", "text", "lang")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), g AS (
          SELECT doc_id, lang, substring(norm, i.i, 3) AS g
          FROM d, (SELECT unnest(generate_series(1, length(norm) - 2)) AS i) i
          WHERE length(norm) >= 3
        ), prof AS (
          SELECT lang, g, rank FROM (
            SELECT lang, g, row_number() OVER (PARTITION BY lang
              ORDER BY count(*) DESC, g) AS rank
            FROM g GROUP BY lang, g)
          WHERE rank <= 100
        ), dr AS (
          SELECT doc_id, g, dr FROM (
            SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id
              ORDER BY count(*) DESC, g) AS dr
            FROM g GROUP BY doc_id, g)
          WHERE dr <= 50
        ), langs AS (
          SELECT DISTINCT lang FROM prof
        ), scored AS (
          SELECT dr.doc_id, langs.lang,
            sum(coalesce(abs(dr.dr - prof.rank), 100)) AS dist
          FROM dr CROSS JOIN langs
          LEFT JOIN prof ON prof.lang = langs.lang AND prof.g = dr.g
          GROUP BY dr.doc_id, langs.lang
        )
        SELECT doc_id, lang AS pred_lang, CAST(dist AS BIGINT) AS distance
        FROM (
          SELECT doc_id, lang, dist, row_number() OVER (PARTITION BY doc_id
            ORDER BY dist, lang) AS rk
          FROM scored)
        WHERE rk = 1
      """.stripMargin.trim)),

    // ── X22: composed corpus-cleaning pass — the end-to-end shape of a
    //    training-data pipeline: language filter (en) → quality gate
    //    (≥ 0.5) → exact dedup on normalized content (first doc_id wins)
    //    → per-source stats. Demonstrates operator composition staying
    //    inside one Catalyst plan: projections fuse, the only shuffles
    //    are the dedup hash partition and the final aggregate ──
    QueryDef(
      "x22_corpus_clean",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val lang = TextOps.languageId(docs, "text", "pred_lang")
        val qual = TextOps.qualityScore(lang, "text", "__q")
        val kept = qual.filter(col("pred_lang") === "en" && col("__q") >= 0.5)
        val deduped = TextOps.exactDedup(kept, "text", Seq("doc_id"))
        deduped.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("__q")), 6).as("avg_quality"),
            sum(TextOps.bpeishTokenCount(col("text"))).as("total_tokens"))
      },
      Some {
        val hits = TextOps.langStopwords.map { case (lang, ws) =>
          s"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN (${ws.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS h_$lang"
        }.mkString(", ")
        val allStops = TextOps.langStopwords.flatMap(_._2).distinct
          .map("'" + _ + "'").mkString(",")
        s"""
        WITH h AS (
          SELECT doc_id, source, text, $hits FROM documents
        ), l AS (
          SELECT doc_id, source, text,
            CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
                 WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
                 WHEN h_fr >= h_es THEN 'fr'
                 ELSE 'es' END AS pred_lang
          FROM h
        ), t AS (
          SELECT doc_id, source, text, pred_lang,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS ntok,
            CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
              x -> x IN ($allStops))) AS DOUBLE) AS nstop,
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
            CAST(length(text) AS DOUBLE) AS nchar
          FROM l
        ), q AS (
          SELECT doc_id, source, text, pred_lang,
            1 / (1 + exp(-(0.2 * ln(1 + ntok) + 2 * (nstop / greatest(ntok, 1))
              - 8 * (npunct / greatest(nchar, 1)) - 1))) AS quality
          FROM t
        ), kept AS (
          SELECT * FROM q WHERE pred_lang = 'en' AND quality >= 0.5
        ), ded AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
              PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
              ORDER BY doc_id) AS rk
            FROM kept) WHERE rk = 1
        )
        SELECT source, count(*) AS n_docs,
          round(avg(quality), 6) AS avg_quality,
          CAST(sum(list_aggregate(
            list_transform(string_split_regex(trim(text), '\\s+'),
              w -> CAST(ceil(length(w)/4.0) AS BIGINT)), 'sum')) AS BIGINT) AS total_tokens
        FROM ded GROUP BY source
        """.stripMargin.trim
      }),

    // ── X22b: the ENTIRE published cleaning pipeline in one pass — x22's
    //    language → quality → exact-dedup spine extended with the
    //    near-dup stage every production corpus clean ends with: MinHash
    //    LSH pairs (word 3-shingles, 128 hashes / 16 bands, Jaccard ≥
    //    0.8 — the x13 operator) over the exact-dedup survivors, resolved
    //    to clusters (x43's min-label components), each cluster keeping
    //    its min doc_id. Emits per-source stats of the cleaned corpus
    //    plus how many docs the near-dup stage dropped. FULL oracle: the
    //    x22 CTEs + the x13 MinHash replay + the x43 recursive-CTE
    //    closure, composed ──
    QueryDef(
      "x22b_corpus_clean_full",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val lang = TextOps.languageId(docs, "text", "pred_lang")
        val qual = TextOps.qualityScore(lang, "text", "__q")
        val kept = qual.filter(col("pred_lang") === "en" && col("__q") >= 0.5)
        val deduped = TextOps.exactDedup(kept, "text", Seq("doc_id"))
        val pairs = TextOps.nearDupPairsBy(deduped, "doc_id",
          TextOps.wordShingles(col("text"), 3),
          numHashes = 128, bands = 16, threshold = 0.8)
        // component label IS the min member id, so non-keepers are
        // exactly the rows whose id differs from their label
        val drops = graft.text.Components
          .connectedComponents(pairs, "id_a", "id_b")
          .filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id"))
        val cleaned = deduped.join(drops, Seq("doc_id"), "left_anti")
        val stats = cleaned.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("__q")), 6).as("avg_quality"),
            sum(TextOps.bpeishTokenCount(col("text"))).as("total_tokens"))
        val dropStats = deduped.join(drops, Seq("doc_id"))
          .groupBy(col("source")).agg(count(lit(1)).as("__nd"))
        stats.join(dropStats, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("__nd"), lit(0L)).as("n_neardup_dropped"),
            col("avg_quality"), col("total_tokens"))
      },
      Some {
        val hits = TextOps.langStopwords.map { case (lang, ws) =>
          s"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN (${ws.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS h_$lang"
        }.mkString(", ")
        val allStops = TextOps.langStopwords.flatMap(_._2).distinct
          .map("'" + _ + "'").mkString(",")
        s"""
        WITH h AS (
          SELECT doc_id, source, text, $hits FROM documents
        ), l AS (
          SELECT doc_id, source, text,
            CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
                 WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
                 WHEN h_fr >= h_es THEN 'fr'
                 ELSE 'es' END AS pred_lang
          FROM h
        ), t AS (
          SELECT doc_id, source, text, pred_lang,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS ntok,
            CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
              x -> x IN ($allStops))) AS DOUBLE) AS nstop,
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
            CAST(length(text) AS DOUBLE) AS nchar
          FROM l
        ), q AS (
          SELECT doc_id, source, text, pred_lang,
            1 / (1 + exp(-(0.2 * ln(1 + ntok) + 2 * (nstop / greatest(ntok, 1))
              - 8 * (npunct / greatest(nchar, 1)) - 1))) AS quality
          FROM t
        ), kept AS (
          SELECT * FROM q WHERE pred_lang = 'en' AND quality >= 0.5
        ), ded AS (
          SELECT doc_id, source, text, quality,
            regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM (
            SELECT *, row_number() OVER (
              PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
              ORDER BY doc_id) AS rk
            FROM kept) WHERE rk = 1
        ), w AS (
          SELECT doc_id, string_split(norm, ' ') AS w FROM ded
        ), sh AS (
          SELECT doc_id,
            list_distinct(list_transform(generate_series(1, len(w)-2),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          FROM w WHERE len(w) >= 3
        ), ab AS (
          SELECT doc_id, s,
            list_transform(s, x -> (('0x' || substring(md5(x),1,8))::BIGINT)) AS av,
            list_transform(s, x -> (('0x' || substring(md5(x),9,8))::BIGINT)) AS bv
          FROM sh
        ), sig AS (
          SELECT doc_id, s,
            list_transform(generate_series(0, 127), k ->
              list_aggregate(list_transform(generate_series(1, len(av)),
                i -> (av[i] + k*bv[i]) % 4294967311), 'min')) AS sig
          FROM ab
        ), banded AS (
          SELECT doc_id, b.b AS band, sig[(b.b*8+1):(b.b*8+8)] AS key
          FROM sig, (SELECT unnest(generate_series(0, 15)) AS b) b
        ), cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
            AND l.doc_id < r.doc_id
        ), j AS (
          SELECT id_a, id_b,
            len(list_intersect(a.s, b.s))::DOUBLE /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
          FROM cand JOIN sh a ON cand.id_a = a.doc_id
                    JOIN sh b ON cand.id_b = b.doc_id
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM j WHERE jac >= 0.8
          UNION
          SELECT id_b, id_a FROM j WHERE jac >= 0.8
        ), rc AS (
          WITH RECURSIVE reach(id, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
          )
          SELECT id, min(lbl) AS component FROM reach GROUP BY id
        ), drops AS (
          SELECT id FROM rc WHERE id <> component
        ), cleaned AS (
          SELECT * FROM ded WHERE doc_id NOT IN (SELECT id FROM drops)
        ), cstat AS (
          SELECT source, count(*) AS n_docs,
            round(avg(quality), 6) AS avg_quality,
            CAST(sum(list_aggregate(
              list_transform(string_split_regex(trim(text), '\\s+'),
                w -> CAST(ceil(length(w)/4.0) AS BIGINT)), 'sum')) AS BIGINT) AS total_tokens
          FROM cleaned GROUP BY source
        ), dstat AS (
          SELECT source, count(*) AS nd FROM ded
          WHERE doc_id IN (SELECT id FROM drops) GROUP BY source
        )
        SELECT cstat.source, n_docs,
          CAST(coalesce(dstat.nd, 0) AS BIGINT) AS n_neardup_dropped,
          avg_quality, total_tokens
        FROM cstat LEFT JOIN dstat ON cstat.source = dstat.source
        """.stripMargin.trim
      }),

    // ── X9: gap-based sessionization (30 min) per user ──
    QueryDef(
      "x9_sessionize",
      (s, dir) => {
        // DuckDB's comparable time basis is epoch MICROseconds (its
        // TIMESTAMP resolution), so divide the loader's epoch-nanos ts
        // down to µs on this side
        Sessionize.sessionStats(
          ev(s, dir).withColumn("ts_us", expr("ts div 1000")),
          Seq("user_id"), "ts_us", Seq("ts_us", "event_id"), gap = 1800000000L)
          .select(col("user_id"), col("session_id").cast("long").as("session_id"),
            col("n_events"), col("duration").cast("long").as("duration_us"))
      },
      Some("""
        WITH o AS (
          SELECT user_id, epoch_us(ts) AS tns, event_id FROM events
        ), m AS (
          SELECT user_id, tns, event_id,
            CASE WHEN lag(tns) OVER w IS NULL OR tns - lag(tns) OVER w > 1800000000
              THEN 1 ELSE 0 END AS nw
          FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)
        ), s AS (
          SELECT user_id, tns,
            sum(nw) OVER (PARTITION BY user_id ORDER BY tns, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
          FROM m
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          count(*) AS n_events,
          CAST(max(tns) - min(tns) AS BIGINT) AS duration_us
        FROM s GROUP BY user_id, session_id
      """.stripMargin.trim)),

    // ── X10: tumbling hourly aggregate (integer-div bucketing on
    //    epoch-nanos — no double division at 1e18 magnitude) ──
    QueryDef(
      "x10_hourly_agg",
      (s, dir) => {
        Sessionize.tumblingAgg(ev(s, dir), Seq("event_type"), "ts", "value",
          widthNanos = 3600000000000L)
          .select(col("event_type"), col("bucket_start_s"), col("n_events"),
            round(col("sum_value"), 6).as("sum_value"),
            round(col("avg_value"), 6).as("avg_value"))
      },
      Some("""
        SELECT event_type,
          (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_start_s,
          count(*) AS n_events,
          round(sum(value), 6) AS sum_value,
          round(avg(value), 6) AS avg_value
        FROM events GROUP BY event_type, bucket_start_s
      """.stripMargin.trim)),

    // ── X109: SLIDING event-time windows — `window(t, 2h, slide 1h)`,
    //    the overlapping complement of x10's tumbling buckets (and of
    //    G1's row-based sliding segmentation): every event lands in
    //    exactly duration/slide = 2 epoch-aligned windows, which Spark
    //    plans as a generate+shuffle (no self-join). FULL oracle: the
    //    two hour-aligned window starts replay as unnest arithmetic ──
    QueryDef(
      "x109_sliding_windows",
      (s, dir) => {
        ev(s, dir)
          .withColumn("__t", timestamp_micros(expr("ts div 1000")))
          .groupBy(col("event_type"),
            window(col("__t"), "2 hours", "1 hour").as("w"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 6).as("sum_value"))
          .select(col("event_type"),
            col("w.start").cast("long").as("win_start_s"),
            col("n_events"), col("sum_value"))
      },
      Some("""
        SELECT event_type,
          ((epoch_us(ts) // 3600000000) - k.k) * 3600 AS win_start_s,
          count(*) AS n_events,
          round(sum(value), 6) AS sum_value
        FROM events, unnest(generate_series(0, 1)) k(k)
        GROUP BY event_type, win_start_s
      """.stripMargin.trim)),

    // ── Q5-style: revenue per supplier nation in ASIA (multi-join;
    //    nation/region auto-broadcast) ──
    QueryDef(
      "q5_revenue_by_nation",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val sup = Tables.supplier(s, dir)
        val nat = Tables.nation(s, dir)
        val reg = Tables.region(s, dir)
        li.join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .join(reg, col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA")
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1d) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""
        SELECT n_name,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          count(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
      """.stripMargin.trim)),

    // ── TPC-H-style q3: top unshipped-revenue orders for one segment —
    //    fact-fact join with a broadcast dim filter and a deterministic
    //    top-10 (revenue desc, orderkey asc) ──
    QueryDef(
      "q3_unshipped_orders",
      (s, dir) => {
        val pivot = to_timestamp(lit("1998-06-01"))
        val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val o = Tables.orders(s, dir).filter(col("o_orderdate") < pivot)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > pivot)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
          .agg(round(sum(col("l_extendedprice") * (lit(1d) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
          .select(col("l_orderkey"), col("revenue"), col("o_date"))
      },
      Some("""
        SELECT l_orderkey,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          strftime(o_orderdate, '%Y-%m-%d') AS o_date
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY 1, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10
      """.stripMargin.trim)),

    // ── TPC-H-style q6: pure filter + agg — the predicate-pushdown probe
    //    (all four predicates reach the parquet scan) ──
    QueryDef(
      "q6_forecast_revenue",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1999-01-01")) &&
            col("l_discount").between(0.02, 0.06) &&
            col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
          count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1999-01-01'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity < 24
      """.stripMargin.trim)),

    // ── Q12-style: conditional aggregation across a fact-fact join —
    //    line counts split by order priority class per return flag (the
    //    TPC-H q12 CASE-inside-SUM shape; one join, one agg, priorities
    //    classified inline so the fact table is scanned once) ──
    QueryDef(
      "q12_priority_mix",
      (s, dir) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(sum(when(hi, 1L).otherwise(0L)).as("high_lines"),
            sum(when(!hi, 1L).otherwise(0L)).as("low_lines"),
            round(sum(when(hi, col("l_extendedprice")).otherwise(0d)), 2)
              .as("high_revenue"))
      },
      Some("""
        SELECT l_returnflag,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 0 ELSE 1 END) AS BIGINT) AS low_lines,
          round(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN l_extendedprice ELSE 0 END), 2) AS high_revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
      """.stripMargin.trim)),

    // ── Q18-style: large-order identification — aggregate-then-filter
    //    subquery joined back to its dimensions (the TPC-H q18 HAVING
    //    shape): lineitem grouped by order, quantity-thresholded, the
    //    small survivor set joined to orders + customer. The threshold
    //    filter lands on the AGGREGATE, so the join input collapses
    //    before any dimension is touched ──
    QueryDef(
      "q18_big_orders",
      (s, dir) => {
        val big = Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 300)
        big.join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("total_price"),
            round(col("total_qty"), 2).as("total_qty"))
          .orderBy(col("total_qty").desc, col("o_orderkey").asc)
          .limit(100)
      },
      Some("""
        SELECT c_name, o_orderkey,
          round(o_totalprice, 2) AS total_price,
          round(total_qty, 2) AS total_qty
        FROM (
          SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
        ) big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_qty DESC, o_orderkey ASC
        LIMIT 100
      """.stripMargin.trim)),

    // ── X91: hierarchical ROLLUP — the OLAP subtotal surface
    //    (priority × status subtotals + grand total in ONE pass; Spark
    //    expands grouping sets inside a single aggregation instead of
    //    unioning three scans). Null grouping keys are coalesced to
    //    '<all>' so the subtotal rows compare engine-portably ──
    QueryDef(
      "x91_rollup",
      (s, dir) => {
        Tables.orders(s, dir)
          .rollup(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("sum_price"),
            grouping_id().as("gid"))
          .select(coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
            coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
            col("n_orders"), col("sum_price"), col("gid"))
      },
      Some("""
        SELECT coalesce(o_orderpriority, '<all>') AS priority,
          coalesce(o_orderstatus, '<all>') AS status,
          count(*) AS n_orders,
          round(sum(o_totalprice), 2) AS sum_price,
          CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      """.stripMargin.trim)),

    // ── X92: PIVOT — event counts and value sums spread into one column
    //    per event type (explicit value list, so the output schema is
    //    static — the only pivot shape that scales: a discovery pivot
    //    runs an extra distinct pass AND breaks schema stability).
    //    Oracle: portable CASE aggregation ──
    QueryDef(
      "x92_pivot",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        Tables.events(s, dir)
          .withColumn("hour",
            expr("CAST(ts div 1000000000 % 86400 div 3600 AS INT)"))
          .groupBy(col("hour"))
          .pivot("event_type", types)
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("v"))
          // pivot leaves absent (hour, type) combos null; a COUNT is 0 in
          // every ANSI engine, so align the count columns (sums stay null)
          .select(col("hour") +: types.flatMap(t => Seq(
            coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
            col(s"${t}_v"))): _*)
      },
      Some("""
        SELECT CAST(epoch_ns(ts) // 1000000000 % 86400 // 3600 AS INT) AS hour,
          """ + Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"""count(*) FILTER (WHERE event_type = '$t') AS "${t}_n",
          round(sum(value) FILTER (WHERE event_type = '$t'), 6) AS "${t}_v"""")
          .mkString(",\n          ") + """
        FROM events GROUP BY 1
      """.stripMargin.trim)),

    // ── D1: exact KNN classify (k=5, squared euclidean, deterministic
    //    tie-breaks) — test split vec_id % 20 = 0 ──
    QueryDef(
      "d1_knn",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val test = emb.filter(col("vec_id") % 20 === 0)
        val train = emb.filter(col("vec_id") % 20 =!= 0)
        Knn.classify(train, test, "embedding", "label", "vec_id", "vec_id", k = 5)
          .select(col("vec_id"), col("pred_label").cast("int").as("pred_label"),
            col("n_votes"))
      },
      Some("""
        WITH test AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
        ), train AS (
          SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 20 <> 0
        ), d AS (
          SELECT t.vec_id AS vec_id, tr.vec_id AS tid, tr.label,
            list_reduce(list_transform(
              list_zip(t.embedding::DOUBLE[], tr.embedding::DOUBLE[]),
              p -> (p[1] - p[2]) * (p[1] - p[2])),
              (x, y) -> x + y) AS d2
          FROM test t CROSS JOIN train tr
        ), topk AS (
          SELECT vec_id, label FROM (
            SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, tid ASC) AS rk
            FROM d) WHERE rk <= 5
        ), votes AS (
          SELECT vec_id, label, count(*) AS n_votes FROM topk GROUP BY vec_id, label
        )
        SELECT vec_id, CAST(label AS INT) AS pred_label, n_votes FROM (
          SELECT vec_id, label, n_votes,
            row_number() OVER (PARTITION BY vec_id ORDER BY n_votes DESC, label ASC) AS vrk
          FROM votes) WHERE vrk = 1
      """.stripMargin.trim)),

    // ── D1b: KNN with the reference's full surface — minkowski p=1
    //    (manhattan) + distance-weighted votes + sklearn zero-distance
    //    rule (sklearn_detectors.py:19-64) ──
    QueryDef(
      "d1_knn_weighted",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val test = emb.filter(col("vec_id") % 20 === 0)
        val train = emb.filter(col("vec_id") % 20 =!= 0)
        Knn.classifyWeighted(train, test, "embedding", "label", "vec_id", "vec_id",
          k = 5, p = 1.0, weights = "distance")
          .select(col("vec_id"), col("pred_label"),
            round(col("vote_weight"), 6).as("vote_weight"))
      },
      Some("""
        WITH test AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
        ), train AS (
          SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 20 <> 0
        ), d AS (
          SELECT t.vec_id AS vec_id, tr.vec_id AS tid, tr.label,
            list_reduce(list_transform(
              list_zip(t.embedding::DOUBLE[], tr.embedding::DOUBLE[]),
              p -> abs(p[1] - p[2])),
              (x, y) -> x + y) AS d1
          FROM test t CROSS JOIN train tr
        ), topk AS (
          SELECT vec_id, tid, label, d1 FROM (
            SELECT vec_id, tid, label, d1,
              row_number() OVER (PARTITION BY vec_id ORDER BY d1 ASC, tid ASC) AS rk
            FROM d) WHERE rk <= 5
        ), wts AS (
          SELECT vec_id, tid, label, d1,
            CASE WHEN min(d1) OVER (PARTITION BY vec_id) = 0
              THEN CASE WHEN d1 = 0 THEN 1.0 ELSE 0.0 END
              ELSE 1.0 / d1 END AS w
          FROM topk
        ), byclass AS (
          SELECT vec_id, label, list_sum(list(w ORDER BY d1 ASC, tid ASC)) AS vw
          FROM wts GROUP BY vec_id, label
        )
        SELECT vec_id, CAST(label AS BIGINT) AS pred_label,
          round(vw, 6) AS vote_weight
        FROM (
          SELECT vec_id, label, vw,
            row_number() OVER (PARTITION BY vec_id ORDER BY vw DESC, label ASC) AS vrk
          FROM byclass) WHERE vrk = 1
      """.stripMargin.trim)),

    // ── D1c: KNN predict_proba — per-class vote fractions over the full
    //    train label domain (sklearn_detectors.py:206-219) ──
    QueryDef(
      "d1_knn_proba",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val test = emb.filter(col("vec_id") % 20 === 0)
        val train = emb.filter(col("vec_id") % 20 =!= 0)
        Knn.predictProba(train, test, "embedding", "label", "vec_id", "vec_id",
          k = 5, p = 2.0, weights = "uniform")
          .select(col("vec_id"), col("label"), round(col("proba"), 6).as("proba"))
      },
      Some("""
        WITH test AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
        ), train AS (
          SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 20 <> 0
        ), d AS (
          SELECT t.vec_id AS vec_id, tr.vec_id AS tid, tr.label,
            list_reduce(list_transform(
              list_zip(t.embedding::DOUBLE[], tr.embedding::DOUBLE[]),
              p -> (p[1] - p[2]) * (p[1] - p[2])),
              (x, y) -> x + y) AS d2
          FROM test t CROSS JOIN train tr
        ), topk AS (
          SELECT vec_id, label FROM (
            SELECT vec_id, label,
              row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, tid ASC) AS rk
            FROM d) WHERE rk <= 5
        ), counts AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label, count(*) AS c
          FROM topk GROUP BY 1, 2
        ), labels AS (
          SELECT DISTINCT CAST(label AS BIGINT) AS label FROM train
        )
        SELECT t.vec_id, l.label, round(COALESCE(c.c, 0) / 5.0, 6) AS proba
        FROM (SELECT DISTINCT vec_id FROM test) t
        CROSS JOIN labels l
        LEFT JOIN counts c ON c.vec_id = t.vec_id AND c.label = l.label
      """.stripMargin.trim)),

    // ── X4: brute-force cosine top-3 for query vectors vec_id < 20 ──
    QueryDef(
      "x4_cosine_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Ann.cosineTopK(emb, emb.filter(col("vec_id") < 20), "embedding",
          "vec_id", "vec_id", k = 3)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some("""
        WITH q AS (
          SELECT vec_id AS qid, embedding::DOUBLE[] AS qf FROM embeddings WHERE vec_id < 20
        ), c AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cf FROM embeddings
        ), d AS (
          SELECT qid, cid,
            list_reduce(list_transform(list_zip(qf, cf), p -> p[1] * p[2]), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(list_zip(qf, qf), p -> p[1] * p[2]), (x, y) -> x + y))
               * sqrt(list_reduce(list_transform(list_zip(cf, cf), p -> p[1] * p[2]), (x, y) -> x + y))) AS cos
          FROM q CROSS JOIN c WHERE cid <> qid
        )
        SELECT qid AS vec_id, rank, cid AS neighbor_id, round(cos, 6) AS cosine FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
          FROM d) WHERE rank <= 3
      """.stripMargin.trim)),

    // ── X156: ColBERT-style LATE-INTERACTION (MaxSim) retrieval
    //    (similarity/Ann.scala `maxSimTopK`; Khattab & Zaharia 2020) —
    //    rows carry a BAG of vectors and score(q,d) = Σ_i max_j ⟨q_i,d_j⟩:
    //    each query vector picks its best doc vector, so token-level
    //    matches survive pooling — the retrieval tier between single-
    //    vector cosine (x4) and cross-encoders. Multi-vector rows here
    //    are deterministic 4×16 slices of the 64-dim embeddings (the
    //    operator is agnostic; real per-token vectors arrive the same
    //    shape). Plan: queries broadcast, corpus streamed once, the
    //    whole MaxSim reduction one fused codegen'd higher-order tree —
    //    no explode, no vector shuffle — and the bounded top-k aggregate
    //    carries k·P rows per query. FULL oracle: DuckDB replays the
    //    same left-fold with nested list lambdas ──
    QueryDef(
      "x156_maxsim_retrieval",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val mv = emb.select(col("vec_id"),
          Ann.sliceVectors(col("embedding"), dim = 64, n = 4).as("vecs"))
        Ann.maxSimTopK(mv, mv.filter(col("vec_id") < 20), "vecs",
          "vec_id", "vec_id", k = 3)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("score"), 6).as("score"))
      },
      Some("""
        WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ), mv AS (
          SELECT vec_id, [list_slice(e, 1, 16), list_slice(e, 17, 32),
            list_slice(e, 33, 48), list_slice(e, 49, 64)] AS vs FROM base
        ), q AS (
          SELECT vec_id AS qid, vs AS qvs FROM mv WHERE vec_id < 20
        ), d AS (
          SELECT vec_id AS cid, vs AS dvs FROM mv
        ), s AS (
          SELECT qid, cid,
            list_reduce(list_transform(qvs, qv ->
              list_reduce(list_transform(dvs, dv ->
                list_reduce(list_transform(list_zip(qv, dv), p -> p[1] * p[2]),
                  (x, y) -> x + y)),
                (a, b) -> greatest(a, b))),
              (x, y) -> x + y) AS s
          FROM q CROSS JOIN d WHERE cid <> qid
        )
        SELECT qid AS vec_id, rank, cid AS neighbor_id, round(s, 6) AS score
        FROM (SELECT qid, cid, s,
          row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid ASC) AS rank
          FROM s) WHERE rank <= 3
      """.stripMargin.trim))
  )

  /** Full registry: core ops + ML detectors + simulators + observers +
    * round-1 ops that needed driver registration.
    */
  def all: Seq[QueryDef] =
    defs ++ MlQueries.defs ++ SimQueries.defs ++ ObsQueries.defs ++
      ExtraQueries.defs ++ DedupQueries.defs ++ PipelineQueries.defs ++
      JoinQueries.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle().map(d.name -> _)).toMap
}

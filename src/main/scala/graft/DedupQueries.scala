package graft

import org.apache.spark.sql.functions._

import graft.multimodal.{Multimodal, Png, Wav}
import graft.similarity.{Ann, IncrementalSemDedup, Ivf, Pq, RetrievalEval}
import graft.sources.Partitioned
import graft.streaming.StreamingOps
import graft.text.{IncrementalDedup, IncrementalNearDup, TextOps}

/** The rest of the dedup family (SURVEY §2.8): SimHash, word n-gram
  * Jaccard, embedding-cosine near-dup, plus the multimodal binary-payload
  * feature surface. Exact dedup is `x1`, char-shingle MinHash LSH is
  * `x2`; these are `x12`–`x15`.
  */
object DedupQueries {

  /** DuckDB replica of the unrolled Rabin–Karp polynomial over `g`. */
  private val rollPoly: String =
    (1 to 8).foldLeft("0::BIGINT")((acc, j) =>
      s"(($acc * 257 + ord(substr(g, $j, 1))) % 1000000007)")

  /** Compute-once MinHash signature STORE shared by the near-dup
    * lifecycle family (x75 ingest, x122 streaming ingest, x137 erasure):
    * production computes document sketches ONCE at crawl time and every
    * downstream lifecycle op reads the store instead of re-sketching the
    * corpus — the x122 `sigCol` design promoted from per-query to
    * per-family (r12 measured the 128-wide sketch as the family's
    * dominant cost; three queries were paying it independently).
    * Session-cached as an eagerly-materialized checkpoint (the
    * registry's in-run analogue of the persisted crawl-time store a
    * 100 TB deployment would keep in parquet); any of the three queries
    * can run first — subset runs included — and the others reuse the
    * pinned frame. Columns: `(doc_id BIGINT, sig ARRAY<BIGINT>)` under
    * the registry's standard (shingleN=3, numHashes=128) parameters.
    */
  private val sigStoreCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.DataFrame]()
  private def neardupSigStore(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    // keyed by applicationId (unique per context lifetime — an identity
    // hash could collide across a stopped context's address reuse and
    // hand out a frame whose checkpoint blocks died with it); entries of
    // DEAD applications are evicted here so a long-lived driver running
    // several contexts never pins a stopped session's plan graph
    {
      val app = s.sparkContext.applicationId
      sigStoreCache.keySet.removeIf(_._1 != app)
      sigStoreCache
    }.computeIfAbsent(
      (s.sparkContext.applicationId, dir), _ =>
        IncrementalNearDup.signatures(
          Tables.documents(s, dir)
            .select(col("doc_id").cast("long").as("doc_id"), col("text")),
          "doc_id", "text")
          .select(col("__id").as("doc_id"), col("__sig").as("sig"))
          .localCheckpoint(true))

  /** Run-stashed artifacts for the thunk oracles of x39/x40 (see the
    * QueryDef companion doc): the trained PQ codebooks, and for x40 also
    * the coarse centroids read back from the persisted index. Evaluated
    * by `Verify` AFTER the query loop, so the thunks see the values the
    * runs stored; when the query never ran (subset runs), the thunk
    * yields None and the driver records the usual no_oracle row.
    */
  @volatile private var x39Codebooks: Option[Pq.Codebooks] = None
  @volatile private var x40Artifacts: Option[(Array[Array[Double]], Pq.Codebooks)] = None
  @volatile private var x47Centroids: Option[Array[Array[Double]]] = None
  @volatile private var x77Centroids: Option[Array[Array[Double]]] = None
  @volatile private var x17Centroids: Option[Array[Array[Double]]] = None
  @volatile private var x18Centroids: Option[Array[Array[Double]]] = None
  @volatile private var x119Centroids: Option[Array[Array[Double]]] = None
  @volatile private var x119PqCb: Option[Pq.Codebooks] = None
  @volatile private var x119NswGraph: Option[Seq[(Long, Int, Seq[Long])]] = None
  @volatile private var x119HnswGraph: Option[Seq[(Long, Int, Int, Seq[Seq[Long]])]] = None

  /** Frozen quantizer stashed by the x124 run (trained on the bootstrap
    * batch, persisted with the index — the fitted-state thunk device).
    */
  @volatile private var x124Cents: Option[Array[Array[Double]]] = None

  /** Frozen quantizer stashed by the x126 streaming run (trained on the
    * first micro-batch, read back from the persisted index).
    */
  @volatile private var x126Cents: Option[Array[Array[Double]]] = None

  private def sqlList(a: Array[Double]): String = a.mkString("[", ", ", "]")

  /** Full DuckDB replay of the PQ ADC top-3 search over `embeddings`
    * (queries = vec_id < 20, excludeSelf), from codebook literals:
    * encode = per-subspace argmin over the k sub-centroids (squared
    * euclidean, code-asc tie-break — `Pq.encodeCol`'s array_sort
    * contract), recon norm = sqrt of the summed sub-centroid square
    * norms, score = ADC dot / (|q|·recon-norm), rank = cosine desc /
    * id asc (the `graft.functions.TopK` order). With `cents` given, the IVF layer is
    * replayed too: corpus rows assigned to their argmin cell, each query
    * probing its `nprobe` nearest cells (distance-then-cell-asc order —
    * `Ivf.probeCells`), candidates restricted to probed cells.
    */
  /** Full DuckDB replay of the IVF-FLAT cosine top-3 search over
    * `embeddings` (queries = vec_id < 20, excludeSelf) from centroid
    * literals: every corpus row assigned to its argmin cell (squared
    * euclidean, cell-asc ties — `probeCells`' rule), each query probing
    * its `nprobe` nearest cells, candidates restricted to probed cells,
    * exact cosine re-rank (desc, id-asc ties — the `rankTopK` contract).
    */
  private def ivfFlatReplaySql(cents: Array[Array[Double]], nprobe: Int): String = {
    val centVals = cents.zipWithIndex
      .map { case (c, i) => s"($i, ${sqlList(c)}::DOUBLE[])" }
      .mkString(",\n          ")
    s"""
        WITH cents(cell, c) AS (VALUES
          $centVals
        ), e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), q AS (
          SELECT vec_id AS qid, v AS qv,
            sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS qn
          FROM e WHERE vec_id < 20
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
        ), probe AS (
          SELECT qid, cell FROM (
            SELECT q.qid, ad.cell,
              row_number() OVER (PARTITION BY q.qid ORDER BY ad.d, ad.cell) AS rn
            FROM q JOIN ad ON ad.vec_id = q.qid) WHERE rn <= $nprobe
        ), cand AS (
          SELECT q.qid, q.qv, q.qn, e.vec_id AS cid, e.v AS cv
          FROM q JOIN probe USING (qid)
               JOIN asgn ON asgn.cell = probe.cell
               JOIN e ON e.vec_id = asgn.vec_id
          WHERE e.vec_id <> q.qid
        ), scored AS (
          SELECT qid, cid,
            list_reduce(list_transform(list_zip(qv, cv), p -> p[1] * p[2]), (x, y) -> x + y)
              / (qn * sqrt(list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y))) AS cos
          FROM cand
        )
        SELECT qid AS vec_id, rank, cid AS neighbor_id, round(cos, 6) AS cosine FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
          FROM scored) WHERE rank <= 3
    """.stripMargin.trim
  }

  private def pqReplaySql(
      cb: Pq.Codebooks,
      cents: Option[Array[Array[Double]]],
      nprobe: Int): String = {
    val ds = cb.dsub
    val cbVals = (for (s <- 0 until cb.m; j <- 0 until cb.k)
      yield s"($s, $j, ${sqlList(cb.centers(s)(j))}::DOUBLE[])")
      .mkString(",\n          ")
    val ivfCtes = cents.map { cs =>
      val centVals = cs.zipWithIndex
        .map { case (c, i) => s"($i, ${sqlList(c)}::DOUBLE[])" }
        .mkString(",\n          ")
      s""", cents(cell, c) AS (VALUES
          $centVals
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
        ), probe AS (
          SELECT qid, cell FROM (
            SELECT q.qid, ad.cell,
              row_number() OVER (PARTITION BY q.qid ORDER BY ad.d, ad.cell) AS rn
            FROM q JOIN ad ON ad.vec_id = q.qid) WHERE rn <= $nprobe
        )"""
    }.getOrElse("")
    val candJoin = cents
      .map(_ => """FROM q
            JOIN probe USING (qid)
            JOIN asgn ON asgn.cell = probe.cell
            JOIN enc ON enc.vec_id = asgn.vec_id
            JOIN cb USING (sub, code)""")
      .getOrElse("""FROM q CROSS JOIN enc JOIN cb USING (sub, code)""")
    s"""
        WITH cb(sub, code, ctr) AS (VALUES
          $cbVals
        ), e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), q AS (
          SELECT vec_id AS qid, v AS qv,
            sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS qn
          FROM e WHERE vec_id < 20
        )$ivfCtes, enc0 AS (
          SELECT e.vec_id, cb.sub, cb.code,
            list_reduce(list_transform(
              list_zip(list_slice(e.v, cb.sub * $ds + 1, cb.sub * $ds + $ds), cb.ctr),
              p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y) AS d
          FROM e CROSS JOIN cb
        ), enc AS (
          SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
              row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
            FROM enc0) WHERE rn = 1
        ), cn AS (
          SELECT enc.vec_id,
            sqrt(sum(list_reduce(list_transform(cb.ctr, x -> x * x),
              (x, y) -> x + y))) AS cn
          FROM enc JOIN cb USING (sub, code) GROUP BY enc.vec_id
        ), adc AS (
          SELECT q.qid, enc.vec_id AS cid,
            sum(list_reduce(list_transform(
              list_zip(list_slice(q.qv, sub * $ds + 1, sub * $ds + $ds), cb.ctr),
              p -> p[1] * p[2]), (x, y) -> x + y)) AS adc
          $candJoin
          WHERE enc.vec_id <> q.qid
          GROUP BY q.qid, enc.vec_id
        ), scored AS (
          SELECT adc.qid, adc.cid, adc.adc / (q.qn * cn.cn) AS cos
          FROM adc JOIN q ON q.qid = adc.qid JOIN cn ON cn.vec_id = adc.cid
        )
        SELECT qid AS vec_id, rank, cid AS neighbor_id, round(cos, 6) AS cosine FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
          FROM scored) WHERE rank <= 3
    """.stripMargin.trim
  }

  val defs: Seq[QueryDef] = Seq(

    // ── X12: SimHash near-dup (banded fingerprint join + Hamming verify);
    //    the DuckDB oracle replays the whole pipeline bit-for-bit ──
    QueryDef(
      "x12_simhash_dup",
      (s, dir) => {
        TextOps.simHashDupPairs(Tables.documents(s, dir), "doc_id",
          TextOps.charShingles(col("text"), 5), maxDist = 3)
          .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
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
        ), e AS (
          SELECT doc_id, unnest(s) AS x FROM sh
        ), h AS (
          SELECT doc_id,
            ('0x' || substring(md5(x),1,8))::BIGINT AS a,
            ('0x' || substring(md5(x),9,8))::BIGINT AS b
          FROM e
        ), bits AS (
          SELECT doc_id, j.j AS j,
            sum((CASE WHEN j.j < 32 THEN (a >> j.j) & 1
                      ELSE (b >> (j.j - 32)) & 1 END) * 2 - 1) AS cnt
          FROM h, (SELECT unnest(generate_series(0, 63)) AS j) j
          GROUP BY doc_id, j.j
        ), sim AS (
          SELECT doc_id,
            bit_or(CASE WHEN cnt <= 0 THEN 0
                        WHEN j = 63 THEN (-9223372036854775807 - 1)
                        ELSE (1::BIGINT << j) END) AS f
          FROM bits GROUP BY doc_id
        ), banded AS (
          SELECT doc_id, f, b.b AS band, (f >> (b.b*16)) & 65535 AS v
          FROM sim, (SELECT unnest(generate_series(0, 3)) AS b) b
        ), pairs AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
            l.f AS fa, r.f AS fb
          FROM banded l JOIN banded r ON l.band = r.band AND l.v = r.v
            AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        FROM pairs WHERE bit_count(xor(fa, fb)) <= 3
      """.stripMargin.trim)),

    // ── X13: word 3-gram Jaccard near-dup via the generalized MinHash
    //    banding; full DuckDB replay ──
    QueryDef(
      "x13_worddup",
      (s, dir) => {
        TextOps.nearDupPairsBy(Tables.documents(s, dir), "doc_id",
          TextOps.wordShingles(col("text"), 3),
          numHashes = 128, bands = 16, threshold = 0.8)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), w AS (
          SELECT doc_id, string_split(norm, ' ') AS w FROM d
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

    // ── X14: embedding-cosine near-dup, exact on a bounded slice so DuckDB
    //    can replay it (list arithmetic); the LSH-bucketed scale path
    //    (Ann.cosineDupPairs) is recall-tested against this exact baseline
    //    in AnnSpec. The synthetic embeddings are near-orthogonal (max
    //    cos ≈ 0.5), so the demo threshold is 0.4. ──
    QueryDef(
      "x14_embed_dup",
      (s, dir) => {
        val slice = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
        Ann.cosineDupPairsExact(slice, "vec_id", "embedding", threshold = 0.4)
          .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, embedding AS a FROM embeddings WHERE vec_id < 500
        ), p AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b,
            list_aggregate(list_transform(generate_series(1, len(l.a)),
              i -> l.a[i]::DOUBLE * r.a[i]::DOUBLE), 'sum') /
            (sqrt(list_aggregate(list_transform(generate_series(1, len(l.a)),
              i -> l.a[i]::DOUBLE * l.a[i]::DOUBLE), 'sum')) *
             sqrt(list_aggregate(list_transform(generate_series(1, len(r.a)),
              i -> r.a[i]::DOUBLE * r.a[i]::DOUBLE), 'sum'))) AS cos
          FROM e l JOIN e r ON l.vec_id < r.vec_id
        )
        SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4
      """.stripMargin.trim)),

    // ── X20: embedding-cosine near-dup, LSH-bucketed scale path — the
    //    100 TB answer to x14: candidates from a banded hyperplane-
    //    signature self-join (ids only through the shuffle), exact-cosine
    //    verify on candidates only, never all-pairs. Runs on the FULL
    //    embeddings table (x14 is the bounded exact slice). Hyperplane
    //    collisions are seed-dependent → rows-only; recall vs the exact
    //    baseline is asserted in AnnSpec ("cosineDupPairs (LSH) recovers
    //    the exact near-dup pairs on clustered data"). ──
    QueryDef(
      "x20_embed_dup_lsh",
      (s, dir) => {
        Ann.cosineDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          dim = 64, threshold = 0.4, bands = 16, bitsPerBand = 3)
          .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      },
      // FULL oracle since round 9 (was rows-only): plane literals + the
      // fixed-order ArrayDot projection make the sign bits replayable;
      // the hot-bucket star cap (n > MaxBucket → (min, member) spanning
      // pairs) is replayed from the bucket stats
      Some(s"""
        WITH planes(p, w) AS (VALUES
          ${Queries.planeSqlValues(dim = 64, nPlanes = 48, seed = 42L)}
        ), e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), proj AS (
          SELECT e.vec_id, planes.p,
            list_reduce(list_transform(list_zip(e.v, planes.w),
              z -> z[1] * z[2]), (x, y) -> x + y) AS pr
          FROM e CROSS JOIN planes
        ), bv AS (
          SELECT vec_id, p // 3 AS band,
            CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << (p % 3)) ELSE 0 END)
              AS BIGINT) AS v
          FROM proj GROUP BY vec_id, p // 3
        ), bstat AS (
          SELECT band, v, count(*) AS n, min(vec_id) AS mn FROM bv GROUP BY 1, 2
        ), smallp AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib
          FROM bv a JOIN bv b ON a.band = b.band AND a.v = b.v
            AND a.vec_id < b.vec_id
          JOIN bstat s ON s.band = a.band AND s.v = a.v
          WHERE s.n <= 256
        ), starp AS (
          SELECT s.mn AS ia, bv.vec_id AS ib
          FROM bv JOIN bstat s ON s.band = bv.band AND s.v = bv.v
          WHERE s.n > 256 AND bv.vec_id <> s.mn
        ), cand AS (
          SELECT DISTINCT ia, ib FROM (
            SELECT ia, ib FROM smallp UNION ALL SELECT ia, ib FROM starp)
        ), scored AS (
          SELECT cand.ia, cand.ib,
            list_reduce(list_transform(list_zip(a.v, b.v),
              z -> z[1] * z[2]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))) AS cos
          FROM cand JOIN e a ON a.vec_id = cand.ia JOIN e b ON b.vec_id = cand.ib
        )
        SELECT ia AS id_a, ib AS id_b, round(cos, 6) AS cosine
        FROM scored WHERE cos >= 0.4
      """.stripMargin.trim)),

    // ── X15: multimodal binary payloads — documents' text re-encoded as
    //    opaque binary, then byte-distribution feature extraction
    //    (Shannon entropy + totals) per source; format-aware decode is
    //    x21's job (Png/Wav codecs), this is the format-agnostic screen ──
    QueryDef(
      "x15_payload_entropy",
      (s, dir) => {
        val payloads = Tables.documents(s, dir)
          .withColumn("content", encode(col("text"), "UTF-8"))
        Multimodal.byteEntropy(payloads, Seq("source"), "content")
          .select(col("source"), col("total_bytes"),
            round(col("entropy_bits"), 6).as("entropy_bits"))
      },
      Some("""
        WITH p AS (
          SELECT source, encode(text) AS c FROM documents
        ), h AS (
          SELECT source, hex(c) AS hx, octet_length(c) AS n FROM p
        ), b AS (
          SELECT source, ('0x' || substring(hx, i.i*2-1, 2))::INT AS byte
          FROM h, (SELECT unnest(generate_series(1, n)) AS i) i
        ), hist AS (
          SELECT source, byte, count(*) AS cnt FROM b GROUP BY 1, 2
        ), w AS (
          SELECT source, cnt,
            cnt::DOUBLE / sum(cnt) OVER (PARTITION BY source) AS pr
          FROM hist
        )
        SELECT source, CAST(sum(cnt) AS BIGINT) AS total_bytes,
          round(-sum(pr * log2(pr)), 6) AS entropy_bits
        FROM w GROUP BY source
      """.stripMargin.trim)),

    // ── X16: winnowing fingerprints (Rabin–Karp rolling hash + window
    //    minima) — near-dup pairs by shared-fingerprint count; the oracle
    //    replays the polynomial, the winnow selection, and the pair join ──
    QueryDef(
      "x16_winnow_dup",
      (s, dir) => {
        TextOps.winnowDupPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 8, w = 4, minShared = 10, maxDf = 16)
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM documents
        ), g AS (
          SELECT doc_id, i.i AS pos, substr(norm, i.i, 8) AS g,
            length(norm) - 7 AS np
          FROM d, (SELECT unnest(generate_series(1, length(norm) - 7)) AS i) i
          WHERE length(norm) >= 8
        ), h AS (
          SELECT doc_id, pos, np, $rollPoly AS hh FROM g
        ), win AS (
          SELECT doc_id, pos, np,
            min(hh) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          FROM h
        ), fps AS (
          SELECT DISTINCT doc_id, fp FROM win WHERE pos <= np - 3
        ), keep AS (
          SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 16
        ), f2 AS (
          SELECT fps.doc_id, fps.fp FROM fps JOIN keep USING (fp)
        )
        SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_shared
        FROM f2 l JOIN f2 r ON l.fp = r.fp AND l.doc_id < r.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10
      """.stripMargin.trim)),

    // ── X17: IVF-Flat ANN (KMeans coarse quantizer + nprobe cells,
    //    exact re-rank) — second scale path beside the LSH x3; quantizer
    //    cells are model-derived → rows-only, recall asserted in AnnSpec ──
    QueryDef(
      "x17_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Ivf.trainQuantizer(emb, "embedding", "vec_id", nlist = 8, seed = 7L)
        x17Centroids = Some(cents) // FULL-oracle thunk: replay from literals
        Ivf.cosineTopKIvfWith(emb, emb.filter(col("vec_id") < 20), "embedding",
          "vec_id", "vec_id", k = 3, centroids = cents, nprobe = 3)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x17Centroids.map(c => ivfFlatReplaySql(c, nprobe = 3))),

    // ── X18: persisted IVF index — corpus written bucketed by quantizer
    //    cell, query path reads ONLY the probed cells' partitions (static
    //    IN-list partition pruning; the probed set is bounded by nlist).
    //    Same quantizer seed as x17 → identical results. FULL oracle via
    //    the persisted-centroid thunk (assign → probe → exact-cosine
    //    re-rank replayed in DuckDB from the index's own artifacts) ──
    QueryDef(
      "x18_ann_ivf_indexed",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // scratch (RAM-backed when available) + per-pid namespace + sf-dir
        // tag: concurrent runs at different scale factors (Verify sf0.01 +
        // Bench sf0.1) or across worktrees on the SAME sf dir (the
        // two-run bench protocol) must never race on the index — a
        // foreign writeIndex under a timed read would corrupt the
        // hash/timing
        val path = Scratch.forInput("ivf_index", dir)
        Ivf.writeIndex(emb, "embedding", "vec_id", path, nlist = 8, seed = 7L)
        // FULL-oracle thunk: replay probe + re-rank from what the index
        // actually persisted (the x29/x40 pattern)
        x18Centroids = Some(
          s.read.parquet(s"$path/centroids").orderBy(col("cell"))
            .collect().map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray))
        Ivf.cosineTopKIndexed(s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3, nprobe = 3)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x18Centroids.map(c => ivfFlatReplaySql(c, nprobe = 3))),

    // ── X119: retrieval-quality report (RetrievalEval.topKQuality) —
    //    the metric layer of the ANN governance family, extended in r11
    //    to grade EVERY approximate tier against one exact baseline:
    //    recall@3 / MRR@3 / binary nDCG@3 for (a) the IVF probe tier at
    //    a deliberately tight nprobe=2, (b) the persisted NSW graph
    //    search (x73's engine) and (c) the persisted HNSW search
    //    (x112's engine), one summary row per tier — the artifact an
    //    index operator reads to pick IVF-vs-graph and size
    //    nprobe/efSearch budgets. Per-query metrics are rounded to 6
    //    decimals, then the tier mean is formed over exact integer
    //    micro-units (sum of round(metric·1e6) as BIGINT, divided back
    //    as doubles) so the summary is bit-identical across engines
    //    WITHOUT a final rounding step — a mean of rounded values can
    //    sit exactly on a rounding boundary, the x118 lesson. FULL
    //    oracle: DuckDB replays the exact top-k, the probed IVF subset
    //    (centroid-literal thunk), BOTH graph walks (the x73/x112
    //    recursive state machines embedded as subqueries) and the
    //    metric arithmetic with driver-pinned ln2/idcg constants ──
    QueryDef(
      "x119_retrieval_eval",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 20)
        val nswPath = Scratch.forInput("nsw_eval", dir)
        val hnswPath = Scratch.forInput("hnsw_eval", dir)
        // The five tier builds (exact baseline, IVF quantizer, PQ
        // codebooks, NSW graph, HNSW graph) are INDEPENDENT — overlap
        // them from a driver pool (guide §2.6: actions are only
        // sequential because the driver calls them sequentially) so one
        // tier's scheduling gaps back-fill with another's tasks. Each
        // build's own partitioning/arithmetic is untouched, so every
        // tier's rows are bit-identical to the sequential shape.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        val (exact, cents, (cb, pq), nswGraph, hnswGraph) =
          try {
            // exact baseline: localCheckpoint pins its k·|queries| rows
            // once so the brute-force scan doesn't re-execute per branch
            val fExact = Future(Ann.cosineTopK(emb, queries, "embedding",
              "vec_id", "vec_id", k = 3).localCheckpoint())
            val fCents = Future(
              Ivf.trainQuantizer(emb, "embedding", "vec_id", nlist = 8, seed = 7L))
            // the PQ tier's ADC search (encode + crossJoin + rank) was the
            // one SERIAL eager step left after the r14 pool — it only
            // depends on its own codebooks, so run it inside the same
            // future and let its ~3 s scan back-fill the other builds'
            // scheduling gaps. localCheckpoint: the encode expression
            // inlines 8x16 codebook literals — pinned here so the union
            // plan carries 60 rows, not the giant expression tree,
            // through planning/codegen.
            val fCb = Future {
              val cb0 = Pq.train(emb, "embedding", dim = 64, m = 8, k = 16,
                seed = 7L)
              (cb0, Pq.cosineTopKPq(emb, queries, "embedding",
                "vec_id", "vec_id", k = 3, cb0).localCheckpoint())
            }
            val fNsw = Future {
              graft.similarity.Nsw.writeIndex(emb, "embedding", "vec_id",
                nswPath, numShards = 8)
              s.read.parquet(s"$nswPath/nodes")
                .select(col("id").cast("long"), col("__shard").cast("int"),
                  col("neighbors").cast("array<bigint>"))
                .collect()
                .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
                .sortBy(t => (t._2, t._1)).toSeq
            }
            val fHnsw = Future {
              graft.similarity.Hnsw.writeIndex(emb, "embedding", "vec_id",
                hnswPath, numShards = 8)
              s.read.parquet(s"$hnswPath/nodes")
                .select(col("id").cast("long"), col("__shard").cast("int"),
                  col("level").cast("int"), col("layers").cast("array<array<bigint>>"))
                .collect()
                .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
                  r.getSeq[scala.collection.Seq[Long]](3).map(_.toSeq).toSeq))
                .sortBy(t => (t._2, t._1)).toSeq
            }
            (Await.result(fExact, Duration.Inf),
              Await.result(fCents, Duration.Inf),
              Await.result(fCb, Duration.Inf),
              Await.result(fNsw, Duration.Inf),
              Await.result(fHnsw, Duration.Inf))
          } finally pool.shutdown()
        x119Centroids = Some(cents)
        x119PqCb = Some(cb)
        x119NswGraph = Some(nswGraph)
        x119HnswGraph = Some(hnswGraph)
        val ivf = Ivf.cosineTopKIvfWith(emb, queries, "embedding",
          "vec_id", "vec_id", k = 3, centroids = cents, nprobe = 2)
        val nsw = graft.similarity.Nsw.searchIndex(
          s, nswPath, queries, "embedding", "vec_id", k = 3)
        val hnsw = graft.similarity.Hnsw.searchIndex(
          s, hnswPath, queries, "embedding", "vec_id", k = 3)
        def tierSummary(tier: String, approx: org.apache.spark.sql.DataFrame) = {
          val m = RetrievalEval.topKQuality(
            approx, exact, "vec_id", "neighbor_id", "rank", 3)
          // exact integer micro-units -> bit-identical unrounded means
          def meanMicro(c: String) =
            ((sum(round(col(c) * 1e6).cast("long")).cast("double")
              / count(lit(1))) / lit(1e6)).as(c)
          m.agg(count(lit(1)).as("n_queries"),
              meanMicro("recall"), meanMicro("mrr"), meanMicro("ndcg"))
            .select(lit(tier).as("tier"), col("n_queries"),
              col("recall"), col("mrr"), col("ndcg"))
        }
        tierSummary("ivf", ivf)
          .unionAll(tierSummary("pq", pq))
          .unionAll(tierSummary("nsw", nsw))
          .unionAll(tierSummary("hnsw", hnsw))
      },
      () => for {
        cents <- x119Centroids
        pcb <- x119PqCb
        ng <- x119NswGraph
        hg <- x119HnswGraph
      } yield {
        val centVals = cents.zipWithIndex
          .map { case (c, i) => s"($i, ${sqlList(c)}::DOUBLE[])" }
          .mkString(",\n          ")
        val ln2 = RetrievalEval.ln2
        val idcg = RetrievalEval.idcgAt(3)
        s"""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), q AS (
          SELECT vec_id AS qid, v AS qv,
            sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS qn
          FROM e WHERE vec_id < 20
        ), dall AS (
          SELECT q.qid, e.vec_id AS cid,
            list_reduce(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2]), (x, y) -> x + y)
              / (q.qn * sqrt(list_reduce(list_transform(e.v, x -> x * x), (x, y) -> x + y))) AS cos
          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid
        ), ex AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
            FROM dall) WHERE rank <= 3
        ), cents(cell, c) AS (VALUES
          $centVals
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
        ), probe AS (
          SELECT qid, cell FROM (
            SELECT q.qid, ad.cell,
              row_number() OVER (PARTITION BY q.qid ORDER BY ad.d, ad.cell) AS rn
            FROM q JOIN ad ON ad.vec_id = q.qid) WHERE rn <= 2
        ), ivfres AS (
          SELECT qid, cid, rank FROM (
            SELECT dall.qid, dall.cid,
              row_number() OVER (PARTITION BY dall.qid ORDER BY dall.cos DESC, dall.cid ASC) AS rank
            FROM dall JOIN asgn ON asgn.vec_id = dall.cid
                      JOIN probe ON probe.qid = dall.qid AND probe.cell = asgn.cell)
          WHERE rank <= 3
        ), pqres AS (
          SELECT vec_id AS qid, neighbor_id AS cid, rank FROM (
            ${pqReplaySql(pcb, cents = None, nprobe = 0)}
          ) t
        ), nswres AS (
          SELECT vec_id AS qid, neighbor_id AS cid, rank FROM (
            ${Queries.nswWalkReplaySql(ng)}
          ) t
        ), hnswres AS (
          SELECT vec_id AS qid, neighbor_id AS cid, rank FROM (
            ${Queries.hnswWalkReplaySql(hg)}
          ) t
        ), ap AS (
          SELECT 'ivf' AS tier, qid, cid, rank FROM ivfres
          UNION ALL SELECT 'pq', qid, cid, rank FROM pqres
          UNION ALL SELECT 'nsw', qid, cid, rank FROM nswres
          UNION ALL SELECT 'hnsw', qid, cid, rank FROM hnswres
        ), j AS (
          SELECT ap.tier, ap.qid, ap.rank,
            CASE WHEN ex.cid IS NOT NULL THEN 1 ELSE 0 END AS rel
          FROM ap LEFT JOIN ex ON ex.qid = ap.qid AND ex.cid = ap.cid
        ), pq AS (
          SELECT tier, qid,
            round(sum(rel) / 3.0, 6) AS recall,
            round(coalesce(1.0 / min(CASE WHEN rel = 1 THEN rank END), 0), 6) AS mrr,
            round(coalesce(sum(CASE WHEN rel = 1 THEN 1.0 / (ln(rank + 1.0) / $ln2) END), 0) / $idcg, 6) AS ndcg
          FROM j GROUP BY tier, qid
        )
        SELECT tier, count(*) AS n_queries,
          (sum(CAST(round(recall * 1000000) AS BIGINT))::DOUBLE / count(*)) / 1000000.0 AS recall,
          (sum(CAST(round(mrr * 1000000) AS BIGINT))::DOUBLE / count(*)) / 1000000.0 AS mrr,
          (sum(CAST(round(ndcg * 1000000) AS BIGINT))::DOUBLE / count(*)) / 1000000.0 AS ndcg
        FROM pq GROUP BY tier
        """.stripMargin.trim
      }),

    // ── X29: incremental IVF ingest — build the index on the even half
    //    of the corpus, append the odd half against the FROZEN quantizer
    //    (Ivf.appendToIndex — the FAISS `add` contract: a 100 TB corpus
    //    is never re-clustered per batch), then query with nprobe = nlist.
    //    Probing every cell makes the search exhaustive, so the result is
    //    exactly brute-force top-k over build ∪ append — ANSI-expressible
    //    (same oracle shape as x4), and any append bug (lost/duplicated
    //    rows, wrong norms, stray partitions) breaks the hash ──
    QueryDef(
      "x29_ann_ivf_append",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // per-pid scratch for the same cross-worktree reason as x18
        val path = Scratch.forInput("ivf_append", dir)
        Ivf.writeIndex(emb.filter(col("vec_id") % 2 === 0), "embedding",
          "vec_id", path, nlist = 8, seed = 7L)
        Ivf.appendToIndex(emb.filter(col("vec_id") % 2 =!= 0), "embedding",
          "vec_id", path)
        Ivf.cosineTopKIndexed(s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3, nprobe = 8)
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

    // ── X21: multimodal pipeline — two payload columns per doc:
    //    `content` (magic-number headers planted by doc_id branch) drives
    //    the byte plumbing — modality sniff, stride resample, frame
    //    sampling — and `media` (a REAL PNG / WAV file encoded from a
    //    deterministic sample formula) drives the real decode path:
    //    Png.decode (zlib inflate + scanline de-filter) / Wav.decode
    //    (PCM extraction). The decoded aggregates are SQL-predictable
    //    from the planting formula, so a codec bug (wrong de-filter,
    //    wrong sign extension, lost samples) breaks the hash ──
    QueryDef(
      "x21_modality_pipeline",
      (s, dir) => {
        val enc = encode(col("text"), "UTF-8")
        // real media: 8×6 gray PNG with pixel_i = (doc_id·31 + i) % 256,
        // or mono 16-bit WAV with sample_i = (doc_id·17 + 3i) % 2048 − 1024
        val mkMedia = udf { (docId: Long, text: String) =>
          if (docId % 3 == 0)
            Png.encode(8, 6, 1, Array.tabulate(48)(i => ((docId * 31 + i) % 256).toInt))
          else if (docId % 3 == 1)
            Wav.encodePcm16(8000, 1,
              Array.tabulate(32)(i => ((docId * 17 + i * 3) % 2048 - 1024).toInt))
          else text.getBytes("UTF-8")
        }
        // the per-row encode/decode UDF chain below is the kernel —
        // spread the single-file scan so it runs on all cores
        val payloads = Tables.spread(Tables.documents(s, dir))
          .withColumn("content",
            when(col("doc_id") % 3 === 0, concat(unhex(lit("89504E47")), enc))
              .when(col("doc_id") % 3 === 1,
                concat(unhex(lit("524946460000000057415645")), enc))
              .otherwise(enc))
          .withColumn("media", mkMedia(col("doc_id"), col("text")))
        val res = Multimodal.resample(col("content"), 4)
        payloads
          .withColumn("modality", Multimodal.sniffModality(col("content")))
          .withColumn("__rsum", aggregate(res, lit(0L), (a, x) => a + x))
          .withColumn("__nf",
            size(Multimodal.frameSample(col("content"), 32, 2)).cast("long"))
          .withColumn("__s", Multimodal.decodeSamples(col("media")))
          .groupBy(col("source"), col("modality"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("__rsum")).as("sum_resampled"),
            sum(col("__nf")).as("n_frames"),
            sum(size(col("__s")).cast("long")).as("n_samples"),
            sum(aggregate(col("__s"), lit(0L), (a, x) => a + x)).as("sum_samples"),
            sum(aggregate(filter(col("__s"), (_, i) => i % 4 === 0),
              lit(0L), (a, x) => a + x)).as("sum_stride_samples"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, source,
            CASE WHEN doc_id % 3 = 0 THEN from_hex('89504E47') || encode(text)
                 WHEN doc_id % 3 = 1 THEN from_hex('524946460000000057415645') || encode(text)
                 ELSE encode(text) END AS c
          FROM documents
        ), h AS (
          -- replicate the engine's magic-number sniff on the BYTES (not the
          -- planting branch), so both sides compute the same function of
          -- the payload and cannot diverge on texts that happen to start
          -- with a magic themselves
          SELECT doc_id, source,
            CASE WHEN hex(c) LIKE '89504E47%' THEN 'image/png'
                 WHEN hex(c) LIKE 'FFD8FF%' THEN 'image/jpeg'
                 WHEN hex(c) LIKE '474946383761%' OR hex(c) LIKE '474946383961%' THEN 'image/gif'
                 WHEN hex(c) LIKE '52494646%' AND substring(hex(c), 17, 8) = '57415645' THEN 'audio/wav'
                 WHEN hex(c) LIKE '52494646%' AND substring(hex(c), 17, 8) = '41564920' THEN 'video/avi'
                 WHEN hex(c) LIKE '494433%' OR hex(c) LIKE 'FFFB%' THEN 'audio/mpeg'
                 ELSE 'application/octet-stream' END AS modality,
            hex(c) AS hx, octet_length(c) AS n
          FROM p
        ), rs AS (
          SELECT doc_id,
            sum(('0x' || substring(hx, i.i * 2 - 1, 2))::BIGINT) AS rsum
          FROM h, (SELECT unnest(generate_series(1, n)) AS i) i
          WHERE (i.i - 1) % 4 = 0
          GROUP BY doc_id
        ), med AS (
          -- the real-media branch: decoded sample counts by planting formula
          -- (48 gray pixels for the PNG branch, 32 PCM values for the WAV
          -- branch, nothing decodable for raw text)
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 48
                 WHEN doc_id % 3 = 1 THEN 32 ELSE 0 END AS ns
          FROM documents
        ), sv AS (
          -- decoded sample values: pixel_i = (doc_id*31 + i) % 256,
          -- pcm_i = (doc_id*17 + 3i) % 2048 - 1024
          SELECT m.doc_id,
            sum(CASE WHEN m.doc_id % 3 = 0 THEN (m.doc_id * 31 + i.i) % 256
                     ELSE ((m.doc_id * 17 + i.i * 3) % 2048) - 1024 END) AS ssum,
            sum(CASE WHEN (i.i % 4) <> 0 THEN 0
                     WHEN m.doc_id % 3 = 0 THEN (m.doc_id * 31 + i.i) % 256
                     ELSE ((m.doc_id * 17 + i.i * 3) % 2048) - 1024 END) AS srsum
          FROM med m, (SELECT unnest(generate_series(0, ns - 1)) AS i) i
          WHERE m.ns > 0
          GROUP BY m.doc_id
        )
        SELECT h.source, h.modality, count(*) AS n_docs,
          CAST(sum(COALESCE(rs.rsum, 0)) AS BIGINT) AS sum_resampled,
          CAST(sum(greatest((CAST(ceil(h.n / 32.0) AS BIGINT) + 1) // 2, 1)) AS BIGINT) AS n_frames,
          CAST(sum(md.ns) AS BIGINT) AS n_samples,
          CAST(sum(COALESCE(sv.ssum, 0)) AS BIGINT) AS sum_samples,
          CAST(sum(COALESCE(sv.srsum, 0)) AS BIGINT) AS sum_stride_samples
        FROM h LEFT JOIN rs USING (doc_id)
               LEFT JOIN med md USING (doc_id)
               LEFT JOIN sv USING (doc_id)
        GROUP BY 1, 2
      """.stripMargin.trim)),

    // ── X19: per-label embedding centroids + each vector's cosine to its
    //    label centroid — the label-noise / outlier screen of a training-
    //    data pipeline (low cos_centroid ⇒ suspect label). Scale shape:
    //    posexplode → (label, pos) hash agg with map-side partials → tiny
    //    centroid table (labels × dim) broadcast back; the corpus is
    //    touched in exactly two narrow passes ──
    QueryDef(
      "x19_embed_centroid",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("__emb"))
        val cent = e
          .select(col("label"), posexplode(col("__emb")).as(Seq("__pos", "__v")))
          .groupBy(col("label"), col("__pos")).agg(avg(col("__v")).as("__m"))
          .groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__pm"))
          .select(col("label"),
            transform(col("__pm"), x => x.getField("__m")).as("__cent"))
          // centroid norm once per label in the tiny broadcast frame, not
          // per corpus row
          .withColumn("__cn",
            sqrt(graft.functions.ArrayDot.apply(col("__cent"), col("__cent"))))
        val dot = graft.functions.ArrayDot.apply(col("__emb"), col("__cent"))
        val na = sqrt(graft.functions.ArrayDot.apply(col("__emb"), col("__emb")))
        e.join(broadcast(cent), "label")
          .select(col("vec_id"), col("label"),
            round(dot / (na * col("__cn")), 6).as("cos_centroid"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ), ex AS (
          SELECT label, i.i AS pos, emb[i.i] AS v
          FROM e, (SELECT unnest(generate_series(1, len(emb))) AS i) i
        ), c AS (
          SELECT label, pos, avg(v) AS m FROM ex GROUP BY 1, 2
        ), cent AS (
          SELECT label, list(m ORDER BY pos) AS centroid FROM c GROUP BY label
        )
        SELECT e.vec_id, e.label,
          round(
            list_reduce(list_transform(list_zip(emb, centroid), p -> p[1] * p[2]), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(list_zip(emb, emb), p -> p[1] * p[2]), (x, y) -> x + y))
               * sqrt(list_reduce(list_transform(list_zip(centroid, centroid), p -> p[1] * p[2]), (x, y) -> x + y))),
            6) AS cos_centroid
        FROM e JOIN cent USING (label)
      """.stripMargin.trim)),

    // ── X32: ingest-time incremental exact dedup — the daily-batch shape:
    //    batch 1 (even doc_ids) bootstraps a persisted content-hash index,
    //    batch 2 (the WHOLE corpus — so every even doc is a guaranteed
    //    cross-batch duplicate) dedups against it via anti-join without
    //    rescanning batch 1. Anti-join is ANSI, so the full two-batch
    //    ingest replay is oracle-checked; the append-twice idempotence
    //    contract is spec-tested in PipelineSpec ──
    QueryDef(
      "x32_incremental_dedup",
      (s, dir) => {
        // per-sf scratch path, same cross-run isolation reasoning as x18
        val path = Scratch.forInput("dedup_index", dir)
        IncrementalDedup.dropIndex(s, path)
        val docs = Tables.documents(s, dir)
        // nBuckets sized to the bench corpus (the x75 capacity-sizing
        // note); each returned frame reads the survivors its append
        // checkpointed, so the stats below re-run no election
        val s1 = IncrementalDedup.dedupIncremental(
          docs.filter(col("doc_id") % 2 === 0), "text", Seq("doc_id"), path,
          nBuckets = 8)
        val s2 = IncrementalDedup.dedupIncremental(
          docs, "text", Seq("doc_id"), path, nBuckets = 8)
        def stats(df: org.apache.spark.sql.DataFrame, b: Long) =
          df.agg(count(lit(1)).as("n_survivors"),
            sum(col("doc_id")).as("id_sum"))
            .select(lit(b).as("batch"), col("n_survivors"), col("id_sum"))
        stats(s1, 1L).unionAll(stats(s2, 2L))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          FROM documents
        ), s1 AS (
          SELECT h, min(doc_id) AS doc_id FROM d WHERE doc_id % 2 = 0 GROUP BY h
        ), s2 AS (
          SELECT h, min(doc_id) AS doc_id FROM d
          WHERE h NOT IN (SELECT h FROM s1)
          GROUP BY h
        )
        SELECT CAST(1 AS BIGINT) AS batch, count(*) AS n_survivors,
          CAST(sum(doc_id) AS BIGINT) AS id_sum FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*), CAST(sum(doc_id) AS BIGINT) FROM s2
      """.stripMargin.trim)),

    // ── X35: C4-style corpus-level span dedup (`TextOps.dedupSpans`) —
    //    first occurrence of each normalized unit across the corpus wins,
    //    documents rebuilt from survivors, emptied docs dropped. The
    //    driver gate splits on WHITESPACE (this corpus has no
    //    multi-sentence docs and zero exact dupes, so '.'-units would
    //    make the gate an identity pass; token units force thousands of
    //    real first-occurrence eliminations through the exact same
    //    operator); the C4 sentence shape (splitPattern="\\.") is
    //    spec-tested on planted multi-sentence docs in PipelineSpec.
    //    FULL oracle: DuckDB replays split / normalize-hash /
    //    first-occurrence rank / ordered reassembly and must reproduce
    //    every rebuilt document verbatim (compared via md5) ──
    QueryDef(
      "x35_span_dedup",
      (s, dir) => {
        TextOps.dedupSpans(Tables.documents(s, dir), "doc_id", "text",
          splitPattern = "\\s+", sep = " ")
          .select(col("doc_id"), col("n_units"), md5(col("text")).as("text_md5"))
      },
      Some("""
        WITH u0 AS (
          SELECT doc_id, string_split_regex(text, '\s+') AS us FROM documents
        ), u AS (
          SELECT doc_id, i.i AS pos, us[i.i] AS unit
          FROM u0, (SELECT unnest(generate_series(1, len(us))) AS i) i
          WHERE length(trim(us[i.i])) > 0
        ), h AS (
          SELECT doc_id, pos, unit,
            row_number() OVER (PARTITION BY
              md5(regexp_replace(lower(trim(unit)), '\s+', ' ', 'g'))
              ORDER BY doc_id, pos) AS rk
          FROM u
        )
        SELECT doc_id, count(*) AS n_units,
          md5(string_agg(unit, ' ' ORDER BY pos)) AS text_md5
        FROM h WHERE rk = 1 GROUP BY doc_id
      """.stripMargin.trim)),

    // ── X37: int8 embedding quantization round-trip — quantize the whole
    //    embeddings table (Ann.quantizeInt8, the FAISS SQ8 storage
    //    contract), dequantize, and report per-vector reconstruction
    //    error + cosine fidelity. The explicit half-up rounding makes the
    //    codes engine-portable, so DuckDB replays the full round trip
    //    bit-identically; any clamp/scale/sign bug breaks the hash ──
    QueryDef(
      "x37_embed_quantize",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = Ann.quantizeInt8(emb, "embedding")
        val v = col("embedding").cast("array<double>")
        val r = Ann.dequantizeInt8(col("q8"), col("q8_scale"))
        q.select(col("vec_id"), v.as("__v"), r.as("__r"))
          .select(col("vec_id"),
            round(aggregate(zip_with(col("__v"), col("__r"), (a, b) => abs(a - b)),
              lit(0.0), (acc, x) => greatest(acc, x)), 6).as("max_abs_err"),
            round(Ann.dot(col("__v"), col("__r")) /
              (Ann.norm(col("__v")) * Ann.norm(col("__r"))), 6).as("cos_recon"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), s AS (
          SELECT vec_id, v,
            list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
          FROM e
        ), sc AS (
          SELECT vec_id, v,
            CASE WHEN m = 0 THEN CAST(1.0 AS DOUBLE) ELSE m / 127 END AS scl
          FROM s
        ), q AS (
          SELECT vec_id, v,
            list_transform(v,
              x -> least(greatest(floor(x / scl + 0.5), -127), 127) * scl) AS r
          FROM sc
        )
        SELECT vec_id,
          round(list_aggregate(
            list_transform(list_zip(v, r), p -> abs(p[1] - p[2])), 'max'), 6)
            AS max_abs_err,
          round(
            list_reduce(list_transform(list_zip(v, r), p -> p[1] * p[2]), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(list_zip(v, v), p -> p[1] * p[2]), (x, y) -> x + y))
               * sqrt(list_reduce(list_transform(list_zip(r, r), p -> p[1] * p[2]), (x, y) -> x + y))),
            6) AS cos_recon
        FROM q
      """.stripMargin.trim)),

    // ── X38: IVF-SQ8 indexed search — the FAISS standard big-corpus
    //    config: cell-partitioned index storing int8 codes (4× less probe
    //    IO), vectors reconstructed after the partition-pruned scan,
    //    full-probe top-k. With every cell probed the result is exactly
    //    brute-force top-k over the RECONSTRUCTED corpus, and x37 proved
    //    the quantization replays bit-identically in DuckDB — so this is
    //    oracle-checked end to end (same shape as x29) ──
    QueryDef(
      "x38_ann_ivf_sq8",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("ivf_sq8", dir)
        Ivf.writeIndex(emb, "embedding", "vec_id", path, nlist = 8, seed = 7L,
          quantize = true)
        Ivf.cosineTopKIndexed(s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3, nprobe = 8)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), sc AS (
          SELECT vec_id, v,
            CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') = 0
                 THEN CAST(1.0 AS DOUBLE)
                 ELSE list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127
            END AS scl
          FROM e
        ), r AS (
          SELECT vec_id,
            list_transform(v,
              x -> least(greatest(floor(x / scl + 0.5), -127), 127) * scl) AS cf
          FROM sc
        ), q AS (
          SELECT vec_id AS qid, v AS qf FROM e WHERE vec_id < 20
        ), d AS (
          SELECT qid, r.vec_id AS cid,
            list_reduce(list_transform(list_zip(qf, cf), p -> p[1] * p[2]), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(list_zip(qf, qf), p -> p[1] * p[2]), (x, y) -> x + y))
               * sqrt(list_reduce(list_transform(list_zip(cf, cf), p -> p[1] * p[2]), (x, y) -> x + y))) AS cos
          FROM q CROSS JOIN r WHERE r.vec_id <> qid
        )
        SELECT qid AS vec_id, rank, cid AS neighbor_id, round(cos, 6) AS cosine FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
          FROM d) WHERE rank <= 3
      """.stripMargin.trim)),

    // ── X39: product-quantization ADC top-k — the billion-scale FAISS
    //    IVF-PQ code path: 8 subspaces × 16 sub-centroids = 8 half-byte
    //    codes + one norm per vector (vs 256 B float32), scored by the
    //    ADC subspace decomposition as inlined codegen'd lookup tables.
    //    FULL oracle despite the seeded sub-KMeans training: the run
    //    stashes its trained codebooks and the thunk oracle (QueryDef
    //    doc) interpolates them as VALUES literals, so DuckDB replays
    //    encode (argmin over sub-centroids, code-asc tie-break) + recon
    //    norm + ADC + top-k from first principles — KMeans
    //    nondeterminism is immaterial because both sides score with the
    //    SAME trained codebooks. Recall + centroid-exactness specs stay
    //    in AnnSpec ──
    QueryDef(
      "x39_ann_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cb = Pq.train(emb, "embedding", dim = 64, m = 8, k = 16, seed = 7L)
        x39Codebooks = Some(cb)
        Pq.cosineTopKPq(emb, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", "vec_id", k = 3, cb)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x39Codebooks.map(cb => pqReplaySql(cb, cents = None, nprobe = 0))),

    // ── X40: IVF-PQ persisted index — the composition FAISS ships as its
    //    billion-scale default: cell-partitioned corpus storing nibble
    //    codes + recon norm, codebooks persisted beside the centroids,
    //    probes scored by ADC straight off the codes after the
    //    partition-pruned scan (no reconstruction). FULL oracle via the
    //    same thunk device as x39, extended with the IVF layer: the run
    //    reads back the PERSISTED centroids + codebooks it just wrote,
    //    and DuckDB replays cell assignment, the nprobe=4 probe-cell
    //    selection, ADC scoring and top-k off those literals ──
    QueryDef(
      "x40_ann_ivf_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("ivf_pq", dir)
        Ivf.writeIndex(emb, "embedding", "vec_id", path, nlist = 8, seed = 7L,
          pqM = 8, pqK = 16)
        // the oracle replays what the index actually persisted
        val cents = s.read.parquet(s"$path/centroids").orderBy(col("cell"))
          .collect().map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
        val cbRows = s.read.parquet(s"$path/codebooks").collect()
          .map(r => (r.getInt(0), r.getInt(1),
            r.getSeq[Double](r.fieldIndex("center")).toArray))
        val m = cbRows.map(_._1).max + 1
        val kk = cbRows.map(_._2).max + 1
        val centers = Array.ofDim[Array[Double]](m, kk)
        cbRows.foreach { case (sub, j, c) => centers(sub)(j) = c }
        x40Artifacts = Some(
          (cents, Pq.Codebooks(m, kk, centers(0)(0).length, centers)))
        Ivf.cosineTopKIndexed(s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3, nprobe = 4)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      () => x40Artifacts.map { case (cents, cb) =>
        pqReplaySql(cb, cents = Some(cents), nprobe = 4) }),

    // ── X41: Johnson–Lindenstrauss random projection 64→16 — the cheap
    //    dimensionality-reduction front-end of the ANN stack. FULLY
    //    oracle-checked despite the "random" matrix: the seeded
    //    HashRandom matrix is a deterministic constant, so the SAME
    //    matrix is interpolated into the oracle SQL as a literal and
    //    DuckDB replays the projection bit-identically (Double.toString
    //    round-trips IEEE754, list_reduce matches ArrayDot's summation
    //    order) ──
    QueryDef(
      "x41_jl_project",
      (s, dir) => {
        val mat = Ann.jlMatrix(dim = 64, outDim = 16, seed = 42L)
        val y = Ann.jlProject(col("embedding"), mat)
        Tables.embeddings(s, dir)
          .select(col("vec_id"), y.as("__y"))
          .select(col("vec_id"),
            round(Ann.norm(col("__y")), 6).as("jl_norm"),
            round(aggregate(col("__y"), lit(0.0), _ + _), 6).as("jl_sum"),
            round(array_min(col("__y")), 6).as("jl_min"),
            round(array_max(col("__y")), 6).as("jl_max"))
      },
      Some {
        val mat = graft.similarity.Ann.jlMatrix(dim = 64, outDim = 16, seed = 42L)
        val matSql = mat.map(_.mkString("[", ", ", "]")).mkString("[", ",\n            ", "]")
        s"""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), p AS (
          SELECT vec_id,
            list_transform($matSql,
              r -> list_reduce(list_transform(list_zip(r, v), q -> q[1] * q[2]),
                     (x, y) -> x + y) / sqrt(16.0)) AS y
          FROM e
        )
        SELECT vec_id,
          round(sqrt(list_reduce(list_transform(y, x -> x * x), (a, b) -> a + b)), 6) AS jl_norm,
          round(list_reduce(y, (a, b) -> a + b), 6) AS jl_sum,
          round(list_aggregate(y, 'min'), 6) AS jl_min,
          round(list_aggregate(y, 'max'), 6) AS jl_max
        FROM p
        """.stripMargin.trim
      }),

    // ── X43: near-dup pairs → connected components — the drop decision
    //    every dedup pipeline ends with: resolve the x14 cosine-dup pair
    //    graph into components (iterated min-label propagation,
    //    `text/Components.scala`) and emit each vertex with its keeper.
    //    FULL oracle: DuckDB recomputes the same pair graph and closes it
    //    with a recursive CTE (min reachable id = component label) ──
    QueryDef(
      "x43_dedup_components",
      (s, dir) => {
        val slice = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
        val pairs = Ann.cosineDupPairsExact(slice, "vec_id", "embedding",
          threshold = 0.4)
        graft.text.Components.connectedComponents(pairs, "id_a", "id_b")
          .select(col("id").as("vec_id"), col("component"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, embedding AS a FROM embeddings WHERE vec_id < 500
        ), p AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b,
            list_aggregate(list_transform(generate_series(1, len(l.a)),
              i -> l.a[i]::DOUBLE * r.a[i]::DOUBLE), 'sum') /
            (sqrt(list_aggregate(list_transform(generate_series(1, len(l.a)),
              i -> l.a[i]::DOUBLE * l.a[i]::DOUBLE), 'sum')) *
             sqrt(list_aggregate(list_transform(generate_series(1, len(r.a)),
              i -> r.a[i]::DOUBLE * r.a[i]::DOUBLE), 'sum'))) AS cos
          FROM e l JOIN e r ON l.vec_id < r.vec_id
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM p WHERE cos >= 0.4
          UNION
          SELECT id_b, id_a FROM p WHERE cos >= 0.4
        ), rc AS (
          WITH RECURSIVE reach(id, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
          )
          SELECT id, min(lbl) AS component FROM reach GROUP BY id
        )
        SELECT CAST(id AS BIGINT) AS vec_id, CAST(component AS BIGINT) AS component
        FROM rc
      """.stripMargin.trim)),

    // ── X64: quality-priority dedup plan (Components.dedupPlanBy) —
    //    x2's MinHash near-dup pairs resolved into components, each
    //    keeping its LONGEST member (n_chars, ties to min id) — the
    //    RefinedWeb keep-best rule. FULL oracle: x2's LSH replay +
    //    recursive-CTE closure + the keeper-election window ──
    QueryDef(
      "x64_dedup_keep_best",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = TextOps.nearDupPairs(docs, "doc_id", "text",
          shingleN = 5, numHashes = 128, bands = 16, threshold = 0.8)
        graft.text.Components.dedupPlanBy(pairs, "id_a", "id_b",
          docs, "doc_id", "n_chars")
          .select(col("component"), col("keeper"),
            col("keeper_score").cast("long").as("keeper_score"),
            col("n_members"), col("n_dropped"))
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
        ), scored AS (
          SELECT rc.id, rc.component, doc.n_chars,
            row_number() OVER (PARTITION BY rc.component
                               ORDER BY doc.n_chars DESC, rc.id) AS rk
          FROM rc JOIN documents doc ON doc.doc_id = rc.id
        )
        SELECT CAST(component AS BIGINT) AS component,
          CAST(max(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS keeper,
          CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS keeper_score,
          count(*) AS n_members, count(*) - 1 AS n_dropped
        FROM scored GROUP BY component
      """.stripMargin.trim)),

    // ── X125: leakage-safe train/val/test split — the contamination
    //    control x68's per-doc coin can't give: near-duplicate documents
    //    must never straddle train and test (a test doc with a train
    //    near-dup inflates eval — the C4/Pile contamination finding), so
    //    the md5 split coin is keyed by the near-dup COMPONENT label
    //    (x64's pair cascade → x43's closure), and every member inherits
    //    its component's split. The query emits the per-split manifest
    //    plus the CONTRAST: how many components would have straddled
    //    under the naive doc-keyed coin (the leakage this split
    //    prevents), with the component-keyed straddle count
    //    require()-pinned at zero in-query (the plan-proof style).
    //    Scale shape: the pair cascade and closure are the x64/x43
    //    kernels (banded candidates, ids-only closure); the split itself
    //    is a pure narrow projection. FULL oracle: x64's LSH cascade +
    //    recursive closure + both md5 coins with the scanLeft
    //    thresholds interpolated exactly (the x68 device) ──
    QueryDef(
      "x125_leakage_safe_split",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = TextOps.nearDupPairs(docs, "doc_id", "text",
          shingleN = 5, numHashes = 128, bands = 16, threshold = 0.8)
        val comp = graft.text.Components.connectedComponents(pairs, "id_a", "id_b")
        val labeled = docs.select(col("doc_id"))
          .join(comp.select(col("id").as("doc_id"), col("component")),
            Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
        val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        val bySafe = graft.text.Pipeline.hashSplit(labeled, "component", splits, seed = 42L)
        val byDoc = graft.text.Pipeline.hashSplit(labeled, "doc_id", splits, seed = 42L)
        def straddles(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("component"))
          .agg(countDistinct(col("split")).as("__k"))
          .filter(col("__k") > 1).count()
        val leaked = straddles(byDoc)
        val safe = straddles(bySafe)
        require(safe == 0,
          s"component-keyed split straddles $safe components — leakage")
        bySafe.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("component")).as("n_components"),
            sum(col("doc_id")).as("id_sum"))
          .unionAll(s.range(1).select(
            lit("__doc_split_straddle").as("split"), lit(leaked).as("n_docs"),
            lit(0L).as("n_components"), lit(0L).as("id_sum")))
      },
      Some {
        val ws = Seq(0.8, 0.1, 0.1)
        val cum = ws.scanLeft(0.0)((a, w) => a + w / ws.sum).tail.init
        def coin(key: String) =
          s"(('0x' || substring(md5('42:' || $key::VARCHAR), 1, 8))::BIGINT / 4294967296.0)"
        def splitCase(key: String) =
          s"""CASE WHEN ${coin(key)} < ${cum(0)} THEN 'train'
             |               WHEN ${coin(key)} < ${cum(1)} THEN 'val'
             |               ELSE 'test' END""".stripMargin
        s"""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
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
        ), lab AS (
          SELECT doc.doc_id, coalesce(rc.component, doc.doc_id) AS component
          FROM documents doc LEFT JOIN rc ON rc.id = doc.doc_id
        ), sp AS (
          SELECT doc_id, component,
            ${splitCase("component")} AS split
          FROM lab
        ), docsp AS (
          SELECT doc_id, component,
            ${splitCase("doc_id")} AS split
          FROM lab
        ), straddle AS (
          SELECT count(*) AS k FROM (
            SELECT component FROM docsp GROUP BY component
            HAVING count(DISTINCT split) > 1)
        )
        SELECT split, count(*) AS n_docs,
          count(DISTINCT component) AS n_components,
          CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM sp GROUP BY split
        UNION ALL
        SELECT '__doc_split_straddle', (SELECT k FROM straddle),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        """.stripMargin.trim
      }),

    // ── X45: the streaming INGEST loop as a first-class query — a real
    //    Structured Streaming `foreachBatch` drive of
    //    [[IncrementalDedup.dedupIncremental]] (the PipelineSpec shape
    //    promoted to the driver gate): three micro-batches of documents
    //    (doc_id % 3 — deterministic membership, not arrival-dependent)
    //    dedup against the growing persisted hash index, then batch 2 is
    //    RE-FED to prove streaming re-ingest idempotence (zero
    //    survivors, index untouched). Emits per-batch survivor stats +
    //    the final index size. The driver-side collect feeds the
    //    MemoryStream (the harness standing in for Kafka, as x30-x34);
    //    the operator under test touches only the batch and the bucketed
    //    hash index. FULL oracle: the batch sequence is an anti-join
    //    cascade, replayed in DuckDB CTEs ──
    QueryDef(
      "x45_stream_ingest_dedup",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val path = Scratch.forInput("dedup_stream", dir)
        IncrementalDedup.dropIndex(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)].collect()
        val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val mem = MemoryStream[(Long, String)]
        val q = mem.toDF().toDF("doc_id", "text").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            // nBuckets sized to the bench corpus (the x75 capacity-sizing
            // note: 64 suits TB-scale state, 8 suits MB-scale — oversizing
            // just multiplies per-batch commit files and snapshot reads)
            val surv = IncrementalDedup
              .dedupIncremental(batch, "text", Seq("doc_id"), path, nBuckets = 8)
              .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)))
              .head()
            stats += ((stats.size.toLong, surv.getLong(0), surv.getLong(1)))
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x45"))
          .start()
        val feeds = Seq(0L, 1L, 2L).map(m => docs.filter(_._1 % 3 == m)) :+
          docs.filter(_._1 % 3 == 2) // re-ingest of batch 2
        StreamingOps.drive(q, "x45")(feeds)(b => mem.addData(b.toIndexedSeq: _*))
        val indexRows = Partitioned.footerRowCount(s, s"$path/hashes")
        (stats.toSeq :+ (99L, indexRows, 0L))
          .toDF("step", "n", "id_sum")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          FROM documents
        ), b0 AS (
          SELECT h, min(doc_id) AS doc_id FROM d WHERE doc_id % 3 = 0 GROUP BY h
        ), b1 AS (
          SELECT h, min(doc_id) AS doc_id FROM d
          WHERE doc_id % 3 = 1 AND h NOT IN (SELECT h FROM b0) GROUP BY h
        ), b2 AS (
          SELECT h, min(doc_id) AS doc_id FROM d
          WHERE doc_id % 3 = 2
            AND h NOT IN (SELECT h FROM b0 UNION ALL SELECT h FROM b1)
          GROUP BY h
        )
        SELECT CAST(0 AS BIGINT) AS step, count(*) AS n,
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM b0
        UNION ALL
        SELECT CAST(1 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM b2
        UNION ALL
        SELECT CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT CAST(99 AS BIGINT),
          (SELECT count(*) FROM b0) + (SELECT count(*) FROM b1)
            + (SELECT count(*) FROM b2),
          CAST(0 AS BIGINT)
      """.stripMargin.trim)),

    // ── X127: index COMPACTION mid-ingest — the lifecycle stage every
    //    incremental index needs at scale: after N daily batches each
    //    bucket holds N small append files and every snapshot read pays
    //    O(N·buckets) opens; `IncrementalDedup.compactIndex` rewrites
    //    the state to O(1) files per bucket (here ALSO re-bucketing
    //    8 → 4 — the capacity-resizing knob). The query ingests batch
    //    0/1, compacts (file-count collapse require()-checked in-query,
    //    the plan-proof style), ingests batch 2 against the compacted
    //    index, then re-ingests batch 2 (idempotence must survive
    //    compaction). FULL oracle: the x45 three-batch anti-join cascade
    //    — compaction is semantics-free, which is exactly what the
    //    shared shape proves ──
    QueryDef(
      "x127_compacted_ingest",
      (s, dir) => {
        import s.implicits._
        val path = Scratch.forInput("dedup_compact", dir)
        IncrementalDedup.dropIndex(s, path)
        val docs = Tables.documents(s, dir)
        def batch(m: Long, nb: Int) = IncrementalDedup.dedupIncremental(
          docs.filter(col("doc_id") % 3 === m), "text", Seq("doc_id"), path,
          nBuckets = nb)
        def stat(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        def nFiles: Int = Partitioned.dataFiles(s, s"$path/hashes").size
        val s0 = stat(batch(0L, 8))
        val s1 = stat(batch(1L, 8))
        val before = nFiles
        IncrementalDedup.compactIndex(s, path, nBuckets = 4)
        val after = nFiles
        require(after <= 4 && after < before,
          s"compaction did not collapse the file count: $before -> $after")
        val s2 = stat(batch(2L, 4))
        val s3 = stat(batch(2L, 4)) // re-ingest: idempotence survives compaction
        val idxRows = Partitioned.footerRowCount(s, s"$path/hashes")
        Seq((0L, s0._1, s0._2), (1L, s1._1, s1._2), (2L, s2._1, s2._2),
          (3L, s3._1, s3._2), (99L, idxRows, 0L))
          .toDF("step", "n_survivors", "id_sum")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          FROM documents
        ), b0 AS (
          SELECT h, min(doc_id) AS doc_id FROM d WHERE doc_id % 3 = 0 GROUP BY h
        ), b1 AS (
          SELECT h, min(doc_id) AS doc_id FROM d
          WHERE doc_id % 3 = 1 AND h NOT IN (SELECT h FROM b0) GROUP BY h
        ), b2 AS (
          SELECT h, min(doc_id) AS doc_id FROM d
          WHERE doc_id % 3 = 2
            AND h NOT IN (SELECT h FROM b0 UNION ALL SELECT h FROM b1)
          GROUP BY h
        )
        SELECT CAST(0 AS BIGINT) AS step, count(*) AS n_survivors,
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM b0
        UNION ALL
        SELECT CAST(1 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM b2
        UNION ALL
        SELECT CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT CAST(99 AS BIGINT),
          (SELECT count(*) FROM b0) + (SELECT count(*) FROM b1)
            + (SELECT count(*) FROM b2),
          CAST(0 AS BIGINT)
      """.stripMargin.trim)),

    // ── X136: index DELETION mid-ingest — the right-to-be-forgotten
    //    lifecycle op (`IncrementalDedup.deleteFromIndex`): erasing
    //    documents from the corpus must also erase their fingerprints,
    //    or the content stays banned forever and a legitimate future
    //    re-submission is silently dropped as a duplicate of a doc that
    //    no longer exists. The query ingests batches 0/1, deletes the
    //    doc_id % 15 == 0 docs' hashes (bucket-pruned drop-then-append
    //    rewrite — untouched buckets byte-identical; drop-then-append
    //    rather than dynamic overwrite so a bucket deleted to EMPTY
    //    disappears instead of keeping stale files), then re-ingests
    //    batch 0: exactly the deleted hash groups survive again, the
    //    erase-then-readmit cycle. FULL oracle: the x45 cascade with the
    //    deletion set-subtracted before the re-ingest wave ──
    QueryDef(
      "x136_index_delete",
      (s, dir) => {
        import s.implicits._
        val path = Scratch.forInput("dedup_delete", dir)
        IncrementalDedup.dropIndex(s, path)
        val docs = Tables.documents(s, dir)
        def batch(m: Long) = IncrementalDedup.dedupIncremental(
          docs.filter(col("doc_id") % 3 === m), "text", Seq("doc_id"), path,
          nBuckets = 8)
        def stat(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        val s0 = stat(batch(0L))
        val s1 = stat(batch(1L))
        val removed = IncrementalDedup.deleteFromIndex(
          s, path, docs.filter(col("doc_id") % 15 === 0), "text", nBuckets = 8)
        val s3 = stat(batch(0L)) // re-ingest: deleted hash groups readmit
        val idxRows = Partitioned.footerRowCount(s, s"$path/hashes")
        Seq((0L, s0._1, s0._2), (1L, s1._1, s1._2), (2L, removed, 0L),
          (3L, s3._1, s3._2), (99L, idxRows, 0L))
          .toDF("step", "n", "id_sum")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          FROM documents
        ), b0 AS (
          SELECT h, min(doc_id) AS doc_id FROM d WHERE doc_id % 3 = 0 GROUP BY h
        ), b1 AS (
          SELECT h, min(doc_id) AS doc_id FROM d
          WHERE doc_id % 3 = 1 AND h NOT IN (SELECT h FROM b0) GROUP BY h
        ), del AS (
          SELECT DISTINCT h FROM d WHERE doc_id % 15 = 0
        ), removed AS (
          SELECT count(*) AS c FROM (
            SELECT h FROM b0 UNION ALL SELECT h FROM b1) i
          JOIN del USING (h)
        ), idx1 AS (
          SELECT h FROM b0 UNION ALL SELECT h FROM b1
          EXCEPT
          SELECT h FROM del
        ), b0r AS (
          SELECT h, min(doc_id) AS doc_id FROM d
          WHERE doc_id % 3 = 0 AND h NOT IN (SELECT h FROM idx1) GROUP BY h
        )
        SELECT CAST(0 AS BIGINT) AS step, count(*) AS n,
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM b0
        UNION ALL
        SELECT CAST(1 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT), (SELECT c FROM removed), CAST(0 AS BIGINT)
        UNION ALL
        SELECT CAST(3 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM b0r
        UNION ALL
        SELECT CAST(99 AS BIGINT),
          (SELECT count(*) FROM idx1) + (SELECT count(*) FROM b0r),
          CAST(0 AS BIGINT)
      """.stripMargin.trim)),

    // ── X128: ANN index compaction mid-ingest — x127's lifecycle stage
    //    for the VECTOR index: `Ivf.appendToIndex` adds O(1) files per
    //    touched cell per batch (mode("append") never rewrites), so after
    //    N ingest batches every probe opens O(N) files per probed cell.
    //    `Ivf.compactIndex` collapses the corpus to one file per cell
    //    (one cell-keyed shuffle over the stored codes), leaving
    //    centroids untouched. The query builds on a third of the
    //    embeddings, appends the other two thirds in two batches (file
    //    accumulation), compacts (file-count collapse require()-checked
    //    in-query, the x127 device), then searches the compacted index
    //    full-probe — exhaustive probing makes the result exactly
    //    brute-force top-k over the union, so the FULL x29 oracle proves
    //    compaction is semantics-free for search. HNSW needs no analogue
    //    (its appends rewrite touched shards wholesale); the spec pins
    //    search parity against an uncompacted twin as well ──
    QueryDef(
      "x128_ann_compacted",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("ivf_compact", dir)
        def nFiles: Int = Partitioned.dataFiles(s, s"$path/corpus").size
        Ivf.writeIndex(emb.filter(col("vec_id") % 3 === 0), "embedding",
          "vec_id", path, nlist = 8, seed = 7L)
        Ivf.appendToIndex(emb.filter(col("vec_id") % 3 === 1), "embedding",
          "vec_id", path)
        Ivf.appendToIndex(emb.filter(col("vec_id") % 3 === 2), "embedding",
          "vec_id", path)
        val before = nFiles
        Ivf.compactIndex(s, path)
        val after = nFiles
        require(after <= 8 && after < before,
          s"compaction did not collapse the file count: $before -> $after")
        Ivf.cosineTopKIndexed(s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3, nprobe = 8)
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

    // ── X135: FILTERED ANN search — the FAISS IDSelector / production
    //    vector-store contract: a metadata predicate composes with the
    //    index search (here `label <= 2`, the allowed-id set), applied
    //    AFTER the partition-pruned scan and BEFORE ranking — pre-filter
    //    semantics, so the top-k ranks qualifying rows only and there is
    //    no k-deficit from discarding ranked hits afterwards. Probing
    //    every cell makes the filtered search exhaustive, so the FULL
    //    oracle is brute-force top-k over the label-filtered corpus —
    //    any filter bug (wrong side of ranking, dropped ids, type
    //    mismatch in the semi-join) breaks the hash ──
    QueryDef(
      "x135_ann_filtered",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("ivf_filter", dir)
        Ivf.writeIndex(emb, "embedding", "vec_id", path, nlist = 8, seed = 7L)
        val allowed = emb.filter(col("label") <= 2).select(col("vec_id"))
        Ivf.cosineTopKIndexed(s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3, nprobe = 8,
          allowed = Some((allowed, "vec_id")))
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some("""
        WITH q AS (
          SELECT vec_id AS qid, embedding::DOUBLE[] AS qf FROM embeddings WHERE vec_id < 20
        ), c AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cf FROM embeddings WHERE label <= 2
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

    // ── X138: vector-store erasure (Ivf.deleteFromIndex) — the x136/x137
    //    right-to-be-forgotten contract on the ANN tier: the deletion
    //    input carries the vectors, so the FROZEN quantizer's argmin —
    //    the same pure rule that placed them — prunes the rewrite to
    //    touched cells (drop-then-append; emptied cells vanish, untouched
    //    cells byte-identical). The removed count is require()-pinned to
    //    the deletion-set size (every input id is in this index), and a
    //    full-probe search of the shrunken index equals brute force over
    //    the surviving corpus — the FULL oracle. HNSW erases by
    //    TOMBSTONE instead (Hnsw.deleteFromIndex — the hnswlib
    //    markDelete contract: deleted nodes keep routing, never emit;
    //    spec-proved since the walk-replay oracle pins the un-tombstoned
    //    graph) ──
    QueryDef(
      "x138_ann_deleted",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("ivf_delete", dir)
        Ivf.writeIndex(emb, "embedding", "vec_id", path, nlist = 8, seed = 7L)
        val toErase = emb.filter(col("vec_id") % 7 === 0)
        val removed = Ivf.deleteFromIndex(s, path, toErase, "vec_id", "embedding")
        val expected = toErase.count()
        require(removed == expected,
          s"erasure removed $removed of $expected index rows")
        Ivf.cosineTopKIndexed(s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3, nprobe = 8)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some("""
        WITH q AS (
          SELECT vec_id AS qid, embedding::DOUBLE[] AS qf FROM embeddings WHERE vec_id < 20
        ), c AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cf FROM embeddings
          WHERE vec_id % 7 <> 0
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

    // ── X46: the streaming ANN ingest loop as a first-class query — the
    //    second 100 TB ingest shape beside x45: an IVF index is
    //    bootstrapped from a third of the embeddings, then a real
    //    Structured Streaming `foreachBatch` drive appends the remaining
    //    vectors in two micro-batches via the frozen-quantizer
    //    `Ivf.appendToIndex` (the FAISS `add` contract; AnnSpec's
    //    streaming spec promoted to the driver gate), and the grown index
    //    is searched full-probe. Full probe = exact brute-force top-k
    //    over everything ingested (the x29 device), so the whole
    //    stream-grown index is FULL-oracle-checked against a DuckDB
    //    brute-force replay — KMeans nondeterminism is immaterial
    //    because every cell is probed. The driver-side collect feeds the
    //    MemoryStream (harness-for-Kafka, as x30-x34/x45) ──
    QueryDef(
      "x46_stream_ann_ingest",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
        val path = Scratch.forInput("ivf_stream", dir)
        Ivf.writeIndex(emb.filter(col("vec_id") % 3 === 0), "embedding",
          "vec_id", path, nlist = 8, seed = 7L)
        val rest = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").cast("long"), col("embedding"))
          .as[(Long, Array[Float])].collect()
        val mem = MemoryStream[(Long, Array[Float])]
        val q = mem.toDF().toDF("vec_id", "embedding").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            Ivf.appendToIndex(batch, "embedding", "vec_id", path)
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x46"))
          .start()
        StreamingOps.drive(q, "x46")(
          Seq(rest.filter(_._1 % 3 == 1), rest.filter(_._1 % 3 == 2)))(
          b => mem.addData(b.toIndexedSeq: _*))
        Ivf.cosineTopKIndexed(s, path, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", k = 3, nprobe = 8)
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

    // ── X47: SemDeDup — semantic dedup by embedding clustering (Abbas et
    //    al. 2023): seeded KMeans clusters the space, within-cluster
    //    cosine ≥ 0.4 pairs form duplicate groups (connected components),
    //    each group keeps its LOWEST-centroid-cosine member. FULL oracle
    //    via the thunk device: the run stashes the trained centroids, and
    //    DuckDB replays assignment (native argmin — the engine assigns
    //    with the same naive expression, so the replay is bit-exact),
    //    centroid cosines, the within-cluster pair graph, the recursive
    //    closure and the keep rule ──
    QueryDef(
      "x47_semdedup",
      (s, dir) => {
        import graft.similarity.SemDedup
        val emb = Tables.embeddings(s, dir)
        val cents = SemDedup.trainCentroids(emb, "vec_id", "embedding",
          nClusters = 8, seed = 7L)
        x47Centroids = Some(cents)
        SemDedup.semDedupWith(emb, "vec_id", "embedding", cents, threshold = 0.4)
          .select(col("vec_id"), col("cluster"), col("component"),
            col("cos_centroid"), col("keep").cast("int").as("keep"))
      },
      () => x47Centroids.map { cs =>
        val centVals = cs.zipWithIndex
          .map { case (c, i) => s"($i, ${sqlList(c)}::DOUBLE[])" }
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
        ), cc AS (
          SELECT e.vec_id, asgn.cell,
            round(
              list_reduce(list_transform(list_zip(e.v, cents.c), p -> p[1] * p[2]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(list_zip(e.v, e.v), p -> p[1] * p[2]), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(list_zip(cents.c, cents.c), p -> p[1] * p[2]), (x, y) -> x + y))),
              6) AS cosc
          FROM e JOIN asgn USING (vec_id) JOIN cents ON cents.cell = asgn.cell
        ), m AS (
          SELECT e.vec_id, asgn.cell, e.v,
            sqrt(list_reduce(list_transform(list_zip(e.v, e.v), p -> p[1] * p[2]), (x, y) -> x + y)) AS n
          FROM e JOIN asgn USING (vec_id)
        ), p AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b
          FROM m l JOIN m r ON l.cell = r.cell AND l.vec_id < r.vec_id
          WHERE list_reduce(list_transform(list_zip(l.v, r.v), p -> p[1] * p[2]), (x, y) -> x + y)
                  / (l.n * r.n) >= 0.4
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b, id_a FROM p
        ), rc AS (
          WITH RECURSIVE reach(id, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT eg.dst, r.lbl FROM reach r JOIN edges eg ON eg.src = r.id
          )
          SELECT id, min(lbl) AS component FROM reach GROUP BY id
        ), comp AS (
          SELECT cc.vec_id, cc.cell, cc.cosc,
            coalesce(rc.component, cc.vec_id) AS component
          FROM cc LEFT JOIN rc ON rc.id = cc.vec_id
        ), keepers AS (
          SELECT component, vec_id AS keep_id FROM (
            SELECT component, vec_id,
              row_number() OVER (PARTITION BY component ORDER BY cosc, vec_id) AS rn
            FROM comp) WHERE rn = 1
        )
        SELECT comp.vec_id, CAST(comp.cell AS INT) AS cluster,
          CAST(comp.component AS BIGINT) AS component,
          comp.cosc AS cos_centroid,
          CAST(comp.vec_id = keepers.keep_id AS INT) AS keep
        FROM comp JOIN keepers USING (component)
        """.stripMargin.trim
      }),

    // ── X53: bounded-state streaming exact dedup — Spark's
    //    `dropDuplicatesWithinWatermark` as a first-class ingest
    //    primitive beside x45's index-backed loop: duplicates arriving
    //    within the watermark horizon of their first occurrence are
    //    dropped with state bounded by the horizon (watermark-evicted),
    //    NOT by stream history — the contract that makes exact streaming
    //    dedup viable on an unbounded 100 TB firehose when a bounded
    //    re-delivery window (Kafka redelivery, at-least-once sources) is
    //    the actual dedup need. Three event-ordered micro-batches, then
    //    a fourth RE-EMITTING every 5th event (same event time) — all
    //    suppressed, proving cross-batch key state. Horizon semantics
    //    (late re-emission past eviction survives as new) are spec'd in
    //    StreamingSpec; here the horizon spans the corpus so the result
    //    is exactly the original events. FULL oracle: per-type stats of
    //    the undeduplicated events table ──
    QueryDef(
      "x53_stream_dedup",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val pts = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("ts"),
            col("value").cast("double"))
          .as[(Long, String, Long, Double)]
          .collect().sortBy(_._3)
        val sink = "x53_sink"
        s.catalog.dropTempView(sink)
        val mem = MemoryStream[(Long, String, Long, Double)]
        val q = StreamingOps.withBatchConfs(s) {
          mem.toDF().toDF("event_id", "event_type", "t", "value")
            .withColumn("event_time", timestamp_micros(expr("t div 1000")))
            .withWatermark("event_time", "40 days")
            .dropDuplicatesWithinWatermark("event_id")
            .select(col("event_id"), col("event_type"), col("value"))
            .writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", StreamingOps.checkpointDir("x53"))
            .outputMode("append").start()
        }
        val chunk = math.max(1, math.ceil(pts.length / 3.0).toInt)
        val batches = pts.grouped(chunk).map(_.toSeq).toSeq :+
          pts.filter(_._1 % 5 == 0).toSeq // re-delivery storm
        StreamingOps.drive(q, "x53")(batches)(b => mem.addData(b: _*))
        s.table(sink)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 6).as("sum_value"))
      },
      Some("""
        SELECT event_type, count(*) AS n_events,
          round(sum(value), 6) AS sum_value
        FROM events GROUP BY event_type
      """.stripMargin.trim)),

    // ── X75: ingest-time incremental NEAR-dup dedup — the MinHash analog
    //    of x32's exact ingest loop, closing the near-dup half of the
    //    100 TB ingestion story: batch 1 (even doc_ids) bootstraps a
    //    persisted LSH index (band keys + signatures, no text), batch 2
    //    (the whole corpus) near-dedups against it — every even doc
    //    self-collides at est-Jaccard 1.0 and drops, odd near-dups of
    //    indexed docs drop via banded collision + signature verify.
    //    FULL oracle: signatures, band keys, the within-batch star
    //    election and the cross-index probe are all md5-device arithmetic,
    //    replayed from first principles in DuckDB CTEs (the x13 replay
    //    extended with persisted-state semantics). r13: both batches read
    //    the family's compute-once signature store ([[neardupSigStore]])
    //    instead of re-sketching — the crawl-time posture ──
    QueryDef(
      "x75_incremental_neardup",
      (s, dir) => {
        val path = Scratch.forInput("neardup_index", dir)
        IncrementalNearDup.dropIndex(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .join(neardupSigStore(s, dir), Seq("doc_id"))
        // nBuckets sized to the bench corpus (the knob is deployment
        // capacity sizing: buckets bound compaction granularity and
        // append fan-out; 64 suits TB-scale state, 8 suits MB-scale —
        // oversizing just multiplies snapshot-read and commit files)
        val s1 = IncrementalNearDup.dedupIncremental(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path,
          nBuckets = 8, sigCol = Some("sig"))
        val s2 = IncrementalNearDup.dedupIncremental(
          docs, "doc_id", "text", path, nBuckets = 8, sigCol = Some("sig"))
        def stats(df: org.apache.spark.sql.DataFrame, b: Long) =
          df.agg(count(lit(1)).as("n_survivors"),
            coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
            .select(lit(b).as("batch"), col("n_survivors"), col("id_sum"))
        stats(s1, 1L).unionAll(stats(s2, 2L))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), w AS (
          SELECT doc_id, norm, string_split(norm, ' ') AS w FROM d
        ), sh AS (
          SELECT doc_id,
            CASE WHEN len(w) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(w)-2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
            ELSE [norm] END AS s
          FROM w
        ), ab AS (
          SELECT doc_id,
            list_transform(s, x -> (('0x' || substring(md5(x),1,8))::BIGINT)) AS av,
            list_transform(s, x -> (('0x' || substring(md5(x),9,8))::BIGINT)) AS bv
          FROM sh
        ), sig AS (
          SELECT doc_id,
            list_transform(generate_series(0, 127), k ->
              list_aggregate(list_transform(generate_series(1, len(av)),
                i -> (av[i] + k*bv[i]) % 4294967311), 'min')) AS sig
          FROM ab
        ), banded AS (
          SELECT doc_id, b.b AS band,
            substring(md5(array_to_string(sig[(b.b*8+1):(b.b*8+8)], ',')), 1, 16) AS kh
          FROM sig, (SELECT unnest(generate_series(0, 15)) AS b) b
        ), rep1 AS (
          SELECT band, kh, min(doc_id) AS rep FROM banded
          WHERE doc_id % 2 = 0 GROUP BY 1, 2
        ), wd1 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN rep1 r ON x.band = r.band AND x.kh = r.kh AND x.doc_id > r.rep
          JOIN sig sa ON sa.doc_id = r.rep
          JOIN sig sb ON sb.doc_id = x.doc_id
          WHERE x.doc_id % 2 = 0
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), s1 AS (
          SELECT doc_id FROM sig
          WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM wd1)
        ), rep2 AS (
          SELECT band, kh, min(doc_id) AS rep FROM banded GROUP BY 1, 2
        ), wd2 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN rep2 r ON x.band = r.band AND x.kh = r.kh AND x.doc_id > r.rep
          JOIN sig sa ON sa.doc_id = r.rep
          JOIN sig sb ON sb.doc_id = x.doc_id
          WHERE len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), cand2 AS (
          SELECT doc_id FROM sig
          WHERE doc_id NOT IN (SELECT doc_id FROM wd2)
        ), xd2 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN banded ix ON x.band = ix.band AND x.kh = ix.kh
          JOIN s1 ON ix.doc_id = s1.doc_id
          JOIN sig sa ON sa.doc_id = x.doc_id
          JOIN sig sb ON sb.doc_id = ix.doc_id
          WHERE x.doc_id IN (SELECT doc_id FROM cand2)
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), s2 AS (
          SELECT doc_id FROM cand2
          WHERE doc_id NOT IN (SELECT doc_id FROM xd2)
        )
        SELECT CAST(1 AS BIGINT) AS batch, count(*) AS n_survivors,
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s2
      """.stripMargin.trim)),

    // ── X137: near-dup index DELETION — x136's right-to-be-forgotten op
    //    on the LSH tier (`IncrementalNearDup.deleteFromIndex`): erasing
    //    a doc must remove its band keys AND signature, or future
    //    near-duplicates of the erased content keep getting dropped on
    //    its account. The deletion input is the doc rows themselves —
    //    their signatures (read from the family store, r13) let BOTH
    //    index sides prune to touched buckets (band buckets are a pure
    //    function of the text). Batch 1 (evens) bootstraps, the doc_id
    //    % 10 == 0 docs
    //    are erased (removed = those present in the index — docs
    //    dropped at ingest have no state), then the whole corpus
    //    re-ingests against the shrunken residents. FULL oracle: the
    //    x75 replay with the resident set minus the deletion set ──
    QueryDef(
      "x137_neardup_delete",
      (s, dir) => {
        import s.implicits._
        val path = Scratch.forInput("neardup_delete", dir)
        IncrementalNearDup.dropIndex(s, path)
        // all three passes (bootstrap, erasure, re-ingest) read the
        // family's compute-once signature store — zero re-sketching
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .join(neardupSigStore(s, dir), Seq("doc_id"))
        val s1 = IncrementalNearDup.dedupIncremental(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path,
          nBuckets = 8, sigCol = Some("sig"))
        def stat(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        val st1 = stat(s1)
        val removed = IncrementalNearDup.deleteFromIndex(
          s, path, docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          nBuckets = 8, sigCol = Some("sig"))
        val s2 = IncrementalNearDup.dedupIncremental(
          docs, "doc_id", "text", path, nBuckets = 8, sigCol = Some("sig"))
        val st2 = stat(s2)
        Seq((1L, st1._1, st1._2), (2L, removed, 0L), (3L, st2._1, st2._2))
          .toDF("step", "n", "id_sum")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), w AS (
          SELECT doc_id, norm, string_split(norm, ' ') AS w FROM d
        ), sh AS (
          SELECT doc_id,
            CASE WHEN len(w) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(w)-2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
            ELSE [norm] END AS s
          FROM w
        ), ab AS (
          SELECT doc_id,
            list_transform(s, x -> (('0x' || substring(md5(x),1,8))::BIGINT)) AS av,
            list_transform(s, x -> (('0x' || substring(md5(x),9,8))::BIGINT)) AS bv
          FROM sh
        ), sig AS (
          SELECT doc_id,
            list_transform(generate_series(0, 127), k ->
              list_aggregate(list_transform(generate_series(1, len(av)),
                i -> (av[i] + k*bv[i]) % 4294967311), 'min')) AS sig
          FROM ab
        ), banded AS (
          SELECT doc_id, b.b AS band,
            substring(md5(array_to_string(sig[(b.b*8+1):(b.b*8+8)], ',')), 1, 16) AS kh
          FROM sig, (SELECT unnest(generate_series(0, 15)) AS b) b
        ), rep1 AS (
          SELECT band, kh, min(doc_id) AS rep FROM banded
          WHERE doc_id % 2 = 0 GROUP BY 1, 2
        ), wd1 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN rep1 r ON x.band = r.band AND x.kh = r.kh AND x.doc_id > r.rep
          JOIN sig sa ON sa.doc_id = r.rep
          JOIN sig sb ON sb.doc_id = x.doc_id
          WHERE x.doc_id % 2 = 0
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), s1 AS (
          SELECT doc_id FROM sig
          WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM wd1)
        ), del AS (
          SELECT doc_id FROM s1 WHERE doc_id % 10 = 0
        ), resident AS (
          SELECT doc_id FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM del)
        ), rep2 AS (
          SELECT band, kh, min(doc_id) AS rep FROM banded GROUP BY 1, 2
        ), wd2 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN rep2 r ON x.band = r.band AND x.kh = r.kh AND x.doc_id > r.rep
          JOIN sig sa ON sa.doc_id = r.rep
          JOIN sig sb ON sb.doc_id = x.doc_id
          WHERE len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), cand2 AS (
          SELECT doc_id FROM sig
          WHERE doc_id NOT IN (SELECT doc_id FROM wd2)
        ), xd2 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN banded ix ON x.band = ix.band AND x.kh = ix.kh
          JOIN resident ON ix.doc_id = resident.doc_id
          JOIN sig sa ON sa.doc_id = x.doc_id
          JOIN sig sb ON sb.doc_id = ix.doc_id
          WHERE x.doc_id IN (SELECT doc_id FROM cand2)
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), s2 AS (
          SELECT doc_id FROM cand2
          WHERE doc_id NOT IN (SELECT doc_id FROM xd2)
        )
        SELECT CAST(1 AS BIGINT) AS step, count(*) AS n,
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), (SELECT count(*) FROM del), CAST(0 AS BIGINT)
        UNION ALL
        SELECT CAST(3 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s2
      """.stripMargin.trim)),

    // ── X124: ingest-time incremental SEMANTIC dedup
    //    (IncrementalSemDedup) — the embedding tier completing the
    //    incremental-dedup triptych beside exact x32 and MinHash x75:
    //    batch 1 (even vec_ids) bootstraps the index (trains + freezes
    //    the quantizer, greedy keep-first chain within each cell),
    //    batch 2 (the whole corpus) dedups against the residents —
    //    every even self-collides at cosine 1.0 and drops, odd semantic
    //    dups of residents drop via the cell-confined rounded-cosine
    //    screen, surviving odds chain among themselves. Threshold 0.4 =
    //    the corpus's established x116 semantic level. FULL oracle via
    //    the fitted-quantizer thunk: DuckDB replays cell assignment
    //    (argmin, cell-asc ties), the rounded cosine pair screen, the
    //    resident drop and BOTH greedy chains as recursive-CTE state
    //    machines carrying each cell's survivor list ──
    QueryDef(
      "x124_incremental_semdedup",
      (s, dir) => {
        val path = Scratch.forInput("semdedup_index", dir)
        IncrementalSemDedup.dropIndex(s, path)
        val emb = Tables.embeddings(s, dir)
        val b1 = IncrementalSemDedup.dedupIncremental(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", path,
          threshold = 0.4)
        x124Cents = Some(IncrementalSemDedup.centroids(s, path))
        val b2 = IncrementalSemDedup.dedupIncremental(
          emb, "vec_id", "embedding", path, threshold = 0.4)
        def stats(df: org.apache.spark.sql.DataFrame, b: Long) =
          df.agg(count(lit(1)).as("n_survivors"),
            coalesce(sum(col("vec_id")), lit(0L)).as("id_sum"))
            .select(lit(b).as("batch"), col("n_survivors"), col("id_sum"))
        val idxRows = Partitioned.footerRowCount(s, s"$path/state")
        stats(b1, 1L).unionAll(stats(b2, 2L)).unionAll(
          s.range(1).select(lit(99L).as("batch"),
            lit(idxRows).as("n_survivors"), lit(0L).as("id_sum")))
      },
      () => x124Cents.map { cents =>
        val centVals = cents.zipWithIndex
          .map { case (c, i) => s"($i, ${sqlList(c)}::DOUBLE[])" }
          .mkString(",\n          ")
        s"""
        WITH RECURSIVE e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), nrm AS (
          SELECT vec_id, v,
            sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
          FROM e
        ), cents(cell, c) AS (VALUES
          $centVals
        ), ad AS (
          SELECT e.vec_id, cents.cell,
            list_reduce(list_transform(list_zip(e.v, cents.c),
              p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y) AS d
          FROM e CROSS JOIN cents
        ), asgn AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM ad) WHERE rn = 1
        ), pairs AS MATERIALIZED (
          SELECT x.cell, x.vec_id AS ia, y.vec_id AS ib
          FROM asgn x JOIN asgn y ON x.cell = y.cell AND x.vec_id < y.vec_id
          JOIN nrm a ON a.vec_id = x.vec_id
          JOIN nrm b ON b.vec_id = y.vec_id
          WHERE round(
            list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
              (s, t) -> s + t) / (a.n * b.n), 6) >= 0.4
        ), c1 AS (
          SELECT cell, vec_id,
            row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
          FROM asgn WHERE vec_id % 2 = 0
        ), nb1 AS (
          SELECT c.cell, c.vec_id, c.rk, coalesce(l.ls, []::BIGINT[]) AS nb
          FROM c1 c LEFT JOIN (
            SELECT ib, list(ia) AS ls FROM pairs
            WHERE ia % 2 = 0 AND ib % 2 = 0 GROUP BY ib
          ) l ON l.ib = c.vec_id
        ), w1(cell, rk, surv) AS (
          SELECT cell, 0, []::BIGINT[] FROM (SELECT DISTINCT cell FROM c1)
          UNION ALL
          SELECT w.cell, w.rk + 1,
            CASE WHEN len(list_intersect(n.nb, w.surv)) = 0
                 THEN list_append(w.surv, n.vec_id) ELSE w.surv END
          FROM w1 w JOIN nb1 n ON n.cell = w.cell AND n.rk = w.rk + 1
        ), s1 AS MATERIALIZED (
          SELECT unnest(surv) AS vec_id FROM (
            SELECT cell, surv,
              row_number() OVER (PARTITION BY cell ORDER BY rk DESC) AS rr
            FROM w1) WHERE rr = 1
        ), rd2 AS MATERIALIZED (
          SELECT DISTINCT vec_id FROM (
            SELECT p.ib AS vec_id FROM pairs p JOIN s1 ON s1.vec_id = p.ia
            UNION ALL
            SELECT p.ia FROM pairs p JOIN s1 ON s1.vec_id = p.ib
            UNION ALL
            SELECT vec_id FROM s1
          ) u
        ), c2 AS (
          SELECT cell, vec_id,
            row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
          FROM asgn WHERE vec_id NOT IN (SELECT vec_id FROM rd2)
        ), nb2 AS (
          SELECT c.cell, c.vec_id, c.rk, coalesce(l.ls, []::BIGINT[]) AS nb
          FROM c2 c LEFT JOIN (
            SELECT p.ib, list(p.ia) AS ls FROM pairs p
            WHERE p.ia NOT IN (SELECT vec_id FROM rd2)
              AND p.ib NOT IN (SELECT vec_id FROM rd2)
            GROUP BY p.ib
          ) l ON l.ib = c.vec_id
        ), w2(cell, rk, surv) AS (
          SELECT cell, 0, []::BIGINT[] FROM (SELECT DISTINCT cell FROM c2)
          UNION ALL
          SELECT w.cell, w.rk + 1,
            CASE WHEN len(list_intersect(n.nb, w.surv)) = 0
                 THEN list_append(w.surv, n.vec_id) ELSE w.surv END
          FROM w2 w JOIN nb2 n ON n.cell = w.cell AND n.rk = w.rk + 1
        ), s2 AS MATERIALIZED (
          SELECT unnest(surv) AS vec_id FROM (
            SELECT cell, surv,
              row_number() OVER (PARTITION BY cell ORDER BY rk DESC) AS rr
            FROM w2) WHERE rr = 1
        )
        SELECT CAST(1 AS BIGINT) AS batch, count(*) AS n_survivors,
          CAST(coalesce(sum(vec_id), 0) AS BIGINT) AS id_sum FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
          CAST(coalesce(sum(vec_id), 0) AS BIGINT) FROM s2
        UNION ALL
        SELECT CAST(99 AS BIGINT),
          (SELECT count(*) FROM s1) + (SELECT count(*) FROM s2),
          CAST(0 AS BIGINT)
        """.stripMargin.trim
      }),

    // ── X126: the streaming SEMANTIC-dedup ingest loop — completes the
    //    streaming row of the ingest matrix (exact x45, near-dup x122,
    //    IVF x46, HNSW x123): foreachBatch +
    //    [[IncrementalSemDedup.dedupIncremental]] over three embedding
    //    micro-batches (vec_id % 3; the first trains and freezes the
    //    quantizer), then batch 2 is RE-FED to prove streaming
    //    re-delivery idempotence — every re-fed candidate self-collides
    //    at cosine 1.0 or hits its still-resident dropper, zero survive.
    //    FULL oracle via the fitted-quantizer thunk: the x124
    //    recursive-CTE chain machinery generated per wave (resident
    //    screen + per-cell greedy chain), the re-delivery wave computed
    //    GENERICALLY, heavy CTEs MATERIALIZED ──
    QueryDef(
      "x126_stream_ingest_semdedup",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val path = Scratch.forInput("semdedup_stream", dir)
        IncrementalSemDedup.dropIndex(s, path)
        val vecs = Tables.embeddings(s, dir)
          .select(col("vec_id").cast("long"), col("embedding"))
          .as[(Long, Array[Float])].collect()
        val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val mem = MemoryStream[(Long, Array[Float])]
        val q = mem.toDF().toDF("vec_id", "embedding").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val surv = IncrementalSemDedup
              .dedupIncremental(batch, "vec_id", "embedding", path,
                threshold = 0.4)
              .agg(count(lit(1)), coalesce(sum(col("vec_id")), lit(0L)))
              .head()
            stats += ((stats.size.toLong, surv.getLong(0), surv.getLong(1)))
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x126"))
          .start()
        val feeds = Seq(0L, 1L, 2L).map(m => vecs.filter(_._1 % 3 == m)) :+
          vecs.filter(_._1 % 3 == 2) // re-delivery of batch 2
        StreamingOps.drive(q, "x126", deadlineSec = 180)(feeds)(
          b => mem.addData(b.toIndexedSeq: _*))
        x126Cents = Some(IncrementalSemDedup.centroids(s, path))
        val idxRows = Partitioned.footerRowCount(s, s"$path/state")
        (stats.toSeq :+ (99L, idxRows, 0L))
          .toDF("step", "n_survivors", "id_sum")
      },
      () => x126Cents.map { cents =>
        val centVals = cents.zipWithIndex
          .map { case (c, i) => s"($i, ${sqlList(c)}::DOUBLE[])" }
          .mkString(",\n          ")
        // one resident-screen + chain wave per micro-batch (the x124
        // machinery, generated): members m{k}, residents r{k}
        def wave(k: Int): String = s"""
        rd$k AS MATERIALIZED (
          SELECT DISTINCT vec_id FROM (
            SELECT p.ib AS vec_id FROM pairs p
              JOIN r$k ON r$k.vec_id = p.ia JOIN m$k ON m$k.vec_id = p.ib
            UNION ALL
            SELECT p.ia FROM pairs p
              JOIN r$k ON r$k.vec_id = p.ib JOIN m$k ON m$k.vec_id = p.ia
            UNION ALL
            SELECT m$k.vec_id FROM m$k JOIN r$k ON r$k.vec_id = m$k.vec_id
          ) u
        ), c$k AS MATERIALIZED (
          SELECT asgn.cell, asgn.vec_id,
            row_number() OVER (PARTITION BY asgn.cell ORDER BY asgn.vec_id) AS rk
          FROM asgn JOIN m$k ON m$k.vec_id = asgn.vec_id
          WHERE asgn.vec_id NOT IN (SELECT vec_id FROM rd$k)
        ), nb$k AS MATERIALIZED (
          SELECT c.cell, c.vec_id, c.rk, coalesce(l.ls, []::BIGINT[]) AS nb
          FROM c$k c LEFT JOIN (
            SELECT p.ib, list(p.ia) AS ls FROM pairs p
            JOIN c$k x ON x.vec_id = p.ia
            JOIN c$k y ON y.vec_id = p.ib
            GROUP BY p.ib
          ) l ON l.ib = c.vec_id
        ), w$k(cell, rk, surv) AS (
          SELECT cell, 0, []::BIGINT[] FROM (SELECT DISTINCT cell FROM c$k)
          UNION ALL
          SELECT w.cell, w.rk + 1,
            CASE WHEN len(list_intersect(n.nb, w.surv)) = 0
                 THEN list_append(w.surv, n.vec_id) ELSE w.surv END
          FROM w$k w JOIN nb$k n ON n.cell = w.cell AND n.rk = w.rk + 1
        ), s$k AS MATERIALIZED (
          SELECT unnest(surv) AS vec_id FROM (
            SELECT cell, surv,
              row_number() OVER (PARTITION BY cell ORDER BY rk DESC) AS rr
            FROM w$k) WHERE rr = 1
        )""".stripMargin.trim
        s"""
        WITH RECURSIVE e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), nrm AS (
          SELECT vec_id, v,
            sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
          FROM e
        ), cents(cell, c) AS (VALUES
          $centVals
        ), ad AS (
          SELECT e.vec_id, cents.cell,
            list_reduce(list_transform(list_zip(e.v, cents.c),
              p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y) AS d
          FROM e CROSS JOIN cents
        ), asgn AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM ad) WHERE rn = 1
        ), pairs AS MATERIALIZED (
          SELECT x.cell, x.vec_id AS ia, y.vec_id AS ib
          FROM asgn x JOIN asgn y ON x.cell = y.cell AND x.vec_id < y.vec_id
          JOIN nrm a ON a.vec_id = x.vec_id
          JOIN nrm b ON b.vec_id = y.vec_id
          WHERE round(
            list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
              (s, t) -> s + t) / (a.n * b.n), 6) >= 0.4
        ), m0 AS (SELECT vec_id FROM asgn WHERE vec_id % 3 = 0
        ), r0 AS (SELECT CAST(NULL AS BIGINT) AS vec_id WHERE false
        ), ${wave(0)}, m1 AS (SELECT vec_id FROM asgn WHERE vec_id % 3 = 1
        ), r1 AS (SELECT vec_id FROM s0
        ), ${wave(1)}, m2 AS (SELECT vec_id FROM asgn WHERE vec_id % 3 = 2
        ), r2 AS (SELECT vec_id FROM s0 UNION ALL SELECT vec_id FROM s1
        ), ${wave(2)}, m3 AS (SELECT vec_id FROM asgn WHERE vec_id % 3 = 2
        ), r3 AS (SELECT vec_id FROM s0 UNION ALL SELECT vec_id FROM s1
                  UNION ALL SELECT vec_id FROM s2
        ), ${wave(3)}
        SELECT CAST(0 AS BIGINT) AS step, count(*) AS n_survivors,
          CAST(coalesce(sum(vec_id), 0) AS BIGINT) AS id_sum FROM s0
        UNION ALL
        SELECT CAST(1 AS BIGINT), count(*),
          CAST(coalesce(sum(vec_id), 0) AS BIGINT) FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
          CAST(coalesce(sum(vec_id), 0) AS BIGINT) FROM s2
        UNION ALL
        SELECT CAST(3 AS BIGINT), count(*),
          CAST(coalesce(sum(vec_id), 0) AS BIGINT) FROM s3
        UNION ALL
        SELECT CAST(99 AS BIGINT),
          (SELECT count(*) FROM s0) + (SELECT count(*) FROM s1)
            + (SELECT count(*) FROM s2) + (SELECT count(*) FROM s3),
          CAST(0 AS BIGINT)
        """.stripMargin.trim
      }),

    // ── X122: the streaming NEAR-dup ingest loop — the composed
    //    production crawl-ingest shape that x45 (stream × exact index)
    //    and x75 (batch steps × near-dup index) each prove half of: a
    //    real Structured Streaming `foreachBatch` drive of
    //    [[IncrementalNearDup.dedupIncremental]] over three document
    //    micro-batches (doc_id % 3 — deterministic membership), each
    //    near-deduped against the growing persisted LSH index
    //    (within-batch star election → banded cross-index probe →
    //    signature verify → survivor append), then batch 2 is RE-FED to
    //    prove streaming re-delivery idempotence: every re-fed candidate
    //    collides with its own index entry (est-Jaccard 1.0) or with the
    //    still-resident near-dup that dropped it, so zero survive and the
    //    index is untouched. Emits per-batch survivor stats + the final
    //    sig-side index size. The driver-side collect feeds the
    //    MemoryStream (the Kafka stand-in, as x30–x34/x45/x46); the
    //    operator under test touches only the batch and the bucketed
    //    index. Signatures are sketched ONCE for the whole corpus and
    //    carried WITH the stream rows (`signatures` + `sigCol` — the
    //    crawl-time compute-once device): the four waves, including the
    //    re-delivery, pay zero re-sketching, only probe + verify +
    //    append. FULL oracle: the x75 CTE cascade extended to three
    //    batches plus a GENERICALLY-computed re-delivery pass (not a
    //    hardcoded zero) — DuckDB re-runs the within screen and the
    //    cross probe of the re-fed batch against s0∪s1∪s2 ──
    QueryDef(
      "x122_stream_ingest_neardup",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val path = Scratch.forInput("neardup_stream", dir)
        IncrementalNearDup.dropIndex(s, path)
        val docsDf = Tables.documents(s, dir)
          .select(col("doc_id").cast("long"), col("text"))
        // the crawl-side sketch is computed once PER FAMILY (r13:
        // [[neardupSigStore]], shared with x75/x137) and pinned; each
        // delivery (and the re-delivery) JOINS its batch against it
        // executor-side — no signature arrays round-trip through the
        // driver feed
        val sigStore = neardupSigStore(s, dir)
        val docs = docsDf.as[(Long, String)].collect()
        val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val mem = MemoryStream[(Long, String)]
        val q = mem.toDF().toDF("doc_id", "text").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val surv = IncrementalNearDup
              .dedupIncremental(
                batch.join(sigStore, Seq("doc_id")),
                "doc_id", "text", path, nBuckets = 8,
                sigCol = Some("sig"))
              .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)))
              .head()
            stats += ((stats.size.toLong, surv.getLong(0), surv.getLong(1)))
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x122"))
          .start()
        val feeds = Seq(0L, 1L, 2L).map(m => docs.filter(_._1 % 3 == m)) :+
          docs.filter(_._1 % 3 == 2) // re-delivery of batch 2
        StreamingOps.drive(q, "x122", deadlineSec = 180)(feeds)(
          b => mem.addData(b.toIndexedSeq: _*))
        val sigRows = s.read.parquet(s"$path/state")
          .filter(col("__side") === "s").count()
        (stats.toSeq :+ (99L, sigRows, 0L))
          .toDF("step", "n_survivors", "id_sum")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), w AS (
          SELECT doc_id, norm, string_split(norm, ' ') AS w FROM d
        ), sh AS (
          SELECT doc_id,
            CASE WHEN len(w) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(w)-2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
            ELSE [norm] END AS s
          FROM w
        ), ab AS (
          SELECT doc_id,
            list_transform(s, x -> (('0x' || substring(md5(x),1,8))::BIGINT)) AS av,
            list_transform(s, x -> (('0x' || substring(md5(x),9,8))::BIGINT)) AS bv
          FROM sh
        ), sig AS (
          SELECT doc_id,
            list_transform(generate_series(0, 127), k ->
              list_aggregate(list_transform(generate_series(1, len(av)),
                i -> (av[i] + k*bv[i]) % 4294967311), 'min')) AS sig
          FROM ab
        ), banded AS (
          SELECT doc_id, b.b AS band,
            substring(md5(array_to_string(sig[(b.b*8+1):(b.b*8+8)], ',')), 1, 16) AS kh
          FROM sig, (SELECT unnest(generate_series(0, 15)) AS b) b
        ), rep0 AS (
          SELECT band, kh, min(doc_id) AS rep FROM banded
          WHERE doc_id % 3 = 0 GROUP BY 1, 2
        ), wd0 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN rep0 r ON x.band = r.band AND x.kh = r.kh AND x.doc_id > r.rep
          JOIN sig sa ON sa.doc_id = r.rep
          JOIN sig sb ON sb.doc_id = x.doc_id
          WHERE x.doc_id % 3 = 0
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), s0 AS (
          SELECT doc_id FROM sig
          WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM wd0)
        ), rep1 AS (
          SELECT band, kh, min(doc_id) AS rep FROM banded
          WHERE doc_id % 3 = 1 GROUP BY 1, 2
        ), wd1 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN rep1 r ON x.band = r.band AND x.kh = r.kh AND x.doc_id > r.rep
          JOIN sig sa ON sa.doc_id = r.rep
          JOIN sig sb ON sb.doc_id = x.doc_id
          WHERE x.doc_id % 3 = 1
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), c1 AS (
          SELECT doc_id FROM sig
          WHERE doc_id % 3 = 1 AND doc_id NOT IN (SELECT doc_id FROM wd1)
        ), xd1 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN banded ix ON x.band = ix.band AND x.kh = ix.kh
          JOIN s0 ON ix.doc_id = s0.doc_id
          JOIN sig sa ON sa.doc_id = x.doc_id
          JOIN sig sb ON sb.doc_id = ix.doc_id
          WHERE x.doc_id IN (SELECT doc_id FROM c1)
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), s1 AS (
          SELECT doc_id FROM c1 WHERE doc_id NOT IN (SELECT doc_id FROM xd1)
        ), rep2 AS (
          SELECT band, kh, min(doc_id) AS rep FROM banded
          WHERE doc_id % 3 = 2 GROUP BY 1, 2
        ), wd2 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN rep2 r ON x.band = r.band AND x.kh = r.kh AND x.doc_id > r.rep
          JOIN sig sa ON sa.doc_id = r.rep
          JOIN sig sb ON sb.doc_id = x.doc_id
          WHERE x.doc_id % 3 = 2
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), c2 AS (
          SELECT doc_id FROM sig
          WHERE doc_id % 3 = 2 AND doc_id NOT IN (SELECT doc_id FROM wd2)
        ), idx2 AS (
          SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1
        ), xd2 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN banded ix ON x.band = ix.band AND x.kh = ix.kh
          JOIN idx2 ON ix.doc_id = idx2.doc_id
          JOIN sig sa ON sa.doc_id = x.doc_id
          JOIN sig sb ON sb.doc_id = ix.doc_id
          WHERE x.doc_id IN (SELECT doc_id FROM c2)
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), s2 AS (
          SELECT doc_id FROM c2 WHERE doc_id NOT IN (SELECT doc_id FROM xd2)
        ), idx3 AS (
          SELECT doc_id FROM idx2 UNION ALL SELECT doc_id FROM s2
        ), xd3 AS (
          SELECT DISTINCT x.doc_id
          FROM banded x
          JOIN banded ix ON x.band = ix.band AND x.kh = ix.kh
          JOIN idx3 ON ix.doc_id = idx3.doc_id
          JOIN sig sa ON sa.doc_id = x.doc_id
          JOIN sig sb ON sb.doc_id = ix.doc_id
          WHERE x.doc_id IN (SELECT doc_id FROM c2)
            AND len(list_filter(generate_series(1,128),
                  i -> sa.sig[i] = sb.sig[i]))/128.0 >= 0.8
        ), s3 AS (
          SELECT doc_id FROM c2 WHERE doc_id NOT IN (SELECT doc_id FROM xd3)
        )
        SELECT CAST(0 AS BIGINT) AS step, count(*) AS n_survivors,
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM s0
        UNION ALL
        SELECT CAST(1 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s2
        UNION ALL
        SELECT CAST(3 AS BIGINT), count(*),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s3
        UNION ALL
        SELECT CAST(99 AS BIGINT),
          (SELECT count(*) FROM s0) + (SELECT count(*) FROM s1)
            + (SELECT count(*) FROM s2) + (SELECT count(*) FROM s3),
          CAST(0 AS BIGINT)
      """.stripMargin.trim)),

    // ── X77: embedding-space drift monitor (similarity.EmbedDrift) —
    //    the embedding analog of x67's token-KL batch gate: an ingest
    //    batch (odd vec_ids) scored against a frozen baseline (even
    //    vec_ids) under the baseline-trained frozen quantizer —
    //    cell-occupancy KL + mean-direction cosine + the accept
    //    decision, the check an ANN ingest loop (x46) runs BEFORE
    //    appending. FULL oracle via the x47 centroid-literal thunk:
    //    assignment argmin, smoothed KL terms, mean cosine and the gate
    //    all replay in DuckDB ──
    QueryDef(
      "x77_embed_drift",
      (s, dir) => {
        import graft.similarity.{EmbedDrift, SemDedup}
        val emb = Tables.embeddings(s, dir)
        val base = emb.filter(col("vec_id") % 2 === 0)
        val batch = emb.filter(col("vec_id") % 2 === 1)
        val cents = SemDedup.trainCentroids(base, "vec_id", "embedding",
          nClusters = 8, seed = 7L)
        x77Centroids = Some(cents)
        EmbedDrift.drift(base, batch, "embedding", cents, gate = 0.05)
      },
      () => x77Centroids.map { cs =>
        val centVals = cs.zipWithIndex
          .map { case (c, i) => s"($i, ${sqlList(c)}::DOUBLE[])" }
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
        ), cb AS (
          SELECT cell,
            sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS nb,
            sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS nx
          FROM asgn GROUP BY cell
        ), full_ AS (
          SELECT cents.cell, coalesce(nb, 0) AS nb, coalesce(nx, 0) AS nx
          FROM cents LEFT JOIN cb USING (cell)
        ), tot AS (
          SELECT sum(nb) AS tb, sum(nx) AS tx FROM full_
        ), terms AS (
          SELECT cell, nb, nx,
            ((nx + 1) / (tx + 8.0)) *
              ln(((nx + 1) / (tx + 8.0)) / ((nb + 1) / (tb + 8.0))) AS term
          FROM full_, tot
        ), mv AS (
          SELECT (vec_id % 2) AS par, i.i AS pos, avg(v[i.i]) AS m
          FROM e, (SELECT unnest(generate_series(1, len(v))) AS i) i
          GROUP BY 1, 2
        ), mc AS (
          SELECT round(
            sum(a.m * b.m) / (sqrt(sum(a.m * a.m)) * sqrt(sum(b.m * b.m))),
            6) AS mcos
          FROM (SELECT pos, m FROM mv WHERE par = 0) a
          JOIN (SELECT pos, m FROM mv WHERE par = 1) b USING (pos)
        ), klt AS (
          SELECT round(sum(term), 6) AS kl FROM terms
        )
        SELECT 'n_base' AS metric, CAST(cell AS INT) AS cell,
          CAST(nb AS DOUBLE) AS value FROM terms
        UNION ALL
        SELECT 'n_batch', CAST(cell AS INT), CAST(nx AS DOUBLE) FROM terms
        UNION ALL
        SELECT 'kl_term', CAST(cell AS INT), round(term, 6) FROM terms
        UNION ALL
        SELECT 'kl', -1, kl FROM klt
        UNION ALL
        SELECT 'mean_cos', -1, mcos FROM mc
        UNION ALL
        SELECT 'accept', -1,
          CASE WHEN kl <= 0.05 THEN 1.0 ELSE 0.0 END FROM klt
        """.stripMargin.trim
      }),

    // ── X79: corpus-level duplicated-span profile
    //    (TextOps.duplicatedSpanProfile) — the k-token-anchor
    //    approximation of Lee et al. 2022's suffix-array ExactSubstr
    //    dedup: grams occurring >1 time mark duplicated anchors, per-doc
    //    interval merge yields maximal duplicated spans >= minLen, and
    //    each affected doc reports its duplication profile. FULL oracle:
    //    tokenization, gram hashing, the >=2 count, the running-max
    //    interval merge and the span stats all replay in DuckDB ──
    QueryDef(
      "x79_dup_spans",
      (s, dir) => {
        TextOps.duplicatedSpanProfile(Tables.documents(s, dir), "doc_id",
          "text", k = 8, minLen = 16)
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), w AS (
          SELECT doc_id, string_split(norm, ' ') AS w FROM d
        ), g AS (
          SELECT doc_id, len(w) AS n, i.i - 1 AS p,
            substring(md5(array_to_string(w[i.i:i.i+7], ' ')), 1, 16) AS h
          FROM w, (SELECT unnest(generate_series(1, len(w) - 7)) AS i) i
          WHERE len(w) >= 8
        ), dup AS (
          SELECT h FROM g GROUP BY h HAVING count(*) >= 2
        ), a AS (
          SELECT doc_id, n, p, p + 7 AS e FROM g JOIN dup USING (h)
        ), f AS (
          SELECT doc_id, n, p, e,
            CASE WHEN p > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
            THEN 1 ELSE 0 END AS nw
          FROM a
        ), sps AS (
          SELECT doc_id, n, p, e,
            sum(nw) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
          FROM f
        ), sp AS (
          SELECT doc_id, span, min(p) AS s_, max(e) AS x_, min(n) AS nn
          FROM sps GROUP BY doc_id, span
          HAVING max(e) - min(p) + 1 >= 16
        )
        SELECT doc_id, count(*) AS n_spans,
          CAST(sum(x_ - s_ + 1) AS BIGINT) AS dup_tokens,
          CAST(min(nn) AS BIGINT) AS total_tokens,
          round(CAST(sum(x_ - s_ + 1) AS DOUBLE) / CAST(min(nn) AS DOUBLE), 6)
            AS dup_frac
        FROM sp GROUP BY doc_id
      """.stripMargin.trim)),

    // ── X108: EXACT ExactSubstr profile (Lee et al. 2022's suffix-array
    //    contract) — the k = minLen instantiation of the span profiler:
    //    a position is in a duplicated >= minLen substring IFF a
    //    duplicated exact-minLen window covers it, so minLen-gram
    //    anchors at stride 1 mark PRECISELY the ExactSubstr position
    //    set — none of x79's k < minLen chain over-merge. Same one
    //    count->=2 shuffle; each position hashes minLen tokens instead
    //    of k (the distributed trade vs the suffix array's low-memory
    //    sequential build). FULL oracle = the x79 replay at width 16 ──
    QueryDef(
      "x108_exact_substr",
      (s, dir) => {
        TextOps.exactSubstrProfile(Tables.documents(s, dir), "doc_id",
          "text", minLen = 16)
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), w AS (
          SELECT doc_id, string_split(norm, ' ') AS w FROM d
        ), g AS (
          SELECT doc_id, len(w) AS n, i.i - 1 AS p,
            substring(md5(array_to_string(w[i.i:i.i+15], ' ')), 1, 16) AS h
          FROM w, (SELECT unnest(generate_series(1, len(w) - 15)) AS i) i
          WHERE len(w) >= 16
        ), dup AS (
          SELECT h FROM g GROUP BY h HAVING count(*) >= 2
        ), a AS (
          SELECT doc_id, n, p, p + 15 AS e FROM g JOIN dup USING (h)
        ), f AS (
          SELECT doc_id, n, p, e,
            CASE WHEN p > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
            THEN 1 ELSE 0 END AS nw
          FROM a
        ), sps AS (
          SELECT doc_id, n, p, e,
            sum(nw) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
          FROM f
        ), sp AS (
          SELECT doc_id, span, min(p) AS s_, max(e) AS x_, min(n) AS nn
          FROM sps GROUP BY doc_id, span
          HAVING max(e) - min(p) + 1 >= 16
        )
        SELECT doc_id, count(*) AS n_spans,
          CAST(sum(x_ - s_ + 1) AS BIGINT) AS dup_tokens,
          CAST(min(nn) AS BIGINT) AS total_tokens,
          round(CAST(sum(x_ - s_ + 1) AS DOUBLE) / CAST(min(nn) AS DOUBLE), 6)
            AS dup_frac
        FROM sp GROUP BY doc_id
      """.stripMargin.trim)),

    // ── X81: perceptual-hash image dedup (Multimodal.dHash) — every
    //    image doc carries a REAL 8×6 gray PNG planted from
    //    pixel_i = (d·31 + d·i + i²) % 256; the engine decodes it
    //    (zlib inflate + de-filter), nearest-neighbor-resizes to 9×8 and
    //    packs the 64 horizontal-gradient bits; exact grouping on the
    //    hash is the re-encode-duplicate screen. FULL oracle: the resize
    //    index arithmetic and the pixel formula replay in DuckDB, so a
    //    codec, resize, or bit-pack bug breaks the hash ──
    QueryDef(
      "x81_image_dhash",
      (s, dir) => {
        val imgs = dhashFrame(s, dir)
        imgs.groupBy(col("__h._1").as("dhash_hi"), col("__h._2").as("dhash_lo"))
          .agg(count(lit(1)).as("n_imgs"), min(col("doc_id")).as("keeper_id"))
      },
      Some(s"""
        WITH $dhashSqlCtes
        SELECT dhash_hi, dhash_lo, count(*) AS n_imgs, min(doc_id) AS keeper_id
        FROM dh GROUP BY 1, 2
      """.stripMargin.trim)),

    // ── X132: image RESIZE pipeline (Multimodal.resizeBox) — the
    //    preprocessing step between x81's decode and any vision
    //    featurizer (the CLIP-resize shape): each planted 8×6 PNG is
    //    REALLY decoded (zlib inflate + de-filter) then box-filter
    //    downsampled 2× to 4×3 with the deterministic floor-mean kernel,
    //    all past-the-decode arithmetic pure HOF expressions inside
    //    codegen. Output pins the resized raster completely: per source,
    //    the pixel sum, a position-weighted checksum (order bugs break
    //    it), and the first/last destination pixels. FULL oracle: the
    //    planting formula + the 2×2 block floor-mean replay in DuckDB
    //    (each source pixel routes to dst j = (r÷2)·4 + c÷2 — one GROUP
    //    BY does the box filter), so a codec, indexing, or rounding bug
    //    anywhere in decode→resize breaks the hash ──
    QueryDef(
      "x132_image_resize",
      (s, dir) => {
        val mkImg = udf { (docId: Long) =>
          Png.encode(8, 6, 1,
            Array.tabulate(48)(i => ((docId * 31 + docId * i + i * i) % 256).toInt))
        }
        val imgs = Tables.spread(Tables.documents(s, dir))
          .filter(col("doc_id") % 3 === 0)
          .withColumn("small", Multimodal.resizeBox(
            Multimodal.decodeSamples(mkImg(col("doc_id"))), 8, 6, 2))
        imgs.select(col("source"),
            aggregate(col("small"), lit(0L), (a, x) => a + x).as("px_sum"),
            aggregate(zip_with(col("small"), sequence(lit(1), lit(12)),
              (v, i) => v * i), lit(0L), (a, x) => a + x).as("px_checksum"),
            element_at(col("small"), 1).as("first_px"),
            element_at(col("small"), 12).as("last_px"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_imgs"),
            sum(col("px_sum")).as("sum_px"),
            sum(col("px_checksum")).as("sum_checksum"),
            sum(col("first_px")).as("sum_first"),
            sum(col("last_px")).as("sum_last"))
      },
      Some("""
        WITH img AS (
          SELECT doc_id, source FROM documents WHERE doc_id % 3 = 0
        ), sp AS (
          SELECT doc_id, source, i,
            (doc_id*31 + doc_id*i + i*i) % 256 AS p
          FROM img, (SELECT unnest(generate_series(0, 47)) AS i) ii
        ), dst AS (
          SELECT doc_id, source, ((i // 8) // 2) * 4 + (i % 8) // 2 AS j,
            sum(p) // 4 AS v
          FROM sp GROUP BY 1, 2, 3
        ), perdoc AS (
          SELECT doc_id, source,
            sum(v) AS px_sum,
            sum(v * (j + 1)) AS px_checksum,
            max(CASE WHEN j = 0 THEN v END) AS first_px,
            max(CASE WHEN j = 11 THEN v END) AS last_px
          FROM dst GROUP BY 1, 2
        )
        SELECT source, count(*) AS n_imgs,
          CAST(sum(px_sum) AS BIGINT) AS sum_px,
          CAST(sum(px_checksum) AS BIGINT) AS sum_checksum,
          CAST(sum(first_px) AS BIGINT) AS sum_first,
          CAST(sum(last_px) AS BIGINT) AS sum_last
        FROM perdoc GROUP BY source
      """.stripMargin.trim)),

    // ── X82: near-duplicate image merge — Hamming-banded self-join over
    //    the DISTINCT dHash values (8 bands × 8 bits; pigeonhole-complete
    //    for distance ≤ 7). The scale story: exact grouping (x81) first
    //    collapses the corpus to its distinct hashes, so the pair search
    //    runs over |distinct| rows, not |images| — banding then keeps it
    //    candidate-only even when |distinct| is large. FULL oracle: the
    //    distinct-hash set is replayable (x81), and DuckDB brute-forces
    //    all hash pairs with xor+bit_count — banding recall vs the
    //    brute force is exactly what the compare proves ──
    QueryDef(
      "x82_image_neardup",
      (s, dir) => {
        val hashes = dhashFrame(s, dir)
          .groupBy(col("__h._1").as("hi"), col("__h._2").as("lo"))
          .agg(count(lit(1)).as("n"))
        val banded = hashes.select(col("hi"), col("lo"), col("n"),
          explode(sequence(lit(0), lit(7))).as("band"))
          .withColumn("bv", expr(
            "CASE WHEN band < 4 THEN shiftright(lo, band * 8) & 255" +
              " ELSE shiftright(hi, (band - 4) * 8) & 255 END"))
        val a = banded.as("a"); val b = banded.as("b")
        a.join(broadcast(b),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
              (col("a.hi") < col("b.hi") ||
                (col("a.hi") === col("b.hi") && col("a.lo") < col("b.lo"))))
          .select(col("a.hi").as("hi_a"), col("a.lo").as("lo_a"), col("a.n").as("n_a"),
            col("b.hi").as("hi_b"), col("b.lo").as("lo_b"), col("b.n").as("n_b"))
          .distinct()
          .withColumn("hamming",
            (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
              bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long"))
          .filter(col("hamming") <= 7)
      },
      Some(s"""
        WITH $dhashSqlCtes,
        d AS (
          SELECT dhash_hi AS hi, dhash_lo AS lo, count(*) AS n
          FROM dh GROUP BY 1, 2
        )
        SELECT a.hi AS hi_a, a.lo AS lo_a, a.n AS n_a,
          b.hi AS hi_b, b.lo AS lo_b, b.n AS n_b,
          CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT)
            AS hamming
        FROM d a, d b
        WHERE (a.hi < b.hi OR (a.hi = b.hi AND a.lo < b.lo))
          AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
      """.stripMargin.trim)),

    // ── X83: audio frame features (Multimodal.frameFeatures) — every
    //    audio doc carries a REAL mono 16-bit WAV (the x21 planting
    //    formula); the engine decodes the PCM and emits per-frame energy
    //    / zero-crossing / Σ|x| features as a pure HOF expression (no UDF
    //    past the decode), aggregated per (source, frame). FULL oracle:
    //    integer-exact features replay from the sample formula in DuckDB ──
    QueryDef(
      "x83_audio_frames",
      (s, dir) => {
        val mkWav = udf { (docId: Long) =>
          Wav.encodePcm16(8000, 1,
            Array.tabulate(32)(i => ((docId * 17 + i * 3) % 2048 - 1024).toInt))
        }
        Tables.spread(Tables.documents(s, dir))
          .filter(col("doc_id") % 3 === 1)
          .withColumn("__s", Multimodal.decodeSamples(mkWav(col("doc_id"))))
          .select(col("source"),
            explode(Multimodal.frameFeatures(col("__s"), 16)).as("__f"))
          .groupBy(col("source"), col("__f.frame_idx").as("frame_idx"))
          .agg(count(lit(1)).as("n_frames"),
            sum(col("__f.sum_sq")).as("sum_sq"),
            sum(col("__f.n_zc")).as("n_zc"),
            sum(col("__f.sum_abs")).as("sum_abs"))
      },
      Some("""
        WITH wav AS (
          SELECT doc_id, source FROM documents WHERE doc_id % 3 = 1
        ), s AS (
          SELECT doc_id, source, i.i AS i,
            ((doc_id * 17 + 3 * i.i) % 2048) - 1024 AS x
          FROM wav, (SELECT unnest(generate_series(0, 31)) AS i) i
        ), lagd AS (
          SELECT *, lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS lx FROM s
        ), f AS (
          SELECT doc_id, source, i // 16 AS frame_idx,
            CAST(sum(x * x) AS BIGINT) AS sum_sq,
            CAST(sum(CASE WHEN i % 16 >= 1 AND x * lx < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_zc,
            CAST(sum(abs(x)) AS BIGINT) AS sum_abs
          FROM lagd GROUP BY 1, 2, 3
        )
        SELECT source, CAST(frame_idx AS BIGINT) AS frame_idx,
          count(*) AS n_frames,
          CAST(sum(sum_sq) AS BIGINT) AS sum_sq,
          CAST(sum(n_zc) AS BIGINT) AS n_zc,
          CAST(sum(sum_abs) AS BIGINT) AS sum_abs
        FROM f GROUP BY 1, 2
      """.stripMargin.trim)),

    // ── X146: binary-quantized ANN (Ann.cosineTopKBinary) — the sign-bit
    //    compression tier completing the quantization ladder (float →
    //    SQ8 x38 → PQ x39 → 1-bit): a Hamming prefilter over packed sign
    //    words scans 1/32 of the bytes, keeps 12 candidates per query
    //    (Hamming asc, id asc), and the exact cosine reranks only the
    //    shortlist to top-3. FULL oracle: DuckDB replays the sign rule
    //    (v >= 0), the Hamming shortlist and the exact rerank — no
    //    fitted state, pure arithmetic ──
    QueryDef(
      "x146_ann_binary",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Ann.cosineTopKBinary(
          emb, emb.filter(col("vec_id") < 20), "embedding",
          "vec_id", "vec_id", k = 3, dim = 64, candidates = 12)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), q AS (
          SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20
        ), h AS (
          SELECT q.qid, e.vec_id AS cid,
            len(list_filter(list_zip(q.qv, e.v),
              z -> (z[1] >= 0) <> (z[2] >= 0))) AS ham
          FROM q CROSS JOIN e WHERE e.vec_id <> q.qid
        ), short AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY ham, cid) AS rn
            FROM h)
          WHERE rn <= 12
        ), d AS (
          SELECT s.qid, s.cid,
            list_reduce(list_transform(list_zip(q.qv, e.v), z -> z[1]*z[2]),
              (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(q.qv, x -> x*x), (x,y) -> x+y))
               * sqrt(list_reduce(list_transform(e.v, x -> x*x), (x,y) -> x+y)))
              AS cos
          FROM short s
          JOIN e ON e.vec_id = s.cid
          JOIN q ON q.qid = s.qid
        )
        SELECT qid AS vec_id, CAST(rank AS INT) AS rank,
          cid AS neighbor_id, round(cos, 6) AS cosine
        FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM d)
        WHERE rank <= 3
      """.stripMargin.trim))
  )

  /** Image docs with their dHash struct (`__h`): every doc_id % 3 == 0 row
    * carries a planted 8×6 gray PNG with pixel_i = (d·31 + d·i + i²) % 256
    * (the x21 planting idiom with a quadratic term so distinct doc_id
    * classes land on distinct-but-near hashes — 256 distinct values with
    * Hamming-5..7 neighbor pairs, exercising both the exact group and the
    * banded merge).
    */
  private def dhashFrame(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val mkImg = udf { (docId: Long) =>
      Png.encode(8, 6, 1,
        Array.tabulate(48)(i => ((docId * 31 + docId * i + i * i) % 256).toInt))
    }
    Tables.spread(Tables.documents(s, dir))
      .filter(col("doc_id") % 3 === 0)
      .withColumn("__h", Multimodal.dHash(mkImg(col("doc_id"))))
  }

  /** Shared DuckDB CTE chain `img, bits, dh` rebuilding each image doc's
    * dHash from the planting formula: bit j (row-major over the 9×8
    * resized grid) compares the nearest-neighbor source pixels at
    * columns c and c+1; lo packs bits 0–31, hi bits 32–63.
    */
  // lazy: referenced from the eager `defs` literal above its definition
  private lazy val dhashSqlCtes: String = """img AS (
          SELECT doc_id FROM documents WHERE doc_id % 3 = 0
        ), bits AS (
          SELECT i.doc_id, j.j,
            CASE WHEN
              (i.doc_id * 31 + i.doc_id * (((j.j // 8) * 6 // 8) * 8 + ((j.j % 8) * 8 // 9))
                 + (((j.j // 8) * 6 // 8) * 8 + ((j.j % 8) * 8 // 9))
                 * (((j.j // 8) * 6 // 8) * 8 + ((j.j % 8) * 8 // 9))) % 256
              >
              (i.doc_id * 31 + i.doc_id * (((j.j // 8) * 6 // 8) * 8 + (((j.j % 8) + 1) * 8 // 9))
                 + (((j.j // 8) * 6 // 8) * 8 + (((j.j % 8) + 1) * 8 // 9))
                 * (((j.j // 8) * 6 // 8) * 8 + (((j.j % 8) + 1) * 8 // 9))) % 256
            THEN 1 ELSE 0 END AS bit
          FROM img i, (SELECT unnest(generate_series(0, 63)) AS j) j
        ), dh AS (
          SELECT doc_id,
            CAST(sum(CASE WHEN j >= 32 AND bit = 1
              THEN (1::BIGINT << (j - 32)) ELSE 0 END) AS BIGINT) AS dhash_hi,
            CAST(sum(CASE WHEN j < 32 AND bit = 1
              THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS dhash_lo
          FROM bits GROUP BY doc_id
        )"""
}

package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopK

/** Similarity search over embedding columns (`Array[Float]`) — SURVEY
  * §2.8 north-star: brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH bucketed variant as the 100 TB scale path (probe
  * only matching buckets instead of the full cross product).
  *
  * Plan shape shared by both paths: per-row norms are computed ONCE
  * before the join (cosine then costs a single dot-product pass per
  * candidate pair), and the per-query ranking is the native bounded
  * [[graft.functions.TopK]] aggregate — map-side partials keep ≤k
  * candidates per (partition, query), so the exchange carries k·P rows
  * per query instead of the whole candidate product.
  */
object Ann {

  /** Sequential double-precision dot product of two array columns — the
    * native codegen'd [[graft.functions.ArrayDot]] expression (same
    * left-to-right summation order as the composed
    * `aggregate(zip_with(...))` form and the DuckDB oracles, so results
    * are bit-identical; ~an order of magnitude less per-pair overhead).
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cos(a,b) = a·b / (|a|·|b|) in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-vector symmetric int8 scalar quantization for embedding STORAGE
    * — the public FAISS `ScalarQuantizer` 8-bit contract (Johnson, Douze
    * & Jégou 2017; 4× smaller than float32, which at 100 TB of
    * embeddings is the difference between one copy and four):
    * `scale = max|v_i| / 127`, `q_i = clamp(floor(v_i/scale + 0.5),
    * ±127)` (explicit half-up rounding, so every engine — and the DuckDB
    * oracle — reproduces the codes bit-identically), zero vectors take
    * scale 1. Appends `qCol` (`array<tinyint>`) and `scaleCol`; pure
    * codegen'd higher-order functions, no shuffle.
    */
  def quantizeInt8(
      df: DataFrame,
      featCol: String,
      qCol: String = "q8",
      scaleCol: String = "q8_scale"): DataFrame = {
    val v = col(featCol).cast("array<double>")
    val maxAbs = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    val scale = when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127.0)
    df.withColumn(scaleCol, scale)
      .withColumn(qCol,
        transform(v, x =>
          least(greatest(floor(x / col(scaleCol) + 0.5), lit(-127.0)), lit(127.0))
            .cast("byte")))
  }

  /** Dequantize an int8 code array back to doubles: `q_i · scale`. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Sign-bit binary quantization: `dim` sign bits packed into
    * `⌈dim/64⌉` longs (bit `j` of word `w` = 1 iff `v[64w+j] >= 0`) —
    * the 32×-compression tier of the embedding-store stack (FAISS
    * `IndexBinaryFlat` / pgvector binary quantization): the Hamming
    * distance between sign patterns is a monotone proxy for angular
    * distance, so a bit-XOR/popcount scan over 1/32 of the bytes
    * shortlists candidates and the exact cosine pays only for the
    * shortlist. Pure codegen'd expressions, no UDF, no shuffle.
    */
  def packSignBits(v: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive: $dim")
    val nWords = (dim + 63) / 64
    array((0 until nWords).map { w =>
      val lo = w * 64
      (0 until math.min(64, dim - lo)).map { j =>
        when(element_at(v, lo + j + 1).cast("double") >= 0d,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Hamming distance between two packed sign-bit arrays. */
  def hammingPacked(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, h) => acc + h)

  /** Binary-quantized cosine top-k: Hamming prefilter over packed sign
    * bits keeps `candidates` per query (Hamming asc, id asc), then the
    * exact cosine reranks ONLY the shortlist. Same output shape as
    * [[cosineTopK]]; recall rides the `candidates/k` headroom
    * (spec-asserted). Scale shape: the full corpus is scanned once as
    * `⌈dim/64⌉`-long bit words (1/32 the bytes of the float scan); the
    * exact rerank is a declarative join of the |queries|·candidates
    * shortlist against a second column-pruned corpus scan (AQE picks
    * the build side — the shortlist broadcasts on a big cluster), so
    * exact cosines are computed for shortlist rows only; shuffles carry
    * bounded top-k partials, never the corpus.
    */
  def cosineTopKBinary(
      corpus: DataFrame,
      queries: DataFrame,
      featCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      dim: Int,
      candidates: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && candidates >= k,
      s"need k>0 and candidates>=k: $k $candidates")
    val qb = broadcast(queries
      .select(col(queryIdCol).as("__qid"), col(featCol).as("__qf"))
      .withColumn("__qb", packSignBits(col("__qf"), dim))
      .withColumn("__qn", norm(col("__qf"))))
    // spread: the bit-pack + hamming kernel over the whole corpus must
    // not run in one task on a single-split scan (no-op at cluster scale)
    val shortlist = graft.Tables.spread(corpus)
      .select(col(corpusIdCol).cast("long").as("__cid"),
        packSignBits(col(featCol), dim).as("__cb"))
      .crossJoin(qb.select(col("__qid"), col("__qb")))
      .filter(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .withColumn("__ham",
        hammingPacked(col("__qb"), col("__cb")).cast("double"))
      .groupBy(col("__qid"))
      .agg(TopK(col("__ham"), col("__cid"), lit(0L), candidates).as("__tk"))
      .select(col("__qid"), explode(col("__tk.hits")).as("__h"))
      .select(col("__qid"), col("__h.id").as("__cid"))
    val cands = shortlist
      .join(corpus.select(col(corpusIdCol).cast("long").as("__cid"),
        col(featCol).as("__cf")), Seq("__cid"))
      .withColumn("__cn", norm(col("__cf")))
      .join(broadcast(qb.select(col("__qid"), col("__qf"), col("__qn"))),
        Seq("__qid"))
    rankTopK(cands, queryIdCol, k)
  }

  /** Slice a flat embedding into `n` equal contiguous subvectors
    * (`array<array<double>>`) — the cheap deterministic multi-vector
    * proxy for testing late-interaction plumbing when per-token vectors
    * aren't materialized (real ColBERT rows arrive already multi-vector;
    * the operator below doesn't care which).
    */
  def sliceVectors(feat: Column, dim: Int, n: Int): Column = {
    require(n > 0 && dim % n == 0, s"dim $dim must split into $n slices")
    val w = dim / n
    array((0 until n).map(i =>
      slice(feat.cast("array<double>"), i * w + 1, w)): _*)
  }

  /** ColBERT-style LATE-INTERACTION retrieval (Khattab & Zaharia 2020,
    * SIGIR): rows carry a BAG of vectors, and
    * `score(q, d) = Σ_i max_j ⟨q_i, d_j⟩` — each query vector picks its
    * best-matching doc vector, so fine-grained (token-level) matches
    * survive pooling. Standard usage normalizes the vectors first so the
    * dot is a cosine; the operator scores raw dots and leaves
    * normalization to the caller.
    *
    * Plan shape = [[cosineTopK]]: queries broadcast, the corpus streams
    * ONCE, the whole MaxSim reduction is a fused tree of codegen'd
    * higher-order functions (aggregate over query vectors of a greatest-
    * fold over doc vectors of an [[ArrayDot]]) — no explode, no shuffle
    * of vectors — and ranking is the bounded per-query top-k aggregate,
    * so the exchange carries k·P rows per query. The summation follows
    * the query-vector list order (left fold), bit-reproducible by any
    * engine that folds left — the DuckDB oracle replays it with nested
    * list lambdas.
    */
  def maxSimTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecsCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"need k > 0: $k")
    val q = broadcast(queries
      .select(col(queryIdCol).as("__qid"), col(vecsCol).as("__qvs")))
    val score = aggregate(col("__qvs"), lit(0.0), (acc, qv) =>
      acc + aggregate(col("__cvs"), lit(Double.NegativeInfinity),
        (m, dv) => greatest(m, dot(qv, dv))))
    // spread: the per-(doc, query) MaxSim fold is the heaviest per-row
    // kernel in the family — never one task on a single-split scan
    graft.Tables.spread(corpus)
      .select(col(corpusIdCol).as("__cid"), col(vecsCol).as("__cvs"))
      .crossJoin(q)
      .filter(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .withColumn("__score", score)
      .groupBy(col("__qid"))
      .agg(TopK(-col("__score"), col("__cid"), lit(0L), k)
        .as("__tk"))
      .select(col("__qid"),
        posexplode(col("__tk.hits")).as(Seq("__pos", "__h")))
      .select(col("__qid").as(queryIdCol),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__h.id").as("neighbor_id"), (-col("__h.score")).as("score"))
  }

  /** Seeded Johnson–Lindenstrauss projection matrix: `outDim × dim` iid
    * N(0,1) entries from the [[graft.functions.HashRandom]] counter-mode
    * generator — any cell reproducible on any executor (or any OTHER
    * engine: the driver oracle re-materializes the same matrix as a SQL
    * literal). JL lemma: distances are preserved within (1 ± ε) w.h.p.
    * for outDim = O(ln n / ε²) — the standard cheap front-end before the
    * ANN stack when 64-dim embeddings still cost too much per probe.
    */
  def jlMatrix(dim: Int, outDim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(outDim)(j =>
      Array.tabulate(dim)(i =>
        graft.functions.HashRandom.gaussian(seed, j.toLong, i.toLong)))

  /** Project a feature column by a JL matrix: `y_j = (R_j · x) / √outDim`
    * — `outDim` codegen'd [[graft.functions.ArrayDot]] terms against
    * matrix-row literals, no UDF, no shuffle.
    */
  def jlProject(feat: Column, matrix: Array[Array[Double]]): Column = {
    val scale = 1.0 / math.sqrt(matrix.length.toDouble)
    array(matrix.map(r =>
      graft.functions.ArrayDot(feat.cast("array<double>"), typedlit(r.toSeq)) * scale): _*)
  }

  /** Rank candidate pairs `(__qid, __cid, __qf/__qn, __cf/__cn)` by exact
    * cosine and keep the top-k per query. Score is negated cosine so the
    * ascending bounded heap yields descending similarity; ties break on
    * the smaller corpus id, matching `ORDER BY cos DESC, cid ASC`.
    */
  private[similarity] def rankTopK(cands: DataFrame, queryIdCol: String, k: Int): DataFrame =
    rankTopKScored(cands, queryIdCol, k,
      dot(col("__qf"), col("__cf")) / (col("__qn") * col("__cn")))

  /** [[rankTopK]] with the cosine supplied as an expression — for scorers
    * whose dot product is not a plain vector-pair product (e.g. the PQ
    * ADC decomposition in [[Pq.cosineTopKPq]]).
    */
  private[similarity] def rankTopKScored(
      cands: DataFrame, queryIdCol: String, k: Int, cosExpr: Column): DataFrame =
    cands
      .withColumn("__cos", cosExpr)
      .groupBy(col("__qid"))
      .agg(TopK(-col("__cos"), col("__cid"), lit(0L), k).as("__tk"))
      .select(col("__qid"), posexplode(col("__tk.hits")).as(Seq("__pos", "__h")))
      .select(col("__qid").as(queryIdCol), (col("__pos") + 1).cast("int").as("rank"),
        col("__h.id").as("neighbor_id"), (-col("__h.score")).as("cosine"))

  /** Exact brute-force cosine top-k: each query row against every corpus
    * row. Queries are broadcast; corpus streams once; ranking is the
    * bounded top-k aggregate. Output: queryId, rank, neighbor_id, cosine.
    */
  def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      featCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("__qid"), col(featCol).as("__qf"))
      .withColumn("__qn", norm(col("__qf"))))
    // spread: a single-file local corpus is ONE scan split, and the
    // |queries|·dim dot-product kernel would run in one task no matter
    // how many cores the session has (no-op on an already-parallel scan)
    val cands = graft.Tables.spread(corpus)
      .select(col(corpusIdCol).as("__cid"), col(featCol).as("__cf"))
      .withColumn("__cn", norm(col("__cf")))
      .crossJoin(q)
      .filter(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
    rankTopK(cands, queryIdCol, k)
  }

  /** Semantic decontamination — the embedding-space tier of the
    * decontamination family (exact n-gram overlap, Bloom screen, fuzzy
    * MinHash being the textual tiers): a corpus row is flagged when its
    * cosine to ANY bench row reaches `threshold`, catching paraphrased
    * or translated eval leakage no n-gram screen can see (the modern
    * practice behind phi-/FineWeb-style decontamination). Eval suites
    * are driver-small, so the bench side broadcasts and the corpus
    * streams ONCE — per corpus row one fused max-over-bench reduction,
    * no shuffle of corpus vectors at all. Output: one row per flagged
    * corpus id with its best-matching bench id and cosine
    * (ties: higher cosine, then lower bench id).
    */
  def semanticContamination(
      corpus: DataFrame,
      bench: DataFrame,
      featCol: String,
      corpusIdCol: String,
      benchIdCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0, s"need threshold > 0: $threshold")
    val q = broadcast(bench
      .select(col(benchIdCol).as("__bid"), col(featCol).as("__bf"))
      .withColumn("__bn", norm(col("__bf"))))
    val cands = graft.Tables.spread(corpus)
      .select(col(corpusIdCol).as("__cid"), col(featCol).as("__cf"))
      .withColumn("__cn", norm(col("__cf")))
      .crossJoin(q)
      .withColumn("__cos",
        dot(col("__cf"), col("__bf")) / (col("__cn") * col("__bn")))
      .filter(col("__cos") >= threshold)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__cid"))
      .orderBy(col("__cos").desc, col("__bid"))
    cands.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__cid").as(corpusIdCol), col("__bid").as("bench_id"),
        col("__cos").as("cosine"))
  }

  /** Hard-negative mining for embedding/contrastive training — per
    * anchor, the top-k most-similar corpus rows whose cosine stays
    * BELOW `posThreshold`: the highest-similarity non-positives, with
    * near-duplicates (the would-be false negatives every contrastive
    * recipe filters first) excluded by the same threshold the dedup
    * stage uses. Plan shape is [[cosineTopK]] unchanged — broadcast
    * anchors, one corpus stream, the filter fused BEFORE the bounded
    * top-k aggregate so excluded positives never occupy heap slots.
    */
  def hardNegatives(
      corpus: DataFrame,
      anchors: DataFrame,
      featCol: String,
      corpusIdCol: String,
      anchorIdCol: String,
      k: Int,
      posThreshold: Double): DataFrame = {
    require(k > 0 && posThreshold > 0, s"need k>0, posThreshold>0: $k $posThreshold")
    val q = broadcast(anchors
      .select(col(anchorIdCol).as("__qid"), col(featCol).as("__qf"))
      .withColumn("__qn", norm(col("__qf"))))
    val cands = graft.Tables.spread(corpus)
      .select(col(corpusIdCol).as("__cid"), col(featCol).as("__cf"))
      .withColumn("__cn", norm(col("__cf")))
      .crossJoin(q)
      .filter(col("__cid") =!= col("__qid"))
      .filter(dot(col("__qf"), col("__cf")) / (col("__qn") * col("__cn"))
        < posThreshold)
    rankTopK(cands, anchorIdCol, k)
  }

  /** Deterministic Gaussian hyperplane matrix (`nPlanes × dim`), minted
    * driver-side from [[HashRandom]] — a pure function of the seed, so
    * identical on every executor/run, and shipped as a literal instead of
    * being re-derived per row (the previous per-element xxhash64 formula
    * cost `rows × planes × dim` interpreted hash calls).
    */
  /** The seeded hyperplane matrix behind [[hyperplaneSignatures]] —
    * public so an external replay (or a second cluster) can reproduce the
    * exact planes: row p, component d = `HashRandom.gaussian(seed, p, d)`,
    * a deterministic pure function interpolable as SQL literals (the
    * [[jlMatrix]] contract).
    */
  def planeMatrix(dim: Int, nPlanes: Int, seed: Long): Seq[Seq[Double]] =
    (0 until nPlanes).map(p =>
      (0 until dim).map(d => graft.functions.HashRandom.gaussian(seed, p.toLong, d.toLong)))

  /** Row-wise random-hyperplane (SimHash) signatures: `(__id, __sig)` with
    * `nPlanes` sign bits packed into a long. Each projection is one
    * codegen'd [[ArrayDot]] against its plane literal — a narrow
    * projection, no explode, no shuffle, and (unlike the previous
    * explode→sum formulation) a FIXED left-to-right summation order, so
    * the sign bits are partitioning-independent and replay bit-identically
    * from the plane literals in any engine that folds left.
    *
    * Vector length is validated per row (`assert_true`) — a short/long
    * embedding raises instead of silently collapsing into one bucket.
    */
  def hyperplaneSignatures(
      df: DataFrame,
      idCol: String,
      featCol: String,
      dim: Int,
      nPlanes: Int,
      seed: Long = 42L): DataFrame = {
    require(nPlanes <= 63)
    val w = planeMatrix(dim, nPlanes, seed)
    val checked =
      when(assert_true(size(col(featCol)) === dim).isNull, col(featCol))
        .cast("array<double>")
    // spread: nPlanes dim-wide dots per row — parallelize a
    // single-split local scan (no-op at cluster scale)
    graft.Tables.spread(df).select(
      col(idCol).as("__id"),
      (0 until nPlanes).map(p =>
        when(dot(checked, typedlit(w(p))) >= 0d, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_)).as("__sig"))
  }

  /** LSH-bucketed approximate cosine top-k: candidates = pairs sharing a
    * signature band; exact cosine re-ranking within candidates only.
    * `bands` × `bitsPerBand` ≤ 63. Recall grows with bands; cost stays
    * |bucket|² instead of |corpus|².
    *
    * Plan: banded (id, band, bucket) rows — ids only, vectors are NOT
    * dragged through the banding — one broadcast join on (band, bucket)
    * against the banded queries, candidate-id dedup, then one join back
    * to each side's (vector, norm) for the exact re-rank.
    */
  def cosineTopKLsh(
      corpus: DataFrame,
      queries: DataFrame,
      featCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 12,
      seed: Long = 42L): DataFrame = {
    require(bands * bitsPerBand <= 63)
    val mask = (1L << bitsPerBand) - 1
    def banded(df: DataFrame, idCol2: String, out: String) =
      hyperplaneSignatures(df, idCol2, featCol, dim, bands * bitsPerBand, seed)
        .select(col("__id").as(out),
          explode(array((0 until bands).map { b =>
            struct(lit(b).as("band"),
              shiftright(col("__sig"), b * bitsPerBand).bitwiseAND(mask).as("v"))
          }: _*)).as("__b"))
        .select(col(out), col("__b.band").as("__band"), col("__b.v").as("__bv"))
    val candIds = banded(corpus, corpusIdCol, "__cid")
      .join(broadcast(banded(queries, queryIdCol, "__qid")), Seq("__band", "__bv"))
      .filter(col("__cid") =!= col("__qid"))
      .select(col("__cid"), col("__qid"))
      .dropDuplicates("__cid", "__qid")
    val cf = corpus.select(col(corpusIdCol).as("__cid"), col(featCol).as("__cf"))
      .withColumn("__cn", norm(col("__cf")))
    val qf = queries.select(col(queryIdCol).as("__qid"), col(featCol).as("__qf"))
      .withColumn("__qn", norm(col("__qf")))
    val cands = candIds.join(cf, "__cid").join(broadcast(qf), "__qid")
    rankTopK(cands, queryIdCol, k)
  }

  /** Embedding-cosine near-duplicate pairs: `(id_a < id_b, cosine)` with
    * cosine ≥ threshold (SURVEY §2.8 embedding-cosine near-dup). Candidates
    * from a banded hyperplane-signature self-join (ids only through the
    * shuffle), exact-cosine verify on the candidates — never all-pairs.
    * Recall follows the hyperplane collision rate `(1 − θ/π)^bitsPerBand`
    * per band; use [[cosineDupPairsExact]] as the small-scale oracle.
    */
  def cosineDupPairs(
      df: DataFrame,
      idCol: String,
      featCol: String,
      dim: Int,
      threshold: Double,
      bands: Int = 16,
      bitsPerBand: Int = 4,
      seed: Long = 42L,
      maxBucket: Int = graft.text.TextOps.MaxBucket): DataFrame = {
    require(bands * bitsPerBand <= 63)
    val mask = (1L << bitsPerBand) - 1
    val banded = hyperplaneSignatures(df, idCol, featCol, dim, bands * bitsPerBand, seed)
      .select(col("__id").as("__e"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), b * bitsPerBand).bitwiseAND(mask).as("v"))
        }: _*)).as("__b"))
      .select(col("__e"), col("__b.band").as("__band"), col("__b.v").as("__key"))
    // bucket-grouped pair generation with the hot-bucket cap (the
    // TextOps.cappedBucketPairs kernel): signatures are computed once, a
    // mass-duplicate bucket emits B−1 star pairs instead of B²/2
    val candIds = graft.text.TextOps.cappedBucketPairs(banded, maxBucket)
      .select(col("__a").as("id_a"), col("__b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Exact-cosine verify on the candidates ONLY: join raw rows first and
    // compute norms+cosine above the join (see TextOps.nearDupPairsBy — a
    // full-corpus norm pass feeding a tiny candidate join doesn't scale).
    // Norms are deliberately computed per PAIR side, not per distinct
    // candidate id: deduplicating ids first means the candidate pipeline
    // feeds three consumers (the pair join + both union sides), and
    // unless it is materialized the whole signature+banding sketch
    // re-executes per consumer (measured: 3 full pipelines / 9 corpus
    // scans, and caching it benched slower still than this single-pass
    // shape). The per-pair norm recompute is O(dim) against a
    // hot-bucket-capped multiplicity — cheaper than a third of the
    // sketch pipeline at any scale where the cap holds.
    val fA = df.select(col(idCol).as("id_a"), col(featCol).as("__fa"))
    val fB = df.select(col(idCol).as("id_b"), col(featCol).as("__fb"))
    candIds.join(fA, "id_a").join(fB, "id_b")
      .withColumn("cosine",
        dot(col("__fa"), col("__fb")) / (norm(col("__fa")) * norm(col("__fb"))))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Exact all-pairs variant of [[cosineDupPairs]] — the quadratic
    * baseline for oracle checks and recall measurement on bounded slices.
    */
  def cosineDupPairsExact(
      df: DataFrame,
      idCol: String,
      featCol: String,
      threshold: Double): DataFrame = {
    val f = graft.Tables.spread(df)
      .select(col(idCol).as("__fid"), col(featCol).as("__f"))
      .withColumn("__n", norm(col("__f")))
    val a = f.select(col("__fid").as("id_a"), col("__f").as("__fa"), col("__n").as("__na"))
    val b = f.select(col("__fid").as("id_b"), col("__f").as("__fb"), col("__n").as("__nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("__fa"), col("__fb")) / (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}

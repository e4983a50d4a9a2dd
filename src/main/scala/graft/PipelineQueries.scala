package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps
import graft.text.Pipeline

/** Corpus-preparation pipeline queries (SURVEY §2.8 north-star): benchmark
  * decontamination, deterministic domain mixing, and all three
  * sequence-packing layouts (concat-chunk, greedy first-fit,
  * first-fit-decreasing bins) — all oracle-checked (the sampling hash
  * and the packing recurrences replay exactly in DuckDB).
  */
object PipelineQueries {

  /** Fitted BPE merge tables stashed by the x55/x56 runs for their thunk
    * oracles (the x39/x40 device — `Verify` dumps oracle_sql.json after
    * the query loop, so the thunks see the trained state).
    */
  @volatile private var x55Merges: Option[Seq[(String, String)]] = None
  @volatile private var x56Merges: Option[Seq[(String, String)]] = None
  @volatile private var x130Merges: Option[Seq[(String, String)]] = None
  @volatile private var x134Merges: Option[Seq[(String, String)]] = None
  @volatile private var x143Merges: Option[Seq[(String, String)]] = None

  /** Fitted scoring state stashed by the x61 run for its thunk oracle:
    * per-token murmur3 buckets, per-bucket IDF, LR coefficients (class,
    * bucket, value), intercepts, and the StringIndexer label order.
    */
  private final case class X61State(
      vocab: Seq[(String, Int)],
      idf: Seq[(Int, Double)],
      coef: Seq[(Int, Int, Double)],
      icpt: Seq[Double],
      labels: Seq[String])
  @volatile private var x61State: Option[X61State] = None

  /** x61 thunk oracle: rebuild hashed-TF features from pinned buckets,
    * apply pinned IDF, compute every class margin from pinned
    * coefficients, argmax (margin desc, class asc) and aggregate the
    * confusion matrix — the scoring half of the pipeline replayed
    * end-to-end; only the murmur3 hash values and the L-BFGS-fitted
    * numbers are literals.
    */
  private def x61ReplaySql(st: X61State): String = {
    val vb = st.vocab.map { case (w, b) => s"('${sqlLit(w)}', $b)" }
      .mkString(",\n          ")
    val idf = st.idf.map { case (b, v) => s"($b, CAST($v AS DOUBLE))" }
      .mkString(",\n          ")
    val cf = st.coef.map { case (k, b, c) => s"($k, $b, CAST($c AS DOUBLE))" }
      .mkString(",\n          ")
    val ic = st.icpt.zipWithIndex
      .map { case (v, k) => s"($k, CAST($v AS DOUBLE))" }
      .mkString(",\n          ")
    val lb = st.labels.zipWithIndex
      .map { case (l, k) => s"($k, '${sqlLit(l)}')" }
      .mkString(",\n          ")
    s"""
        WITH vb(w, b) AS (VALUES
          $vb
        ), idfv(b, v) AS (VALUES
          $idf
        ), cf(k, b, c) AS (VALUES
          $cf
        ), ic(k, icpt) AS (VALUES
          $ic
        ), lb(k, lab) AS (VALUES
          $lb
        ), tok AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '\\s+'),
            x -> length(x) >= 1)) AS w
          FROM documents
        ), tf AS (
          SELECT t.doc_id, vb.b, count(*) AS cnt
          FROM tok t JOIN vb ON vb.w = t.w
          GROUP BY t.doc_id, vb.b
        ), feat AS (
          SELECT tf.doc_id, tf.b, tf.cnt * idfv.v AS f
          FROM tf JOIN idfv ON idfv.b = tf.b
        ), contrib AS (
          SELECT feat.doc_id, cf.k, sum(feat.f * cf.c) AS s
          FROM feat JOIN cf ON cf.b = feat.b
          GROUP BY feat.doc_id, cf.k
        ), marg AS (
          SELECT d.doc_id, ic.k, ic.icpt + COALESCE(co.s, 0) AS m
          FROM (SELECT doc_id FROM documents) d
          CROSS JOIN ic
          LEFT JOIN contrib co ON co.doc_id = d.doc_id AND co.k = ic.k
        ), pred AS (
          SELECT doc_id, k FROM (
            SELECT doc_id, k, row_number() OVER (PARTITION BY doc_id
              ORDER BY m DESC, k ASC) AS rn
            FROM marg) WHERE rn = 1
        )
        SELECT d.lang, lb.lab AS predicted_label, count(*) AS n
        FROM documents d
        JOIN pred ON pred.doc_id = d.doc_id
        JOIN lb ON lb.k = pred.k
        GROUP BY d.lang, lb.lab
    """.stripMargin.trim
  }

  private def sqlLit(s: String): String = s.replace("'", "''")

  /** Scalar replay of `Bpe.mergePair` (merge every occurrence of the best
    * pair, leftmost-first on overlaps) as DuckDB list lambdas. Expects
    * in-scope columns `syms` (VARCHAR[]) and `kept` (INT[] of 1-based
    * merge positions); `kept` itself keeps, within each maximal
    * consecutive run of occurrence positions, those at even offset from
    * the run start — exactly the left-to-right non-overlapping scan.
    */
  private val bpeMergeStepSql =
    """list_filter(list_transform(generate_series(1, CAST(len(syms) AS INT)), p ->
      |      CASE WHEN list_contains(kept, p) THEN syms[p] || syms[p+1]
      |           WHEN list_contains(kept, p-1) THEN NULL
      |           ELSE syms[p] END), x -> x IS NOT NULL)""".stripMargin

  /** `kept` from `occ` (ascending 1-based occurrence positions): run
    * start of i = the smallest s with [s, i] fully inside occ; keep i
    * when its offset from the run start is even.
    */
  private val bpeKeptSql =
    """list_filter(occ, i ->
      |        (i - list_min(list_filter(generate_series(1, i), s2 ->
      |           len(list_filter(occ, u -> u BETWEEN s2 AND i)) = i - s2 + 1))) % 2 = 0
      |      )""".stripMargin

  /** x55 thunk oracle: re-derive each training merge from first
    * principles. The recursive CTE carries the capped word-frequency
    * vocab's segmentation round by round (evolution driven by the
    * stashed merges — the only interpolated state); the output argmax
    * pair per round is recomputed from the evolved state with ordinary
    * aggregation, so every merge decision is independently checked.
    */
  private def bpeTrainReplaySql(merges: Seq[(String, String)]): String = {
    if (merges.isEmpty)
      return "SELECT CAST(NULL AS BIGINT) AS rank, '' AS \"left\", '' AS \"right\" WHERE FALSE"
    val values = merges.zipWithIndex.map { case ((a, b), i) =>
      s"($i, '${sqlLit(a)}', '${sqlLit(b)}')"
    }.mkString(",\n          ")
    s"""
        WITH RECURSIVE merges(rank, l, r) AS (VALUES
          $values),
        d AS (
          SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM documents
        ),
        wtok AS (SELECT unnest(string_split(norm, ' ')) AS w FROM d),
        wc AS (
          SELECT w, count(*) AS c FROM wtok WHERE len(w) >= 2 GROUP BY w
          ORDER BY c DESC, w LIMIT 65536
        ),
        state(rnd, w, c, syms) AS (
          SELECT 0, w, c, regexp_extract_all(w, '.') FROM wc
          UNION ALL
          SELECT rnd + 1, w, c, $bpeMergeStepSql
          FROM (
            SELECT s.rnd, s.w, s.c, s.syms,
              $bpeKeptSql AS kept
            FROM (
              SELECT s.rnd, s.w, s.c, s.syms,
                list_filter(generate_series(1, CAST(len(s.syms) AS INT) - 1),
                  i -> s.syms[i] = m.l AND s.syms[i+1] = m.r) AS occ
              FROM state s JOIN merges m ON m.rank = s.rnd
            ) s
          ) s
        ),
        pr AS (
          SELECT rnd, syms[i] AS a, syms[i+1] AS b, c
          FROM (SELECT rnd, syms, c,
                  unnest(generate_series(1, CAST(len(syms) AS INT) - 1)) AS i
                FROM state)
        ),
        agg AS (
          SELECT rnd, a, b, sum(c) AS n,
            row_number() OVER (PARTITION BY rnd ORDER BY sum(c) DESC, a, b) AS rn
          FROM pr GROUP BY rnd, a, b
        )
        SELECT CAST(rnd AS BIGINT) AS rank, a AS "left", b AS "right"
        FROM agg WHERE rn = 1 AND rnd < (SELECT count(*) FROM merges)
        ORDER BY rank
    """.stripMargin.trim
  }

  /** Shared recursive core of every BPE-replay oracle: normalize docs,
    * explode the word stream, evolve each distinct word's segmentation
    * under the stashed merge ranks (greedy lowest-rank apply — the
    * engine's `encodeWord`), and land per-word token lengths (`toklen`)
    * plus per-doc totals (`perdoc`: n_tokens, n_words). Callers append
    * their rollup tail (by source, by lang, or the packing window).
    */
  private def bpeTokLenCtes(merges: Seq[(String, String)]): String = {
    val rkKeys = merges.map { case (a, b) =>
      s"'${sqlLit(a)}' || chr(1) || '${sqlLit(b)}'"
    }.mkString(", ")
    val rkVals = merges.indices.mkString(", ")
    val rankLookup =
      if (merges.isEmpty) "1000000"
      else
        s"""coalesce(map_extract(map([$rkKeys], [$rkVals]),
          |                  syms[i] || chr(1) || syms[i+1])[1], 1000000)""".stripMargin
    val rankList =
      s"""list_transform(generate_series(1, CAST(len(syms) AS INT) - 1), i ->
        |                $rankLookup)""".stripMargin
    s"""
        WITH RECURSIVE d AS (
          SELECT doc_id, source, lang,
            regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM documents
        ),
        wtok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM d),
        words AS (SELECT DISTINCT w FROM wtok WHERE len(w) >= 2),
        enc(w, syms) AS (
          SELECT w, regexp_extract_all(w, '.') FROM words
          UNION ALL
          SELECT w, $bpeMergeStepSql
          FROM (
            SELECT w, syms,
              $bpeKeptSql AS kept
            FROM (
              SELECT w, syms,
                list_filter(generate_series(1, CAST(len(syms) AS INT) - 1),
                  i -> syms[i] = bl AND syms[i+1] = br) AS occ
              FROM (
                SELECT w, syms, syms[bi] AS bl, syms[bi+1] AS br
                FROM (
                  SELECT w, syms, list_position(rl, list_min(rl)) AS bi
                  FROM (
                    SELECT w, syms, $rankList AS rl
                    FROM enc)
                  WHERE list_min(rl) < 1000000)))
          )
        ),
        fin AS (
          SELECT w, CAST(len(syms) AS BIGINT) AS tl FROM enc
          WHERE coalesce(list_min($rankList), 1000000) = 1000000
        ),
        toklen AS (
          SELECT w, tl FROM fin
          UNION ALL
          SELECT DISTINCT w, CAST(1 AS BIGINT) AS tl FROM wtok WHERE len(w) = 1
        ),
        perdoc AS (
          SELECT wtok.doc_id, sum(toklen.tl) AS n_tokens,
                 count(*) AS n_words
          FROM wtok JOIN toklen USING (w) GROUP BY wtok.doc_id
        )""".stripMargin
  }

  private def bpeEncodeReplaySql(merges: Seq[(String, String)]): String =
    s"""${bpeTokLenCtes(merges)}
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(coalesce(perdoc.n_tokens, 0)) AS BIGINT) AS n_tokens
        FROM d LEFT JOIN perdoc USING (doc_id)
        GROUP BY d.source
    """.trim

  /** x130 thunk oracle: the shared token-length replay rolled up by
    * LANGUAGE with normalized byte counts — the fertility report's
    * arithmetic (tokens/byte, tokens/word) recomputed from the replayed
    * token lengths. Ratios divide exact BIGINT sums as doubles (one IEEE
    * op on identical inputs) before the shared round-6.
    */
  private def bpeFertilityReplaySql(merges: Seq[(String, String)]): String =
    s"""${bpeTokLenCtes(merges)}
        SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(octet_length(encode(d.norm))) AS BIGINT) AS sum_bytes,
               CAST(sum(coalesce(perdoc.n_words, 0)) AS BIGINT) AS sum_words,
               CAST(sum(coalesce(perdoc.n_tokens, 0)) AS BIGINT) AS sum_tokens,
               round(CAST(sum(coalesce(perdoc.n_tokens, 0)) AS DOUBLE)
                 / sum(octet_length(encode(d.norm))), 6) AS tokens_per_byte,
               round(CAST(sum(coalesce(perdoc.n_tokens, 0)) AS DOUBLE)
                 / sum(coalesce(perdoc.n_words, 0)), 6) AS tokens_per_word
        FROM d LEFT JOIN perdoc USING (doc_id)
        GROUP BY d.lang
    """.trim

  /** x134 thunk oracle: the shared token-length replay feeding the x25
    * concat-chunk window arithmetic — packing decisions recomputed from
    * the REAL tokenizer's counts (greatest(n,1), the packer's floor).
    */
  private def bpePackReplaySql(merges: Seq[(String, String)]): String =
    s"""${bpeTokLenCtes(merges)},
        t AS (
          SELECT d.doc_id, d.source,
            greatest(coalesce(perdoc.n_tokens, 0), 1) AS tok
          FROM d LEFT JOIN perdoc USING (doc_id)
        ),
        o AS (
          SELECT doc_id, source, tok,
            CAST(COALESCE(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM t
        )
        SELECT doc_id, source, CAST(tok AS BIGINT) AS n_tokens,
          CAST(off // 256 AS BIGINT) AS chunk_first,
          CAST((off + tok - 1) // 256 - off // 256 + 1 AS BIGINT) AS n_chunks
        FROM o
    """.trim

  /** x143 thunk oracle: the shared token-length replay feeding the x59
    * tempered-rate arithmetic with TOKEN masses — per-lang sums as
    * doubles, `least(1.0, 0.5·W·(sqrt(W_g)/Z)/W_g)` in the exact x59
    * operation order (sqrt correctly rounded, so the rates are
    * bit-identical), then the md5 hash coin per doc.
    */
  private def fertilityMixReplaySql(merges: Seq[(String, String)]): String =
    s"""${bpeTokLenCtes(merges)},
        lt AS (
          SELECT d.lang, d.doc_id,
            CAST(coalesce(perdoc.n_tokens, 0) AS BIGINT) AS ntok
          FROM d LEFT JOIN perdoc USING (doc_id)
        ),
        c AS (
          SELECT lang, CAST(sum(ntok) AS DOUBLE) AS ns FROM lt GROUP BY lang
        ),
        t AS (SELECT sum(ns) AS n, sum(sqrt(ns)) AS z FROM c),
        r AS (
          SELECT lang, least(1.0, 0.5 * t.n * (sqrt(ns) / t.z) / ns) AS rate
          FROM c, t
        ),
        sm AS (
          SELECT lt.lang, lt.ntok, r.rate,
            CASE WHEN (('0x' || substring(md5('42:' || lt.doc_id::VARCHAR),
                 1, 8))::BIGINT / 4294967296.0) < r.rate THEN 1 END AS keep
          FROM lt JOIN r USING (lang)
        )
        SELECT lang, count(*) AS n_total,
          CAST(sum(ntok) AS BIGINT) AS sum_tokens,
          CAST(COALESCE(sum(keep), 0) AS BIGINT) AS n_sampled,
          CAST(COALESCE(sum(keep * ntok), 0) AS BIGINT) AS sampled_tokens,
          round(min(rate), 6) AS rate
        FROM sm GROUP BY lang
    """.trim

  /** Shared x8-style DuckDB token count (ceil(len/4) per whitespace word). */
  private val tokSql =
    """greatest(COALESCE(list_aggregate(
      |      list_transform(string_split_regex(trim(text), '\s+'),
      |        w -> CAST(ceil(length(w)/4.0) AS BIGINT)), 'sum'), 0), 1)""".stripMargin

  /** The x69/x104 pipeline: language → quality → exact dedup → near-dup
    * cluster drop → decontamination vs the held-out bench slice →
    * temperature mixture → concat-chunk packing → per-source manifest.
    * With `stagePath` set, the two fan-out points — the cleaned corpus
    * (feeding the corpus/bench split, both contamination sides and the
    * mixer) and the decontaminated corpus (feeding the mixer's rate
    * aggregate and the row filter) — are written to parquet and read
    * back, so downstream branches scan a materialized stage instead of
    * recomputing the spine. Semantics are identical either way (the
    * round-trip preserves rows and columns), which is why both forms
    * share [[pretrainOracleSql]].
    */
  private def pretrainPipeline(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      stagePath: Option[String]): org.apache.spark.sql.DataFrame = {
    import graft.text.TextOps
    def stage(df: org.apache.spark.sql.DataFrame, name: String) =
      stagePath match {
        case Some(p) =>
          df.write.mode("overwrite").parquet(s"$p/$name")
          s.read.parquet(s"$p/$name")
        case None => df
      }
    val docs = Tables.documents(s, dir)
    val lang = TextOps.languageId(docs, "text", "pred_lang")
    val qual = TextOps.qualityScore(lang, "text", "__q")
    val kept = qual.filter(col("pred_lang") === "en" && col("__q") >= 0.5)
    val deduped = TextOps.exactDedup(kept, "text", Seq("doc_id"))
    val pairs = TextOps.nearDupPairsBy(deduped, "doc_id",
      TextOps.wordShingles(col("text"), 3),
      numHashes = 128, bands = 16, threshold = 0.8)
    val drops = graft.text.Components
      .connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    val cleaned = stage(deduped.join(drops, Seq("doc_id"), "left_anti"),
      "cleaned")
    val corpus = cleaned.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val flagged = Pipeline.contaminationReport(
      corpus, bench, "doc_id", "text", n = 5, minShared = 1)
      .select(col("doc_id"))
    val decon = stage(corpus.join(flagged, Seq("doc_id"), "left_anti"),
      "decon")
    val mixed = Pipeline.temperatureSample(
      decon, "doc_id", "source", alpha = 0.5, targetFrac = 0.75,
      seed = 43L)
    Pipeline.packChunked(mixed, Seq("source"), Seq("doc_id"),
      "text", budget = 256L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("total_tokens"),
        (max(col("chunk_last")) + 1).as("n_chunks"),
        round(min(col("__rate")), 6).as("mix_rate"))
  }

  /** x69/x104 shared oracle: the x22b + x23 + x59 + x25 CTE chains
    * composed — both the single-plan and the staged build produce the
    * same manifest, so one replay checks both.
    */
  private lazy val pretrainOracleSql: String = {
        val hits = graft.text.TextOps.langStopwords.map { case (lang, ws) =>
          s"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN (${ws.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS h_$lang"
        }.mkString(", ")
        val allStops = graft.text.TextOps.langStopwords.flatMap(_._2).distinct
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
          SELECT doc_id, source, text,
            1 / (1 + exp(-(0.2 * ln(1 + ntok) + 2 * (nstop / greatest(ntok, 1))
              - 8 * (npunct / greatest(nchar, 1)) - 1))) AS quality
          FROM t WHERE pred_lang = 'en'
        ), kept AS (
          SELECT * FROM q WHERE quality >= 0.5
        ), ded AS (
          SELECT doc_id, source, text,
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
        ), jp AS (
          SELECT id_a, id_b,
            len(list_intersect(a.s, b.s))::DOUBLE /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
          FROM cand JOIN sh a ON cand.id_a = a.doc_id
                    JOIN sh b ON cand.id_b = b.doc_id
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM jp WHERE jac >= 0.8
          UNION
          SELECT id_b, id_a FROM jp WHERE jac >= 0.8
        ), rc AS (
          WITH RECURSIVE reach(id, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
          )
          SELECT id, min(lbl) AS component FROM reach GROUP BY id
        ), cleaned AS (
          SELECT * FROM ded
          WHERE doc_id NOT IN (SELECT id FROM rc WHERE id <> component)
        ), corp AS (
          SELECT * FROM cleaned WHERE doc_id % 7 != 0
        ), cg AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, len(w)-4),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS g
          FROM (SELECT doc_id, string_split(norm, ' ') AS w FROM corp)
          WHERE len(w) >= 5
        ), bg AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
            generate_series(1, len(w)-4),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS g
          FROM (
            SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
            FROM documents WHERE doc_id % 7 = 0)
          WHERE len(w) >= 5
        ), decon AS (
          SELECT * FROM corp
          WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g))
        ), mc AS (
          SELECT source, CAST(count(*) AS DOUBLE) AS ns FROM decon GROUP BY source
        ), mt AS (
          SELECT sum(ns) AS n, sum(sqrt(ns)) AS z FROM mc
        ), mr AS (
          SELECT source, least(1.0, 0.75 * mt.n * (sqrt(ns) / mt.z) / ns) AS rate
          FROM mc, mt
        ), mixed AS (
          SELECT d.doc_id, d.source, d.text, r.rate
          FROM decon d JOIN mr r USING (source)
          WHERE (('0x' || substring(md5('43:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                 / 4294967296.0) < r.rate
        ), toks AS (
          SELECT doc_id, source, rate, $tokSql AS tok FROM mixed
        ), o AS (
          SELECT doc_id, source, rate, tok,
            COALESCE(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM toks
        )
        SELECT source, count(*) AS n_docs,
          CAST(sum(tok) AS BIGINT) AS total_tokens,
          CAST(max((off + tok - 1) // 256) + 1 AS BIGINT) AS n_chunks,
          round(min(rate), 6) AS mix_rate
        FROM o GROUP BY source
        """.stripMargin.trim
  }

  /** The inverted-index queries' shared term set (x148/x153). */
  private val InvIdxTerms = Seq("hash", "join", "scan")

  /** x148/x153 shared tail: compact the (batch- or stream-grown) index,
    * prove term-bucket pruning, and emit the pruned BM25 scores — one
    * code path so the twin queries cannot diverge.
    */
  private def invIdxCompactPruneScore(
      s: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame = {
    import graft.text.InvertedIndex
    import graft.sources.Partitioned
    val filesBefore = Partitioned.dataFiles(s, s"$path/postings").size
    InvertedIndex.compactIndex(s, path)
    val filesAfter = Partitioned.dataFiles(s, s"$path/postings").size
    require(filesAfter < filesBefore,
      s"compaction did not shrink the layout: $filesBefore -> $filesAfter")
    val pruned = InvertedIndex.prunedPostings(s, path, InvIdxTerms)
    val np = graft.sources.Partitioned.prunedPartitionCount(pruned)
    require(np >= 1 && np <= InvIdxTerms.length,
      s"expected <= ${InvIdxTerms.length} pruned posting buckets, scan " +
        s"selected $np")
    InvertedIndex.scoreBm25(s, path, InvIdxTerms)
      .select(col("doc_id"), col("n_tokens"),
        round(col("bm25"), 6).as("bm25"))
  }

  /** The x148/x153 shared oracle: corpus-direct BM25 restricted to
    * matching docs — index-path scores must equal text-path scores
    * exactly, whatever lifecycle (batch build→append×2→compact, or
    * streaming write→append×2→compact) produced the index.
    */
  private val Bm25IndexReplaySql: String = """
        WITH t AS (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents
        ), tf0 AS (
          SELECT doc_id, w FROM t WHERE length(w) > 0
        ), dl AS (
          SELECT doc_id, count(*) AS dl FROM tf0 GROUP BY doc_id
        ), st AS (
          SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, w, count(*) AS tf FROM tf0
          WHERE w IN ('hash', 'join', 'scan') GROUP BY doc_id, w
        ), dfs AS (
          SELECT w, count(*) AS df FROM tf GROUP BY w
        ), sc AS (
          SELECT tf.doc_id,
            sum(ln((st.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS bm25
          FROM tf JOIN dfs USING (w) JOIN dl ON tf.doc_id = dl.doc_id, st
          GROUP BY tf.doc_id
        )
        SELECT sc.doc_id, dl.dl AS n_tokens, round(sc.bm25, 6) AS bm25
        FROM sc JOIN dl ON dl.doc_id = sc.doc_id
      """.stripMargin.trim

  val defs: Seq[QueryDef] = Seq(

    // ── X23: benchmark decontamination — word 5-gram overlap of every
    //    corpus doc against the (broadcast) eval split's gram set; the
    //    GPT-3-style n-gram leakage screen. Fully replayed in DuckDB ──
    QueryDef(
      "x23_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.contaminationReport(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", n = 5, minShared = 1)
          .select(col("doc_id"), col("n_shared_grams"), col("n_grams"),
            round(col("overlap"), 6).as("overlap"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), w AS (
          SELECT doc_id, string_split(norm, ' ') AS w FROM d
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-4),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
          FROM w WHERE len(w) >= 5
        ), corp AS (
          SELECT doc_id, len(s) AS ng, unnest(s) AS g FROM sh WHERE doc_id % 7 != 0
        ), bench AS (
          SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 7 = 0
        )
        SELECT doc_id, count(*) AS n_shared_grams,
          CAST(ng AS BIGINT) AS n_grams,
          round(count(*)::DOUBLE / ng, 6) AS overlap
        FROM corp JOIN bench USING (g)
        GROUP BY doc_id, ng
      """.stripMargin.trim)),

    // ── X24: deterministic domain mixing — per-source target sampling
    //    rates decided by the md5 hash of (seed, doc_id); the achieved
    //    sample is bit-reproducible and the oracle replays the hash ──
    QueryDef(
      "x24_domain_mix",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val rates = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.1)
        val sampled = Pipeline.stratifiedSample(
          docs, "doc_id", "source", rates, defaultRate = 1.0, seed = 42L)
        docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
          .join(sampled.groupBy(col("source")).agg(count(lit(1)).as("n_sampled")),
            Seq("source"), "left")
          .select(col("source"), col("n_total"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      },
      Some("""
        WITH u AS (
          SELECT source,
            (('0x' || substring(md5('42:' || doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0) AS u,
            CASE WHEN source = 'src0' THEN 0.5
                 WHEN source = 'src1' THEN 0.25
                 WHEN source = 'src2' THEN 0.1
                 ELSE 1.0 END AS rate
          FROM documents
        )
        SELECT source, count(*) AS n_total,
          CAST(COALESCE(sum(CASE WHEN u < rate THEN 1 END), 0) AS BIGINT) AS n_sampled
        FROM u GROUP BY source
      """.stripMargin.trim)),

    // ── X25: sequence packing, concat-and-chunk (GPT-line layout: docs
    //    concatenated per source in doc_id order, the token stream cut
    //    every 256 tokens; docs may straddle chunks). Window cumsum +
    //    integer division — exact oracle ──
    QueryDef(
      "x25_seq_pack",
      (s, dir) => {
        Pipeline.packChunked(Tables.documents(s, dir),
          Seq("source"), Seq("doc_id"), "text", budget = 256L)
          .select(col("doc_id"), col("source"), col("__tok").as("n_tokens"),
            col("chunk_first"), col("n_chunks"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source, $tokSql AS tok
          FROM documents
        ), o AS (
          SELECT doc_id, source, tok,
            CAST(COALESCE(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM t
        )
        SELECT doc_id, source, CAST(tok AS BIGINT) AS n_tokens,
          CAST(off // 256 AS BIGINT) AS chunk_first,
          CAST((off + tok - 1) // 256 - off // 256 + 1 AS BIGINT) AS n_chunks
        FROM o
      """.stripMargin.trim)),

    // ── X26: sequence packing, greedy first-fit-in-order (T5-line layout:
    //    a doc never straddles packs; new pack when the doc doesn't fit).
    //    A true remaining-capacity recurrence — Spark side rides the
    //    Recurrence kernel; the oracle replays it with a recursive CTE ──
    QueryDef(
      "x26_seq_pack_greedy",
      (s, dir) => {
        Pipeline.packGreedy(Tables.documents(s, dir),
          Seq("source"), Seq("doc_id"), "text", budget = 256L)
          .groupBy(col("source"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("total_tokens"))
      },
      Some(s"""
        WITH RECURSIVE t AS (
          SELECT doc_id, source, $tokSql AS tok,
            row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents
        ), r AS (
          SELECT source, rn, tok, CAST(0 AS BIGINT) AS pack, 256 - tok AS rem
          FROM t WHERE rn = 1
          UNION ALL
          SELECT t.source, t.rn, t.tok,
            CASE WHEN t.tok <= r.rem THEN r.pack ELSE r.pack + 1 END,
            CASE WHEN t.tok <= r.rem THEN r.rem - t.tok ELSE 256 - t.tok END
          FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1
        )
        SELECT source, pack AS pack_id, count(*) AS n_docs,
          CAST(sum(tok) AS BIGINT) AS total_tokens
        FROM r GROUP BY source, pack
      """.stripMargin.trim)),

    // ── X103: sequence packing, first-fit-DECREASING bins (Johnson 1973
    //    FFD — the padding-minimizing pretraining layout): per stratum,
    //    docs sorted by (token count desc, id) split into bounded shards,
    //    each shard first-fit packed with every bin open. The bins-list
    //    state bounds at docsPerShard per task (the Pipeline.packBinFFD
    //    scale contract). FULL oracle: the rank window, the shard split
    //    and the first-fit fold replay in a recursive CTE carrying the
    //    remaining-capacity list per (source, shard) ──
    QueryDef(
      "x103_seq_pack_ffd",
      (s, dir) => {
        Pipeline.packBinFFD(Tables.documents(s, dir),
          Seq("source"), "doc_id", "text", capacity = 256L,
          docsPerShard = 64)
          .select(col("doc_id"), col("source"), col("__pshard").as("shard"),
            col("bin"), col("__tok").as("n_tokens"))
      },
      Some(s"""
        WITH RECURSIVE t AS (
          SELECT doc_id, source, CAST($tokSql AS BIGINT) AS tok,
            row_number() OVER (PARTITION BY source
              ORDER BY $tokSql DESC, doc_id) AS rk
          FROM documents
        ), sd AS (
          SELECT source, CAST((rk - 1) // 64 AS BIGINT) AS shard,
            row_number() OVER (PARTITION BY source, (rk - 1) // 64
              ORDER BY rk) AS pos,
            doc_id, tok
          FROM t
        ), pack(source, shard, pos, bins, asg) AS (
          SELECT source, shard, 1,
            [CAST(256 - tok AS BIGINT)],
            [{'d': doc_id, 'b': CAST(0 AS BIGINT), 't': tok}]
          FROM sd WHERE pos = 1
          UNION ALL
          SELECT source, shard, pos + 1,
            CASE WHEN fit IS NULL THEN list_append(bins, CAST(256 - tok AS BIGINT))
                 ELSE list_transform(generate_series(1, CAST(len(bins) AS INT)),
                        i -> CASE WHEN i = fit THEN bins[i] - tok ELSE bins[i] END)
            END,
            list_append(asg, {'d': doc_id,
              'b': CAST(CASE WHEN fit IS NULL THEN len(bins)
                        ELSE fit - 1 END AS BIGINT), 't': tok})
          FROM (
            SELECT p.source, p.shard, p.pos, p.bins, p.asg,
              sd.doc_id, sd.tok,
              list_min(list_filter(generate_series(1, CAST(len(p.bins) AS INT)),
                i -> p.bins[i] >= sd.tok)) AS fit
            FROM pack p JOIN sd ON sd.source = p.source
              AND sd.shard = p.shard AND sd.pos = p.pos + 1
          )
        ), fin AS (
          SELECT source, shard, asg,
            row_number() OVER (PARTITION BY source, shard
              ORDER BY pos DESC) AS rn
          FROM pack
        )
        SELECT u.a.d AS doc_id, source, shard, u.a.b AS bin,
          CAST(u.a.t AS BIGINT) AS n_tokens
        FROM (SELECT source, shard, unnest(asg) AS a FROM fin WHERE rn = 1) u
      """.stripMargin.trim)),

    // ── X105: dataset snapshot diff (Pipeline.datasetDiff) — the
    //    corpus-governance answer to "what changed between releases":
    //    snapshot B is the corpus with an engineered drop (removed),
    //    tamper (modified) and append (added) slice; the diff is ONE
    //    full-outer join on (id, content hash), text never shuffled.
    //    FULL oracle replaying the hash compare and the engineered
    //    mutations ──
    QueryDef(
      "x105_dataset_diff",
      (s, dir) => {
        val a = Tables.documents(s, dir)
        val b = a.filter(col("doc_id") % 11 =!= 3)
          .withColumn("text",
            when(col("doc_id") % 13 === 4, concat(col("text"), lit(" tampered")))
              .otherwise(col("text")))
          .unionByName(
            a.filter(col("doc_id") % 17 === 5)
              .withColumn("doc_id", col("doc_id") + 1000000L))
        Pipeline.datasetDiff(a, b, "doc_id", "text", carryCols = Seq("source"))
          .groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
      },
      Some("""
        WITH a AS (
          SELECT doc_id, source,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          FROM documents
        ), b AS (
          SELECT doc_id, source,
            md5(regexp_replace(lower(trim(
              CASE WHEN doc_id % 13 = 4 THEN text || ' tampered' ELSE text END
            )), '\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 11 != 3
          UNION ALL
          SELECT doc_id + 1000000, source,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 17 = 5
        ), d AS (
          SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
            COALESCE(a.source, b.source) AS source,
            CASE WHEN a.doc_id IS NULL THEN 'added'
                 WHEN b.doc_id IS NULL THEN 'removed'
                 WHEN a.h != b.h THEN 'modified'
                 ELSE 'unchanged' END AS status
          FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        )
        SELECT source, status, count(*) AS n_docs,
          CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM d GROUP BY source, status
      """.stripMargin.trim)),

    // ── X114: packing-efficiency report — the decision artifact for
    //    "which packer do I ship": per source, the container counts and
    //    signed padding overhead (containers × budget − tokens) of all
    //    three layouts — concat-chunk (x25: zero waste except the final
    //    partial chunk, but docs straddle boundaries), greedy
    //    first-fit-in-order (x26) and FFD bins (x103). One aggregate
    //    per packer over the same token column. FULL oracle composing
    //    the three proven replays (arithmetic + the two recursive
    //    folds) ──
    QueryDef(
      "x114_packing_efficiency",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("source"),
            greatest(graft.text.TextOps.bpeishTokenCount(col("text")), lit(1L))
              .as("__tok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("total_tokens"))
        val greedy = Pipeline.packGreedy(docs, Seq("source"), Seq("doc_id"),
            "text", budget = 256L)
          .groupBy(col("source"))
          .agg((max(col("pack_id")) + 1).as("packs_greedy"))
        val ffd = Pipeline.packBinFFD(docs, Seq("source"), "doc_id", "text",
            capacity = 256L, docsPerShard = 64)
          .groupBy(col("source"))
          .agg(countDistinct(col("__pshard"), col("bin")).as("bins_ffd"))
        base.join(greedy, "source").join(ffd, "source")
          .select(col("source"), col("n_docs"), col("total_tokens"),
            ceil(col("total_tokens") / lit(256.0)).cast("long").as("chunks_concat"),
            col("packs_greedy"), col("bins_ffd"),
            (col("packs_greedy") * 256L - col("total_tokens")).as("overhead_greedy"),
            (col("bins_ffd") * 256L - col("total_tokens")).as("overhead_ffd"))
      },
      Some(s"""
        WITH RECURSIVE t AS (
          SELECT doc_id, source, CAST($tokSql AS BIGINT) AS tok
          FROM documents
        ), base AS (
          SELECT source, count(*) AS n_docs,
            CAST(sum(tok) AS BIGINT) AS total_tokens
          FROM t GROUP BY source
        ), go AS (
          SELECT source, tok,
            row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM t
        ), gr AS (
          SELECT source, rn, tok, CAST(0 AS BIGINT) AS pack, 256 - tok AS rem
          FROM go WHERE rn = 1
          UNION ALL
          SELECT g.source, g.rn, g.tok,
            CASE WHEN g.tok <= r.rem THEN r.pack ELSE r.pack + 1 END,
            CASE WHEN g.tok <= r.rem THEN r.rem - g.tok ELSE 256 - g.tok END
          FROM gr r JOIN go g ON g.source = r.source AND g.rn = r.rn + 1
        ), greedy AS (
          SELECT source, max(pack) + 1 AS packs_greedy FROM gr GROUP BY source
        ), fo AS (
          SELECT source, CAST((rk - 1) // 64 AS BIGINT) AS shard,
            row_number() OVER (PARTITION BY source, (rk - 1) // 64
              ORDER BY rk) AS pos,
            tok
          FROM (
            SELECT source, tok,
              row_number() OVER (PARTITION BY source
                ORDER BY tok DESC, doc_id) AS rk
            FROM t)
        ), fn AS (
          SELECT source, shard, max(pos) AS np FROM fo GROUP BY 1, 2
        ), fp(source, shard, pos, bins) AS (
          SELECT source, shard, 1, [CAST(256 - tok AS BIGINT)]
          FROM fo WHERE pos = 1
          UNION ALL
          SELECT source, shard, pos + 1,
            CASE WHEN fit IS NULL THEN list_append(bins, CAST(256 - tok AS BIGINT))
                 ELSE list_transform(generate_series(1, CAST(len(bins) AS INT)),
                        i -> CASE WHEN i = fit THEN bins[i] - tok ELSE bins[i] END)
            END
          FROM (
            SELECT p.source, p.shard, p.pos, p.bins, f.tok,
              list_min(list_filter(generate_series(1, CAST(len(p.bins) AS INT)),
                i -> p.bins[i] >= f.tok)) AS fit
            FROM fp p JOIN fo f ON f.source = p.source
              AND f.shard = p.shard AND f.pos = p.pos + 1
          )
        ), ffd AS (
          SELECT source, CAST(sum(nb) AS BIGINT) AS bins_ffd FROM (
            SELECT f.source, f.shard, len(f.bins) AS nb,
              row_number() OVER (PARTITION BY f.source, f.shard
                ORDER BY f.pos DESC) AS rn
            FROM fp f)
          WHERE rn = 1 GROUP BY source
        )
        SELECT base.source, n_docs, total_tokens,
          CAST(ceil(total_tokens / 256.0) AS BIGINT) AS chunks_concat,
          CAST(packs_greedy AS BIGINT) AS packs_greedy, bins_ffd,
          CAST(packs_greedy * 256 - total_tokens AS BIGINT) AS overhead_greedy,
          CAST(bins_ffd * 256 - total_tokens AS BIGINT) AS overhead_ffd
        FROM base JOIN greedy USING (source) JOIN ffd USING (source)
      """.stripMargin.trim)),

    // ── X27: Gopher-rule quality signals (Rae et al. 2021 A1) — word
    //    shape, stopword hits, top-2-gram repetition, and the composed
    //    keep/drop verdict, all replayed exactly in DuckDB (the verdict
    //    compares UNROUNDED doubles on both sides — identical arithmetic
    //    → identical branches) ──
    QueryDef(
      "x27_gopher_quality",
      (s, dir) => {
        // fused single-tokenization form of
        // ngramRepetitionStats ∘ gopherTextStats — identical columns
        val stats = graft.text.Quality.gopherAllStats(
          Tables.documents(s, dir), "text", n = 2)
        stats.select(col("doc_id"), col("word_count"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("alpha_word_frac"), 6).as("alpha_word_frac"),
          col("stopword_hits"), col("top_ngram"), col("top_ngram_count"),
          round(col("top_ngram_char_frac"), 6).as("top_ngram_char_frac"),
          round(col("dup_word_frac"), 6).as("dup_word_frac"),
          graft.text.Quality.gopherPasses().cast("int").as("passes"))
      },
      Some("""
        WITH w AS (
          SELECT doc_id, text,
            list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS ws
          FROM documents
        ), base AS (
          SELECT doc_id, text, ws, len(ws) AS wc,
            CASE WHEN len(ws) >= 2
              THEN list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1])
              ELSE [] END AS gs
          FROM w
        ), g AS (SELECT doc_id, unnest(gs) AS gr FROM base),
        cnt AS (SELECT doc_id, gr, count(*) AS c FROM g GROUP BY doc_id, gr),
        top AS (
          SELECT doc_id, gr, c FROM (
            SELECT doc_id, gr, c,
              row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gr ASC) AS rn
            FROM cnt) t WHERE rn = 1
        ), raw AS (
          SELECT b.doc_id, wc,
            list_aggregate(list_transform(ws, x -> len(x)), 'sum') / greatest(wc, 1) AS mwl,
            (len(text) - len(replace(text, '#', ''))
              + (len(text) - len(replace(text, '...', ''))) / 3) / greatest(wc, 1) AS sym,
            len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) / greatest(wc, 1) AS alpha,
            len(list_filter(list_transform(ws, x -> lower(x)),
              x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS stop,
            COALESCE(top.gr, '') AS tg, COALESCE(top.c, 0) AS tc,
            COALESCE(top.c * len(top.gr), 0) / greatest(len(array_to_string(ws, ' ')), 1) AS tfrac,
            (wc - len(list_distinct(ws))) / greatest(wc, 1) AS dwf
          FROM base b LEFT JOIN top ON b.doc_id = top.doc_id
        )
        SELECT doc_id, CAST(wc AS BIGINT) AS word_count,
          round(mwl, 6) AS mean_word_len,
          round(sym, 6) AS symbol_word_ratio,
          round(alpha, 6) AS alpha_word_frac,
          CAST(stop AS BIGINT) AS stopword_hits,
          tg AS top_ngram, CAST(tc AS BIGINT) AS top_ngram_count,
          round(tfrac, 6) AS top_ngram_char_frac,
          round(dwf, 6) AS dup_word_frac,
          CAST(wc BETWEEN 50 AND 100000 AND mwl BETWEEN 3 AND 10
            AND sym <= 0.1 AND alpha >= 0.8 AND stop >= 2
            AND tfrac <= 0.2 AS INT) AS passes
        FROM raw
      """.stripMargin.trim)),

    // ── X28: PII/URL redaction — deterministic synthetic PII (the
    //    corpus has none) appended per doc_id class, then the chained
    //    regex scrub; oracle replays the same RE2-safe patterns and
    //    compares md5 of the scrubbed text plus pre-scrub detection
    //    flags ──
    QueryDef(
      "x28_pii_scrub",
      (s, dir) => {
        import graft.text.Quality
        val d = col("doc_id")
        val aug = when(d % 4 === 0, concat(col("text"),
            lit(" reach me at user"), d.cast("string"),
            lit("@mail.example.org or https://t.example.com/p/"), d.cast("string")))
          .when(d % 4 === 1, concat(col("text"),
            lit(" server 10.0."), (d % 200).cast("string"), lit(".7 logged")))
          .when(d % 4 === 2, concat(col("text"),
            lit(" call +1 (415) 555-0"), lpad((d % 100).cast("string"), 3, "0")))
          .otherwise(col("text"))
        Tables.documents(s, dir).select(d, aug.as("__aug"))
          .select(d,
            md5(Quality.scrubPii(col("__aug"))).as("scrub_hash"),
            Quality.piiFlag(col("__aug"), "email").cast("int").as("had_email"),
            Quality.piiFlag(col("__aug"), "url").cast("int").as("had_url"),
            Quality.piiFlag(col("__aug"), "ip").cast("int").as("had_ip"),
            Quality.piiFlag(col("__aug"), "phone").cast("int").as("had_phone"))
      },
      Some("""
        WITH aug AS (
          SELECT doc_id,
            CASE WHEN doc_id % 4 = 0 THEN concat(text, ' reach me at user',
                   doc_id::VARCHAR, '@mail.example.org or https://t.example.com/p/',
                   doc_id::VARCHAR)
                 WHEN doc_id % 4 = 1 THEN concat(text, ' server 10.0.',
                   (doc_id % 200)::VARCHAR, '.7 logged')
                 WHEN doc_id % 4 = 2 THEN concat(text, ' call +1 (415) 555-0',
                   lpad((doc_id % 100)::VARCHAR, 3, '0'))
                 ELSE text END AS a
          FROM documents
        )
        SELECT doc_id,
          md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(a,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^\s]+', '<URL>', 'g'),
            '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
            '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g')) AS scrub_hash,
          CAST(regexp_matches(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS INT) AS had_email,
          CAST(regexp_matches(a, 'https?://[^\s]+') AS INT) AS had_url,
          CAST(regexp_matches(a, '\b(\d{1,3}\.){3}\d{1,3}\b') AS INT) AS had_ip,
          CAST(regexp_matches(a, '\+?\d[\d\s().-]{7,}\d') AS INT) AS had_phone
        FROM aug
      """.stripMargin.trim)),

    // ── X36: CCNet-style LM quality signal — per-doc cross-entropy under
    //    the corpus's own unigram MLE (Quality.unigramCrossEntropy; the
    //    published pipeline ranks by KenLM perplexity, same filtering
    //    contract). Two-pass corpus-conditional op: LM aggregate, then an
    //    occurrence join — fully replayed in DuckDB ──
    QueryDef(
      "x36_lm_quality",
      (s, dir) => {
        graft.text.Quality.unigramCrossEntropy(
          Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"),
            round(col("cross_entropy"), 6).as("cross_entropy"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents
        ), tf AS (
          SELECT doc_id, w FROM t WHERE length(w) > 0
        ), c AS (
          SELECT w, count(*) AS c FROM tf GROUP BY w
        ), tot AS (
          SELECT CAST(sum(c) AS DOUBLE) AS tot FROM c
        )
        SELECT doc_id, count(*) AS n_tokens,
          round(avg(-ln(CAST(c.c AS DOUBLE) / tot.tot)), 6) AS cross_entropy
        FROM tf JOIN c USING (w), tot
        GROUP BY doc_id
      """.stripMargin.trim)),

    // ── X42: Okapi BM25 relevance scoring (Quality.bm25) — the classic
    //    retrieval ranking over a fixed query-term set, with corpus
    //    statistics (N, avgdl, per-term df) computed from the frame
    //    itself. Fully replayed in DuckDB: same Lucene-form idf, same
    //    tf saturation, same tokenization ──
    QueryDef(
      "x42_bm25",
      (s, dir) => {
        graft.text.Quality.bm25(Tables.documents(s, dir), "doc_id", "text",
          terms = Seq("hash", "join", "scan"))
          .select(col("doc_id"), col("n_tokens"),
            round(col("bm25"), 6).as("bm25"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents
        ), tf0 AS (
          SELECT doc_id, w FROM t WHERE length(w) > 0
        ), dl AS (
          SELECT doc_id, count(*) AS dl FROM tf0 GROUP BY doc_id
        ), st AS (
          SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, w, count(*) AS tf FROM tf0
          WHERE w IN ('hash', 'join', 'scan') GROUP BY doc_id, w
        ), dfs AS (
          SELECT w, count(*) AS df FROM tf GROUP BY w
        ), sc AS (
          SELECT tf.doc_id,
            sum(ln((st.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS bm25
          FROM tf JOIN dfs USING (w) JOIN dl ON tf.doc_id = dl.doc_id, st
          GROUP BY tf.doc_id
        )
        SELECT dl.doc_id, dl.dl AS n_tokens,
          round(COALESCE(sc.bm25, 0.0), 6) AS bm25
        FROM dl LEFT JOIN sc ON dl.doc_id = sc.doc_id
      """.stripMargin.trim)),

    // ── X148: persisted inverted index + term-bucket-pruned BM25
    //    (text/InvertedIndex.scala) — the LEXICAL member of the
    //    persisted-index family: x42 recomputes corpus stats from text
    //    per call; a search service instead reads the few posting
    //    buckets its terms crc32-hash into (partition pruning
    //    require()-proved in-query via the x86 device) with df/N/avgdl
    //    staying EXACT under pruning (a term's full posting list lives
    //    in one bucket; N and total_dl ride the meta counters). Build
    //    from a third of the corpus, APPEND the other two thirds in two
    //    batches (the ingest-loop shape — only each batch's buckets gain
    //    files, meta counters advance), COMPACT (the x127/x128
    //    maintenance op: N append files per bucket collapse to one,
    //    row-set-identical by require), then score from the compacted
    //    index. FULL oracle: the x42 corpus-direct BM25 replay
    //    restricted to matching docs — index-path scores must equal
    //    text-path scores exactly, proving the whole
    //    build→append×2→compact lifecycle search-invisible ──
    QueryDef(
      "x148_inverted_index_bm25",
      (s, dir) => {
        import graft.text.InvertedIndex
        val path = Scratch.forInput("invidx", dir)
        val docs = Tables.documents(s, dir)
        InvertedIndex.writeIndex(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path,
          nBuckets = 16)
        InvertedIndex.appendToIndex(
          docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", path)
        InvertedIndex.appendToIndex(
          docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", path)
        invIdxCompactPruneScore(s, path)
      },
      Some(Bm25IndexReplaySql)),

    // ── X153: STREAMING inverted-index ingest — the lexical tier's cell
    //    in the streaming ingest-loop matrix (exact: x45; near-dup:
    //    x122; semantic: x126; IVF: x46; HNSW: x123; CDC: x142;
    //    snapshots: x149): a real Structured Streaming foreachBatch
    //    drive bootstraps nothing — the FIRST wave writes the index, the
    //    later waves append (only their term buckets gain files, meta
    //    counters advance), then the stream-grown index compacts and
    //    serves the same pruned BM25 search x148 proves. Appends are not
    //    idempotent by design (the posting-list add contract — the x45
    //    exact-dedup stage fronts production ingest, exactly as x123's
    //    graph loop documents). FULL oracle: the x148 corpus-direct
    //    replay — the streaming execution is invisible to the oracle ──
    QueryDef(
      "x153_stream_inverted_ingest",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import graft.text.InvertedIndex
        val path = Scratch.forInput("invidx_stream", dir)
        graft.sources.Partitioned.deleteTree(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)].collect()
        val mem = MemoryStream[(Long, String)]
        val q = mem.toDF().toDF("doc_id", "text").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            if (batchId == 0L)
              InvertedIndex.writeIndex(batch, "doc_id", "text", path,
                nBuckets = 16)
            else
              InvertedIndex.appendToIndex(batch, "doc_id", "text", path)
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x153"))
          .start()
        StreamingOps.drive(q, "x153")(
          Seq(0L, 1L, 2L).map(m => docs.filter(_._1 % 3 == m)))(
          b => mem.addData(b.toIndexedSeq: _*))
        invIdxCompactPruneScore(s, path)
      },
      Some(Bm25IndexReplaySql)),

    // ── X44: Bloom-filter decontamination screen — the 100 TB shape for
    //    x23 when the bench gram set outgrows a string broadcast: a
    //    distributed Bloom sketch of the eval grams, probed map-side by
    //    every corpus gram (no join, no gram shuffle). Same split as x23
    //    (docs %7==0 are the "eval suite"). Sketch bit layout is
    //    engine-internal → rows-only; the no-false-negative superset and
    //    fpp-bound properties are spec-asserted vs the exact report ──
    QueryDef(
      "x44_decontaminate_bloom",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.contaminationReportBloom(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", n = 5, expectedGrams = 100000L, fpp = 0.001)
          .select(col("doc_id"), col("n_flagged_grams"), col("n_grams"))
      },
      None),

    // ── X51: DSIR importance resampling (Xie et al. 2023) — select the
    //    k raw docs most like the target split (here: the English docs)
    //    under hashed-n-gram unigram models, sampled without replacement
    //    via the Gumbel-max trick. Both random steps (gram→bucket hash,
    //    per-doc Gumbel draw) ride the md5 device, so the entire
    //    "random" selection replays bit-for-bit in DuckDB ──
    QueryDef(
      "x51_dsir_resample",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.text.Dsir.resample(
            docs, docs.filter(col("lang") === "en"),
            "doc_id", "text", k = 100, b = 8192, seed = 7L)
          .select(col("doc_id"),
            round(col("log_weight"), 6).as("log_weight"),
            round(col("gumbel_score"), 6).as("gumbel_score"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
          FROM documents
        ), g AS (
          SELECT doc_id, unnest(list_concat(w,
            CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w)-1),
                     i -> w[i] || ' ' || w[i+1])
              ELSE [] END)) AS g
          FROM d
        ), rb AS (
          SELECT doc_id,
            ('0x' || substring(md5('7:' || g), 1, 8))::BIGINT % 8192 AS b
          FROM g
        ), tb AS (
          SELECT b FROM rb JOIN documents USING (doc_id) WHERE lang = 'en'
        ), qc AS (
          SELECT b, count(*) AS cq FROM rb GROUP BY b
        ), pc AS (
          SELECT b, count(*) AS cp FROM tb GROUP BY b
        ), tot AS (
          SELECT (SELECT COALESCE(sum(cp), 0) FROM pc) AS np,
                 (SELECT COALESCE(sum(cq), 0) FROM qc) AS nq
        ), docw AS (
          SELECT rb.doc_id,
            sum(ln(COALESCE(pc.cp, 0) + 1.0) - ln(COALESCE(qc.cq, 0) + 1.0)) AS s,
            count(*) AS n
          FROM rb LEFT JOIN pc USING (b) LEFT JOIN qc USING (b)
          GROUP BY rb.doc_id
        ), scored AS (
          SELECT doc_id,
            s + n * (ln(nq + 8192.0) - ln(np + 8192.0)) AS logw,
            s + n * (ln(nq + 8192.0) - ln(np + 8192.0))
              - ln(-ln((('0x' || substring(md5('g7:' || doc_id::VARCHAR), 1, 8))::BIGINT + 0.5)
                       / 4294967296.0)) AS score
          FROM docw, tot
        )
        SELECT doc_id, round(logw, 6) AS log_weight,
               round(score, 6) AS gumbel_score
        FROM scored ORDER BY score DESC, doc_id LIMIT 100
      """.stripMargin.trim)),

    // ── X54: BPE round-0 pair statistics — adjacent character-pair
    //    frequencies weighted by word frequency, the argmax feed of the
    //    first tokenizer merge. Hash-anchors the distributed half of the
    //    BPE trainer (word counts + pair explosion) with a FULL oracle;
    //    the iterative merge loop itself is x55 ──
    QueryDef(
      "x54_bpe_pair_stats",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val wc = docs.select(explode(
            split(graft.text.TextOps.normalize(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val cs = regexp_extract_all(col("w"), lit("."), lit(0))
        wc.select(col("c"), explode(
            when(size(cs) >= 2, transform(sequence(lit(0), size(cs) - 2),
              i => concat_ws("|", element_at(cs, i + 1), element_at(cs, i + 2))))
              .otherwise(array().cast("array<string>"))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("c")).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(40)
      },
      Some("""
        WITH d AS (
          SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents
        ), w AS (
          SELECT unnest(string_split(norm, ' ')) AS w FROM d
        ), wc AS (
          SELECT w, count(*) AS c FROM w WHERE len(w) > 0 GROUP BY w
        ), ch AS (
          SELECT c, regexp_extract_all(w, '.') AS cs FROM wc
        ), p AS (
          SELECT c, unnest(list_transform(generate_series(1, len(cs)-1),
            i -> cs[i] || '|' || cs[i+1])) AS pair
          FROM ch WHERE len(cs) >= 2
        )
        SELECT pair, CAST(sum(c) AS BIGINT) AS n
        FROM p GROUP BY pair
        ORDER BY n DESC, pair LIMIT 40
      """.stripMargin.trim)),

    // ── X55: BPE tokenizer TRAINING — 60 merges learned from the corpus
    //    word-frequency table (one distributed pass; the merge loop runs
    //    on the bounded vocab driver-side, the HF-tokenizers contract).
    //    FULL oracle via the x39/x40 fitted-state thunk: the run stashes
    //    its merge table, and DuckDB re-derives every merge decision from
    //    first principles — a recursive CTE evolves the vocab
    //    segmentation round by round (the interpolated merges drive only
    //    the state evolution), and the per-round argmax pair
    //    (count desc, pair asc) is recomputed independently from the
    //    corpus word counts. A wrong engine merge at round r would
    //    diverge from the recomputed argmax → hash mismatch; the
    //    interpolated evolution input is itself validated transitively
    //    round by round. BpeSpec keeps the hand-computed goldens ──
    QueryDef(
      "x55_bpe_train",
      (s, dir) => {
        val merges = graft.text.Bpe.train(
          Tables.documents(s, dir), "text", numMerges = 60)
        x55Merges = Some(merges)
        s.createDataFrame(merges.zipWithIndex.map { case ((a, b), i) =>
          (i.toLong, a, b)
        }).toDF("rank", "left", "right")
      },
      () => x55Merges.map(bpeTrainReplaySql)),

    // ── X56: BPE tokenization under the x55 merges — per-source token
    //    totals after applying the learned tokenizer (broadcast ranks,
    //    one distributed map with a per-partition word memo). FULL oracle
    //    via the same thunk device: the learned ranks interpolate as a
    //    MAP literal and DuckDB replays the greedy apply loop per
    //    distinct word in a recursive CTE (merge the lowest-rank adjacent
    //    pair present, all occurrences left-to-right, until none
    //    remains), then joins token lengths back to the per-doc word
    //    stream. BpeSpec pins exact counts on its own fixtures ──
    QueryDef(
      "x56_bpe_tokenize",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.text.Bpe.train(docs, "text", numMerges = 60)
        x56Merges = Some(merges)
        graft.text.Bpe.tokenCounts(docs, "doc_id", "text", merges)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      },
      () => x56Merges.map(bpeEncodeReplaySql)),

    // ── X130: tokenizer FERTILITY report — the governance artifact a
    //    tokenizer decision is actually made from (HF tokenizer-eval /
    //    XLM-R style): per LANGUAGE, tokens-per-byte and tokens-per-word
    //    under the fitted x55 BPE. A tokenizer trained on skewed language
    //    mixes over-segments the minority languages (fertility climbs),
    //    which silently taxes their effective context length and
    //    training compute share — this report is where that shows up.
    //    Scale shape: one wordCounts pass for the fit (bounded driver
    //    merge loop), one distributed tokenCounts map (broadcast ranks,
    //    per-partition word memo), one lang-keyed aggregate; the ratios
    //    divide exact integer sums as one IEEE double op before the
    //    shared round-6, so no cross-engine rounding boundary exists.
    //    FULL oracle via the merge-table thunk: the x56 greedy-apply
    //    recursive CTE rolled up by language with octet_length bytes ──
    QueryDef(
      "x130_tokenizer_fertility",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.text.Bpe.train(docs, "text", numMerges = 60)
        x130Merges = Some(merges)
        val toks = graft.text.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        val norm = graft.text.TextOps.normalize(col("text"))
        docs.select(col("doc_id"), col("lang"),
            length(encode(norm, "UTF-8")).cast("long").as("n_bytes"),
            size(filter(split(norm, " "), w => length(w) > 0))
              .cast("long").as("n_words"))
          .join(toks, Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bytes")).as("sum_bytes"),
            sum(col("n_words")).as("sum_words"),
            sum(col("n_tokens")).as("sum_tokens"),
            round(sum(col("n_tokens")).cast("double") / sum(col("n_bytes")), 6)
              .as("tokens_per_byte"),
            round(sum(col("n_tokens")).cast("double") / sum(col("n_words")), 6)
              .as("tokens_per_word"))
      },
      () => x130Merges.map(bpeFertilityReplaySql)),

    // ── X134: sequence packing by the REAL tokenizer — the production
    //    composition of x55 and x25: chunk-packing offsets computed from
    //    the fitted BPE's token counts (`Bpe.tokenCounts` → one window)
    //    instead of the ceil(len/4) estimate. The distinction matters
    //    operationally: the estimate mis-sizes exactly the docs whose
    //    languages the tokenizer segments worst (the x130 fertility
    //    signal), so budget-256 chunks built from estimates overflow or
    //    underfill downstream — packing MUST consume the same tokenizer
    //    the trainer will. Same one-window scale shape as x25. FULL
    //    oracle via the merge-table thunk: the shared token-length
    //    replay CTEs feed the x25 window arithmetic unchanged ──
    QueryDef(
      "x134_pack_bpe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.text.Bpe.train(docs, "text", numMerges = 60)
        x134Merges = Some(merges)
        val toks = graft.text.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        Pipeline.packChunkedBy(
          docs.select(col("doc_id"), col("source")).join(toks, Seq("doc_id")),
          Seq("source"), Seq("doc_id"),
          greatest(col("n_tokens"), lit(1L)), budget = 256L)
          .select(col("doc_id"), col("source"), col("__tok").as("n_tokens"),
            col("chunk_first"), col("n_chunks"))
      },
      () => x134Merges.map(bpePackReplaySql)),

    // ── X143: fertility-corrected mixture sampling — the consumer of
    //    x130's governance signal: x59's alpha-sampling allocates by DOC
    //    COUNT, but training compute is paid in TOKENS, and a
    //    high-fertility language (more tokens per byte under the shared
    //    tokenizer — exactly what x130 measures) silently overdraws its
    //    compute share under a doc-count mix. Here the stratum mass fed
    //    to the tempered-share rule is each language's TOKEN SUM under
    //    the fitted x55 BPE (`Pipeline.temperatureSampleWeighted`), so
    //    expected sampled token mass per language ∝ W_g^0.5 — the
    //    compute-share-corrected mixture. Scale shape: one tokenCounts
    //    map + one tiny lang aggregate + broadcast rates + narrow
    //    filter; corpus text never shuffles. FULL oracle composing the
    //    x130 token-length replay with the x59 rate/coin arithmetic ──
    QueryDef(
      "x143_fertility_mix",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.text.Bpe.train(docs, "text", numMerges = 60)
        x143Merges = Some(merges)
        val toks = graft.text.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        val frame = docs.select(col("doc_id"), col("lang"))
          .join(toks, Seq("doc_id"))
        val sampled = Pipeline.temperatureSampleWeighted(
          frame, "doc_id", "lang", "n_tokens",
          alpha = 0.5, targetFrac = 0.5, seed = 42L)
        frame.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"),
            sum(col("n_tokens")).as("sum_tokens"))
          .join(sampled.groupBy(col("lang"))
              .agg(count(lit(1)).as("n_sampled"),
                sum(col("n_tokens")).as("sampled_tokens"),
                round(min(col("__rate")), 6).as("rate")),
            Seq("lang"), "left")
          .select(col("lang"), col("n_total"), col("sum_tokens"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
            coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"),
            col("rate"))
      },
      () => x143Merges.map(fertilityMixReplaySql)),

    // ── X145: incremental rollup maintenance over a changelog
    //    (operators/DeltaRollup.scala) — the materialized-view upkeep
    //    pattern: a persisted per-source (n_rows, token_sum) summary
    //    advanced by each batch's DELTA (+1 inserts, −1 retractions),
    //    never by rescanning the corpus. Three batches: two insert
    //    waves, then a retraction wave erasing the %5==0 slice of what
    //    was inserted. The maintained summary is require()-checked
    //    equal (exceptAll both ways) to a direct recompute over the
    //    surviving rows — the exactness claim, enforced at runtime.
    //    COUNT/SUM are abelian-group aggregates, hence retractable;
    //    the operator's scaladoc states the MIN/MAX boundary. Scale
    //    shape: per batch one batch-sized aggregate + one
    //    summary-sized merge; the corpus is read once per batch,
    //    never re-read by maintenance. FULL oracle: set arithmetic
    //    over `documents` with the x8 token model ──
    QueryDef(
      "x145_incremental_rollup",
      (s, dir) => {
        import graft.operators.DeltaRollup
        val path = Scratch.forInput("rollup", dir)
        DeltaRollup.drop(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"))
        val tok = graft.text.TextOps.bpeishTokenCount(col("text"))
        def batch(c: org.apache.spark.sql.Column, op: Int) =
          docs.filter(c).withColumn("__op", lit(op))
        DeltaRollup.applyBatch(batch(col("doc_id") % 3 === 0, 1),
          path, Seq("source"), "__op", tok)
        DeltaRollup.applyBatch(batch(col("doc_id") % 3 === 1, 1),
          path, Seq("source"), "__op", tok)
        val summary = DeltaRollup.applyBatch(
          batch(col("doc_id") % 3 < 2 && col("doc_id") % 5 === 0, -1),
          path, Seq("source"), "__op", tok)
        val direct = docs
          .filter(col("doc_id") % 3 < 2 && col("doc_id") % 5 =!= 0)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_rows"), sum(tok).as("weight_sum"))
        val diff = summary.exceptAll(direct).count() +
          direct.exceptAll(summary).count()
        require(diff == 0,
          s"incremental summary diverged from recompute: $diff rows differ")
        summary.select(col("source"), col("n_rows"),
          col("weight_sum").as("token_sum"))
      },
      Some("""
        WITH t AS (
          SELECT source,
            COALESCE(list_aggregate(list_transform(
              string_split_regex(trim(text), '\s+'),
              w -> CAST(ceil(length(w)/4.0) AS BIGINT)), 'sum'), 0) AS tok
          FROM documents
          WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0
        )
        SELECT source, count(*) AS n_rows,
          CAST(sum(tok) AS BIGINT) AS token_sum
        FROM t GROUP BY source
      """.stripMargin.trim)),

    // ── X147: link-graph centrality (operators/LinkRank.pageRankInt) —
    //    the web-curation quality signal (Common Crawl-style PageRank
    //    ranking) as DETERMINISTIC integer-arithmetic power iteration:
    //    ranks in BIGINT micro-units, floor divisions, order-independent
    //    integer sums — bit-identical on any partitioning and in the
    //    oracle (a float PageRank would hash differently per run). The
    //    link graph is the deterministic modular graph over doc_ids
    //    (src → (7·src + 13j) mod N, j = 1..3, self-links dropped), ten
    //    iterations, top-20 by rank. Scale shape per iteration: one
    //    src join + one dst-keyed integer aggregate; lineage truncated
    //    per iteration. FULL oracle: the ten iterations unrolled as
    //    chained CTEs with the identical integer formula ──
    QueryDef(
      "x147_link_rank",
      (s, dir) => {
        import graft.operators.LinkRank
        val docs = Tables.documents(s, dir).select(col("doc_id"))
        val n = Tables.rowCount(s, dir, "documents")
        val edges = docs
          .select(col("doc_id").as("src"),
            explode(array((1 to 3).map(j =>
              (col("doc_id") * 7 + lit(j * 13)) % lit(n)): _*)).as("dst"))
          .filter(col("src") =!= col("dst"))
        LinkRank.pageRankInt(edges, "src", "dst", iterations = 10)
          .orderBy(col("rank_micro").desc, col("node").asc)
          .limit(20)
      },
      Some {
        val iters = (1 to 10).map { k =>
          s"""pr$k AS (
          SELECT nodes.v, 150000 + (85 * COALESCE(s.s, 0)) // 100 AS r
          FROM nodes LEFT JOIN (
            SELECT e.dst AS v, sum(p.r // od.outd) AS s
            FROM e JOIN pr${k - 1} p ON p.v = e.src
            JOIN od ON od.src = e.src
            GROUP BY e.dst) s USING (v)
        )"""
        }.mkString(", ")
        s"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        e AS (
          SELECT src, dst FROM (
            SELECT d.doc_id AS src, (d.doc_id * 7 + j.j * 13) % nn.n AS dst
            FROM documents d, (SELECT unnest(generate_series(1, 3)) AS j) j, nn)
          WHERE src <> dst
        ),
        od AS (SELECT src, count(*) AS outd FROM e GROUP BY src),
        idg AS (SELECT dst, count(*) AS ind FROM e GROUP BY dst),
        nodes AS (
          SELECT DISTINCT v FROM (
            SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
        ),
        pr0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes),
        $iters
        SELECT v AS node, CAST(r AS BIGINT) AS rank_micro,
          COALESCE(od.outd, 0) AS out_deg, COALESCE(idg.ind, 0) AS in_deg
        FROM pr10
        LEFT JOIN od ON od.src = v
        LEFT JOIN idg ON idg.dst = v
        ORDER BY r DESC, v ASC
        LIMIT 20
        """.stripMargin.trim
      }),

    // ── X57: interpolated Kneser–Ney bigram cross-entropy
    //    (Quality.knBigramCrossEntropy) — the CCNet-style LM quality
    //    signal one order above x36's unigram MLE. Full DuckDB replay:
    //    same tokenization, same type/continuation counts, same
    //    fixed-discount interpolation ──
    QueryDef(
      "x57_kn_bigram_lm",
      (s, dir) => {
        graft.text.Quality.knBigramCrossEntropy(
          Tables.documents(s, dir), "doc_id", "text", discount = 0.75)
          .select(col("doc_id"), col("n_bigrams"),
            round(col("cross_entropy"), 6).as("cross_entropy"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(trim(text)), '\s+'),
                        w -> length(w) > 0) AS w
          FROM documents
        ), p AS (
          SELECT doc_id, (b).w1 AS w1, (b).w2 AS w2 FROM (
            SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1),
              i -> {'w1': w[i], 'w2': w[i+1]})) AS b
            FROM d WHERE len(w) >= 2)
        ), bc AS (
          SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2
        ), ctx AS (
          SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1,
                 CAST(count(*) AS DOUBLE) AS n1r FROM bc GROUP BY w1
        ), cont AS (
          SELECT w2, CAST(count(*) AS DOUBLE) AS n1l FROM bc GROUP BY w2
        ), tt AS (
          SELECT CAST(count(*) AS DOUBLE) AS tt FROM bc
        )
        SELECT doc_id, count(*) AS n_bigrams,
          round(avg(-ln(greatest(c12 - 0.75, 0) / c1
                        + 0.75 * n1r / c1 * (n1l / tt.tt))), 6)
            AS cross_entropy
        FROM p JOIN bc USING (w1, w2) JOIN ctx USING (w1)
               JOIN cont USING (w2), tt
        GROUP BY doc_id
      """.stripMargin.trim)),

    // ── X58: TF-IDF cosine retrieval (Tfidf.cosineRetrieve) — sparse
    //    lexical top-k neighbors for a broadcast query-doc set, sklearn
    //    smooth-idf weights, full-vocabulary norms. Deterministic rank
    //    (sim rounded to 6 before ranking, id tie-break) so the DuckDB
    //    replay hash-matches ──
    QueryDef(
      "x58_tfidf_retrieve",
      (s, dir) => {
        graft.text.Tfidf.cosineRetrieve(
          Tables.documents(s, dir), "doc_id", "text",
          queryIds = Seq(0L, 1L, 2L), k = 5)
      },
      Some("""
        WITH t AS (
          SELECT doc_id, w AS term FROM (
            SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents)
          WHERE length(w) > 0
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf
        ), wtd AS (
          SELECT doc_id, term,
            CAST(tf AS DOUBLE) * (ln((1 + n.n) / (1 + df)) + 1) AS weight
          FROM tf JOIN dfreq USING (term), n
        ), norms AS (
          SELECT doc_id, sqrt(sum(weight * weight)) AS norm
          FROM wtd GROUP BY doc_id
        ), q AS (
          SELECT w.doc_id AS query_id, term, weight AS qw, norm AS qnorm
          FROM wtd w JOIN norms USING (doc_id) WHERE w.doc_id IN (0, 1, 2)
        ), sims AS (
          SELECT query_id, w.doc_id AS doc_id,
            round(sum(qw * weight) / (qnorm * nm.norm), 6) AS sim
          FROM q JOIN wtd w USING (term) JOIN norms nm ON nm.doc_id = w.doc_id
          WHERE w.doc_id <> query_id
          GROUP BY query_id, w.doc_id, qnorm, nm.norm
        )
        SELECT query_id, doc_id, rank, sim FROM (
          SELECT query_id, doc_id, sim,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, doc_id) AS rank
          FROM sims)
        WHERE rank <= 5
      """.stripMargin.trim)),

    // ── X139: HYBRID retrieval with reciprocal-rank fusion
    //    (similarity/Hybrid.scala — Cormack, Clarke & Büttcher 2009),
    //    the production RAG hybrid-search shape: the x58 lexical TF-IDF
    //    arm and the dense cosine arm each rank top-10 per query, and
    //    rrf = Σ 1/(60+rank) fuses them — robust to incomparable arm
    //    scores because only RANKS enter. Each term is quantized to
    //    integer nano-units BEFORE the grouped sum (exact BIGINT — a
    //    distributed double sum's association order would be a
    //    cross-engine hazard; the x119 micro-unit device), and the
    //    per-arm ranks ride along in the output so the artifact shows
    //    WHY each doc fused where it did. FULL oracle: the x58 TF-IDF
    //    replay + the x4 brute-force cosine replay + the same integer
    //    fusion arithmetic ──
    QueryDef(
      "x139_hybrid_rrf",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val qIds = Seq(0L, 1L, 2L)
        val lex = graft.text.Tfidf.cosineRetrieve(docs, "doc_id", "text",
          qIds, k = 10)
          .select(col("query_id"), col("doc_id"), col("rank"))
          .localCheckpoint() // read twice: fusion arm + rank join-back
        val vec = graft.similarity.Ann.cosineTopK(emb,
            emb.filter(col("vec_id").isInCollection(qIds)),
            "embedding", "vec_id", "vec_id", k = 10)
          .select(col("vec_id").as("query_id"),
            col("neighbor_id").as("doc_id"), col("rank"))
          .localCheckpoint()
        graft.similarity.Hybrid.rrfFuse(Seq(lex, vec), topK = 5)
          .join(lex.withColumnRenamed("rank", "lex_rank"),
            Seq("query_id", "doc_id"), "left")
          .join(vec.withColumnRenamed("rank", "vec_rank"),
            Seq("query_id", "doc_id"), "left")
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("rrf_micro"), col("n_arms"),
            coalesce(col("lex_rank"), lit(-1)).as("lex_rank"),
            coalesce(col("vec_rank"), lit(-1)).as("vec_rank"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, w AS term FROM (
            SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents)
          WHERE length(w) > 0
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf
        ), wtd AS (
          SELECT doc_id, term,
            CAST(tf AS DOUBLE) * (ln((1 + n.n) / (1 + df)) + 1) AS weight
          FROM tf JOIN dfreq USING (term), n
        ), norms AS (
          SELECT doc_id, sqrt(sum(weight * weight)) AS norm
          FROM wtd GROUP BY doc_id
        ), q AS (
          SELECT w.doc_id AS query_id, term, weight AS qw, norm AS qnorm
          FROM wtd w JOIN norms USING (doc_id) WHERE w.doc_id IN (0, 1, 2)
        ), sims AS (
          SELECT query_id, w.doc_id AS doc_id,
            round(sum(qw * weight) / (qnorm * nm.norm), 6) AS sim
          FROM q JOIN wtd w USING (term) JOIN norms nm ON nm.doc_id = w.doc_id
          WHERE w.doc_id <> query_id
          GROUP BY query_id, w.doc_id, qnorm, nm.norm
        ), lex AS (
          SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id, sim,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, doc_id) AS rank
            FROM sims)
          WHERE rank <= 10
        ), vq AS (
          SELECT vec_id AS qid, embedding::DOUBLE[] AS qf FROM embeddings
          WHERE vec_id IN (0, 1, 2)
        ), vc AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cf FROM embeddings
        ), vd AS (
          SELECT qid, cid,
            list_reduce(list_transform(list_zip(qf, cf), p -> p[1] * p[2]), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(list_zip(qf, qf), p -> p[1] * p[2]), (x, y) -> x + y))
               * sqrt(list_reduce(list_transform(list_zip(cf, cf), p -> p[1] * p[2]), (x, y) -> x + y))) AS cos
          FROM vq CROSS JOIN vc WHERE cid <> qid
        ), vec AS (
          SELECT qid AS query_id, cid AS doc_id, rank FROM (
            SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM vd)
          WHERE rank <= 10
        ), terms AS (
          SELECT query_id, doc_id,
            CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS tt FROM lex
          UNION ALL
          SELECT query_id, doc_id,
            CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) FROM vec
        ), fused AS (
          SELECT query_id, doc_id, CAST(sum(tt) AS BIGINT) AS rrf_micro,
            count(*) AS n_arms
          FROM terms GROUP BY 1, 2
        ), ranked AS (
          SELECT query_id, doc_id, rrf_micro, n_arms,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_micro DESC, doc_id) AS rank
          FROM fused
        )
        SELECT r.query_id, r.rank, r.doc_id, r.rrf_micro, r.n_arms,
          COALESCE(l.rank, -1) AS lex_rank,
          COALESCE(v.rank, -1) AS vec_rank
        FROM ranked r
        LEFT JOIN lex l ON l.query_id = r.query_id AND l.doc_id = r.doc_id
        LEFT JOIN vec v ON v.query_id = r.query_id AND v.doc_id = r.doc_id
        WHERE r.rank <= 5
      """.stripMargin.trim)),

    // ── X159: BM25 → MaxSim RERANK — the two-stage retrieval stack
    //    every production RAG service runs (recall arm cheap and wide,
    //    precision arm expensive and narrow), composed from x42's BM25
    //    and x156's late interaction as a pseudo-relevance-feedback
    //    rerank: stage 1 takes the BM25 top-20 for the term set (ranked
    //    on 6-dp-rounded scores — the x58 cross-engine ranking device —
    //    via TakeOrderedAndProject, never a global window over the
    //    corpus), stage 2 re-scores those 20 candidates by MaxSim
    //    against the TOP lexical hit's multi-vector. The expensive
    //    MaxSim pays for 20 rows, not the corpus — the cost asymmetry
    //    that makes the composition the production shape. FULL oracle:
    //    the x42 BM25 replay feeding the x156 nested-lambda MaxSim
    //    replay ──
    QueryDef(
      "x159_bm25_maxsim_rerank",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val top20 = graft.text.Quality.bm25(docs, "doc_id", "text",
            terms = Seq("hash", "join", "scan"))
          .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
          .filter(col("bm25") > 0)
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
          .withColumn("lex_rank", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id"))))
          .localCheckpoint() // 20 rows; feeds candidates, anchor, join-back
        val mv = emb.select(col("vec_id"),
          graft.similarity.Ann.sliceVectors(col("embedding"), 64, 4)
            .as("vecs"))
        val cands = top20.select(col("doc_id"))
          .join(mv, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("vecs"))
        val anchor = top20.filter(col("lex_rank") === 1)
          .select(col("doc_id"))
          .join(mv, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("vecs"))
        graft.similarity.Ann.maxSimTopK(cands, anchor, "vecs",
            "doc_id", "doc_id", k = 5)
          .select(col("neighbor_id").as("doc_id"), col("rank"),
            round(col("score"), 6).as("score"))
          .join(top20.select(col("doc_id"), col("lex_rank")), Seq("doc_id"))
          .select(col("rank"), col("doc_id"), col("lex_rank"), col("score"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents
        ), tf0 AS (
          SELECT doc_id, w FROM t WHERE length(w) > 0
        ), dl AS (
          SELECT doc_id, count(*) AS dl FROM tf0 GROUP BY doc_id
        ), st AS (
          SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, w, count(*) AS tf FROM tf0
          WHERE w IN ('hash', 'join', 'scan') GROUP BY doc_id, w
        ), dfs AS (
          SELECT w, count(*) AS df FROM tf GROUP BY w
        ), sc AS (
          SELECT tf.doc_id,
            sum(ln((st.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS bm25
          FROM tf JOIN dfs USING (w) JOIN dl ON tf.doc_id = dl.doc_id, st
          GROUP BY tf.doc_id
        ), scored AS (
          SELECT dl.doc_id, round(COALESCE(sc.bm25, 0.0), 6) AS bm25
          FROM dl LEFT JOIN sc ON dl.doc_id = sc.doc_id
        ), cand AS (
          SELECT doc_id, lex_rank FROM (
            SELECT doc_id,
              row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
            FROM scored WHERE bm25 > 0)
          WHERE lex_rank <= 20
        ), mvbase AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ), mv AS (
          SELECT vec_id, [list_slice(e, 1, 16), list_slice(e, 17, 32),
            list_slice(e, 33, 48), list_slice(e, 49, 64)] AS vs FROM mvbase
        ), anchor AS (
          SELECT c.doc_id AS qid, mv.vs AS qvs
          FROM cand c JOIN mv ON mv.vec_id = c.doc_id WHERE c.lex_rank = 1
        ), sres AS (
          SELECT c.doc_id AS cid,
            list_reduce(list_transform(a.qvs, qv ->
              list_reduce(list_transform(m.vs, dv ->
                list_reduce(list_transform(list_zip(qv, dv),
                  p -> p[1] * p[2]), (x, y) -> x + y)),
                (u, v) -> greatest(u, v))),
              (x, y) -> x + y) AS s2
          FROM cand c JOIN mv m ON m.vec_id = c.doc_id
          CROSS JOIN anchor a
          WHERE c.doc_id <> a.qid
        )
        SELECT r.rank, r.doc_id, cand.lex_rank, r.score FROM (
          SELECT cid AS doc_id, round(s2, 6) AS score,
            row_number() OVER (ORDER BY s2 DESC, cid) AS rank
          FROM sres) r
        JOIN cand ON cand.doc_id = r.doc_id
        WHERE r.rank <= 5
      """.stripMargin.trim)),

    // ── X59: temperature-scaled mixture sampling
    //    (Pipeline.temperatureSample) — the mT5/XLM alpha-sampling rule
    //    with alpha=0.5 via sqrt (correctly-rounded IEEE, so the
    //    computed per-source rates are bit-identical in DuckDB) and the
    //    md5 hash coin ──
    QueryDef(
      "x59_temperature_mix",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val sampled = Pipeline.temperatureSample(
          docs, "doc_id", "source", alpha = 0.5, targetFrac = 0.5, seed = 42L)
        docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
          .join(sampled.groupBy(col("source"))
              .agg(count(lit(1)).as("n_sampled"),
                round(min(col("__rate")), 6).as("rate")),
            Seq("source"), "left")
          .select(col("source"), col("n_total"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"), col("rate"))
      },
      Some("""
        WITH c AS (
          SELECT source, CAST(count(*) AS DOUBLE) AS ns
          FROM documents GROUP BY source
        ), t AS (
          SELECT sum(ns) AS n, sum(sqrt(ns)) AS z FROM c
        ), r AS (
          SELECT source, ns,
            least(1.0, 0.5 * t.n * (sqrt(ns) / t.z) / ns) AS rate
          FROM c, t
        ), s AS (
          SELECT d.source, r.rate,
            CASE WHEN (('0x' || substring(md5('42:' || d.doc_id::VARCHAR),
                 1, 8))::BIGINT / 4294967296.0) < r.rate THEN 1 END AS keep
          FROM documents d JOIN r USING (source)
        )
        SELECT source, count(*) AS n_total,
          CAST(COALESCE(sum(keep), 0) AS BIGINT) AS n_sampled,
          round(min(rate), 6) AS rate
        FROM s GROUP BY source
      """.stripMargin.trim)),

    // ── X60: exact per-stratum quota sampling (Pipeline.quotaSample) —
    //    precisely 10 docs per source, ranked on the hash coin with id
    //    tie-break; WindowGroupLimit keeps the shuffle at top-k per task ──
    QueryDef(
      "x60_quota_sample",
      (s, dir) => {
        Pipeline.quotaSample(Tables.documents(s, dir),
          "doc_id", "source", quota = 10, seed = 42L)
          .select(col("doc_id"), col("source"))
      },
      Some("""
        SELECT doc_id, source FROM (
          SELECT doc_id, source, row_number() OVER (PARTITION BY source
            ORDER BY (('0x' || substring(md5('42:' || doc_id::VARCHAR),
                       1, 8))::BIGINT / 4294967296.0), doc_id) AS rk
          FROM documents)
        WHERE rk <= 10
      """.stripMargin.trim)),

    // ── X61: fastText-style supervised classifier
    //    (QualityClassifier) — hashed-TF + IDF + multinomial logistic
    //    regression, the model-based filter stage (CCNet lang-ID /
    //    LLaMA-line quality classifier). Emits the train-set confusion
    //    matrix. FULL oracle via the fitted-state thunk (the SvmSql
    //    posture brought to the text pipeline): the L-BFGS FIT is not
    //    ANSI-expressible, but the fitted model is bounded driver state
    //    — per-token murmur3 buckets (a pure function, pinned because
    //    DuckDB has no murmur3), IDF weights, the coefficient matrix
    //    and intercepts — and the whole SCORING path is: DuckDB
    //    independently re-tokenizes, rebuilds hashed-TF counts, applies
    //    IDF, computes every class margin and the argmax (margin desc,
    //    class-index asc — MLlib's Vector.argmax first-max rule), and
    //    aggregates the confusion matrix. ClassifierSpec pins accuracy
    //    semantics on a separable corpus ──
    QueryDef(
      "x61_quality_classifier",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = graft.text.QualityClassifier.train(
          docs, "text", "lang", dim = 1 << 10, maxIter = 20)
        // stash the fitted scoring state for the thunk oracle
        val vocab = docs
          .select(explode(split(lower(col("text")), "\\s+")).as("w"))
          .filter(length(col("w")) >= 1)
          .distinct().collect().map(_.getString(0)).sorted.toSeq
        val htf = new org.apache.spark.ml.feature.HashingTF()
          .setNumFeatures(1 << 10)
        val wb = vocab.map(w => (w, htf.indexOf(w)))
        val used = wb.map(_._2).distinct.sorted
        val idfArr = m.pipeline.stages.collectFirst {
          case im: org.apache.spark.ml.feature.IDFModel => im.idf.toArray
        }.get
        val lr = m.pipeline.stages.collectFirst {
          case lm: org.apache.spark.ml.classification.LogisticRegressionModel => lm
        }.get
        val coef = for { k <- 0 until lr.numClasses; b <- used }
          yield (k, b, lr.coefficientMatrix(k, b))
        x61State = Some(X61State(wb, used.map(b => (b, idfArr(b))),
          coef, lr.interceptVector.toArray.toSeq, m.labels.toSeq))
        graft.text.QualityClassifier.confusion(m, docs, "text", "lang")
      },
      () => x61State.map(x61ReplaySql)),

    // ── X62: compression-ratio redundancy signal
    //    (Quality.compressionRatio) — per-source deflate-ratio profile.
    //    rows-only (no zlib in DuckDB); QualitySpec pins goldens ──
    QueryDef(
      "x62_compression_ratio",
      (s, dir) => {
        Tables.documents(s, dir)
          .withColumn("__r", graft.text.Quality.compressionRatio(col("text")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("__r")), 6).as("mean_ratio"),
            round(min(col("__r")), 6).as("min_ratio"),
            round(max(col("__r")), 6).as("max_ratio"))
      },
      None),

    // ── X63: fuzzy decontamination (Pipeline.contaminationReportFuzzy)
    //    — near-duplicate eval contamination via broadcast bench MinHash
    //    bands + exact-Jaccard verify, the GPT-3/PaLM-style complement
    //    to x23's exact grams and x44's Bloom screen. Same 1-in-7 bench
    //    split as x23; FULL oracle replays the banded MinHash cross-join ──
    QueryDef(
      "x63_decontaminate_fuzzy",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.contaminationReportFuzzy(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", shingleN = 3,
          numHashes = 128, bands = 16, threshold = 0.5)
          .select(col("doc_id"), col("bench_id"),
            round(col("jaccard"), 6).as("jaccard"))
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
          SELECT DISTINCT l.doc_id AS cid, r.doc_id AS bench_id
          FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
          WHERE l.doc_id % 7 != 0 AND r.doc_id % 7 = 0
        ), j AS (
          SELECT cid AS doc_id, bench_id,
            len(list_intersect(a.s, b.s))::DOUBLE /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
          FROM pairs JOIN sh a ON pairs.cid = a.doc_id
                     JOIN sh b ON pairs.bench_id = b.doc_id
        )
        SELECT doc_id, bench_id, round(jac, 6) AS jaccard
        FROM j WHERE jac >= 0.5
      """.stripMargin.trim)),

    // ── X65: CCNet perplexity-bucket selection
    //    (Quality.perplexityBuckets) — per-language head/middle/tail
    //    terciles of the x36 LM score, rank-based (ntile + id tie-break)
    //    so the split replays exactly; emits per-(lang, bucket) profile ──
    QueryDef(
      "x65_ccnet_buckets",
      (s, dir) => {
        graft.text.Quality.perplexityBuckets(
          Tables.documents(s, dir), "doc_id", "text", "lang", nBuckets = 3)
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("cross_entropy")), 6).as("mean_ce"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents
        ), tf AS (
          SELECT doc_id, w FROM t WHERE length(w) > 0
        ), c AS (
          SELECT w, count(*) AS c FROM tf GROUP BY w
        ), tot AS (
          SELECT CAST(sum(c) AS DOUBLE) AS tot FROM c
        ), ce AS (
          SELECT doc_id, round(avg(-ln(CAST(c.c AS DOUBLE) / tot.tot)), 6) AS ce
          FROM tf JOIN c USING (w), tot
          GROUP BY doc_id
        )
        SELECT lang, bucket, count(*) AS n_docs, round(avg(ce), 6) AS mean_ce
        FROM (
          SELECT d.lang, ce.ce,
            ntile(3) OVER (PARTITION BY d.lang
                           ORDER BY ce.ce, ce.doc_id) AS bucket
          FROM ce JOIN documents d USING (doc_id))
        GROUP BY lang, bucket
      """.stripMargin.trim)),

    // ── X66: token-distribution drift monitor
    //    (Quality.tokenKlDivergence) — KL(p_source ‖ p_corpus) per
    //    source, the corpus-composition drift check; one tokenize pass,
    //    global model derived from the per-stratum counts ──
    QueryDef(
      "x66_token_drift",
      (s, dir) => {
        graft.text.Quality.tokenKlDivergence(
          Tables.documents(s, dir), "source", "text")
          .select(col("source"), col("n_tokens"),
            round(col("kl"), 6).as("kl"))
      },
      Some("""
        WITH t AS (
          SELECT source, w FROM (
            SELECT source,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents)
          WHERE length(w) > 0
        ), sc AS (
          SELECT source, w, count(*) AS cs FROM t GROUP BY source, w
        ), gc AS (
          SELECT w, sum(cs) AS cg FROM sc GROUP BY w
        ), ns AS (
          SELECT source, sum(cs) AS ns FROM sc GROUP BY source
        ), ng AS (
          SELECT CAST(sum(cg) AS DOUBLE) AS ng FROM gc
        )
        SELECT source, CAST(max(ns.ns) AS BIGINT) AS n_tokens,
          round(sum((CAST(cs AS DOUBLE) / ns.ns) *
            ln((CAST(cs AS DOUBLE) / ns.ns) /
               (CAST(cg AS DOUBLE) / ng.ng))), 6) AS kl
        FROM sc JOIN gc USING (w) JOIN ns USING (source), ng
        GROUP BY source
      """.stripMargin.trim)),

    // ── X67: two-frame ingest drift (Quality.klDrift) — smoothed
    //    KL(batch ‖ frozen baseline) over the union vocabulary, the
    //    per-batch monitor a 100 TB ingest loop runs before accepting a
    //    batch (batch = doc_id%3==1 slice, baseline = %3==0 slice) ──
    QueryDef(
      "x67_ingest_drift",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.text.Quality.klDrift(
          docs.filter(col("doc_id") % 3 === 1),
          docs.filter(col("doc_id") % 3 === 0), "text")
          .select(col("n_tokens"), col("n_novel_words"),
            round(col("kl"), 6).as("kl"))
      },
      Some("""
        WITH bt AS (
          SELECT w FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents WHERE doc_id % 3 = 1)
          WHERE length(w) > 0
        ), rt AS (
          SELECT w FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents WHERE doc_id % 3 = 0)
          WHERE length(w) > 0
        ), bc AS (
          SELECT w, count(*) AS cb FROM bt GROUP BY w
        ), rc AS (
          SELECT w, count(*) AS cr FROM rt GROUP BY w
        ), j AS (
          SELECT COALESCE(cb, 0) AS cb, COALESCE(cr, 0) AS cr
          FROM bc FULL OUTER JOIN rc USING (w)
        ), tot AS (
          SELECT CAST(sum(cb) AS DOUBLE) AS nb, CAST(sum(cr) AS DOUBLE) AS nr,
            CAST(count(*) AS DOUBLE) AS v,
            sum(CASE WHEN cb > 0 AND cr = 0 THEN 1 ELSE 0 END) AS novel
          FROM j
        )
        SELECT CAST(tot.nb AS BIGINT) AS n_tokens,
          CAST(tot.novel AS BIGINT) AS n_novel_words,
          round(sum(((cb + 1) / (nb + v)) *
            ln(((cb + 1) / (nb + v)) / ((cr + 1) / (nr + v)))), 6) AS kl
        FROM j, tot GROUP BY tot.nb, tot.novel
      """.stripMargin.trim)),

    // ── X68: deterministic dataset split (Pipeline.hashSplit) —
    //    train/val/test by the md5 coin with EXACT cumulative-threshold
    //    doubles interpolated into the oracle (no float re-derivation
    //    on the SQL side) ──
    QueryDef(
      "x68_dataset_split",
      (s, dir) => {
        Pipeline.hashSplit(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some {
        // replicate hashSplit's scanLeft thresholds bit-for-bit
        val ws = Seq(0.8, 0.1, 0.1)
        val cum = ws.scanLeft(0.0)((a, w) => a + w / ws.sum).tail.init
        s"""
        SELECT source,
          CASE WHEN u < ${cum(0)} THEN 'train'
               WHEN u < ${cum(1)} THEN 'val'
               ELSE 'test' END AS split,
          count(*) AS n_docs
        FROM (
          SELECT source,
            (('0x' || substring(md5('42:' || doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0) AS u
          FROM documents)
        GROUP BY source, split
        """.stripMargin.trim
      }),

    // ── X69: the END-TO-END pretraining-dataset build in ONE Catalyst
    //    plan — x22b's clean spine (language → quality → exact dedup →
    //    near-dup cluster drop) then exact decontamination against the
    //    held-out bench slice (x23), temperature-scaled mixture
    //    sampling (x59's sqrt-exact rates, seed 43), and concat-chunk
    //    packing (x25) — emitting the per-source dataset manifest.
    //    FULL oracle: the x22b + x23 + x59 + x25 CTE chains composed.
    //    Scale note: composed as ONE plan the branches re-scan
    //    `documents` 13× (EntrySpec pins the budget); x104 is the SAME
    //    pipeline with the stage materialization that collapses it ──
    QueryDef(
      "x69_pretrain_dataset",
      (s, dir) => pretrainPipeline(s, dir, stagePath = None),
      Some(pretrainOracleSql)),

    // ── X104: the SAME pretraining-dataset build with STAGE
    //    MATERIALIZATION — the documented 100 TB shape of x69: the
    //    cleaned corpus (post near-dup cluster drop) and the
    //    decontaminated corpus are each written to parquet and read
    //    back (the x78/x89 snapshot pattern), so every downstream
    //    branch re-reads a materialized stage instead of recomputing
    //    the upstream spine: the final plan scans documents ZERO times
    //    (EntrySpec pins x69's 13-scan budget and x104's zero), and
    //    each stage write pays its own bounded spine exactly once.
    //    Identical semantics, identical manifest, the SAME oracle ──
    QueryDef(
      "x104_pretrain_dataset_staged",
      (s, dir) => pretrainPipeline(s, dir, stagePath = Some(
        Scratch.forInput("pretrain_stage", dir))),
      Some(pretrainOracleSql)),


    // ── X70: pre-shuffle skew diagnostics (Diagnostics.skewReport) —
    //    the measurement step before x52's salting: heavy-hitter keys
    //    with share + skew factor against the key population ──
    QueryDef(
      "x70_skew_report",
      (s, dir) => {
        graft.operators.Diagnostics.skewReport(
          Tables.events(s, dir), Seq("user_id"), k = 5)
      },
      Some("""
        WITH c AS (
          SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
        ), p AS (
          SELECT CAST(count(*) AS BIGINT) AS n_keys,
            CAST(sum(n_rows) AS DOUBLE) AS total,
            avg(n_rows) AS mean
          FROM c
        )
        SELECT rank, user_id, n_rows,
          round(n_rows / total, 6) AS share,
          round(n_rows / mean, 6) AS skew_factor,
          n_keys, round(mean, 6) AS mean_rows_per_key
        FROM (
          SELECT user_id, n_rows,
            row_number() OVER (ORDER BY n_rows DESC, user_id) AS rank
          FROM c), p
        WHERE rank <= 5
      """.stripMargin.trim)),

    // ── X72: the streaming DRIFT GATE — the third ingest-loop shape
    //    beside x45 (dedup) and x46 (index growth): each micro-batch is
    //    scored with Quality.klDrift against a FROZEN baseline slice
    //    (doc_id%4==0) and accepted iff its smoothed KL stays under the
    //    gate threshold — the accept/reject governance step a 100 TB
    //    ingest loop runs before admitting a batch. MemoryStream is the
    //    Kafka stand-in (x30-x45 convention; batch membership is
    //    doc_id%4, deterministic). At scale the baseline's token counts
    //    would be a persisted model (the IVF-centroid contract) rather
    //    than re-aggregated per batch. FULL oracle: per-batch replay of
    //    the x67 CTE chain ──
    QueryDef(
      "x72_stream_drift_gate",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val gate = 0.05
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)].collect()
        val baseline = Tables.documents(s, dir)
          .filter(col("doc_id") % 4 === 0).select(col("text")).cache()
        baseline.count()
        val stats = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Double, Boolean)]
        val mem = MemoryStream[(Long, String)]
        val q = mem.toDF().toDF("doc_id", "text").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val r = graft.text.Quality.klDrift(batch, baseline, "text")
              .select(col("n_tokens"), col("n_novel_words"),
                round(col("kl"), 6).as("kl"))
              .head()
            stats += ((stats.size.toLong + 1, r.getLong(0), r.getLong(1),
              r.getDouble(2), r.getDouble(2) <= gate))
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x72"))
          .start()
        try StreamingOps.drive(q, "x72")(Seq(1L, 2L, 3L))(
          b => mem.addData(docs.filter(_._1 % 4 == b).toIndexedSeq: _*))
        finally baseline.unpersist(blocking = false)
        stats.toSeq.toDF("batch", "n_tokens", "n_novel_words", "kl", "accepted")
      },
      Some {
        def one(b: Int) = s"""
          SELECT CAST($b AS BIGINT) AS batch, n_tokens, n_novel_words, kl,
            kl <= 0.05 AS accepted
          FROM (
            WITH bt AS (
              SELECT w FROM (
                SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
                FROM documents WHERE doc_id % 4 = $b) WHERE length(w) > 0
            ), rt AS (
              SELECT w FROM (
                SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
                FROM documents WHERE doc_id % 4 = 0) WHERE length(w) > 0
            ), bc AS (
              SELECT w, count(*) AS cb FROM bt GROUP BY w
            ), rc AS (
              SELECT w, count(*) AS cr FROM rt GROUP BY w
            ), j AS (
              SELECT COALESCE(cb, 0) AS cb, COALESCE(cr, 0) AS cr
              FROM bc FULL OUTER JOIN rc USING (w)
            ), tot AS (
              SELECT CAST(sum(cb) AS DOUBLE) AS nb,
                CAST(sum(cr) AS DOUBLE) AS nr,
                CAST(count(*) AS DOUBLE) AS v,
                sum(CASE WHEN cb > 0 AND cr = 0 THEN 1 ELSE 0 END) AS novel
              FROM j
            )
            SELECT CAST(tot.nb AS BIGINT) AS n_tokens,
              CAST(tot.novel AS BIGINT) AS n_novel_words,
              round(sum(((cb + 1) / (nb + v)) *
                ln(((cb + 1) / (nb + v)) / ((cr + 1) / (nr + v)))), 6) AS kl
            FROM j, tot GROUP BY tot.nb, tot.novel)"""
        Seq(1, 2, 3).map(one).mkString("\nUNION ALL\n").trim
      }),

    // ── X74: Count-Min sketch heavy-hitter estimates
    //    (functions.CountMin) — the additive (ε,δ) stream sketch; md5
    //    row hashes + plain counter sums make it order-independent and
    //    bit-replayable, so the sketch carries a FULL oracle (x76 plays
    //    the same trick on HLL). Estimates vs true counts per token ──
    QueryDef(
      "x74_cms_tokens",
      (s, dir) => {
        import graft.functions.CountMin
        val toks = Tables.documents(s, dir)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
        val cms = CountMin.sketch(toks, "word", depth = 4, width = 1024,
          seed = 7L)
        val truth = toks.groupBy(col("word"))
          .agg(count(lit(1)).as("true_count"))
        CountMin.estimate(truth, "word", cms, depth = 4, width = 1024,
          seed = 7L)
          .join(truth, "word")
          .select(col("word"), col("true_count"), col("cm_estimate"))
      },
      Some("""
        WITH t AS (
          SELECT w FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents)
          WHERE length(w) > 0
        ), tc AS (
          SELECT w, count(*) AS true_count FROM t GROUP BY w
        ), rows_ AS (
          SELECT unnest(generate_series(0, 3)) AS r
        ), rb AS (
          SELECT r, (('0x' || substring(md5('7:' || r || ':' || w), 1, 8))::BIGINT
            % 1024) AS b
          FROM t, rows_
        ), cms AS (
          SELECT r, b, count(*) AS c FROM rb GROUP BY r, b
        ), pc AS (
          SELECT w, r, (('0x' || substring(md5('7:' || r || ':' || w), 1, 8))::BIGINT
            % 1024) AS b
          FROM tc, rows_
        ), est AS (
          SELECT w, min(COALESCE(c, 0)) AS cm_estimate
          FROM pc LEFT JOIN cms USING (r, b) GROUP BY w
        )
        SELECT tc.w AS word, true_count, cm_estimate
        FROM tc JOIN est USING (w)
      """.stripMargin.trim)),

    // ── X131: persisted CMS rollup — x115's lifecycle proof for the
    //    FREQUENCY sketch: per-day Count-Min counter files (day = doc_id
    //    mod 3, the x115 batch device) merged by cell-wise ADDITION
    //    (CountMin.merge — CMS is linear, so the merged counters are
    //    bit-identical to a direct build over the whole corpus,
    //    require()-checked with the exceptAll diff at runtime) and the
    //    merged sketch probed for the top-30 true-count words. The
    //    operational point mirrors x115: day files roll up into month
    //    files WITHOUT rescanning any text — at 100 TB the rollup reads
    //    depth×width counter rows per day, not the corpus. FULL oracle:
    //    merge exactness reduces the replay to the x74 direct-sketch
    //    SQL restricted to the top-30 probe set ──
    QueryDef(
      "x131_cms_rollup",
      (s, dir) => {
        import graft.functions.CountMin
        val path = Scratch.forInput("cms_rollup", dir)
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
        // all three per-day sketches in ONE corpus pass (CountMin.sketchBy
        // grouped on the day key — counters per day are identical to three
        // per-slice builds); partitionBy keeps the per-day counter FILES
        // the rollup lifecycle is about, and the per-day read paths below
        // are unchanged
        CountMin.sketchBy(
          toks.withColumn("day", pmod(col("doc_id"), lit(3))),
          "word", Seq("day"), depth = 4, width = 1024, seed = 7L)
          .write.mode("overwrite").partitionBy("day").parquet(path)
        // both sides are depth×width-bounded; pin them so the two
        // exceptAll arms don't re-run the corpus tokenization pass each
        val merged = CountMin.merge(
          (0 until 3).map(b => s.read.parquet(s"$path/day=$b")))
          .localCheckpoint()
        val direct = CountMin.sketch(toks, "word", depth = 4, width = 1024,
          seed = 7L).localCheckpoint()
        val diff = merged.exceptAll(direct).count() +
          direct.exceptAll(merged).count()
        require(diff == 0,
          s"CMS counter merge must be exact; $diff cells differ")
        val truth = toks.groupBy(col("word"))
          .agg(count(lit(1)).as("true_count"))
        val probes = truth.orderBy(col("true_count").desc, col("word"))
          .limit(30)
        CountMin.estimate(probes, "word", merged, depth = 4, width = 1024,
          seed = 7L)
          .join(probes, "word")
          .select(col("word"), col("true_count"), col("cm_estimate"),
            lit(3L).as("n_batches"), lit(true).as("merge_lossless"))
      },
      Some("""
        WITH t AS (
          SELECT w FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents)
          WHERE length(w) > 0
        ), tc AS (
          SELECT w, count(*) AS true_count FROM t GROUP BY w
        ), top AS (
          SELECT w, true_count FROM tc ORDER BY true_count DESC, w LIMIT 30
        ), rows_ AS (
          SELECT unnest(generate_series(0, 3)) AS r
        ), rb AS (
          SELECT r, (('0x' || substring(md5('7:' || r || ':' || w), 1, 8))::BIGINT
            % 1024) AS b
          FROM t, rows_
        ), cms AS (
          SELECT r, b, count(*) AS c FROM rb GROUP BY r, b
        ), pc AS (
          SELECT w, r, (('0x' || substring(md5('7:' || r || ':' || w), 1, 8))::BIGINT
            % 1024) AS b
          FROM top, rows_
        ), est AS (
          SELECT w, min(COALESCE(c, 0)) AS cm_estimate
          FROM pc LEFT JOIN cms USING (r, b) GROUP BY w
        )
        SELECT top.w AS word, true_count, cm_estimate,
          CAST(3 AS BIGINT) AS n_batches, TRUE AS merge_lossless
        FROM top JOIN est USING (w)
      """.stripMargin.trim)),

    // ── X140: cross-modality integrity report — the feature-store
    //    consistency artifact beside x105's snapshot diff: every doc is
    //    supposed to carry an embedding, and silent gaps (failed encode
    //    jobs, partial backfills) skew every downstream ANN/dedup stage
    //    that assumes coverage. One id-keyed LEFT join (ids only — text
    //    and vectors never shuffle together; the norm is computed
    //    corpus-side before the join), per-source coverage counts plus
    //    the matched vectors' norm mass in integer micro-units (the
    //    x119 device — exact BIGINT sums, no distributed-double-sum
    //    hazard). The vec_id % 9 != 0 filter injects a deterministic
    //    coverage gap so the report's missing-count path is exercised;
    //    production passes the store unfiltered. FULL oracle ──
    QueryDef(
      "x140_modality_integrity",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val v = col("embedding").cast("array<double>")
        val nm = Tables.embeddings(s, dir)
          .filter(col("vec_id") % 9 =!= 0) // injected backfill gap
          .select(col("vec_id"),
            round(sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x)) * 1e6, 0)
              .cast("long").as("nmic"))
        docs.select(col("doc_id"), col("source"))
          .join(nm, col("vec_id") === col("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("vec_id")).as("n_with_vec"),
            (count(lit(1)) - count(col("vec_id"))).as("n_missing_vec"),
            coalesce(sum(col("nmic")), lit(0L)).as("sum_norm_micro"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id % 9 <> 0
        ), nm AS (
          SELECT vec_id,
            CAST(round(sqrt(list_reduce(list_transform(v, x -> x * x),
              (a, b) -> a + b)) * 1000000) AS BIGINT) AS nmic
          FROM e
        )
        SELECT d.source,
          count(*) AS n_docs,
          count(nm.vec_id) AS n_with_vec,
          count(*) - count(nm.vec_id) AS n_missing_vec,
          CAST(coalesce(sum(nmic), 0) AS BIGINT) AS sum_norm_micro
        FROM documents d LEFT JOIN nm ON nm.vec_id = d.doc_id
        GROUP BY d.source
      """.stripMargin.trim)),

    // ── X76: HyperLogLog distinct-count sketch (functions.Hll) — the
    //    mergeable cardinality sketch beside x74's frequency sketch,
    //    per-source distinct-token estimates vs exact counts. The md5
    //    hash, bin()-length ranks, exact dyadic harmonic sum and the
    //    x36-precedent ln parity make the WHOLE estimate (including the
    //    linear-counting small-range branch, which this corpus's ~31
    //    distinct tokens per source exercises) bit-replayable in DuckDB
    //    — a FULL oracle over a sketch usually shipped as an opaque
    //    blob ──
    QueryDef(
      "x76_hll_tokens",
      (s, dir) => {
        import graft.functions.Hll
        val toks = Tables.documents(s, dir)
          .select(col("source"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
        val regs = Hll.registersBy(toks, Seq("source"), "word", p = 7, seed = 7L)
        val est = Hll.estimateBy(regs, Seq("source"), p = 7)
        val exact = toks.groupBy(col("source"))
          .agg(countDistinct(col("word")).as("n_exact"))
        est.join(exact, "source")
          .select(col("source"), col("n_exact"), col("n_present"),
            col("v_zero"),
            round(col("harmonic_sum"), 6).as("harmonic_sum"),
            round(col("hll_estimate"), 6).as("hll_estimate"))
      },
      Some("""
        WITH t AS (
          SELECT source, w FROM (
            SELECT source,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents)
          WHERE length(w) > 0
        ), h AS (
          SELECT source, w,
            ('0x' || substring(md5('7:' || w), 1, 12))::BIGINT AS h
          FROM t
        ), ir AS (
          SELECT source, h >> 41 AS idx,
            CASE WHEN h % 2199023255552 = 0 THEN 42
                 ELSE 42 - length(bin(h % 2199023255552)) END AS rk
          FROM h
        ), regs AS (
          SELECT source, idx, max(rk) AS r FROM ir GROUP BY 1, 2
        ), agg AS (
          SELECT source, count(*) AS n_present,
            sum(power(2.0, -r)) AS sp
          FROM regs GROUP BY source
        ), est AS (
          SELECT source, n_present,
            128 - n_present AS v_zero,
            sp + (128.0 - n_present) AS s_
          FROM agg
        ), fin AS (
          SELECT source, n_present, v_zero, s_,
            (0.7213/(1 + 1.079/128.0))*128*128 / s_ AS eraw
          FROM est
        ), ex AS (
          SELECT source, count(DISTINCT w) AS n_exact FROM t GROUP BY source
        )
        SELECT f.source, n_exact, n_present,
          CAST(v_zero AS BIGINT) AS v_zero,
          round(s_, 6) AS harmonic_sum,
          round(CASE WHEN eraw <= 320.0 AND v_zero > 0
                THEN 128.0 * ln(128.0 / v_zero) ELSE eraw END, 6)
            AS hll_estimate
        FROM fin f JOIN ex USING (source)
      """.stripMargin.trim)),

    // ── X115: persisted sketch ROLLUP — the pattern that makes x76's
    //    HLL matter at 100 TB: three "daily" batches each persist their
    //    per-source registers (a few KB of parquet per day), the
    //    monthly job merges the register files WITHOUT rescanning any
    //    text, and a require() proves losslessness at runtime (merged
    //    registers == direct whole-corpus registers, both directions).
    //    FULL oracle: merge-lossless means the direct x76 replay IS the
    //    rollup's answer ──
    QueryDef(
      "x115_sketch_rollup",
      (s, dir) => {
        import graft.functions.Hll
        val path = Scratch.forInput("hll_rollup", dir)
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
        // all three per-day register frames in ONE corpus pass (the day
        // key joins the group cols — per-(source,day) maxima are identical
        // to three per-slice builds); partitionBy keeps the per-day
        // register FILES and the per-day read paths below are unchanged
        Hll.registersBy(
          toks.withColumn("day", pmod(col("doc_id"), lit(3))),
          Seq("source", "day"), "word", p = 7, seed = 7L)
          .write.mode("overwrite").partitionBy("day").parquet(path)
        val back = (0 until 3).map(b => s.read.parquet(s"$path/day=$b"))
        val merged = Hll.merge(back, Seq("source"))
        val direct = Hll.registersBy(toks, Seq("source"), "word", p = 7, seed = 7L)
        val diff = merged.exceptAll(direct).count() +
          direct.exceptAll(merged).count()
        require(diff == 0,
          s"HLL register merge must be lossless; $diff rows differ")
        Hll.estimateBy(merged, Seq("source"), p = 7)
          .select(col("source"), col("n_present"),
            col("v_zero").cast("long").as("v_zero"),
            round(col("harmonic_sum"), 6).as("harmonic_sum"),
            round(col("hll_estimate"), 6).as("hll_estimate"),
            lit(3L).as("n_batches"), lit(true).as("merge_lossless"))
      },
      Some("""
        WITH t AS (
          SELECT source, w FROM (
            SELECT source,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents)
          WHERE length(w) > 0
        ), h AS (
          SELECT source, w,
            ('0x' || substring(md5('7:' || w), 1, 12))::BIGINT AS h
          FROM t
        ), ir AS (
          SELECT source, h >> 41 AS idx,
            CASE WHEN h % 2199023255552 = 0 THEN 42
                 ELSE 42 - length(bin(h % 2199023255552)) END AS rk
          FROM h
        ), regs AS (
          SELECT source, idx, max(rk) AS r FROM ir GROUP BY 1, 2
        ), agg AS (
          SELECT source, count(*) AS n_present,
            sum(power(2.0, -r)) AS sp
          FROM regs GROUP BY source
        ), est AS (
          SELECT source, n_present,
            128 - n_present AS v_zero,
            sp + (128.0 - n_present) AS s_
          FROM agg
        ), fin AS (
          SELECT source, n_present, v_zero, s_,
            (0.7213/(1 + 1.079/128.0))*128*128 / s_ AS eraw
          FROM est
        )
        SELECT source, n_present,
          CAST(v_zero AS BIGINT) AS v_zero,
          round(s_, 6) AS harmonic_sum,
          round(CASE WHEN eraw <= 320.0 AND v_zero > 0
                THEN 128.0 * ln(128.0 / v_zero) ELSE eraw END, 6)
            AS hll_estimate,
          CAST(3 AS BIGINT) AS n_batches,
          TRUE AS merge_lossless
        FROM fin
      """.stripMargin.trim)),

    // ── X78: deterministic shard writer + persisted-file manifest
    //    (Pipeline.writeShards) — the dataset-shipping stage: md5-routed
    //    shards written as partitioned parquet, manifest recomputed from
    //    the FILES (docs, tokens, id range, order-independent content
    //    fingerprint per shard). FULL oracle: shard routing and every
    //    manifest column replay from `documents` in DuckDB — a manifest
    //    mismatch means the write lost or altered rows ──
    QueryDef(
      "x78_shard_manifest",
      (s, dir) => {
        val path = Scratch.forInput("shards", dir)
        Pipeline.writeShards(Tables.documents(s, dir), "doc_id", "text",
          path, nShards = 8)
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text,
            ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
              AS shard
          FROM documents
        ), t AS (
          SELECT shard, doc_id,
            len(string_split_regex(trim(text), '\s+')) AS ntok,
            ('0x' || substring(md5(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 8))::BIGINT
              AS ch
          FROM d
        )
        SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
          CAST(sum(ntok) AS BIGINT) AS n_tokens,
          CAST(min(doc_id) AS BIGINT) AS id_min,
          CAST(max(doc_id) AS BIGINT) AS id_max,
          CAST(sum(ch) AS BIGINT) AS content_sum
        FROM t GROUP BY shard
      """.stripMargin.trim)),

    // ── X80: URL canonicalization + canonical-URL dedup (Urls) — the
    //    cheapest dedup stage of a crawl pipeline, run before any
    //    content-based stage (RefinedWeb orders it first for exactly this
    //    reason). Synthetic URLs planted per doc_id exercise every rule:
    //    upper-case scheme, WWW. prefix, default :443 port, trailing
    //    slash, utm_* trackers in shifting positions, #fragment. FULL
    //    oracle: the same regex chain + param sort replays in DuckDB, so
    //    both sides compute canonical_url from the same raw string ──
    QueryDef(
      "x80_url_dedup",
      (s, dir) => {
        val d = col("doc_id")
        val raw = concat(
          when(d % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          when(d % 5 === 0, lit("WWW.")).otherwise(lit("")),
          col("source"), lit(".example.com"),
          when(d % 4 === 0, lit(":443")).otherwise(lit("")),
          lit("/docs/"), (d % 50).cast("string"),
          when(d % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?"),
          when(d % 2 === 0, concat(lit("utm_source=feed&id="), (d % 25).cast("string")))
            .otherwise(concat(lit("id="), (d % 25).cast("string"), lit("&utm_campaign=x"))),
          when(d % 7 === 0, lit("#frag")).otherwise(lit("")))
        graft.text.Urls.dedupByUrl(
          Tables.documents(s, dir).withColumn("url", raw), "url", "doc_id")
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
            (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
            source || '.example.com' ||
            (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
            '/docs/' || CAST(doc_id % 50 AS VARCHAR) ||
            (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
            '?' ||
            (CASE WHEN doc_id % 2 = 0
              THEN 'utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR)
              ELSE 'id=' || CAST(doc_id % 25 AS VARCHAR) || '&utm_campaign=x' END) ||
            (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
          FROM documents
        ), c1 AS (
          SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM u
        ), c2 AS (
          SELECT doc_id,
            lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS host0,
            regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1) AS path0,
            regexp_extract(nf, '\?(.*)', 1) AS q0
          FROM c1
        ), c3 AS (
          SELECT doc_id, scheme,
            CASE WHEN scheme = 'https'
                 THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':443$', '')
                 WHEN scheme = 'http'
                 THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':80$', '')
                 ELSE regexp_replace(host0, '^www\.', '') END AS host,
            CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                 ELSE regexp_replace(path0, '/+$', '') END AS path,
            COALESCE(array_to_string(list_sort(list_filter(string_split(q0, '&'),
              x -> x <> '' AND NOT regexp_matches(x,
                '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref)(=|$)'))),
              '&'), '') AS qs
          FROM c2
        )
        SELECT scheme || '://' || host || path ||
            (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canonical_url,
          count(*) AS n_docs, min(doc_id) AS keeper_id
        FROM c3 GROUP BY 1
      """.stripMargin.trim)),

    // ── X87: JSONL ingest with corrupt-record quarantine — the
    //    wire-format robustness surface every crawl ingest needs: JSONL
    //    written to disk with a deterministic fraction of lines
    //    truncated mid-record (doc_id % 97 == 0), read back
    //    schema-enforced in PERMISSIVE mode with `_corrupt_record`, and
    //    accounted per source with corrupt rows quarantined under
    //    `__corrupt` instead of poisoning the batch (the
    //    FAILFAST/silent-DROPMALFORMED alternatives lose either the
    //    batch or the accounting). FULL oracle: the truncation rule
    //    replays from `documents` ──
    QueryDef(
      "x87_jsonl_ingest",
      (s, dir) => {
        val path = Scratch.forInput("jsonl", dir)
        val line = to_json(struct(col("doc_id"), col("lang"), col("source"), col("n_chars")))
        Tables.documents(s, dir)
          .select(when(col("doc_id") % 97 === 0, substring(line, 1, 10))
            .otherwise(line).as("value"))
          .write.mode("overwrite").text(path)
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, _corrupt_record STRING")
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(path)
          .groupBy(coalesce(col("source"), lit("__corrupt")).as("source"))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
      },
      Some("""
        SELECT source, count(*) AS n_rows,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id % 97 <> 0 GROUP BY source
        UNION ALL
        SELECT '__corrupt' AS source, count(*) AS n_rows, 0 AS sum_chars
        FROM documents WHERE doc_id % 97 = 0
      """.stripMargin.trim)),

    // ── X88: schema-evolution ingest (mergeSchema) — the second
    //    production ingest surface: an early batch written WITHOUT the
    //    `lang` column, a later batch WITH it, both read as one frame
    //    via mergeSchema with the missing column null-filled for old
    //    rows. The accounting proves old batches stay readable and the
    //    new column attaches only where it exists. FULL oracle: the
    //    batch split rule replays from `documents` ──
    QueryDef(
      "x88_schema_evolution",
      (s, dir) => {
        val path = Scratch.forInput("evo", dir)
        val docs = Tables.documents(s, dir)
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$path/batch=1")
        docs.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
          .write.mode("overwrite").parquet(s"$path/batch=2")
        s.read.option("mergeSchema", "true").parquet(path)
          .groupBy(col("batch"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("lang")).as("n_with_lang"),
            sum(col("n_chars")).as("sum_chars"))
      },
      Some("""
        SELECT CAST(1 AS INT) AS batch, count(*) AS n_rows,
          CAST(0 AS BIGINT) AS n_with_lang,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT CAST(2 AS INT) AS batch, count(*) AS n_rows,
          count(lang) AS n_with_lang,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id % 2 <> 0
      """.stripMargin.trim)),

    // ── X94: the dataset card — the per-source report a corpus release
    //    ships: volume, token mass, exact length quantiles (p50/p90,
    //    linear-interpolated — `percentile`, never approx, per the oracle
    //    contract), language spread, and the exact-duplicate rate (docs
    //    sharing a content hash beyond the keeper). Two aggregation
    //    passes: hash-group for the dup rate, one grouped pass for the
    //    rest; FULL oracle. Scale note: exact `percentile` buffers each
    //    group's values — right for a report over ≤ thousands of sources,
    //    wrong for per-document groups; at 100 TB swap in
    //    `approx_percentile(…, 0.5, 10000)` (same plan shape, GK-sketch
    //    bounded memory) and accept the sketch error in the card ──
    QueryDef(
      "x94_dataset_card",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val dups = docs
          .groupBy(graft.text.TextOps.contentHash(col("text")).as("__h"),
            col("source"))
          .agg(count(lit(1)).as("__n"))
          .groupBy(col("source"))
          .agg(sum(col("__n") - 1).as("n_exact_dups"))
        docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            expr("CAST(percentile(n_chars, 0.5) AS DOUBLE)").as("p50_chars"),
            expr("CAST(percentile(n_chars, 0.9) AS DOUBLE)").as("p90_chars"),
            countDistinct(col("lang")).as("n_langs"),
            sum(size(split(trim(col("text")), "\\s+"))
              .cast("long")).as("n_words"))
          .join(dups, Seq("source"))
          .withColumn("dup_rate",
            round(col("n_exact_dups").cast("double") / col("n_docs"), 6))
      },
      Some("""
        WITH d AS (
          SELECT source,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
            n_chars,
            len(string_split_regex(trim(text), '\s+')) AS nw,
            lang
          FROM documents
        ), dups AS (
          SELECT source, CAST(sum(n - 1) AS BIGINT) AS n_exact_dups FROM (
            SELECT source, h, count(*) AS n FROM d GROUP BY 1, 2)
          GROUP BY 1
        ), card AS (
          SELECT source, count(*) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS p50_chars,
            CAST(quantile_cont(n_chars, 0.9) AS DOUBLE) AS p90_chars,
            count(DISTINCT lang) AS n_langs,
            CAST(sum(nw) AS BIGINT) AS n_words
          FROM d GROUP BY 1
        )
        SELECT card.*, dups.n_exact_dups,
          round(CAST(dups.n_exact_dups AS DOUBLE) / card.n_docs, 6) AS dup_rate
        FROM card JOIN dups USING (source)
      """.stripMargin.trim)),

    // ── X107: deterministic global shuffle + round-robin sharding
    //    (Pipeline.globalShuffle) — the training-epoch ORDER between
    //    packing and shipping: rank = position in the total
    //    (md5 coin, id) order, shard = rank mod n, so every shard is an
    //    unbiased interleaved sample of the corpus. Range sort + the
    //    two-pass zipWithIndex device (never a one-task global window).
    //    FULL per-doc oracle: DuckDB replays the coin and the row_number
    //    order exactly ──
    QueryDef(
      "x107_global_shuffle",
      (s, dir) => {
        Pipeline.globalShuffle(Tables.documents(s, dir), "doc_id",
          nShards = 8, seed = 7L)
          .select(col("doc_id"), col("source"), col("shuffle_rank"),
            col("shard"))
      },
      Some("""
        SELECT doc_id, source,
          row_number() OVER (ORDER BY
            (('0x' || substring(md5('7:' || doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0), doc_id) - 1 AS shuffle_rank,
          (row_number() OVER (ORDER BY
            (('0x' || substring(md5('7:' || doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0), doc_id) - 1) % 8 AS shard
        FROM documents
      """.stripMargin.trim)),

    // ── X106: approx-quantile sketch with a PROVEN rank-error bound —
    //    the 100 TB path x94's scale note promises: exact `percentile`
    //    buffers every group's values (a sort at scale), while
    //    `approx_percentile` is a mergeable GK-style sketch with
    //    deterministic rank error ≤ n/accuracy. The query computes both,
    //    counts the approx value's true rank interval (lt, le) with one
    //    join-back pass, and emits the bound verdict
    //    floor((p−ε)·n) ≤ rank ≤ ceil((p+ε)·n) as a column — the oracle
    //    pins the EXACT quantiles numerically and the verdicts to TRUE,
    //    so a sketch regression past its contract hash-fails ──
    QueryDef(
      "x106_quantile_sketch",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          col("value").cast("double"))
        val eps = 0.01 // accuracy 100 → relative rank error ≤ 1%
        val approx = ev.groupBy(col("event_type"))
          .agg(expr("approx_percentile(value, array(0.5D, 0.9D), 100)").as("__ap"),
            count(lit(1)).as("n"))
          .select(col("event_type"), col("n"),
            element_at(col("__ap"), 1).as("__a50"),
            element_at(col("__ap"), 2).as("__a90"))
        import org.apache.spark.sql.Column
        def bound(p: Double, le: Column, lt: Column, n: Column): Column =
          le >= floor(lit(p - eps) * n) && lt <= ceil(lit(p + eps) * n)
        ev.join(broadcast(approx), Seq("event_type"))
          .groupBy(col("event_type"), col("n"))
          .agg(
            expr("CAST(percentile(value, 0.5D) AS DOUBLE)").as("__e50"),
            expr("CAST(percentile(value, 0.9D) AS DOUBLE)").as("__e90"),
            sum(when(col("value") <= col("__a50"), 1L).otherwise(0L)).as("__le50"),
            sum(when(col("value") < col("__a50"), 1L).otherwise(0L)).as("__lt50"),
            sum(when(col("value") <= col("__a90"), 1L).otherwise(0L)).as("__le90"),
            sum(when(col("value") < col("__a90"), 1L).otherwise(0L)).as("__lt90"))
          .select(col("event_type"), col("n"),
            round(col("__e50"), 6).as("p50_exact"),
            round(col("__e90"), 6).as("p90_exact"),
            bound(0.5, col("__le50"), col("__lt50"), col("n")).as("p50_within_bound"),
            bound(0.9, col("__le90"), col("__lt90"), col("n")).as("p90_within_bound"))
      },
      Some("""
        SELECT event_type, count(*) AS n,
          round(quantile_cont(value, 0.5), 6) AS p50_exact,
          round(quantile_cont(value, 0.9), 6) AS p90_exact,
          TRUE AS p50_within_bound,
          TRUE AS p90_within_bound
        FROM events GROUP BY event_type
      """.stripMargin.trim)),

    // ── X97: C4 line-level cleaning (Quality.c4LineClean/c4DocKeep, the
    //    published Raffel et al. heuristics). The corpus text is
    //    single-line, so each doc is rebuilt into planted 5-word lines
    //    whose terminators / javascript poison / brace block follow
    //    doc_id arithmetic — every rule fires on a known subset. The
    //    oracle derives the SAME accounting purely arithmetically (line
    //    keep = terminator + word-count + poison predicates), so the
    //    string pipeline must agree with first principles ──
    QueryDef(
      "x97_c4_line_clean",
      (s, dir) => {
        val d = col("doc_id")
        val raw = concat(
          array_join(
            element_at(transform(array(split(trim(col("text")), "\\s+")), w =>
              transform(
                sequence(lit(0), ceil(size(w) / lit(5.0)).cast("int") - 1),
                i => {
                  val li = array_join(slice(w, i * 5 + 1, lit(5)), " ")
                  when(pmod(d + i, lit(11)) === 0, concat(li, lit(" javascript.")))
                    .when(pmod(d + i, lit(3)) === 0, concat(li, lit(".")))
                    .when(pmod(d + i, lit(3)) === 1, concat(li, lit("?")))
                    .otherwise(li)
                })), 1),
            "\n"),
          when(d % 13 === 0, lit("\n{ code block }")).otherwise(lit("")))
        Tables.documents(s, dir)
          .withColumn("__raw", raw)
          .withColumn("__c", graft.text.Quality.c4LineClean(col("__raw")))
          .withColumn("__keep",
            graft.text.Quality.c4DocKeep(col("__raw"), col("__c")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("__keep"), 1L).otherwise(0L)).as("n_docs_kept"),
            sum(when(col("__keep"),
              size(filter(split(col("__c"), "\n"), l => length(l) > 0)).cast("long"))
              .otherwise(0L)).as("n_lines_out"),
            sum(when(col("__keep"), length(col("__c")).cast("long"))
              .otherwise(0L)).as("sum_chars_out"))
      },
      Some("""
        WITH wdoc AS (
          SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
          FROM documents
        ), ln AS (
          SELECT doc_id, source, i.i AS i,
            len(w) - i.i * 5 AS remaining,
            len(array_to_string(w[(i.i*5+1):(i.i*5+5)], ' ')) AS lilen
          FROM wdoc,
            (SELECT unnest(generate_series(0,
              CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS i) i
        ), lk AS (
          SELECT doc_id, source, i, lilen,
            CASE WHEN (doc_id + i) % 11 = 0 THEN 0
                 WHEN (doc_id + i) % 3 IN (0, 1) AND least(remaining, 5) >= 3 THEN 1
                 ELSE 0 END AS keep
          FROM ln
        ), agg AS (
          SELECT doc_id, source, sum(keep) AS nkept,
            sum(CASE WHEN keep = 1 THEN lilen + 1 ELSE 0 END) AS kchars
          FROM lk GROUP BY 1, 2
        )
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN nkept >= 3 AND doc_id % 13 <> 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
          CAST(sum(CASE WHEN nkept >= 3 AND doc_id % 13 <> 0
            THEN nkept ELSE 0 END) AS BIGINT) AS n_lines_out,
          CAST(sum(CASE WHEN nkept >= 3 AND doc_id % 13 <> 0
            THEN kchars + nkept - 1 ELSE 0 END) AS BIGINT) AS sum_chars_out
        FROM agg GROUP BY 1
      """.stripMargin.trim)),

    // ── X102: single-pass pipeline telemetry (`observe`/Observation) —
    //    the production counters question: "how many rows went IN to this
    //    filter?" answered WITHOUT a second scan. An observe() node
    //    before the gate collects input row/char totals as a side channel
    //    of the same action that counts the output; the oracle recomputes
    //    both from the base table, so the observed values must equal a
    //    real re-aggregation ──
    QueryDef(
      "x102_observed_clean",
      (s, dir) => {
        val obs = org.apache.spark.sql.Observation(s"x102_${System.nanoTime()}")
        val gated = Tables.documents(s, dir)
          .observe(obs, count(lit(1)).as("rows_in"),
            sum(col("n_chars")).as("chars_in"))
          .filter(length(col("text")) >= 50)
        val kept = gated.count() // ONE scan: fills the counters AND the output count
        val m = obs.get
        import s.implicits._
        Seq((m("rows_in").asInstanceOf[Long], m("chars_in").asInstanceOf[Long],
          kept)).toDF("rows_in", "chars_in", "rows_kept")
      },
      Some("""
        SELECT count(*) AS rows_in,
          CAST(sum(n_chars) AS BIGINT) AS chars_in,
          CAST(sum(CASE WHEN length(text) >= 50 THEN 1 ELSE 0 END) AS BIGINT)
            AS rows_kept
        FROM documents
      """.stripMargin.trim)),

    // ── X120: RAG-style per-document sliding-window chunking
    //    (Pipeline.chunkSliding) — overlapping 32-token windows at
    //    stride 24 (8 tokens of shared context), the retrieval chunk
    //    layout every embedding/eval stage keys on. Per-row array
    //    arithmetic: zero shuffles, no window functions, embarrassingly
    //    parallel at any corpus size (contrast x25's corpus-layout
    //    cumsum). Emission stops once the previous chunk reached the
    //    doc's end — a short tail appears once, never as a redundant
    //    suffix. FULL oracle: starts, slices and the chunk md5 replay
    //    as DuckDB list arithmetic ──
    QueryDef(
      "x120_chunk_sliding",
      (s, dir) => {
        Pipeline.chunkSliding(Tables.documents(s, dir),
          Seq("doc_id"), "text", chunkTokens = 32, stride = 24)
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
              ' ') AS w
          FROM documents
        ), st AS (
          SELECT doc_id, w, len(w) AS nw,
            s.s AS start_token, (s.s / 24)::INT AS chunk_idx
          FROM d, LATERAL (SELECT unnest(generate_series(0,
            greatest(len(w) - 1, 0), 24)) AS s) s
          WHERE s.s = 0 OR s.s + 8 < len(w)
        )
        SELECT doc_id, chunk_idx, CAST(start_token AS INT) AS start_token,
          CAST(least(32, nw - start_token) AS INT) AS n_chunk_tokens,
          md5(array_to_string(w[(start_token + 1):(start_token + 32)], ' '))
            AS chunk_hash
        FROM st
      """.stripMargin.trim)),

    // ── X121: exact heavy hitters via the two-pass
    //    candidate-then-verify pattern (HeavyHitters.heavyTokens —
    //    Manku–Motwani lossy counting per partition, union-of-summaries
    //    superset guarantee, then an exact count restricted to the
    //    broadcast candidate set). The 100 TB shape: the naive
    //    groupBy shuffles the whole vocabulary; here the shuffle carries
    //    only candidate survivors and the sketch pass is map-side only.
    //    minSupport 3% ≥ ε 0.3% is the completeness condition that
    //    licenses the exact GROUP BY … HAVING oracle ──
    QueryDef(
      "x121_heavy_hitters",
      (s, dir) => {
        graft.text.HeavyHitters.heavyTokens(Tables.documents(s, dir),
          "text", minSupport = 0.03, epsilon = 0.003)
      },
      Some("""
        WITH w AS (
          SELECT unnest(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' ')) AS token
          FROM documents
        ), tot AS (SELECT count(*) AS n FROM w)
        SELECT token, count(*) AS n
        FROM w GROUP BY token
        HAVING count(*) >= (SELECT ceil(0.03 * n) FROM tot)
      """.stripMargin.trim))
  )
}

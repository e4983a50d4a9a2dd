package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Text-analysis / deduplication operators for LLM-data-pipeline work over
  * the `documents` table (north-star extras, SURVEY §2.8). Pure Catalyst
  * expressions — codegen'd, no UDFs, shuffle only at the final aggregate —
  * except the one deliberate imperative kernel, [[cappedBucketPairs]]'s
  * streaming per-bucket pair generator (bounded-memory by construction,
  * which no expression tree can promise).
  */
object TextOps {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Canonical normalized form for exact dedup: lowercase, collapse
    * whitespace runs, trim.
    */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** 128-bit content fingerprint of the normalized text (md5 hex —
    * identical in DuckDB, so oracle-able).
    */
  def contentHash(text: Column): Column = md5(normalize(text))

  /** Exact deduplication: keep one row per normalized-content hash.
    * `keepBy` orders candidates (first wins) — deterministic, unlike
    * `dropDuplicates`. One shuffle on the hash.
    */
  def exactDedup(df: DataFrame, textCol: String, keepBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(contentHash(col(textCol)))
      .orderBy(keepBy.map(col): _*)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** C4-style corpus-level span deduplication (Raffel et al. 2020, §2.2:
    * "we discard all but one of any three-sentence span occurring more
    * than once"): split every document into units on `splitPattern`,
    * keep the FIRST occurrence (by `(idCol, position)` order) of each
    * normalized unit ACROSS THE CORPUS, and rebuild each document from
    * its surviving units joined with `sep`. Documents whose units all
    * lose vanish (C4 drops emptied docs). Within-doc repeats dedup too
    * (the first position wins).
    *
    * Scale shape: one shuffle keyed by the unit hash (first-occurrence
    * rank), one by doc id (reassembly) — unit text rides both shuffles
    * because reassembly needs it, exactly the C4 job shape; the rank
    * uses `WindowGroupLimit` so each hash partition retains one row
    * before the exchange.
    *
    * Output: `idCol`, rebuilt `text`, `n_units` kept.
    */
  def dedupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitPattern: String = "\\.",
      sep: String = "."): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val units = graft.Tables.spread(df)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), splitPattern)).as(Seq("__pos", "__u")))
      .filter(length(trim(col("__u"))) > 0)
      .withColumn("__h", md5(normalize(col("__u"))))
    val w = Window.partitionBy(col("__h")).orderBy(col("__id"), col("__pos"))
    units.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .groupBy(col("__id").as(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__u")))),
            x => x.getField("__u")), sep).as("text"),
        count(lit(1)).as("n_units"))
  }

  /** Per-group dedup summary: documents vs distinct normalized contents. */
  def dedupSummary(df: DataFrame, textCol: String, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(contentHash(col(textCol))).as("n_unique"))
      .withColumn("n_dupes", col("n_docs") - col("n_unique"))

  /** Language-ID stopword tables (tiny, inlined as literals so the whole
    * operator stays a codegen'd expression; n-gram heuristic per SURVEY
    * §2.8). Order matters: ties break in this order.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "dans"),
    "es" -> Seq("el", "la", "los", "que", "es", "no", "una", "con"))

  private def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isInCollection(words)))

  /** Heuristic language ID: argmax of per-language stopword hits over the
    * token stream, ties broken by [[langStopwords]] order. Appends
    * `predCol`.
    */
  def languageId(df: DataFrame, textCol: String, predCol: String = "pred_lang"): DataFrame = {
    val hits = langStopwords.map { case (lang, ws) =>
      lang -> stopwordHits(col(textCol), ws)
    }
    // sequential argmax: en wins ties vs all, then de vs rest, ...
    val pred = hits.zipWithIndex.foldRight(lit(hits.last._1)) {
      case (((lang, h), i), elseCol) =>
        val rest = hits.drop(i + 1)
        if (rest.isEmpty) elseCol
        else when(rest.map { case (_, h2) => h >= h2 }.reduce(_ && _), lit(lang))
          .otherwise(elseCol)
    }
    df.withColumn(predCol, pred)
  }

  /** Heuristic quality score in (0,1): logistic blend of length,
    * stopword ratio (any language) and punctuation ratio — the
    * length/punct/stopword recipe of SURVEY §2.8.
    */
  def qualityScore(df: DataFrame, textCol: String, outCol: String = "quality"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks).cast("double")
    val allStops = langStopwords.flatMap(_._2).distinct
    val stopRatio = size(filter(tokens(lower(t)), x => x.isInCollection(allStops)))
      .cast("double") / greatest(nTok, lit(1d))
    val punct = (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).cast("double")
    val punctRatio = punct / greatest(length(t).cast("double"), lit(1d))
    val z = lit(0.2) * log(lit(1d) + nTok) + lit(2d) * stopRatio - lit(8d) * punctRatio - lit(1d)
    df.withColumn(outCol, lit(1d) / (lit(1d) + exp(-z)))
  }

  /** Token statistics per group: doc count, mean whitespace-token count,
    * mean char length.
    */
  def tokenStats(df: DataFrame, textCol: String, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        avg(size(tokens(col(textCol))).cast("double")).as("avg_tokens"),
        avg(length(col(textCol)).cast("double")).as("avg_chars"))

  /** Character shingles (n-grams) of the normalized text, as a distinct
    * array — the unit set for Jaccard/MinHash near-dup. One native
    * [[graft.functions.Shingles]] pass per row; a text shorter than `n`
    * code points is its own single shingle.
    */
  def charShingles(text: Column, n: Int): Column =
    graft.functions.Shingles.chars(normalize(text), n)

  /** Word shingles (n-grams of whitespace tokens of the normalized text),
    * space-joined, as a distinct array — the coarser dedup unit for
    * paraphrase-ish near-dups (SURVEY §2.8 n-gram Jaccard). A text with
    * fewer than `n` tokens has none.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.Shingles.words(normalize(text), n)

  /** MinHash prime: smallest prime > 2^32, so `(a + k·b) mod P` with
    * 32-bit `a`,`b` stays collision-light and fits a long for k ≤ ~2^30.
    */
  val MinHashP = 4294967311L

  /** MinHash signature over the shingle set, one md5 per shingle.
    *
    * Each shingle is hashed ONCE (md5 → two 32-bit halves `a`,`b`); the k
    * hash functions are the double-hashing family `h_k = (a + k·b) mod P`
    * (Kirsch–Mitzenmacher 2006, "Less hashing, same performance"), and
    * `sig[k] = min over shingles of h_k`. `P(sig_a[k] = sig_b[k]) ≈
    * jaccard(a, b)` (Broder 1997). The whole signature is a single
    * `aggregate` expression — one pass over the shingle array with an
    * O(numHashes) accumulator — so Catalyst projection-collapse can't
    * duplicate the md5 work per hash function, and cost is
    * `|shingles| · (1 md5 + numHashes mults)` instead of
    * `|shingles| · numHashes` md5s. Reproducible verbatim in DuckDB
    * (`('0x' || substring(md5(x), …))::BIGINT`).
    */
  def minHashSignature(text: Column, shingleN: Int, numHashes: Int): Column = {
    val sh = charShingles(text, shingleN)
    val ab = transform(sh, s => {
      val m = md5(s)
      struct(
        conv(substring(m, 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(m, 9, 8), 16, 10).cast("long").as("b"))
    })
    aggregate(
      ab,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, p) => zip_with(
        acc,
        sequence(lit(0), lit(numHashes - 1)),
        (m, k) => least(m, (p.getField("a") + k * p.getField("b")) % MinHashP)))
  }

  /** Row-wise MinHash signatures: `(idCol, __sig array<long>)`, one row
    * per input row. Same hash family and values as [[minHashSignature]],
    * but computed as explode(shingles) → ONE single-pass
    * [[graft.functions.MinHashAgg]] holding all `numHashes` running minima
    * in a primitive array (one update call per shingle row, incremental
    * modular stepping — no per-hash expression re-evaluation), with
    * map-side partial signatures before the single shuffle on the id.
    * This is the shape that survives 100 TB: per-key state is `numHashes`
    * longs, no interpreted lambda on the hot path.
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int): DataFrame =
    minHashSignaturesBy(df, idCol, charShingles(col(textCol), shingleN), numHashes)

  /** [[minHashSignatures]] over an arbitrary shingle-array expression
    * (char n-grams, word n-grams, …).
    */
  def minHashSignaturesBy(
      df: DataFrame,
      idCol: String,
      shingles: Column,
      numHashes: Int): DataFrame = {
    // per-shingle md5 is the kernel's cost — make sure a degenerate input
    // layout (one small parquet split) doesn't serialize it on one core
    val exploded = graft.Tables.spread(df).select(
      col(idCol).as("__id"),
      explode(shingles).as("__s"))
    // one digest per shingle, no hex-string round-trip — values identical
    // to conv(substring(md5(s), …)) per Md5Pack's contract
    val p = graft.functions.Md5Pack(col("__s"))
    val withAb = exploded.select(
      col("__id"),
      shiftrightunsigned(p, 32).as("__a"),
      p.bitwiseAND(lit(0xFFFFFFFFL)).as("__b"))
    withAb.groupBy(col("__id"))
      .agg(graft.functions.MinHashAgg(col("__a"), col("__b"), numHashes, MinHashP)
        .as("__sig"))
  }

  /** Default hot-bucket cap for the banded near-dup paths
    * ([[nearDupPairsBy]], [[simHashDupPairs]],
    * [[graft.similarity.Ann.cosineDupPairs]]): buckets holding more than
    * this many candidates collapse to star pairs against the bucket's
    * minimum id instead of emitting all B²/2 in-bucket pairs. Chosen well
    * above anything a non-pathological band produces (a 16-band MinHash
    * bucket at j≈0.3 background similarity holds a handful of ids) — only
    * a genuine mass-duplicate cluster trips it, and for such a cluster the
    * star spanning tree preserves the dedup semantics (every member links
    * to the representative; the exact verify still runs per pair).
    */
  val MaxBucket = 256

  /** In-bucket ordered candidate pairs with a hot-bucket cap — the shared
    * kernel of the banded dedup paths. Input: `(__band, __key, __e)` rows,
    * one per (doc, band); `__e` is the doc's id (or an id-first struct
    * carrying a payload, e.g. the SimHash fingerprint). Output:
    * `(__a, __b)` element pairs with `__a < __b`.
    *
    * Buckets with ≤ `maxBucket` members emit all ordered pairs. Hotter
    * buckets — a B-sized bucket is one mass-duplicate cluster, exactly
    * what a dedup corpus produces — would otherwise emit B²/2 pairs
    * (quadratic output and a straggler at 100 TB), so they emit the B−1
    * star pairs `(min(__e), member)` instead: the spanning tree keeps the
    * cluster connected through the downstream exact verify while output
    * stays linear (the winnowing `maxDf` design, applied to buckets).
    *
    * Plan shape: ONE shuffle (hash-repartition on the bucket key), a
    * within-partition sort, and a streaming per-bucket pair generator —
    * `banded` (whose lineage is the expensive signature aggregation) is
    * consumed exactly once, guaranteed by construction rather than by
    * optimizer exchange-reuse (an earlier stats+anti-join formulation
    * re-executed the signature pipeline per branch: AQE materialized the
    * hot-stats stage, the anti-join stage and the star stage each with
    * their own copy of the upstream — visible as multiple
    * `simhash_agg`/`minhash_agg` exchanges in the executed plan).
    * Memory per bucket is O(maxBucket): a bucket is buffered only until
    * it either ends (≤ cap → all pairs from the buffer, sorted order) or
    * exceeds the cap (→ the buffered head IS the min since rows arrive
    * sorted; star pairs stream out with no further buffering).
    */
  private[graft] def cappedBucketPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
    val eType = banded.schema("__e").dataType
    val outSchema = StructType(Seq(
      StructField("__a", eType, nullable = false),
      StructField("__b", eType, nullable = false)))
    banded
      .select(col("__band"), col("__key"), col("__e"))
      .repartition(col("__band"), col("__key"))
      .sortWithinPartitions(col("__band"), col("__key"), col("__e"))
      .mapPartitions { rows =>
        new scala.collection.AbstractIterator[Row] {
          private val in = rows.buffered
          private var out: Iterator[Row] = Iterator.empty
          private def advance(): Unit = {
            while (!out.hasNext && in.hasNext) {
              val band = in.head.get(0)
              val key = in.head.get(1)
              def inBucket: Boolean =
                in.hasNext && in.head.get(0) == band && in.head.get(1) == key
              val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
              while (inBucket && buf.length <= maxBucket) buf += in.next().get(2)
              out =
                if (buf.length <= maxBucket) {
                  // complete small bucket: all ordered pairs (already sorted)
                  buf.indices.iterator.flatMap(i =>
                    (i + 1 until buf.length).iterator.map(j =>
                      Row(buf(i), buf(j))))
                } else {
                  // hot bucket: head is min(e); star pairs, remaining rows
                  // of the bucket stream through with no buffering
                  val rep = buf.head
                  buf.iterator.drop(1).map(m => Row(rep, m)) ++
                    new scala.collection.AbstractIterator[Row] {
                      override def hasNext: Boolean = inBucket
                      override def next(): Row = Row(rep, in.next().get(2))
                    }
                }
            }
          }
          override def hasNext: Boolean = { advance(); out.hasNext }
          override def next(): Row = { advance(); out.next() }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Jaccard similarity of two distinct-element array columns.
    * `array_intersect` is hash-set based (O(|a|+|b|)), not a nested scan —
    * this sits on the hot path of the near-dup re-rank.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Near-duplicate pairs by banded MinHash LSH + exact Jaccard re-rank
    * (SURVEY §2.8; the standard shingle→minhash→band→bucket-join
    * pipeline).
    *
    * Scale shape: the banded rows carry only (id, band, key) — `bands`
    * rows per document — so the candidate self-join shuffles keys, not
    * shingle sets; shingles are joined back only for the (rare) candidate
    * pairs before the exact Jaccard filter. Never all-pairs.
    *
    * Band sizing: P(two docs collide in ≥1 band) = 1−(1−j^rows)^bands.
    * The 16×8 default keeps background pairs (j≈0.3 on random text,
    * 16·0.3^8 ≈ 1e-3) out of the candidate join while catching
    * j ≥ 0.8 near-dups with ~95% probability — at 12M potential pairs
    * per 5k docs the candidate count is what decides whether this
    * finishes; rows-per-band is the scale knob, not an accuracy nicety.
    *
    * Output: `id_a`, `id_b` (id_a < id_b), `jaccard` (≥ threshold).
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = MaxBucket): DataFrame =
    nearDupPairsBy(df, idCol, charShingles(col(textCol), shingleN),
      numHashes, bands, threshold, maxBucket)

  /** [[nearDupPairs]] over an arbitrary shingle-array expression — word
    * n-gram Jaccard dedup is `nearDupPairsBy(df, id, wordShingles(text, 3))`.
    */
  def nearDupPairsBy(
      df: DataFrame,
      idCol: String,
      shingles: Column,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = MaxBucket): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs = minHashSignaturesBy(df, idCol, shingles, numHashes)
    val banded = sigs.select(
      col("__id").as("__e"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), slice(col("__sig"), b * rows + 1, rows).as("key"))
      }: _*)).as("__b"))
      .select(col("__e"), col("__b.band").as("__band"), col("__b.key").as("__key"))
    // bucket-grouped pair generation instead of a self-join: one shuffle of
    // (id, band, key) rows, in-bucket ordered pairs via array HOFs — the
    // signature pipeline is computed ONCE (a self-join would re-run it per
    // side; exchange reuse is at the planner's mercy) — with the hot-bucket
    // cap of [[cappedBucketPairs]] bounding mass-duplicate clusters
    val pairs = cappedBucketPairs(banded, maxBucket)
      .select(col("__a").as("id_a"), col("__b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Exact-Jaccard verify on the candidates ONLY: join the raw rows
    // first, compute shingles above the join — re-shingling the whole
    // corpus to feed a candidate join that keeps a handful of rows would
    // be a second full-corpus pass at scale. Sequential joins with a
    // projection between keep the shingle expression unambiguous (after
    // the first join only id/`__sha` survive alongside side B's columns).
    // Drop any pre-existing id_a/id_b columns (other than the id itself)
    // before renaming: a corpus carrying a column literally named
    // id_a/id_b would otherwise make the join/select ambiguous.
    val slim = df.drop(Seq("id_a", "id_b").filter(_ != idCol): _*)
    val dfA = slim.withColumnRenamed(idCol, "id_a")
    val dfB = slim.withColumnRenamed(idCol, "id_b")
    pairs.join(dfA, "id_a")
      .select(col("id_a"), col("id_b"), shingles.as("__sha"))
      .join(dfB, "id_b")
      .select(col("id_a"), col("id_b"), col("__sha"), shingles.as("__shb"))
      .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash fingerprints: `(idCol, __sim)` (Charikar 2002,
    * "Similarity estimation techniques from rounding algorithms" — the
    * Manku/Jain/Sarma WWW'07 web-dedup construction). Each shingle's
    * md5 supplies 64 bits (two 32-bit halves); bit j of the fingerprint
    * is the sign of Σ over shingles of ±1 for that bit. Same
    * explode-then-aggregate shape as [[minHashSignatures]] — one
    * single-pass [[graft.functions.SimHashAgg]] holding the 64 bit
    * counters in a primitive array, map-side partials before the single
    * shuffle on the id, reproducible verbatim in DuckDB.
    */
  def simHashes(
      df: DataFrame,
      idCol: String,
      shingles: Column): DataFrame = {
    val exploded = graft.Tables.spread(df)
      .select(col(idCol).as("__id"), explode(shingles).as("__s"))
    val p = graft.functions.Md5Pack(col("__s"))
    val withHalves = exploded.select(
      col("__id"),
      shiftrightunsigned(p, 32).as("__a"),
      p.bitwiseAND(lit(0xFFFFFFFFL)).as("__b"))
    withHalves.groupBy(col("__id"))
      .agg(graft.functions.SimHashAgg(col("__a"), col("__b")).as("__sim"))
  }

  /** SimHash near-dup pairs: fingerprints within Hamming distance
    * `maxDist`. Candidates come from a banded self-join — the fingerprint
    * is cut into `maxDist + 1` equal-width bands, and by pigeonhole two
    * fingerprints within `maxDist` agree exactly on at least one band
    * (Manku et al.'s table construction) — then verified with
    * `bit_count(xor)`. Banded rows carry only (id, band, key): the join
    * shuffles 16-bit keys, never fingerprint pairs, and is exact — unlike
    * MinHash banding there is no recall loss within `maxDist`.
    *
    * Output: `id_a < id_b`, `hamming` (≤ maxDist).
    */
  def simHashDupPairs(
      df: DataFrame,
      idCol: String,
      shingles: Column,
      maxDist: Int = 3,
      maxBucket: Int = MaxBucket): DataFrame = {
    val nBands = maxDist + 1
    val width = 64 / nBands
    val sims = simHashes(df, idCol, shingles)
    val banded = sims.select(
      // id-first struct: bucket min/sort order is the id order, and the
      // fingerprint rides along for the Hamming verify
      struct(col("__id"), col("__sim")).as("__e"),
      explode(array((0 until nBands).map { b =>
        // last band absorbs the remainder bits
        val w = if (b == nBands - 1) 64 - b * width else width
        val mask = if (w == 64) lit(-1L) else lit((1L << w) - 1)
        struct(lit(b).as("band"),
          shiftright(col("__sim"), b * width).bitwiseAND(mask).as("v"))
      }: _*)).as("__b"))
      .select(col("__e"), col("__b.band").as("__band"), col("__b.v").as("__key"))
    // bucket-grouped pair generation (see nearDupPairsBy): fingerprints are
    // computed once; pairs mint inside each (band, value) bucket, with the
    // hot-bucket cap of [[cappedBucketPairs]]
    cappedBucketPairs(banded, maxBucket)
      .select(col("__a.__id").as("id_a"), col("__b.__id").as("id_b"),
        bit_count(col("__a.__sim").bitwiseXOR(col("__b.__sim"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxDist)
  }

  /** BPE-ish token count: splits on word/punct boundaries then counts
    * ceil(len/4) subword units per long word — a deterministic stand-in
    * for a real BPE vocab (SURVEY §2.8 token counting).
    */
  def bpeishTokenCount(text: Column): Column = {
    val words = split(trim(text), "\\s+")
    aggregate(words, lit(0L),
      (acc, w2) => acc + ceil(length(w2).cast("double") / 4d).cast("long"))
  }

  /** Rolling-hash base/modulus (Rabin–Karp polynomial hash; B > any
    * codepoint byte, P prime keeps products in long range:
    * (P−1)·B + cp < 2^63).
    */
  val RollB = 257L
  val RollP = 1000000007L

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken 2003,
    * "Winnowing: local algorithms for document fingerprinting"):
    * Rabin–Karp polynomial hash of every k-gram of the normalized text,
    * then the minimum hash of each w-wide window of consecutive positions
    * (full windows only), deduplicated — a compact position-robust
    * fingerprint set. Guarantee: two docs sharing a run of ≥ w+k−1 chars
    * share at least one fingerprint.
    *
    * Plan: winnowing is a pure per-document function, so the WHOLE
    * fingerprint set is one fused expression — normalize once, hash each
    * gram with the unrolled `h = h·B + cp (mod P)` polynomial, slide the
    * w-wide min, dedupe — evaluated map-side with NO shuffle. An earlier
    * formulation exploded every gram row and ran window-min over
    * position, which shuffled and sorted a corpus-sized gram table
    * (≈ one row per character at 100 TB) for what a per-row expression
    * computes in place; only the final compact fingerprint set is
    * exploded for the candidate join. Each lambda input is bound once via
    * the array()+transform trick so the normalize regexp and the hash
    * array are evaluated per document, not per element.
    * Output: `(__id, __fp)`, distinct per doc.
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4): DataFrame = {
    require(k > 0 && w > 0)
    val fps = element_at(
      transform(array(normalize(col(textCol))), s => {
        // gram hashes h_i over chars i..i+k-1 (i is the 1-based start)
        val hs = when(length(s) < k + (w - 1), array().cast("array<bigint>"))
          .otherwise(transform(
            sequence(lit(1), length(s) - (k - 1)),
            i => (0 until k).foldLeft(lit(0L)) { (acc, j) =>
              (acc * RollB + ascii(s.substr(i + j, lit(1)))) % RollP
            }))
        element_at(transform(array(hs), hsb =>
          when(size(hsb) < w, array().cast("array<bigint>"))
            .otherwise(array_distinct(transform(
              sequence(lit(1), size(hsb) - (w - 1)),
              j => array_min(slice(hsb, j, lit(w))))))), 1)
      }), 1)
    graft.Tables.spread(df).select(
      col(idCol).as("__id"), explode(fps).as("__fp"))
  }

  /** Near-dup candidates by shared winnowing fingerprints: pairs of docs
    * sharing ≥ `minShared` fingerprints, with the shared count. The join
    * shuffles (fingerprint, id) rows — never document pairs — and
    * fingerprints occurring in more than `maxDf` documents are dropped
    * first (stop-fingerprint removal): ubiquitous fingerprints carry no
    * near-dup signal but dominate the self-join fan-out (Σ df² blow-up);
    * capping df is what keeps this bounded on a templated/boilerplate
    * corpus at scale.
    */
  def winnowDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 10,
      maxDf: Int = 16): DataFrame = {
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
    // bucket per fingerprint: DF cap and pair generation in one grouped
    // pass — fingerprints computed once, no self-join (see nearDupPairsBy)
    val bucketed = fp.groupBy(col("__fp"))
      .agg(collect_list(col("__id")).as("__xs"))
      .filter(size(col("__xs")).between(2, maxDf))
      // bind the SORTED array once (outer single-element transform) — the
      // nested pair lambdas reference it per element, and interpreted HOFs
      // re-evaluate their whole body per item (array_sort would re-sort
      // per outer element otherwise)
      .select(explode(element_at(
        transform(array(array_sort(col("__xs"))), s =>
          flatten(transform(s, (x, i) =>
            transform(slice(s, i + 2, size(s)),
              y => struct(x.as("a"), y.as("b")))))),
        1)).as("__p"))
    bucketed
      .groupBy(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus-level duplicated-span profile — the k-token-anchor
    * approximation of exact-substring dedup (Lee, Ippolito, Nystrom,
    * Zhang, Eck, Callison-Burch & Carlini 2022, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499, whose
    * suffix-array ExactSubstr finds all duplicated substrings ≥ L
    * tokens): every k-token gram occurring more than once in the corpus
    * (across docs OR repeated within one) marks its k positions as
    * duplicated; per document, overlapping/adjacent duplicated anchors
    * merge into maximal spans, and spans of at least `minLen` tokens are
    * reported. Any duplicated substring of ≥ k tokens is covered by
    * duplicated anchors, so ≥-minLen substrings are never missed;
    * distinct duplicate sources whose spans touch merge into one span
    * (the documented over-merge of the anchor approximation vs the
    * suffix array).
    *
    * Scale shape: one tokenize pass per doc (token array let-bound — the
    * HOF-binding rule), grams leave the doc as 16-hex-char md5 hashes
    * (ids+positions+hashes through the one shuffle, never gram text),
    * duplicated-hash detection is a count-≥-2 aggregate, and the span
    * merge is a per-doc ordered window (running max + flag-sum interval
    * merge) — no self-join, no all-pairs, output bounded by span count.
    *
    * Output per doc (docs with no qualifying span are absent):
    * `idCol, n_spans, dup_tokens, total_tokens, dup_frac (6 dp)`.
    *
    * Recall/precision contract vs the suffix-array algorithm (proved by
    * the planted-span recall spec in QualitySpec): anchors are taken at
    * EVERY token position (stride 1), so any exactly-duplicated
    * substring of >= minLen (>= k) tokens has all of its k-grams
    * duplicated and is FULLY covered by one reported span — recall over
    * duplicated token positions is exactly 1.0, independent of the
    * span's offset or length. The approximation is one-sided: spans can
    * only OVER-cover (touching spans from distinct duplicate sources
    * merge, and chains of individually-duplicated k-grams can assemble a
    * >= minLen span where no single >= minLen substring is duplicated).
    */
  def duplicatedSpanProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minLen: Int = 16): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k, minLen)
    spans.groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__x") - col("__s") + 1).as("dup_tokens"),
        first(col("__n")).cast("long").as("total_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens").cast("double") / col("total_tokens"), 6))
  }

  /** EXACT ExactSubstr profile — the suffix-array contract of Lee et al.
    * 2022 (every position inside an exactly-duplicated substring of
    * ≥ minLen tokens, and nothing else), as the `k = minLen`
    * instantiation of [[duplicatedSpanProfile]]. Why this is exact and
    * not an approximation: a position lies inside a duplicated
    * substring of length ≥ minLen IFF it is covered by a duplicated
    * window of EXACTLY minLen tokens (any longer duplicate contains
    * such a window over each of its positions; any duplicated
    * minLen-window is itself such a substring) — so marking duplicated
    * minLen-gram anchors at stride 1 and merging covers precisely the
    * ExactSubstr position set, with none of the k < minLen chain
    * over-merge (a chain of duplicated minLen-windows is itself fully
    * duplicated coverage). The suffix array is the low-memory path to
    * the same set; here each position hashes minLen tokens instead
    * (minLen/k × the anchor tier's per-position work) through the same
    * single count-≥-2 shuffle — the trade a distributed engine prefers.
    * Proved equal to the brute-force exact-window scan in QualitySpec.
    */
  def exactSubstrProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 16): DataFrame =
    duplicatedSpanProfile(df, idCol, textCol, k = minLen, minLen = minLen)

  /** Span-level frame behind [[duplicatedSpanProfile]]: one row per
    * maximal merged duplicated span of >= minLen tokens —
    * `__id, __s (0-based first token), __x (0-based last token,
    * inclusive), __n (doc token count)`. Exposed so the recall spec can
    * compare reported span extents against a brute-force duplicated-
    * substring scan position by position.
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && minLen >= k, s"need k >= 2, minLen >= k: $k $minLen")
    // 0-based anchor starts; empty when the doc is shorter than k tokens
    val grams = element_at(transform(array(split(normalize(col(textCol)), " ")), w =>
      when(size(w) >= k,
        transform(sequence(lit(0), size(w) - k),
          i => concat_ws(" ", slice(w, i + 1, lit(k)))))
        .otherwise(array().cast("array<string>"))), 1)
    val g = graft.Tables.spread(df)
      .select(col(idCol).as("__id"),
        size(split(normalize(col(textCol)), " ")).as("__n"),
        posexplode(grams).as(Seq("__p", "__g")))
      .select(col("__id"), col("__n"), col("__p"),
        substring(md5(col("__g")), 1, 16).as("__h"))
    val dup = g.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select(col("__h"))
    val anchors = g.join(dup, "__h")
      .select(col("__id"), col("__n"), col("__p"),
        (col("__p") + (k - 1)).as("__e"))
    val ord = Window.partitionBy(col("__id")).orderBy(col("__p"))
    val prevEnd = max(col("__e")).over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = anchors
      .withColumn("__new",
        when(col("__p") > coalesce(prevEnd, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("__span", sum(col("__new")).over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("__id"), col("__span"))
      .agg(min(col("__p")).as("__s"), max(col("__e")).as("__x"),
        first(col("__n")).as("__n"))
      .filter(col("__x") - col("__s") + 1 >= minLen)
      .drop("__span")
  }
}

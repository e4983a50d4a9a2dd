package graft.text

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{MetaJson, Partitioned}

/** Persisted inverted index with term-bucket-pruned BM25 search — the
  * LEXICAL member of the persisted-index family (exact-hash, MinHash-LSH,
  * semantic, IVF, NSW, HNSW being the others): [[graft.text.Quality.bm25]]
  * recomputes corpus statistics from text on every call, which is the
  * right shape for one-off scoring but not for a search service — at
  * 100 TB a query must touch the few posting buckets its terms hash
  * into, never the corpus.
  *
  * Layout at `path`:
  *   - `postings/__b=<bucket>/` — `(term, doc_id, tf, dl)` rows,
  *     partitioned by `crc32(term) % nBuckets`. Document length `dl`
  *     rides denormalized in every posting (the classic posting-list
  *     design), so scoring needs NO doc-table join and candidate work
  *     is bounded by posting-list length.
  *   - `meta/` — `(n_docs, total_dl, n_buckets)` as exact BIGINTs;
  *     `avgdl = total_dl / n_docs` is derived at search time, so an
  *     append only rewrites this one tiny file.
  *
  * Search statistics stay EXACT under pruning: a term's full posting
  * list lives in one bucket, so `df(term)` counted over the pruned scan
  * equals the global document frequency, and `N`/`avgdl` come from meta.
  *
  * Appends are the ingest-loop shape of the family: new docs' postings
  * append into their term buckets (untouched buckets keep their files),
  * meta's two counters advance. [[deleteFromIndex]] is the x136/x137
  * bucket-pruned drop-then-append erasure (GDPR: erased docs' postings
  * leave only their term buckets rewritten); [[compactIndex]] is the
  * x127/x128 maintenance op (appends accumulate one file per touched
  * bucket per batch — compaction collapses each bucket back to one
  * file, row-set-identical by `require`).
  *
  * Tokenization matches [[Quality.bm25]] exactly: lowercased whitespace
  * words, empties dropped.
  */
object InvertedIndex {

  val DefaultBuckets = 64

  private def postingsPath(path: String) = s"$path/postings"
  private def metaPath(path: String) = s"$path/meta"

  /** Tokenization shared by every ingest surface: lowercased whitespace
    * words, empties dropped — [[Quality.bm25]]'s rule exactly.
    */
  private def tokArr(textCol: String): Column =
    filter(split(lower(trim(col(textCol))), "\\s+"),
      w => length(w) > 0)

  /** One row per doc with ≥1 token: `(__id, __runs, __dl)` where
    * `__runs` is the doc's `(term, tf)` pairs and `__dl` its token
    * count. A document is ONE input row, so term frequencies never need
    * a shuffle: sort the token array and take run lengths (O(L·log L)
    * per doc, whole-stage codegen) instead of exploding one row PER
    * TOKEN and paying two groupBy shuffles plus a join to re-attach dl
    * — the only shuffle left in an index build is the bucket
    * repartition in front of the write. Run starts are found by
    * neighbor comparison on 1-based positions; `element_at` stays
    * in-bounds under ANSI via the short-circuiting guards.
    */
  private def docTermCounts(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = graft.Tables.spread(docs)
      .select(col(idCol).as("__id"), array_sort(tokArr(textCol)).as("__s"))
      .select(col("__id"), col("__s"), size(col("__s")).as("__n"))
    val starts = filter(
      when(col("__n") > 0, sequence(lit(1), col("__n")))
        .otherwise(array().cast("array<int>")),
      i => (i === 1) || (element_at(col("__s"), i) =!=
        element_at(col("__s"), i - 1)))
    val staged = base.select(
      col("__id"), col("__s"), col("__n"), starts.as("__st"))
    val runs = transform(col("__st"), (st, j) =>
      struct(
        element_at(col("__s"), st).as("__w"),
        (when(j === size(col("__st")) - 1, col("__n") + 1)
          .otherwise(element_at(col("__st"), j + 2)) - st)
          .cast("long").as("__tf")))
    staged
      .select(col("__id"), runs.as("__runs"), col("__n").cast("long").as("__dl"))
      .filter(col("__dl") > 0)
  }

  /** The `(term, doc, tf, dl, bucket)` posting rows of a doc batch —
    * a pure map-side expansion of [[docTermCounts]].
    */
  private def postingsOf(docLevel: DataFrame, nBuckets: Int): DataFrame =
    docLevel
      .select(col("__id"), col("__dl"), inline(col("__runs")))
      .select(col("__w"), col("__id"), col("__tf"), col("__dl"),
        pmod(crc32(col("__w")), lit(nBuckets.toLong)).as("__b"))

  /** Build (overwrite) the index over `docs`. One corpus pass, one
    * shuffle: the meta counters ride the postings write as observed
    * metrics on the doc-level node instead of re-tokenizing the corpus
    * in a second action.
    */
  def writeIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      nBuckets: Int = DefaultBuckets): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = docs.sparkSession
    val (nDocs, totalDl) = writePostings(
      docs, idCol, textCol, nBuckets, SaveMode.Overwrite, path)
    writeMeta(spark, path, nDocs, totalDl, nBuckets)
  }

  /** Write a batch's postings (one pass, metered): returns the batch's
    * exact `(n_docs, total_dl)` collected by an [[Observation]] during
    * the write itself.
    */
  private def writePostings(
      docs: DataFrame, idCol: String, textCol: String, nBuckets: Int,
      mode: SaveMode, path: String): (Long, Long) = {
    val obs = Observation()
    val doc = docTermCounts(docs, idCol, textCol)
      .observe(obs, count(lit(1)).cast("long").as("__n"),
        coalesce(sum(col("__dl")), lit(0L)).cast("long").as("__dl"))
    postingsOf(doc, nBuckets)
      .repartition(col("__b"))
      .write.mode(mode).partitionBy("__b")
      .parquet(postingsPath(path))
    // an EMPTY batch schedules zero tasks, so CollectMetrics never runs
    // and the observed map comes back without the keys — that is exactly
    // the zero-counter case
    val m = obs.get
    (m.get("__n").map(_.asInstanceOf[Long]).getOrElse(0L),
      m.get("__dl").map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Collapse each term bucket's accumulated append files into one file
    * per bucket — the x127/x128 maintenance discipline applied to the
    * lexical tier. Ingest batches append one file per touched bucket, so
    * an N-batch index reads N small files per bucket; compaction
    * rewrites the postings ONCE, bucket-partitioned, and proves the
    * row set unchanged (search results are invariant by construction —
    * same rows, same layout rule). Meta is untouched: counters don't
    * change when rows don't.
    */
  def compactIndex(spark: SparkSession, path: String): Unit =
    Partitioned.compactInPlace(spark, postingsPath(path),
      spark.read.parquet(postingsPath(path)), "__b")

  /** Append a batch of NEW docs (ids must be absent from the index —
    * re-appending a doc would double its postings; enforce upstream with
    * the x32 exact-dedup ingest loop). Only the batch's term buckets
    * gain files; meta's counters advance.
    */
  def appendToIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val (n, totalDl, nBuckets) = readMeta(spark, path)
    val (nDocs, dl) = writePostings(
      docs, idCol, textCol, nBuckets, SaveMode.Append, path)
    writeMeta(spark, path, n + nDocs, totalDl + dl, nBuckets)
  }

  /** Erase docs from the index — right-to-be-forgotten on the lexical
    * tier (the x136/x137/x138 contract): the deletion input is the doc
    * rows themselves (id + the SAME text that was ingested), so the
    * touched term buckets are recomputed and only they rewrite
    * (drop-then-append; drained bucket directories vanish, untouched
    * buckets stay byte-identical); meta's counters decrement by the
    * erased docs actually present. Returns that count. A doc whose text
    * changed since ingest would leave stale postings in unrecomputed
    * buckets — same caveat as [[IncrementalNearDup.deleteFromIndex]],
    * same remedy (delete with the ingested content).
    */
  def deleteFromIndex(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String): Long = {
    val (n, totalDl, nBuckets) = readMeta(spark, path)
    // touched buckets of the deletion batch: distinct terms map-side,
    // bucket them, collect the (≤ nBuckets) bucket ids
    val buckets = graft.Tables.spread(docs)
      .select(explode(array_distinct(tokArr(textCol))).as("__w"))
      .select(pmod(crc32(col("__w")), lit(nBuckets.toLong)).as("__b"))
      .distinct().collect().map(_.getLong(0))
    if (buckets.isEmpty) return 0L
    val delIds = docs.select(col(idCol).cast("long").as("__id")).distinct()
    val touched = spark.read.parquet(postingsPath(path))
      .filter(col("__b").isInCollection(buckets))
    // counters of the docs actually present, taken BEFORE the rewrite
    val gone = touched
      .join(delIds, Seq("__id"), "left_semi")
      .select(col("__id"), col("__dl")).distinct()
      .agg(count(lit(1)).cast("long"), sum(col("__dl")).cast("long")).head()
    val removed = gone.getLong(0)
    if (removed == 0L) return 0L
    Partitioned.replacePartitions(spark, postingsPath(path),
      buckets.toSeq.map(b => s"__b=$b"),
      touched.join(delIds, Seq("__id"), "left_anti"), "__b")
    writeMeta(spark, path, n - removed, totalDl - gone.getLong(1), nBuckets)
    removed
  }

  /** Meta counters are KB-scale bookkeeping, written and read
    * driver-side as a [[MetaJson]] sidecar — the old one-row parquet
    * shape paid a Spark job per write and per read, and an index
    * lifecycle touches meta on every build/append/delete and every
    * search.
    */
  private def writeMeta(
      spark: SparkSession, path: String,
      nDocs: Long, totalDl: Long, nBuckets: Int): Unit =
    MetaJson.write(spark, metaPath(path), Seq(
      "n_docs" -> nDocs, "total_dl" -> totalDl, "n_buckets" -> nBuckets.toLong))

  private def readMeta(spark: SparkSession, path: String): (Long, Long, Int) = {
    val m = MetaJson.read(spark, metaPath(path))
    (m("n_docs"), m("total_dl"), m("n_buckets").toInt)
  }

  /** Bucket of `term` under the index's crc32 rule — driver-side twin of
    * the Spark `crc32` column function (CRC-32 over UTF-8 bytes).
    */
  private def bucketOf(term: String, nBuckets: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes("UTF-8"))
    java.lang.Long.remainderUnsigned(c.getValue, nBuckets.toLong)
  }

  /** The pruned postings scan for a term set: a partition filter on the
    * terms' buckets (provable with
    * [[Partitioned.prunedPartitionCount]]) followed by the
    * exact term filter. Exposed so callers can audit the pruning.
    */
  def prunedPostings(
      spark: SparkSession, path: String, terms: Seq[String]): DataFrame = {
    val (_, _, nBuckets) = readMeta(spark, path)
    val tl = terms.map(_.toLowerCase).distinct
    val buckets = tl.map(bucketOf(_, nBuckets)).distinct
    spark.read.parquet(postingsPath(path))
      .filter(col("__b").isInCollection(buckets))
      .filter(col("__w").isInCollection(tl))
  }

  /** BM25 scores for every doc matching at least one term, computed
    * ENTIRELY from the index (pruned postings + meta — the corpus text
    * is never read): same formula and float-op order as
    * [[Quality.bm25]]. Output: `(doc_id, n_tokens, bm25)`.
    */
  def scoreBm25(
      spark: SparkSession,
      path: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (n, totalDl, _) = readMeta(spark, path)
    val avgdl = totalDl.toDouble / n.toDouble
    val post = prunedPostings(spark, path, terms)
    val dfs = post.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    post.join(broadcast(dfs), "__w")
      .withColumn("__idf",
        log((lit(n.toDouble) - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__s",
        col("__idf") * col("__tf") * (k1 + 1) /
          (col("__tf") + (col("__dl") / avgdl * b + (1 - b)) * k1))
      .groupBy(col("__id"))
      .agg(first(col("__dl")).as("n_tokens"), sum(col("__s")).as("bm25"))
      .select(col("__id").as("doc_id"), col("n_tokens"), col("bm25"))
  }

  /** Top-`k` search: [[scoreBm25]] ranked score-desc, id-asc — planned
    * as a distributed TakeOrdered, never a single-task global window.
    */
  def searchBm25(
      spark: SparkSession,
      path: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    scoreBm25(spark, path, terms, k1, b)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }
}

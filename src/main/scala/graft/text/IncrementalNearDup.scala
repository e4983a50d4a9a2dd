package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField,
  StructType}

import graft.sources.Partitioned

/** Ingest-time incremental NEAR-duplicate deduplication — the MinHash
  * analog of [[IncrementalDedup]], closing the second half of the 100 TB
  * ingestion story: a daily batch must drop documents that are
  * near-duplicates of anything already in the corpus WITHOUT rescanning
  * the corpus text. The corpus is represented by a persisted LSH index
  * (band keys + MinHash signatures — no text, no shingles), and each
  * batch runs
  *
  *   within-batch near-dup drop → banded probe vs index → signature
  *   verify on collisions only → append survivors' keys+signatures,
  *
  * so re-ingesting a batch is a no-op (every survivor collides with its
  * own index entry at estimated Jaccard 1.0).
  *
  * Semantics (deterministic, ANSI-replayable end to end):
  *  - Signatures are [[TextOps.minHashSignaturesBy]] over word
  *    `shingleN`-grams; documents too short to shingle fall back to a
  *    single shingle = the normalized text, so exact-duplicate short docs
  *    still collide (est = 1.0) and EVERY doc carries state — no bypass
  *    path, idempotence holds corpus-wide.
  *  - Within a batch, each `(band, key)` bucket elects its minimum id as
  *    representative; a non-representative member is dropped iff its
  *    estimated Jaccard to the representative (fraction of agreeing
  *    signature components, Broder 1997) ≥ `threshold`. This is the
  *    star-shaped greedy keep-first — linear output per bucket, the
  *    [[TextOps.cappedBucketPairs]] scale contract — and is the
  *    documented batch-local approximation of the full
  *    pair→component→keeper election ([[Components.dedupPlan]], x43/x64),
  *    which remains the batch-mode tool.
  *  - Cross-batch, a batch survivor is dropped iff it shares any band
  *    key with an indexed doc whose estimated Jaccard ≥ `threshold`;
  *    earlier batches always win (their state is already resident).
  *
  * Index layout at `path/state`: ONE parquet dataset partitioned by
  * `(__side, __b)` — `__side=b` rows are `(__id, __band, __khash)` band
  * keys (`__khash` = first 16 md5 hex chars of the comma-joined band
  * slice, `__b` = crc32 bucket of `__khash`), `__side=s` rows are
  * `(__id, __sig array<long>)` signatures (`__b` = crc32 bucket of the
  * id). Both sides land in a SINGLE append per batch (one job, one
  * shuffle, O(1) files per touched bucket) — the round-10 consolidation
  * of what were two separate bucketed writes; readers snapshot the file
  * list and split it by the `__side` directory, so the pinned-snapshot
  * isolation is unchanged.
  *
  * Scale shape: per doc the index holds `bands` × (4+16+8) B of band
  * rows + `numHashes` longs of signature (≈ 1.4 KB at the 16×128
  * default) — the honest price of near-dup state, ~0.1% of a 1 MB
  * document and independent of corpus text size. The probe shuffles
  * (band, khash, id) rows only; signatures are joined exactly twice, for
  * the candidate pairs that survive the banded screen — never all-pairs,
  * text never re-read. Buckets stay thin by construction: the index
  * contains only SURVIVORS, i.e. docs that did NOT verify as near-dups
  * of each other, so a mass-duplicate cluster contributes one resident
  * per bucket, not the cluster.
  *
  * Reference semantics: near-dup dedup per SURVEY §2.8 (Broder MinHash +
  * banding, the x2/x13 pipeline); the incremental persisted-state
  * contract is the standard training-data ingest loop (no reference
  * counterpart).
  */
object IncrementalNearDup {

  /** Buckets in the persisted index (same sizing rule as
    * [[IncrementalDedup.DefaultBuckets]]).
    */
  val DefaultBuckets = 64

  private def statePath(path: String) = s"$path/state"
  private def metaPath(path: String) = s"$path/meta"
  private def isBandFile(f: String) = f.contains("__side=b")
  private def isSigFile(f: String) = f.contains("__side=s")

  /** The union schema both sides' state files share (band rows carry a
    * null `__sig`, signature rows null band columns); ids are BIGINT.
    */
  private val StateSchema = StructType(Seq(
    StructField("__id", LongType), StructField("__band", IntegerType),
    StructField("__khash", StringType),
    StructField("__sig", ArrayType(LongType))))

  /** The index's structural LSH parameters, persisted at `<path>/meta`
    * (the [[graft.similarity.Hnsw]] meta-file device) by the bootstrap
    * ingest. Signatures, band keys and bucket directories are all pure
    * functions of this quadruple — state written under one quadruple is
    * unreadable garbage under another, so maintenance ops read THESE
    * values instead of trusting caller-passed defaults, and ingest
    * rejects a mismatched caller loudly.
    */
  private[graft] final case class LshMeta(
      shingleN: Int, numHashes: Int, bands: Int, nBuckets: Int)

  private[graft] def readMeta(
      spark: SparkSession, path: String): Option[LshMeta] = {
    // driver-side JSON sidecar (graft.sources.MetaJson) — every ingest
    // batch consults the LSH parameters; no Spark job per consultation
    if (!Partitioned.exists(spark, metaPath(path))) None
    else {
      val m = graft.sources.MetaJson.read(spark, metaPath(path))
      Some(LshMeta(m("shingle_n").toInt, m("num_hashes").toInt,
        m("bands").toInt, m("n_buckets").toInt))
    }
  }

  private def writeMeta(spark: SparkSession, path: String, m: LshMeta): Unit =
    graft.sources.MetaJson.write(spark, metaPath(path), Seq(
      "shingle_n" -> m.shingleN.toLong, "num_hashes" -> m.numHashes.toLong,
      "bands" -> m.bands.toLong, "n_buckets" -> m.nBuckets.toLong))

  /** True iff an index has been written at `path`. */
  def indexExists(spark: SparkSession, path: String): Boolean =
    Partitioned.exists(spark, statePath(path))

  /** Delete the index at `path` (fresh-build convenience; a production
    * retrain writes to a new path and swaps).
    */
  def dropIndex(spark: SparkSession, path: String): Unit =
    Partitioned.deleteTree(spark, path)

  /** Compact the index: rewrite the accumulated per-batch append files
    * into O(1) files per `(__side, __b)` partition (optionally
    * re-bucketing — the [[IncrementalDedup.compactIndex]] contract for
    * the two-sided band+signature layout). Row count preserved exactly
    * ([[Partitioned.compactInPlace]]), so every future probe decision is
    * identical.
    */
  def compactIndex(
      spark: SparkSession,
      path: String,
      nBuckets: Option[Int] = None): Unit = {
    val meta = readMeta(spark, path)
    // target bucket count: explicit override > persisted > default —
    // never a caller default silently diverging from the index's layout
    val nb = nBuckets.orElse(meta.map(_.nBuckets)).getOrElse(DefaultBuckets)
    // ids are BIGINT in every registered use; the directory read adds
    // the `__side` partition column, and `__b` is recomputed per side
    Partitioned.compactInPlace(spark, statePath(path),
      spark.read.schema(StateSchema).parquet(statePath(path))
        .withColumn("__b", when(col("__side") === "b",
          pmod(crc32(col("__khash")), lit(nb)))
          .otherwise(pmod(crc32(col("__id").cast("string")), lit(nb)))),
      "__side", "__b")
    // a re-bucketing compact changes the layout future bucket-pruned
    // deletes navigate by — record it
    meta.foreach(m => if (m.nBuckets != nb)
      writeMeta(spark, path, m.copy(nBuckets = nb)))
  }

  /** Delete documents from the persisted index — the right-to-be-
    * forgotten op for the near-dup tier ([[graft.text.IncrementalDedup
    * .deleteFromIndex]]'s contract lifted to the two-sided layout):
    * erased docs' band keys AND signatures are removed, so future
    * near-duplicates of the erased content are no longer dropped on its
    * account. The deletion input is the doc rows themselves (id + text
    * — the same content that was ingested): recomputing their
    * signatures lets BOTH sides prune to touched buckets (band rows
    * live in crc32(khash) buckets that are a pure function of the
    * text). Drop-then-append per touched `(side, bucket)` partition —
    * deleted-to-empty partitions vanish; untouched ones stay
    * byte-identical. Returns the number of docs whose state was
    * actually removed (ids present in the index; docs that were
    * DROPPED at ingest have no state and count zero).
    *
    * The LSH parameters come from the index's persisted meta when
    * present — NOT from the arguments, which then serve only pre-meta
    * indexes: recomputing signatures under different parameters would
    * land band rows in different buckets, leaving stale band keys alive
    * in unpruned buckets that silently keep dropping future
    * near-duplicates of the erased content.
    */
  def deleteFromIndex(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 16,
      nBuckets: Int = DefaultBuckets,
      sigCol: Option[String] = None): Long = {
    val m = readMeta(spark, path)
      .getOrElse(LshMeta(shingleN, numHashes, bands, nBuckets))
    deleteWith(spark, path, docs, idCol, textCol, m, sigCol)
  }

  private def deleteWith(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      m: LshMeta,
      sigCol: Option[String] = None): Long = {
    val LshMeta(shingleN, numHashes, bands, nBuckets) = m
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val snap = Partitioned.dataFiles(spark, statePath(path))
    if (snap.isEmpty) return 0L
    // erasure batches are bounded by nature — pin the recomputed state.
    // `sigCol` is the dedupIncremental compute-once contract: a caller
    // holding crawl-time signatures (under THIS index's parameters)
    // skips the re-sketch; band buckets derive from the signature, so
    // pruning is unchanged.
    val delSigs = (sigCol match {
      case Some(c) =>
        val d = docs.select(col(idCol).as("__id"),
          col(c).cast("array<long>").as("__sig"))
        val chk = d.agg(count(when(col("__sig").isNull, lit(1))),
          min(size(col("__sig"))), max(size(col("__sig")))).head()
        require(chk.getLong(0) == 0L,
          s"${chk.getLong(0)} deletion rows carry a NULL signature in $c")
        require(chk.isNullAt(1) ||
          (chk.getInt(1) == numHashes && chk.getInt(2) == numHashes),
          s"signature width does not match the index's numHashes=$numHashes")
        d
      case None => signatures(
        docs.select(col(idCol), col(textCol)), idCol, textCol,
        shingleN, numHashes)
    }).localCheckpoint()
    // band rows derive lazily from the pinned signatures (a cheap map —
    // the former second checkpoint was a whole extra job), and BOTH
    // sides' touched buckets come back in ONE action via a side-tagged
    // union instead of two distinct-collect jobs
    val delBands = bandRows(delSigs, bands, numHashes / bands)
    val bucketRows = delBands
      .select(lit("b").as("__sd"),
        pmod(crc32(col("__khash")), lit(nBuckets)).as("__b"))
      .unionAll(delSigs.select(lit("s").as("__sd"),
        pmod(crc32(col("__id").cast("string")), lit(nBuckets)).as("__b")))
      .distinct().collect()
    val bandBuckets = bucketRows.filter(_.getString(0) == "b")
      .map(_.getLong(1)).toSet
    val sigBuckets = bucketRows.filter(_.getString(0) == "s")
      .map(_.getLong(1)).toSet
    val bandDirs = bandBuckets.toSeq.map(b => s"__side=b/__b=$b")
    val sigDirs = sigBuckets.toSeq.map(b => s"__side=s/__b=$b")
    val touchedBand = Partitioned.filesIn(snap, bandDirs)
    val touchedSig = Partitioned.filesIn(snap, sigDirs)
    if (touchedBand.isEmpty && touchedSig.isEmpty) return 0L
    val delIds = delSigs.select(col("__id"))
    def keptSide(files: Seq[String], tag: String, bucket: Column) =
      if (files.isEmpty) None
      else Some(spark.read.schema(StateSchema).parquet(files: _*)
        .join(delIds, Seq("__id"), "left_anti")
        .withColumn("__side", lit(tag))
        .withColumn("__b", bucket))
    val removedDocs = if (touchedSig.isEmpty) 0L
      else spark.read.schema(StateSchema).parquet(touchedSig: _*)
        .join(delIds, Seq("__id"), "left_semi")
        .select(col("__id")).distinct().count()
    val keptB = keptSide(touchedBand, "b",
      pmod(crc32(col("__khash")), lit(nBuckets)))
    val keptS = keptSide(touchedSig, "s",
      pmod(crc32(col("__id").cast("string")), lit(nBuckets)))
    // both sides in ONE rewrite (the dedupIncremental single-append
    // device: the __side partition directory separates them)
    Partitioned.replacePartitions(spark, statePath(path), bandDirs ++ sigDirs,
      (keptB.toSeq ++ keptS.toSeq).reduce(_ unionAll _), "__side", "__b")
    removedDocs
  }

  /** `(__id, __sig)` MinHash signatures for a document frame, under this
    * index family's shingle semantics — the exact sketch
    * [[dedupIncremental]] computes internally, exposed so an ingest loop
    * can sketch ONCE (e.g. at crawl time) and pass the column through
    * `sigCol` on every delivery and re-delivery.
    *
    * Short-doc fallback: a doc below `shingleN` words contributes its
    * normalized text as its single shingle, so every doc has a signature
    * and exact short-dup pairs still land est = 1.0.
    */
  def signatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128): DataFrame = {
    val ws = TextOps.wordShingles(col(textCol), shingleN)
    val shingles = when(coalesce(size(ws), lit(0)) > 0, ws)
      .otherwise(array(TextOps.normalize(col(textCol))))
    TextOps.minHashSignaturesBy(docs, idCol, shingles, numHashes)
  }

  /** Estimated Jaccard between two equal-length MinHash signatures:
    * the fraction of agreeing components (`P(sig_a[k]=sig_b[k]) ≈ J`).
    */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /** `(__id, __band, __khash)` rows, `bands` per doc, from a
    * `(__id, __sig)` frame. `__khash` is the first 16 md5 hex chars of
    * the comma-joined decimal band slice — engine-portable (DuckDB:
    * `substring(md5(array_to_string(sig[a:b], ',')), 1, 16)`; MinHash
    * values are non-negative so decimal formatting agrees).
    */
  private def bandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col("__id"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("__band"),
          substring(
            md5(concat_ws(",",
              slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand)
                .cast("array<string>"))),
            1, 16).as("__khash"))
      }: _*)).as("__bk"))
      .select(col("__id"), col("__bk.__band").as("__band"),
        col("__bk.__khash").as("__khash"))

  /** Near-dedup one ingest batch against the persisted index at `path`,
    * append the survivors' band keys + signatures, and return the
    * surviving rows (batch columns unchanged). First call on an empty
    * `path` creates the index — the bootstrap batch IS the initial
    * corpus. `idCol` must be unique within the batch and across batches.
    *
    * The returned frame semi-joins the batch against the survivor ids
    * read back from the files this call just appended (a pinned
    * new-file list) — so consuming it re-reads O(batch) ids, never the
    * sketch/verify DAG, and re-execution stays deterministic.
    */
  def dedupIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.8,
      nBuckets: Int = DefaultBuckets,
      sigCol: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val spark = batch.sparkSession
    // Structural-parameter contract: the bootstrap batch pins the
    // parameters in <path>/meta; later batches must match the SKETCH
    // triple (shingleN, numHashes, bands) — signatures computed under
    // different parameters are not comparable to the resident state, so
    // a drift would silently stop near-dups from colliding. nBuckets is
    // FILE LAYOUT, not sketch structure (probes read the full snapshot);
    // the persisted value is ADOPTED so appends always land in the
    // index's current layout, even after a re-bucketing compactIndex.
    // (threshold is per-batch policy, not structure.)
    val effBuckets = readMeta(spark, path) match {
      case Some(persisted) =>
        require((persisted.shingleN, persisted.numHashes, persisted.bands) ==
          ((shingleN, numHashes, bands)),
          s"dedupIncremental params ($shingleN, $numHashes, $bands) do not " +
            s"match the index's persisted $persisted (shingleN, numHashes, " +
            "bands)")
        persisted.nBuckets
      case None =>
        writeMeta(spark, path, LshMeta(shingleN, numHashes, bands, nBuckets))
        nBuckets
    }

    // Cache the signatures for the duration of the call: the frame feeds
    // the within-batch screen, the rep and member verify sides, the
    // cross-index verify and both appends — uncached, Catalyst plans the
    // md5-shingle × numHashes sketch once PER CONSUMER (measured 18 s for
    // x75 at sf0.1; ~6 s cached). 128 longs + id per row, released below.
    //
    // `sigCol`: a caller that already carries per-doc MinHash signatures
    // (computed once at crawl time with [[TextOps.minHashSignaturesBy]]
    // under THIS index's meta parameters — the compute-once ingest-loop
    // device: re-deliveries and replays then skip the sketch entirely)
    // passes their column instead of re-sketching the text.
    val sigs = (sigCol match {
      case Some(c) =>
        batch.select(col(idCol).as("__id"),
          col(c).cast("array<long>").as("__sig"))
      case None => signatures(batch, idCol, textCol, shingleN, numHashes)
    }).cache()
    // materialize the cache BEFORE fan-out (branches racing an
    // unpopulated cache each compute the sketch themselves) and validate
    // precomputed signature widths in the same single action
    val chk = sigs.agg(count(lit(1)),
      min(size(col("__sig"))), max(size(col("__sig"))),
      count(when(col("__sig").isNull, lit(1)))).head()
    // min/max(size) skip NULLs, so check them separately: an all-null
    // batch would NPE on getInt below, and a mixed one would slip docs
    // with null band keys past dedup matching entirely.
    require(chk.getLong(3) == 0L,
      s"${chk.getLong(3)} of ${chk.getLong(0)} rows carry a NULL " +
        s"signature in $sigCol — precompute signatures for every doc " +
        "(null-signature docs would silently skip dedup matching)")
    require(chk.getLong(0) == 0L ||
      (chk.getInt(1) == numHashes && chk.getInt(2) == numHashes),
      s"signature width ${chk.getInt(1)}..${chk.getInt(2)} does not match " +
        s"numHashes=$numHashes")

    val batchBands = bandRows(sigs, bands, rowsPerBand)

    // Within-batch star drop: bucket rep = min id; non-rep members
    // verified against the rep only (linear per bucket).
    val w = Window.partitionBy(col("__band"), col("__khash"))
    val repPairs = batchBands
      .withColumn("__rep", min(col("__id")).over(w))
      .filter(col("__id") =!= col("__rep"))
      .select(col("__rep"), col("__id"))
      .distinct()
    val sigsRep = sigs.select(col("__id").as("__rep"), col("__sig").as("__siga"))
    val sigsMem = sigs.select(col("__id"), col("__sig").as("__sigb"))
    val withinDropped = repPairs
      .join(sigsRep, "__rep")
      .join(sigsMem, "__id")
      .filter(estJaccard(col("__siga"), col("__sigb"), numHashes) >= threshold)
      .select(col("__id"))
      .distinct()
    val bsurv = sigs.join(withinDropped, Seq("__id"), "left_anti")

    // Cross-index probe over the pinned snapshot: banded collision →
    // signature verify on the collisions only. Ids and signatures move;
    // text never does. One listing covers both sides (the __side
    // partition directory splits it). Snapshot reads carry an EXPLICIT
    // schema: with a plain file list, Spark otherwise infers the schema
    // by reading parquet footers driver-side — ~2 s against a
    // 2×64-bucket index at bench SF, and O(files) at any scale.
    val idType = sigs.schema("__id").dataType
    val bandSchema = StructType(Seq(
      StructField("__id", idType), StructField("__band", IntegerType),
      StructField("__khash", StringType)))
    val sigSchema = StructType(Seq(
      StructField("__id", idType),
      StructField("__sig", ArrayType(LongType))))
    val snap = Partitioned.dataFiles(spark, statePath(path))
    val bandSnap = snap.filter(isBandFile)
    val sigSnap = snap.filter(isSigFile)
    val survivors = (if (bandSnap.nonEmpty) {
      val idxBands = spark.read.schema(bandSchema).parquet(bandSnap: _*)
        .select(col("__band"), col("__khash"), col("__id").as("__idx"))
      val idxSigs = spark.read.schema(sigSchema).parquet(sigSnap: _*)
        .select(col("__id").as("__idx"), col("__sig").as("__sigb"))
      // band rows of the within-batch survivors = the already-built
      // batchBands semi-joined on the survivor ids (cheaper than
      // re-deriving bandRows(bsurv), whose lineage repeats the anti-join)
      val cand = batchBands
        .join(bsurv.select(col("__id")), Seq("__id"), "left_semi")
        .join(idxBands, Seq("__band", "__khash"))
        .select(col("__id"), col("__idx"))
        .distinct()
      val crossDropped = cand
        .join(sigs.select(col("__id"), col("__sig").as("__siga")), "__id")
        .join(idxSigs, "__idx")
        .filter(estJaccard(col("__siga"), col("__sigb"), numHashes) >= threshold)
        .select(col("__id"))
        .distinct()
      bsurv.join(crossDropped, Seq("__id"), "left_anti")
    } else bsurv).cache()

    // Cache only for the duration of the append, then release (the
    // IncrementalDedup lifetime contract). Band keys and signatures go
    // out in ONE union write — one job and one shuffle instead of two,
    // the sides separated by the __side partition directory.
    try {
      val bandOut = bandRows(survivors, bands, rowsPerBand)
        .select(col("__id"), col("__band"), col("__khash"),
          lit(null).cast("array<long>").as("__sig"),
          lit("b").as("__side"),
          pmod(crc32(col("__khash")), lit(effBuckets)).as("__b"))
      val sigOut = survivors
        .select(col("__id"), lit(null).cast("int").as("__band"),
          lit(null).cast("string").as("__khash"), col("__sig"),
          lit("s").as("__side"),
          pmod(crc32(col("__id").cast("string")), lit(effBuckets)).as("__b"))
      bandOut.unionAll(sigOut)
        .repartition(col("__side"), col("__b"))
        .write.mode("append").partitionBy("__side", "__b")
        .parquet(statePath(path))
    } finally {
      survivors.unpersist(blocking = false)
      sigs.unpersist(blocking = false)
    }

    // The survivors ARE what the sig append just persisted — read their
    // ids back from the newly-added files (pre-append snapshot diff)
    // instead of keeping the whole dedup DAG in the returned frame's
    // lineage: with both caches released above, every caller action
    // would otherwise re-run the sketch + both verifies per consumption
    // (one full re-run per stats pass in x75). A pinned new-file list
    // keeps re-execution deterministic the same way the probe's pinned
    // snapshot does.
    val newSigFiles =
      (Partitioned.dataFiles(spark, statePath(path)).filter(isSigFile).toSet -- sigSnap.toSet).toSeq
    if (newSigFiles.isEmpty) batch.filter(lit(false)) // everything deduped away
    else batch.join(
      spark.read.schema(StructType(Seq(StructField("__id", idType))))
        .parquet(newSigFiles: _*).select(col("__id").as(idCol)),
      Seq(idCol), "left_semi")
  }
}

package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.Partitioned

/** Ingest-time incremental exact deduplication — the 100 TB ingestion
  * shape: a daily batch must dedup against the whole corpus WITHOUT
  * rescanning it. The corpus is represented by a persisted content-hash
  * index (md5 of [[TextOps.normalize]]d text — the same fingerprint as
  * [[TextOps.exactDedup]]), and each batch runs one pass
  *
  *   anti-join vs index → bucket → within-batch election → append,
  *
  * so ingesting the same batch twice is a no-op the second time
  * (idempotent by construction: every survivor's hash lands in the index
  * before the next batch reads it). The anti-join removes whole hash
  * groups, so running it before the election keeps exactly the rows the
  * election-first order keeps, and only rows not yet in the index are
  * shuffled. The append materializes the elected survivors once, and the
  * returned frame reads them from that checkpoint.
  *
  * Index layout (`<path>/hashes/`): hash strings ONLY — no ids, no text —
  * partitioned into [[DefaultBuckets]] directories by a crc32 bucket of
  * the hash, mirroring the cell-partitioned IVF index
  * ([[graft.similarity.Ivf.writeIndex]]). At corpus scale the index is
  * ~40 bytes/doc (4 TB for 100 B docs vs the 100 TB corpus); the
  * anti-join shuffles hash strings only, and the bucketed layout is the
  * on-disk shape a metastore-backed `bucketBy` table (or a per-bucket
  * map-side merge) needs to make the index side of that anti-join
  * shuffle-free. The election's shuffle is by bucket, so a batch adds
  * O(1) files per touched bucket, not one per upstream task.
  *
  * Reference semantics: exact dedup per `fdi_flow` preprocessing
  * (normalize → hash → keep-first); the incremental contract itself is
  * the standard training-data-pipeline ingest loop (no reference
  * counterpart — it has no persisted state).
  */
object IncrementalDedup {

  /** Buckets in the persisted hash index. 64 keeps sf-scale test indexes
    * small while bounding per-bucket file size at corpus scale; a real
    * deployment sizes this like bucketBy bucket counts (≈ index size /
    * target file size).
    */
  val DefaultBuckets = 64

  private def hashesPath(path: String) = s"$path/hashes"

  /** Every index read carries this EXPLICIT schema (the
    * IncrementalNearDup device): with a plain file list Spark otherwise
    * infers the schema from parquet footers driver-side — O(files) at
    * any scale.
    */
  private val HashSchema = StructType(Seq(StructField("__h", StringType)))

  /** True iff an index has been written at `path`. */
  def indexExists(spark: SparkSession, path: String): Boolean =
    Partitioned.exists(spark, hashesPath(path))

  /** Delete the index at `path` (fresh-build convenience for tests and
    * re-runs; a production retrain writes to a new path and swaps).
    */
  def dropIndex(spark: SparkSession, path: String): Unit =
    Partitioned.deleteTree(spark, path)

  /** Compact the index: rewrite the accumulated per-batch append files
    * into O(1) files per bucket (optionally re-bucketing to a new
    * `nBuckets` — capacity re-sizing as the corpus grows). After N daily
    * batches each bucket holds N small files and the snapshot read of
    * every subsequent batch pays O(N · buckets) opens; compaction
    * restores O(buckets). Semantics-free by construction: the hash SET
    * is unchanged, so every future [[dedupIncremental]] decision is
    * identical — [[Partitioned.compactInPlace]] proves the row count
    * unchanged.
    */
  def compactIndex(
      spark: SparkSession,
      path: String,
      nBuckets: Int = DefaultBuckets): Unit =
    Partitioned.compactInPlace(spark, hashesPath(path),
      spark.read.schema(HashSchema).parquet(hashesPath(path))
        .select(col("__h"), pmod(crc32(col("__h")), lit(nBuckets)).as("__b")),
      "__b")

  /** Delete a document set's content hashes from the persisted index —
    * the right-to-be-forgotten lifecycle op (GDPR erasure): a corpus
    * rewrite that removes documents must also remove their fingerprints,
    * or the erased content stays banned forever — any future legitimate
    * re-submission would be silently dropped as a duplicate of a doc
    * that no longer exists. Only buckets containing a to-delete hash
    * are touched: the deletion set (hashes only, distinct-ed — erasure
    * requests are small by nature) picks its buckets, and
    * [[Partitioned.replacePartitions]] rewrites those bucket directories
    * with the pruned snapshot minus the deleted hashes — a bucket
    * deleted to empty simply disappears from the layout. Untouched
    * buckets stay byte-identical. Returns the number of index rows
    * removed. `nBuckets` must match the index's bucketing, the same
    * caller contract as [[dedupIncremental]].
    */
  def deleteFromIndex(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      textCol: String,
      nBuckets: Int = DefaultBuckets): Long = {
    val snap = Partitioned.dataFiles(spark, hashesPath(path))
    if (snap.isEmpty) return 0L
    val del = docs.select(TextOps.contentHash(col(textCol)).as("__h")).distinct()
      .withColumn("__b", pmod(crc32(col("__h")), lit(nBuckets)))
      .localCheckpoint()
    val partDirs = del.select(col("__b")).distinct()
      .collect().map(r => s"__b=${r.getLong(0)}").toSeq
    val touchedFiles = Partitioned.filesIn(snap, partDirs)
    if (touchedFiles.isEmpty) return 0L
    val kept = spark.read.schema(HashSchema).parquet(touchedFiles: _*)
      .select(col("__h"))
      .withColumn("__b", pmod(crc32(col("__h")), lit(nBuckets)))
      .join(del.select(col("__h")), Seq("__h"), "left_anti")
    // whole files are read, so the pre-image count is footer metadata
    Partitioned.footerRowCountFiles(spark, touchedFiles) -
      Partitioned.replacePartitions(spark, hashesPath(path), partDirs, kept, "__b")
  }

  /** Dedup one ingest batch against the persisted index at `path`,
    * append the survivors' hashes to the index, and return the surviving
    * rows (batch columns unchanged). First call on an empty `path`
    * creates the index — the bootstrap batch IS the initial corpus.
    *
    * `keepBy` orders within-batch candidates (first wins), exactly as
    * [[TextOps.exactDedup]]; cross-batch, earlier batches always win
    * (their hashes are already in the index). A null text has a null
    * hash: it never matches the index, so the row survives and its null
    * hash is appended, as with every earlier batch.
    *
    * The returned frame reads a local checkpoint that the append filled,
    * so consuming it runs no election, no index read and no scan of the
    * batch's source, and it stays valid after [[compactIndex]] or
    * [[deleteFromIndex]] rewrites the index files. The price: the
    * checkpoint keeps every survivor row, with all batch columns, in the
    * block manager (MEMORY_AND_DISK) until the frame is garbage-collected
    * and Spark's `ContextCleaner` drops its blocks. A caller that keeps
    * only some columns (e.g. ids) should project them and let the
    * returned frame go.
    */
  def dedupIncremental(
      batch: DataFrame,
      textCol: String,
      keepBy: Seq[String],
      path: String,
      nBuckets: Int = DefaultBuckets): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val keyed = batch.withColumn("__h", TextOps.contentHash(col(textCol)))
    // Snapshot the index by listing its parquet files EXPLICITLY: the
    // append below targets the same directory, and a re-executed
    // directory scan would see the batch's own hashes — wrongly
    // eliminating every survivor. A pinned file list keeps every
    // (re-)execution on the pre-append snapshot.
    val snapshot = Partitioned.dataFiles(spark, hashesPath(path))
    val fresh =
      if (snapshot.nonEmpty)
        // ids/text never enter this join's index side — hash strings only
        keyed.join(
          spark.read.schema(HashSchema).parquet(snapshot: _*).select(col("__h")),
          Seq("__h"), "left_anti")
      else keyed
    // `__b` is a function of `__h`, so electing over (__b, __h) groups
    // exactly as TextOps.exactDedup's hash window does, and the bucket
    // shuffle already places each window group in one task.
    val w = Window.partitionBy(col("__b"), col("__h")).orderBy(keepBy.map(col): _*)
    val survivors = fresh
      .withColumn("__b", pmod(crc32(col("__h")), lit(nBuckets)))
      .repartition(nBuckets, col("__b"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
      .localCheckpoint(eager = false)
    // The append is the job that fills the checkpoint; one task per
    // bucket writes at most one file per touched bucket.
    survivors.select(col("__h"), col("__b"))
      .write.mode("append").partitionBy("__b").parquet(hashesPath(path))
    survivors.drop("__h", "__b")
  }
}

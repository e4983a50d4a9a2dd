package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-based MERGE INTO (upsert) for a partitioned parquet table — the
  * lakehouse primitive a re-crawl corpus needs (SQL MERGE / Delta's
  * `MERGE INTO`, re-expressed on plain parquet): rows in the update
  * batch REPLACE base rows with the same key, unmatched update rows
  * INSERT, and only the partitions the merge actually touches are
  * rewritten.
  *
  * Correctness subtlety the naive spelling misses: an update may MOVE a
  * row across partitions (a re-crawled doc changes source). Rewriting
  * only the updates' TARGET partitions would leave the old copy alive in
  * its current partition — a silent duplicate. So the merge first
  * locates each update key's CURRENT partition with an ids-only
  * column-pruned scan of the base (key + partition column — never the
  * payload), and the touched set is the union of current and target
  * partitions.
  *
  * Scale shape: one ids-only base scan (two columns), one join of
  * |updates| keys, then a rewrite confined to touched partitions
  * ([[Partitioned.replacePartitions]]: a partition drained by moves
  * vanishes instead of keeping stale files; untouched partition
  * directories stay byte-identical). Update batches are small
  * relative to the table by nature, so the rewrite is O(touched), not
  * O(table). Idempotent: re-applying the same batch replaces rows with
  * identical content and inserts nothing.
  */
object Upsert {

  /** Merge `updates` into the partitioned table at `path`. `updates`
    * must carry the table's full schema including `partCol` (the target
    * partition; null target values are rejected — a null partition has
    * no writable target directory semantics worth supporting here).
    * Returns `(updated, inserted)` row counts.
    *
    * Directory handling matches Spark's partition layout exactly:
    * values (and the column name) are escaped with
    * `ExternalCatalogUtils.escapePathName` — the same URL-style encoding
    * `FileFormatWriter` applies — so values containing `:`/`/`/`%`/…
    * drop the directory Spark actually wrote, and base rows living in
    * the null partition (`__HIVE_DEFAULT_PARTITION__`) are located,
    * counted as updates and rewritten like any other partition.
    */
  def mergeInto(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keyCol: String,
      partCol: String): (Long, Long) = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val DefaultPart = ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    require(updates.filter(col(partCol).isNull).isEmpty,
      s"mergeInto: null $partCol in the update batch — a null target " +
        "partition is not supported")
    // ids-only scan locates each update key's CURRENT partition (the
    // cross-partition-move case); pinned — the rewrite replaces its
    // source. `__hit` (not `__cur` nullness) marks matched keys, so base
    // rows in the null partition still count as updates.
    val baseKeys = spark.read.parquet(path)
      .select(col(keyCol),
        coalesce(col(partCol).cast("string"), lit(DefaultPart)).as("__cur"),
        lit(true).as("__hit"))
    val located = updates
      .select(col(keyCol), col(partCol).cast("string").as("__new"))
      .join(baseKeys, Seq(keyCol), "left")
      .localCheckpoint()
    // one aggregate action for both counters (was a filter+count each)
    val cnt = located.agg(
      sum(when(col("__hit"), 1L).otherwise(0L)),
      sum(when(col("__hit").isNull, 1L).otherwise(0L))).head()
    val updated = if (cnt.isNullAt(0)) 0L else cnt.getLong(0)
    val inserted = if (cnt.isNullAt(1)) 0L else cnt.getLong(1)
    val touched = located
      .select(explode(array(col("__cur"), col("__new"))).as("__p"))
      .filter(col("__p").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    if (touched.isEmpty) return (0L, 0L)
    // touched partitions: survivors (base minus updated keys) + the
    // update rows, replacing the touched directories. The null-partition
    // disjunct stays separate so the named-value isin can still prune
    // partitions.
    val keepNamed = col(partCol).cast("string")
      .isin((touched - DefaultPart).toSeq: _*)
    val keepFilter =
      if (touched.contains(DefaultPart)) keepNamed || col(partCol).isNull
      else keepNamed
    val kept = spark.read.parquet(path)
      .filter(keepFilter)
      .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
    // the default-partition dir name is written literally, not escaped
    val escCol = ExternalCatalogUtils.escapePathName(partCol)
    val partDirs = touched.toSeq.map { p =>
      if (p == DefaultPart) s"$escCol=$p"
      else s"$escCol=${ExternalCatalogUtils.escapePathName(p)}"
    }
    Partitioned.replacePartitions(spark, path, partDirs,
      kept.unionByName(updates.select(kept.columns.map(col): _*)), partCol)
    (updated, inserted)
  }
}

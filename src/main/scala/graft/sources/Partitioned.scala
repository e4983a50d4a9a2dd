package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Hive-style partitioned parquet layout + partition-pruning proof.
  *
  * The other half of the 100 TB layout story next to [[Bucketed]]: facts
  * land partitioned by a coarse key (almost always an ingest date), so a
  * query over a time slice LISTS only the matching directories — the scan
  * cost scales with the slice, not the table. At 100 TB with daily
  * partitions, a one-week query touches 7/1800 directories; without the
  * layout every query pays the full listing + footer reads even when the
  * row filter is pushed down.
  *
  * [[prunedPartitionCount]] reads the SELECTED partition count off the
  * executed scan node — the load-independent proof that pruning actually
  * happened (a plan can show a `PartitionFilters` entry and still list
  * everything if the filter column isn't a partition column).
  *
  * The persisted index tiers (exact hash, MinHash-LSH, semantic, IVF,
  * inverted, and the NSW and HNSW graphs) and [[Upsert]] rewrite their
  * partitioned directories through the two protocols here, so each tier
  * states only what to keep:
  *  - [[compactInPlace]] collapses a directory's accumulated append files
  *    to one file per partition and proves the row count unchanged;
  *  - [[replacePartitions]] drops a set of partition directories and
  *    appends their survivors (erasure, merge, a graph shard grown by an
  *    append), so a partition drained to empty vanishes and untouched
  *    partitions keep their files.
  *
  * Neither is crash-safe: both hold the rewritten rows only in the block
  * manager between deleting the old files and writing the new ones (see
  * [[replacePartitions]]). `Hnsw`'s tombstone swap is the one
  * write-new-then-swap rewrite; making these two crash-safe is a change
  * to this object alone.
  */
object Partitioned {

  /** Write `df` partitioned by `partCol` (one directory per value).
    * The frame is hash-repartitioned on the key first so each directory
    * gets O(1) files instead of one per upstream task — without this a
    * 1000-task stage writing 1800 date directories emits 1.8M tiny files
    * (the classic small-files failure; every later LIST and footer read
    * pays for it). Keys too hot for one task would instead salt the
    * repartition (`partCol`, salt) — not needed at the coarse-date
    * granularity this layout targets.
    */
  def writeByKey(df: DataFrame, path: String, partCol: String): Unit =
    df.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)

  def scan(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact a fragmented partitioned layout into a NEW snapshot at
    * `dstPath`: one coalescing pass per partition key (the [[writeByKey]]
    * shuffle), so each directory ends with O(1) files regardless of how
    * many tasks wrote the source. Rewriting to a fresh path rather than
    * in place is the immutable-lake pattern — readers keep the old
    * snapshot until a manifest/pointer swap (x78's contract), and a
    * failed compaction leaves nothing half-rewritten. Row content is
    * untouched by construction; the driver query's oracle re-derives the
    * compacted aggregates from the base table to prove it.
    */
  def compact(spark: SparkSession, srcPath: String, dstPath: String,
      partCol: String): Unit =
    writeByKey(scan(spark, srcPath), dstPath, partCol)

  /** Every parquet data file under `root`, recursively, in listing order
    * (`_`- and `.`-prefixed names skipped); empty when `root` is absent.
    * The index tiers read this list as their pinned snapshot, so an
    * append made while a batch is being deduped cannot leak into it.
    * A `listStatus` walk: `listFiles` builds a `LocatedFileStatus` per
    * file, which reads each file's permission, owner and group.
    */
  def dataFiles(spark: SparkSession, root: String): Seq[String] = {
    val dir = new Path(root)
    val fs = fsOf(spark, dir)
    def walk(d: Path): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet") && !name.startsWith("_") &&
            !name.startsWith(".")) Seq(st.getPath.toString)
        else Nil
      }
    if (fs.exists(dir)) walk(dir) else Seq.empty
  }

  /** The files of `files` (a [[dataFiles]] listing) that live under one
    * of the relative partition directories `partDirs` (`__b=3`,
    * `__side=b/__b=3`): the pruned snapshot a partition rewrite reads.
    */
  def filesIn(files: Seq[String], partDirs: Seq[String]): Seq[String] = {
    val marks = partDirs.map(d => s"/$d/")
    files.filter(f => marks.exists(f.contains))
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff `path` exists. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  /** Delete `path` and everything under it; absent is a no-op. */
  def deleteTree(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  /** Rewrite the partitioned directory `dir` in place from `all`, the
    * frame over its current rows with the partition columns `partCols`
    * already computed (a caller re-bucketing computes the new values).
    * The hash shuffle on `partCols` leaves one file per partition
    * directory. A directory without data files is left alone and `all`
    * is never built. `all` is pinned eagerly, because the overwrite
    * deletes `dir` before its write job runs; the footer row counts
    * before and after must then agree.
    */
  def compactInPlace(spark: SparkSession, dir: String, all: => DataFrame,
      partCols: String*): Unit = {
    val files = dataFiles(spark, dir)
    if (files.isEmpty) return
    val before = footerRowCountFiles(spark, files)
    all.repartition(partCols.map(col): _*).localCheckpoint(eager = true)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(dir)
    val after = footerRowCount(spark, dir)
    require(after == before,
      s"compaction changed the row set of $dir: $before -> $after rows")
  }

  /** Replace the partition directories `partDirs` of `dir` (relative,
    * e.g. `__b=3` or `__side=b/__b=3`, escaped as Spark writes them) with
    * the rows of `kept`, which may read those very directories. Returns
    * the number of rows written back.
    *
    * `kept` is shuffled to one task per directory on `partCols` into a
    * lazy local checkpoint, and one count job fills it: every survivor is
    * pinned before any directory is deleted. With adaptive execution the
    * checkpoint also runs the shuffle's map stage as a job; the count
    * reads the checkpoint's RDD, since a `Dataset.count` would run its
    * aggregate's map stage as one more. The directories are then dropped
    * and the survivors appended, so a directory drained to empty vanishes
    * (a dynamic partition overwrite would leave its old files) and a
    * directory outside `partDirs` keeps its files untouched.
    *
    * Crash window: between the deletes and the append the survivors exist
    * only in the executors' block managers. A crash there loses them.
    * Every caller shares this window: the exact-hash, MinHash-LSH,
    * semantic, IVF and inverted-index erasures, [[Upsert]]'s merge, and
    * the NSW and HNSW graph appends, where a crash drops a touched shard.
    */
  def replacePartitions(spark: SparkSession, dir: String,
      partDirs: Seq[String], kept: DataFrame, partCols: String*): Long = {
    val pinned = kept
      .repartition(math.max(partDirs.size, 1), partCols.map(col): _*)
      .localCheckpoint(eager = false)
    val n = pinned.queryExecution.toRdd.count()
    partDirs.foreach(d => deleteTree(spark, s"$dir/$d"))
    if (n > 0) pinned.write.mode("append").partitionBy(partCols: _*).parquet(dir)
    n
  }

  /** Exact row count of every `.parquet` file under `path`, from the
    * parquet FOOTERS — O(files) driver-side metadata, never a data scan
    * and never a Spark job. The row-conservation proofs the index
    * compaction ops carry (`require(before == after)`) need exact
    * counts, not a pass over the data; a `df.count()` pays plan +
    * schedule + scan for a number the footers already hold.
    */
  def footerRowCount(spark: SparkSession, path: String): Long =
    footerRowCountFiles(spark, dataFiles(spark, path))

  /** [[footerRowCount]] over an explicit file list (a pinned snapshot). */
  def footerRowCountFiles(spark: SparkSession, files: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map(f => footerRowCountOf(conf, new Path(f))).sum
  }

  private def footerRowCountOf(
      conf: org.apache.hadoop.conf.Configuration, p: Path): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      var n = 0L
      reader.getFooter.getBlocks.forEach { b => n += b.getRowCount }
      n
    } finally reader.close()
  }

  /** Number of partition directories the plan's file scan actually
    * selected after pruning, or -1 when no partition-filtered scan is in
    * the plan (e.g. the filter didn't reach the scan as a partition
    * filter — the failure this proof exists to catch).
    */
  def prunedPartitionCount(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectFirst {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty =>
        f.selectedPartitions.partitionCount
    }.getOrElse(-1)
  }
}

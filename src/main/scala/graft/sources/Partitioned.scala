package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    df.repartition(org.apache.spark.sql.functions.col(partCol))
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

  /** Total data-file count under `path` (recursive, `_`-prefixed
    * bookkeeping files excluded) — the before/after measure of
    * [[compact]]. Local-filesystem walk (a proof/test helper); against
    * HDFS/object storage count via `FileSystem.listFiles(path, true)`
    * instead.
    */
  def fileCount(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0
      else 1
    walk(new java.io.File(path))
  }

  /** Every parquet data file under `root`, recursively, in listing order
    * (`_`- and `.`-prefixed names skipped); empty when `root` is absent.
    * The index tiers read this list as their pinned snapshot, so an
    * append made while a batch is being deduped cannot leak into it.
    * A `listStatus` walk: `listFiles` builds a `LocatedFileStatus` per
    * file, which reads each file's permission, owner and group.
    */
  def dataFiles(spark: SparkSession, root: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet") && !name.startsWith("_") &&
            !name.startsWith(".")) Seq(st.getPath.toString)
        else Nil
      }
    if (fs.exists(dir)) walk(dir) else Seq.empty
  }

  /** Exact row count of every `.parquet` file under `path`, from the
    * parquet FOOTERS — O(files) driver-side metadata, never a data scan
    * and never a Spark job. The row-conservation proofs the index
    * compaction ops carry (`require(before == after)`) need exact
    * counts, not a pass over the data; a `df.count()` pays plan +
    * schedule + scan for a number the footers already hold.
    */
  def footerRowCount(
      spark: org.apache.spark.sql.SparkSession, path: String): Long =
    footerRowCountFiles(spark, dataFiles(spark, path))

  /** [[footerRowCount]] over an explicit file list (a pinned snapshot). */
  def footerRowCountFiles(
      spark: org.apache.spark.sql.SparkSession, files: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map(f =>
      footerRowCountOf(conf, new org.apache.hadoop.fs.Path(f))).sum
  }

  private def footerRowCountOf(
      conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path): Long = {
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

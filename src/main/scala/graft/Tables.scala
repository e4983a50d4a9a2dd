package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All tables live as single parquet files under a scale-factor dir
  * (`/root/testdata/sf0.01/…`). Schema is inferred from parquet footers —
  * this mirrors the reference's dynamic/implicit schema model
  * (reference `fdi_flow/preprocessing/filters.py:27-28` restores pandas
  * columns verbatim; here the parquet footer is the schema registry).
  */
object Tables {
  /** Per-(application, path) memo of the ANALYZED source relations.
    *
    * `spark.read.parquet(path)` builds a fresh `InMemoryFileIndex` (an FS
    * listing) and re-infers the schema from a parquet footer on every
    * call; a full gate run issues 600+ loads of the same handful of
    * read-only files, paying that driver-side metadata work each time
    * (guide §6: listing/metadata caching is the standard remedy). The
    * memo keeps the immutable logical plan — every action still scans
    * the parquet data itself, nothing row-level is cached. Keyed by
    * applicationId with dead-app eviction (the [[graft.DedupQueries]]
    * sigStoreCache device) so tests and tools with their own sessions
    * never share plans across contexts.
    *
    * CONTRACT (why applicationId, not session, is a safe key): the memo
    * pins both the parquet file listing and the SparkSession that
    * analyzed the plan, so it requires (a) source tables are write-once
    * for the life of the application — every generator in this repo
    * writes them with `mode("error")` and nothing regenerates in-process
    * — and (b) one SparkSession per application, which every driver,
    * bench and test main here satisfies. A second live session in the
    * same application, or in-process table regeneration, would read
    * stale/foreign-session plans and must not be introduced without
    * re-keying this memo by session.
    */
  private val loadCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects. With this legacy conf it reads as LongType
    * epoch-nanos — which both orders identically to DuckDB's
    * `timestamp_ns` view of the same column (no µs-truncation tie-break
    * hazards) and stays comparable via DuckDB `epoch_ns(ts)`. Set on every
    * load so the driver's own session gets it too.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Exception => }
    val app = spark.sparkContext.applicationId
    loadCache.keySet.removeIf(_._1 != app)
    loadCache.computeIfAbsent((app, file(dir, name)),
      k => spark.read.parquet(k._2))
  }

  private def file(dir: String, name: String) = s"$dir/$name.parquet"

  /** Row count of table `name`, read from its parquet footers: no Spark
    * job, so a proof that needs a source table's size costs nothing.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    graft.sources.Partitioned.footerRowCount(spark, file(dir, name))

  /** Whether `df` has at most `max` rows — the guard a caller `require`s
    * before it broadcasts or collects `df`. The answer comes without a
    * Spark job where the plan proves it: first the optimizer's `maxRows`
    * (a limit, a local relation, a range), then, for projections and
    * filters over one parquet relation, the footer row counts of its
    * files. Only when neither bound is within `max` does it run a
    * `limit(max + 1).count()` probe, which stops reading once it has seen
    * one row too many.
    */
  def atMostRows(df: DataFrame, max: Long): Boolean = {
    def parquetFiles(p: LogicalPlan): Option[Seq[String]] = p match {
      case Project(_, child) => parquetFiles(child)
      case Filter(_, child) => parquetFiles(child)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] =>
          Some(h.location.inputFiles.toSeq)
        case _ => None
      }
      case _ => None
    }
    val plan = df.queryExecution.optimizedPlan
    plan.maxRows.exists(_ <= max) ||
      parquetFiles(plan).exists(fs =>
        graft.sources.Partitioned.footerRowCountFiles(df.sparkSession, fs) <= max) ||
      df.limit(math.min(max, Int.MaxValue - 1L).toInt + 1).count() <= max
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** `events.ts` normalized to epoch-nanos LongType no matter how the
    * driver wrote it. Historically the column was parquet TIMESTAMP(NANOS)
    * (arrives as LongType via the `nanosAsLong` conf above); newer corpus
    * generations write TIMESTAMP(MICROS), which Spark reads as
    * TIMESTAMP_NTZ. Every downstream operator (sessionize gaps, tumbling
    * buckets, recurrence ordering) treats `ts` as an epoch-nanos long, and
    * the DuckDB oracles compare via `epoch_ns(ts)`/`epoch_us(ts)` — so the
    * loader converts here, once. The NTZ→LTZ cast is exact because every
    * session in this repo pins `spark.sql.session.timeZone=UTC`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) read as epoch-nanos, as before
      case TimestampType | TimestampNTZType =>
        // The NTZ→LTZ cast reads the wall-clock value in the session
        // timezone; pin UTC here (same defensive pattern as load()'s
        // nanosAsLong) so a caller session left at a non-UTC zone can't
        // shift every normalized ts by the zone offset.
        try spark.conf.set("spark.sql.session.timeZone", "UTC")
        catch { case _: Exception => }
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other =>
        throw new IllegalStateException(s"events.ts has unexpected type $other")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Redistribute rows across the session's full parallelism when the
    * current plan yields fewer partitions. A single small parquet file —
    * the shape of the local sf dirs — is one non-splittable scan split,
    * so every downstream per-row kernel (per-shingle md5, rolling hashes,
    * payload decodes) otherwise runs in ONE task no matter how many cores
    * the session has; parquet can't be split below row-group boundaries,
    * so `files.maxPartitionBytes` can't help. At cluster scale the scan
    * already has ≥ parallelism splits and this is a no-op, which is what
    * lets heavy-kernel operators call it unconditionally: the round-robin
    * shuffle it may inject moves only the operator's projected input and
    * only on degenerate layouts.
    */
  def spread(df: DataFrame): DataFrame = {
    // a streaming frame has no .rdd and micro-batch partitioning is the
    // source's concern — pass it through untouched
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Read the split count from queryExecution.toRdd — a cached lazy val
    // on the InternalRow path that later execution reuses — instead of
    // df.rdd, which builds a separate deserializing RDD (and pays the
    // conversion planning) on top of the same physical plan.
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target) else df
  }
}

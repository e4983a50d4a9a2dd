package graft.similarity

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.sources.Partitioned

/** Ingest-time incremental SEMANTIC deduplication — the embedding tier
  * completing the incremental-dedup triptych beside the exact hash index
  * ([[graft.text.IncrementalDedup]]) and the MinHash LSH index
  * ([[graft.text.IncrementalNearDup]]): a daily batch must drop
  * documents that are semantic duplicates (paraphrases, re-renderings —
  * what no n-gram screen sees) of anything already ingested, WITHOUT
  * rescanning the corpus. The [[SemDedup]] clustering device supplies
  * the confinement: a frozen seeded-KMeans quantizer (trained once on
  * the bootstrap batch — the FAISS frozen-quantizer contract of
  * `Ivf.appendToIndex`; a 100 TB corpus is never re-clustered per batch)
  * assigns every vector a cell, and duplicate candidates are compared
  * WITHIN their cell only, so each batch pays Σ|cell_residents|·|batch
  * cell| cosines instead of |corpus|·|batch|.
  *
  * Semantics (deterministic, ANSI-replayable end to end):
  *  - A batch row is assigned its argmin-distance cell
  *    ([[Ivf.probeCells]] — squared euclidean, cell-asc ties, the exact
  *    arithmetic the SQL oracle replays).
  *  - Within its cell, the batch is processed in ascending id order
  *    against a kept-set initialized with the cell's RESIDENTS: a row is
  *    dropped iff its ROUNDED (6 dp, half-up — the cross-engine x58
  *    device) cosine to ANY kept vector reaches `threshold`; survivors
  *    join the kept-set immediately, so later rows also dedup against
  *    earlier in-batch survivors (the greedy keep-first chain).
  *    Residents always win; re-ingesting a batch is a no-op (every
  *    survivor self-collides at cosine 1.0).
  *  - Survivors' `(id, vector, cell)` rows are appended to the
  *    cell-partitioned state, so the next batch's probe reads only the
  *    cells it touches (partition-pruned by the pinned file list).
  *
  * Scale shape: state is one vector per resident (production stores SQ8
  * codes — [[Ann.quantizeInt8]] — for 4× less; the bench keeps doubles
  * so the oracle replays bit-exactly). The only shuffle is the one
  * cell-keyed repartition of (touched residents ∪ batch); vectors never
  * move except into their own cell's task. Cell population is bounded by
  * quantizer sizing (cells ≈ corpus / nClusters — SemDeDup runs 110 k
  * clusters over 1.3 B embeddings); a cell's kept-set lives in one
  * task's memory, the same Σ|C|² posture as batch [[SemDedup]].
  *
  * Reference semantics: SemDeDup (Abbas et al. 2023) per SURVEY §2.8;
  * the incremental persisted-state contract is the standard
  * training-data ingest loop (no reference counterpart).
  */
object IncrementalSemDedup {

  private def statePath(path: String) = s"$path/state"
  private def centroidsPath(path: String) = s"$path/centroids"

  /** The state files' columns; the cell-partitioned directory adds the
    * `__cell` partition column (equal to `__c`) on a directory read.
    */
  private val StateSchema = StructType(Seq(
    StructField("__id", LongType),
    StructField("__vec", ArrayType(DoubleType)),
    StructField("__c", IntegerType)))

  /** Per-(application, path) memo of the FROZEN quantizer: every ingest
    * wave and erasure consulted the centroid parquet with a full Spark
    * job (read + sort + collect) for 8 rows that are immutable by the
    * frozen-quantizer contract — only [[dropIndex]] removes them and only
    * the bootstrap writes them, so both maintain the memo. Keyed by
    * applicationId with dead-app eviction (the Tables.loadCache device);
    * parquet stays the source of truth for a fresh session.
    */
  private val centsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Array[Array[Double]]]()

  private def cacheKey(spark: SparkSession, path: String) = {
    val app = spark.sparkContext.applicationId
    centsCache.keySet.removeIf(_._1 != app)
    (app, path)
  }

  /** True iff an index (frozen quantizer) exists at `path`. */
  def indexExists(spark: SparkSession, path: String): Boolean =
    Partitioned.exists(spark, centroidsPath(path))

  /** Delete the index at `path` (fresh-build convenience; a production
    * retrain writes to a new path and swaps).
    */
  def dropIndex(spark: SparkSession, path: String): Unit = {
    centsCache.remove(cacheKey(spark, path))
    Partitioned.deleteTree(spark, path)
  }

  /** The frozen quantizer persisted at `path` (cell-ordered). */
  def centroids(spark: SparkSession, path: String): Array[Array[Double]] =
    centsCache.computeIfAbsent(cacheKey(spark, path), _ =>
      spark.read.parquet(centroidsPath(path))
        .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
        .orderBy(col("cell")).collect()
        .map(r => r.getSeq[Double](1).toArray))

  /** Compact the state: rewrite the accumulated per-batch append files
    * into O(1) files per cell ([[graft.text.IncrementalDedup.compactIndex]]
    * contract; the cell layout is fixed by the frozen quantizer so there
    * is no re-bucketing knob here): [[Partitioned.compactInPlace]] over
    * the state directory, whose `__cell` partition column rides through.
    */
  def compactIndex(spark: SparkSession, path: String): Unit =
    Partitioned.compactInPlace(spark, statePath(path),
      spark.read.schema(StateSchema).parquet(statePath(path)), "__cell")

  /** Delete residents from the persisted state — the right-to-be-
    * forgotten op for the semantic tier (the x136/x137 contract on the
    * embedding index): erased docs' resident vectors are removed so
    * future semantic duplicates of the erased content readmit. The
    * deletion input carries the vectors — assignment against the FROZEN
    * centroids prunes the read to touched cells, the same pure argmin
    * the ingest used to place them. Drop-then-append per touched cell:
    * cells deleted to empty vanish rather than keeping stale files;
    * untouched cells stay byte-identical. Returns the number of
    * residents actually removed (ids with no state count zero).
    */
  def deleteFromIndex(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      idCol: String,
      vecCol: String): Long = {
    val snap = Partitioned.dataFiles(spark, statePath(path))
    if (snap.isEmpty) return 0L
    val cents = centroids(spark, path)
    val del = docs
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__vec"))
      .withColumn("__c", Ivf.probeCells(col("__vec"), cents, 1).getItem(0))
      .localCheckpoint()
    val partDirs = del.select(col("__c")).distinct()
      .collect().map(r => s"__cell=${r.getInt(0)}").toSeq
    val touchedSnap = Partitioned.filesIn(snap, partDirs)
    if (touchedSnap.isEmpty) return 0L
    val kept = spark.read.schema(StateSchema).parquet(touchedSnap: _*)
      .join(del.select(col("__id")), Seq("__id"), "left_anti")
      .withColumn("__cell", col("__c"))
    // whole files are read, so the pre-image count is footer metadata
    Partitioned.footerRowCountFiles(spark, touchedSnap) -
      Partitioned.replacePartitions(spark, statePath(path), partDirs, kept, "__cell")
  }

  /** Spark-`round`-compatible 6 dp half-up rounding (BigDecimal over the
    * exact binary expansion — the same arithmetic `round(col, 6)`
    * performs, so the in-task decision replays as `round(cos, 6)` SQL).
    */
  private def round6(x: Double): Double =
    new JBigDecimal(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Semantic-dedup one ingest batch against the persisted index at
    * `path`, append the survivors' vectors, and return the surviving
    * rows (batch columns unchanged). First call on an empty `path`
    * trains and freezes the quantizer on the batch — the bootstrap batch
    * IS the initial corpus. `idCol` must be unique within the batch and
    * across batches.
    */
  def dedupIncremental(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double,
      nClusters: Int = 8,
      seed: Long = 7L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"need threshold in (0,1]: $threshold")
    val spark = batch.sparkSession
    import spark.implicits._
    val cents: Array[Array[Double]] =
      if (indexExists(spark, path)) centroids(spark, path)
      else {
        val c = SemDedup.trainCentroids(batch, idCol, vecCol, nClusters, seed)
        c.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
          .toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(centroidsPath(path))
        centsCache.put(cacheKey(spark, path), c)
        c
      }
    val assigned = batch
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__vec"))
      .withColumn("__c", Ivf.probeCells(col("__vec"), cents, 1).getItem(0))
    // pinned pre-append snapshot, pruned to the batch's touched cells
    // (cell dirs carry the partition value; untouched cells never read)
    val touched = assigned.select(col("__c")).distinct()
      .collect().map(_.getInt(0)).toSet
    val snap = Partitioned.dataFiles(spark, statePath(path))
    val touchedSnap = Partitioned.filesIn(snap, touched.toSeq.map(c => s"__cell=$c"))
    val resident =
      if (touchedSnap.nonEmpty)
        spark.read.schema(StateSchema).parquet(touchedSnap: _*)
          .select(col("__id"), col("__vec"), col("__c"), lit(true).as("__res"))
      else assigned.limit(0).withColumn("__res", lit(true))
    val thr = threshold
    // ONE cell-keyed shuffle; the greedy keep-first chain runs per cell
    // with the kept-set seeded by the residents
    val survivorIds = resident
      .unionByName(assigned.withColumn("__res", lit(false)))
      .repartition(math.max(touched.size, 1), col("__c"))
      .as[(Long, Seq[Double], Int, Boolean)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._3).iterator.flatMap { case (_, rows) =>
          def vn(v: Array[Double]): Double = {
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i) * v(i); i += 1 }
            math.sqrt(s)
          }
          val kept = scala.collection.mutable.ArrayBuffer.from(
            rows.filter(_._4).map { r =>
              val v = r._2.toArray; (v, vn(v))
            })
          val out = scala.collection.mutable.ArrayBuffer.empty[Long]
          rows.filter(!_._4).sortBy(_._1).foreach { case (id, vs, _, _) =>
            val v = vs.toArray
            val n = vn(v)
            val dup = kept.exists { case (k, kn) =>
              var s = 0.0; var i = 0
              while (i < v.length) { s += v(i) * k(i); i += 1 }
              val d = n * kn
              val c = if (d > 0) s / d else 0.0
              round6(c) >= thr
            }
            if (!dup) { kept += ((v, n)); out += id }
          }
          out.iterator
        }
      }
      .toDF("__id")
    // the append is the survivors' only consumer (the return path reads
    // the appended files back), so they are not cached
    assigned.join(survivorIds, Seq("__id"), "left_semi")
      .select(col("__id"), col("__vec"), col("__c"), col("__c").as("__cell"))
      .repartition(math.max(touched.size, 1), col("__cell"))
      .write.mode("append").partitionBy("__cell").parquet(statePath(path))
    // read-back return path: the survivors ARE what the append just
    // persisted (pre-append snapshot diff) — consumers re-run an
    // O(batch) semi-join, never the greedy chain
    val newFiles =
      (Partitioned.dataFiles(spark, statePath(path)).toSet -- snap.toSet).toSeq
    if (newFiles.isEmpty) batch.filter(lit(false))
    else batch.join(
      spark.read.schema(StructType(Seq(StructField("__id", LongType))))
        .parquet(newFiles: _*).select(col("__id").as(idCol)),
      Seq(idCol), "left_semi")
  }
}

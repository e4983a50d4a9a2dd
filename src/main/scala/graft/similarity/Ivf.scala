package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ArraySqDist
import graft.sources.Partitioned

/** IVF (inverted-file) approximate nearest neighbours — the second scale
  * path alongside hyperplane LSH ([[Ann.cosineTopKLsh]]): a KMeans coarse
  * quantizer partitions the corpus into `nlist` cells; each query probes
  * only its `nprobe` nearest cells and re-ranks exactly inside them
  * (IVF-Flat, as in the public FAISS design — Johnson, Douze & Jégou
  * 2017, "Billion-scale similarity search with GPUs").
  *
  * Scale shape: the quantizer trains once (MLlib distributed KMeans,
  * seeded); cell assignment is a per-row `model.transform`; the probe
  * join shuffles on the cell id so each query only meets |corpus|/nlist ×
  * nprobe candidates. Centroids (nlist × dim doubles) ship as a broadcast
  * literal — the only driver-sized state. At 100 TB you'd persist the
  * assigned corpus bucketed by cell; the query path is unchanged.
  */
object Ivf {

  /** Per-(application, path) memo of the persisted quantizer artifacts —
    * centroids and PQ codebooks are FROZEN by contract (only
    * [[writeIndex]] creates them, and it refreshes the memo), yet every
    * append / erasure / indexed search consulted the nlist-row parquet
    * with a full Spark job. Keyed by applicationId with dead-app
    * eviction (the Tables.loadCache device); parquet stays the source of
    * truth for fresh sessions.
    */
  private val centsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Array[Array[Double]]]()
  private val cbCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Pq.Codebooks]()

  private def cacheKey(
      spark: org.apache.spark.sql.SparkSession, path: String) = {
    val app = spark.sparkContext.applicationId
    centsCache.keySet.removeIf(_._1 != app)
    cbCache.keySet.removeIf(_._1 != app)
    (app, path)
  }

  /** Delete the index at `path` and evict its memoized quantizer
    * artifacts (the [[IncrementalSemDedup.dropIndex]] contract): without
    * the eviction, an out-of-band index removal within one application
    * would leave [[readCentroids]] serving stale centroids and the
    * `require(cents.nonEmpty)` guards passing spuriously. A path that
    * exists but holds no `centroids/` is not an index and is refused
    * rather than deleted recursively.
    */
  def dropIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    centsCache.remove(cacheKey(spark, path))
    cbCache.remove(cacheKey(spark, path))
    if (Partitioned.exists(spark, path)) {
      require(Partitioned.exists(spark, s"$path/centroids"),
        s"$path holds no centroids/ - not an IVF index, refusing to delete it")
      Partitioned.deleteTree(spark, path)
    }
  }

  /** The persisted coarse quantizer, cell-ordered (memoized — see
    * [[centsCache]]).
    */
  private[graft] def readCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] =
    centsCache.computeIfAbsent(cacheKey(spark, path), _ =>
      spark.read.parquet(s"$path/centroids").orderBy(col("cell"))
        .collect().map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray))

  /** Nearest-`nprobe` cell ids for a feature column, computed against the
    * centroid literal with the native codegen'd distance.
    */
  private[similarity] def probeCells(
      feat: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    val cells = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(ArraySqDist(feat, typedlit(c.toSeq)).as("d"), lit(i).as("cell"))
    }: _*)
    slice(array_sort(cells), 1, nprobe).getField("cell")
  }

  /** Quantizer training set: at most `TrainCap` rows (hash-sampled when
    * the corpus is larger), squeezed into few partitions so each KMeans
    * iteration schedules a handful of tasks instead of one per corpus
    * partition. FAISS trains its IVF quantizer on a bounded sample for
    * the same reason — cell shape converges long before the full corpus
    * has been seen, so a 100 TB build must not run KMeans over 100 TB.
    */
  private val TrainCap = 65536L

  private[similarity] def quantizerInput(vecs: DataFrame, idCol: String): DataFrame = {
    val n = vecs.count()
    val sampled =
      if (n <= TrainCap) vecs
      else { // deterministic hash-gate, independent of input partitioning
        val keep = math.max(1L, n / TrainCap)
        vecs.filter(pmod(xxhash64(col(idCol)), lit(keep)) === 0)
      }
    sampled.coalesce(math.max(1, (TrainCap / 16384L).toInt))
  }

  /** Approximate cosine top-k: build the quantizer on the corpus, assign
    * cells, probe `nprobe` cells per query, exact-cosine re-rank (bounded
    * top-k aggregate). Output: queryId, rank, neighbor_id, cosine — same
    * contract as [[Ann.cosineTopK]]/[[Ann.cosineTopKLsh]].
    */
  def cosineTopKIvf(
      corpus: DataFrame,
      queries: DataFrame,
      featCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 7L,
      excludeSelf: Boolean = true): DataFrame =
    cosineTopKIvfWith(corpus, queries, featCol, corpusIdCol, queryIdCol, k,
      trainQuantizer(corpus, featCol, corpusIdCol, nlist, seed), nprobe,
      excludeSelf)

  /** Train the coarse quantizer alone and return its centroids (row i =
    * cell i) — the reusable half of [[cosineTopKIvf]]: a trained
    * quantizer serves every later search/build against the same corpus
    * (the FAISS `train`-once contract), and the returned arrays are plain
    * driver data an oracle can interpolate as literals.
    *
    * Random init, not k-means||: the parallel init runs several extra
    * full passes to seed centers, which dominates quantizer training cost
    * while coarse-quantizer recall is insensitive to init quality (FAISS
    * trains its IVF quantizer from random samples for the same reason);
    * recall vs the exact baseline is asserted in AnnSpec either way.
    */
  def trainQuantizer(
      corpus: DataFrame,
      featCol: String,
      idCol: String,
      nlist: Int,
      seed: Long = 7L,
      maxIter: Int = 10): Array[Array[Double]] = {
    val vecs = corpus.select(col(idCol).as("__cid"), col(featCol).as("__cf"))
      .withColumn("__v", array_to_vector(col("__cf").cast("array<double>")))
    val km = new KMeans().setK(nlist).setSeed(seed).setInitMode("random")
      .setMaxIter(maxIter)
      .setFeaturesCol("__v").setPredictionCol("__cell")
    km.fit(quantizerInput(vecs, "__cid")).clusterCenters.map(_.toArray)
  }

  /** [[cosineTopKIvf]] against an ALREADY-trained quantizer. Cell
    * assignment uses the same codegen'd `probeCells` argmin as
    * [[appendToIndex]] (squared euclidean, cell-asc tie-break) — one
    * arithmetic rule across build, append and query, and the exact rule
    * an external replay computes from the centroid literals.
    */
  def cosineTopKIvfWith(
      corpus: DataFrame,
      queries: DataFrame,
      featCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    require(nprobe <= centroids.length)
    // spread: per-row argmin over nlist centroid distances — parallelize
    // a single-split local scan (no-op at cluster scale)
    val assigned = graft.Tables.spread(corpus)
      .select(col(corpusIdCol).as("__cid"), col(featCol).as("__cf"))
      .withColumn("__cell", probeCells(col("__cf"), centroids, 1).getItem(0))
      .withColumn("__cn", Ann.norm(col("__cf")))
    val q = broadcast(
      queries.select(col(queryIdCol).as("__qid"), col(featCol).as("__qf"))
        .withColumn("__qn", Ann.norm(col("__qf")))
        .withColumn("__cell", explode(probeCells(col("__qf"), centroids, nprobe))))
    val cands = assigned.join(q, Seq("__cell"))
      .filter(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__qf"), col("__qn"),
        col("__cid"), col("__cf"), col("__cn"))
    Ann.rankTopK(cands, queryIdCol, k)
  }

  /** Persist an IVF-Flat index — the 100 TB layout the header describes:
    *
    *  - `<path>/corpus/` — the cell-assigned corpus (`__cid`, `__cf`,
    *    precomputed norm `__cn`) written `partitionBy("__cell")`, so each
    *    cell is its own directory and a probe's scan never opens
    *    unprobed cells' files;
    *  - `<path>/centroids/` — the `nlist` quantizer centroids (one tiny
    *    file; the only state the query path must load).
    *
    * Build once, query many times ([[cosineTopKIndexed]]) — the quantizer
    * KMeans (the expensive part) never reruns on the query path.
    */
  /** Shared storage projection for [[writeIndex]]/[[appendToIndex]]:
    * either raw float vectors + their norm, or (quantize=true) the FAISS
    * IVF-SQ8 layout — per-vector int8 codes + scale (`Ann.quantizeInt8`)
    * with the norm of the RECONSTRUCTED vector, so search scores equal
    * exact cosine over what the index actually stores.
    */
  private def storageColumns(assigned: DataFrame, quantize: Boolean): DataFrame =
    if (!quantize)
      assigned.withColumn("__cn", Ann.norm(col("__cf")))
        .select(col("__cid"), col("__cf"), col("__cn"), col("__cell"))
    else
      Ann.quantizeInt8(assigned, "__cf", "__q8", "__qs")
        .withColumn("__cn",
          Ann.norm(Ann.dequantizeInt8(col("__q8"), col("__qs"))))
        .select(col("__cid"), col("__q8"), col("__qs"), col("__cn"), col("__cell"))

  /** PQ storage projection: nibble codes + recon norm per row (the
    * IVF-PQ cell layout — FAISS's billion-scale default).
    */
  private def storageColumnsPq(assigned: DataFrame, cb: Pq.Codebooks): DataFrame =
    assigned.withColumn("__pqc", Pq.encodeCol(col("__cf"), cb))
      .withColumn("__cn", Pq.reconNormCol(col("__pqc"), cb))
      .select(col("__cid"), col("__pqc"), col("__cn"), col("__cell"))

  /** Persist PQ codebooks beside the centroids: one row per
    * (subspace, code) with its centroid — tiny (m·k rows).
    */
  private def writeCodebooks(
      spark: org.apache.spark.sql.SparkSession, path: String, cb: Pq.Codebooks): Unit = {
    import spark.implicits._
    (for (s <- 0 until cb.m; j <- 0 until cb.k)
      yield (s, j, cb.centers(s)(j).toSeq))
      .toDF("sub", "code", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    cbCache.put(cacheKey(spark, path), cb)
  }

  private def readCodebooks(
      spark: org.apache.spark.sql.SparkSession, path: String): Pq.Codebooks =
    cbCache.computeIfAbsent(cacheKey(spark, path), _ => {
      val rows = spark.read.parquet(s"$path/codebooks")
        .collect().map(r => (r.getInt(0), r.getInt(1),
          r.getSeq[Double](r.fieldIndex("center")).toArray))
      val m = rows.map(_._1).max + 1
      val k = rows.map(_._2).max + 1
      val centers = Array.ofDim[Array[Double]](m, k)
      rows.foreach { case (s, j, c) => centers(s)(j) = c }
      Pq.Codebooks(m, k, centers(0)(0).length, centers)
    })

  def writeIndex(
      corpus: DataFrame,
      featCol: String,
      corpusIdCol: String,
      path: String,
      nlist: Int = 16,
      seed: Long = 7L,
      maxIter: Int = 10,
      quantize: Boolean = false,
      pqM: Int = 0,
      pqK: Int = 16): Unit = {
    require(!(quantize && pqM > 0), "pick one of SQ8 (quantize) or PQ (pqM)")
    val vecs = corpus.select(col(corpusIdCol).as("__cid"), col(featCol).as("__cf"))
      .withColumn("__v", array_to_vector(col("__cf").cast("array<double>")))
    // random init, not k-means||: the parallel init runs several extra
    // full passes to seed centers, which dominates quantizer training cost
    // while coarse-quantizer recall is insensitive to init quality (FAISS
    // trains its IVF quantizer from random samples for the same reason);
    // recall vs the exact baseline is asserted in AnnSpec either way.
    // maxIter 10 (not MLlib's 20) for the same reason — each iteration is
    // a full corpus pass, and a coarse quantizer needs rough cells, not a
    // converged clustering.
    val km = new KMeans().setK(nlist).setSeed(seed).setInitMode("random")
      .setMaxIter(maxIter)
      .setFeaturesCol("__v").setPredictionCol("__cell")
    val trainSample = quantizerInput(vecs, "__cid")
    // the coarse quantizer and the PQ sub-quantizer codebooks are
    // INDEPENDENT trainings over the same bounded sample — overlap them
    // from a 2-thread pool (guide §2.6; the x119 device). Each fit keeps
    // its own partitioning and arithmetic, so centroids and codebooks are
    // bit-identical to the sequential shape. The vector width comes from
    // one sample row (the model previously supplied it, but the PQ fit no
    // longer waits for the model).
    val (model, cbOpt) =
      if (pqM > 0) {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        try {
          // cache the shared bounded sample ONCE: uncached, its lineage
          // (corpus scan + hash-gate + coalesce) re-ran for the dim
          // probe, again under the coarse fit's internal persist, and a
          // third time for Pq.train's own count + cache. cache() changes
          // neither rows nor partitioning, so both trainings stay
          // bit-identical; preBounded skips Pq.train's count, which
          // could only re-prove what quantizerInput already enforced.
          trainSample.cache()
          try {
            val dim = trainSample.select(col("__cf")).head.getSeq[Any](0).length
            val fKm = Future(km.fit(trainSample))
            val fCb = Future(
              Pq.train(trainSample, "__cf", dim, m = pqM, k = pqK, seed = seed,
                preBounded = true))
            (Await.result(fKm, Duration.Inf),
              Some(Await.result(fCb, Duration.Inf)))
          } finally trainSample.unpersist(blocking = false)
        } finally pool.shutdown()
      } else (km.fit(trainSample), None)
    // assignment via the SAME codegen'd argmin as appendToIndex and
    // cosineTopKIvfWith — one arithmetic rule (squared euclidean,
    // cell-asc ties) across build, append and query, replayable from the
    // centroid literals; model.transform would route near-ties through
    // MLlib's norm-trick distance instead
    val builtCents = model.clusterCenters.map(_.toArray)
    // spread ONLY the assignment/storage pass (the per-row argmin +
    // optional SQ8/PQ encode): the quantizer input above keeps its
    // original partitioning so the trained centroids are unchanged
    val assigned = graft.Tables.spread(vecs)
      .withColumn("__cell", probeCells(col("__cf"), builtCents, 1).getItem(0))
      .select(col("__cid"), col("__cf"), col("__cell"))
    val stored = cbOpt match {
      case Some(cb) =>
        writeCodebooks(corpus.sparkSession, path, cb)
        storageColumnsPq(assigned, cb)
      case None => storageColumns(assigned, quantize)
    }
    stored
      // one shuffle keyed by cell before the partitioned write: without
      // it every upstream task writes a file into every cell directory
      // (tasks × nlist small files); with it each cell is a handful of
      // contiguous files — the layout a 100 TB probe scan wants
      .repartition(nlist, col("__cell"))
      .write.mode("overwrite").partitionBy("__cell").parquet(s"$path/corpus")
    val spark = corpus.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    centsCache.put(cacheKey(spark, path),
      model.clusterCenters.map(_.toArray))
  }

  /** Incrementally grow a persisted index — the 100 TB ingest path: a
    * corpus that size cannot be re-clustered on every batch, so new rows
    * are assigned to their nearest EXISTING centroid (same squared-
    * euclidean rule as the KMeans assignment in [[writeIndex]]) and
    * appended into that cell's partition directory; the quantizer is
    * untouched. Results afterwards are identical to a [[writeIndex]]
    * build that had used the same centroids for every row — the FAISS
    * `add` contract (quantizer fixed at train time, `IndexIVF::add`
    * assigns against it). Periodic re-train (a fresh [[writeIndex]]) is
    * only needed when drift degrades the cell balance — monitor with
    * [[cellStats]]/[[imbalanceFactor]] after each batch; the retrain
    * threshold contract lives on [[imbalanceFactor]].
    */
  def appendToIndex(
      newRows: DataFrame,
      featCol: String,
      corpusIdCol: String,
      path: String): Unit = {
    val spark = newRows.sparkSession
    val cents = readCentroids(spark, path)
    require(cents.nonEmpty, s"no centroids at $path/centroids — writeIndex first")
    // append batches must match the index's storage format (float, SQ8
    // or PQ) — detected from the persisted corpus schema, not a caller flag
    val schema = spark.read.parquet(s"$path/corpus").schema.fieldNames.toSet
    val assigned = graft.Tables.spread(newRows)
      .select(col(corpusIdCol).as("__cid"), col(featCol).as("__cf"))
      .withColumn("__cell", probeCells(col("__cf"), cents, 1).getItem(0))
    (if (schema.contains("__pqc"))
       storageColumnsPq(assigned, readCodebooks(spark, path))
     else storageColumns(assigned, schema.contains("__q8")))
      // same cell-keyed shuffle as writeIndex: an append batch must add
      // O(1) files per touched cell, not one per upstream task
      .repartition(cents.length, col("__cell"))
      .write.mode("append").partitionBy("__cell").parquet(s"$path/corpus")
  }

  /** Compact a persisted index's cell files — the lifecycle stage
    * [[appendToIndex]] makes necessary at scale: each append adds O(1)
    * files per touched cell (`mode("append")` never rewrites), so after
    * N daily batches a probe scan opens O(N) files per probed cell and
    * the snapshot listing pays O(N·nlist). The rewrite collapses the
    * corpus back to one file per cell (one cell-keyed shuffle over the
    * stored codes — for SQ8/PQ indexes that is 4–16× less IO than the
    * raw vectors), preserving the row set exactly (require()-guarded)
    * and leaving centroids/codebooks untouched — compaction is
    * semantics-free by construction, the same contract as the dedup
    * indexes' `compactIndex` ([[graft.text.IncrementalDedup]]).
    * Storage-format agnostic: the projection is whatever the corpus
    * schema holds (float, SQ8 or PQ columns ride through unchanged).
    *
    * Consume-then-compact: like the dedup indexes, any frame still
    * pinning pre-compaction file lists must be materialized first — the
    * overwrite replaces the directory. The graph indexes need no
    * analogue: [[Hnsw.appendToIndex]] and [[Nsw.appendToIndex]] replace
    * each touched shard directory wholesale
    * ([[Partitioned.replacePartitions]]), so their file count never
    * grows per batch.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Partitioned.compactInPlace(spark, s"$path/corpus",
      spark.read.parquet(s"$path/corpus"), "__cell")

  /** Delete vectors from a persisted index — the erasure op for the
    * vector store (the dedup indexes' `deleteFromIndex` contract): the
    * deletion input carries the vectors, so the frozen quantizer's
    * argmin — the same pure rule that placed them at build/append time —
    * prunes the rewrite to touched cells only. Drop-then-append per
    * touched cell (a cell deleted to empty vanishes; untouched cells
    * stay byte-identical); storage-format agnostic — kept rows are
    * rewritten with whatever columns the corpus holds (float, SQ8 or PQ
    * codes ride through unchanged). Returns the number of index rows
    * removed. HNSW uses tombstones instead ([[Hnsw.deleteFromIndex]]) —
    * unlinking graph nodes would degrade routing connectivity.
    */
  def deleteFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      docs: DataFrame,
      idCol: String,
      featCol: String): Long = {
    val cents = readCentroids(spark, path)
    require(cents.nonEmpty, s"no centroids at $path/centroids")
    val del = docs
      .select(col(idCol).cast("long").as("__cid"),
        col(featCol).cast("array<double>").as("__f"))
      .withColumn("__cell", probeCells(col("__f"), cents, 1).getItem(0))
      .select(col("__cid"), col("__cell"))
      .localCheckpoint()
    val touched = del.select(col("__cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return 0L
    val kept = spark.read.parquet(s"$path/corpus")
      .filter(col("__cell").isin(touched.map(Int.box): _*))
      .join(del.select(col("__cid")), Seq("__cid"), "left_anti")
    // whole cell directories are read: pre-image count from footers
    // (a missing cell dir counts zero)
    val before = touched.map(c =>
      Partitioned.footerRowCount(spark, s"$path/corpus/__cell=$c")).sum
    before - Partitioned.replacePartitions(spark, s"$path/corpus",
      touched.map(c => s"__cell=$c"), kept, "__cell")
  }

  /** Per-cell row counts of a persisted index — the drift telemetry for
    * the [[appendToIndex]] ingest loop. Cheap by construction: the scan
    * touches ONLY the `__cell` partition column (footer row counts, no
    * data pages), so it can run after every append batch.
    */
  def cellStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/corpus")
      .groupBy(col("__cell").as("cell")).agg(count(lit(1)).as("n"))

  /** FAISS-style imbalance factor of the persisted index:
    * `nlist · Σ nᵢ² / (Σ nᵢ)²` — 1.0 when every cell holds the same
    * share, → nlist when one cell holds everything. Probe cost at a
    * fixed nprobe scales with this factor (a probe of a hot cell scans
    * its whole cell), which is what makes it THE retrain trigger:
    * [[appendToIndex]] never moves the quantizer, so a drifting ingest
    * stream piles into few cells and the factor climbs.
    *
    * Retrain policy (documented contract, decided by the caller): record
    * the post-build factor (typically 1.2–2 on real data); re-run
    * [[writeIndex]] when the factor exceeds ~2× that baseline or ~4
    * absolute — past that, probes of hot cells dominate search cost and
    * a fresh quantizer pays for itself. Empty cells count toward nlist
    * (a drained cell is drift too).
    */
  def imbalanceFactor(
      spark: org.apache.spark.sql.SparkSession, path: String): Double = {
    val nlist = Partitioned.footerRowCount(
      spark, s"$path/centroids")
    val r = cellStats(spark, path)
      .agg(sum(col("n") * col("n")).as("ss"), sum(col("n")).as("s")).head()
    val (ss, s) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    if (s == 0) 1.0 else nlist * ss / (s * s)
  }

  /** Approximate cosine top-k over a persisted index: load the centroids
    * (nlist × dim — driver-small by construction), compute each query's
    * `nprobe` cells, and read ONLY the probed cells' partitions of the
    * bucketed corpus. The probed-cell set is collected for a static
    * `IN`-list partition filter — it is bounded by `nlist` (never by
    * |queries|), so the pruning predicate stays tiny and the scan's
    * `PartitionFilters` provably excludes unprobed directories; no
    * reliance on runtime DPP. Output contract = [[cosineTopKIvf]].
    */
  /** `allowed`: optional filtered-search restriction — the FAISS
    * IDSelector / production vector-store contract (metadata predicates
    * compose with ANN): candidates are semi-joined against the allowed
    * id set AFTER the partition-pruned scan and BEFORE ranking, so the
    * filter never widens the probe IO and the top-k ranks qualifying
    * rows only (pre-filter semantics — no k-deficit from discarding
    * ranked hits afterwards). The allowed frame carries ids only; at
    * scale AQE broadcasts it when small and shuffles the semi-join on
    * the id otherwise.
    */
  def cosineTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      featCol: String,
      queryIdCol: String,
      k: Int,
      nprobe: Int = 4,
      excludeSelf: Boolean = true,
      allowed: Option[(DataFrame, String)] = None): DataFrame = {
    val cents = readCentroids(spark, path)
    require(nprobe <= cents.length)
    // cache the probe assignment: it is read twice (probed-cell collect,
    // then the broadcast join) and is broadcast-small by contract
    val q = broadcast(
      queries.select(col(queryIdCol).as("__qid"), col(featCol).as("__qf"))
        .withColumn("__qn", Ann.norm(col("__qf")))
        .withColumn("__cell", explode(probeCells(col("__qf"), cents, nprobe)))
        .cache())
    val probed = q.select(col("__cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val storedAll = spark.read.parquet(s"$path/corpus")
      .filter(col("__cell").isin(probed.map(Int.box): _*))
    val stored = allowed match {
      case Some((ids, idCol)) => storedAll.join(
        ids.select(col(idCol).cast("long").as("__cid")).distinct(),
        Seq("__cid"), "left_semi")
      case None => storedAll
    }
    val fields = stored.schema.fieldNames.toSet
    if (fields.contains("__pqc")) {
      // IVF-PQ index: never reconstruct — score the probed cells by the
      // ADC subspace decomposition straight off the nibble codes
      val cb = readCodebooks(spark, path)
      val cands = stored.join(q, Seq("__cell"))
        .filter(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
        .select(col("__qid"), col("__qn"), col("__cid"), col("__cn"),
          Pq.adcDotCol(col("__qf"), col("__pqc"), cb).as("__adc"))
      return Ann.rankTopKScored(cands, queryIdCol, k,
        col("__adc") / (col("__qn") * col("__cn")))
    }
    // SQ8 index: reconstruct vectors from the int8 codes AFTER the
    // partition-pruned scan — the probe IO is the 4×-smaller codes, the
    // dequantize is a codegen'd map over only the probed cells' rows
    val assigned =
      if (fields.contains("__q8"))
        stored.withColumn("__cf",
          Ann.dequantizeInt8(col("__q8"), col("__qs")))
      else stored
    val cands = assigned.join(q, Seq("__cell"))
      .filter(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__qf"), col("__qn"),
        col("__cid"), col("__cf"), col("__cn"))
    Ann.rankTopK(cands, queryIdCol, k)
  }
}

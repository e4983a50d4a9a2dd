package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.operators.Recurrence

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * after cleaning/dedup (SURVEY §2.8 north-star): benchmark
  * decontamination, deterministic stratified sampling (domain mixing),
  * and sequence packing. All three are single-shuffle shapes and all
  * hash-deterministic, so they oracle-check exactly.
  */
object Pipeline {

  /** Benchmark decontamination: flag corpus documents sharing ≥ `minShared`
    * distinct word `n`-grams with ANY benchmark/eval document — the
    * test-set-leakage screen (the n-gram overlap decontamination published
    * for GPT-3, Brown et al. 2020 §C, there with 13-grams).
    *
    * Scale shape: the benchmark side is small by definition — its distinct
    * gram set broadcasts; the corpus explodes to (doc, gram) pairs once,
    * hash-joins against the broadcast, and aggregates per doc. The corpus
    * never self-joins and vectors/text never pass through the shuffle —
    * ids and grams only.
    *
    * Output: one row per contaminated corpus doc —
    * `idCol, n_shared_grams, n_grams, overlap` (shared fraction of the
    * doc's distinct grams).
    */
  /** Default ceiling on the benchmark side of [[contaminationReport]]'s
    * broadcast: eval suites are thousands-to-hundreds-of-thousands of
    * documents by definition, and 100k docs × a few hundred distinct
    * grams each is comfortably inside an executor broadcast budget. Past
    * it the broadcast-gram plan is the wrong tool at any cluster size —
    * the caller has almost certainly swapped the corpus and bench sides.
    */
  val MaxBenchDocs: Long = 100000L

  /** NOTE: unless the plan or the parquet footers bound `bench`, the row
    * guard below runs a probe job at CALL time, and `bench` is evaluated
    * twice (probe + broadcast gram build) — persist/cache an expensive
    * bench frame before calling, and ALWAYS cache a non-deterministic one
    * (it could otherwise pass the probe yet exceed the cap at broadcast
    * time).
    */
  def contaminationReport(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minShared: Int = 1,
      maxBenchDocs: Long = MaxBenchDocs): DataFrame = {
    // Bounded row count before the broadcast (the Knn.guardedBroadcast
    // shape): fails fast instead of OOMing executors mid-join. A cap that
    // limit() cannot express (≥ Int.MaxValue−1) is a deliberate guard
    // disable — skip the bound rather than overflow into one.
    if (maxBenchDocs < Int.MaxValue.toLong - 1) {
      require(graft.Tables.atMostRows(bench, maxBenchDocs),
        s"contaminationReport broadcasts the benchmark side's distinct $n-gram " +
          s"set, but bench exceeds $maxBenchDocs rows (maxBenchDocs); eval " +
          "suites are driver-small by definition — check the corpus and bench " +
          "arguments aren't swapped, or raise maxBenchDocs deliberately")
    }
    val grams = TextOps.wordShingles(col(textCol), n)
    // per-doc shingling is the map-side cost — don't let a single-split
    // input serialize it on one core (no-op on well-partitioned scans)
    val corpusGrams = graft.Tables.spread(corpus)
      .select(col(idCol).as("__id"), grams.as("__gs"))
      .withColumn("__ng", size(col("__gs")).cast("long"))
      .select(col("__id"), col("__ng"), explode(col("__gs")).as("__g"))
    val benchGrams = broadcast(
      bench.select(explode(grams).as("__g")).distinct())
    corpusGrams.join(benchGrams, "__g")
      .groupBy(col("__id"), col("__ng"))
      .agg(count(lit(1)).as("n_shared_grams")) // grams are distinct per doc
      .filter(col("n_shared_grams") >= minShared)
      .select(col("__id").as(idCol), col("n_shared_grams"),
        col("__ng").as("n_grams"),
        (col("n_shared_grams").cast("double") / col("__ng")).as("overlap"))
  }

  /** Bloom-filter variant of [[contaminationReport]] — the shape for when
    * the benchmark gram set outgrows a string broadcast (the
    * [[MaxBenchDocs]] guard trips): a Bloom sketch of the bench grams is
    * built by Spark's distributed `stat.bloomFilter` aggregate (Bloom
    * 1970; ~10 bits/gram at 1% fpp vs ~50+ bytes/gram of broadcast
    * strings — two orders of magnitude smaller over the wire), and every
    * corpus gram probes the broadcast sketch map-side — no join, no
    * shuffle of the gram stream.
    *
    * Contract: NO false negatives (every truly contaminated doc is
    * flagged, with `n_flagged_grams >= ` the exact shared count), false
    * positives at ≈`fpp` per clean gram — so this is the cheap SCREEN:
    * route its survivors to [[contaminationReport]]'s exact join for the
    * final verdict, at a corpus-fraction of the cost. Sketch bit layout
    * is engine-internal → rows-only at the driver gate; the superset and
    * fpp properties are spec-asserted against the exact report.
    */
  def contaminationReportBloom(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minFlagged: Int = 1,
      expectedGrams: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val grams = TextOps.wordShingles(col(textCol), n)
    // Sketch build AND probe are Catalyst expressions, not a Scala UDF:
    // `BloomFilterAggregate` builds the sketch distributedly (the same
    // engine machinery behind runtime join filters) over xxhash64 of each
    // gram, and the probe is a codegen'd `BloomFilterMightContain` over a
    // binary literal of the serialized sketch — the probe stage stays
    // inside whole-stage codegen (the round-8 UDF broke WSCG there).
    // Grams enter the sketch as xxhash64 longs on BOTH sides; the extra
    // hash adds only a ~2^-64-per-pair false-positive mass and no false
    // negatives, so the screen contract is unchanged.
    val numBits = math.max(64L, math.ceil(
      -expectedGrams.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val buildAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("__g"))),
        Literal(expectedGrams), Literal(numBits)).toAggregateExpression())
    val sketch = bench.select(explode(grams).as("__g")).distinct()
      .select(buildAgg.as("__bf")).head().getAs[Array[Byte]](0)
    def might(g: Column): Column = ColumnBridge.column(
      BloomFilterMightContain(Literal(sketch, BinaryType),
        ColumnBridge.expression(xxhash64(g))))
    graft.Tables.spread(corpus)
      .select(col(idCol).as("__id"), grams.as("__gs"))
      .select(col("__id"), size(col("__gs")).cast("long").as("n_grams"),
        explode(col("__gs")).as("__g"))
      .groupBy(col("__id"), col("n_grams"))
      .agg(sum(when(might(col("__g")), 1L).otherwise(0L)).as("n_flagged_grams"))
      .filter(col("n_flagged_grams") >= minFlagged)
      .select(col("__id").as(idCol), col("n_flagged_grams"), col("n_grams"))
  }

  /** Fuzzy decontamination — the near-duplicate complement of
    * [[contaminationReport]]'s exact n-gram overlap (the GPT-3 appendix-C
    * / PaLM contamination methodology family: an eval example
    * contaminates a training doc when the two are NEAR-duplicates, not
    * only on verbatim gram overlap). A corpus doc is flagged when its
    * word-shingle MinHash-Jaccard similarity to ANY bench doc reaches
    * `threshold`, using the same signature/banding scheme as
    * [[TextOps.nearDupPairsBy]].
    *
    * Scale shape: eval suites are driver-small (the [[MaxBenchDocs]]
    * contract), so instead of the self-join tag-union this is
    * corpus-LINEAR — the bench side's banded signature keys AND its
    * shingle sets are broadcast; corpus rows compute signatures in one
    * map pass, probe the broadcast band keys, and only the (rare)
    * candidates evaluate exact Jaccard against the broadcast bench
    * shingles. No shuffle touches corpus text at all: the single
    * aggregation shuffles (corpus_id, bench_id, jaccard) candidate rows.
    *
    * Output: one row per contaminated (corpus `idCol`, `bench_id`) pair
    * with its exact `jaccard` (≥ threshold).
    */
  def contaminationReportFuzzy(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBenchDocs: Long = MaxBenchDocs): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    if (maxBenchDocs < Int.MaxValue.toLong - 1) {
      require(graft.Tables.atMostRows(bench, maxBenchDocs),
        s"contaminationReportFuzzy broadcasts the benchmark side's banded " +
          s"MinHash keys and shingle sets, but bench exceeds $maxBenchDocs " +
          "rows (maxBenchDocs); eval suites are driver-small by definition")
    }
    val rows = numHashes / bands
    val shingles = TextOps.wordShingles(col(textCol), shingleN)
    def banded(df: DataFrame, outId: String): DataFrame =
      TextOps.minHashSignaturesBy(df, idCol, shingles, numHashes)
        .select(col("__id").as(outId),
          explode(array((0 until bands).map { b =>
            struct(lit(b).as("band"),
              slice(col("__sig"), b * rows + 1, rows).as("key"))
          }: _*)).as("__b"))
        .select(col(outId), col("__b.band").as("__band"),
          col("__b.key").as("__key"))
    val benchBanded = broadcast(banded(bench, "bench_id"))
    val benchShingles = broadcast(
      bench.select(col(idCol).as("bench_id"), shingles.as("__shb")))
    banded(graft.Tables.spread(corpus), "__cid")
      .join(benchBanded, Seq("__band", "__key"))
      .select(col("__cid"), col("bench_id")).distinct()
      .join(corpus.select(col(idCol).as("__cid"), shingles.as("__sha")), "__cid")
      .join(benchShingles, "bench_id")
      .withColumn("jaccard", TextOps.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("__cid").as(idCol), col("bench_id"), col("jaccard"))
  }

  /** Deterministic U(0,1) from md5 of `"<seed>:<id>"` — stateless,
    * executor-independent, and bit-replayable in DuckDB (md5 + first 8 hex
    * digits / 2^32), unlike `rand()` or xxhash64. The sampling analogue of
    * [[graft.functions.HashRandom]] for oracle-checked queries.
    */
  def hashUniform(seed: Long, id: Column): Column =
    conv(substring(md5(concat_ws(":", lit(seed.toString), id.cast("string"))), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)

  /** Deterministic stratified sampling — the domain-mixing step of a
    * pretraining pipeline: keep each row with its stratum's target rate,
    * decided per row by [[hashUniform]] so the sample is (a) exactly
    * reproducible across runs/clusters, (b) a pure narrow filter — no
    * shuffle, no RNG state, fully pushdown-friendly — and (c) stable
    * under corpus growth (a row's fate never depends on other rows,
    * unlike reservoir/exact-count sampling).
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double,
      seed: Long): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(hashUniform(seed, col(idCol)) < rate)
  }

  /** Temperature-scaled mixture sampling — the multilingual/domain
    * rebalancing rule of mT5/XLM (Xue et al. 2021 §3.1; Lample & Conneau
    * 2019 §3.1): stratum `s` with share `p_s = n_s / N` is drawn with
    * probability `q_s ∝ p_s^alpha`, flattening head strata and boosting
    * tail strata as `alpha → 0`. The per-row keep rate that realizes the
    * mixture at an expected `targetFrac · N` total rows is
    * `rate_s = min(1, targetFrac · N · q_s / n_s)`, applied by the same
    * bit-replayable [[hashUniform]] coin as [[stratifiedSample]].
    *
    * Scale shape: one count aggregate over the strata column (tiny),
    * rates joined back by a broadcast hash join on the stratum key, then
    * the same narrow filter — corpus text never shuffles.
    *
    * `alpha == 0.5` is computed via `sqrt` rather than `pow`: IEEE-754
    * requires correctly-rounded sqrt but only ~1-ulp pow, so sqrt keeps
    * the rates BIT-identical between Spark and the DuckDB oracle.
    *
    * Appends `__rate` (the stratum's keep rate) to the surviving rows.
    */
  def temperatureSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      alpha: Double,
      targetFrac: Double,
      seed: Long): DataFrame =
    temperatureSampleBy(df, idCol, strataCol, lit(1d), alpha, targetFrac, seed)

  /** [[temperatureSample]] with per-row WEIGHTS — compute-share-corrected
    * alpha-sampling: stratum mass `W_s = Σ weight` (e.g. the fitted
    * tokenizer's token counts — the x130 fertility signal) replaces the
    * row count, so the tempered shares allocate TRAINING COMPUTE rather
    * than document counts. Training cost is paid in tokens, and a
    * high-fertility language (more tokens per byte under the shared
    * tokenizer) consumes more compute per document — a doc-count mix
    * silently over-trains it; weighting by token mass corrects exactly
    * that. Expected sampled mass per stratum ∝ `W_s^alpha`, total
    * `targetFrac · W`; rates and coin identical to the unweighted form.
    */
  def temperatureSampleWeighted(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weightCol: String,
      alpha: Double,
      targetFrac: Double,
      seed: Long): DataFrame =
    temperatureSampleBy(df, idCol, strataCol, col(weightCol).cast("double"),
      alpha, targetFrac, seed)

  private def temperatureSampleBy(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weight: Column,
      alpha: Double,
      targetFrac: Double,
      seed: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1]: $alpha")
    require(targetFrac > 0 && targetFrac <= 1, s"targetFrac in (0,1]: $targetFrac")
    def tempered(c: Column): Column =
      if (alpha == 0.5) sqrt(c) else pow(c, lit(alpha))
    val counts = df.groupBy(col(strataCol))
      .agg(sum(weight).cast("double").as("__ns"))
    val tot = counts.agg(sum(col("__ns")).as("__n"),
      sum(tempered(col("__ns"))).as("__z"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col(strataCol),
        least(lit(1d),
          lit(targetFrac) * col("__n") * (tempered(col("__ns")) / col("__z"))
            / col("__ns")).as("__rate"))
    df.join(broadcast(rates), strataCol)
      .filter(hashUniform(seed, col(idCol)) < col("__rate"))
  }

  /** Exact per-stratum quota sampling: keep precisely `min(quota, n_s)`
    * rows from each stratum, chosen by ranking rows on the
    * [[hashUniform]] coin (ties broken by id) — "take k docs per domain"
    * with a bit-reproducible, order-independent selection. One
    * sort-shuffle on the stratum key; Spark plans the rank filter as
    * WindowGroupLimit, so each map task forwards only its local top-k
    * candidates into the exchange. Unlike [[stratifiedSample]] the
    * result count is exact, at the cost of that shuffle — use the rate
    * form when expected counts suffice.
    */
  def quotaSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      quota: Int,
      seed: Long): DataFrame = {
    require(quota > 0, s"quota must be positive: $quota")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashUniform(seed, col(idCol)), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= quota)
      .drop("__rk")
  }

  /** Deterministic dataset split — train/validation/test assignment by
    * the [[hashUniform]] coin against cumulative weight thresholds.
    * Stateless and row-independent like [[stratifiedSample]]: a row's
    * split never changes as the corpus grows, re-runs are bit-identical
    * on any cluster, and the assignment is a pure narrow projection (no
    * shuffle, no RNG state). Weights are normalized; appends `split`
    * with the matching name.
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      seed: Long): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      s"splits need positive weights: $splits")
    val total = splits.map(_._2).sum
    val cum = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
    val u = hashUniform(seed, col(idCol))
    // last split catches u up to 1.0 exactly (cumulative float dust)
    val expr = splits.init.zip(cum.tail.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), hi), acc) =>
      when(u < lit(hi), lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Sequence packing, concat-and-chunk style (the GPT-line pretraining
    * layout: documents are concatenated in order and the token stream is
    * cut every `budget` tokens, so documents may straddle chunk
    * boundaries). Pure window arithmetic — cumulative token offset per
    * group, integer division for the chunk ids — one sort-shuffle per
    * group, oracle-expressible.
    *
    * Appends: `__tok` (token count), `chunk_first`, `chunk_last`,
    * `n_chunks` (how many chunks the doc touches).
    */
  /** RAG/eval-style per-document chunking: overlapping token windows of
    * `chunkTokens` whitespace tokens advancing by `stride`
    * (`stride < chunkTokens` ⇒ consecutive chunks share
    * `chunkTokens − stride` tokens of context — the standard retrieval
    * chunk layout). Starts are `0, stride, 2·stride, …`; emission stops
    * once the PREVIOUS chunk already reached the document's end (so a
    * short tail is emitted once, never as a redundant suffix), and a
    * document shorter than one chunk yields exactly its single chunk.
    *
    * Unlike [[packChunked]] (corpus-layout chunking ACROSS documents,
    * window cumsum ⇒ one shuffle per group), this is per-row array
    * arithmetic — zero shuffles, fully codegen'd, embarrassingly
    * parallel at any corpus size. Emits one row per chunk:
    * `(idCols…, chunk_idx, start_token, n_chunk_tokens, chunk_hash)`
    * with `chunk_hash = md5(chunk text)` — the id a downstream
    * embedding/dedup stage keys on without re-reading the parent doc.
    */
  def chunkSliding(
      df: DataFrame,
      idCols: Seq[String],
      textCol: String,
      chunkTokens: Int,
      stride: Int): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      s"need 1 <= stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val words = split(TextOps.normalize(col(textCol)), " ")
    // let-bind words/size as columns BEFORE the HOF: a lambda referencing
    // the raw expressions would re-evaluate the split+regex per element
    val starts = filter(
      sequence(lit(0), greatest(col("__nw") - 1, lit(0)), lit(stride)),
      s => s === 0 || s + (chunkTokens - stride) < col("__nw"))
    df.select((idCols.map(col) :+ words.as("__w")): _*)
      .withColumn("__nw", size(col("__w")))
      .select((idCols.map(col) :+ col("__w") :+ col("__nw") :+
        posexplode(starts).as(Seq("chunk_idx", "__s"))): _*)
      .select((idCols.map(col) :+
        col("chunk_idx") :+
        col("__s").cast("int").as("start_token") :+
        least(lit(chunkTokens), col("__nw") - col("__s")).cast("int")
          .as("n_chunk_tokens") :+
        md5(array_join(slice(col("__w"), col("__s") + 1, lit(chunkTokens)),
          " ")).as("chunk_hash")): _*)
  }

  def packChunked(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      textCol: String,
      budget: Long): DataFrame =
    packChunkedBy(df, groupCols, orderCols,
      greatest(TextOps.bpeishTokenCount(col(textCol)), lit(1L)), budget)

  /** [[packChunked]] with a caller-supplied token-count column — the
    * production variant: packing decisions driven by the REAL fitted
    * tokenizer's counts (`Bpe.tokenCounts`, x55/x56) instead of the x8
    * estimate, same one-window shape (the x134 query; callers should
    * keep the `greatest(·, 1)` floor so empty docs still occupy a slot).
    */
  def packChunkedBy(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      tok: org.apache.spark.sql.Column,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__tok", tok)
      .withColumn("__off", coalesce(sum(col("__tok")).over(w), lit(0L)))
      .withColumn("chunk_first", expr(s"__off div ${budget}L"))
      .withColumn("chunk_last", expr(s"(__off + __tok - 1) div ${budget}L"))
      .withColumn("n_chunks", col("chunk_last") - col("chunk_first") + 1)
      .drop("__off")
  }

  /** Sequence packing, greedy first-fit-in-order style (T5-line: a doc
    * never straddles packs; a new pack starts when the current doc does
    * not fit; an oversize doc gets a pack of its own). The remaining-
    * capacity state makes this a true per-group recurrence, so it rides
    * the [[Recurrence.rowScan]] kernel — O(1) state per group, streaming
    * partitions, same 100 TB shape as the filters.
    *
    * Appends `__tok` and `pack_id` (0-based per group).
    */
  def packGreedy(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      textCol: String,
      budget: Long): DataFrame = {
    val withTok = df.withColumn("__tok",
      greatest(TextOps.bpeishTokenCount(col(textCol)), lit(1L)))
    val tokIdx = withTok.schema.fieldIndex("__tok")
    Recurrence.rowScan[(Long, Long)]( // state = (packId, remaining)
      withTok, groupCols, orderCols,
      Seq(StructField("pack_id", LongType, nullable = false))) { r =>
      val t = r.getLong(tokIdx)
      ((0L, budget - t), Seq(0L))
    } { case ((pack, rem), r) =>
      val t = r.getLong(tokIdx)
      if (t <= rem) ((pack, rem - t), Seq(pack))
      else ((pack + 1, budget - t), Seq(pack + 1))
    }
  }

  /** Deterministic global shuffle + round-robin sharding — the step
    * between packing and shipping that every pretraining dataset needs:
    * a training-epoch ORDER that is (a) statistically a uniform shuffle,
    * (b) bit-reproducible across runs and clusters, and (c) turns each
    * shard into an unbiased interleaved sample of the whole corpus (the
    * trainer-side contract that lets any shard subset stand in for the
    * dataset). Rank = the row's position in the total (coin, id) order,
    * shard = rank mod nShards.
    *
    * Scale shape: a global `row_number()` window would move the corpus
    * to ONE task; instead this is a sampled RANGE sort
    * (`repartitionByRange` on the coin — every reducer gets a slice of
    * the order) plus the two-pass zipWithIndex device: a light first
    * pass counts rows per sorted partition, the driver folds the
    * offsets (numPartitions longs — bounded state), and the second pass
    * streams each partition adding offset + local index. The rank is a
    * pure function of the total order, so boundaries — and therefore
    * re-runs on any cluster — never change the result. The count pass
    * re-executes the sort (stateless by design, no cache leak); persist
    * the sorted stage first (the x104 pattern) when the double sort
    * matters. Appends `shuffle_rank` (0-based) and `shard`.
    */
  def globalShuffle(
      df: DataFrame,
      idCol: String,
      nShards: Int,
      seed: Long): DataFrame = {
    require(nShards > 0, s"need nShards > 0: $nShards")
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val sorted = df.withColumn("__u", hashUniform(seed, col(idCol)))
      .repartitionByRange(col("__u"), col(idCol))
      .sortWithinPartitions(col("__u"), col(idCol))
    val counts = sorted.mapPartitions { it =>
      Iterator((TaskContext.getPartitionId(), it.size.toLong))
    }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .collect().toMap
    val maxP = if (counts.isEmpty) -1 else counts.keys.max
    val offsets = (0 to maxP).scanLeft(0L)((acc, p) =>
      acc + counts.getOrElse(p, 0L)).toArray
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = StructType(sorted.schema.fields ++ Seq(
      StructField("shuffle_rank", LongType, nullable = false),
      StructField("shard", LongType, nullable = false)))
    val n = nShards.toLong
    sorted.mapPartitions { it =>
      val off = bc.value(TaskContext.getPartitionId())
      it.zipWithIndex.map { case (r, i) =>
        val rank = off + i
        Row.fromSeq(r.toSeq :+ rank :+ (rank % n))
      }
    }(Encoders.row(outSchema)).drop("__u")
  }

  /** Snapshot diff — the corpus-governance primitive behind "what
    * changed between dataset releases": every doc in either snapshot is
    * classified `added` (only in `b`), `removed` (only in `a`),
    * `modified` (both, normalized content hash differs) or `unchanged`.
    * One full-outer hash-shuffle join on the id; content hashes are
    * computed map-side ([[TextOps.contentHash]], 16 B/doc through the
    * shuffle) so document text never moves or compares directly —
    * at 100 TB the diff costs one join over (id, hash) pairs.
    * Output: `idCol`, `status`, plus `source` carried from whichever
    * side has the row.
    */
  def datasetDiff(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      textCol: String,
      carryCols: Seq[String] = Seq.empty): DataFrame = {
    def keyed(df: DataFrame, tag: String) =
      df.select(
        (col(idCol).as(s"__id_$tag") +:
          TextOps.contentHash(col(textCol)).as(s"__h_$tag") +:
          carryCols.map(c => col(c).as(s"__${c}_$tag"))): _*)
    keyed(a, "a").join(keyed(b, "b"),
        col("__id_a") === col("__id_b"), "full_outer")
      .select(
        (coalesce(col("__id_a"), col("__id_b")).as(idCol) +:
          when(col("__id_a").isNull, "added")
            .when(col("__id_b").isNull, "removed")
            .when(col("__h_a") =!= col("__h_b"), "modified")
            .otherwise("unchanged").as("status") +:
          carryCols.map(c =>
            coalesce(col(s"__${c}_a"), col(s"__${c}_b")).as(c))): _*)
  }

  /** Sequence packing, first-fit-DECREASING bin style — the
    * padding-minimizing layout (Johnson 1973 FFD, the 11/9·OPT
    * guarantee): within each stratum, documents sorted by token count
    * descending (id ascending on ties) are placed into the FIRST open
    * bin with room, opening a new bin when none fits; an oversize doc
    * gets a bin of its own. Unlike [[packGreedy]] (first-fit-in-order:
    * only the newest pack is open, O(1) state), FFD keeps every bin
    * open, so its state is the list of remaining capacities — which is
    * why the packing runs per bounded SHARD: a rank window splits each
    * stratum into `docsPerShard`-sized shards (same sorted order) and
    * bins never cross shards. That bounds scan state at `docsPerShard`
    * longs per task, keeps shards independently parallel, and is the
    * standard production trade-off (packing quality is already
    * approximate; sharding costs a fraction of a bin per shard).
    * Deterministic end to end: the sort, the shard split and first-fit
    * are all total-order rules, so the layout replays bit-for-bit in
    * ANSI SQL (the x103 oracle folds the same rule in a recursive CTE).
    *
    * Appends `__tok`, `__pshard` (0-based shard within stratum) and
    * `bin` (0-based within shard).
    */
  def packBinFFD(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      textCol: String,
      capacity: Long,
      docsPerShard: Int = 4096): DataFrame = {
    require(capacity > 0 && docsPerShard > 0,
      s"need capacity > 0, docsPerShard > 0: $capacity $docsPerShard")
    import org.apache.spark.sql.expressions.Window
    val withTok = df
      .withColumn("__tok", greatest(TextOps.bpeishTokenCount(col(textCol)), lit(1L)))
      .withColumn("__negtok", -col("__tok"))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(col("__negtok"), col(idCol))
    val sharded = withTok.withColumn("__pshard",
      ((row_number().over(w) - 1) / docsPerShard).cast("long"))
    val tokIdx = sharded.schema.fieldIndex("__tok")
    Recurrence.rowScan[Vector[Long]](
      sharded, strataCols :+ "__pshard", Seq("__negtok", idCol),
      Seq(StructField("bin", LongType, nullable = false))) { r =>
      val t = r.getLong(tokIdx)
      (Vector(capacity - t), Seq(0L))
    } { case (bins, r) =>
      val t = r.getLong(tokIdx)
      val i = bins.indexWhere(_ >= t)
      if (i >= 0) (bins.updated(i, bins(i) - t), Seq(i.toLong))
      else (bins :+ (capacity - t), Seq(bins.size.toLong))
    }.drop("__negtok")
  }

  /** Deterministic training-shard writer + manifest — the final "ship
    * the dataset" stage: every row is routed to one of `nShards` shards
    * by the md5 hash of its id (growth-stable: a doc's shard never
    * depends on what else is in the corpus), the shards land as one
    * partitioned parquet write (repartitioned by shard first, so each
    * shard gets O(1) files, not one per upstream task), and the returned
    * manifest is computed FROM THE PERSISTED FILES — it certifies what
    * was actually written, not what was meant to be.
    *
    * Manifest rows per shard: `n_docs`, `n_tokens` (whitespace tokens),
    * `id_min`/`id_max`, and `content_sum` — the sum of each doc's 32-bit
    * content-hash prefix (order-independent, so it replays in ANSI SQL
    * and survives any read order; a flipped byte in any document moves
    * it). At 100 TB this is the handoff contract between the data
    * pipeline and the trainer: shard-level fingerprints that both sides
    * can recompute independently.
    */
  def writeShards(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"need nShards > 0: $nShards")
    val shard = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(nShards.toLong))
    df.withColumn("__shard", shard)
      .repartition(nShards, col("__shard"))
      .write.mode("overwrite").partitionBy("__shard").parquet(path)
    val back = df.sparkSession.read.parquet(path)
    back.groupBy(col("__shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(trim(col(textCol)), "\\s+"))).cast("long").as("n_tokens"),
        min(col(idCol)).as("id_min"),
        max(col(idCol)).as("id_max"),
        sum(conv(substring(md5(TextOps.normalize(col(textCol))), 1, 8), 16, 10)
          .cast("long")).as("content_sum"))
  }
}

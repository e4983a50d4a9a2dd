package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopK

/** Exact k-nearest-neighbour classification as a top-k-per-group query
  * (reference D1, `fdi_flow/detectors/sklearn_detectors.py:19-253`).
  *
  * Plan shape: broadcast the (small) test side against the train side,
  * compute the distance as a codegen'd higher-order-function expression
  * over the embedding arrays, then reduce to k candidates per test row
  * with the native bounded [[graft.functions.TopK]] — partial (map-side)
  * aggregation keeps at most k rows per (partition, test row), so the
  * train side never shuffles its full cross product; only `k·P·|test|`
  * candidate rows reach the exchange, and the vote aggregate downstream
  * is tiny. Beyond exact scale, swap in the LSH variant
  * ([[graft.similarity.Ann]]).
  */
object Knn {

  /** Σ (a−b)² over two float/double array columns, computed in double,
    * sequential left-to-right — matches DuckDB `list_distance`² exactly.
    * Native codegen'd expression ([[graft.functions.ArraySqDist]]): one
    * fused loop per pair instead of interpreted zip_with/aggregate lambdas.
    */
  def squaredDistance(a: Column, b: Column): Column =
    graft.functions.ArraySqDist(a, b)

  /** Default ceiling on the broadcast (test/query) side of the exact-KNN
    * cross join: 100k rows is tens of MB at typical feature widths —
    * comfortably inside an executor broadcast budget. Past it the exact
    * cross join is the wrong plan at any cluster size and the caller
    * should move to the approximate paths
    * ([[graft.similarity.Ann.cosineTopKLsh]], [[graft.similarity.Ivf]]).
    */
  val MaxBroadcastTestRows: Long = 100000L

  /** Broadcast the test side only after [[graft.Tables.atMostRows]]
    * bounds it (from the plan or the parquet footers, else a
    * short-circuiting row probe): an oversized test side fails fast with
    * a pointer at the LSH/IVF substitutes instead of OOMing the executors
    * mid-join.
    */
  private def guardedBroadcast(test: DataFrame, maxRows: Long): DataFrame = {
    require(graft.Tables.atMostRows(test, maxRows),
      s"exact KNN broadcasts the test side, which exceeds $maxRows rows; " +
        "for query sets this large use the approximate paths " +
        "(graft.similarity.Ann.cosineTopKLsh or graft.similarity.Ivf)")
    broadcast(test)
  }

  /** Classify each `test` row by majority label of its `k` nearest train
    * rows (squared-euclidean on `featCol` arrays); distance ties break on
    * `trainIdCol`, vote ties on the smallest label — fully deterministic.
    *
    * Output: testIdCol, `pred_label`, `n_votes` (votes for the winner).
    */
  def classify(
      train: DataFrame,
      test: DataFrame,
      featCol: String,
      labelCol: String,
      testIdCol: String,
      trainIdCol: String,
      k: Int,
      maxTestRows: Long = MaxBroadcastTestRows): DataFrame = {
    val t = guardedBroadcast(test.select(col(testIdCol), col(featCol).as("__qf")), maxTestRows)
    val joined = train
      .select(col(trainIdCol).as("__tid"), col(labelCol).as("__lbl"), col(featCol).as("__tf"))
      .crossJoin(t)
      .withColumn("__d2", squaredDistance(col("__qf"), col("__tf")))
    val topk = joined.groupBy(col(testIdCol))
      .agg(TopK(col("__d2"), col("__tid"), col("__lbl"), k).as("__tk"))
    val votes = topk
      .select(col(testIdCol), explode(col("__tk.hits.payload")).as("__lbl"))
      .groupBy(col(testIdCol), col("__lbl"))
      .agg(count(lit(1)).as("n_votes"))
    votes.withColumn("__vrk",
      row_number().over(Window.partitionBy(col(testIdCol))
        .orderBy(col("n_votes").desc, col("__lbl").asc)))
      .filter(col("__vrk") === 1)
      .select(col(testIdCol), col("__lbl").as("pred_label"), col("n_votes"))
  }

  /** Minkowski p-power distance `Σ|a−b|^p` — the top-k sort key; the true
    * distance is `pow(·, 1/p)`, taken only after the bounded top-k.
    */
  def minkowskiPow(a: Column, b: Column, p: Double): Column =
    graft.functions.ArrayMinkowskiPow(a, b, p)

  /** True Minkowski distance from its p-power sum (`sqrt` for p=2 so the
    * oracle's `sqrt` matches bit-for-bit; identity for p=1).
    */
  private def minkowskiRoot(powSum: Column, p: Double): Column =
    if (p == 1.0) powSum
    else if (p == 2.0) sqrt(powSum)
    else pow(powSum, lit(1.0 / p))

  /** Per-hit vote weights over the ascending-sorted top-k hits array —
    * sklearn `weights` semantics (`sklearn_detectors.py:22-27`):
    * `uniform` → 1; `distance` → 1/d, except when any neighbour is at
    * distance 0, in which case the zero-distance neighbours get weight 1
    * and the rest 0 (sklearn's exact-match rule). All computed with
    * deterministic left-to-right array folds — no double-sum shuffle
    * nondeterminism, so results hash-match a same-order oracle.
    */
  private def hitWeights(hits: Column, p: Double, weights: String): Column =
    weights match {
      case "uniform" => transform(hits, _ => lit(1d))
      case "distance" =>
        val hasZero = exists(hits, h => h.getField("score") === 0d)
        transform(hits, h => {
          val s = h.getField("score")
          when(hasZero, when(s === 0d, lit(1d)).otherwise(lit(0d)))
            .otherwise(lit(1d) / minkowskiRoot(s, p))
        })
      case other =>
        throw new IllegalArgumentException(
          s"weights must be uniform|distance, got $other")
    }

  /** Left-to-right sum of the weights of hits whose payload (label) is
    * `c`. Deterministic: hits are ascending (score, id), so the same
    * addition order reproduces everywhere.
    */
  private def classWeight(hits: Column, ws: Column, c: Column): Column =
    aggregate(
      zip_with(hits, ws, (h, w) => struct(h.getField("payload").as("lbl"), w.as("w"))),
      lit(0d),
      (acc, hw) => acc + when(hw.getField("lbl") === c, hw.getField("w")).otherwise(lit(0d)))

  /** [[classify]] generalized to the reference KNN surface
    * (`sklearn_detectors.py:19-64`): minkowski-`p` distance and
    * `weights ∈ {uniform, distance}`. Vote ties break on the smallest
    * label; distance ties inside the top-k break on the train id.
    *
    * Output: testIdCol, `pred_label` (long), `vote_weight` (double —
    * the winner's summed weight; equals the vote count for uniform).
    *
    * Same bounded-top-k plan as [[classify]]; the vote argmax happens in
    * deterministic array folds on the one-row-per-test-id frame, so no
    * extra shuffle after the top-k aggregate.
    */
  def classifyWeighted(
      train: DataFrame,
      test: DataFrame,
      featCol: String,
      labelCol: String,
      testIdCol: String,
      trainIdCol: String,
      k: Int,
      p: Double = 2.0,
      weights: String = "uniform",
      maxTestRows: Long = MaxBroadcastTestRows): DataFrame = {
    val topk = weightedTopK(train, test, featCol, labelCol, testIdCol, trainIdCol, k, p, maxTestRows)
    val hits = col("__tk.hits")
    val ws = hitWeights(hits, p, weights)
    val classes = array_sort(array_distinct(transform(hits, _.getField("payload"))))
    // lexicographic array_min over (−weight, label) = argmax weight, tie
    // on the smallest label — matches sklearn's argmax over sorted classes
    val best = array_min(transform(classes, c =>
      struct((lit(0d) - classWeight(hits, ws, c)).as("negw"), c.as("lbl"))))
    topk.withColumn("__best", best)
      .select(
        col(testIdCol),
        col("__best.lbl").as("pred_label"),
        (lit(0d) - col("__best.negw")).as("vote_weight"))
  }

  /** Class membership probabilities — sklearn `predict_proba`
    * (`sklearn_detectors.py:206-219`): per-class vote-weight fraction
    * over the full sorted train label domain (classes absent from the
    * top-k get probability 0). Output: one row per (test id, label):
    * testIdCol, `label` (long), `proba` (double).
    */
  def predictProba(
      train: DataFrame,
      test: DataFrame,
      featCol: String,
      labelCol: String,
      testIdCol: String,
      trainIdCol: String,
      k: Int,
      p: Double = 2.0,
      weights: String = "uniform",
      maxTestRows: Long = MaxBroadcastTestRows): DataFrame = {
    // label domain: small by construction (fault codes) — driver collect,
    // same contract as FaultDetector.fit
    val labels = train.select(col(labelCol).cast("long").as("__l"))
      .filter(col("__l").isNotNull).distinct().orderBy("__l")
      .collect().map(_.getLong(0))
    val topk = weightedTopK(train, test, featCol, labelCol, testIdCol, trainIdCol, k, p, maxTestRows)
    val hits = col("__tk.hits")
    val ws = hitWeights(hits, p, weights)
    val total = aggregate(ws, lit(0d), (acc, w) => acc + w)
    val labelArr = array(labels.map(lit): _*)
    topk.select(
      col(testIdCol),
      explode(transform(labelArr, c =>
        struct(c.as("label"), (classWeight(hits, ws, c) / total).as("proba")))).as("__pp"))
      .select(col(testIdCol), col("__pp.label").as("label"), col("__pp.proba").as("proba"))
  }

  /** Shared bounded top-k frame: one row per test id with `__tk.hits`
    * ascending by (p-power distance, train id); the label rides in
    * `payload`.
    */
  private def weightedTopK(
      train: DataFrame,
      test: DataFrame,
      featCol: String,
      labelCol: String,
      testIdCol: String,
      trainIdCol: String,
      k: Int,
      p: Double,
      maxTestRows: Long): DataFrame = {
    val t = guardedBroadcast(test.select(col(testIdCol), col(featCol).as("__qf")), maxTestRows)
    val joined = train
      .select(col(trainIdCol).as("__tid"), col(labelCol).as("__lbl"), col(featCol).as("__tf"))
      .crossJoin(t)
      .withColumn("__dp", minkowskiPow(col("__qf"), col("__tf"), p))
    joined.groupBy(col(testIdCol))
      .agg(TopK(col("__dp"), col("__tid"), col("__lbl"), k).as("__tk"))
  }

  /** k nearest neighbours themselves (rank + id + squared distance). */
  def neighbors(
      train: DataFrame,
      test: DataFrame,
      featCol: String,
      testIdCol: String,
      trainIdCol: String,
      k: Int,
      excludeSelf: Boolean = true,
      maxTestRows: Long = MaxBroadcastTestRows): DataFrame = {
    val t = guardedBroadcast(
      test.select(col(testIdCol).as("__qid"), col(featCol).as("__qf")), maxTestRows)
    val joined = train
      .select(col(trainIdCol).as("__tid"), col(featCol).as("__tf"))
      .crossJoin(t)
      .filter(if (excludeSelf) col("__tid") =!= col("__qid") else lit(true))
      .withColumn("__d2", squaredDistance(col("__qf"), col("__tf")))
    joined.groupBy(col("__qid"))
      .agg(TopK(col("__d2"), col("__tid"), lit(0L), k).as("__tk"))
      .select(col("__qid"), posexplode(col("__tk.hits")).as(Seq("__pos", "__h")))
      .select(col("__qid").as(testIdCol), (col("__pos") + 1).cast("int").as("rank"),
        col("__h.id").as("neighbor_id"), col("__h.score").as("dist2"))
  }
}

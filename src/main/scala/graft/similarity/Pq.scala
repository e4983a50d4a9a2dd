package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ArraySqDist

/** Product quantization (Jégou, Douze & Schmid 2011, "Product
  * quantization for nearest neighbor search" — the codebook behind
  * FAISS's billion-scale IVF-PQ): split each D-dim vector into `m`
  * subspaces of D/m dims, learn `k` centroids per subspace (independent
  * KMeans), and store each vector as `m` sub-centroid ids — `m·log2(k)`
  * bits instead of `32·D` (64-dim float32 → 8 bytes at m=8, k=256: 32×).
  *
  * Search uses asymmetric distance computation (ADC): the query stays
  * exact, and `dot(q, recon(c)) = Σ_s dot(q_s, C_s[code_s])` decomposes
  * over subspaces, so scoring a candidate is `m` table lookups instead
  * of a D-wide dot product. Here the per-(query, subspace) partial dots
  * are expressed as Catalyst expressions over a broadcast codebook
  * literal — whole-stage codegen'd, no UDF — which is the same
  * lookup-table contract with the table inlined into the plan.
  *
  * Scale shape: training touches a bounded sample (the [[Ivf]]
  * `TrainCap` argument applies — codebooks converge long before the
  * corpus is seen); encoding is one codegen'd map pass; the codes table
  * (m bytes + one float norm per row) is what shuffles or persists,
  * never the float vectors. Composable with the IVF cell layout (encode
  * the cell-partitioned corpus) exactly as FAISS composes IVF+PQ.
  */
object Pq {

  /** Trained product codebooks: `centers(s)(j)` is the j-th centroid of
    * subspace s (length `dsub`). `reconNorm` of a code is the norm of
    * the concatenated centroids.
    */
  case class Codebooks(m: Int, k: Int, dsub: Int, centers: Array[Array[Array[Double]]])

  /** Train `m` independent sub-quantizers of `k` centroids each on (a
    * bounded sample of) the corpus. `dim` must divide evenly by `m`.
    *
    * `preBounded = true` asserts the caller already bounded `df` to at
    * most the 65536-row training cap (the [[Ivf.writeIndex]] path, whose
    * `quantizerInput` applied the SAME hash-gate device): the redundant
    * full-lineage `count()` that would only re-prove `n <= cap` — and
    * therefore take the identity branch — is skipped. Rows and
    * partitioning are untouched either way, so the trained codebooks
    * are bit-identical to the counted path.
    */
  def train(
      df: DataFrame,
      featCol: String,
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      seed: Long = 7L,
      maxIter: Int = 10,
      preBounded: Boolean = false): Codebooks = {
    require(dim % m == 0, s"dim $dim must divide by m $m")
    val dsub = dim / m
    // one bounded-sample materialization feeds all m sub-fits. The
    // bound is a deterministic hash-gate on the vector itself (same
    // device as Ivf.quantizerInput) — a bare limit() would take
    // whichever partitions answer first and train different codebooks
    // run to run.
    val cap = 65536L
    val all = df.select(col(featCol).cast("array<double>").as("__v"))
    val n = if (preBounded) 0L else all.count()
    val sample = (
      if (n <= cap) all
      else all.filter(pmod(xxhash64(col("__v")), lit(math.max(1L, n / cap))) === 0)
      // 8 partitions so the m (=8 by default) concurrent sub-KMeans can
      // each schedule a task without contending for the sample's splits
      ).coalesce(8).cache()
    val sampled = sample.count()
    // preBounded callers promise a hash-gated sample; the materializing
    // count is free proof they kept it
    require(!preBounded || sampled <= 2 * cap,
      s"preBounded input holds $sampled rows, over 2 x $cap")
    // the m sub-quantizer fits are independent (disjoint coordinate
    // blocks of the same cached sample) — run them concurrently; each is
    // still a distributed KMeans, and the result is order-stable
    val centers = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence((0 until m).toList.map { s =>
        Future {
          val sub = sample.select(
            array_to_vector(slice(col("__v"), s * dsub + 1, dsub)).as("__sv"))
          val km = new KMeans().setK(k).setSeed(seed + s).setInitMode("random")
            .setMaxIter(maxIter).setFeaturesCol("__sv").setPredictionCol("__c")
          km.fit(sub).clusterCenters.map(_.toArray)
        }
      }), Duration.Inf).toArray
      finally pool.shutdown()
    }
    sample.unpersist(blocking = false)
    Codebooks(m, k, dsub, centers)
  }

  /** PQ codes for a feature column: `array<int>` of length `m`, each the
    * nearest sub-centroid id — argmin over `k` codegen'd [[ArraySqDist]]
    * terms per subspace (the [[Ivf]] `probeCells` construction applied
    * per subspace).
    */
  def encodeCol(feat: Column, cb: Codebooks): Column = {
    val v = feat.cast("array<double>")
    array((0 until cb.m).map { s =>
      val sub = slice(v, s * cb.dsub + 1, cb.dsub)
      val scored = array(cb.centers(s).zipWithIndex.map { case (c, j) =>
        struct(ArraySqDist(sub, typedlit(c.toSeq)).as("d"), lit(j).as("j"))
      }: _*)
      array_sort(scored).getItem(0).getField("j")
    }: _*)
  }

  /** Norm of the reconstruction a code array decodes to. */
  def reconNormCol(codes: Column, cb: Codebooks): Column = {
    val sqNorms = cb.centers.map(_.map(c => c.map(x => x * x).sum))
    val lut = typedlit(sqNorms.map(_.toSeq).toSeq)
    // Σ_s |C_s[code_s]|² — subspaces are orthogonal coordinate blocks
    val terms = (0 until cb.m).map { s =>
      element_at(element_at(lut, s + 1), codes.getItem(s) + 1)
    }
    sqrt(terms.reduce(_ + _))
  }

  /** ADC dot product of an exact query vector against a code array:
    * `Σ_s dot(q_s, C_s[code_s])`, with the codebook inlined as a literal
    * (the classical per-query lookup table, evaluated by codegen).
    */
  def adcDotCol(queryFeat: Column, codes: Column, cb: Codebooks): Column = {
    val q = queryFeat.cast("array<double>")
    val lut = typedlit(cb.centers.map(_.map(_.toSeq).toSeq).toSeq)
    (0 until cb.m).map { s =>
      graft.functions.ArrayDot(
        slice(q, s * cb.dsub + 1, cb.dsub),
        element_at(element_at(lut, s + 1), codes.getItem(s) + 1))
    }.reduce(_ + _)
  }

  /** Approximate cosine top-k by ADC over a PQ-encoded corpus: encode
    * once, broadcast the queries, rank `dot_adc / (|q|·|recon|)` with the
    * bounded top-k aggregate. Output contract = [[Ann.cosineTopK]].
    */
  def cosineTopKPq(
      corpus: DataFrame,
      queries: DataFrame,
      featCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      cb: Codebooks,
      excludeSelf: Boolean = true): DataFrame = {
    // spread: the encode argmin (m·k ArraySqDist terms per row) is the
    // expensive kernel — a single-split local scan would run it in ONE
    // task (measured 12.5 s of a 16 s x39 run); no-op at cluster scale
    val enc = graft.Tables.spread(corpus).select(col(corpusIdCol).as("__cid"),
      encodeCol(col(featCol), cb).as("__code"))
      .withColumn("__cn", reconNormCol(col("__code"), cb))
    val q = broadcast(queries.select(col(queryIdCol).as("__qid"),
      col(featCol).as("__qf"))
      .withColumn("__qn", Ann.norm(col("__qf"))))
    val cands = enc.crossJoin(q)
      .filter(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__qn"), col("__cid"), col("__cn"),
        adcDotCol(col("__qf"), col("__code"), cb).as("__adc"))
    // rankTopK recomputes dot from vectors; here the dot is the ADC sum,
    // so rank directly with the same bounded aggregate contract
    Ann.rankTopKScored(cands, queryIdCol, k,
      col("__adc") / (col("__qn") * col("__cn")))
  }
}

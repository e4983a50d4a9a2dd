package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashRandom
import graft.similarity.Ann
import graft.text.TextOps

/** Near-dup dedup (MinHash LSH) and ANN (hyperplane LSH) quality tests:
  * the scale paths must actually FIND what the exact paths find.
  */
class AnnSpec extends SparkSpec {

  test("minhash signature equality rate tracks jaccard") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog and runs away fast"
    val b = "the quick brown fox jumps over the lazy cat and runs away fast"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val sig = df.select(TextOps.minHashSignature(col("text"), 5, 64).as("s"))
      .collect().map(_.getSeq[Long](0))
    val agree = sig(0).zip(sig(1)).count { case (x, y) => x == y }.toDouble / 64
    val jac = df.agg(TextOps.jaccard(
      first(TextOps.charShingles(col("text"), 5)),
      last(TextOps.charShingles(col("text"), 5)))).head().getDouble(0)
    assert(math.abs(agree - jac) < 0.2, s"minhash agreement $agree vs jaccard $jac")
  }

  test("nearDupPairs finds planted near-dups and nothing else") {
    import spark.implicits._
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    // 30 random docs + 3 near-dup pairs (one-word edits)
    val docs = (0 until 30).map { i =>
      val words = (0 until 40).map(j =>
        vocab((HashRandom.uniform(5L, i.toLong, j.toLong) * vocab.size).toInt))
      (i.toLong, words.mkString(" "))
    }
    val dups = Seq(100L -> docs(0)._2.replaceFirst("alpha", "omega"),
      101L -> docs(5)._2.replaceFirst("beta", "omega"),
      102L -> docs(9)._2.replaceFirst("gamma", "omega"))
    val df = (docs ++ dups).toDF("doc_id", "text")
    val pairs = TextOps.nearDupPairs(df, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)), s"missing planted pair in $pairs")
    assert(pairs.contains((5L, 101L)))
    assert(pairs.contains((9L, 102L)))
    // no spurious pairs among the 30 independent random docs
    assert(!pairs.exists { case (x, y) => x < 100 && y < 100 })
  }

  /** Clustered embeddings: 20 base directions, 5 perturbed copies each. */
  private def clustered: DataFrame = {
    import spark.implicits._
    val dim = 16
    val rows = for (c <- 0 until 20; rep <- 0 until 5) yield {
      val base = Array.tabulate(dim)(j => HashRandom.gaussian(13L, c.toLong, j.toLong))
      val eps = if (rep == 0) 0.0 else 0.05
      val v = Array.tabulate(dim)(j =>
        (base(j) + eps * HashRandom.gaussian(17L, (c * 5 + rep).toLong, j.toLong)).toFloat)
      ((c * 5 + rep).toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("LSH cosine top-k reaches recall ≥ 0.9 on clustered data") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0) // the 20 base vectors
    val k = 4
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    val lsh = resultSet(Ann.cosineTopKLsh(df, queries, "embedding", "vec_id", "vec_id",
      k, dim = 16, bands = 8, bitsPerBand = 6))
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall (${(exact & lsh).size}/${exact.size})")
    // and the found neighbors are overwhelmingly in-cluster
    val inCluster = exact.count { case (q, n) => q / 5 == n / 5 }
    assert(inCluster >= exact.size * 0.9)
  }

  test("IVF cosine top-k reaches recall ≥ 0.9 on clustered data") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    val ivf = resultSet(graft.similarity.Ivf.cosineTopKIvf(
      df, queries, "embedding", "vec_id", "vec_id", k, nlist = 10, nprobe = 3))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall (${(exact & ivf).size}/${exact.size})")
  }

  test("NSW graph top-k reaches recall ≥ 0.9 on clustered data, deterministic") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    def run() = graft.similarity.Nsw.cosineTopKNsw(
      df, queries, "embedding", "vec_id", "vec_id", k)
    val nsw = resultSet(run())
    val recall = (exact & nsw).size.toDouble / exact.size
    assert(recall >= 0.9, s"NSW recall $recall (${(exact & nsw).size}/${exact.size})")
    // run-to-run determinism incl. ranks and cosines
    val a = run().collect().map(_.toSeq).toSeq
    val b = run().collect().map(_.toSeq).toSeq
    assert(a.toSet == b.toSet)
  }

  test("HNSW top-k: recall ≥ 0.9, deterministic, geometric level decay") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    def run() = graft.similarity.Hnsw.cosineTopKHnsw(
      df, queries, "embedding", "vec_id", "vec_id", k)
    val hnsw = resultSet(run())
    val recall = (exact & hnsw).size.toDouble / exact.size
    assert(recall >= 0.9, s"HNSW recall $recall (${(exact & hnsw).size}/${exact.size})")
    // bit-identical run to run (levels, insertion and ties all total-order)
    val a = run().collect().map(_.toSeq).toSeq
    val b = run().collect().map(_.toSeq).toSeq
    assert(a.toSet == b.toSet)
    // level distribution: P(level >= l) = m^-l — over many ids the layer
    // populations must decay geometrically (upper layers sparse express
    // lanes, never a flat graph in disguise)
    val m = 8
    val levels = (0L until 4000L).map(graft.similarity.Hnsw.levelOf(_, m, 11L))
    val l0 = levels.count(_ >= 0).toDouble
    val l1 = levels.count(_ >= 1).toDouble
    val l2 = levels.count(_ >= 2).toDouble
    assert(l1 / l0 > 0.5 / m && l1 / l0 < 2.0 / m, s"P(l>=1)=${l1 / l0}")
    assert(l2 / l0 < 2.0 / (m * m), s"P(l>=2)=${l2 / l0}")
  }

  test("persisted HNSW index: search recall ≥ 0.9 and bit-determinism") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${Scratch.sub("hnsw-test")}/idx"
    graft.similarity.Hnsw.writeIndex(df, "embedding", "vec_id", path,
      numShards = 4)
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    def run() = graft.similarity.Hnsw.searchIndex(
      spark, path, queries, "embedding", "vec_id", k)
    val got = resultSet(run())
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.9, s"persisted HNSW recall $recall")
    assert(run().collect().map(_.toSeq).toSet == run().collect().map(_.toSeq).toSet)
  }

  test("frame-level graph build/search equals the persisted path (NSW and HNSW)") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    def rows(r: DataFrame) = r.collect().map(_.toSeq).toSet
    // NSW: searchGraphRows over the built frame == searchIndex over the
    // same graph persisted (writeIndex IS buildGraphRows + write, so the
    // only degree of freedom is the parquet round-trip)
    val ng = graft.similarity.Nsw.buildGraphRows(
      df, "embedding", "vec_id", numShards = 4).localCheckpoint(true)
    val nPath = s"${Scratch.sub("nsw-frame-test")}/idx"
    graft.similarity.Nsw.writeIndex(df, "embedding", "vec_id", nPath,
      numShards = 4)
    assert(rows(graft.similarity.Nsw.searchGraphRows(
        ng, queries, "embedding", "vec_id", k, m = 8, efConstruction = 32)) ==
      rows(graft.similarity.Nsw.searchIndex(
        spark, nPath, queries, "embedding", "vec_id", k)))
    // HNSW: same contract on the layered graph
    val hg = graft.similarity.Hnsw.buildGraphRows(
      df, "embedding", "vec_id", numShards = 4).localCheckpoint(true)
    val hPath = s"${Scratch.sub("hnsw-frame-test")}/idx"
    graft.similarity.Hnsw.writeIndex(df, "embedding", "vec_id", hPath,
      numShards = 4)
    val hFrame = rows(graft.similarity.Hnsw.searchGraphRows(
      hg, queries, "embedding", "vec_id", k, m = 8, efConstruction = 32))
    assert(hFrame == rows(graft.similarity.Hnsw.searchIndex(
      spark, hPath, queries, "embedding", "vec_id", k)))
    // and the frame path carries the family's recall bar
    def resultSet(rs: Set[Seq[Any]]) =
      rs.map(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    val exact = graft.similarity.Ann.cosineTopK(
      df, queries, "embedding", "vec_id", "vec_id", k)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val recall = (exact & resultSet(hFrame)).size.toDouble / exact.size
    assert(recall >= 0.9, s"frame-path HNSW recall $recall")
  }

  test("binary quantization: packed bits match the sign rule; shortlist recall holds") {
    import spark.implicits._
    // hand-checkable packing: dim 3 -> one word, bit j = (v[j] >= 0)
    val tiny = Seq((1L, Seq(1.0, -2.0, 0.0)), (2L, Seq(-1.0, -1.0, -1.0)))
      .toDF("id", "v")
      .select(col("id"), graft.similarity.Ann.packSignBits(col("v"), 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(tiny(1L) == Seq(1L | 4L), s"got ${tiny(1L)}") // bits 0 and 2 (0.0 >= 0)
    assert(tiny(2L) == Seq(0L))
    // recall vs exact on the clustered fixture: generous candidate
    // headroom makes the sign-bit proxy reliable
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    def resultSet(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    def run() = graft.similarity.Ann.cosineTopKBinary(
      df, queries, "embedding", "vec_id", "vec_id", k,
      dim = df.select(org.apache.spark.sql.functions.size(col("embedding")))
        .head().getInt(0),
      candidates = 4 * k)
    val got = resultSet(run())
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.75, s"binary-quantized recall $recall")
    // deterministic run to run
    assert(run().collect().map(_.toSeq).toSet == run().collect().map(_.toSeq).toSet)
  }

  test("maxSim late interaction: analytic golden, tie-break, excludeSelf") {
    import spark.implicits._
    // hand-computable bags: q = {e1, e2}
    //   d1 = {e1, e2}      -> max(1,0) + max(0,1)   = 2.0
    //   d2 = {(.5,.5), e1} -> max(.5,1) + max(.5,0) = 1.5
    //   d3 = {(.5,.5)}     -> .5 + .5               = 1.0
    //   d4 = d2 (tie with d2 -> smaller id first)
    val rows = Seq(
      (0L, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))),
      (1L, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))),
      (2L, Seq(Seq(0.5, 0.5), Seq(1.0, 0.0))),
      (3L, Seq(Seq(0.5, 0.5))),
      (4L, Seq(Seq(0.5, 0.5), Seq(1.0, 0.0)))
    ).toDF("id", "vecs")
    val got = Ann.maxSimTopK(rows, rows.filter(col("id") === 0L),
        "vecs", "id", "id", k = 4)
      .select(col("rank"), col("neighbor_id"), col("score"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1, 1L, 2.0), (2, 2L, 1.5), (3, 4L, 1.5), (4, 3L, 1.0)))
    // sliceVectors: contiguous equal slices, exact values
    val sliced = Seq((9L, Seq(1.0f, 2.0f, 3.0f, 4.0f))).toDF("id", "e")
      .select(Ann.sliceVectors(col("e"), dim = 4, n = 2).as("vs"))
      .head().getSeq[Seq[Double]](0)
    assert(sliced == Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
  }

  test("HNSW/NSW shard row bound fails loudly instead of OOMing the build") {
    val df = clustered.cache()
    val hPath = s"${Scratch.sub("hnsw-bound")}/idx"
    val nPath = s"${Scratch.sub("nsw-bound")}/idx"
    graft.similarity.Hnsw.shardRowBound = 8
    try {
      val eh = intercept[Exception] {
        graft.similarity.Hnsw.writeIndex(df, "embedding", "vec_id", hPath,
          numShards = 1)
      }
      assert(causeChain(eh).exists(_.contains("MaxShardRows")), eh.getMessage)
      val en = intercept[Exception] {
        graft.similarity.Nsw.writeIndex(df, "embedding", "vec_id", nPath,
          numShards = 1)
      }
      assert(causeChain(en).exists(_.contains("MaxShardRows")), en.getMessage)
    } finally {
      graft.similarity.Hnsw.shardRowBound = graft.similarity.Hnsw.MaxShardRows
    }
    // restored bound: the same build succeeds
    graft.similarity.Hnsw.writeIndex(df, "embedding", "vec_id", hPath,
      numShards = 1)
    assert(spark.read.parquet(s"$hPath/nodes").count() == df.count())
  }

  private def causeChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  test("incremental semantic dedup: residents win, chains dedup in-batch, re-ingest is a no-op") {
    import graft.similarity.IncrementalSemDedup
    import spark.implicits._
    // clustered corpus: 20 tight clusters of 5 near-copies (cos ≈ 1
    // within a cluster after the 0.05 perturbation) — at threshold 0.9
    // each cluster should keep exactly its first member per batch wave
    val df = clustered.cache()
    val path = s"${graft.Scratch.dir}/semdedup_inc_${System.nanoTime()}"
    IncrementalSemDedup.dropIndex(spark, path)
    def ids(r: DataFrame) = r.select("vec_id").collect().map(_.getLong(0)).toSet
    // batch 1: the first two reps of each cluster (vec_id % 5 < 2) —
    // within-batch chain keeps the min id of each cluster pair
    val b1 = ids(IncrementalSemDedup.dedupIncremental(
      df.filter(col("vec_id") % 5 < 2), "vec_id", "embedding", path,
      threshold = 0.9, nClusters = 4))
    assert(b1.size <= 20, s"batch1 kept ${b1.size} — chain not deduping")
    assert(b1.forall(_ % 5 == 0), s"chain kept a non-first rep: $b1")
    // compact the state between batches — batch 2's decisions must be
    // unaffected (the lifecycle contract x127 proves for the hash index)
    IncrementalSemDedup.compactIndex(spark, path)
    // batch 2: everything — batch-1 survivors are residents (self-drop
    // at cosine 1.0), remaining reps are semantic dups of their
    // cluster's resident. A rep CAN survive by landing in a different
    // quantizer cell than its resident (the documented SemDeDup
    // cross-cell miss), so assert near-total elimination, never a
    // first-rep re-admission
    val b2 = ids(IncrementalSemDedup.dedupIncremental(
      df, "vec_id", "embedding", path, threshold = 0.9, nClusters = 4))
    assert(b2.size <= 3, s"residents did not win: ${b2.size} survived")
    assert(b2.forall(id => !b1.contains(id)), "a resident was re-admitted")
    // the sharp idempotence contract: re-feeding the same batch now
    // drops EVERYTHING (every potential survivor is its own resident)
    val b2again = ids(IncrementalSemDedup.dedupIncremental(
      df, "vec_id", "embedding", path, threshold = 0.9, nClusters = 4))
    assert(b2again.isEmpty, s"re-ingest not a no-op: $b2again")
    // index state = exactly the survivors so far, once each
    val stored = spark.read.parquet(s"$path/state")
      .select("__id").collect().map(_.getLong(0)).toSeq
    assert(stored.sorted == (b1 ++ b2).toSeq.sorted, "state rows != survivors")
    // a genuinely novel direction still gets in
    val novel = Seq((9999L, Array.tabulate(16)(j =>
      (if (j == 15) 100f else 0f)))).toDF("vec_id", "embedding")
    val b3 = ids(IncrementalSemDedup.dedupIncremental(
      novel, "vec_id", "embedding", path, threshold = 0.9, nClusters = 4))
    assert(b3 == Set(9999L))
  }

  test("semantic deleteFromIndex: erased resident's duplicates readmit, others still blocked") {
    import graft.similarity.IncrementalSemDedup
    import spark.implicits._
    val df = clustered.cache()
    val path = s"${graft.Scratch.dir}/semdedup_del_${System.nanoTime()}"
    IncrementalSemDedup.dropIndex(spark, path)
    def ids(r: DataFrame) = r.select("vec_id").collect().map(_.getLong(0)).toSet
    // bootstrap: first rep of each cluster becomes the resident
    val b1 = ids(IncrementalSemDedup.dedupIncremental(
      df.filter(col("vec_id") % 5 === 0), "vec_id", "embedding", path,
      threshold = 0.9, nClusters = 4))
    assert(b1.size == 20)
    // erase cluster 0's resident (vec_id 0); ghosts remove nothing
    val delInput = df.filter(col("vec_id") === 0L)
      .select(col("vec_id"), col("embedding"))
    val removed = IncrementalSemDedup.deleteFromIndex(
      spark, path, delInput, "vec_id", "embedding")
    assert(removed == 1L, s"removed $removed")
    val stored = spark.read.parquet(s"$path/state")
      .select("__id").collect().map(_.getLong(0)).toSet
    assert(stored == b1 - 0L)
    // the erased content itself readmits (identical vector, same frozen
    // cell, no resident left to drop it); a still-resident vector is
    // dropped by self-collision at cosine 1.0 — both deterministic
    val b2 = ids(IncrementalSemDedup.dedupIncremental(
      df.filter(col("vec_id") === 0L || col("vec_id") === 5L),
      "vec_id", "embedding", path, threshold = 0.9, nClusters = 4))
    assert(b2 == Set(0L), s"erase-then-readmit cycle broken: $b2")
  }

  test("persisted HNSW index: append touches only its shards, appended rows findable, recall holds") {
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${graft.Scratch.dir}/hnsw_append_${System.nanoTime()}"
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    // build from 80%, note an untouched shard's rows, append the rest
    val base = df.filter(col("vec_id") % 5 =!= 4)
    val batch = df.filter(col("vec_id") % 5 === 4)
    graft.similarity.Hnsw.writeIndex(base, "embedding", "vec_id", path, numShards = 4)
    val touched = batch
      .select(pmod(xxhash64(col("vec_id").cast("long")), lit(4L)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until 4).filterNot(touched)
    def shardRows(s: Int) = spark.read.parquet(s"$path/nodes")
      .filter(col("__shard") === s)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("level"),
        r.getAs[Seq[Seq[Long]]]("layers"))).toSet
    val before = untouched.map(s => s -> shardRows(s)).toMap
    graft.similarity.Hnsw.appendToIndex(batch, "embedding", "vec_id", path)
    untouched.foreach(s => assert(shardRows(s) == before(s),
      s"untouched shard $s rewritten"))
    // every appended id is present with its pure-function level
    val stored = spark.read.parquet(s"$path/nodes")
      .select("id", "level").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val appended = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(appended.subsetOf(stored.keySet))
    appended.foreach(id => assert(
      stored(id) == graft.similarity.Hnsw.levelOf(id, 8, 11L),
      s"level drift for appended id $id"))
    // grown-index search: recall vs exact + run-to-run determinism
    def run() = graft.similarity.Hnsw.searchIndex(
      spark, path, queries, "embedding", "vec_id", k)
    val after = resultSet(run())
    val recall = (exact & after).size.toDouble / exact.size
    assert(recall >= 0.9, s"post-append HNSW recall $recall")
    assert(run().collect().map(_.toSeq).toSet == run().collect().map(_.toSeq).toSet)
    // re-appending ids already in the graph is rejected loudly (no
    // silent duplicate nodes)
    val dup = intercept[IllegalArgumentException] {
      graft.similarity.Hnsw.appendToIndex(batch, "embedding", "vec_id", path)
    }
    assert(dup.getMessage.contains("already present"), dup.getMessage)
    // a STALE tombstone (id absent from the graph) is cleared by a
    // re-append, so the re-added vector is searchable again
    val ghostId = df.agg(org.apache.spark.sql.functions.max("vec_id"))
      .head().getLong(0) + 1000L
    // a unique direction (negated vector), so the re-added node is its
    // own unambiguous nearest neighbor
    val ghost = batch.limit(1)
      .withColumn("vec_id", lit(ghostId))
      .withColumn("embedding",
        org.apache.spark.sql.functions.expr("transform(embedding, x -> -x)"))
    import spark.implicits._
    Seq(ghostId).toDF("id").write.mode("append").parquet(s"$path/tombstones")
    graft.similarity.Hnsw.appendToIndex(ghost, "embedding", "vec_id", path)
    // a fully-drained tombstone list is deleted outright
    val tsLeft =
      if (!new java.io.File(s"$path/tombstones").exists()) Set.empty[Long]
      else spark.read.parquet(s"$path/tombstones")
        .collect().map(_.getLong(0)).toSet
    assert(!tsLeft.contains(ghostId), s"stale tombstone survived: $tsLeft")
    val found = graft.similarity.Hnsw.searchIndex(
      spark, path, ghost, "embedding", "vec_id", 1, excludeSelf = false)
    assert(found.collect().exists(_.getLong(2) == ghostId),
      "re-admitted vector not searchable")
  }

  test("tombstone crash recovery: a clear that died mid-swap never resurrects erased vectors") {
    val df = clustered.cache()
    val k = 4
    val path = s"${graft.Scratch.dir}/hnsw_heal_${System.nanoTime()}"
    graft.similarity.Hnsw.writeIndex(df, "embedding", "vec_id", path,
      numShards = 4)
    import spark.implicits._
    val victim = df.select("vec_id").head().getLong(0)
    graft.similarity.Hnsw.deleteFromIndex(
      spark, path, Seq(victim).toDF("vec_id"), "vec_id")
    // simulate the crash window: the kept list exists ONLY under __swap
    // (the clear deleted the old dir and died before the rename)
    val src = new java.io.File(s"$path/tombstones")
    val dst = new java.io.File(s"$path/tombstones__swap")
    assert(src.renameTo(dst), "test setup: rename failed")
    // READ paths never mutate — the search reads the swap directly, so
    // the erased vector stays invisible even on a read-only mount
    val got = graft.similarity.Hnsw.searchIndex(
      spark, path, df.filter(col("vec_id") === victim),
      "embedding", "vec_id", k, excludeSelf = false)
      .collect().map(_.getLong(2))
    assert(!got.contains(victim), s"erased vector resurfaced: $victim")
    assert(!src.exists && dst.exists, "a read path mutated the index")
    // the next MUTATION completes the crashed rename (single-writer)
    import spark.implicits._
    graft.similarity.Hnsw.deleteFromIndex(
      spark, path, Seq(-12345L).toDF("vec_id"), "vec_id")
    assert(src.exists && !dst.exists, "mutation did not heal the swap")
    val after = graft.similarity.Hnsw.searchIndex(
      spark, path, df.filter(col("vec_id") === victim),
      "embedding", "vec_id", k, excludeSelf = false)
      .collect().map(_.getLong(2))
    assert(!after.contains(victim), "erased vector resurfaced after heal")
  }

  test("persisted NSW index: search recall, append touches only its shards, appended rows findable") {
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${graft.Scratch.dir}/nsw_idx_${System.nanoTime()}"
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    // full build → search
    graft.similarity.Nsw.writeIndex(df, "embedding", "vec_id", path, numShards = 4)
    val full = resultSet(graft.similarity.Nsw.searchIndex(
      spark, path, queries, "embedding", "vec_id", k))
    val recall = (exact & full).size.toDouble / exact.size
    assert(recall >= 0.9, s"indexed NSW recall $recall")
    // incremental: rebuild from 80%, note an untouched shard's rows,
    // append the rest, check untouched shard unchanged + appended found
    val base = df.filter(col("vec_id") % 5 =!= 4)
    val batch = df.filter(col("vec_id") % 5 === 4)
    graft.similarity.Nsw.writeIndex(base, "embedding", "vec_id", path, numShards = 4)
    val touched = batch
      .select(pmod(xxhash64(col("vec_id").cast("long")), lit(4L)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until 4).filterNot(touched)
    def shardRows(s: Int) = spark.read.parquet(s"$path/nodes")
      .filter(col("__shard") === s)
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Seq[Long]]("neighbors"))).toSet
    val before = untouched.map(s => s -> shardRows(s)).toMap
    graft.similarity.Nsw.appendToIndex(batch, "embedding", "vec_id", path)
    untouched.foreach(s => assert(shardRows(s) == before(s),
      s"untouched shard $s rewritten"))
    val after = resultSet(graft.similarity.Nsw.searchIndex(
      spark, path, queries, "embedding", "vec_id", k))
    val recall2 = (exact & after).size.toDouble / exact.size
    assert(recall2 >= 0.9, s"post-append NSW recall $recall2")
    // every appended id is present in the persisted graph
    val stored = spark.read.parquet(s"$path/nodes")
      .select("id").collect().map(_.getLong(0)).toSet
    val appended = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(appended.subsetOf(stored))
  }

  /** SHA-256 of a graph frame's rows sorted by id, one line per row,
    * array columns comma-joined: pins the realized adjacency itself,
    * which the walk-replay oracles (searches over a given graph) do not.
    */
  private def graphHash(rows: DataFrame): String = {
    val lines = rows.collect().sortBy(_.getAs[Long]("id")).map { r =>
      r.toSeq.map {
        case s: scala.collection.Seq[_] => s.map {
          case inner: scala.collection.Seq[_] => inner.mkString(",")
          case x => String.valueOf(x)
        }.mkString("[", ";", "]")
        case x => String.valueOf(x)
      }.mkString("|")
    }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  test("NSW and HNSW graphs are pinned: built rows and the appended index hash unchanged") {
    val df = clustered.cache()
    val base = df.filter(col("vec_id") % 5 =!= 4)
    val batch = df.filter(col("vec_id") % 5 === 4)
    def nodes(path: String, cols: String*) =
      spark.read.parquet(s"$path/nodes").select(cols.map(col): _*)
    val nsw = graft.similarity.Nsw
    assert(graphHash(nsw.buildGraphRows(df, "embedding", "vec_id",
      numShards = 4)) == NswBuilt)
    val nPath = s"${Scratch.sub("nsw-golden")}/idx"
    nsw.writeIndex(base, "embedding", "vec_id", nPath, numShards = 4)
    nsw.appendToIndex(batch, "embedding", "vec_id", nPath)
    assert(graphHash(nodes(nPath, "id", "vec", "neighbors", "__shard")) ==
      NswAppended)
    val hnsw = graft.similarity.Hnsw
    assert(graphHash(hnsw.buildGraphRows(df, "embedding", "vec_id",
      numShards = 4)) == HnswBuilt)
    val hPath = s"${Scratch.sub("hnsw-golden")}/idx"
    hnsw.writeIndex(base, "embedding", "vec_id", hPath, numShards = 4)
    hnsw.appendToIndex(batch, "embedding", "vec_id", hPath)
    assert(graphHash(nodes(hPath, "id", "vec", "level", "layers", "__shard")) ==
      HnswAppended)
  }

  test("NSW and HNSW appends leave untouched shards' files as they were") {
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
    val df = clustered.cache()
    // the batch: the fifth rep of each cluster that hashes to shard 0 or
    // 1 of 4, so shards 2 and 3 are untouched
    val shard = pmod(xxhash64(col("vec_id").cast("long")), lit(4L))
    val inBatch = col("vec_id") % 5 === 4 && shard < 2
    val base = df.filter(!inBatch)
    val batch = df.filter(inBatch)
    assert(batch.count() > 0)
    val untouched = Seq(2, 3)
    // file name -> length under each untouched shard directory
    def shardFiles(path: String) = untouched.map { s =>
      s -> new java.io.File(s"$path/nodes/__shard=$s").listFiles()
        .map(f => f.getName -> f.length()).toMap
    }.toMap
    val indexes = Seq[(String, String => Unit, String => Unit)](
      ("nsw",
        p => graft.similarity.Nsw.writeIndex(base, "embedding", "vec_id", p,
          numShards = 4),
        p => graft.similarity.Nsw.appendToIndex(batch, "embedding", "vec_id", p)),
      ("hnsw",
        p => graft.similarity.Hnsw.writeIndex(base, "embedding", "vec_id", p,
          numShards = 4),
        p => graft.similarity.Hnsw.appendToIndex(batch, "embedding", "vec_id", p)))
    indexes.foreach { case (name, write, append) =>
      val path = s"${Scratch.sub(s"$name-untouched")}/idx"
      write(path)
      val before = shardFiles(path)
      append(path)
      assert(shardFiles(path) == before, s"$name rewrote an untouched shard")
      assert(spark.read.parquet(s"$path/nodes").count() == df.count())
    }
  }

  test("Nsw.appendToIndex rejects an id already in the graph") {
    val df = clustered.cache()
    val path = s"${Scratch.sub("nsw-dupe")}/idx"
    graft.similarity.Nsw.writeIndex(df, "embedding", "vec_id", path,
      numShards = 4)
    val dup = intercept[IllegalArgumentException] {
      graft.similarity.Nsw.appendToIndex(df.filter(col("vec_id") === 7L),
        "embedding", "vec_id", path)
    }
    assert(dup.getMessage.contains("already present"), dup.getMessage)
    assert(spark.read.parquet(s"$path/nodes").count() == df.count())
  }

  // computed from the NSW and HNSW implementations before NSW became
  // HNSW's level-0 graph
  private val NswBuilt =
    "037aa946a696a433afc94a7959db040c9db7ca592786ee80925d353a2c62e56a"
  private val NswAppended =
    "71cae51f3ea06b2f69805ed10d859be6ea64930936fe4d699f49bc0fad1cbf26"
  private val HnswBuilt =
    "10aa5c85afad80cbb30fdd0367a7f232840dea141bd74453c03f2ee6d1587692"
  private val HnswAppended =
    "66c6d4cd4fa2477b8118853a59d3d4b77cdabf6f3d631924244d6de610035a08"

  test("persisted IVF index matches the in-memory IVF and prunes to probed cells") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_spec"
    graft.similarity.Ivf.writeIndex(df, "embedding", "vec_id", path,
      nlist = 10, seed = 7L)
    val indexed = graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 3)
    val inMem = graft.similarity.Ivf.cosineTopKIvf(
      df, queries, "embedding", "vec_id", "vec_id", k, nlist = 10, nprobe = 3,
      seed = 7L)
    def rows(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    // same quantizer seed → identical candidates → identical top-k
    assert(rows(indexed) == rows(inMem))
    // the bucketed scan carries a partition filter on __cell — unprobed
    // cell directories are excluded at planning time, not post-scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [__cell"),
      s"expected a __cell partition filter in:\n$plan")

    // quantizer-reuse contract: training once and searching With the
    // returned centroids is the same computation as the one-shot path
    val cents = graft.similarity.Ivf.trainQuantizer(
      df, "embedding", "vec_id", nlist = 10, seed = 7L)
    val withCents = graft.similarity.Ivf.cosineTopKIvfWith(
      df, queries, "embedding", "vec_id", "vec_id", k, cents, nprobe = 3)
    assert(rows(withCents) == rows(inMem))
  }

  test("appendToIndex grows the index without re-clustering; results keep parity") {
    import spark.implicits._
    val dim = 16
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_append_spec"
    // base index on the first 15 clusters; clusters 15-19 arrive later
    val base = df.filter(col("vec_id") < 75L)
    val late = df.filter(col("vec_id") >= 75L)
    graft.similarity.Ivf.writeIndex(base, "embedding", "vec_id", path,
      nlist = 10, seed = 7L)
    def rows(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    val before = rows(graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 10))
    graft.similarity.Ivf.appendToIndex(late, "embedding", "vec_id", path)
    // full-probe (nprobe = nlist) search over the appended index must equal
    // the exact top-k over the full corpus: with every cell probed the only
    // thing the index changes is the layout, so any append bug (lost rows,
    // wrong cell schema, broken partition dirs) breaks equality
    val after = rows(graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 10))
    val exact = rows(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    assert(after == exact, "full-probe indexed search != exact after append")
    assert(after != before, "appended rows must be discoverable")
    // appended rows landed inside the EXISTING nlist cell dirs (no
    // re-clustering, no stray partitions), and each appended id is present
    val cells = new java.io.File(s"$path/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("__cell="))
    assert(cells.length <= 10, s"unexpected cell dirs: ${cells.toSeq}")
    val storedIds = spark.read.parquet(s"$path/corpus")
      .select("__cid").as[Long].collect().toSet
    assert(storedIds == (0L until 100L).toSet)
  }

  test("filtered indexed search: pre-filter semantics, equals exact top-k over the allowed subset") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_filter_spec"
    graft.similarity.Ivf.writeIndex(df, "embedding", "vec_id", path,
      nlist = 10, seed = 7L)
    val allowedIds = (0L until 100L).filter(_ % 2 == 0)
    val allowed = df.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
    def rows(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    // full probe + filter = exact top-k over the allowed subset
    val got = rows(graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 10,
      allowed = Some((allowed, "vec_id"))))
    val exact = rows(Ann.cosineTopK(df.filter(col("vec_id") % 2 === 0),
      queries, "embedding", "vec_id", "vec_id", k))
    assert(got == exact, "filtered indexed search != exact over allowed subset")
    // every returned neighbor is in the allowed set (pre-filter, no leakage)
    assert(got.forall { case (_, _, nb) => allowedIds.contains(nb) })
    // and the unfiltered search differs (the filter actually bites)
    val unfiltered = rows(graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 10))
    assert(got != unfiltered)
  }

  test("compactIndex collapses append files, preserves search results and cell stats") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_compact_spec"
    graft.similarity.Ivf.writeIndex(df.filter(col("vec_id") < 50L),
      "embedding", "vec_id", path, nlist = 10, seed = 7L)
    graft.similarity.Ivf.appendToIndex(
      df.filter(col("vec_id") >= 50L && col("vec_id") < 75L),
      "embedding", "vec_id", path)
    graft.similarity.Ivf.appendToIndex(df.filter(col("vec_id") >= 75L),
      "embedding", "vec_id", path)
    def rows(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).toSet
    def nFiles: Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$path/corpus"))
    }
    val before = rows(graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 3))
    val cellsBefore = graft.similarity.Ivf.cellStats(spark, path)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val filesBefore = nFiles
    graft.similarity.Ivf.compactIndex(spark, path)
    // file count collapsed to ≤ one per cell; search + telemetry identical
    assert(nFiles <= 10 && nFiles < filesBefore,
      s"compaction did not collapse files: $filesBefore -> $nFiles")
    val after = rows(graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 3))
    assert(after == before, "compaction changed search results")
    val cellsAfter = graft.similarity.Ivf.cellStats(spark, path)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(cellsAfter == cellsBefore, "compaction changed cell stats")
  }

  test("Ivf.deleteFromIndex: erased vectors gone, survivors exact, emptied cells vanish") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_delete_spec"
    graft.similarity.Ivf.writeIndex(df, "embedding", "vec_id", path,
      nlist = 10, seed = 7L)
    // erase cluster 0 entirely (ids 0-4) plus a ghost id
    val toErase = df.filter(col("vec_id") < 5L)
    val removed = graft.similarity.Ivf.deleteFromIndex(
      spark, path, toErase, "vec_id", "embedding")
    assert(removed == 5L, s"removed $removed")
    import spark.implicits._
    val storedIds = spark.read.parquet(s"$path/corpus")
      .select("__cid").as[Long].collect().toSet
    assert(storedIds == (5L until 100L).toSet)
    def rows(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    val got = rows(graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 10))
    val exact = rows(Ann.cosineTopK(df.filter(col("vec_id") >= 5L),
      queries, "embedding", "vec_id", "vec_id", k))
    assert(got == exact, "post-erasure full-probe search != exact over survivors")
    // double-deletion is a no-op
    assert(graft.similarity.Ivf.deleteFromIndex(
      spark, path, toErase, "vec_id", "embedding") == 0L)
    // format-agnostic: the same erasure works on a PQ-coded index (kept
    // rows carry nibble codes + recon norms through the rewrite intact)
    val pqPath = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_delete_spec"
    graft.similarity.Ivf.writeIndex(df, "embedding", "vec_id", pqPath,
      nlist = 10, seed = 7L, pqM = 4, pqK = 8)
    assert(graft.similarity.Ivf.deleteFromIndex(
      spark, pqPath, toErase, "vec_id", "embedding") == 5L)
    val pqIds = spark.read.parquet(s"$pqPath/corpus")
      .select("__cid").as[Long].collect().toSet
    assert(pqIds == (5L until 100L).toSet)
    val pqRes = rows(graft.similarity.Ivf.cosineTopKIndexed(
      spark, pqPath, queries, "embedding", "vec_id", k, nprobe = 10))
    assert(pqRes.forall { case (_, _, nb) => nb >= 5L },
      "a deleted id surfaced from the PQ index after erasure")
  }

  test("Hnsw tombstones: deleted ids route but never emit; graph files untouched") {
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${graft.Scratch.dir}/hnsw_tombstone_${System.nanoTime()}"
    graft.similarity.Hnsw.writeIndex(df, "embedding", "vec_id", path)
    def nodeFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/nodes"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = nodeFiles()
    import spark.implicits._
    val removed = graft.similarity.Hnsw.deleteFromIndex(
      spark, path, (Seq(0L, 1L, 2L, 3L, 4L, 9999L)).toDF("vec_id"), "vec_id")
    assert(removed == 5L, s"removed $removed (ghost id must not count)")
    // the graph itself is untouched — tombstones are a side list
    assert(nodeFiles() == before, "mark-delete must not rewrite the graph")
    val res = graft.similarity.Hnsw.searchIndex(
      spark, path, queries, "embedding", "vec_id", k, efSearch = 64)
      .collect().map(x => (x.getLong(0), x.getLong(2)))
    assert(res.forall(_._2 >= 5L), "a tombstoned id was emitted")
    // recall vs exact-over-survivors holds (tombstones still route)
    val exact = Ann.cosineTopK(df.filter(col("vec_id") >= 5L),
      queries, "embedding", "vec_id", "vec_id", k)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val recall = (exact & res.toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"post-tombstone recall $recall")
    // re-deleting is a no-op
    assert(graft.similarity.Hnsw.deleteFromIndex(
      spark, path, Seq(0L, 4L).toDF("vec_id"), "vec_id") == 0L)
    // the high-tombstone policy: rebuild over survivors, tombstones gone
    val n = graft.similarity.Hnsw.rebuildWithoutTombstones(spark, path)
    assert(n == 95L, s"rebuilt over $n survivors")
    assert(!new java.io.File(s"$path/tombstones").exists())
    val storedIds = spark.read.parquet(s"$path/nodes")
      .select("id").as[Long].collect().toSet
    assert(storedIds == (5L until 100L).toSet)
    val res2 = graft.similarity.Hnsw.searchIndex(
      spark, path, queries, "embedding", "vec_id", k, efSearch = 64)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val recall2 = (exact & res2).size.toDouble / exact.size
    assert(recall2 >= 0.9, s"post-rebuild recall $recall2")
    // rebuild routes differently (no waypoints), so exact equality with
    // the tombstone-filtered results is NOT the contract — recall is
    assert(res2.forall(_._2 >= 5L))
  }

  test("rrfFuse: hand-computed nano-unit fusion, arm overlap wins, ties to min doc") {
    import spark.implicits._
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val vec = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "doc_id", "rank")
    val got = graft.similarity.Hybrid.rrfFuse(Seq(lex, vec), topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).sortBy(_._5)
    // round(1e9/61) = 16393443, round(1e9/62) = 16129032
    assert(got.toSeq == Seq(
      (1L, 11L, 16393443L + 16129032L, 2L, 1), // both arms -> wins
      (1L, 10L, 16393443L, 1L, 2),             // lex rank 1 beats vec rank 2
      (1L, 12L, 16129032L, 1L, 3)))
    // exact tie (same rank, different arms) breaks to the smaller doc id
    val a = Seq((7L, 5L, 3)).toDF("query_id", "doc_id", "rank")
    val b = Seq((7L, 4L, 3)).toDF("query_id", "doc_id", "rank")
    val tie = graft.similarity.Hybrid.rrfFuse(Seq(a, b), topK = 2)
      .collect().map(r => (r.getLong(1), r.getInt(4))).sortBy(_._2)
    assert(tie.toSeq == Seq((4L, 1), (5L, 2)))
  }

  test("int8 quantization: codes bounded, zero vector safe, high cosine fidelity") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 127.3f, 0.001f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: scale 1, codes 0
      (3L, Array(-0.002f, 0.003f, -0.001f, 0.0005f))
    ).toDF("vec_id", "embedding")
    val q = Ann.quantizeInt8(df, "embedding")
      .select(col("vec_id"), col("q8"), col("q8_scale"),
        Ann.dequantizeInt8(col("q8"), col("q8_scale")).as("recon"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1),
        r.getDouble(2), r.getSeq[Double](3), r.getSeq[Double](4))).toSeq
    q.foreach { case (_, codes, scale, recon, v) =>
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(scale > 0)
      // reconstruction within half a quantization step per component
      v.zip(recon).foreach { case (a, b) =>
        assert(math.abs(a - b) <= scale / 2 + 1e-12, s"$a vs $b (scale $scale)")
      }
    }
    val zero = q.find(_._1 == 2L).get
    assert(zero._2.forall(_ == 0) && zero._3 == 1.0)
  }

  test("SQ8-quantized index: search parity with the float index, appends keep the format") {
    import spark.implicits._
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val fPath = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_sq8f_spec"
    val qPath = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_sq8q_spec"
    graft.similarity.Ivf.writeIndex(df, "embedding", "vec_id", fPath,
      nlist = 10, seed = 7L)
    graft.similarity.Ivf.writeIndex(df, "embedding", "vec_id", qPath,
      nlist = 10, seed = 7L, quantize = true)
    def ids(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val fRes = ids(graft.similarity.Ivf.cosineTopKIndexed(
      spark, fPath, queries, "embedding", "vec_id", k, nprobe = 10))
    val qRes = ids(graft.similarity.Ivf.cosineTopKIndexed(
      spark, qPath, queries, "embedding", "vec_id", k, nprobe = 10))
    // well-separated clusters: SQ8 reconstruction error (≤ half a step
    // per component) cannot move a neighbor across the cluster margin,
    // so the top-k SET per query is unchanged (ranks may swap among
    // near-tied in-cluster neighbors — cosine gaps there are ~1e-3)
    assert(qRes == fRes, "quantized index changed the top-k neighbor set")
    // appends auto-detect the SQ8 format from the persisted schema
    val extra = Seq((500L, Array.fill(16)(0.25f))).toDF("vec_id", "embedding")
    graft.similarity.Ivf.appendToIndex(extra, "embedding", "vec_id", qPath)
    val schema = spark.read.parquet(s"$qPath/corpus").schema.fieldNames.toSet
    assert(schema.contains("__q8") && schema.contains("__qs") && !schema.contains("__cf"))
    val stored = spark.read.parquet(s"$qPath/corpus")
      .select("__cid").as[Long].collect().toSet
    assert(stored == ((0L until 100L).toSet + 500L))
  }

  test("PQ: encode/reconNorm/ADC are exact when vectors sit on codebook centroids") {
    import spark.implicits._
    import graft.similarity.Pq
    // hand-built codebooks: m=2 subspaces of 2 dims, k=2 centroids each
    val cb = Pq.Codebooks(m = 2, k = 2, dsub = 2, centers = Array(
      Array(Array(1.0, 0.0), Array(0.0, 2.0)),
      Array(Array(3.0, 0.0), Array(0.0, 4.0))))
    // corpus vectors = exact centroid concatenations
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 3.0f, 0.0f)), // codes (0, 0)
      (1L, Array(0.0f, 2.0f, 0.0f, 4.0f)), // codes (1, 1)
      (2L, Array(1.0f, 0.0f, 0.0f, 4.0f))  // codes (0, 1)
    ).toDF("vec_id", "embedding")
    val enc = df.select(col("vec_id"),
        Pq.encodeCol(col("embedding"), cb).as("code"))
      .withColumn("n", Pq.reconNormCol(col("code"), cb))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    assert(enc.map(_._2) == Seq(Seq(0, 0), Seq(1, 1), Seq(0, 1)))
    assert(enc.map(_._3) == Seq(math.sqrt(10.0), math.sqrt(20.0), math.sqrt(17.0)))
    // ADC dot of an exact query against code (0,1): q·recon([1,0,0,4])
    val q = Seq((9L, Array(0.5f, -1.0f, 2.0f, 0.25f))).toDF("vec_id", "embedding")
    val res = Pq.cosineTopKPq(df, q, "embedding", "vec_id", "vec_id", k = 3, cb)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(2), r.getDouble(3)))
    val qv = Array(0.5, -1.0, 2.0, 0.25)
    def cos(v: Array[Double]) = {
      val d = qv.zip(v).map { case (a, b) => a * b }.sum
      d / (math.sqrt(qv.map(x => x * x).sum) * math.sqrt(v.map(x => x * x).sum))
    }
    val expect = Seq(
      0L -> cos(Array(1, 0, 3, 0)), 1L -> cos(Array(0, 2, 0, 4)),
      2L -> cos(Array(1, 0, 0, 4))).sortBy(-_._2)
    res.zip(expect).foreach { case ((gid, gcos), (eid, ecos)) =>
      assert(gid == eid && math.abs(gcos - ecos) < 1e-12, s"$gid/$gcos vs $eid/$ecos")
    }
  }

  test("PQ ADC top-k reaches recall >= 0.9 on clustered data") {
    import graft.similarity.Pq
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    // m=4 subspaces of 4 dims, k=16 sub-centroids: 4 bytes per vector
    val cb = Pq.train(df, "embedding", dim = 16, m = 4, k = 16, seed = 7L)
    val pq = resultSet(Pq.cosineTopKPq(df, queries, "embedding", "vec_id", "vec_id", k, cb))
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ recall $recall (${(exact & pq).size}/${exact.size})")
  }

  test("Pq.train preBounded skips the count but trains identical codebooks") {
    import graft.similarity.Pq
    val df = clustered.cache()
    // the writeIndex path asserts its input is already under the 65536
    // training cap and skips the re-proving count; the codebooks must be
    // bit-identical to the counted path (same rows, same partitioning)
    val counted = Pq.train(df, "embedding", dim = 16, m = 4, k = 16, seed = 7L)
    val bounded = Pq.train(df, "embedding", dim = 16, m = 4, k = 16, seed = 7L,
      preBounded = true)
    assert(counted.m == bounded.m && counted.k == bounded.k &&
      counted.dsub == bounded.dsub)
    for (s <- 0 until counted.m; j <- 0 until counted.k)
      assert(java.util.Arrays.equals(counted.centers(s)(j), bounded.centers(s)(j)),
        s"sub-centroid ($s,$j) drifted under preBounded")
  }

  test("Pq.train preBounded fails loudly on an input over twice the training cap") {
    import graft.similarity.Pq
    // 2 x 65536 + 1 one-dim vectors: no hash gate ran, so the promise is broken
    val df = spark.range(2L * 65536 + 1).select(array(col("id").cast("double")).as("embedding"))
    val e = intercept[IllegalArgumentException](
      Pq.train(df, "embedding", dim = 1, m = 1, k = 2, preBounded = true))
    assert(e.getMessage.contains("131073"), e.getMessage)
  }

  test("Ivf.dropIndex evicts the memoized quantizer and refuses a path that is not an index") {
    import spark.implicits._
    import graft.similarity.Ivf
    val path = s"${graft.Scratch.dir}/ivf_drop_${System.nanoTime()}"
    Ivf.writeIndex(clustered, "embedding", "vec_id", path, nlist = 8, seed = 7L)
    assert(Ivf.readCentroids(spark, path).length == 8)
    Ivf.dropIndex(spark, path)
    assert(!new java.io.File(path).exists)
    // an out-of-band rebuild at the same path: the dropped quantizer's memo
    // must not answer for it
    Seq((0, Seq.fill(16)(1.0))).toDF("cell", "centroid").write.parquet(s"$path/centroids")
    assert(Ivf.readCentroids(spark, path).map(_.toSeq).toSeq == Seq(Seq.fill(16)(1.0)))
    Ivf.dropIndex(spark, path)
    // a directory without centroids/ is refused and left intact; an absent
    // path is a no-op
    val other = new java.io.File(s"${graft.Scratch.dir}/ivf_not_index_${System.nanoTime()}")
    val keep = new java.io.File(other, "keep.txt")
    other.mkdirs()
    java.nio.file.Files.writeString(keep.toPath, "x")
    intercept[IllegalArgumentException](Ivf.dropIndex(spark, other.getPath))
    assert(keep.exists)
    Ivf.dropIndex(spark, s"${other.getPath}/absent")
  }

  test("IVF-PQ persisted index: full-probe ADC recall >= 0.9, appends keep the code format") {
    import spark.implicits._
    import graft.similarity.Ivf
    val df = clustered.cache()
    val queries = df.filter(col("vec_id") % 5 === 0)
    val k = 4
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_pq_spec"
    Ivf.writeIndex(df, "embedding", "vec_id", path, nlist = 10, seed = 7L,
      pqM = 4, pqK = 16)
    def ids(r: DataFrame) = r.collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = ids(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", k))
    val pq = ids(Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k, nprobe = 10))
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF-PQ recall $recall")
    // appends detect the PQ format and encode with the persisted codebooks
    val extra = Seq((600L, Array.fill(16)(0.5f))).toDF("vec_id", "embedding")
    Ivf.appendToIndex(extra, "embedding", "vec_id", path)
    val schema = spark.read.parquet(s"$path/corpus").schema.fieldNames.toSet
    assert(schema.contains("__pqc") && !schema.contains("__cf") && !schema.contains("__q8"))
    val stored = spark.read.parquet(s"$path/corpus")
      .select("__cid").as[Long].collect().toSet
    assert(stored == ((0L until 100L).toSet + 600L))
  }

  test("JL projection: seeded-deterministic, norm-preserving on average, recall survives") {
    val df = clustered.cache()
    val mat = Ann.jlMatrix(dim = 16, outDim = 8, seed = 42L)
    assert(mat.map(_.toSeq).toSeq == Ann.jlMatrix(16, 8, 42L).map(_.toSeq).toSeq)
    // E[|y|^2] = |x|^2 under JL scaling — mean relative error over the
    // fixture stays modest even at outDim 8
    val errs = df.select(
        (Ann.dot(col("embedding"), col("embedding"))).as("n2"),
        Ann.norm(Ann.jlProject(col("embedding"), mat)).as("pn"))
      .collect().map(r => math.abs(r.getDouble(1) * r.getDouble(1) - r.getDouble(0)) / r.getDouble(0))
    val meanErr = errs.sum / errs.length
    assert(meanErr < 0.45, s"mean |.|^2 distortion $meanErr")
    // nearest-neighbor structure survives the projection: exact top-k in
    // the projected space keeps most of the original neighbors
    val proj = df.select(col("vec_id"), Ann.jlProject(col("embedding"), mat).as("embedding"))
    val queries = df.filter(col("vec_id") % 5 === 0)
    val qProj = proj.filter(col("vec_id") % 5 === 0)
    def resultSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(2))).toSet
    val exact = resultSet(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", 4))
    val inProj = resultSet(Ann.cosineTopK(proj, qProj, "embedding", "vec_id", "vec_id", 4))
    val recall = (exact & inProj).size.toDouble / exact.size
    assert(recall >= 0.8, s"post-projection recall $recall")
  }

  test("appendToIndex drives a streaming ANN ingest loop via foreachBatch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.similarity.Ivf
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val df = clustered.cache()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_stream_spec"
    // bootstrap index on the even half; the odd half arrives as a stream
    Ivf.writeIndex(df.filter(col("vec_id") % 2 === 0), "embedding", "vec_id",
      path, nlist = 10, seed = 7L)
    val late = df.filter(col("vec_id") % 2 =!= 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Ivf.appendToIndex(batch, "embedding", "vec_id", path)
        (): Unit
      }
      .option("checkpointLocation", freshCkpt())
      .start()
    try {
      late.grouped(math.max(1, late.length / 2)).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    // full-probe over the streamed-in index = exact top-k over everything
    val queries = df.filter(col("vec_id") % 5 === 0)
    def ids(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    val got = ids(Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k = 4, nprobe = 10))
    val exact = ids(Ann.cosineTopK(df, queries, "embedding", "vec_id", "vec_id", 4))
    assert(got == exact, "streamed appends must be exactly searchable")
  }

  test("imbalanceFactor: drifting appends move the retrain telemetry") {
    import spark.implicits._
    val dim = 16
    val df = clustered.cache()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_drift_spec"
    graft.similarity.Ivf.writeIndex(df, "embedding", "vec_id", path,
      nlist = 10, seed = 7L)
    val baseline = graft.similarity.Ivf.imbalanceFactor(spark, path)
    assert(baseline >= 1.0 && baseline < 4.0,
      s"post-build imbalance $baseline outside the healthy band")
    // drifting ingest: 300 vectors all in cluster 0's region — the frozen
    // quantizer piles every one of them into the same cell
    val drift = (0 until 300).map { i =>
      val v = Array.tabulate(dim)(j =>
        (HashRandom.gaussian(13L, 0L, j.toLong) +
          0.05 * HashRandom.gaussian(29L, i.toLong, j.toLong)).toFloat)
      (1000L + i, v)
    }.toDF("vec_id", "embedding")
    graft.similarity.Ivf.appendToIndex(drift, "embedding", "vec_id", path)
    val drifted = graft.similarity.Ivf.imbalanceFactor(spark, path)
    assert(drifted > 2 * baseline && drifted > 4.0,
      s"imbalance must cross the retrain threshold: $baseline -> $drifted")
    // the per-cell report shows one hot cell holding the drift batch
    val stats = graft.similarity.Ivf.cellStats(spark, path)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stats.values.max >= 300, s"expected a >=300-row hot cell: $stats")
    // ── the full retrain cycle the imbalanceFactor contract prescribes:
    // the threshold tripped, so re-run writeIndex over the whole corpus
    // (base + drift) — a fresh quantizer must restore cell balance AND
    // keep the index exactly searchable (full-probe = brute force)
    val full = df.unionByName(drift)
    graft.similarity.Ivf.writeIndex(full, "embedding", "vec_id", path,
      nlist = 10, seed = 11L)
    val retrained = graft.similarity.Ivf.imbalanceFactor(spark, path)
    assert(retrained < drifted / 2 && retrained < 4.0,
      s"retrain must restore balance: $drifted -> $retrained")
    val queries = full.filter(col("vec_id") % 100 === 0)
    def ids(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    val got = ids(graft.similarity.Ivf.cosineTopKIndexed(
      spark, path, queries, "embedding", "vec_id", k = 3, nprobe = 10))
    val exact = ids(Ann.cosineTopK(full, queries, "embedding", "vec_id", "vec_id", 3))
    assert(got == exact, "retrained index must stay exactly searchable")
  }

  test("semDedup: quintuple groups collapse to their most atypical member") {
    import graft.similarity.SemDedup
    val df = clustered.cache() // 20 planted quintuples (base + 4 noisy reps)
    val out = SemDedup.semDedup(df, "vec_id", "embedding",
      nClusters = 10, threshold = 0.9, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(out.length == 100)
    // exactly one keeper per component
    val byComp = out.groupBy(_._3)
    byComp.foreach { case (c, ms) =>
      assert(ms.count(_._5) == 1, s"component $c keepers != 1")
      // the keeper is the (rounded cos_centroid, id) minimum — the
      // paper's most-atypical-survives rule with a deterministic tie
      val keeper = ms.filter(_._5).head
      val best = ms.minBy(m => (m._4, m._1))
      assert(keeper._1 == best._1, s"component $c kept ${keeper._1}, rule says ${best._1}")
      // duplicate groups never span clusters (pairs are within-cluster)
      assert(ms.map(_._2).distinct.length == 1, s"component $c spans clusters")
    }
    // the planted quintuples are ~identical (cos >= 0.9 pairwise), so the
    // corpus must collapse hard: at most ~1-2 survivors per quintuple
    val kept = out.count(_._5)
    assert(kept <= 40, s"expected heavy semantic collapse, kept $kept / 100")
  }

  test("clusterStratified: per-cell cap enforced, assignment = brute-force argmin, deterministic") {
    import graft.similarity.DiversitySample
    val df = clustered.cache()
    // 4 hand-planted centroids = the base directions of clusters 0..3 —
    // every vector of those clusters should land on its own centroid
    val cents = Array.tabulate(4)(c =>
      Array.tabulate(16)(j => HashRandom.gaussian(13L, c.toLong, j.toLong)))
    val out = DiversitySample.clusterStratified(df, "embedding", "vec_id", cents, capPerCell = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byCell = out.groupBy(_._2)
    byCell.foreach { case (cell, rows) =>
      assert(rows.length <= 7, s"cell $cell kept ${rows.length} > cap")
      assert(rows.map(_._3).distinct.length == 1, s"cell $cell cell_n inconsistent")
      assert(rows.head._3 >= rows.length, s"cell $cell population < kept")
    }
    // populations over all cells partition the corpus
    assert(byCell.values.map(_.head._3).sum == 100L)
    // assignment parity vs brute-force argmin on the collected fixture
    val vecs = df.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray.map(_.toDouble))).toMap
    def sq(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    out.foreach { case (id, cell, _) =>
      val want = cents.indices.minBy(c => (sq(vecs(id), cents(c)), c))
      assert(cell == want, s"vec $id assigned $cell, argmin says $want")
    }
    // surviving members of each planted quintuple sit in their own
    // cluster's cell (clusters 0..3 ARE the centroids; survival itself
    // is up to the md5 draw once far clusters crowd into the same cell)
    (0 until 4).foreach { c =>
      val members = (0 until 5).map(r => (c * 5 + r).toLong).toSet
      out.filter(t => members(t._1)).foreach { case (id, cell, _) =>
        assert(cell == c, s"vec $id of quintuple $c landed in cell $cell")
      }
    }
    // md5 draw is stateless — a re-run returns the identical kept set
    val again = DiversitySample.clusterStratified(df, "embedding", "vec_id", cents, capPerCell = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSet == again.toSet)
  }

  test("topKQuality: hand-computed recall/MRR/nDCG on planted result sets") {
    import graft.similarity.RetrievalEval
    import spark.implicits._
    // q1: approx = (b,1)(x,2)(c,3), exact = {a,b,c} → recall 2/3,
    //     first hit at rank 1 → mrr 1, dcg = 1/log2(2) + 1/log2(4)
    // q2: approx = (u,1)(v,2)(w,3), exact = {a,b,c} → all zero
    // q3: approx = (a,1)(b,2)(c,3) = exact → all perfect
    val approx = Seq(
      (1L, 10L, 1L), (1L, 99L, 2L), (1L, 12L, 3L),
      (2L, 90L, 1L), (2L, 91L, 2L), (2L, 92L, 3L),
      (3L, 20L, 1L), (3L, 21L, 2L), (3L, 22L, 3L))
      .toDF("vec_id", "neighbor_id", "rank")
    val exact = Seq(
      (1L, 11L, 1L), (1L, 10L, 2L), (1L, 12L, 3L),
      (2L, 80L, 1L), (2L, 81L, 2L), (2L, 82L, 3L),
      (3L, 20L, 1L), (3L, 21L, 2L), (3L, 22L, 3L))
      .toDF("vec_id", "neighbor_id", "rank")
    val out = RetrievalEval.topKQuality(approx, exact, "vec_id", "neighbor_id", "rank", 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idcg = RetrievalEval.idcgAt(3)
    val ln2 = RetrievalEval.ln2
    val dcg1 = 1.0 / (math.log(2.0) / ln2) + 1.0 / (math.log(4.0) / ln2)
    assert(out(0) == ((1L, r6(2.0 / 3), 1.0, r6(dcg1 / idcg))))
    assert(out(1) == ((2L, 0.0, 0.0, 0.0)))
    assert(out(2) == ((3L, 1.0, 1.0, 1.0)))
  }

  test("semanticContamination matches brute-force max-cosine flagging") {
    val df = clustered.cache()
    // bench = the 20 clean base vectors (rep 0); corpus = the 80 noisy reps
    val bench = df.filter(col("vec_id") % 5 === 0)
    val corpus = df.filter(col("vec_id") % 5 =!= 0)
    val out = Ann.semanticContamination(corpus, bench, "embedding",
      "vec_id", "vec_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // brute force on the collected fixture
    val vecs = df.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray.map(_.toDouble))).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val benchIds = vecs.keys.filter(_ % 5 == 0).toSeq.sorted
    val expected = vecs.keys.filter(_ % 5 != 0).toSeq.sorted.flatMap { cid =>
      val best = benchIds.map(b => (b, cos(vecs(cid), vecs(b))))
        .maxBy { case (b, c) => (c, -b.toDouble) }
      if (best._2 >= 0.9) Some(cid -> best) else None
    }.toMap
    assert(out.keySet == expected.keySet,
      s"flag sets differ: extra=${out.keySet -- expected.keySet} missing=${expected.keySet -- out.keySet}")
    // every noisy rep of a cluster sits near its base -> heavy flagging
    assert(expected.size >= 70, s"fixture should contaminate most reps, got ${expected.size}")
    expected.foreach { case (cid, (bid, c)) =>
      assert(out(cid)._1 == bid, s"corpus $cid best bench ${out(cid)._1} != $bid")
      assert(math.abs(out(cid)._2 - c) < 1e-9)
    }
    // raising the threshold above every cross-pair empties the result
    assert(Ann.semanticContamination(corpus, bench, "embedding",
      "vec_id", "vec_id", threshold = 1.0 + 1e-9).count() == 0L)
  }

  test("cosineDupPairs (LSH) recovers the exact near-dup pairs on clustered data") {
    val df = clustered.cache()
    def pairSet(r: DataFrame) = r.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact = pairSet(Ann.cosineDupPairsExact(df, "vec_id", "embedding", 0.9))
    assert(exact.nonEmpty, "clustered fixture should contain cos>=0.9 pairs")
    val lsh = pairSet(Ann.cosineDupPairs(df, "vec_id", "embedding",
      dim = 16, threshold = 0.9, bands = 16, bitsPerBand = 3))
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"cosine-dup recall $recall")
    assert(lsh.subsetOf(exact), "LSH pairs are exact-verified, never spurious")
  }

  test("simHashDupPairs flags a one-word edit and not unrelated docs") {
    import spark.implicits._
    val base = (0 until 60).map(j =>
      ("w" + (HashRandom.uniform(3L, 1L, j.toLong) * 1000).toInt)).mkString(" ")
    val edited = base.replaceFirst("w", "v")
    val other = (0 until 60).map(j =>
      ("w" + (HashRandom.uniform(3L, 2L, j.toLong) * 1000).toInt)).mkString(" ")
    val df = Seq((1L, base), (2L, edited), (3L, other)).toDF("doc_id", "text")
    val pairs = TextOps.simHashDupPairs(df, "doc_id",
      TextOps.charShingles(col("text"), 5), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("wordShingles emits space-joined n-grams and handles short docs") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox"), (2L, "ab")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextOps.wordShingles(col("text"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("the quick brown", "quick brown fox"))
    assert(got(2L).isEmpty)
  }

  test("winnowing: shared long run guarantees a shared fingerprint; edits drop overlap") {
    import spark.implicits._
    val shared = "the common stretch of text that both documents contain verbatim here"
    val a = s"unique prefix alpha $shared unique suffix beta"
    val b = s"different opening gamma $shared other closing delta"
    val c = "completely unrelated content with no overlap at all whatsoever in it"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = TextOps.winnowDupPairs(df, "doc_id", "text", k = 8, w = 4, minShared = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((1L, 2L)), s"docs sharing a ${shared.length}-char run must pair, got $pairs")
    assert(!pairs.keys.exists { case (x, y) => y == 3L || x == 3L })
  }

  test("winnowing boundaries: short docs yield no fingerprints; one-window doc yields one") {
    import spark.implicits._
    val k = 8; val w = 4
    // normalized lengths: 5 (< k), 9 (k ≤ len < k+w−1: grams but no full
    // window), 11 (= k+w−1: exactly one window), and a long doc replayed
    // against a direct Scala implementation of the same algorithm
    val long = "winnowing parity replay document with enough characters"
    val df = Seq((1L, "tiny!"), (2L, "ninechars"), (3L, "elevenchars"), (4L, long))
      .toDF("doc_id", "text")
    val got = TextOps.winnowFingerprints(df, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!got.contains(1L) && !got.contains(2L), s"short docs must be empty, got $got")
    assert(got(3L).size == 1, s"one full window → one fingerprint, got ${got.get(3L)}")
    def replay(text: String): Set[Long] = {
      val s = text.trim.toLowerCase.replaceAll("\\s+", " ")
      val hs = s.sliding(k).map(_.foldLeft(0L)((a, c) =>
        (a * TextOps.RollB + c.toInt) % TextOps.RollP)).toArray
      hs.sliding(w).filter(_.length == w).map(_.min).toSet
    }
    assert(got(4L) == replay(long), "fused expression must match the direct replay")
    assert(got(3L) == replay("elevenchars"))
  }

  test("hot-bucket cap: a planted 1k-way dup cluster emits linear star pairs, not B²/2") {
    import spark.implicits._
    val dupText = "the same boilerplate paragraph repeated verbatim across the corpus again and again"
    val cluster = (0L until 1000L).map(i => (i, dupText))
    val distinct = (0 until 10).map { i =>
      val words = (0 until 40).map(j =>
        "u" + (HashRandom.uniform(23L, i.toLong, j.toLong) * 100000).toInt)
      (2000L + i, words.mkString(" "))
    }
    val df = (cluster ++ distinct).toDF("doc_id", "text")
    val pairs = TextOps.nearDupPairs(df, "doc_id", "text", threshold = 0.8, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // star spanning tree: every cluster member links to the representative
    // (min id 0), output is B−1 rows — NOT the 499500 all-pairs rows
    assert(pairs.length == 999, s"expected 999 star pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L), "all capped pairs anchor at the min-id representative")
    assert(pairs.map(_._2).toSet == (1L until 1000L).toSet)
    assert(pairs.forall(_._3 == 1.0), "identical docs verify at jaccard 1.0")
  }

  test("hot-bucket cap: no behavior change when no bucket exceeds the cap") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      val words = (0 until 40).map(j =>
        "w" + (HashRandom.uniform(29L, i.toLong, j.toLong) * 50).toInt)
      (i.toLong, words.mkString(" "))
    } ++ Seq(500L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9", 501L -> "w1 w2 w3 w4 w5 w6 w7 w8 w0")
    val df = docs.toDF("doc_id", "text")
    def run(cap: Int) = TextOps.nearDupPairs(df, "doc_id", "text", threshold = 0.5, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(TextOps.MaxBucket) == run(Int.MaxValue))
  }

  test("hot-bucket cap: simHash star pairs for a mass-dup cluster, hamming 0") {
    import spark.implicits._
    val dupText = (0 until 50).map(j => "s" + (j % 17)).mkString(" ")
    val df = ((0L until 300L).map(i => (i, dupText)) :+ (900L, "entirely different words here"))
      .toDF("doc_id", "text")
    val pairs = TextOps.simHashDupPairs(df, "doc_id",
      TextOps.charShingles(col("text"), 5), maxDist = 3, maxBucket = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == 299, s"expected 299 star pairs, got ${pairs.length}")
    assert(pairs.forall(p => p._1 == 0L && p._3 == 0))
    assert(pairs.map(_._2).toSet == (1L until 300L).toSet)
  }

  test("hot-bucket cap: cosineDupPairs star pairs for identical embeddings") {
    import spark.implicits._
    val v = Array.tabulate(16)(j => HashRandom.gaussian(31L, 0L, j.toLong).toFloat)
    val other = Array.tabulate(16)(j => HashRandom.gaussian(31L, 9L, j.toLong).toFloat)
    val df = ((0L until 200L).map(i => (i, v)) :+ (900L, other)).toDF("vec_id", "embedding")
    val pairs = Ann.cosineDupPairs(df, "vec_id", "embedding",
      dim = 16, threshold = 0.99, bands = 16, bitsPerBand = 3, maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 199, s"expected 199 star pairs, got ${pairs.length}")
    assert(pairs.forall(p => p._1 == 0L && p._3 > 0.999))
    assert(pairs.map(_._2).toSet == (1L until 200L).toSet)
  }

  test("x2_neardup query finds the corpus's planted near-dups at sf0.001") {
    val q = Queries.all.find(_.name == "x2_neardup").get
    val out = q.run(spark, "/root/testdata/sf0.001")
    val n = out.count()
    assert(n > 0, "expected planted near-dups in the documents corpus")
    assert(out.agg(min(col("jaccard"))).head().getDouble(0) >= 0.8)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.text.Pipeline

/** Corpus-preparation operators: decontamination, stratified sampling,
  * sequence packing (chunked + greedy) — hand-computed goldens.
  */
class PipelineSpec extends SparkSpec {

  /** A doc of exactly `t` tokens under the bpe-ish count: t words of 4 chars. */
  private def docOf(t: Int): String = Seq.fill(t)("aaaa").mkString(" ")

  test("greedy packing: first-fit-in-order with oversize isolation") {
    import spark.implicits._
    // budget 256; tokens 100,100,100,250,30,300 →
    // pack0 {100,100} (rem 56), pack1 {100}, pack2 {250}, pack3 {30},
    // pack4 {300} (oversize doc gets its own pack)
    val toks = Seq(100, 100, 100, 250, 30, 300)
    val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, "s", docOf(t)) }
      .toDF("doc_id", "source", "text")
    val out = Pipeline.packGreedy(df, Seq("source"), Seq("doc_id"), "text", 256L)
      .orderBy(col("doc_id")).select(col("pack_id")).collect().map(_.getLong(0)).toSeq
    assert(out == Seq(0L, 0L, 1L, 2L, 3L, 4L))
  }

  test("chunked packing: offsets, straddling docs, chunk spans") {
    import spark.implicits._
    // budget 256; offsets 0,100,200,300,550,580 →
    // chunk_first 0,0,0,1,2,2 and n_chunks 1,1,2,2,1,2
    val toks = Seq(100, 100, 100, 250, 30, 300)
    val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, "s", docOf(t)) }
      .toDF("doc_id", "source", "text")
    val out = Pipeline.packChunked(df, Seq("source"), Seq("doc_id"), "text", 256L)
      .orderBy(col("doc_id"))
      .select(col("chunk_first"), col("n_chunks")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 2L), (2L, 1L), (2L, 2L)))
  }

  test("FFD packing: decreasing order, open bins, oversize isolation") {
    import spark.implicits._
    // capacity 256; tokens by doc: 0→100, 1→100, 2→100, 3→250, 4→30, 5→300
    // FFD order (tok desc, id): 5(300), 3(250), 0..2(100), 4(30)
    //   5 → bin0 (oversize, rem −44); 3 → bin1 (rem 6); 100s → bin2
    //   (rem 156→56), third 100 → bin3 (rem 156); 30 → bin2 (rem 26)
    // vs greedy-in-id-order which needs 5 packs on the same input
    val toks = Seq(100, 100, 100, 250, 30, 300)
    val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, "s", docOf(t)) }
      .toDF("doc_id", "source", "text")
    val out = Pipeline.packBinFFD(df, Seq("source"), "doc_id", "text", 256L)
      .orderBy(col("doc_id"))
      .select(col("bin"), col("__pshard")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((2L, 0L), (2L, 0L), (3L, 0L), (1L, 0L), (2L, 0L), (0L, 0L)))
    // bin count 4 < greedy's 5: the decreasing order earns its sort
    val nBins = out.map(_._1).distinct.size
    val greedy = Pipeline.packGreedy(df, Seq("source"), Seq("doc_id"), "text", 256L)
      .select(col("pack_id")).distinct().count()
    assert(nBins == 4 && greedy == 5)
    // capacity invariant: no bin over capacity except a lone oversize doc
    val byBin = toks.zipWithIndex.map { case (t, i) => (out(i)._1, t) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byBin.foreach { case (_, ts) =>
      assert(ts.sum <= 256 || ts.size == 1)
    }
  }

  test("FFD packing: shard split bounds state and restarts bins") {
    import spark.implicits._
    // 6 docs of 200 tokens, docsPerShard = 2 → shards {0,1,2} in
    // (tok desc, id) order = id order here; each shard packs its 2 docs
    // into 2 bins (200+200 > 256)
    val df = (0 until 6).map(i => (i.toLong, "s", docOf(200)))
      .toDF("doc_id", "source", "text")
    val out = Pipeline.packBinFFD(df, Seq("source"), "doc_id", "text", 256L,
      docsPerShard = 2)
      .orderBy(col("doc_id"))
      .select(col("__pshard"), col("bin")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L), (2L, 0L), (2L, 1L)))
  }

  test("globalShuffle: contiguous ranks, round-robin shards, layout-invariant") {
    import spark.implicits._
    val rows = (0 until 97).map(i => (i.toLong, s"doc $i"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Pipeline.globalShuffle(d, "doc_id", nShards = 4, seed = 5L)
        .select(col("doc_id"), col("shuffle_rank"), col("shard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val out = run(rows.toDF("doc_id", "text"))
    // ranks are a permutation of 0..n-1; shard = rank mod 4
    assert(out.map(_._2).sorted == (0L until 97L))
    assert(out.forall { case (_, rk, sh) => sh == rk % 4 })
    // shard sizes differ by at most one (round-robin)
    val sizes = out.groupBy(_._3).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1)
    // a different input layout yields the identical order
    assert(run(rows.reverse.toDF("doc_id", "text").repartition(13)) == out)
  }

  test("runningTotal: exact prefix sums over a descending order, layout-invariant") {
    import graft.operators.PrefixSum
    import spark.implicits._
    // weights vary, scores collide on purpose (id tie-break must order them)
    val rows = (0 until 143).map(i =>
      (i.toLong, (i * 37 % 11).toDouble, (i * 13 % 29 + 1).toLong))
    def run(d: org.apache.spark.sql.DataFrame) =
      PrefixSum.runningTotal(d, Seq(col("score").desc, col("id").asc), "w", "run")
        .select(col("id"), col("run")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val out = run(rows.toDF("id", "score", "w"))
    // driver-side truth over the same total order
    var acc = 0L
    val want = rows.sortBy { case (id, s, _) => (-s, id) }
      .map { case (id, _, w) => acc += w; (id, acc) }.sortBy(_._1).toSeq
    assert(out == want)
    // partitioning layout never changes the totals
    assert(run(rows.reverse.toDF("id", "score", "w").repartition(17)) == out)
    assert(run(rows.toDF("id", "score", "w").coalesce(1)) == out)
  }

  test("runningTotal: skewed multi-partition input equals the global window") {
    import graft.operators.PrefixSum
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // heavy key skew: 90% of rows share one score, so one range slice
    // carries most of the order; the pinned-cache two-pass result must
    // equal the one-task global-window spelling exactly
    val rows = (0 until 211).map { i =>
      val score = if (i % 10 == 0) (i % 7).toDouble else 5.0
      (i.toLong, score, (i * 17 % 23 + 1).toLong)
    }
    val df = rows.toDF("id", "score", "w").repartition(16)
    val got = PrefixSum
      .runningTotal(df, Seq(col("score").desc, col("id").asc), "w", "run")
      .select(col("id"), col("run")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = df
      .withColumn("run", sum(col("w"))
        .over(Window.orderBy(col("score").desc, col("id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("id"), col("run")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == want)
  }

  test("packing is per-group: a second source restarts packs and offsets") {
    import spark.implicits._
    val df = Seq((0L, "a", docOf(200)), (1L, "a", docOf(200)),
      (2L, "b", docOf(10))).toDF("doc_id", "source", "text")
    val g = Pipeline.packGreedy(df, Seq("source"), Seq("doc_id"), "text", 256L)
      .orderBy(col("doc_id")).select(col("pack_id")).collect().map(_.getLong(0)).toSeq
    assert(g == Seq(0L, 1L, 0L))
    val c = Pipeline.packChunked(df, Seq("source"), Seq("doc_id"), "text", 256L)
      .orderBy(col("doc_id")).select(col("chunk_first")).collect().map(_.getLong(0)).toSeq
    assert(c == Seq(0L, 0L, 0L))
  }

  test("contamination flags the doc sharing a 5-gram run, not unrelated docs") {
    import spark.implicits._
    val leaked = "alpha beta gamma delta epsilon zeta eta"
    val corpus = Seq(
      (1L, s"prefix words here $leaked suffix tail"),
      (2L, "completely different content with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"other framing $leaked closing words")).toDF("doc_id", "text")
    val out = Pipeline.contaminationReport(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(1L) && out(1L) >= 3, s"got $out") // 7-word run → 3 shared 5-grams
    assert(!out.contains(2L))
  }

  test("contamination guards the bench broadcast with a bounded row probe") {
    import spark.implicits._
    val corpus = Seq((1L, "some corpus text")).toDF("doc_id", "text")
    val bench = (0 until 10).map(i => (i.toLong, s"bench doc $i"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Pipeline.contaminationReport(corpus, bench, "doc_id", "text",
        maxBenchDocs = 5L)
    }
    assert(ex.getMessage.contains("maxBenchDocs"))
    // at the limit it proceeds (guard counts at most max+1 rows)
    Pipeline.contaminationReport(corpus, bench, "doc_id", "text",
      maxBenchDocs = 10L).collect()
  }

  test("stratified sampling is deterministic and tracks target rates") {
    import spark.implicits._
    val df = (0 until 2000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    def ids() = Pipeline.stratifiedSample(df, "doc_id", "source",
      Map("a" -> 0.3), defaultRate = 0.8, seed = 42L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s1 = ids()
    assert(s1 == ids(), "same seed must reproduce the same sample")
    val aRate = s1.count(_ % 2 == 0) / 1000.0
    val bRate = s1.count(_ % 2 == 1) / 1000.0
    assert(math.abs(aRate - 0.3) < 0.06, s"a rate $aRate")
    assert(math.abs(bRate - 0.8) < 0.06, s"b rate $bRate")
    // different seed → different sample, similar rate
    val s2 = Pipeline.stratifiedSample(df, "doc_id", "source",
      Map("a" -> 0.3), defaultRate = 0.8, seed = 43L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 != s2)
  }

  test("contaminationReportFuzzy: near-dup flagged with exact jaccard, clean doc passes, guard trips") {
    import spark.implicits._
    // bench doc: 40 unique words; corpus doc 1 changes only the LAST
    // word → exactly one of 38 3-grams differs → j = 37/39, similar
    // enough that 16×8 banding collides (P(miss) ≈ 3e-8; the hash family
    // is fixed, so the outcome is deterministic once observed)
    val ws = Seq.tabulate(40)(i => s"tok$i")
    val bench = Seq((100L, ws.mkString(" "))).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, (ws.init :+ "changed").mkString(" ")),
      (2L, "totally unrelated words about something else entirely")
    ).toDF("doc_id", "text")
    val out = Pipeline.contaminationReportFuzzy(
      corpus, bench, "doc_id", "text", shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1 && out(0)._1 == 1L && out(0)._2 == 100L)
    assert(math.abs(out(0)._3 - 37.0 / 39.0) < 1e-12)
    // above the pair's jaccard → dropped even though candidates exist
    val none = Pipeline.contaminationReportFuzzy(
      corpus, bench, "doc_id", "text", shingleN = 3, threshold = 0.96)
      .count()
    assert(none == 0)
    // bench-size guard: eval suites are driver-small by contract
    val big = (0L until 5L).map(i => (i, s"doc $i text here okay"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Pipeline.contaminationReportFuzzy(
        corpus, big, "doc_id", "text", maxBenchDocs = 3L)
    }
    assert(e.getMessage.contains("maxBenchDocs"))
  }

  test("temperatureSample: alpha-sampling flattens the mixture, rates verified by hand") {
    import spark.implicits._
    // strata: a 90 rows, b 10 rows; alpha .5, targetFrac .5 →
    //   z = sqrt(90)+sqrt(10); rate_s = min(1, .5·100·(sqrt(ns)/z)/ns)
    val df = ((0 until 90).map(i => (i.toLong, "a")) ++
      (90 until 100).map(i => (i.toLong, "b"))).toDF("doc_id", "source")
    val z = math.sqrt(90.0) + math.sqrt(10.0)
    val ra = math.min(1.0, 0.5 * 100 * (math.sqrt(90.0) / z) / 90)
    val rb = math.min(1.0, 0.5 * 100 * (math.sqrt(10.0) / z) / 10)
    assert(rb > ra, "tail stratum must be boosted")
    val out = Pipeline.temperatureSample(df, "doc_id", "source",
      alpha = 0.5, targetFrac = 0.5, seed = 42L)
    val rates = out.groupBy("source").agg(min(col("__rate")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(rates("a") - ra) < 1e-15)
    assert(math.abs(rates("b") - rb) < 1e-15)
    // the coin is the documented md5 rule — replay one row off-Spark
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    def u(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"42:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"$b%02x").mkString, 16).toDouble / 4294967296.0
    }
    (0L until 100L).foreach { id =>
      val rate = if (id < 90) ra else rb
      assert(kept.contains(id) == (u(id) < rate), s"row $id coin mismatch")
    }
  }

  test("temperatureSampleWeighted: token-mass strata, rates verified by hand") {
    import spark.implicits._
    // strata by TOKEN mass: a = 4 docs × 100 tokens = 400, b = 4 docs ×
    // 25 tokens = 100; doc counts are EQUAL, so an unweighted mix would
    // give both strata the same rate — the weighted one must not
    val df = ((0 until 4).map(i => (i.toLong, "a", 100L)) ++
      (4 until 8).map(i => (i.toLong, "b", 25L)))
      .toDF("doc_id", "source", "n_tokens")
    val (wa, wb) = (400.0, 100.0)
    val z = math.sqrt(wa) + math.sqrt(wb)
    val w = wa + wb
    val ra = math.min(1.0, 0.5 * w * (math.sqrt(wa) / z) / wa)
    val rb = math.min(1.0, 0.5 * w * (math.sqrt(wb) / z) / wb)
    assert(rb > ra, "low-mass stratum must be boosted")
    val out = Pipeline.temperatureSampleWeighted(df, "doc_id", "source",
      "n_tokens", alpha = 0.5, targetFrac = 0.5, seed = 42L)
    val rates = out.groupBy("source").agg(min(col("__rate")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rates.get("a").foreach(r => assert(math.abs(r - ra) < 1e-15))
    rates.get("b").foreach(r => assert(math.abs(r - rb) < 1e-15))
    // unit weights reduce exactly to the unweighted sampler
    val uw = Pipeline.temperatureSampleWeighted(
      df.withColumn("one", lit(1L)), "doc_id", "source", "one",
      alpha = 0.5, targetFrac = 0.5, seed = 42L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = Pipeline.temperatureSample(df, "doc_id", "source",
      alpha = 0.5, targetFrac = 0.5, seed = 42L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(uw == plain)
  }

  test("quotaSample: exact per-stratum counts, order-independent, reproducible") {
    import spark.implicits._
    val df = ((0 until 40).map(i => (i.toLong, "a")) ++
      (40 until 43).map(i => (i.toLong, "b"))).toDF("doc_id", "source")
    val s1 = Pipeline.quotaSample(df, "doc_id", "source", quota = 5, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.count(_._2 == "a") == 5, "full stratum yields exactly quota")
    assert(s1.count(_._2 == "b") == 3, "short stratum keeps all rows")
    // shuffling the input must not change the selected set
    val s2 = Pipeline.quotaSample(df.repartition(7, col("doc_id")),
      "doc_id", "source", quota = 5, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.toSet == s2.toSet)
    // a different seed picks a different committee from the full stratum
    val s3 = Pipeline.quotaSample(df, "doc_id", "source", quota = 5, seed = 8L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s3.count(_._2 == "a") == 5 && s1.toSet != s3)
  }

  test("dedupSpans: C4 sentence-span dedup — first occurrence wins, docs rebuild in order, emptied docs drop") {
    import spark.implicits._
    import graft.text.TextOps
    val docs = Seq(
      (1L, "The sky is blue. Water is wet. Unique one"),
      (2L, "Water is wet. The sky is blue. Unique two"),   // both spans lose to doc 1
      (3L, "water is WET.  the sky is blue"),               // normalization: all spans lose
      (4L, "Fresh span. Fresh span. Another fresh")         // within-doc repeat dedups
    ).toDF("doc_id", "text")
    val out = TextOps.dedupSpans(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "The sky is blue. Water is wet. Unique one", 3L),
      (2L, " Unique two", 1L),
      (4L, "Fresh span. Another fresh", 2L)), s"got ${out.toSeq}")
    // doc 3 vanished entirely (every span was a normalized repeat)
    assert(!out.map(_._1).contains(3L))
  }

  test("bloom decontamination screen: superset of the exact report, bounded false positives") {
    import spark.implicits._
    // 200 corpus docs of distinct 6-word texts; docs 0-9 share their text
    // with the bench split (truly contaminated)
    val mkText = (i: Int) => (0 until 6).map(j => s"w${i}_$j").mkString(" ")
    val corpus = (0 until 200).map(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val bench = (0 until 10).map(i => (1000L + i, mkText(i))).toDF("doc_id", "text")
    val exact = Pipeline.contaminationReport(corpus, bench, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == (0L until 10L).toSet)
    val bloom = Pipeline.contaminationReportBloom(corpus, bench, "doc_id", "text",
      n = 5, expectedGrams = 1000L, fpp = 0.01)
      .select("doc_id").as[Long].collect().toSet
    // no false negatives: the screen must flag every truly contaminated doc
    assert(exact.subsetOf(bloom), s"missed ${exact -- bloom}")
    // false positives bounded: 190 clean docs × 2 grams each at 1% fpp —
    // a generous ceiling still catches a broken sketch (which would flag
    // everything)
    assert((bloom -- exact).size <= 20, s"too many FPs: ${(bloom -- exact).size}")
  }

  test("connectedComponents: chains, stars and disjoint clusters resolve to min ids") {
    import spark.implicits._
    import graft.text.Components
    // components: chain 1-2-3-4 (diameter 3), star 10-{11,12,13}, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (10L, 13L), (20L, 21L)).toDF("id_a", "id_b")
    val cc = Components.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
    val plan = Components.dedupPlan(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(plan == Set((1L, 4L, 3L), (10L, 4L, 3L), (20L, 2L, 1L)))
    // a long chain under a tiny iteration budget must fail loudly, not
    // return a half-merged clustering
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Components.connectedComponents(chain, "id_a", "id_b", maxIter = 2)
    }
  }

  test("skewReport: heavy hitters ranked with share and skew factor") {
    import spark.implicits._
    import graft.operators.Diagnostics
    // keys: a×6, b×2, c×1, d×1 → 10 rows over 4 keys, mean 2.5
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("key", "v")
    val out = Diagnostics.skewReport(df, Seq("key"), k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[String]("key")).toSeq == Seq("a", "b", "c"))
    val top = out(0)
    assert(top.getAs[Long]("n_rows") == 6L)
    assert(math.abs(top.getAs[Double]("share") - 0.6) < 1e-9)
    assert(math.abs(top.getAs[Double]("skew_factor") - 2.4) < 1e-9)
    assert(top.getAs[Long]("n_keys") == 4L)
    assert(math.abs(top.getAs[Double]("mean_rows_per_key") - 2.5) < 1e-9)
    // ties rank by ascending key: c before d
    assert(out(2).getAs[String]("key") == "c" && out(2).getAs[Int]("rank") == 3)
  }

  test("skewReport: distributed top-k equals the row_number ranking under tied counts") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Diagnostics
    // two key columns, a null key, and runs of equal counts that straddle
    // the k cut-off: only the key order decides who is kept
    val keys = Seq[(String, Integer, Int)](("b", 1, 4), ("a", 2, 4), ("a", 1, 4),
      (null, 7, 4), ("c", null, 2), ("c", 3, 2), ("d", 0, 2), ("e", 5, 1),
      ("a", 9, 1), (null, null, 1))
    val df = keys.flatMap { case (k1, k2, n) => Seq.fill(n)((k1, k2)) }
      .toDF("k1", "k2")
    val cols = Seq("k1", "k2")
    // the form this replaced: one unpartitioned window over every key
    def windowed(k: Int) = {
      val counts = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n_rows"))
      counts.withColumn("rank", row_number().over(Window.orderBy(
          col("n_rows").desc +: cols.map(c => col(c).asc): _*)))
        .filter(col("rank") <= k)
        .select(col("rank"), col("k1"), col("k2"), col("n_rows"))
    }
    for (k <- Seq(1, 3, 5, 6, 10, 20)) {
      val got = Diagnostics.skewReport(df, cols, k)
        .select("rank", "k1", "k2", "n_rows").orderBy("rank").collect().toSeq
      val want = windowed(k).orderBy("rank").collect().toSeq
      assert(got == want, s"k=$k")
    }
    // no window operator is left to sort the key set in one task
    assert(!Diagnostics.skewReport(df, cols, 3).queryExecution.executedPlan
      .toString.contains("Window"))
    assert(Diagnostics.skewReport(df.filter(lit(false)), cols, 3).isEmpty)
  }

  test("hashSplit: disjoint exhaustive assignment, md5-replayable, stable proportions") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val out = Pipeline.hashSplit(df, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000L, "every row lands in exactly one split")
    assert(math.abs(counts("train") - 800L) < 50, s"train ${counts("train")}")
    assert(counts.keySet == Set("train", "val", "test"))
    // the coin is the documented md5 rule — replay off-Spark
    def u(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"42:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"$b%02x").mkString, 16).toDouble / 4294967296.0
    }
    val got = out.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 100L).foreach { id =>
      val expect = if (u(id) < 0.8) "train"
        else if (u(id) < 0.9) "val" else "test"
      assert(got(id) == expect, s"row $id split mismatch")
    }
    // growth-stability: a subset's assignments are unchanged
    val sub = Pipeline.hashSplit(df.filter(col("doc_id") < 100), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub == got.filter(_._1 < 100))
  }

  test("dedupPlanBy: each component keeps its best-scoring member, ties to min id") {
    import spark.implicits._
    import graft.text.Components
    // chain 1-2-3 (scores 5,9,9 → keeper 2 on tie), pair 20-21 (keeper 21)
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
    val scores = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (20L, 1.0), (21L, 2.0))
      .toDF("doc_id", "quality")
    val plan = Components.dedupPlanBy(pairs, "id_a", "id_b",
      scores, "doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3), r.getLong(4))).toSet
    assert(plan == Set((1L, 2L, 9.0, 3L, 2L), (20L, 21L, 2.0, 2L, 1L)))
  }

  test("incremental dedup drives a streaming ingest loop via foreachBatch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.text.{IncrementalDedup, TextOps}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = s"${Scratch.sub("dedup-stream-test")}/${java.util.UUID.randomUUID()}"
    // the 100 TB ingest shape: each micro-batch dedups against the
    // persisted index and appends its survivors — foreachBatch is the
    // streaming host for exactly this batch-incremental contract
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalDedup.dedupIncremental(batch, "text", Seq("doc_id"), path)
        (): Unit
      }
      .option("checkpointLocation", freshCkpt())
      .start()
    try {
      mem.addData((0L, "alpha"), (1L, " ALPHA "), (2L, "beta"))
      q.processAllAvailable()
      mem.addData((10L, "beta"), (11L, "gamma"), (12L, "alpha"))
      q.processAllAvailable()
    } finally q.stop()
    // index holds exactly the corpus-distinct normalized contents
    val idx = spark.read.parquet(s"$path/hashes").select("__h")
      .as[String].collect().toSet
    val expect = Seq("alpha", "beta", "gamma")
      .map(t => org.apache.commons.codec.digest.DigestUtils.md5Hex(t)).toSet
    assert(idx == expect, s"index $idx != $expect")
  }

  test("incremental dedup: cross-batch anti-join + append-twice idempotence") {
    import spark.implicits._
    import graft.text.IncrementalDedup
    val path = s"${Scratch.sub("dedup-test")}/${java.util.UUID.randomUUID()}"
    def indexRows(): Long =
      spark.read.parquet(s"$path/hashes").count()
    // batch 1: ids 0-3; 0 and 1 share content (keep 0), bootstrap index
    val b1 = Seq((0L, "alpha  beta"), (1L, " Alpha BETA "), (2L, "gamma"),
      (3L, "delta")).toDF("doc_id", "text")
    val s1 = IncrementalDedup.dedupIncremental(b1, "text", Seq("doc_id"), path)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == Seq(0L, 2L, 3L))
    assert(indexRows() == 3)
    // batch 2: 10 dups batch-1 content (killed by the index anti-join
    // without touching batch 1's rows), 11/12 share new content (keep 11)
    val b2 = Seq((10L, "GAMMA "), (11L, "epsilon"), (12L, "epsilon"))
      .toDF("doc_id", "text")
    val s2 = IncrementalDedup.dedupIncremental(b2, "text", Seq("doc_id"), path)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2 == Seq(11L))
    assert(indexRows() == 4)
    // append-twice idempotence: re-ingesting batch 2 yields zero
    // survivors and leaves the index untouched
    val s3 = IncrementalDedup.dedupIncremental(b2, "text", Seq("doc_id"), path)
    assert(s3.count() == 0)
    assert(indexRows() == 4)
  }

  test("deleteFromIndex: erased hashes readmit, untouched buckets byte-identical, empty buckets vanish") {
    import spark.implicits._
    import graft.text.IncrementalDedup
    val path = s"${Scratch.sub("dedup-test")}/${java.util.UUID.randomUUID()}"
    val docs = (0L until 40L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    IncrementalDedup.dedupIncremental(docs, "text", Seq("doc_id"), path, nBuckets = 8)
    def hashes(): Set[String] = spark.read.parquet(s"$path/hashes")
      .select("__h").as[String].collect().toSet
    val all = hashes()
    assert(all.size == 40)
    def fileSet(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/hashes"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = fileSet()
    val toDelete = docs.filter(col("doc_id") % 10 === 0) // 4 docs
    val removed = IncrementalDedup.deleteFromIndex(
      spark, path, toDelete, "text", nBuckets = 8)
    assert(removed == 4L, s"removed $removed")
    // index hash set is exactly the complement
    val delHashes = toDelete
      .select(graft.text.TextOps.contentHash(col("text")).as("h"))
      .as[String].collect().toSet
    assert(hashes() == all -- delHashes)
    // untouched buckets keep their exact files (path + mtime)
    val after = fileSet()
    val touchedDirs = delHashes.map(h =>
      java.lang.Long.remainderUnsigned(
        { val c = new java.util.zip.CRC32(); c.update(h.getBytes("UTF-8")); c.getValue },
        8L))
    before.foreach { case (p, m) =>
      val b = "__b=([0-9]+)".r.findFirstMatchIn(p).get.group(1).toLong
      if (!touchedDirs.contains(b))
        assert(after.get(p).contains(m), s"untouched bucket file changed: $p")
    }
    // re-ingest of the erased docs: all readmit, index is whole again
    val re = IncrementalDedup.dedupIncremental(
      toDelete, "text", Seq("doc_id"), path, nBuckets = 8)
    assert(re.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 10L, 20L, 30L))
    assert(hashes() == all)
    // deleting everything in one bucket leaves no stale directory behind
    val removedAll = IncrementalDedup.deleteFromIndex(
      spark, path, docs, "text", nBuckets = 8)
    assert(removedAll == 40L)
    assert(!new java.io.File(s"$path/hashes").exists() ||
      fileSet().isEmpty, "stale bucket files survived a full deletion")
  }

  test("incremental dedup: survivors and index equal exactDedup then an anti-join vs the pinned snapshot") {
    import spark.implicits._
    import graft.sources.Partitioned
    import graft.text.{IncrementalDedup, TextOps}
    val path = s"${Scratch.sub("dedup-test")}/${java.util.UUID.randomUUID()}"
    val rnd = new scala.util.Random(20261019L)
    // within-batch case and whitespace variants of 24 contents
    def variant(i: Int): String = {
      val t = s"content number ${i % 24} here"
      val cased = if (rnd.nextBoolean()) t.toUpperCase else t
      val spaced = if (rnd.nextBoolean()) cased.replace(" ", "   ") else cased
      if (rnd.nextBoolean()) s"  $spaced\t" else spaced
    }
    def mk(ids: Seq[Long]) =
      rnd.shuffle(ids).map(i => (i, variant(rnd.nextInt(1000)))).toDF("doc_id", "text")
    val b1 = mk(0L until 30L)
    val b2 = mk(30L until 90L) // most contents are cross-batch duplicates
    val batches = Seq(b1, b2, b2) // the re-ingest of b2 has zero survivors
    def hashesIn(files: Seq[String]): Seq[String] =
      if (files.isEmpty) Nil
      else spark.read.parquet(files: _*).select("__h").as[String].collect().toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      val snap = Partitioned.dataFiles(spark, s"$path/hashes")
      val elected = TextOps.exactDedup(b, "text", Seq("doc_id"))
        .withColumn("__h", TextOps.contentHash(col("text")))
      val old =
        if (snap.isEmpty) elected
        else elected.join(spark.read.parquet(snap: _*).select("__h"), Seq("__h"), "left_anti")
      val want = old.select("doc_id", "text").as[(Long, String)].collect().toSet
      val wantHashes = hashesIn(snap).toSet ++
        old.select("__h").as[String].collect()
      val got = IncrementalDedup.dedupIncremental(b, "text", Seq("doc_id"), path, nBuckets = 8)
      assert(got.columns.toSeq == Seq("doc_id", "text"))
      assert(got.as[(Long, String)].collect().toSet == want, s"batch $i survivors")
      val idx = hashesIn(Partitioned.dataFiles(spark, s"$path/hashes"))
      assert(idx.size == idx.toSet.size, s"batch $i duplicated an index hash")
      assert(idx.toSet == wantHashes, s"batch $i index hashes")
      if (i == 2) assert(want.isEmpty)
      else assert(want.nonEmpty)
    }
  }

  test("incremental dedup: the returned frame reads the same rows after compactIndex and deleteFromIndex") {
    import spark.implicits._
    import graft.text.IncrementalDedup
    val path = s"${Scratch.sub("dedup-test")}/${java.util.UUID.randomUUID()}"
    val docs = (0L until 60L).map(i => (i, s"body ${i % 41}")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().sorted.toSeq
    val s1 = IncrementalDedup.dedupIncremental(
      docs.filter(col("doc_id") % 2 === 0), "text", Seq("doc_id"), path, nBuckets = 8)
    val s2 = IncrementalDedup.dedupIncremental(docs, "text", Seq("doc_id"), path, nBuckets = 8)
    val (r1, r2) = (rows(s1), rows(s2))
    assert(r1.nonEmpty && r2.nonEmpty)
    // the rewrite deletes every file the two appends wrote
    IncrementalDedup.compactIndex(spark, path, nBuckets = 4)
    assert(rows(s1) == r1 && rows(s2) == r2, "consumed after compactIndex")
    val removed = IncrementalDedup.deleteFromIndex(
      spark, path, docs.filter(col("doc_id") % 5 === 0), "text", nBuckets = 4)
    assert(removed > 0)
    assert(rows(s1) == r1 && rows(s2) == r2, "consumed after deleteFromIndex")
  }

  test("incremental dedup: a null-text row survives once and its null hash enters the index") {
    import spark.implicits._
    import graft.text.IncrementalDedup
    val path = s"${Scratch.sub("dedup-test")}/${java.util.UUID.randomUUID()}"
    val b = Seq[(Long, String)]((0L, "alpha"), (1L, null), (2L, " ALPHA "), (3L, null))
      .toDF("doc_id", "text")
    val got = IncrementalDedup.dedupIncremental(b, "text", Seq("doc_id"), path)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // the null hashes elect one keeper, like any other hash group
    assert(got == Seq(0L, 1L))
    val idx = spark.read.parquet(s"$path/hashes").select("__h").as[String].collect()
    assert(idx.count(_ == null) == 1 && idx.length == 2, idx.toSeq)
  }

  test("incremental dedup: a batch adds at most one file per touched bucket, broadcast or sort-merge anti-join") {
    import spark.implicits._
    import graft.sources.Partitioned
    import graft.text.IncrementalDedup
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    def layout(): Unit = {
      val path = s"${Scratch.sub("dedup-test")}/${java.util.UUID.randomUUID()}"
      var seen = Set.empty[String]
      for (m <- 0L until 3L) {
        // new contents in every batch, plus duplicates within and across batches
        val b = (0L until 400L).filter(_ % 3 == m)
          .map(i => (i, if (i % 4 == 0) s"shared ${i % 50}" else s"own $i"))
          .toDF("doc_id", "text")
        IncrementalDedup.dedupIncremental(b, "text", Seq("doc_id"), path, nBuckets = 8)
        val files = Partitioned.dataFiles(spark, s"$path/hashes").toSet
        val added = (files -- seen).toSeq
          .groupBy(f => "__b=([0-9]+)".r.findFirstMatchIn(f).get.group(1))
        assert(added.nonEmpty, s"batch $m appended nothing")
        assert(added.values.forall(_.size == 1),
          s"batch $m: ${added.map { case (k, v) => k -> v.size }}")
        seen = files
      }
    }
    try {
      layout()
      spark.conf.set(key, "-1")
      layout()
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("compactIndex: file count collapses, decisions unchanged, re-bucketing safe") {
    import spark.implicits._
    import graft.text.{IncrementalDedup, IncrementalNearDup}
    def filesUnder(dir: String): Int = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0
      else {
        val it = fs.listFiles(p, true); var n = 0
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }
    }
    // exact index: two append waves, compact with a re-bucket, third
    // wave must decide exactly as an uncompacted twin index does
    val docs = (0L until 60L).map(i => (i, s"content ${i % 37}"))
    val pathA = s"${Scratch.sub("compact-test")}/${java.util.UUID.randomUUID()}"
    val pathB = s"${Scratch.sub("compact-test")}/${java.util.UUID.randomUUID()}"
    def wave(path: String, m: Long, nb: Int) = IncrementalDedup
      .dedupIncremental(docs.filter(_._1 % 3 == m).toDF("doc_id", "text"),
        "text", Seq("doc_id"), path, nBuckets = nb)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(wave(pathA, 0, 8) == wave(pathB, 0, 8))
    assert(wave(pathA, 1, 8) == wave(pathB, 1, 8))
    val before = filesUnder(s"$pathA/hashes")
    IncrementalDedup.compactIndex(spark, pathA, nBuckets = 4)
    val after = filesUnder(s"$pathA/hashes")
    assert(after <= 4 && after < before, s"files $before -> $after")
    // identical third-wave decisions on compacted vs untouched index
    assert(wave(pathA, 2, 4) == wave(pathB, 2, 8))
    assert(spark.read.parquet(s"$pathA/hashes").count() ==
      spark.read.parquet(s"$pathB/hashes").count())
    // near-dup index: same contract over the two-sided layout
    val nd = (0L until 24L).map(i =>
      (i, s"the quick brown fox number ${i % 7} jumps over the lazy dog"))
    val ndA = s"${Scratch.sub("compact-test")}/${java.util.UUID.randomUUID()}"
    val ndB = s"${Scratch.sub("compact-test")}/${java.util.UUID.randomUUID()}"
    def ndWave(path: String, m: Long) = IncrementalNearDup
      .dedupIncremental(nd.filter(_._1 % 2 == m).toDF("doc_id", "text"),
        "doc_id", "text", path, nBuckets = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ndWave(ndA, 0) == ndWave(ndB, 0))
    val ndBefore = filesUnder(s"$ndA/state")
    IncrementalNearDup.compactIndex(spark, ndA, nBuckets = Some(4))
    val ndAfter = filesUnder(s"$ndA/state")
    assert(ndAfter < ndBefore, s"near-dup files $ndBefore -> $ndAfter")
    assert(ndWave(ndA, 1) == ndWave(ndB, 1))
  }

  test("DSIR: weights rank target-like docs first; selection is deterministic") {
    import spark.implicits._
    import graft.text.Dsir
    // raw pool: 8 fruit-like docs (the target's language) + 8 alien docs
    val fruity = (0L until 8L).map(i => (i, "apple banana cherry apple banana"))
    val alien = (8L until 16L).map(i => (i, "zq wx kv zq wx kv zq"))
    val raw = (fruity ++ alien).toDF("doc_id", "text")
    val target = Seq((100L, "apple banana apple cherry"),
      (101L, "banana cherry apple")).toDF("doc_id", "text")

    val w = Dsir.importanceWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("log_weight")).toMap
    val worstFruity = (0L until 8L).map(w).min
    val bestAlien = (8L until 16L).map(w).max
    assert(worstFruity > bestAlien,
      s"every fruity doc must outweigh every alien doc: $w")
    // n_grams = unigrams + bigrams = 2·len − 1
    val n = Dsir.importanceWeights(raw, target, "doc_id", "text")
      .filter(col("doc_id") === 0L).collect().head.getAs[Long]("n_grams")
    assert(n == 9, s"5 words -> 9 grams, got $n")

    // Gumbel top-k: k=8 from a pool where 8 docs dominate the weights →
    // the selection is exactly the fruity half; two runs agree exactly
    def pick() = Dsir.resample(raw, target, "doc_id", "text", k = 8)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("gumbel_score"))).toSeq
    val a = pick()
    assert(a.map(_._1).toSet == (0L until 8L).toSet,
      s"selection must prefer target-like docs: $a")
    assert(a == pick(), "resample must be bit-deterministic")
  }

  test("writeShards: lossless round trip + manifest certifies the files") {
    import spark.implicits._
    val docs = (0 until 100)
      .map(i => (i.toLong, s"doc number $i with some words"))
      .toDF("doc_id", "text")
    val path = s"${Scratch.sub("shards-test")}/m1"
    val manifest = Pipeline.writeShards(docs, "doc_id", "text", path, 4)
      .orderBy("shard").collect()
    // every doc written exactly once, across exactly the declared shards
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == 100L)
    val back = spark.read.parquet(path)
    assert(back.count() == 100)
    assert(back.select("doc_id").as[Long].collect().sorted.toSeq ==
      (0L until 100L))
    // routing is content-independent and stable: a rewrite of the same
    // frame produces an identical manifest
    val again = Pipeline.writeShards(docs, "doc_id", "text",
      s"${Scratch.sub("shards-test")}/m2", 4).orderBy("shard").collect()
    assert(manifest.toSeq == again.toSeq)
    // a mutated doc moves its shard's content fingerprint only
    val mutated = docs.withColumn("text",
      when(col("doc_id") === 7L, lit("tampered")).otherwise(col("text")))
    val m2 = Pipeline.writeShards(mutated, "doc_id", "text",
      s"${Scratch.sub("shards-test")}/m3", 4).orderBy("shard").collect()
    val diffs = manifest.zip(m2).count { case (a2, b2) =>
      a2.getAs[Long]("content_sum") != b2.getAs[Long]("content_sum") }
    assert(diffs == 1, s"exactly one shard fingerprint must move: $diffs")
  }

  test("duplicatedSpanProfile: planted cross-doc span, exact boundaries") {
    import spark.implicits._
    import graft.text.TextOps
    // 20 unique lead tokens, then a 10-token sentence repeated in doc 2
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = (0 until 10).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"${uniq("a", 20)} $shared"),
      (2L, s"${uniq("b", 15)} $shared ${uniq("c", 5)}"),
      (3L, uniq("d", 40))
    ).toDF("doc_id", "text")
    val out = TextOps.duplicatedSpanProfile(docs, "doc_id", "text",
      k = 4, minLen = 8)
      .orderBy("doc_id").collect()
    // doc 3 has no duplicated grams; docs 1 and 2 each carry the
    // 10-token shared span (anchors cover exactly tokens of the span)
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    assert(out.forall(_.getAs[Long]("n_spans") == 1L))
    assert(out.forall(_.getAs[Long]("dup_tokens") == 10L))
    assert(out.map(_.getAs[Long]("total_tokens")).toSeq == Seq(30L, 30L))
  }

  test("duplicatedSpanProfile: within-doc repetition counts too") {
    import spark.implicits._
    import graft.text.TextOps
    val rep = (0 until 8).map(i => s"loop$i").mkString(" ")
    val docs = Seq(
      (1L, s"$rep ${(0 until 10).map(i => s"u$i").mkString(" ")} $rep"))
      .toDF("doc_id", "text")
    val out = TextOps.duplicatedSpanProfile(docs, "doc_id", "text",
      k = 4, minLen = 8)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_spans") == 2L)
    assert(out.head.getAs[Long]("dup_tokens") == 16L)
  }

  test("chunkSliding: window starts, tail handling, overlap hash identity") {
    import spark.implicits._
    // 10 tokens, chunk 4, stride 3 → starts 0,3,6 (s=9 dropped: the
    // s=6 chunk [6,10) already reached the end); lengths 4,4,4
    val docs = Seq(
      (1L, (0 until 10).map(i => s"w$i").mkString(" ")),
      (2L, "only two"), // shorter than one chunk → single chunk of 2
      (3L, "")) // empty text → one token "" after split
      .toDF("doc_id", "text")
    val out = Pipeline.chunkSliding(docs, Seq("doc_id"), "text",
      chunkTokens = 4, stride = 3)
      .orderBy(col("doc_id"), col("chunk_idx")).collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getAs[Int]("start_token")).toSeq == Seq(0, 3, 6))
    assert(d1.map(_.getAs[Int]("n_chunk_tokens")).toSeq == Seq(4, 4, 4))
    assert(d1.map(_.getAs[Int]("chunk_idx")).toSeq == Seq(0, 1, 2))
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getAs[Int]("n_chunk_tokens") == 2)
    assert(out.count(_.getLong(0) == 3L) == 1)
    // identical chunk text ⇒ identical hash, across documents
    val twin = Seq((7L, "a b c d"), (8L, "a b c d")).toDF("doc_id", "text")
    val hs = Pipeline.chunkSliding(twin, Seq("doc_id"), "text", 4, 4)
      .select(col("chunk_hash")).collect().map(_.getString(0))
    assert(hs.distinct.length == 1)
  }

  test("lossy counting: bounded summary, proven superset of heavy items") {
    import graft.text.HeavyHitters
    // adversarial stream: 3 heavy items interleaved with a churn of
    // singletons forcing prunes at every bucket boundary (vocab ≫ 1/ε)
    val heavy = Seq("a", "b", "c")
    val stream = new scala.util.Random(11).shuffle(
      (heavy.flatMap(h => Seq.fill(400)(h)) ++
        (0 until 5000).map(i => s"one$i")).toVector)
    val eps = 0.01 // 1/ε = 100 < vocab ⇒ pruning definitely fires
    val cands = HeavyHitters.lossyCandidates(stream.iterator, eps).toSet
    val n = stream.size
    // completeness: every item with count > ε·n survives
    assert(heavy.forall(cands.contains), s"missing heavy items: $cands")
    // boundedness: lossy counting keeps O(1/ε log εn) entries — far
    // fewer than the 5003-item vocabulary
    assert(cands.size < 1000, s"summary not bounded: ${cands.size}")
    assert(400 > eps * n) // the guarantee's premise actually held
  }

  test("heavyTokens: exact counts at the support threshold, end to end") {
    import spark.implicits._
    // 100 "hot" + 60 "warm" + 40 unique fillers; support 0.3 ⇒ only
    // hot (100/200 = .5) and warm (60/200 = .3) qualify
    val words = Seq.fill(100)("hot") ++ Seq.fill(60)("warm") ++
      (0 until 40).map(i => s"filler$i")
    val docs = words.grouped(20).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val out = HeavyHittersRef.heavyTokens(docs, "text",
      minSupport = 0.3, epsilon = 0.01)
      .orderBy(col("token")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("hot", 100L), ("warm", 60L)))
  }

  private val HeavyHittersRef = graft.text.HeavyHitters
}

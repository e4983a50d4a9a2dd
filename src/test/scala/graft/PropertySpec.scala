package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.functions.{FFT, HashRandom, TopK}
import graft.multimodal.{Png, Wav}

/** Property-based checks over the pure kernels — seeded, so every run
  * exercises the same cases (no flaky CI), but the cases themselves are
  * adversarial in a way hand-written goldens aren't: arbitrary sizes,
  * duplicate sort keys, clipping boundaries, hostile URL shapes.
  */
class PropertySpec extends SparkSpec {

  private def check(p: Prop, n: Int = 60): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withInitialSeed(Seed(20260814L)),
      p)
    assert(res.passed, res.status.toString)
  }

  test("FFT: full-band bandpass is the identity (round-trip) at any length") {
    val sig = for {
      n <- Gen.choose(1, 257)
      xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
    } yield xs.toArray
    check(Prop.forAll(sig) { x =>
      val back = FFT.bandpass(x, low = 0.0, high = 0.5, sampleRate = 1.0)
      x.indices.forall(i => math.abs(back(i) - x(i)) < 1e-8)
    })
  }

  test("FFT: Parseval's identity holds at any length") {
    val sig = for {
      n <- Gen.choose(1, 200)
      xs <- Gen.listOfN(n, Gen.choose(-50.0, 50.0))
    } yield xs.toArray
    check(Prop.forAll(sig) { x =>
      val (re, im) = FFT.fft(x)
      val time = x.map(v => v * v).sum
      val freq = re.indices.map(k => re(k) * re(k) + im(k) * im(k)).sum / x.length
      math.abs(time - freq) <= 1e-7 * math.max(1.0, time)
    })
  }

  test("Png: encode/decode round-trips any size and channel count") {
    val img = for {
      w <- Gen.choose(1, 12)
      h <- Gen.choose(1, 12)
      ch <- Gen.oneOf(1, 2, 3, 4)
      px <- Gen.listOfN(w * h * ch, Gen.choose(0, 255))
    } yield (w, h, ch, px.toArray)
    check(Prop.forAll(img) { case (w, h, ch, px) =>
      Png.decode(Png.encode(w, h, ch, px)).exists(d =>
        d.width == w && d.height == h && d.channels == ch &&
          d.samples.sameElements(px))
    })
  }

  test("Wav: 16-bit PCM round-trips the full sample range") {
    val audio = for {
      n <- Gen.choose(1, 300)
      xs <- Gen.listOfN(n, Gen.choose(-32768, 32767))
      sr <- Gen.oneOf(8000, 16000, 44100)
    } yield (sr, xs.toArray)
    check(Prop.forAll(audio) { case (sr, xs) =>
      Wav.decode(Wav.encodePcm16(sr, 1, xs)).exists(a =>
        a.sampleRate == sr && a.samples.sameElements(xs))
    })
  }

  test("TopK: any partitioning + merge order equals sorted take-k") {
    val input = for {
      k <- Gen.choose(1, 8)
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        s <- Gen.oneOf(Gen.choose(-5.0, 5.0), Gen.oneOf(0.0, 1.0, Double.NaN))
        id <- Gen.choose(0L, 20L) // narrow id range → duplicate ids + scores
      } yield (s, id, 0L))
      cuts <- Gen.choose(1, 5)
    } yield (k, rows, cuts)
    // bits, so that NaN equals NaN and -0.0 differs from 0.0
    def key(h: (Double, Long, Long)) = (java.lang.Double.doubleToLongBits(h._1), h._2, h._3)
    check(Prop.forAll(input) { case (k, rows, cuts) =>
      val agg = TopK(BoundReference(0, DoubleType, nullable = false),
        BoundReference(1, LongType, nullable = false),
        BoundReference(2, LongType, nullable = false), k)
      val chunks = if (rows.isEmpty) Seq(Seq.empty[(Double, Long, Long)])
        else rows.grouped(math.max(1, rows.length / cuts)).toSeq
      // each partial crosses a shuffle as bytes, as in a Spark plan
      val merged = chunks
        .map(c => agg.serialize(c.foldLeft(agg.createAggregationBuffer())((b, r) =>
          agg.update(b, InternalRow(r._1, r._2, r._3)))))
        .map(agg.deserialize)
        .reduceLeft((a, b) => agg.merge(a, b))
      val hits = agg.eval(merged).asInstanceOf[InternalRow].getArray(0)
      val got = (0 until hits.numElements()).map { i =>
        val h = hits.getStruct(i, 3)
        (h.getDouble(0), h.getLong(1), h.getLong(2))
      }
      val expect = rows.sortWith { (a, b) =>
        val c = java.lang.Double.compare(a._1, b._1)
        c < 0 || (c == 0 && a._2 < b._2)
      }.take(k)
      got.map(key) == expect.map(key)
    })
  }

  test("HashRandom: uniform stays in (0,1), deterministic, stream-separated") {
    val args = for {
      seed <- Gen.choose(Long.MinValue / 2, Long.MaxValue / 2)
      stream <- Gen.choose(0L, 1000L)
      idx <- Gen.choose(0L, 100000L)
    } yield (seed, stream, idx)
    check(Prop.forAll(args) { case (seed, st, i) =>
      val u = HashRandom.uniform(seed, st, i)
      val g = HashRandom.gaussian(seed, st, i)
      u > 0.0 && u < 1.0 &&
        u == HashRandom.uniform(seed, st, i) && // deterministic
        !g.isNaN && !g.isInfinite
    })
  }

  test("Spline.cubic/quadratic/linear interpolate their knots exactly") {
    val knots = for {
      n <- Gen.choose(4, 20)
      gaps <- Gen.listOfN(n, Gen.choose(0.1, 3.0))
      ys <- Gen.listOfN(n, Gen.choose(-50.0, 50.0))
    } yield (gaps.scanLeft(0.0)(_ + _).tail.toArray, ys.toArray)
    check(Prop.forAll(knots) { case (xs, ys) =>
      Seq[(Array[Double], Array[Double], Array[Double]) => Array[Double]](
        graft.functions.Spline.cubic, graft.functions.Spline.quadratic,
        graft.functions.Spline.linear).forall { f =>
        val at = f(xs, ys, xs)
        ys.indices.forall(i => math.abs(at(i) - ys(i)) < 1e-8 * math.max(1.0, math.abs(ys(i))))
      }
    }, n = 40)
  }

  test("asofJoin (backward, tolerance) equals brute force on random series") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val leftRows = Seq.tabulate(120)(i =>
      (i.toLong, s"k${rnd.nextInt(6)}", rnd.nextInt(1000).toLong))
    val rightRows = Seq.tabulate(150)(j =>
      (1000L + j, s"k${rnd.nextInt(6)}", rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val tol = 120L
    val got = graft.operators.Joins.asofJoin(
      leftRows.toDF("lid", "key", "t"),
      rightRows.toDF("rid", "key", "t", "v"),
      Seq("key"), "t", "t", payload = Seq("v"), rightOrder = "rid",
      tolerance = Some(tol))
      .select(col("lid"), col("asof_v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    leftRows.foreach { case (lid, k, t) =>
      val cands = rightRows.filter(r => r._2 == k && r._3 <= t && t - r._3 <= tol)
      val expect =
        if (cands.isEmpty) None
        else Some(cands.maxBy(r => (r._3, r._1))._4) // latest time, max rid tie-break
      assert(got(lid) == expect, s"left $lid ($k@$t): ${got(lid)} vs $expect")
    }
  }

  test("single-pass MinHashAgg signatures equal the row-wise fold on random texts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vocab = "the quick brown fox lazy dog data spark query table row scan".split(" ")
    val rnd = new scala.util.Random(31)
    val docs = Seq.tabulate(25)(i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val rowWise = df.select(col("doc_id"),
      graft.text.TextOps.minHashSignature(col("text"), 5, 64).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val aggWise = graft.text.TextOps.minHashSignatures(df, "doc_id", "text",
      shingleN = 5, numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rowWise.keySet == aggWise.keySet)
    rowWise.foreach { case (id, s) =>
      assert(s == aggWise(id), s"doc $id: row-wise and agg signatures diverge")
    }
  }

  test("EWMA scan kernel equals a per-key foldLeft on random series") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = for (k <- 0 until 5; t <- 0 until 80)
      yield (s"k$k", t.toLong, rnd.nextDouble() * 20 - 10)
    val alpha = 0.3
    val got = graft.operators.Filters.exponentialSmoothing(
      rows.toDF("key", "t", "value"), Seq("key"), Seq("t"), "value", "ewma", alpha)
      .select(col("key"), col("t"), col("ewma"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.groupBy(_._1).foreach { case (k, series) =>
      var s = Double.NaN
      series.sortBy(_._2).foreach { case (_, t, v) =>
        s = if (s.isNaN) v else alpha * v + (1 - alpha) * s
        assert(math.abs(got((k, t)) - s) < 1e-12, s"$k@$t: ${got((k, t))} vs $s")
      }
    }
  }

  test("connectedComponents equals union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    (1 to 8).foreach { _ =>
      val nNodes = 2 + rnd.nextInt(40)
      val nEdges = rnd.nextInt(60)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver-side union-find with min-label components
        val parent = Array.tabulate(nNodes)(identity)
        def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expect = touched.map(id => id -> {
          // min node id in the component (root chain compresses to min
          // because unions always point the larger root at the smaller)
          find(id.toInt).toLong
        }).toMap
        val got = graft.text.Components
          .connectedComponents(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"edges=$edges\ngot=$got\nexpect=$expect")
      }
    }
  }

  test("quantizeInt8: reconstruction error bounded by half a quantization step") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(16)((rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(4) - 1).toFloat)
        .map(_.toFloat)))
    val df = graft.similarity.Ann.quantizeInt8(vecs.toDF("id", "v"), "v")
    val rows = df.select(col("v"), graft.similarity.Ann.dequantizeInt8(col("q8"), col("q8_scale")).as("r"),
      col("q8_scale")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0); val rec = r.getSeq[Double](1); val sc = r.getDouble(2)
      v.indices.foreach { i =>
        assert(math.abs(rec(i) - v(i)) <= sc / 2 + 1e-12,
          s"component $i: ${v(i)} -> ${rec(i)} (scale $sc)")
      }
    }
  }

  test("Urls.canonicalize: idempotent, tracker-free, lowercase scheme://host") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val seg = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val param = Gen.oneOf(
      seg.map(s => s"$s=1"),
      Gen.oneOf("utm_source=x", "utm_campaign=y", "gclid=z", "fbclid=w", "ref=r"))
    val urlGen = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "HTTPS")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- seg
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      npath <- Gen.choose(0, 3)
      path <- Gen.listOfN(npath, seg).map(ps => ps.map("/" + _).mkString)
      slash <- Gen.oneOf("", "/", "//")
      nq <- Gen.choose(0, 4)
      params <- Gen.listOfN(nq, param)
      frag <- Gen.oneOf("", "#top", "#a/b?c")
    } yield s"$scheme://$www$host.example$port$path$slash" +
      (if (params.nonEmpty) "?" + params.mkString("&") else "") + frag
    // sample a deterministic batch and evaluate all properties in ONE pass
    val urls = (0 until 200).flatMap(i =>
      urlGen.apply(Gen.Parameters.default, Seed(1000L + i))).distinct
    assert(urls.size > 150, "generator should produce a rich sample")
    val rows = urls.toDF("u")
      .select(col("u"),
        graft.text.Urls.canonicalize(col("u")).as("c1"),
        graft.text.Urls.canonicalize(graft.text.Urls.canonicalize(col("u"))).as("c2"))
      .collect()
    rows.foreach { r =>
      val (u, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(c1 == c2, s"not idempotent: $u -> $c1 -> $c2")
      assert(!c1.contains("utm_") && !c1.contains("gclid") && !c1.contains("fbclid"),
        s"tracker survived: $u -> $c1")
      val prefix = c1.takeWhile(_ != '/')
      assert(prefix == prefix.toLowerCase, s"scheme not lowercased: $u -> $c1")
      assert(!c1.contains("#"), s"fragment survived: $u -> $c1")
    }
  }

  test("packBinFFD: capacity invariant, completeness, partition-invariance on random corpora") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // random doc sizes incl. oversize outliers, two strata, odd counts
    val rows = (0 until 3).flatMap { trial =>
      val n = 20 + rnd.nextInt(40)
      (0 until n).map { i =>
        val t = if (rnd.nextInt(10) == 0) 260 + rnd.nextInt(200)
                else 1 + rnd.nextInt(200)
        (trial * 1000L + i, if (i % 2 == 0) s"s${trial}a" else s"s${trial}b",
          Seq.fill(t)("aaaa").mkString(" "))
      }
    }
    val df = rows.toDF("doc_id", "source", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.text.Pipeline.packBinFFD(d, Seq("source"), "doc_id", "text",
        capacity = 256L, docsPerShard = 16)
        .select(col("doc_id"), col("source"), col("__pshard"), col("bin"),
          col("__tok"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .sortBy(_._1).toSeq
    val out = run(df)
    // completeness: every doc assigned exactly once
    assert(out.map(_._1) == rows.map(_._1).sorted)
    // capacity invariant: a bin's fill <= capacity unless a lone oversize
    out.groupBy(t => (t._2, t._3, t._4)).foreach { case (_, docs) =>
      assert(docs.map(_._5).sum <= 256 || docs.size == 1,
        s"overfull shared bin: $docs")
    }
    // shard bound: no shard holds more than docsPerShard docs
    out.groupBy(t => (t._2, t._3)).foreach { case (_, docs) =>
      assert(docs.size <= 16)
    }
    // partition-invariance: a shuffled, repartitioned input packs identically
    val shuffled = rows.reverse.toDF("doc_id", "source", "text").repartition(7)
    assert(run(shuffled) == out, "packing must not depend on input layout")
  }

  test("placeObserver: exact spectrum on random observable multi-output systems") {
    import breeze.math.Complex
    import graft.functions.Mat
    import graft.observers.Observers.Gains
    // random 3-state plants with the two-sensor selector C — observable
    // for generic A — and well-separated stable poles: the designed gain
    // (Sylvester full-rank, or the dyadic fallback on the solvability
    // boundary) must realize EXACTLY the requested spectrum
    val sys = for {
      a <- Gen.listOfN(9, Gen.choose(-3.0, 3.0))
      base <- Gen.choose(-9.0, -4.0)
      gap1 <- Gen.choose(0.7, 2.0)
      gap2 <- Gen.choose(0.7, 2.0)
    } yield (a, Seq(base, base - gap1, base - gap1 - gap2))
    val c = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    check(Prop.forAll(sys) { case (av, poles) =>
      val a = av.grouped(3).map(_.toArray).toArray
      val want = poles.sorted
      val ok =
        try {
          val l = Gains.placeObserver(a, c, poles.map(Complex(_, 0)))
          val lc = Mat.matMul(l, c)
          val alc = Array.tabulate(3, 3)((i, j) => a(i)(j) - lc(i)(j))
          val eigs = Gains.eigenvalues(alc)
          eigs.forall(e => math.abs(e.imag) < 1e-5) &&
            eigs.map(_.real).sorted.zip(want)
              .forall { case (g, w) => math.abs(g - w) < 1e-5 }
        } catch {
          // a randomly unobservable (A, C) pair is a precondition
          // failure, not a placement bug — the guard must be LOUD
          case e: IllegalArgumentException =>
            e.getMessage.contains("observable")
        }
      ok
    }, n = 40)
  }
}

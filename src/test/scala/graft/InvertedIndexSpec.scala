package graft

import org.apache.spark.sql.functions._

import graft.text.{InvertedIndex, Quality}

/** Persisted inverted index: index-path scores equal the corpus-direct
  * BM25, append equals rebuild, pruning proof, top-k contract.
  */
class InvertedIndexSpec extends SparkSpec {

  private def freshPath(): String =
    s"${Scratch.sub("invidx-test")}/${java.util.UUID.randomUUID()}"

  private val docs = Seq(
    (1L, "spark joins hash tables with scan pipelines"),
    (2L, "a hash join beats a nested loop scan when keys hash well"),
    (3L, "sort merge join shuffles both sides"),
    (4L, "full table scan reads every row"),
    (5L, "unrelated text about nothing in particular"))

  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  test("index-path BM25 equals corpus-direct BM25 for matching docs") {
    import spark.implicits._
    val d = docs.toDF("doc_id", "text")
    val path = freshPath()
    val terms = Seq("hash", "join", "scan")
    InvertedIndex.writeIndex(d, "doc_id", "text", path, nBuckets = 8)
    val idx = scores(InvertedIndex.scoreBm25(spark, path, terms))
    val direct = Quality.bm25(d, "doc_id", "text", terms)
      .filter(col("bm25") =!= 0.0)
    val dm = scores(direct)
    assert(idx.keySet == dm.keySet, s"${idx.keySet} vs ${dm.keySet}")
    idx.foreach { case (id, (ntok, s)) =>
      assert(ntok == dm(id)._1)
      assert(s == dm(id)._2, s"doc $id: index $s vs direct ${dm(id)._2}")
    }
  }

  test("append equals rebuild, bucket for bucket") {
    import spark.implicits._
    val d = docs.toDF("doc_id", "text")
    val grown = freshPath()
    val rebuilt = freshPath()
    InvertedIndex.writeIndex(d.filter(col("doc_id") <= 2), "doc_id", "text",
      grown, nBuckets = 8)
    InvertedIndex.appendToIndex(d.filter(col("doc_id") > 2), "doc_id", "text",
      grown)
    InvertedIndex.writeIndex(d, "doc_id", "text", rebuilt, nBuckets = 8)
    val terms = Seq("hash", "join", "scan", "shuffles")
    val a = scores(InvertedIndex.scoreBm25(spark, grown, terms))
    val b = scores(InvertedIndex.scoreBm25(spark, rebuilt, terms))
    assert(a == b, s"$a vs $b")
  }

  test("deleteFromIndex: erased docs vanish, scores equal a rebuild, untouched buckets byte-identical") {
    import spark.implicits._
    val d = docs.toDF("doc_id", "text")
    val path = freshPath()
    InvertedIndex.writeIndex(d, "doc_id", "text", path, nBuckets = 16)
    def bucketFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/postings"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = bucketFiles()
    // erase doc 2 (present) and a ghost doc (never indexed)
    val removed = InvertedIndex.deleteFromIndex(spark, path,
      d.filter(col("doc_id") === 2L)
        .unionByName(Seq((99L, "ghost words only")).toDF("doc_id", "text")),
      "doc_id", "text")
    assert(removed == 1L, s"removed $removed")
    // no postings of doc 2 anywhere
    assert(!spark.read.parquet(s"$path/postings")
      .select("__id").collect().map(_.getLong(0)).contains(2L))
    // index-path scores equal an index rebuilt WITHOUT doc 2, bit for bit
    val rebuilt = freshPath()
    InvertedIndex.writeIndex(d.filter(col("doc_id") =!= 2L), "doc_id", "text",
      rebuilt, nBuckets = 16)
    val terms = Seq("hash", "join", "scan")
    assert(scores(InvertedIndex.scoreBm25(spark, path, terms)) ==
      scores(InvertedIndex.scoreBm25(spark, rebuilt, terms)))
    // buckets doc 2's terms never touched are byte-identical
    val after = bucketFiles()
    val untouchedSame = before.keySet.intersect(after.keySet)
      .count(k => before(k) == after(k))
    assert(untouchedSame > 0, "delete rewrote every bucket")
  }

  test("compactIndex collapses append files per bucket; search is invariant") {
    import spark.implicits._
    val d = docs.toDF("doc_id", "text")
    val path = freshPath()
    InvertedIndex.writeIndex(d.filter(col("doc_id") <= 2), "doc_id", "text",
      path, nBuckets = 8)
    InvertedIndex.appendToIndex(d.filter(col("doc_id") === 3L), "doc_id",
      "text", path)
    InvertedIndex.appendToIndex(d.filter(col("doc_id") > 3L), "doc_id",
      "text", path)
    val terms = Seq("hash", "join", "scan", "shuffles")
    val before = scores(InvertedIndex.scoreBm25(spark, path, terms))
    val filesBefore = graft.sources.Partitioned.dataFiles(spark, s"$path/postings").size
    InvertedIndex.compactIndex(spark, path)
    val filesAfter = graft.sources.Partitioned.dataFiles(spark, s"$path/postings").size
    assert(filesAfter < filesBefore,
      s"compaction did not shrink the layout: $filesBefore -> $filesAfter")
    // bit-identical scores: same rows, same meta, same float-op order
    assert(scores(InvertedIndex.scoreBm25(spark, path, terms)) == before)
    // and pruning still proves out on the compacted layout
    val pruned = InvertedIndex.prunedPostings(spark, path, Seq("hash"))
    assert(graft.sources.Partitioned.prunedPartitionCount(pruned) == 1)
  }

  test("writeIndex on an empty corpus commits zero counters, no NPE") {
    import spark.implicits._
    val d = docs.toDF("doc_id", "text").filter(col("doc_id") < 0)
    val path = freshPath()
    InvertedIndex.writeIndex(d, "doc_id", "text", path, nBuckets = 8)
    // meta is a driver-written JSON sidecar (KB-scale bookkeeping)
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/meta")), "UTF-8")
    val fields = org.json4s.jackson.JsonMethods.parse(txt)
      .asInstanceOf[org.json4s.JObject].obj.toMap
    assert(fields("n_docs") == org.json4s.JInt(0))
    assert(fields("total_dl") == org.json4s.JInt(0))
  }

  test("search reads only the query terms' buckets; top-k ranks score desc, id asc") {
    import spark.implicits._
    val d = docs.toDF("doc_id", "text")
    val path = freshPath()
    InvertedIndex.writeIndex(d, "doc_id", "text", path, nBuckets = 16)
    val pruned = InvertedIndex.prunedPostings(spark, path, Seq("hash"))
    val np = graft.sources.Partitioned.prunedPartitionCount(pruned)
    assert(np == 1, s"one term must touch one bucket, scan selected $np")
    val top = InvertedIndex.searchBm25(spark, path, Seq("hash", "scan"), k = 2)
      .collect().map(_.getLong(0)).toSeq
    val all = InvertedIndex.scoreBm25(spark, path, Seq("hash", "scan"))
      .collect().map(r => (r.getDouble(2), r.getLong(0)))
      .sortBy { case (s, id) => (-s, id) }.map(_._2).take(2).toSeq
    assert(top == all, s"$top vs $all")
  }
}

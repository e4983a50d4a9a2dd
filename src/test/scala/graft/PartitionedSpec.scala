package graft

import org.apache.spark.sql.functions._

import graft.sources.Partitioned

class PartitionedSpec extends SparkSpec {


  test("writeByKey + filtered scan prunes to the selected directories") {
    import spark.implicits._
    val df = (1 to 120).map(i => (i.toLong, s"2024-${"%02d".format(i % 12 + 1)}", i * 2.0))
      .toDF("id", "month", "v")
    val path = Scratch.sub("partspec")
    Partitioned.writeByKey(df, path, "month")

    val slice = Partitioned.scan(spark, path)
      .filter(col("month").isin("2024-03", "2024-07"))
    assert(Partitioned.prunedPartitionCount(slice) == 2)
    // pruning must not change results
    assert(slice.count() == df.filter(col("month").isin("2024-03", "2024-07")).count())

    // an unfiltered scan has no partition filter to prune with
    assert(Partitioned.prunedPartitionCount(Partitioned.scan(spark, path)) == -1)

    // a row filter on a NON-partition column must not claim pruning
    val rowFiltered = Partitioned.scan(spark, path).filter(col("v") > 100)
    assert(Partitioned.prunedPartitionCount(rowFiltered) == -1)
  }

  test("footerRowCount equals count() after a dynamic overwrite and a duplicating append") {
    import spark.implicits._
    // x90's layout: events partitioned by type, the click slice rewritten
    // twice under dynamic partition overwrite
    val ev = (0L until 300L)
      .map(i => (i, Seq("click", "view", "buy")((i % 3).toInt), i * 0.5))
      .toDF("event_id", "event_type", "value")
    val path = s"${Scratch.sub("partspec")}/footer-${java.util.UUID.randomUUID()}"
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      df.repartition(col("event_type"))
        .write.mode(mode).partitionBy("event_type").parquet(path)
    write(ev, "overwrite")
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(mode)
    try {
      spark.conf.set(mode, "dynamic")
      (1 to 2).foreach(_ => write(ev.filter(col("event_type") === "click"), "overwrite"))
    } finally spark.conf.set(mode, prev)
    assert(Partitioned.footerRowCount(spark, path) == spark.read.parquet(path).count())
    assert(Partitioned.footerRowCount(spark, path) == 300L)
    // a plain append duplicates the partition: the footer count must see
    // the extra rows, or x90's retry check could not catch a double write
    write(ev.filter(col("event_type") === "click"), "append")
    val n = spark.read.parquet(path).count()
    assert(n == 400L)
    assert(Partitioned.footerRowCount(spark, path) == n)
  }

  test("compact collapses the file count and preserves every row") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, s"k${i % 3}", i * 1.0)).toDF("id", "k", "v")
    val frag = Scratch.sub("compact_frag")
    val dst = Scratch.sub("compact_dst")
    df.repartition(16).write.mode("overwrite").partitionBy("k").parquet(frag)
    Partitioned.compact(spark, frag, dst, "k")
    assert(Partitioned.dataFiles(spark, frag).size >= 16)
    assert(Partitioned.dataFiles(spark, dst).size <= 3) // one file per key directory
    val a = Partitioned.scan(spark, frag).collect().map(_.toString).sorted
    val b = Partitioned.scan(spark, dst).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  /** A fresh layout of `k` directories `a`..`d` holding ids 0 until 40
    * (`id % 4` picks the directory), several files each.
    */
  private def fourDirs(): String = {
    import spark.implicits._
    val path = Scratch.sub(s"replace_${java.util.UUID.randomUUID()}")
    (0L until 40L).map(i => (i, Seq("a", "b", "c", "d")((i % 4).toInt)))
      .toDF("id", "k").repartition(3)
      .write.mode("overwrite").partitionBy("k").parquet(path)
    path
  }

  /** Name and length of every data file under `dir`. */
  private def filesOf(dir: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Partitioned.dataFiles(spark, dir).map { f =>
      f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen
    }.toMap
  }

  private def rowsOf(path: String): Set[(Long, String)] =
    spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getAs[String]("k"))).toSet

  test("replacePartitions rewrites the directories its survivors read; drained ones vanish") {
    val path = fourDirs()
    val untouched = filesOf(s"$path/k=c") ++ filesOf(s"$path/k=d")
    // erase every `b` row and the even `a` rows, reading the very
    // directories being replaced
    val kept = spark.read.parquet(path)
      .filter(col("k").isin("a", "b"))
      .filter(col("k") === "a" && col("id") % 8 =!= 0)
    val n = Partitioned.replacePartitions(spark, path, Seq("k=a", "k=b"), kept, "k")
    val expected = (0L until 40L).map(i => (i, Seq("a", "b", "c", "d")((i % 4).toInt)))
      .filter { case (i, k) => k == "c" || k == "d" || (k == "a" && i % 8 != 0) }.toSet
    assert(rowsOf(path) == expected)
    assert(n == 5L, s"survivor count $n")
    assert(!new java.io.File(s"$path/k=b").exists(), "drained directory left behind")
    assert(filesOf(s"$path/k=c") ++ filesOf(s"$path/k=d") == untouched,
      "an untouched directory was rewritten")
    // nothing survives: the directories go and nothing is appended
    val none = spark.read.parquet(path).filter(col("k") === "a").filter(lit(false))
    assert(Partitioned.replacePartitions(spark, path, Seq("k=a"), none, "k") == 0L)
    assert(!new java.io.File(s"$path/k=a").exists())
    assert(rowsOf(path) == expected.filter(_._2 != "a"))
  }

  test("replacePartitions pins its survivors with one count before the append's write") {
    val path = fourDirs()
    val kept = spark.read.parquet(path).filter(col("k") === "a" && col("id") > 10)
    val isWrite = jobsDuring(Partitioned.replacePartitions(spark, path, Seq("k=a"), kept, "k"))
      ._2.map(_.plan.contains("InsertIntoHadoopFsRelationCommand"))
    assert(isWrite.contains(true), "no append write ran")
    // adaptive execution runs the checkpoint's shuffle map stage as a job
    // when the checkpoint is taken; the count is then the one job that
    // fills the checkpoint. An eager checkpoint, or a Dataset count with
    // its own aggregate exchange, adds a job.
    assert(isWrite.indexOf(true) == 2, s"jobs before the write: $isWrite")
  }

  test("compactInPlace leaves one file per directory and every row") {
    import spark.implicits._
    val path = Scratch.sub(s"compact_in_place_${java.util.UUID.randomUUID()}")
    val df = (0L until 60L).map(i => (i, s"k${i % 3}")).toDF("id", "k")
    (1 to 4).foreach(_ => df.repartition(4).write.mode("append").partitionBy("k").parquet(path))
    val before = spark.read.parquet(path).collect().map(_.toString).sorted
    assert(Partitioned.dataFiles(spark, path).size >= 12)
    Partitioned.compactInPlace(spark, path, spark.read.parquet(path), "k")
    val files = Partitioned.dataFiles(spark, path)
    assert(files.size == 3, s"files after compaction: $files")
    assert(Seq("k0", "k1", "k2").forall(k => files.count(_.contains(s"/k=$k/")) == 1))
    assert(spark.read.parquet(path).collect().map(_.toString).sorted.sameElements(before))
    // an empty or absent directory is left alone and the frame never built
    Partitioned.compactInPlace(spark, s"$path-absent", sys.error("frame built"), "k")
  }

  test("compactInPlace refuses a frame that loses a row, naming the directory") {
    import spark.implicits._
    val path = Scratch.sub(s"compact_lossy_${java.util.UUID.randomUUID()}")
    (0L until 30L).map(i => (i, s"k${i % 3}")).toDF("id", "k")
      .write.mode("overwrite").partitionBy("k").parquet(path)
    val e = intercept[IllegalArgumentException] {
      Partitioned.compactInPlace(spark, path,
        spark.read.parquet(path).filter(col("id") =!= 7L), "k")
    }
    assert(e.getMessage.contains(path) && e.getMessage.contains("30 -> 29"), e.getMessage)
  }

  test("Upsert.mergeInto: update, insert, cross-partition move; drained dirs vanish; idempotent") {
    import spark.implicits._
    import graft.sources.Upsert
    val path = Scratch.sub(s"upsert_${java.util.UUID.randomUUID()}")
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "c", 40.0), (5L, "e", 50.0))
      .toDF("k", "part", "v")
      .write.mode("overwrite").partitionBy("part").parquet(path)
    def fileSet(p: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val untouchedBefore = fileSet(s"$path/part=e")
    // 2 updates in place, 3 MOVES b -> c (b drains to empty), 9 inserts
    val batch = Seq((2L, "a", 21.0), (3L, "c", 31.0), (9L, "d", 90.0))
      .toDF("k", "part", "v")
    val (u1, i1) = Upsert.mergeInto(spark, path, batch, "k", "part")
    assert((u1, i1) == (2L, 1L), s"got ($u1, $i1)")
    val rows = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getAs[String]("part"))).toSet
    assert(rows == Set((1L, 10.0, "a"), (2L, 21.0, "a"), (3L, 31.0, "c"),
      (4L, 40.0, "c"), (5L, 50.0, "e"), (9L, 90.0, "d")),
      s"merged table wrong: $rows")
    // the drained partition is GONE, not a stale-file husk
    assert(!new java.io.File(s"$path/part=b").exists(),
      "moved-out partition left stale files")
    // the untouched partition is byte-identical
    assert(fileSet(s"$path/part=e") == untouchedBefore)
    // idempotence: same batch again — all three now update, nothing inserts
    val (u2, i2) = Upsert.mergeInto(spark, path, batch, "k", "part")
    assert((u2, i2) == (3L, 0L), s"got ($u2, $i2)")
    val rows2 = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getAs[String]("part"))).toSet
    assert(rows2 == rows, "re-merge changed the table")
  }

  test("Upsert.mergeInto: escaped partition values, null base partition, null target rejected") {
    import spark.implicits._
    import graft.sources.Upsert
    val path = Scratch.sub(s"upsert_esc_${java.util.UUID.randomUUID()}")
    // 'a:b' needs URL-escaping in the directory name; key 3 lives in the
    // NULL partition (__HIVE_DEFAULT_PARTITION__)
    Seq((1L, Some("a:b"), 10.0), (2L, Some("a:b"), 20.0),
      (3L, None: Option[String], 30.0), (4L, Some("c"), 40.0))
      .toDF("k", "part", "v")
      .write.mode("overwrite").partitionBy("part").parquet(path)
    // update 1 in-place inside the escaped partition, MOVE 3 out of the
    // null partition (which drains), insert 9
    val batch = Seq((1L, "a:b", 11.0), (3L, "c", 31.0), (9L, "c", 90.0))
      .toDF("k", "part", "v")
    val (u, i) = Upsert.mergeInto(spark, path, batch, "k", "part")
    assert((u, i) == (2L, 1L), s"got ($u, $i)")
    val rows = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getAs[String]("part")))).toSet
    assert(rows == Set((1L, 11.0, Some("a:b")), (2L, 20.0, Some("a:b")),
      (3L, 31.0, Some("c")), (4L, 40.0, Some("c")), (9L, 90.0, Some("c"))),
      s"merged table wrong: $rows")
    // the escaped dir was replaced in place (no duplicate row 1) and the
    // drained null-partition dir is gone
    assert(!new java.io.File(s"$path/part=__HIVE_DEFAULT_PARTITION__").exists(),
      "drained null partition left stale files")
    // null target partition values are rejected loudly
    val bad = Seq((7L, None: Option[String], 70.0)).toDF("k", "part", "v")
    intercept[IllegalArgumentException] {
      Upsert.mergeInto(spark, path, bad, "k", "part")
    }
  }
}

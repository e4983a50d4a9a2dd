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
    assert(Partitioned.fileCount(frag) >= 16)
    assert(Partitioned.fileCount(dst) <= 3) // one file per key directory
    val a = Partitioned.scan(spark, frag).collect().map(_.toString).sorted
    val b = Partitioned.scan(spark, dst).collect().map(_.toString).sorted
    assert(a.sameElements(b))
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

package graft

import org.apache.spark.sql.functions._

import graft.sources.Snapshots

/** Commit-log snapshot table: version isolation, structural sharing,
  * erasure confinement, roll-forward restore, manifest-last atomicity.
  */
class SnapshotsSpec extends SparkSpec {

  private def freshPath(tag: String): String = {
    val p = s"${Scratch.sub("snap-test")}/$tag-${java.util.UUID.randomUUID()}"
    Snapshots.drop(spark, p)
    p
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("append/read: versions are isolated and stable under later commits") {
    import spark.implicits._
    val path = freshPath("iso")
    val v1 = Snapshots.append((0L until 10L).toDF("id"), path)
    val v2 = Snapshots.append((10L until 15L).toDF("id"), path)
    assert((v1, v2) == ((1, 2)))
    assert(ids(Snapshots.read(spark, path, Some(1))) == (0L until 10L).toSet)
    assert(ids(Snapshots.read(spark, path)) == (0L until 15L).toSet)
    // an append rewrites NOTHING: v2's manifest is v1's plus new files
    val f1 = Snapshots.activeFiles(spark, path, 1).toSet
    val f2 = Snapshots.activeFiles(spark, path, 2).toSet
    assert(f1.subsetOf(f2), "append must carry all prior files by reference")
    // v1 read again AFTER v2: byte-stable
    assert(ids(Snapshots.read(spark, path, Some(1))) == (0L until 10L).toSet)
  }

  test("deleteWhere rewrites only touched files; untouched files byte-identical") {
    import spark.implicits._
    val path = freshPath("del")
    // bucket by id % 4 so the id%4==0 erasure touches a strict subset
    Snapshots.append(
      (0L until 40L).toDF("id").repartition(4, pmod(col("id"), lit(4))), path)
    val before = Snapshots.activeFiles(spark, path, 1)
    def mtimes(rels: Seq[String]): Map[String, Long] =
      rels.map(r => r -> new java.io.File(s"$path/$r").lastModified()).toMap
    val mt = mtimes(before)
    val v2 = Snapshots.deleteWhere(spark, path, col("id") % 4 === 0)
    val after = Snapshots.activeFiles(spark, path, v2)
    val carried = after.toSet & before.toSet
    assert(carried.nonEmpty, "erasure rewrote everything")
    assert(carried.forall(r => mt(r) ==
      new java.io.File(s"$path/$r").lastModified()),
      "carried file was modified in place")
    assert(ids(Snapshots.read(spark, path)) ==
      (0L until 40L).filter(_ % 4 != 0).toSet)
    // old version still reads the erased rows (history is immutable)
    assert(ids(Snapshots.read(spark, path, Some(1))) == (0L until 40L).toSet)
    // a no-match delete commits an identical version
    val v3 = Snapshots.deleteWhere(spark, path, col("id") === -1L)
    assert(Snapshots.activeFiles(spark, path, v3) == after)
  }

  test("rollback is roll-forward restore: new version, old history intact") {
    import spark.implicits._
    val path = freshPath("rb")
    Snapshots.append((0L until 5L).toDF("id"), path)
    Snapshots.append((5L until 9L).toDF("id"), path)
    val v3 = Snapshots.rollback(spark, path, 1)
    assert(v3 == 3)
    assert(ids(Snapshots.read(spark, path)) == (0L until 5L).toSet)
    assert(Snapshots.activeFiles(spark, path, 3) ==
      Snapshots.activeFiles(spark, path, 1))
    // the rolled-back-from state is still readable
    assert(ids(Snapshots.read(spark, path, Some(2))) == (0L until 9L).toSet)
    assert(Snapshots.versions(spark, path) == Seq(1, 2, 3))
  }

  test("vacuum keeps referenced files alive across restores, sweeps the rest") {
    import spark.implicits._
    val path = freshPath("vac")
    Snapshots.append(
      (0L until 20L).toDF("id").repartition(4, pmod(col("id"), lit(4))), path)
    Snapshots.append((20L until 25L).toDF("id"), path)
    Snapshots.deleteWhere(spark, path, col("id") % 4 === 0) // v3
    Snapshots.rollback(spark, path, 1)                      // v4 = v1's files
    // an orphan from a crashed commit, swept as unreferenced
    (900L until 905L).toDF("id").write.parquet(s"$path/data/c9_orphan")
    val (dropped, removed) = Snapshots.vacuum(spark, path, keepLast = 2)
    assert(dropped == 2, s"dropped $dropped manifests")
    assert(removed >= 1, "nothing swept")
    assert(Snapshots.versions(spark, path) == Seq(3, 4))
    // v4 restored v1, so v1's files survive vacuum through v4's manifest
    assert(ids(Snapshots.read(spark, path, Some(4))) == (0L until 20L).toSet)
    assert(ids(Snapshots.read(spark, path, Some(3))) ==
      (0L until 25L).filter(_ % 4 != 0).toSet)
    // dropped manifests are gone
    intercept[IllegalArgumentException] {
      Snapshots.activeFiles(spark, path, 1)
    }
    // the orphan directory was swept
    assert(!new java.io.File(s"$path/data/c9_orphan").exists())
  }

  test("compact (OPTIMIZE) collapses files; history and data are untouched") {
    import spark.implicits._
    val path = freshPath("opt")
    // simulate a streaming ingest: three small commits
    Snapshots.append((0L until 10L).toDF("id").repartition(3), path)
    Snapshots.append((10L until 20L).toDF("id").repartition(3), path)
    Snapshots.append((20L until 30L).toDF("id").repartition(3), path)
    val before = Snapshots.activeFiles(spark, path, 3)
    val v4 = Snapshots.compact(spark, path, targetFiles = 1)
    val after = Snapshots.activeFiles(spark, path, v4)
    assert(after.length < before.length,
      s"OPTIMIZE must shrink the manifest: ${before.length} -> ${after.length}")
    // data identical, history stable, old files shared nowhere forward
    assert(ids(Snapshots.read(spark, path, Some(v4))) == (0L until 30L).toSet)
    assert(ids(Snapshots.read(spark, path, Some(2))) == (0L until 20L).toSet)
    assert((after.toSet & before.toSet).isEmpty,
      "the compacted commit must not re-list superseded files")
    // vacuum under retention 1 sweeps every superseded data file
    val (_, removed) = Snapshots.vacuum(spark, path, keepLast = 1)
    assert(removed >= before.length, s"vacuum swept only $removed files")
    assert(ids(Snapshots.read(spark, path)) == (0L until 30L).toSet)
  }

  test("zone-map data skipping: range reads open only overlapping files") {
    import spark.implicits._
    val path = freshPath("skip")
    // range-clustered layout: 8 files with disjoint id ranges
    Snapshots.append(
      spark.range(0, 800).toDF("id").repartitionByRange(8, col("id")), path)
    val (kept, total) = Snapshots.skippingFileCounts(
      spark, path, "id", BigDecimal(100), BigDecimal(150))
    assert(total == 8 && kept < total, s"no pruning: $kept/$total")
    val got = Snapshots.readRange(
      spark, path, "id", BigDecimal(100), BigDecimal(150))
    assert(ids(got) == (100L to 150L).toSet)
    // a second commit's files (all out of range) are all skipped
    Snapshots.append(
      spark.range(800, 1600).toDF("id").repartitionByRange(8, col("id")), path)
    val (k2, t2) = Snapshots.skippingFileCounts(
      spark, path, "id", BigDecimal(100), BigDecimal(150))
    assert(t2 == 16 && k2 == kept, s"append broke skipping: $k2/$t2 vs $kept")
    assert(ids(Snapshots.readRange(
      spark, path, "id", BigDecimal(100), BigDecimal(150))) ==
      (100L to 150L).toSet)
    // a range beyond every zone map reads zero files, returns empty
    val (k3, _) = Snapshots.skippingFileCounts(
      spark, path, "id", BigDecimal(5000), BigDecimal(6000))
    assert(k3 == 0)
    assert(Snapshots.readRange(
      spark, path, "id", BigDecimal(5000), BigDecimal(6000)).isEmpty)
  }

  test("appendClustered + readPoints: disjoint zones, point lookups touch <= k files") {
    import spark.implicits._
    val path = freshPath("points")
    Snapshots.appendClustered(
      (0L until 640L).toDF("id"), path, "id", nFiles = 8)
    Snapshots.appendClustered(
      (640L until 1280L).toDF("id"), path, "id", nFiles = 8)
    // a 2-key lookup on the clustered layout opens at most 2 files
    val hits = Seq(BigDecimal(5), BigDecimal(1200))
    val got = Snapshots.readPoints(spark, path, "id", hits)
    assert(ids(got) == Set(5L, 1200L))
    // prune accounting: zones are disjoint, so each key matches one file
    val all = Snapshots.activeFiles(spark, path, 2)
    val (kept, total) = Snapshots.skippingFileCounts(
      spark, path, "id", BigDecimal(5), BigDecimal(5))
    assert(total == all.length && kept == 1,
      s"single-point range kept $kept of $total files")
    // a key beyond every zone reads nothing
    assert(Snapshots.readPoints(
      spark, path, "id", Seq(BigDecimal(999999))).isEmpty)
  }

  test("appendIdempotent: replayed batchIds are no-ops; apps keep separate watermarks") {
    import spark.implicits._
    val path = freshPath("txn")
    def batch(r: Range) = r.map(_.toLong).toDF("id")
    assert(Snapshots.appendIdempotent(batch(0 until 5), path, "a", 0L) == Some(1))
    assert(Snapshots.appendIdempotent(batch(5 until 8), path, "a", 1L) == Some(2))
    // checkpoint-recovery replay: same app, same batchId → no-op
    assert(Snapshots.appendIdempotent(batch(5 until 8), path, "a", 1L).isEmpty)
    // stale batchId (below the watermark) → no-op too
    assert(Snapshots.appendIdempotent(batch(90 until 95), path, "a", 0L).isEmpty)
    assert(ids(Snapshots.read(spark, path)) == (0L until 8L).toSet)
    // a different app has its own watermark
    assert(Snapshots.appendIdempotent(batch(8 until 10), path, "b", 0L) == Some(3))
    assert(ids(Snapshots.read(spark, path)) == (0L until 10L).toSet)
    assert(Snapshots.lastBatchId(spark, path, "a") == Some(1L))
    assert(Snapshots.lastBatchId(spark, path, "b") == Some(0L))
  }

  test("exactly-once snapshot sink survives a checkpoint reset that replays a batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = freshPath("restart")
    val mem = MemoryStream[Long]
    def start() = mem.toDF().toDF("id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
        Snapshots.appendIdempotent(b, path, "es", batchId)
        (): Unit
      }
      .option("checkpointLocation",
        s"${Scratch.sub("snap-test")}/ckpt-${java.util.UUID.randomUUID()}")
      .start()
    val q1 = start()
    try { mem.addData(0L until 10L: _*); q1.processAllAvailable() }
    finally q1.stop()
    assert(Snapshots.latestVersion(spark, path) == 1)
    // checkpoint RESET (the documented scenario for txn-id idempotence:
    // the engine's progress is lost, the sink's watermark is not) — the
    // fresh incarnation re-delivers the already-committed rows under the
    // SAME batchId 0, which must be a no-op, while genuinely new data
    // still commits
    val q2 = start() // fresh checkpoint dir
    try {
      q2.processAllAvailable() // replays batch 0 -> no-op
      mem.addData(10L until 15L: _*)
      q2.processAllAvailable() // batch 1 -> commits
    } finally q2.stop()
    assert(Snapshots.latestVersion(spark, path) == 2,
      "replayed batch double-committed")
    assert(ids(Snapshots.read(spark, path)) == (0L until 15L).toSet)
  }

  test("schema evolution: widening append, version-pinned reads, restore rolls back") {
    import spark.implicits._
    val path = freshPath("evolve")
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), path)
    // widening append: a new nullable column joins the table schema
    Snapshots.append(Seq((3L, "c", "en")).toDF("id", "tag", "lang"), path)
    // time travel is schema-pinned: v1 never grew the column
    assert(Snapshots.read(spark, path, Some(1)).schema.fieldNames.toSeq ==
      Seq("id", "tag"))
    val v2 = Snapshots.read(spark, path, Some(2))
    assert(v2.schema.fieldNames.toSeq == Seq("id", "tag", "lang"))
    // pre-evolution rows read the new column as null
    assert(v2.filter(col("lang").isNull).count() == 2)
    assert(v2.filter(col("lang") === "en").count() == 1)
    // a type conflict fails loudly BEFORE anything is written
    val e = intercept[IllegalArgumentException] {
      Snapshots.append(Seq((4L, 9)).toDF("id", "tag"), path)
    }
    assert(e.getMessage.contains("type conflict"))
    assert(Snapshots.latestVersion(spark, path) == 2, "failed append committed")
    // restore republishes the restored version's schema (Delta RESTORE)
    val v3 = Snapshots.rollback(spark, path, 1)
    assert(Snapshots.read(spark, path, Some(v3)).schema.fieldNames.toSeq ==
      Seq("id", "tag"))
  }

  test("deleteWhere on a post-evolution column reads old files under the pinned schema") {
    import spark.implicits._
    val path = freshPath("evdel")
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), path)
    Snapshots.append(Seq((3L, "c", "en"), (4L, "d", "de"))
      .toDF("id", "tag", "lang"), path)
    // predicate on the NEW column: pre-evolution rows read lang as null
    // (never matched — they survive), post-evolution 'en' rows go
    Snapshots.deleteWhere(spark, path, col("lang") === "en")
    val left = Snapshots.read(spark, path)
    assert(ids(left) == Set(1L, 2L, 4L))
    assert(left.schema.fieldNames.toSeq == Seq("id", "tag", "lang"))
  }

  test("changes: file-pruned CDC with survivor cancellation, both directions") {
    import spark.implicits._
    val path = freshPath("cdc")
    Snapshots.append(
      (0L until 20L).toDF("id").repartition(4, pmod(col("id"), lit(4))), path)
    Snapshots.append((20L until 25L).toDF("id"), path)          // v2
    Snapshots.deleteWhere(spark, path, col("id") % 4 === 0)      // v3
    def feed(from: Int, to: Int): Map[Long, Int] =
      Snapshots.changes(spark, path, from, to)
        .groupBy(col("id")).agg(sum(col("__op")).cast("int").as("net"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // append interval: pure inserts, exactly the appended rows
    assert(feed(1, 2) == (20L until 25L).map(_ -> 1).toMap)
    // erasure interval: pure retractions, exactly the erased rows —
    // survivors the rewrite moved between files MUST cancel
    assert(feed(2, 3) ==
      (0L until 25L).filter(_ % 4 == 0).map(_ -> -1).toMap)
    // reverse direction = the inverse feed (a rollback's changelog)
    assert(feed(3, 2) ==
      (0L until 25L).filter(_ % 4 == 0).map(_ -> 1).toMap)
    // identical versions: empty feed
    assert(Snapshots.changes(spark, path, 2, 2).isEmpty)
    // v1 -> v3 composes: net = appends minus erasures
    val net13 = feed(1, 3)
    val expect = ((20L until 25L).filter(_ % 4 != 0).map(_ -> 1) ++
      (0L until 20L).filter(_ % 4 == 0).map(_ -> -1)).toMap ++
      (20L until 25L).filter(_ % 4 == 0).map(_ -> 0).toMap
    assert(net13 == expect.filter(_._2 != 0),
      s"$net13 vs ${expect.filter(_._2 != 0)}")
  }

  test("deleteWhere under three-valued logic: NULL-evaluating rows survive") {
    import spark.implicits._
    val path = freshPath("tvl")
    // tag is nullable; the predicate `tag = 'drop'` evaluates NULL for
    // null tags — those rows never MATCHED the delete, so they survive
    Snapshots.append(Seq(
      (1L, "drop"), (2L, "keep"), (3L, null), (4L, "drop"), (5L, null)
    ).toDF("id", "tag"), path)
    Snapshots.deleteWhere(spark, path, col("tag") === "drop")
    assert(ids(Snapshots.read(spark, path)) == Set(2L, 3L, 5L),
      "rows where the predicate is NULL must be kept (Delta DELETE contract)")
  }

  test("read of a legitimately empty version returns an empty frame of the table schema") {
    import spark.implicits._
    val path = freshPath("empty")
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), path)
    val v2 = Snapshots.deleteWhere(spark, path, lit(true)) // erase everything
    val empty = Snapshots.read(spark, path, Some(v2))
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "tag"))
    // rollback to the empty version is also readable
    val v3 = Snapshots.rollback(spark, path, v2)
    assert(Snapshots.read(spark, path, Some(v3)).count() == 0)
    // and the table recovers: a later append reads normally again
    Snapshots.append(Seq((9L, "z")).toDF("id", "tag"), path)
    assert(ids(Snapshots.read(spark, path)) == Set(9L))
  }

  test("versionStats equals one agg().head() per version, widening and empty versions included") {
    import spark.implicits._
    val path = freshPath("vstats")
    Snapshots.append(Seq((1L, "a"), (2L, "b"), (5L, "c")).toDF("id", "tag"), path)
    Snapshots.append(Seq((3L, "c", "en"), (4L, "d", null)).toDF("id", "tag", "lang"), path)
    Snapshots.deleteWhere(spark, path, lit(true)) // v3: empty, widened schema
    def aggs(df: org.apache.spark.sql.DataFrame) = Seq(
      count(lit(1)), sum(col("id")),
      (if (df.columns.contains("lang")) count(col("lang")) else lit(0L)).cast("long"),
      max(col("tag")))
    val versions = Seq(1, 2, 3)
    val oneAction = Snapshots.versionStats(spark, path, versions)(aggs)
    assert(oneAction.columns.head == "version")
    val got = oneAction.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val perVersion = versions.map { v =>
      val df = Snapshots.read(spark, path, Some(v))
      val a = aggs(df)
      v.toLong +: df.agg(a.head, a.tail: _*).head().toSeq
    }
    assert(got == perVersion)
    assert(got.map(_.take(3)) == Seq(Seq(1L, 3L, 8L), Seq(2L, 5L, 15L), Seq(3L, 0L, null)))
  }

  test("zone maps tolerate non-finite values: commit succeeds, column never prunes") {
    import spark.implicits._
    val path = freshPath("nanstats")
    // a double column carrying NaN and ±Infinity — parquet's total-order
    // comparator can fold these into min/max (or drop the stats); either
    // way the commit must succeed and the column must simply not
    // participate in skipping (absent zone map = never prune, the safe
    // direction — Delta nulls stats for non-finite values too)
    val v1 = Snapshots.append(Seq(
      (1L, 1.0), (2L, Double.NaN), (3L, Double.PositiveInfinity),
      (4L, Double.NegativeInfinity), (5L, 2.5)
    ).toDF("id", "x").coalesce(1), path)
    assert(v1 == 1)
    // range read on the non-finite column: never pruned, still exact
    assert(ids(Snapshots.readRange(
      spark, path, "x", BigDecimal(0), BigDecimal(3))) == Set(1L, 5L))
    val (kept, total) = Snapshots.skippingFileCounts(
      spark, path, "x", BigDecimal(1000), BigDecimal(2000))
    assert(kept == total,
      "a column with non-finite values must never prune a file")
    // the finite id column in the SAME commit still prunes normally
    val (k2, t2) = Snapshots.skippingFileCounts(
      spark, path, "id", BigDecimal(1000), BigDecimal(2000))
    assert(t2 == total && k2 == 0,
      s"finite sibling column lost its zone map: kept $k2 of $t2")
  }

  test("changes works on legacy tables without recorded schemas") {
    import spark.implicits._
    val path = freshPath("legacycdc")
    Snapshots.append((0L until 6L).toDF("id"), path)
    Snapshots.append((6L until 9L).toDF("id"), path)
    // strip the schema sidecars — a pre-schema (legacy) table
    Snapshots.versions(spark, path).foreach { v =>
      new java.io.File(s"$path/_log/v=$v/_schema.json").delete()
    }
    val net = Snapshots.changes(spark, path, 1, 2)
      .groupBy(col("id")).agg(sum(col("__op")).cast("int").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(net == (6L until 9L).map(_ -> 1).toMap,
      "CDC must stay usable when no _schema.json was ever recorded")
    // identical versions still produce a TYPED empty feed (schema
    // borrowed from the version's own files)
    val same = Snapshots.changes(spark, path, 2, 2)
    assert(same.isEmpty && same.schema.fieldNames.contains("id"))
  }

  test("deleteWhereDV erases without rewriting a single data file") {
    import spark.implicits._
    val path = freshPath("dv")
    Snapshots.append(
      (0L until 40L).toDF("id").repartition(4, pmod(col("id"), lit(4))), path)
    val f1 = Snapshots.activeFiles(spark, path, 1)
    def mtimes(rels: Seq[String]): Map[String, Long] =
      rels.map(r => r -> new java.io.File(s"$path/$r").lastModified()).toMap
    val mt = mtimes(f1)
    val v2 = Snapshots.deleteWhereDV(spark, path, col("id") % 4 === 0)
    // ZERO rewrite: the manifest is file-for-file identical and no data
    // file was touched — the erasure is one tiny positional sidecar
    assert(Snapshots.activeFiles(spark, path, v2) == f1,
      "DV erasure must not change the data-file manifest")
    assert(f1.forall(r => mt(r) ==
      new java.io.File(s"$path/$r").lastModified()),
      "DV erasure modified a data file")
    assert(Snapshots.activeDvFiles(spark, path, v2).length == 1)
    // reads subtract the DV; history is version-isolated
    assert(ids(Snapshots.read(spark, path)) ==
      (0L until 40L).filter(_ % 4 != 0).toSet)
    assert(ids(Snapshots.read(spark, path, Some(1))) == (0L until 40L).toSet)
    // range / point reads subtract it too
    assert(ids(Snapshots.readRange(
      spark, path, "id", BigDecimal(0), BigDecimal(10))) ==
      (0L to 10L).filter(_ % 4 != 0).toSet)
    assert(Snapshots.readPoints(
      spark, path, "id", Seq(BigDecimal(8))).isEmpty)
    // stacked DV delete: already-dead rows never re-match, so the
    // sidecars stay disjoint (total entries = distinct dead positions)
    val v3 = Snapshots.deleteWhereDV(spark, path, col("id") % 3 === 0)
    assert(Snapshots.activeDvFiles(spark, path, v3).length == 2)
    val dvRows = spark.read.parquet(
      Snapshots.activeDvFiles(spark, path, v3).map(r => s"$path/$r"): _*)
    assert(dvRows.count() == dvRows.distinct().count())
    assert(dvRows.count() ==
      (0L until 40L).count(x => x % 4 == 0 || x % 3 == 0))
    assert(ids(Snapshots.read(spark, path)) ==
      (0L until 40L).filter(x => x % 4 != 0 && x % 3 != 0).toSet)
    // a no-match DV delete commits an identical version
    val v4 = Snapshots.deleteWhereDV(spark, path, col("id") === -1L)
    assert(Snapshots.activeFiles(spark, path, v4) == f1)
    assert(Snapshots.activeDvFiles(spark, path, v4) ==
      Snapshots.activeDvFiles(spark, path, v3))
    // an append after DV erasures keeps dead rows dead
    Snapshots.append((100L until 103L).toDF("id"), path)
    assert(ids(Snapshots.read(spark, path)) ==
      ((0L until 40L).filter(x => x % 4 != 0 && x % 3 != 0) ++
        (100L until 103L)).toSet)
  }

  test("DV read plans a broadcast anti-join, never a shuffle of the corpus side") {
    import spark.implicits._
    val path = freshPath("dvplan")
    Snapshots.append(
      (0L until 200L).toDF("id").repartition(4, pmod(col("id"), lit(4))), path)
    Snapshots.deleteWhereDV(spark, path, col("id") % 50 === 0)
    val df = Snapshots.read(spark, path)
    df.queryExecution.toRdd.count() // execute so AQE finalizes
    val plan = (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    assert(plan.contains("LeftAnti"), s"no anti-join in the DV read:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the KB-scale DV side must broadcast, not shuffle the corpus:\n$plan")
  }

  test("compact materializes deletion vectors; rollback resurrects; CDC spans DVs") {
    import spark.implicits._
    val path = freshPath("dvlife")
    Snapshots.append(
      (0L until 30L).toDF("id").repartition(3, pmod(col("id"), lit(3))), path)
    Snapshots.deleteWhereDV(spark, path, col("id") % 5 === 0) // v2
    // CDC across a DV erasure: pure retractions, exactly the erased keys,
    // read at position level (never a table scan)
    def feed(from: Int, to: Int): Map[Long, Int] =
      Snapshots.changes(spark, path, from, to)
        .groupBy(col("id")).agg(sum(col("__op")).cast("int").as("net"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(feed(1, 2) == (0L until 30L).filter(_ % 5 == 0).map(_ -> -1).toMap)
    // rollback past the DV erasure resurrects the rows (the feed inverts)
    val v3 = Snapshots.rollback(spark, path, 1)
    assert(Snapshots.activeDvFiles(spark, path, v3).isEmpty)
    assert(ids(Snapshots.read(spark, path)) == (0L until 30L).toSet)
    assert(feed(2, 3) == (0L until 30L).filter(_ % 5 == 0).map(_ -> 1).toMap)
    // re-erase, then OPTIMIZE: the compacted version reads identically,
    // carries no DVs, and vacuum can sweep the superseded sidecar
    Snapshots.deleteWhereDV(spark, path, col("id") % 5 === 0) // v4
    val v5 = Snapshots.compact(spark, path, targetFiles = 1)
    assert(Snapshots.activeDvFiles(spark, path, v5).isEmpty,
      "compaction must materialize deletion vectors away")
    assert(ids(Snapshots.read(spark, path, Some(v5))) ==
      (0L until 30L).filter(_ % 5 != 0).toSet)
    assert(feed(4, 5).isEmpty, "compaction changed the row multiset")
    // retention: keeping v4+v5 keeps v4's sidecar alive; read still exact
    Snapshots.vacuum(spark, path, keepLast = 2)
    assert(ids(Snapshots.read(spark, path, Some(4))) ==
      (0L until 30L).filter(_ % 5 != 0).toSet)
    // a rewriting deleteWhere after a DV erasure must not resurrect
    val path2 = freshPath("dvrw")
    Snapshots.append(
      (0L until 20L).toDF("id").repartition(2, pmod(col("id"), lit(2))), path2)
    Snapshots.deleteWhereDV(spark, path2, col("id") === 6L)
    Snapshots.deleteWhere(spark, path2, col("id") % 2 === 0)
    assert(ids(Snapshots.read(spark, path2)) ==
      (0L until 20L).filter(_ % 2 != 0).toSet)
    // and the DV'd row stays dead in history reads of the rewrite too
    assert(!ids(Snapshots.read(spark, path2, Some(2))).contains(6L))
  }

  test("bloom point-lookup index: per-file filters prune on string keys") {
    import spark.implicits._
    val path = freshPath("bloom")
    def key(i: Long) = s"key_${i}_${"%08x".format(i * 2654435761L)}"
    // hash-distributed layout: zone maps can't prune string digests —
    // this is exactly the lookup shape the bloom index exists for
    Snapshots.append(
      (0L until 400L).map(i => (i, key(i))).toDF("id", "key")
        .repartition(8, col("id")), path)
    val n = Snapshots.indexBloom(
      spark, path, "key", expectedPerFile = 1000L, fpp = 0.01)
    assert(n == Snapshots.activeFiles(spark, path, 1).length)
    val probes = Seq(5L, 200L).map(key)
    val (kept, total) = Snapshots.bloomFileCounts(spark, path, "key", probes)
    assert(kept < total, s"bloom pruned nothing: $kept/$total")
    assert(ids(Snapshots.readPointsBloom(spark, path, "key", probes)) ==
      Set(5L, 200L))
    // an unindexed later append is never pruned blind: its rows are found
    Snapshots.append(
      (400L until 410L).map(i => (i, s"fresh_$i")).toDF("id", "key")
        .coalesce(1), path)
    assert(ids(Snapshots.readPointsBloom(
      spark, path, "key", Seq("fresh_405"))) == Set(405L))
    // a key absent everywhere opens only the blind (unindexed) file
    val (k0, t0) = Snapshots.bloomFileCounts(
      spark, path, "key", Seq("absent_key"))
    assert(k0 == 1 && t0 == total + 1,
      s"absent key kept $k0 of $t0 files (expected just the unindexed one)")
    // a DV-dead row stays dead through the bloom read path
    Snapshots.deleteWhereDV(spark, path, col("id") === 5L)
    assert(ids(Snapshots.readPointsBloom(spark, path, "key", probes)) ==
      Set(200L))
  }

  test("merge: single-commit upsert replaces, inserts, rewrites only touched files") {
    import spark.implicits._
    val path = freshPath("merge")
    Snapshots.append(
      (0L until 40L).map(i => (i, "base")).toDF("id", "tag")
        .repartition(4, pmod(col("id"), lit(4))), path)
    val f1 = Snapshots.activeFiles(spark, path, 1)
    def mtimes(rels: Seq[String]): Map[String, Long] =
      rels.map(r => r -> new java.io.File(s"$path/$r").lastModified()).toMap
    val mt = mtimes(f1)
    // updates hit only the id%4==0 bucket; inserts are fresh keys
    val src = Seq((0L, "upd"), (4L, "upd"), (100L, "new"), (101L, "new"))
      .toDF("id", "tag")
    val v2 = Snapshots.merge(spark, path, src, Seq("id"))
    assert(v2 == 2, "merge must publish exactly ONE new version")
    val got = Snapshots.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 42)
    assert(got(0L) == "upd" && got(4L) == "upd" && got(100L) == "new")
    assert(got(1L) == "base" && got(8L) == "base")
    // O(touched): untouched bucket files carried by reference, unmodified
    val carried = Snapshots.activeFiles(spark, path, 2).toSet & f1.toSet
    assert(carried.nonEmpty, "merge rewrote every file")
    assert(carried.forall(r => mt(r) ==
      new java.io.File(s"$path/$r").lastModified()))
    // idempotent: re-applying the same batch changes nothing
    Snapshots.merge(spark, path, src, Seq("id"))
    val again = Snapshots.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == got)
    // duplicate source keys fail loudly (SQL MERGE multiple-matches)
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, path,
        Seq((7L, "a"), (7L, "b")).toDF("id", "tag"), Seq("id"))
    }
    // DV interplay: a DV-dead row neither resurrects nor blocks a
    // re-insert of its key through merge
    Snapshots.deleteWhereDV(spark, path, col("id") === 8L)
    Snapshots.merge(spark, path, Seq((8L, "back")).toDF("id", "tag"), Seq("id"))
    val fin = Snapshots.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin(8L) == "back" && fin.size == 42)
  }

  test("compactClustered re-clusters a useless layout so skipping works again") {
    import spark.implicits._
    val path = freshPath("optz")
    // hash-bucketed appends: every file spans the whole id range, so
    // zone maps prune NOTHING — the streaming-ingest pathology
    (0 until 3).foreach { w =>
      Snapshots.append(
        (0L until 600L).filter(_ % 3 == w).map(i => (i, i % 7))
          .toDF("id", "grp").repartition(4, pmod(col("id"), lit(4))), path)
    }
    val (k0, t0) = Snapshots.skippingFileCounts(
      spark, path, "id", BigDecimal(10), BigDecimal(40))
    assert(k0 == t0, s"hash layout should not prune: $k0/$t0")
    // single-column OPTIMIZE: range reads open a strict subset after
    val v = Snapshots.compactClustered(spark, path, Seq("id"), targetFiles = 8)
    val (k1, t1) = Snapshots.skippingFileCounts(
      spark, path, "id", BigDecimal(10), BigDecimal(40))
    assert(t1 == 8 && k1 < t1, s"OPTIMIZE did not improve skipping: $k1/$t1")
    assert(ids(Snapshots.read(spark, path, Some(v))) == (0L until 600L).toSet)
    assert(ids(Snapshots.readRange(
      spark, path, "id", BigDecimal(10), BigDecimal(40))) == (10L to 40L).toSet)
    // multi-column Z-order: BOTH dimensions prune (the x129 property on
    // the commit log), rows conserved, DVs materialized away
    Snapshots.deleteWhereDV(spark, path, col("id") === 11L)
    val vz = Snapshots.compactClustered(
      spark, path, Seq("id", "grp"), targetFiles = 8)
    assert(Snapshots.activeDvFiles(spark, path, vz).isEmpty)
    val (ka, ta) = Snapshots.skippingFileCounts(
      spark, path, "id", BigDecimal(0), BigDecimal(60))
    val (kb, tb) = Snapshots.skippingFileCounts(
      spark, path, "grp", BigDecimal(0), BigDecimal(0))
    assert(ka < ta && kb < tb,
      s"z-order must prune on both dims: id $ka/$ta, grp $kb/$tb")
    assert(ids(Snapshots.read(spark, path)) ==
      (0L until 600L).toSet - 11L)
    // OPTIMIZE of a fully-erased table commits a readable empty version
    // instead of NPEing in the z-normalize pass
    val path2 = freshPath("optz0")
    Snapshots.append((0L until 5L).map(i => (i, i)).toDF("id", "grp"), path2)
    Snapshots.deleteWhere(spark, path2, lit(true))
    val ve = Snapshots.compactClustered(spark, path2, Seq("id", "grp"))
    assert(Snapshots.read(spark, path2, Some(ve)).isEmpty)
  }

  test("describeHistory records operation provenance and manifest deltas") {
    import spark.implicits._
    val path = freshPath("hist")
    Snapshots.append(
      (0L until 40L).map(i => (i, "base")).toDF("id", "tag")
        .repartition(4, pmod(col("id"), lit(4))), path)
    Snapshots.deleteWhereDV(spark, path, col("id") % 5 === 0)
    Snapshots.merge(spark, path,
      Seq((1L, "upd"), (90L, "new")).toDF("id", "tag"), Seq("id"))
    Snapshots.compact(spark, path, targetFiles = 1)
    Snapshots.rollback(spark, path, 1)
    val h = Snapshots.describeHistory(spark, path).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2) > 0, r.getLong(3) > 0,
        r.getLong(4))).toSeq
    assert(h == Seq(
      (1L, "append", true, false, 0L),
      (2L, "delete-dv", false, false, 1L),
      (3L, "merge", true, true, 1L),
      (4L, "optimize", true, true, 0L),
      (5L, "restore", true, true, 0L)), s"history was $h")
  }

  test("manifest collision fails loudly (single-writer contract)") {
    import spark.implicits._
    val path = freshPath("collide")
    Snapshots.append((0L until 3L).toDF("id"), path)
    // a racing writer is one that chose its version BEFORE a rival
    // published it: committing at the already-taken version 1 must fail
    // loudly, never fork history
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitAt(spark, path, 1, Seq.empty,
        Some((3L until 5L).toDF("id")))
    }
    assert(e.getMessage.contains("manifest collision"))
    // and the table is undamaged
    assert(ids(Snapshots.read(spark, path)) == Set(0L, 1L, 2L))
  }

  test("model check: a seeded random op sequence matches the in-memory commit log") {
    import spark.implicits._
    val path = freshPath("model")
    val rnd = new scala.util.Random(20260815L)
    // model(v-1) = the exact id multiset of version v
    val model = scala.collection.mutable.ArrayBuffer.empty[Vector[Long]]
    var nextId = 0L
    def cur: Vector[Long] = if (model.isEmpty) Vector.empty else model.last
    def doAppend(k: Int): Unit = {
      val fresh = (nextId until nextId + k).toVector
      nextId += k
      Snapshots.append(fresh.toDF("id"), path)
      model += cur ++ fresh
    }
    doAppend(5) // seed the table so every version carries a schema
    (1 to 16).foreach { _ =>
      rnd.nextInt(7) match {
        case 0 | 1 => doAppend(1 + rnd.nextInt(20))
        case 2 => // rewriting erasure of a residue class
          val m = 2 + rnd.nextInt(5)
          val r = rnd.nextInt(m)
          Snapshots.deleteWhere(spark, path, col("id") % m === r)
          model += cur.filterNot(x => x % m == r)
        case 3 => // restore a random historical version
          val v = 1 + rnd.nextInt(model.length)
          Snapshots.rollback(spark, path, v)
          model += model(v - 1)
        case 4 =>
          Snapshots.compact(spark, path)
          model += cur
        case 5 => // rewrite-FREE erasure (deletion vector)
          val m = 2 + rnd.nextInt(5)
          val r = rnd.nextInt(m)
          Snapshots.deleteWhereDV(spark, path, col("id") % m === r)
          model += cur.filterNot(x => x % m == r)
        case 6 => // single-commit upsert: touch resident keys, insert fresh
          val touch = cur.distinct.filter(_ % 4 == 1)
          val k = 1 + rnd.nextInt(10)
          val fresh = (nextId until nextId + k).toVector
          nextId += k
          Snapshots.merge(spark, path, (touch ++ fresh).toDF("id"), Seq("id"))
          model += cur ++ fresh
      }
    }
    // every version reads back exactly its model state
    model.zipWithIndex.foreach { case (want, i) =>
      val got = Snapshots.read(spark, path, Some(i + 1))
        .collect().map(_.getLong(0)).toVector.sorted
      assert(got == want.sorted,
        s"version ${i + 1}: got ${got.length} rows, want ${want.length}")
    }
    // the change feed between two random versions equals the model diff
    val i = 1 + rnd.nextInt(model.length - 1)
    val j = i + 1 + rnd.nextInt(model.length - i)
    val net = Snapshots.changes(spark, path, i, j)
      .groupBy(col("id")).agg(sum(col("__op")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .filter(_._2 != 0L).toMap
    def counts(v: Vector[Long]) =
      v.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ci = counts(model(i - 1))
    val cj = counts(model(j - 1))
    val want = (ci.keySet ++ cj.keySet).iterator
      .map(k => k -> (cj.getOrElse(k, 0L) - ci.getOrElse(k, 0L)))
      .filter(_._2 != 0L).toMap
    assert(net == want, s"changes($i,$j): ${net.size} vs ${want.size} keys")
  }

  test("manifest-last atomicity: orphaned data files are invisible and never block") {
    import spark.implicits._
    val path = freshPath("atomic")
    Snapshots.append((0L until 6L).toDF("id"), path)
    // simulate a crashed commit: data files written, manifest never
    // published (the failure window of the commit protocol)
    (100L until 110L).toDF("id").write.parquet(s"$path/data/c2_deadbeef")
    assert(Snapshots.latestVersion(spark, path) == 1)
    assert(ids(Snapshots.read(spark, path)) == (0L until 6L).toSet)
    // the retry commits cleanly (nonce'd data dir — no collision with
    // the orphan) and the orphan rows never appear in any version
    val v2 = Snapshots.append((6L until 8L).toDF("id"), path)
    assert(v2 == 2)
    assert(ids(Snapshots.read(spark, path)) == (0L until 8L).toSet)
  }
}

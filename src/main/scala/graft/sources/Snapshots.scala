package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Versioned snapshot reads over plain parquet — the commit-log device
  * of Delta/Iceberg reduced to its load-bearing core, for the one
  * question a training pipeline keeps asking: "EXACTLY which rows did
  * run N train on?" (reproducibility pins a corpus VERSION, not a
  * directory whose content drifts under later appends and erasures).
  *
  * Layout at `path`:
  *   - `data/c<N>_<nonce>/part-*.parquet` — immutable files written by
  *     commit N (a commit never rewrites another commit's files; the
  *     nonce keeps a crashed attempt's directory from colliding with
  *     the retry, so orphans never block the table);
  *   - `_log/v=<N>/` — manifest (`_files.json`): the ACTIVE data files
  *     (relative paths) of version N, a driver-written JSON array. The
  *     manifest publish IS the commit point — readers only see versions
  *     whose manifest exists, so a failed half-written commit is
  *     invisible (its orphaned data files are dead weight, never wrong
  *     results).
  *
  * Structural sharing is the scale property: version N+1's manifest
  * re-lists the files it keeps, so an append rewrites nothing and an
  * erasure rewrites ONLY the files that contain matching rows — at
  * 100 TB a GDPR delete touches the few files holding those ids (found
  * via `_metadata.file_path`, a metadata column, not a scan-side UDF),
  * while every other byte is shared with the previous version. Reads
  * are manifest-pruned: `read(path, Some(v))` opens exactly v's file
  * list, never a directory listing.
  *
  * [[rollback]] is roll-FORWARD: restoring version v writes a NEW
  * version whose manifest equals v's — history is append-only, so the
  * rolled-back-from state stays readable (the Delta RESTORE contract).
  *
  * Schema is VERSION-PINNED: every commit records its schema beside the
  * manifest, reads apply it explicitly (time travel returns the columns
  * the table had AS OF that version), an evolving append WIDENS it
  * (mergeSchema union — new columns read as null from older files, a
  * name/type conflict fails loudly before anything is written), and a
  * restore republishes the restored version's schema.
  *
  * [[versionStats]] answers a per-version statistic for many versions
  * with one frame: each version's aggregates over its own pinned schema,
  * unioned under a `version` column, so one action (or none, when the
  * frame is returned) covers every version instead of one job each.
  *
  * Each commit also records its new files' numeric column ranges (zone
  * maps from the parquet footers it just wrote, stored beside the files
  * as `_stats.json`) so [[readRange]] opens only the files a range
  * predicate can match, and [[appendIdempotent]] carries the Delta
  * txnAppId/txnVersion contract for exactly-once streaming sinks.
  * Stats are loaded per commit DIRECTORY at plan time — O(commits of
  * the queried version) driver-side reads; past ~10⁵ commit dirs the
  * upgrade path is Delta's: fold the stats into the manifest itself so
  * one manifest read prices every file (the sidecar format is private,
  * so that move is non-breaking).
  *
  * Erasure comes in two shapes: [[deleteWhere]] REWRITES the touched
  * files (survivors land in the new commit), while [[deleteWhereDV]]
  * records a positional DELETION VECTOR sidecar and rewrites nothing —
  * the Delta DV contract; reads subtract the version's DVs and
  * [[compact]] materializes them away.
  *
  * Single-writer: concurrent committers are out of scope (no
  * conditional-put primitive on plain filesystems); the driver-side
  * commit protocol is manifest-last, so crash-safety for ONE writer
  * holds. Versions are dense integers from 1.
  */
object Snapshots {

  private def logDir(path: String) = s"$path/_log"
  private def dataDir(path: String) = s"$path/data"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delete the whole table (fresh-build convenience). */
  def drop(spark: SparkSession, path: String): Unit =
    Partitioned.deleteTree(spark, path)

  /** All committed versions at `path`, ascending (empty if none). */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val dir = new org.apache.hadoop.fs.Path(logDir(path))
    val f = fs(spark, path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toInt }
      .sorted
  }

  /** The newest committed version, or 0 when the table is empty. */
  def latestVersion(spark: SparkSession, path: String): Int =
    versions(spark, path).lastOption.getOrElse(0)

  /** Relative active-file list of version `v` (the manifest contents).
    * Driver-side metadata read (a KB-scale JSON slurp) — the commit log
    * is consulted on every read/commit/vacuum, and paying a Spark job
    * per consultation (the old parquet-manifest shape) priced O(100 ms)
    * of scheduling against O(1 ms) of actual work.
    */
  def activeFiles(spark: SparkSession, path: String, v: Int): Seq[String] = {
    require(versions(spark, path).contains(v), s"no committed version $v at $path")
    val p = new org.apache.hadoop.fs.Path(s"${logDir(path)}/v=$v/_files.json")
    org.json4s.jackson.JsonMethods.parse(MetaJson.readText(spark, p.toString)) match {
      case org.json4s.JArray(xs) =>
        xs.collect { case org.json4s.JString(s) => s }.sorted
      case other => throw new IllegalStateException(
        s"malformed manifest at $path v=$v: $other")
    }
  }

  /** Read the table as of `version` (default: latest). The plan opens
    * exactly the manifest's files — no directory listing, no leakage
    * from later commits.
    */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, path))
    // VERSION-PINNED schema (the Delta contract): time travel returns
    // the columns the table had AS OF that version; files predating a
    // widening append lack the new columns and read back as nulls, and
    // a legitimately empty version (deleteWhere erased every row, or a
    // rollback to one) reads as an empty frame of its pinned schema.
    // Deletion vectors active at v are subtracted — version-isolated,
    // like every other read surface.
    val rels = activeFiles(spark, path, v)
    applyDv(
      readFiles(spark, path, rels, readSchema(spark, path, v), s"version $v"),
      dvFrameOpt(spark, path, activeDvFiles(spark, path, v)), rels.nonEmpty)
  }

  /** Per-version statistics as ONE frame: `aggs` applied to each of
    * `versions`' [[read]], one row per version behind a leading BIGINT
    * `version` column, unioned by position, so one action over the
    * result answers every version instead of one job per version.
    * `aggs` sees the version's own pinned schema, so it can branch on a
    * column a widening append added, but must give the same column
    * types for every version. An empty version yields its aggregates
    * over no rows (`count` 0, `sum` null).
    */
  def versionStats(spark: SparkSession, path: String, versions: Seq[Int])(
      aggs: DataFrame => Seq[Column]): DataFrame = {
    require(versions.nonEmpty, s"versionStats needs at least one version at $path")
    versions.map { v =>
      val df = read(spark, path, Some(v))
      val cols = aggs(df)
      df.agg(cols.head, cols.tail: _*).select(lit(v.toLong).as("version"), col("*"))
    }.reduce(_.unionAll(_))
  }

  /** Schema of version `v`, from the `_schema.json` persisted beside its
    * manifest (absent only for pre-schema tables or never-populated ones).
    */
  private def readSchema(
      spark: SparkSession, path: String, v: Int): Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(s"${logDir(path)}/v=$v/_schema.json")
    val f = fs(spark, path)
    if (!f.exists(p)) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(MetaJson.readText(spark, p.toString))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** One shared file-set reader: the manifest's relative files under the
    * version's pinned schema (raw parquet for legacy schema-less
    * tables), or an empty frame of the pinned schema when the set is
    * empty — the branching [[read]], [[readRange]] and [[changes]] all
    * need, in one place.
    */
  private def readFiles(
      spark: SparkSession, path: String, rels: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      what: String): DataFrame =
    if (rels.isEmpty) {
      val s = schema.getOrElse(throw new IllegalStateException(
        s"$what at $path is empty and carries no schema " +
          "(table was never committed with rows)"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    } else schema match {
      case Some(s) =>
        spark.read.schema(s).parquet(rels.map(rel => s"$path/$rel"): _*)
      case None => spark.read.parquet(rels.map(rel => s"$path/$rel"): _*)
    }

  // ─── Deletion vectors — rewrite-free erasure ────────────────────────
  //
  // The Delta deletion-vector device on the commit log: an erasure can
  // record WHICH rows of WHICH files are dead (a tiny positional sidecar,
  // parquet of (file, pos) under data/) instead of rewriting the touched
  // files. At 100 TB a GDPR delete then costs one predicate scan plus a
  // kilobyte-scale sidecar write — zero data rewrite; every read surface
  // subtracts the version's DVs (an anti-join on (file, row_index) whose
  // right side is small by construction), and OPTIMIZE/compact
  // materializes them away. DVs are version-pinned like everything else:
  // time travel to a pre-delete version reads the rows back.

  /** The relative file path of a scanned row, derived from the
    * `_metadata.file_path` pseudo-column — the join key DV entries are
    * recorded under (data files always live at `data/<commit>/<part>`).
    */
  private def relCol: Column =
    regexp_extract(col("_metadata.file_path"), "(data/[^/]+/[^/]+)$", 1)

  /** Relative DV sidecar paths active at version `v` (from `_dv.json`
    * beside the manifest; absent = none).
    */
  def activeDvFiles(spark: SparkSession, path: String, v: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"${logDir(path)}/v=$v/_dv.json")
    val f = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else org.json4s.jackson.JsonMethods.parse(MetaJson.readText(spark, p.toString)) match {
      case org.json4s.JArray(xs) =>
        xs.collect { case org.json4s.JString(s) => s }
      case _ => Seq.empty
    }
  }

  /** The union frame of DV entries `(file, pos)` for a sidecar list, or
    * None when there are none (the common case pays nothing).
    */
  private def dvFrameOpt(
      spark: SparkSession, path: String, rels: Seq[String]): Option[DataFrame] =
    if (rels.isEmpty) None
    else Some(spark.read.parquet(rels.map(r => s"$path/$r"): _*))

  private def emptyDv(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("file", StringType),
        StructField("pos", LongType))))
  }

  /** Subtract DV-dead rows from a file scan: anti-join on
    * (relative file, row_index). The DV side is the erased rows only —
    * small by construction, broadcast by AQE in practice.
    */
  private def applyDv(
      df: DataFrame, dvOpt: Option[DataFrame], scanNonEmpty: Boolean): DataFrame =
    dvOpt match {
      case Some(dv) if scanNonEmpty =>
        val keep = df.columns.toSeq
        val keyed = df.select(col("*"), relCol.as("__dv_rel"),
          col("_metadata.row_index").as("__dv_pos"))
        keyed.join(dv,
            keyed("__dv_rel") === dv("file") && keyed("__dv_pos") === dv("pos"),
            "left_anti")
          .select(keep.map(col): _*)
      case _ => df
    }

  /** Commit an ERASURE of rows matching `cond` WITHOUT rewriting any
    * data file — the Delta deletion-vector contract: the new version
    * carries the same manifest plus a positional sidecar listing the
    * dead rows; reads subtract it. Three-valued logic matches
    * [[deleteWhere]]: rows where `cond` evaluates NULL never matched and
    * survive. Rows already dead under an earlier DV never re-match (the
    * sidecars stay disjoint). A no-match delete commits a version
    * identical to the previous one. [[compact]] materializes accumulated
    * DVs away; [[vacuum]] keeps sidecars alive while any kept version
    * references them. Returns the new version.
    */
  def deleteWhereDV(spark: SparkSession, path: String, cond: Column): Int = {
    val v0 = latestVersion(spark, path)
    val prev = currentFiles(spark, path)
    if (prev.isEmpty)
      return commit(spark, path, Seq.empty, None, op = "delete-dv")
    val prevDv = activeDvFiles(spark, path, v0)
    val pinned = readSchema(spark, path, v0)
    val scan0 = readFiles(spark, path, prev, pinned, s"dv delete at $path")
      .select(col("*"), relCol.as("__dv_rel"),
        col("_metadata.row_index").as("__dv_pos"))
    val scan = dvFrameOpt(spark, path, prevDv) match {
      case Some(dv) => scan0.join(dv,
        scan0("__dv_rel") === dv("file") && scan0("__dv_pos") === dv("pos"),
        "left_anti")
      case None => scan0
    }
    val matched = scan.filter(coalesce(cond, lit(false)))
      .select(col("__dv_rel").as("file"), col("__dv_pos").as("pos"))
    val v = v0 + 1
    val sub = s"dv${v}_${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = s"${dataDir(path)}/$sub"
    val obs = org.apache.spark.sql.Observation()
    matched.observe(obs, count(lit(1)).as("n")).coalesce(1)
      .write.mode("error").parquet(dir)
    val n = obs.get("n").asInstanceOf[Long]
    val f = fs(spark, path)
    if (n == 0L) {
      // nothing matched: drop the empty sidecar, commit an identical
      // version (prior DVs carry by default)
      f.delete(new org.apache.hadoop.fs.Path(dir), true)
      commitAt(spark, path, v, prev, None, op = "delete-dv")
    } else {
      val parts = f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        .map(nm => s"data/$sub/$nm")
      commitAt(spark, path, v, prev, None, dvHint = Some(prevDv ++ parts),
        op = "delete-dv")
    }
  }

  /** Commit `df` as an APPEND; returns the new version. Rewrites
    * nothing: the new manifest = previous active list + this commit's
    * freshly written files.
    */
  def append(df: DataFrame, path: String): Int = {
    val spark = df.sparkSession
    commit(spark, path, keepFiles = currentFiles(spark, path),
      add = Some(df), op = "append")
  }

  /** Exact decimal value of a footer min/max, or None when the value is
    * non-finite (float/double columns can legitimately carry NaN or
    * ±Infinity — parquet's total-order comparator folds NaN into
    * min/max) and a zone map over it would be meaningless. Floats widen
    * through double EXACTLY (binary, not toString), so a stored bound is
    * never tighter than the data — toString shortest-repr rounding could
    * otherwise prune a file whose true max sits just above the printed
    * max.
    */
  private def finiteBound(v: Any): Option[BigDecimal] = v match {
    case f: java.lang.Float =>
      if (java.lang.Float.isFinite(f))
        Some(BigDecimal(new java.math.BigDecimal(f.doubleValue)))
      else None
    case d: java.lang.Double =>
      if (java.lang.Double.isFinite(d))
        Some(BigDecimal(new java.math.BigDecimal(d.doubleValue)))
      else None
    case i: java.lang.Integer => Some(BigDecimal(i.intValue))
    case l: java.lang.Long => Some(BigDecimal(l.longValue))
    case other => scala.util.Try(BigDecimal(other.toString)).toOption
  }

  /** Per-file numeric column ranges from the parquet FOOTERS of the
    * files just written — zone-map stats at metadata cost (Delta collects
    * the same at write time; reading footers of a commit's own files is
    * O(new files) driver-side metadata, never a data scan). Only
    * top-level INT32/INT64/FLOAT/DOUBLE columns participate — the id /
    * timestamp / measure columns range predicates actually hit.
    *
    * A column's range is recorded ONLY when every row group that holds
    * values for it contributed valid finite statistics: a block with
    * null/empty stats, or a NaN/±Infinity bound, poisons the column for
    * the whole file (an absent entry already means "never prune", which
    * is the safe direction — the Delta posture of null-ing stats for
    * non-finite values). A partially-covered range would silently prune
    * a file that contains matching rows; skipping must never be a
    * correctness device.
    */
  private def footerRanges(
      conf: org.apache.hadoop.conf.Configuration,
      abs: org.apache.hadoop.fs.Path): Map[String, (BigDecimal, BigDecimal)] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(abs, conf))
    try {
      val acc = scala.collection.mutable.Map.empty[String, (BigDecimal, BigDecimal)]
      val poisoned = scala.collection.mutable.Set.empty[String]
      reader.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.size == 1) {
            val numeric = c.getPrimitiveType.getPrimitiveTypeName.name match {
              case "INT32" | "INT64" | "FLOAT" | "DOUBLE" => true
              case _ => false
            }
            if (numeric) {
              val name = c.getPath.toDotString
              val st = c.getStatistics
              if (st == null || st.isEmpty) {
                // this block's content is UNKNOWN — any range built from
                // the other blocks would under-cover the file
                poisoned += name
              } else if (st.hasNonNullValue) {
                (finiteBound(st.genericGetMin), finiteBound(st.genericGetMax)) match {
                  case (Some(mn), Some(mx)) =>
                    val merged = acc.get(name) match {
                      case Some((a, z)) => (a.min(mn), z.max(mx))
                      case None => (mn, mx)
                    }
                    acc.update(name, merged)
                  case _ => poisoned += name // NaN/±Infinity bound
                }
              } // else: all-null block — contributes no values, no range
            }
          }
        }
      }
      (acc -- poisoned).toMap
    } finally reader.close()
  }

  /** Write `<dir>/_stats.json` — per-part-file numeric column ranges
    * (zone maps) for a freshly written commit directory.
    */
  private def writeStats(
      spark: SparkSession, dirAbs: String, parts: Seq[String]): Unit = {
    import org.json4s._
    val conf = spark.sparkContext.hadoopConfiguration
    val perFile: List[(String, JValue)] = parts.sorted.toList.map { name =>
      val ranges = footerRanges(conf,
        new org.apache.hadoop.fs.Path(s"$dirAbs/$name"))
      name -> (JObject(ranges.toList.sortBy(_._1).map { case (c, (mn, mx)) =>
        c -> (JArray(List(JString(mn.toString), JString(mx.toString))): JValue)
      }): JValue)
    }
    val txt = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(JObject(perFile)))
    MetaJson.writeText(spark, s"$dirAbs/_stats.json", txt, overwrite = false)
  }

  /** Load the `_stats.json` zone maps for a set of ACTIVE relative files
    * (grouped by commit directory — stats live and die with their
    * commit's files). Files without stats yield no entry and are never
    * pruned.
    */
  private def statsFor(
      spark: SparkSession, path: String, rels: Seq[String])
      : Map[String, Map[String, (BigDecimal, BigDecimal)]] = {
    import org.json4s._
    val f = fs(spark, path)
    rels.groupBy(r => r.substring(0, r.lastIndexOf('/'))).flatMap {
      case (dir, files) =>
        val p = new org.apache.hadoop.fs.Path(s"$path/$dir/_stats.json")
        if (!f.exists(p)) Map.empty[String, Map[String, (BigDecimal, BigDecimal)]]
        else {
          val txt = MetaJson.readText(spark, p.toString)
          val names = files.map(r => r.drop(dir.length + 1) -> r).toMap
          org.json4s.jackson.JsonMethods.parse(txt) match {
            case JObject(perFile) => perFile.collect {
              case (fname, JObject(cols)) if names.contains(fname) =>
                names(fname) -> cols.collect {
                  case (cn, JArray(List(JString(mn), JString(mx)))) =>
                    cn -> ((BigDecimal(mn), BigDecimal(mx)))
                }.toMap
            }.toMap
            case _ => Map.empty[String, Map[String, (BigDecimal, BigDecimal)]]
          }
        }
    }
  }

  /** `(files read, files total)` for a range read of `[lo, hi]` on
    * `colName` at `version` — the data-skipping proof surface: a file is
    * SKIPPED when its zone map proves no row can satisfy the range.
    */
  def skippingFileCounts(
      spark: SparkSession, path: String, colName: String,
      lo: BigDecimal, hi: BigDecimal,
      version: Option[Int] = None): (Int, Int) = {
    val v = version.getOrElse(latestVersion(spark, path))
    val rels = activeFiles(spark, path, v)
    (prunedRels(spark, path, rels, colName, lo, hi).length, rels.length)
  }

  private def prunedRels(
      spark: SparkSession, path: String, rels: Seq[String],
      colName: String, lo: BigDecimal, hi: BigDecimal): Seq[String] = {
    val stats = statsFor(spark, path, rels)
    rels.filter { r =>
      stats.get(r).flatMap(_.get(colName)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi // ranges overlap
        case None => true // no zone map — never prune blind
      }
    }
  }

  // ─── Bloom point-lookup index ───────────────────────────────────────
  //
  // Zone maps prune RANGE predicates on numeric columns; point lookups
  // on string/hash keys (dedup ids, URLs, content digests) need the
  // other classic skipping device: a per-file BLOOM FILTER (the Delta
  // bloom-filter-index contract). [[indexBloom]] builds one filter per
  // active data file in a single distributed pass (one small-state
  // shuffle keyed by file) and stores them beside the files as
  // `_bloom_<col>.json`; [[readPointsBloom]] opens only the files whose
  // filter might contain at least one probe key. An absent filter means
  // "never prune" — skipping is superset pruning, never a correctness
  // device (the exact IN filter and DV subtraction still apply). At
  // 100 TB a k-key digest lookup touches the few files the keys hash
  // into, not the table.

  /** Per-file Bloom aggregate over a string key — built with the public
    * `org.apache.spark.util.sketch.BloomFilter` so the driver-side probe
    * (`mightContainString`) is bit-compatible with the build. A native
    * `TypedImperativeAggregate`: the buffer crosses the shuffle as the
    * filter's own `writeTo` bytes, and `eval` returns those bytes. Null
    * keys are skipped.
    */
  private case class BloomAgg(
      child: Expression,
      expected: Long,
      fpp: Double,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomFilter] {
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def prettyName: String = "bloom_agg"

    override def createAggregationBuffer(): BloomFilter = BloomFilter.create(expected, fpp)
    override def update(b: BloomFilter, input: InternalRow): BloomFilter = {
      val v = child.eval(input)
      if (v != null) b.putString(v.toString)
      b
    }
    override def merge(b: BloomFilter, other: BloomFilter): BloomFilter = b.mergeInPlace(other)
    override def eval(b: BloomFilter): Any = serialize(b)
    override def serialize(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    override def deserialize(bytes: Array[Byte]): BloomFilter =
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

    override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): BloomAgg = copy(child = newChildren(0))
  }

  private def bloomSidecar(colName: String): String = {
    require(colName.matches("[A-Za-z0-9_]+"),
      s"bloom index column must be [A-Za-z0-9_]+: '$colName'")
    s"_bloom_$colName.json"
  }

  /** Build a per-file Bloom index over `colName` (stringified) for the
    * LATEST version's active files: one distributed pass keyed by file,
    * sidecars written per commit directory (idempotent — re-indexing
    * overwrites). `expectedPerFile` sizes each filter; `fpp` is the
    * false-positive rate (a false positive opens one extra file, never
    * returns a wrong row). Returns the number of files indexed.
    */
  def indexBloom(
      spark: SparkSession, path: String, colName: String,
      expectedPerFile: Long = 1000000L, fpp: Double = 0.01): Int = {
    val v = latestVersion(spark, path)
    val rels = activeFiles(spark, path, v)
    if (rels.isEmpty) return 0
    def agg(key: Column): Column = ColumnBridge.column(
      BloomAgg(ColumnBridge.expression(key), expectedPerFile, fpp).toAggregateExpression())
    val perFile = readFiles(spark, path, rels, readSchema(spark, path, v),
        s"bloom index at $path")
      .select(relCol.as("__rel"), col(colName).cast("string").as("__key"))
      .groupBy(col("__rel")).agg(agg(col("__key")).as("__bloom"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val b64 = java.util.Base64.getEncoder
    perFile.keys.groupBy(r => r.substring(0, r.lastIndexOf('/'))).foreach {
      case (dir, files) =>
        val body = files.toSeq.sorted.map { rel =>
          val name = rel.drop(dir.length + 1)
          "\"" + name + "\":\"" + b64.encodeToString(perFile(rel)) + "\""
        }.mkString("{", ",", "}")
        MetaJson.writeText(spark, s"$path/$dir/${bloomSidecar(colName)}",
          body, overwrite = true)
    }
    perFile.size
  }

  /** Load the per-file Bloom filters for a set of active relative files
    * (grouped by commit directory, like [[statsFor]]). Files without a
    * filter yield no entry and are never pruned.
    */
  private def bloomsFor(
      spark: SparkSession, path: String, rels: Seq[String], colName: String)
      : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    import org.json4s._
    val f = fs(spark, path)
    val b64 = java.util.Base64.getDecoder
    rels.groupBy(r => r.substring(0, r.lastIndexOf('/'))).flatMap {
      case (dir, files) =>
        val p = new org.apache.hadoop.fs.Path(
          s"$path/$dir/${bloomSidecar(colName)}")
        if (!f.exists(p))
          Map.empty[String, org.apache.spark.util.sketch.BloomFilter]
        else {
          val names = files.map(r => r.drop(dir.length + 1) -> r).toMap
          org.json4s.jackson.JsonMethods.parse(MetaJson.readText(spark, p.toString)) match {
            case JObject(perFile) => perFile.collect {
              case (fname, JString(enc)) if names.contains(fname) =>
                names(fname) -> org.apache.spark.util.sketch.BloomFilter
                  .readFrom(new java.io.ByteArrayInputStream(b64.decode(enc)))
            }.toMap
            case _ =>
              Map.empty[String, org.apache.spark.util.sketch.BloomFilter]
          }
        }
    }
  }

  /** `(files read, files total)` for a Bloom point lookup — the skipping
    * proof surface, like [[skippingFileCounts]] for zone maps.
    */
  def bloomFileCounts(
      spark: SparkSession, path: String, colName: String,
      values: Seq[String], version: Option[Int] = None): (Int, Int) = {
    val v = version.getOrElse(latestVersion(spark, path))
    val rels = activeFiles(spark, path, v)
    (bloomPrunedRels(spark, path, rels, colName, values).length, rels.length)
  }

  private def bloomPrunedRels(
      spark: SparkSession, path: String, rels: Seq[String],
      colName: String, values: Seq[String]): Seq[String] = {
    val blooms = bloomsFor(spark, path, rels, colName)
    rels.filter { r =>
      blooms.get(r) match {
        case Some(b) => values.exists(b.mightContainString)
        case None => true // no filter — never prune blind
      }
    }
  }

  /** Point-lookup read with BLOOM file skipping on a string key: open
    * only the files whose filter might contain at least one of `values`,
    * then apply the exact IN filter (and the version's deletion
    * vectors). Works on any layout — unlike zone maps, hash-distributed
    * keys prune too.
    */
  def readPointsBloom(
      spark: SparkSession, path: String, colName: String,
      values: Seq[String], version: Option[Int] = None): DataFrame = {
    require(values.nonEmpty, "readPointsBloom needs at least one value")
    val v = version.getOrElse(latestVersion(spark, path))
    val rels = bloomPrunedRels(
      spark, path, activeFiles(spark, path, v), colName, values)
    applyDv(
      readFiles(spark, path, rels, readSchema(spark, path, v), s"version $v"),
      dvFrameOpt(spark, path, activeDvFiles(spark, path, v)), rels.nonEmpty)
      .filter(col(colName).cast("string").isInCollection(values))
  }

  /** Range-clustered append — the writer-side half of data skipping:
    * rows are range-partitioned AND sorted by `byCol` before the commit,
    * so the new files' zone maps are DISJOINT and a later [[readRange]]
    * on that column opens O(matching files). This is the OPTIMIZE-by-
    * sort discipline (Delta's `OPTIMIZE ... ZORDER BY` for the
    * single-column case); `nFiles` sizes the commit's file count.
    */
  def appendClustered(
      df: DataFrame, path: String, byCol: String, nFiles: Int = 8): Int = {
    require(nFiles >= 1, s"nFiles must be >= 1: $nFiles")
    append(df.repartitionByRange(nFiles, col(byCol))
      .sortWithinPartitions(col(byCol)), path)
  }

  /** Point-lookup read with zone-map skipping: open only the files whose
    * zone contains AT LEAST ONE of `values` (an IN-list is a union of
    * point ranges), then apply the exact IN filter. On a range-clustered
    * layout a k-key lookup touches ≤ k files of a 100 TB table.
    */
  def readPoints(
      spark: SparkSession, path: String, colName: String,
      values: Seq[BigDecimal],
      version: Option[Int] = None): DataFrame = {
    require(values.nonEmpty, "readPoints needs at least one value")
    val v = version.getOrElse(latestVersion(spark, path))
    val all = activeFiles(spark, path, v)
    val stats = statsFor(spark, path, all)
    val rels = all.filter { r =>
      stats.get(r).flatMap(_.get(colName)) match {
        case Some((mn, mx)) => values.exists(x => x >= mn && x <= mx)
        case None => true // no zone map — never prune blind
      }
    }
    val c = col(colName)
    applyDv(
      readFiles(spark, path, rels, readSchema(spark, path, v), s"version $v"),
      dvFrameOpt(spark, path, activeDvFiles(spark, path, v)), rels.nonEmpty)
      .filter(c.isInCollection(values.map(_.underlying())))
  }

  /** Range read with ZONE-MAP file skipping — the Delta data-skipping
    * contract on the commit log: every commit records its new files'
    * per-column min/max (from the parquet footers it just wrote), and a
    * range predicate on `colName` opens ONLY the files whose range
    * overlaps `[lo, hi]` — on a range-clustered layout (sort or Z-order
    * the ingest by the hot column) that is O(matching files), never a
    * table scan. The exact predicate is still applied on top: skipping
    * is a superset-pruning optimization, never a correctness device.
    */
  def readRange(
      spark: SparkSession, path: String, colName: String,
      lo: BigDecimal, hi: BigDecimal,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, path))
    val rels = prunedRels(spark, path, activeFiles(spark, path, v),
      colName, lo, hi)
    val c = col(colName)
    // DECIMAL bounds, not double: a BIGINT id beyond 2^53 would round
    // under toDouble and the exactness contract ("the predicate is still
    // applied on top") would silently break at the boundary
    val pred = c >= lit(lo.underlying()) && c <= lit(hi.underlying())
    applyDv(
      readFiles(spark, path, rels, readSchema(spark, path, v), s"version $v"),
      dvFrameOpt(spark, path, activeDvFiles(spark, path, v)), rels.nonEmpty)
      .filter(pred)
  }

  /** EXACTLY-ONCE append for streaming sinks — the Delta
    * txnAppId/txnVersion idempotence contract: a `foreachBatch` retry
    * after checkpoint recovery re-delivers a batch under the SAME
    * `batchId`, and a plain append would commit it twice. Each
    * idempotent commit records `(appId, batchId)` beside its manifest;
    * an append whose batchId is ≤ the app's high-water mark is SKIPPED
    * (returns None), so replays are no-ops and the table equals the
    * exactly-once stream. Returns Some(version) when the commit
    * happened. Different appIds keep independent watermarks (two
    * streams may feed one table).
    */
  def appendIdempotent(
      df: DataFrame, path: String, appId: String, batchId: Long): Option[Int] = {
    val spark = df.sparkSession
    if (lastBatchId(spark, path, appId).exists(_ >= batchId)) None
    else Some(commitAt(spark, path, latestVersion(spark, path) + 1,
      currentFiles(spark, path), Some(df), txn = Some((appId, batchId)),
      op = "append"))
  }

  /** The high-water `batchId` committed by `appId`, if any. Versions are
    * scanned NEWEST-FIRST and the first match wins — batchIds are
    * monotone per app (enforced by [[appendIdempotent]] itself), so a
    * steady-state commit reads O(1) txn markers, not O(versions).
    */
  def lastBatchId(spark: SparkSession, path: String, appId: String): Option[Long] = {
    import org.json4s._
    val f = fs(spark, path)
    versions(spark, path).reverseIterator.flatMap { v =>
      val p = new org.apache.hadoop.fs.Path(s"${logDir(path)}/v=$v/_txn.json")
      if (!f.exists(p)) None
      else org.json4s.jackson.JsonMethods.parse(MetaJson.readText(spark, p.toString)) match {
        case JObject(fields) =>
          val m = fields.toMap
          (m.get("app"), m.get("batch")) match {
            case (Some(JString(app)), Some(JInt(b))) if app == appId =>
              Some(b.toLong)
            case _ => None
          }
        case _ => None
      }
    }.nextOption()
  }

  /** Commit an ERASURE of rows matching `cond`; returns the new
    * version. Only files that actually contain matching rows are
    * rewritten (their survivors land in the new commit's directory);
    * every other file is carried over by reference. A no-match delete
    * commits a version identical to the previous one.
    */
  def deleteWhere(spark: SparkSession, path: String, cond: Column): Int = {
    val v0 = latestVersion(spark, path)
    val prev = currentFiles(spark, path)
    if (prev.isEmpty)
      return commit(spark, path, Seq.empty, None, op = "delete")
    // read under the VERSION-PINNED schema: after a widening append the
    // older files lack the new columns, and a raw union read would both
    // break predicates on those columns and rewrite survivors with a
    // stale schema. DV-dead rows are subtracted first: they neither mark
    // a file as touched nor resurrect into the rewritten survivors.
    val pinned = readSchema(spark, path, v0)
    val dvOpt = dvFrameOpt(spark, path, activeDvFiles(spark, path, v0))
    def scan(rels: Seq[String]) = {
      val s0 = readFiles(spark, path, rels, pinned, s"delete at $path")
        .select(col("*"), relCol.as("__dv_rel"),
          col("_metadata.row_index").as("__dv_pos"))
      dvOpt match {
        case Some(dv) => s0.join(dv,
          s0("__dv_rel") === dv("file") && s0("__dv_pos") === dv("pos"),
          "left_anti")
        case None => s0
      }
    }
    // Three-valued logic: a row where `cond` evaluates to NULL (e.g. a
    // predicate over a nullable column) never MATCHED the delete, so it
    // must survive. Both passes use the same coalesce so "which files
    // are touched" and "which rows survive" agree (Delta's DELETE
    // contract: remove rows where the predicate is true; keep false OR
    // null).
    val matched = coalesce(cond, lit(false))
    val touchedRel = scan(prev)
      .filter(matched)
      .select(col("__dv_rel"))
      .distinct().collect().map(_.getString(0)).toSet
    val touched = prev.filter(touchedRel.contains)
    if (touched.isEmpty)
      return commit(spark, path, prev, None, op = "delete")
    val survivors = scan(touched)
      .filter(!matched).drop("__dv_rel", "__dv_pos")
    commit(spark, path, prev.filterNot(touched.contains), Some(survivors),
      op = "delete")
  }

  /** MERGE (upsert) in ONE commit — the Delta MERGE INTO core on the
    * commit log: rows of `source` REPLACE table rows carrying the same
    * `keyCols` tuple (whole-row replace) and INSERT otherwise. The
    * equivalent deleteWhere + append pair publishes two manifests with
    * a readable GAP between them (a reader could catch the deletes
    * applied but not the inserts); merge resolves survivors and inserts
    * first and publishes one manifest — readers see the old version or
    * the fully merged one, never the gap. Only files holding a matching
    * key are rewritten (their survivors move into the new commit);
    * every other file carries by reference, so the cost is O(touched),
    * not O(table). DV-dead rows never resurrect; a wider source widens
    * the schema (the evolving-append contract). `source` must be
    * key-unique — duplicate keys fail loudly (the SQL MERGE
    * multiple-matches contract) rather than silently double-inserting.
    * Returns the new version.
    */
  def merge(
      spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String]): Int = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val dup = source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      s"merge source has duplicate keys on (${keyCols.mkString(", ")}): " +
        s"${dup.head.toSeq.init.mkString(", ")}")
    val v0 = latestVersion(spark, path)
    val prev = currentFiles(spark, path)
    if (prev.isEmpty)
      return commit(spark, path, Seq.empty, Some(source), op = "merge")
    val pinned = readSchema(spark, path, v0)
    val dvOpt = dvFrameOpt(spark, path, activeDvFiles(spark, path, v0))
    def scan(rels: Seq[String]) = {
      val s0 = readFiles(spark, path, rels, pinned, s"merge at $path")
        .select(col("*"), relCol.as("__dv_rel"),
          col("_metadata.row_index").as("__dv_pos"))
      dvOpt match {
        case Some(dv) => s0.join(dv,
          s0("__dv_rel") === dv("file") && s0("__dv_pos") === dv("pos"),
          "left_anti")
        case None => s0
      }
    }
    val keys = source.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    // which files hold a matching key: ids and the file column flow
    // through a semi join — the payload never shuffles
    val touchedRel = scan(prev).join(keys, keyCols, "left_semi")
      .select(col("__dv_rel")).distinct().collect().map(_.getString(0)).toSet
    val touched = prev.filter(touchedRel.contains)
    val add =
      if (touched.isEmpty) source
      else scan(touched).join(keys, keyCols, "left_anti")
        .drop("__dv_rel", "__dv_pos")
        .unionByName(source, allowMissingColumns = true)
    commit(spark, path, prev.filterNot(touched.contains), Some(add),
      op = "merge")
  }

  /** Restore the table to the state of version `v` by committing a NEW
    * version with v's manifest (roll-forward restore — history stays
    * readable). Returns the new version.
    */
  def rollback(spark: SparkSession, path: String, v: Int): Int =
    commitAt(spark, path, latestVersion(spark, path) + 1,
      activeFiles(spark, path, v), None,
      // RESTORE republishes v's schema AND deletion vectors with its
      // manifest (the Delta contract): rolling back a widening append
      // rolls the columns back, rolling back past a DV erasure reads
      // the rows again
      schemaHint = readSchema(spark, path, v),
      dvHint = Some(activeDvFiles(spark, path, v)), op = "restore")

  /** OPTIMIZE — collapse the latest version's accumulated small files
    * (one commit directory per append under a streaming ingest) into a
    * fresh commit of `targetFiles` files. The new manifest lists ONLY
    * the compacted files; older versions keep reading their own
    * (immutable) files, and [[vacuum]] reclaims the superseded ones once
    * retention allows. Data files are never rewritten in place, so no
    * pinning is needed — the compaction read and the new commit touch
    * disjoint directories. Returns the new version; row set proved
    * unchanged by count (content equality is the committed frame itself).
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1): Int = {
    require(targetFiles >= 1, s"targetFiles must be >= 1: $targetFiles")
    // ONE data pass: the rewrite itself counts the rows it moves (an
    // observed metric on the committed frame), and the persisted count
    // comes from the new commit's parquet FOOTERS — driver-side
    // metadata, not a re-scan. The row-conservation check survives at
    // metadata cost; the old shape paid two extra full-table scans,
    // tripling the read volume of exactly the many-small-commits
    // streaming case OPTIMIZE exists for.
    val obs = org.apache.spark.sql.Observation()
    val before = read(spark, path) // DV-applied: compaction MATERIALIZES
      .observe(obs, count(lit(1)).as("rows")) // accumulated deletion vectors away
    val v = commitAt(spark, path, latestVersion(spark, path) + 1,
      Seq.empty, Some(before.coalesce(targetFiles)),
      dvHint = Some(Seq.empty), op = "optimize")
    val moved = obs.get("rows").asInstanceOf[Long]
    val persisted = footerRowCount(spark, path, activeFiles(spark, path, v))
    require(persisted == moved,
      s"compaction changed the row count: $moved -> $persisted")
    v
  }

  /** OPTIMIZE with a CLUSTERED layout — [[compact]] plus the write-side
    * half of data skipping in one commit (Delta's
    * `OPTIMIZE ... ZORDER BY`): one column range-sorts (the linear
    * degenerate case), several columns take the Morton Z-order curve
    * ([[graft.operators.ZOrder.layoutZOrder]]). A streaming ingest's
    * arrival-ordered files have useless zone maps — every file spans
    * the whole key range — so [[readRange]]/[[readPoints]] prune
    * nothing; one OPTIMIZE pass re-clusters and they open O(matching
    * files) again. Accumulated deletion vectors materialize away, like
    * [[compact]]. Costs one extra metadata-light pass for the Z-order
    * min/max bounds; row conservation is verified from the new footers.
    */
  def compactClustered(
      spark: SparkSession, path: String, byCols: Seq[String],
      targetFiles: Int = 8, bits: Int = 16): Int = {
    require(byCols.nonEmpty, "compactClustered needs at least one column")
    require(targetFiles >= 1, s"targetFiles must be >= 1: $targetFiles")
    // row-conservation accounting is ALL metadata here: expected = old
    // footers minus live DV entries; an Observation would double-count
    // under repartitionByRange's boundary-sampling pass
    val v0 = latestVersion(spark, path)
    val prevRels = activeFiles(spark, path, v0)
    val prevDead = dvFrameOpt(spark, path, activeDvFiles(spark, path, v0)) match {
      case Some(dv) if prevRels.nonEmpty =>
        dv.filter(col("file").isInCollection(prevRels)).count()
      case _ => 0L
    }
    val expected = footerRowCount(spark, path, prevRels) - prevDead
    val before = read(spark, path)
    // an empty table has no min/max to z-normalize (the Morton pass
    // would NPE on null bounds) — commit the empty rewrite directly
    if (expected == 0L)
      return commitAt(spark, path, v0 + 1, Seq.empty, Some(before),
        dvHint = Some(Seq.empty), op = "optimize-zorder")
    val laid =
      if (byCols.length == 1)
        before.repartitionByRange(targetFiles, col(byCols.head))
          .sortWithinPartitions(col(byCols.head))
      else graft.operators.ZOrder.layoutZOrder(before, byCols, targetFiles, bits)
    val v = commitAt(spark, path, v0 + 1,
      Seq.empty, Some(laid), dvHint = Some(Seq.empty), op = "optimize-zorder")
    val persisted = footerRowCount(spark, path, activeFiles(spark, path, v))
    require(persisted == expected,
      s"clustered compaction changed the row count: $expected -> $persisted")
    v
  }

  /** Total row count of `rels` from their parquet footers — metadata
    * reads only, O(files) driver-side, never a data scan.
    */
  private def footerRowCount(
      spark: SparkSession, path: String, rels: Seq[String]): Long =
    Partitioned.footerRowCountFiles(spark, rels.map(rel => s"$path/$rel"))

  /** File-pruned CHANGE FEED between two committed versions — the Delta
    * CDF / `table_changes` analogue on the commit log: the net row
    * changes from `fromV` to `toV` as a changelog frame with an `opCol`
    * column (+1 inserted, −1 deleted), the
    * [[graft.operators.DeltaRollup.applyBatch]] input contract.
    *
    * Structural sharing makes this O(changed files), never a table
    * scan: a file listed by BOTH manifests contributed identical rows
    * to both versions and is skipped entirely; only files the interval
    * added or dropped are read, and survivor rows a `deleteWhere`
    * rewrite merely MOVED between files cancel in the multiset
    * difference (`exceptAll`). At 100 TB, CDC between adjacent
    * versions costs the commit's own write volume. Works in either
    * direction (`fromV` > `toV` yields the inverse feed — a rollback's
    * changelog). Duplicate rows are handled multiset-exactly: a row
    * whose multiplicity rose by k appears k times at +1.
    */
  def changes(
      spark: SparkSession, path: String, fromV: Int, toV: Int,
      opCol: String = "__op"): DataFrame = {
    val fa = activeFiles(spark, path, fromV).toSet
    val ta = activeFiles(spark, path, toV).toSet
    // A recorded schema is PREFERRED but only REQUIRED when a side's
    // file set is empty (an empty frame needs one) — on pre-schema
    // (legacy) tables with both sides non-empty the raw parquet read
    // supplies it, keeping CDC usable there too.
    val schema = readSchema(spark, path, toV)
      .orElse(readSchema(spark, path, fromV))
    val addRels = (ta -- fa).toSeq.sorted
    val remRels = (fa -- ta).toSeq.sorted
    def rd(rels: Seq[String], other: Seq[String]): DataFrame = {
      val s = schema.orElse {
        // borrow a schema from whatever files exist: the other side of
        // the diff, else either version's own active list (identical
        // manifests on a legacy table still yield a typed empty feed)
        if (rels.nonEmpty) None
        else (other ++ ta.toSeq.sorted ++ fa.toSeq.sorted).headOption.map { rel =>
          readFiles(spark, path, Seq(rel), None, s"changes $fromV->$toV").schema
        }
      }
      readFiles(spark, path, rels, s, s"changes $fromV->$toV")
    }
    // each side's exclusive files read under that side's OWN deletion
    // vectors (a DV'd row never contributed to its version)
    val dvF = dvFrameOpt(spark, path, activeDvFiles(spark, path, fromV))
    val dvT = dvFrameOpt(spark, path, activeDvFiles(spark, path, toV))
    val added0 = applyDv(rd(addRels, remRels), dvT, addRels.nonEmpty)
    val removed0 = applyDv(rd(remRels, addRels), dvF, remRels.nonEmpty)
    // files listed by BOTH manifests change rows only through DV DELTAS:
    // positions newly dead in `to` are removals, positions resurrected
    // (a rollback past a DV erasure) are additions. Only the files those
    // deltas touch are read, and only the delta rows are kept — CDC over
    // a DV erasure costs O(changed rows), never a scan.
    val shared = fa & ta
    val (addedDv, removedDv) =
      if (shared.isEmpty || (dvF.isEmpty && dvT.isEmpty)) (None, None)
      else {
        def restricted(o: Option[DataFrame]) =
          o.map(_.filter(col("file").isInCollection(shared.toSeq)))
            .getOrElse(emptyDv(spark))
        val rF = restricted(dvF)
        val rT = restricted(dvT)
        (rowsAt(spark, path, rF.exceptAll(rT), schema, s"changes $fromV->$toV"),
          rowsAt(spark, path, rT.exceptAll(rF), schema, s"changes $fromV->$toV"))
      }
    val added = addedDv.map(added0.unionByName(_)).getOrElse(added0)
    val removed = removedDv.map(removed0.unionByName(_)).getOrElse(removed0)
    added.exceptAll(removed).withColumn(opCol, lit(1))
      .unionByName(removed.exceptAll(added).withColumn(opCol, lit(-1)))
  }

  /** The data rows at explicit `(file, pos)` positions — a scan of ONLY
    * the files the position frame names, semi-joined on
    * (relative file, row_index). None when the frame is empty.
    */
  private def rowsAt(
      spark: SparkSession, path: String, posFrame: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType],
      what: String): Option[DataFrame] = {
    val files = posFrame.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (files.isEmpty) None
    else {
      val scan = readFiles(spark, path, files, schema, what)
        .select(col("*"), relCol.as("__dv_rel"),
          col("_metadata.row_index").as("__dv_pos"))
      Some(scan.join(posFrame,
          scan("__dv_rel") === posFrame("file") &&
            scan("__dv_pos") === posFrame("pos"), "left_semi")
        .drop("__dv_rel", "__dv_pos"))
    }
  }

  /** Retention GC — the VACUUM contract: keep the newest `keepLast`
    * versions, drop older manifests, and delete every data file no kept
    * manifest references. Structural sharing means a file stays alive as
    * long as ANY kept version lists it (a restored version keeps its
    * ancestor's files alive). Orphans from crashed commits are
    * unreferenced by construction, so vacuum sweeps them too. Returns
    * `(versions dropped, data files deleted)`. Single-writer, like
    * every mutation here: run it when no reader holds a dropped
    * version's manifest.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, s"must keep at least one version: $keepLast")
    val all = versions(spark, path)
    if (all.isEmpty) return (0, 0)
    val (dropV, keepV) = all.splitAt(math.max(0, all.length - keepLast))
    // a data file OR a DV sidecar stays alive while any kept version
    // references it
    val referenced = keepV.flatMap(activeFiles(spark, path, _)).toSet ++
      keepV.flatMap(activeDvFiles(spark, path, _))
    val f = fs(spark, path)
    dropV.foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(s"${logDir(path)}/v=$v"), true)
    }
    // crashed commits may leave half-written staging dirs — garbage by
    // construction (the publish rename never happened), swept here
    f.listStatus(new org.apache.hadoop.fs.Path(logDir(path))).foreach { st =>
      if (st.getPath.getName.startsWith("_staged_"))
        f.delete(st.getPath, true)
    }
    // sweep data files (incl. crashed-commit orphans) not referenced by
    // any kept manifest; drained commit directories vanish with them
    var removed = 0
    val dataRoot = new org.apache.hadoop.fs.Path(dataDir(path))
    if (f.exists(dataRoot)) {
      f.listStatus(dataRoot).foreach { cdir =>
        val files = f.listStatus(cdir.getPath)
        val (dead, alive) = files.partition { st =>
          st.getPath.getName.endsWith(".parquet") &&
            !referenced.contains(s"data/${cdir.getPath.getName}/${st.getPath.getName}")
        }
        dead.foreach { st => f.delete(st.getPath, false); removed += 1 }
        if (alive.forall(!_.getPath.getName.endsWith(".parquet")))
          f.delete(cdir.getPath, true)
      }
    }
    (dropV.length, removed)
  }

  /** DESCRIBE HISTORY — one row per committed version: the recorded
    * operation (`_op.json` provenance; "unknown" for pre-provenance
    * commits), manifest file-count deltas against the previous version,
    * and the active deletion-vector sidecar count. Driver-side manifest
    * reads only — never a data scan.
    */
  def describeHistory(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.json4s._
    val f = fs(spark, path)
    var prev = Set.empty[String]
    val rows = versions(spark, path).map { v =>
      val cur = activeFiles(spark, path, v).toSet
      val opP = new org.apache.hadoop.fs.Path(s"${logDir(path)}/v=$v/_op.json")
      val op =
        if (!f.exists(opP)) "unknown"
        else org.json4s.jackson.JsonMethods.parse(MetaJson.readText(spark, opP.toString)) match {
          case JObject(fields) => fields.toMap.get("op") match {
            case Some(JString(o)) => o
            case _ => "unknown"
          }
          case _ => "unknown"
        }
      val row = (v.toLong, op, (cur -- prev).size.toLong,
        (prev -- cur).size.toLong,
        activeDvFiles(spark, path, v).length.toLong)
      prev = cur
      row
    }
    rows.toDF("version", "operation", "n_files_added", "n_files_removed",
      "n_dv_files")
  }

  private def currentFiles(spark: SparkSession, path: String): Seq[String] = {
    val latest = latestVersion(spark, path)
    if (latest == 0) Seq.empty else activeFiles(spark, path, latest)
  }

  /** The single commit funnel: optionally write `add` into the new
    * version's data directory, then publish the manifest (keep +
    * newly written files). Manifest-last = the commit point.
    */
  private def commit(
      spark: SparkSession,
      path: String,
      keepFiles: Seq[String],
      add: Option[DataFrame],
      op: String = "write"): Int =
    commitAt(spark, path, latestVersion(spark, path) + 1, keepFiles, add,
      op = op)

  /** Widening schema union for an evolving append (the mergeSchema
    * contract on the commit log): the previous version's columns keep
    * their order, genuinely new columns append (nullable — old files
    * read them back as nulls), and a NAME collision with a different
    * type fails loudly (silent coercion would corrupt every historical
    * read).
    */
  private def unionSchema(
      prev: org.apache.spark.sql.types.StructType,
      add: org.apache.spark.sql.types.StructType,
      where: String): org.apache.spark.sql.types.StructType = {
    val byName = prev.fields.map(f => f.name -> f).toMap
    add.fields.foreach { f =>
      byName.get(f.name).foreach { p =>
        require(p.dataType == f.dataType,
          s"schema evolution type conflict at $where: column '${f.name}' " +
            s"is ${p.dataType.simpleString} in the table but " +
            s"${f.dataType.simpleString} in the append")
      }
    }
    val fresh = add.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(prev.fields ++ fresh)
  }

  /** Publish at an EXPLICIT version — the seam that makes the collision
    * guard testable: a racing writer is exactly one that chose `v`
    * before a rival published it.
    */
  private[graft] def commitAt(
      spark: SparkSession,
      path: String,
      v: Int,
      keepFiles: Seq[String],
      add: Option[DataFrame],
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None,
      txn: Option[(String, Long)] = None,
      dvHint: Option[Seq[String]] = None,
      op: String = "write"): Int = {
    txn.foreach { case (app, _) =>
      require(app.matches("[A-Za-z0-9._-]+"),
        s"txn appId must be [A-Za-z0-9._-]+: '$app'")
    }
    val f0 = fs(spark, path)
    val manifestDir = new org.apache.hadoop.fs.Path(s"${logDir(path)}/v=$v")
    // Single-writer contract, enforced loudly: if another committer
    // raced us to version v its manifest already exists — fail rather
    // than silently fork history (no conditional-put on plain
    // filesystems, so detection is best-effort; the post-rename
    // nested-child check below is the backstop).
    require(!f0.exists(manifestDir),
      s"manifest collision at $path version $v: concurrent writer detected " +
        "(Snapshots is single-writer; serialize committers externally)")
    // Resolve the version's schema BEFORE any write: an evolving append
    // WIDENS the table schema (union; a type conflict fails loudly here,
    // leaving no orphan data and no manifest), empty versions stay
    // readable, and reads are version-pinned. Persisted beside the
    // manifest as `_schema.json` (underscore-prefixed → invisible to the
    // manifest's parquet reader).
    val prevSchema =
      if (v > 1) readSchema(spark, path, v - 1) else None
    val schema: Option[org.apache.spark.sql.types.StructType] =
      schemaHint.orElse {
        (prevSchema, add.map(_.schema)) match {
          case (Some(p), Some(a)) => Some(unionSchema(p, a, s"$path v$v"))
          case (p, a) => a.orElse(p).orElse(keepFiles.headOption.map(rel =>
            spark.read.parquet(s"$path/$rel").schema))
        }
      }
    val newRel = add match {
      case Some(df) =>
        val sub = s"c${v}_${java.util.UUID.randomUUID().toString.take(8)}"
        val dir = s"${dataDir(path)}/$sub"
        df.write.mode("error").parquet(dir)
        val f = fs(spark, path)
        val parts = f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
          .map(_.getPath.getName)
          .filter(_.endsWith(".parquet"))
        // zone maps for data skipping: the new files' numeric column
        // ranges, read from the footers just written, stored beside them
        // (stats live and die with their commit's files — vacuum sweeps
        // the drained directory, _stats.json included)
        writeStats(spark, dir, parts)
        parts.map(name => s"data/$sub/$name")
      case None => Seq.empty
    }
    // STAGED publish: manifest (_files.json) + sidecars (_schema.json,
    // _txn.json) are assembled in a staging directory whose name
    // `versions()` ignores, then RENAMED to `v=N` in one filesystem
    // move — the commit point stays a single atomic operation, so no
    // crash can publish a version whose schema or txn watermark is
    // missing (a half-written staging dir is invisible garbage; vacuum
    // sweeps it). The manifest is a driver-written JSON array, not a
    // Spark parquet write: a commit's file list is KB-scale metadata,
    // and the old `toDF.coalesce(1).write.parquet` shape spent a whole
    // Spark job (plan + schedule + commit protocol) per commit on it.
    val staged = s"${logDir(path)}/_staged_v${v}_" +
      java.util.UUID.randomUUID().toString.take(8)
    f0.mkdirs(new org.apache.hadoop.fs.Path(staged))
    def stage(name: String, body: String): Unit =
      MetaJson.writeText(spark, s"$staged/$name", body, overwrite = false)
    stage("_files.json", MetaJson.stringArray((keepFiles ++ newRel).sorted))
    schema.foreach(s => stage("_schema.json", s.json))
    txn.foreach { case (app, batch) =>
      stage("_txn.json", s"""{"app":"$app","batch":$batch}""")
    }
    // operation provenance for describeHistory (DESCRIBE HISTORY)
    if (op != "write") stage("_op.json", s"""{"op":"$op"}""")
    // Deletion-vector sidecar list: absent hint = CARRY the previous
    // version's DVs (an append never resurrects DV-dead rows); an
    // explicit hint sets the list (deleteWhereDV adds one, compact and
    // a fresh table clear them, rollback restores the target's).
    val dvFiles = dvHint.getOrElse(
      if (v > 1) activeDvFiles(spark, path, v - 1) else Seq.empty)
    if (dvFiles.nonEmpty) stage("_dv.json", MetaJson.stringArray(dvFiles.sorted))
    require(f0.rename(new org.apache.hadoop.fs.Path(staged), manifestDir),
      s"manifest publish failed at $path version $v: rename refused " +
        "(concurrent writer detected — Snapshots is single-writer)")
    // The rename-refusal backstop is LOCAL-FS semantics: on
    // HDFS-semantics filesystems rename(src, existingDir) "succeeds" by
    // moving the staged dir INSIDE v=N, publishing nothing while the
    // rival's manifest stands. Detect exactly that: our staging dir must
    // not have survived as a child of the manifest dir. (Still
    // best-effort vs a true conditional-put — Snapshots remains
    // single-writer; serialize committers externally.)
    val stagedName = staged.substring(staged.lastIndexOf('/') + 1)
    require(!f0.exists(new org.apache.hadoop.fs.Path(s"$manifestDir/$stagedName")),
      s"manifest collision at $path version $v: a rival manifest was " +
        "published first and the staged commit landed inside it " +
        "(concurrent writer detected — Snapshots is single-writer)")
    v
  }
}

package graft.similarity

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashRandom
import graft.sources.{MetaJson, Partitioned}

/** Hierarchical navigable small worlds (Malkov & Yashunin 2016,
  * "Efficient and robust approximate nearest neighbor search using
  * Hierarchical Navigable Small World graphs", arXiv:1603.09320) — the
  * multi-layer successor of [[Nsw]] and the production default of
  * hnswlib/FAISS-HNSW: each node draws a geometric level, upper layers
  * form exponentially sparser express lanes that a query descends
  * greedily (ef = 1) before the ef-beam search runs on the dense bottom
  * layer. Search cost becomes O(log n) hops to reach the right
  * neighborhood instead of NSW's flat-graph walk from a fixed entry.
  *
  * One graph serves both families: [[Nsw]] is this graph with every node
  * on level 0 ([[Flat]]) — a single layer, entry = the first node, no
  * descent, the layer-0 degree cap `2m`. The shard assignment, the
  * build, the rebuild from stored rows, the walk and the touched-shard
  * append below are written once and take the node-level function
  * ([[levelOf]] here, [[Flat]] for NSW).
  *
  * Distribution: hash-sharded corpus, per-shard in-memory graph via
  * `mapPartitions` (genuinely imperative adjacency state — the
  * documented last-resort tier), broadcast queries walking every shard,
  * global bounded top-k merge.
  *
  * Determinism: levels are a pure function of the node id (the
  * [[HashRandom]] md5-free splitmix device, `floor(−ln(u)·mL)`),
  * insertion is ascending-id, every float comparison ties on ascending
  * id, and the entry point is the max-level node (min id on ties) — so
  * builds and searches are bit-identical run to run; recall is
  * spec-asserted against [[Ann.cosineTopK]] and against flat [[Nsw]].
  */
object Hnsw {

  private val MaxQueries = 100000L

  /** Hard per-shard row bound. Every shard's layered graph — vectors,
    * norms, per-layer adjacency — is built and searched IN EXECUTOR
    * MEMORY (the per-shard-graph contract of production vector stores),
    * so shard size is a memory budget, not a soft knob: at 128-dim
    * double vectors, 1M rows ≈ 1 GB of vectors plus O(m) adjacency per
    * layer. Exceeding the bound fails loudly instead of OOM-ing an
    * executor mid-build. Sizing guideline: `numShards ≈ corpusRows /
    * 500_000` keeps shards at half the bound with room for beam state;
    * searches fan out to ALL shards, so prefer more, smaller shards
    * until the per-query `shards × ef` distance budget dominates.
    */
  val MaxShardRows: Int = 1000000

  /** Effective bound — a test seam so the guard is exercisable without
    * a million-row build; production code never reassigns it. It bounds
    * [[Nsw]] shards too.
    */
  private[graft] var shardRowBound: Int = MaxShardRows

  /** Geometric level for a node id: `floor(−ln(u) · 1/ln(M))` with
    * `u = U(0,1)` drawn from the id — P(level ≥ l) = M^(−l), the
    * published distribution, reproducible on any cluster.
    */
  def levelOf(id: Long, m: Int, seed: Long): Int = {
    val u = HashRandom.uniform(seed, 7L, id)
    math.floor(-math.log(u) / math.log(m.toDouble)).toInt
  }

  /** Every node on level 0: the flat [[Nsw]] graph. */
  private[similarity] val Flat: Long => Int = _ => 0

  /** One shard's layered graph: id-sorted nodes, per-layer adjacency
    * over node indices. Entry = the max-level node (min index on ties).
    */
  private final class Graph(
      val ids: Array[Long],
      val vecs: Array[Array[Double]],
      val levels: Array[Int],
      val m: Int,
      val efConstruction: Int) {
    require(ids.length <= shardRowBound,
      s"HNSW shard holds ${ids.length} rows > MaxShardRows=$shardRowBound " +
        "— raise numShards (see the MaxShardRows scaladoc)")
    val norms: Array[Double] = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    val maxLevel: Int = if (levels.isEmpty) 0 else levels.max
    // adj(layer)(node) — nodes with level < layer keep empty lists
    val adj: Array[Array[mutable.ArrayBuffer[Int]]] =
      Array.fill(maxLevel + 1, ids.length)(mutable.ArrayBuffer.empty[Int])
    var entry: Int = -1

    def cos(v: Array[Double], nv: Double, i: Int): Double = {
      val c = vecs(i)
      var s = 0.0; var j = 0
      while (j < c.length) { s += v(j) * c(j); j += 1 }
      val d = nv * norms(i)
      if (d > 0) s / d else 0.0
    }

    /** ef-beam search on one layer from `start`, over indices < `limit`
      * (the already-inserted prefix during construction). Best first.
      */
    def searchLayer(v: Array[Double], nv: Double, start: Int, layer: Int,
        width: Int, limit: Int): Array[Int] = {
      val visited = mutable.BitSet(start)
      val cand = mutable.PriorityQueue((cos(v, nv, start), start))(
        Ordering.by[(Double, Int), (Double, Double)] {
          case (c, i) => (c, -i.toDouble) })
      val found = mutable.ArrayBuffer((cos(v, nv, start), start))
      def worstFound: Double =
        if (found.size < width) Double.NegativeInfinity
        else found.minBy { case (c, i) => (c, -i.toDouble) }._1
      while (cand.nonEmpty && cand.head._1 >= worstFound) {
        val (_, cur) = cand.dequeue()
        adj(layer)(cur).foreach { nb =>
          if (nb < limit && !visited.contains(nb)) {
            visited += nb
            val c = cos(v, nv, nb)
            if (c > worstFound || found.size < width) {
              cand.enqueue((c, nb))
              found += ((c, nb))
              if (found.size > width) {
                val drop = found.zipWithIndex.minBy {
                  case ((c0, i0), _) => (c0, -i0.toDouble) }._2
                found.remove(drop)
              }
            }
          }
        }
      }
      found.sortBy { case (c, i) => (-c, i) }.map(_._2).toArray
    }

    /** Greedy ef=1 descent on one layer (the express-lane hop): hop to
      * the argmax of {cur} ∪ adj(cur) under (cosine, −id) until cur is
      * its own argmax — one pure argmax per hop, replayable step by
      * step (the x73 oracle device extends to this shape).
      */
    private def greedyStep(v: Array[Double], nv: Double, start: Int,
        layer: Int, limit: Int): Int = {
      var cur = start
      var curC = cos(v, nv, cur)
      var improved = true
      while (improved) {
        improved = false
        var best = cur
        var bestC = curC
        adj(layer)(cur).foreach { nb =>
          if (nb < limit) {
            val c = cos(v, nv, nb)
            if (c > bestC || (c == bestC && nb < best)) { best = nb; bestC = c }
          }
        }
        if (best != cur) { cur = best; curC = bestC; improved = true }
      }
      cur
    }

    /** Descend from the entry through upper layers to `toLayer`. */
    def descend(v: Array[Double], nv: Double, fromLevel: Int,
        toLayer: Int, limit: Int): Int = {
      var cur = entry
      var l = fromLevel
      while (l > toLayer) { cur = greedyStep(v, nv, cur, l, limit); l -= 1 }
      cur
    }

    /** Incremental construction in ascending index order. */
    def build(): Unit = insertFrom(0)

    /** Resume construction at index `from` (0 = fresh build): indices
      * below `from` must already carry their adjacency (preloaded from
      * a persisted shard); the entry is re-seeded as the prefix's first
      * max-level node — exactly what the original insertion loop
      * tracked, since insertion is id-ascending — then insertion
      * continues unchanged. On a flat graph this is NSW's construction:
      * each node links to its m nearest among the prefix, both ways.
      */
    def insertFrom(from: Int): Unit = {
      if (ids.isEmpty) return
      // the entry tracks the highest-level node seen so far (first
      // inserted wins ties, i.e. the min id — insertion is id-ascending)
      entry = 0
      var entryLevel = levels(0)
      var j = 1
      while (j < from) {
        if (levels(j) > entryLevel) { entry = j; entryLevel = levels(j) }
        j += 1
      }
      var i = math.max(from, 1)
      while (i < ids.length) {
        val l = levels(i)
        val v = vecs(i); val nv = norms(i)
        var start = entry
        if (entryLevel > l) start = descend(v, nv, entryLevel, l, i)
        var layer = math.min(l, entryLevel)
        while (layer >= 0) {
          val found = searchLayer(v, nv, start, layer, efConstruction, i)
          val links = found.take(m)
          val cap = if (layer == 0) 2 * m else m
          links.foreach { n =>
            adj(layer)(i) += n
            adj(layer)(n) += i
            if (adj(layer)(n).size > cap) {
              val kept = adj(layer)(n).distinct
                .map(x => (cos(vecs(n), norms(n), x), x))
                .sortBy { case (c, x) => (-c, x) }
                .take(cap).map(_._2)
              adj(layer)(n).clear(); adj(layer)(n) ++= kept
            }
          }
          start = if (found.nonEmpty) found(0) else start
          layer -= 1
        }
        if (l > entryLevel) { entry = i; entryLevel = l }
        i += 1
      }
    }

    /** Full query search: descend express lanes, ef-beam layer 0. */
    def search(v: Array[Double], nv: Double, width: Int): Array[Int] = {
      if (ids.isEmpty) return Array.empty
      val levelsTop = levels(entry)
      val start = descend(v, nv, levelsTop, 0, ids.length)
      searchLayer(v, nv, start, 0, width, ids.length)
    }

    /** The stored row of node `i`: `layers(l)` is layer l's sorted
      * neighbor-ID list, `level + 1` lists.
      */
    def row(i: Int, shard: Int): (Long, Seq[Double], Int, Seq[Seq[Long]], Int) =
      (ids(i), vecs(i).toSeq, levels(i),
        (0 to levels(i)).map(l => adj(l)(i).map(ids(_)).sorted.toSeq), shard)

    /** Load node `i`'s stored `layers` (neighbor ids, no re-linking). */
    def preload(i: Int, layers: Seq[Seq[Long]], idx: Map[Long, Int]): Unit =
      layers.zipWithIndex.foreach { case (nbs, l) =>
        if (l <= levels(i)) adj(l)(i) ++= nbs.flatMap(idx.get)
      }
  }

  /** The shard of a node id — explicit `pmod(xxhash64(id), numShards)`,
    * so an append batch lands in the same shards the build used.
    */
  private def shardOf(id: Column, numShards: Int): Column =
    pmod(xxhash64(id), lit(numShards.toLong)).cast("int")

  private def collectQueries(
      queries: DataFrame, featCol: String, queryIdCol: String)
      : Array[(Long, Array[Double], Double)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(graft.Tables.atMostRows(queries, MaxQueries),
      s"graph search broadcasts the query vectors; got > $MaxQueries rows — " +
        "swap the arguments or batch the queries")
    queries
      .select(col(queryIdCol).cast("long"), col(featCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray, math.sqrt(v.map(x => x * x).sum)) }
      .sortBy(_._1)
  }

  /** Walk one in-memory shard for every broadcast query: width
    * `max(ef, k + 1)`, self and tombstoned hits dropped, first k kept.
    */
  private def walk(
      g: Graph, qs: Array[(Long, Array[Double], Double)], k: Int, ef: Int,
      excludeSelf: Boolean, tombstones: Set[Long]): Iterator[(Long, Long, Double)] =
    qs.iterator.flatMap { case (qid, qv, qn) =>
      g.search(qv, qn, math.max(ef, k + 1))
        .iterator
        .map(i => (qid, g.ids(i), g.cos(qv, qn, i)))
        .filter { case (q, cid, _) =>
          (!excludeSelf || q != cid) && !tombstones.contains(cid) }
        .take(k)
    }

  /** Persist per-shard HNSW graphs: `<path>/nodes` parquet partitioned
    * by `__shard` with `(id, vec, level, layers)` where `layers(l)` is
    * layer l's sorted neighbor-ID list (length level+1), plus
    * `<path>/meta` with the build parameters. Sharding is explicit
    * `pmod(xxhash64(id), numShards)`, shared with [[Nsw]].
    */
  def writeIndex(
      corpus: DataFrame,
      featCol: String,
      corpusIdCol: String,
      path: String,
      numShards: Int = 8,
      m: Int = 8,
      efConstruction: Int = 32,
      levelSeed: Long = 11L): Unit =
    writeGraph(buildGraphRows(corpus, featCol, corpusIdCol, numShards, m,
      efConstruction, levelSeed), path, numShards, m, efConstruction,
      Seq("level_seed" -> levelSeed))

  /** Write graph rows as `<path>/nodes`, one directory per shard, and
    * the driver-written JSON meta sidecar (graft.sources.MetaJson):
    * search/append/rebuild consult it on every call, and a one-row
    * parquet dataset paid a Spark job per consultation.
    */
  private[similarity] def writeGraph(
      rows: DataFrame, path: String, numShards: Int, m: Int,
      efConstruction: Int, extraMeta: Seq[(String, Long)]): Unit = {
    rows.repartition(numShards, col("__shard"))
      .write.mode("overwrite").partitionBy("__shard").parquet(s"$path/nodes")
    MetaJson.write(rows.sparkSession, s"$path/meta", Seq(
      "num_shards" -> numShards.toLong, "m" -> m.toLong,
      "ef_construction" -> efConstruction.toLong) ++ extraMeta)
  }

  /** Per-shard HNSW graphs as ROWS `(id, vec, level, layers, __shard)` —
    * [[writeIndex]] minus the persistence, so the realized adjacency is
    * PINNABLE in-run: checkpoint the frame, collect the structure for a
    * walk-replay oracle, and search the very same graph with
    * [[searchGraphRows]].
    */
  def buildGraphRows(
      corpus: DataFrame,
      featCol: String,
      corpusIdCol: String,
      numShards: Int = 8,
      m: Int = 8,
      efConstruction: Int = 32,
      levelSeed: Long = 11L): DataFrame = {
    require(numShards > 0 && m > 1 && efConstruction >= m,
      s"need numShards>0, m>1, efConstruction>=m: $numShards $m $efConstruction")
    layeredRows(corpus, featCol, corpusIdCol, numShards, m, efConstruction,
      levelOf(_, m, levelSeed))
  }

  /** [[buildGraphRows]] under the node-level function `level`. */
  private[similarity] def layeredRows(
      corpus: DataFrame, featCol: String, corpusIdCol: String,
      numShards: Int, m: Int, efConstruction: Int,
      level: Long => Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (mm, efc) = (m, efConstruction)
    corpus
      .select(col(corpusIdCol).cast("long").as("id"),
        col(featCol).cast("array<double>").as("vec"))
      .withColumn("__shard", shardOf(col("id"), numShards))
      .repartition(numShards, col("__shard"))
      .as[(Long, Seq[Double], Int)]
      .mapPartitions { it =>
        // hash partitioning maps every shard wholly into one task; a
        // task may hold several shards — group and build each
        it.toArray.groupBy(_._3).iterator.flatMap { case (shard, rows) =>
          val nodes = rows.map { case (id, v, _) => (id, v.toArray) }
            .sortBy(_._1)
          val g = new Graph(nodes.map(_._1), nodes.map(_._2),
            nodes.map(n => level(n._1)), mm, efc)
          g.build()
          g.ids.indices.iterator.map(g.row(_, shard))
        }
      }
      .toDF("id", "vec", "level", "layers", "__shard")
  }

  /** Mark-delete — the hnswlib `markDelete` contract: deleted nodes STAY
    * in the graph as routing waypoints (unlinking them would sever the
    * express lanes and degrade every survivor's reachability — the
    * published reason hnswlib/FAISS-HNSW tombstone instead of unlink)
    * but are filtered from emitted results by [[searchIndex]]. Tombstone
    * ids persist at `<path>/tombstones`; re-deleting is a no-op and ids
    * absent from the graph are ignored. Returns the count of NEWLY
    * tombstoned ids actually present in the graph. When the tombstone
    * fraction grows large, rebuild via [[writeIndex]] over the survivors
    * (the hnswlib guidance) — and raise `efSearch` in the interim, since
    * tombstoned hits still occupy beam slots.
    */
  def deleteFromIndex(
      spark: SparkSession,
      path: String,
      ids: DataFrame,
      idCol: String): Long = {
    healTombstones(spark, path)
    val del = ids.select(col(idCol).cast("long").as("id")).distinct()
    val present = spark.read.parquet(s"$path/nodes")
      .select(col("id").cast("long"))
      .join(del, Seq("id"), "left_semi")
    val fresh =
      if (!Partitioned.exists(spark, tombstones(path))) present
      else present.join(spark.read.parquet(tombstones(path)),
        Seq("id"), "left_anti")
    val pinned = fresh.coalesce(1).localCheckpoint(true)
    val n = pinned.count()
    if (n > 0) pinned.write.mode("append").parquet(tombstones(path))
    n
  }

  /** Rebuild the index over the survivors and clear the tombstone list —
    * the documented high-tombstone policy ([[deleteFromIndex]]): once a
    * meaningful fraction of nodes is tombstoned, every search pays beam
    * slots for routing-only nodes; a rebuild restores full recall at the
    * original efSearch. Reads the survivor vectors from the index
    * itself (no external corpus needed), rebuilds with the SAME meta
    * parameters (shard function, m, efConstruction, level seed — levels
    * are a pure id function, so survivor levels are unchanged), and
    * drops the tombstone list. Returns the number of survivors indexed.
    */
  def rebuildWithoutTombstones(spark: SparkSession, path: String): Long = {
    val ts = readTombstones(spark, path)
    val meta = MetaJson.read(spark, s"$path/meta")
    val survivors = spark.read.parquet(s"$path/nodes")
      .select(col("id").cast("long").as("vec_id"),
        col("vec").cast("array<double>").as("embedding"))
      .filter(!col("vec_id").isInCollection(
        if (ts.isEmpty) Seq(-1L) else ts.toSeq))
      .localCheckpoint(true) // pinned: the rewrite replaces its source
    val n = survivors.count()
    writeIndex(survivors, "embedding", "vec_id", path,
      numShards = meta("num_shards").toInt, m = meta("m").toInt,
      efConstruction = meta("ef_construction").toInt,
      levelSeed = meta("level_seed"))
    // a deliberate full clear must drop BOTH the live list and any
    // crashed-clear swap — a surviving swap would later be healed into
    // place and resurrect stale tombstones over live nodes
    dropTombstones(spark, path)
    n
  }

  private def tombstones(path: String): String = s"$path/tombstones"
  private def tombstoneSwap(path: String): String = s"$path/tombstones__swap"

  /** Rename `from` to `to`: the tombstone swap's one filesystem call
    * that [[Partitioned]] does not cover.
    */
  private def rename(spark: SparkSession, from: String, to: String): Boolean = {
    val src = new org.apache.hadoop.fs.Path(from)
    src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .rename(src, new org.apache.hadoop.fs.Path(to))
  }

  /** Delete the tombstone list AND any `__swap` leftover — the only
    * correct way to intentionally clear tombstones once
    * [[healTombstones]] treats a lone swap as the authoritative list.
    */
  private def dropTombstones(spark: SparkSession, path: String): Unit = {
    Partitioned.deleteTree(spark, tombstones(path))
    Partitioned.deleteTree(spark, tombstoneSwap(path))
  }

  /** Complete a crashed tombstone clear: the write-new-then-swap in
    * [[appendToIndex]] can die between deleting the old list and
    * renaming the new one into place — the kept list then exists ONLY in
    * `tombstones__swap`. MUTATION paths call this to finish the rename
    * (single-writer, so the require holds); READ paths never mutate —
    * [[readTombstones]] falls back to reading the swap directly, so a
    * search works on a read-only mount and two racing readers can't
    * fight over a rename.
    */
  private def healTombstones(spark: SparkSession, path: String): Unit = {
    val (ts, swap) = (tombstones(path), tombstoneSwap(path))
    if (!Partitioned.exists(spark, ts) && Partitioned.exists(spark, swap))
      require(rename(spark, swap, ts),
        s"tombstone crash recovery failed: $swap -> $ts")
  }

  private def readTombstones(spark: SparkSession, path: String): Set[Long] =
    // pure read: the live list if present, else a crashed clear's swap
    // (the kept list) — no rename on the read path
    Seq(tombstones(path), tombstoneSwap(path))
      .find(Partitioned.exists(spark, _)) match {
      case Some(p) => spark.read.parquet(p).collect().map(_.getLong(0)).toSet
      case None => Set.empty
    }

  /** Search a persisted HNSW index: rebuild each shard's layered
    * adjacency from the stored neighbor lists (no re-linking) and run
    * the full descent + layer-0 beam for the broadcast queries.
    * Tombstoned nodes ([[deleteFromIndex]]) route but never emit.
    */
  def searchIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      featCol: String,
      queryIdCol: String,
      k: Int,
      efSearch: Int = 48,
      excludeSelf: Boolean = true): DataFrame = {
    val meta = MetaJson.read(spark, s"$path/meta")
    searchGraphRows(spark.read.parquet(s"$path/nodes"), queries,
      featCol, queryIdCol, k,
      m = meta("m").toInt,
      efConstruction = meta("ef_construction").toInt,
      efSearch = efSearch, excludeSelf = excludeSelf,
      tombstones = readTombstones(spark, path))
  }

  /** Walk layered graphs given as ROWS (the [[buildGraphRows]] /
    * `<path>/nodes` shape): rebuild each shard's layered adjacency from
    * the stored neighbor lists (no re-linking), seed the entry at the
    * persisted contract (min id among max-level nodes), and run the full
    * descent + layer-0 beam for the broadcast queries — [[searchIndex]]
    * is exactly this over a parquet read plus the tombstone list.
    */
  def searchGraphRows(
      graphRows: DataFrame,
      queries: DataFrame,
      featCol: String,
      queryIdCol: String,
      k: Int,
      m: Int,
      efConstruction: Int,
      efSearch: Int = 48,
      excludeSelf: Boolean = true,
      tombstones: Set[Long] = Set.empty): DataFrame = {
    require(k > 0 && efSearch >= k, s"need k>0, efSearch>=k: $k $efSearch")
    val spark = graphRows.sparkSession
    import spark.implicits._
    val (mm, efc) = (m, efConstruction)
    val qB = spark.sparkContext.broadcast(
      collectQueries(queries, featCol, queryIdCol))
    val tsB = spark.sparkContext.broadcast(tombstones)
    val (ef, kk, excl) = (efSearch, k, excludeSelf)
    val locals = graphRows
      .select(col("id").cast("long"), col("vec").cast("array<double>"),
        col("level").cast("int"),
        col("layers").cast("array<array<bigint>>"), col("__shard").cast("int"))
      .repartition(col("__shard"))
      .as[(Long, Seq[Double], Int, Seq[Seq[Long]], Int)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._5).iterator.flatMap { case (_, rows) =>
          val sorted = rows.sortBy(_._1)
          val g = new Graph(sorted.map(_._1), sorted.map(_._2.toArray),
            sorted.map(_._3), mm, efc)
          val idx = g.ids.zipWithIndex.toMap
          sorted.zipWithIndex.foreach { case ((_, _, _, layers, _), i) =>
            g.preload(i, layers, idx)
          }
          // persisted entry contract: min id among max-level nodes
          val maxL = g.levels.max
          g.entry = g.levels.indexWhere(_ == maxL)
          walk(g, qB.value, kk, ef, excl, tsB.value)
        }
      }
      .toDF("__qid", "__cid", "__cos")
    Ann.rankTopKScored(locals, queryIdCol, k, col("__cos"))
  }

  /** Approximate cosine top-k via per-shard HNSW graphs built on the
    * fly. Output: `queryIdCol`, `rank`, `neighbor_id`, `cosine` — the
    * [[Ann.cosineTopK]] shape.
    */
  def cosineTopKHnsw(
      corpus: DataFrame,
      queries: DataFrame,
      featCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      m: Int = 8,
      efConstruction: Int = 32,
      efSearch: Int = 48,
      levelSeed: Long = 11L,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && m > 1 && efConstruction >= m && efSearch >= k,
      s"need k>0, m>1, efConstruction>=m, efSearch>=k: $k $m $efConstruction $efSearch")
    topKOnTheFly(corpus, queries, featCol, corpusIdCol, queryIdCol, k, m,
      efConstruction, efSearch, excludeSelf, levelOf(_, m, levelSeed))
  }

  /** [[cosineTopKHnsw]] under the node-level function `level`: each
    * partition of the id-hashed corpus builds one graph and walks it.
    */
  private[similarity] def topKOnTheFly(
      corpus: DataFrame, queries: DataFrame, featCol: String,
      corpusIdCol: String, queryIdCol: String, k: Int, m: Int,
      efConstruction: Int, efSearch: Int, excludeSelf: Boolean,
      level: Long => Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(
      collectQueries(queries, featCol, queryIdCol))
    val (mm, efc, ef, kk, excl) = (m, efConstruction, efSearch, k, excludeSelf)
    val locals = graft.Tables.spread(corpus)
      .select(col(corpusIdCol).cast("long"), col(featCol).cast("array<double>"))
      .repartition(col(corpusIdCol))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val nodes = it.map { case (id, v) => (id, v.toArray) }
          .toArray.sortBy(_._1)
        if (nodes.isEmpty) Iterator.empty
        else {
          val g = new Graph(nodes.map(_._1), nodes.map(_._2),
            nodes.map(n => level(n._1)), mm, efc)
          g.build()
          walk(g, qB.value, kk, ef, excl, Set.empty)
        }
      }
      .toDF("__qid", "__cid", "__cos")
    Ann.rankTopKScored(locals, queryIdCol, k, col("__cos"))
  }

  /** Append a batch to a persisted HNSW index — the hnswlib/FAISS `add`
    * contract completing the graph family's production loop
    * (build → append → search): only the shards the batch hashes into are
    * read and rewritten ([[appendShards]]), new nodes draw their geometric
    * levels from the SAME pure id function recorded in `meta` — a node's
    * level never depends on WHEN it arrives, the property that makes
    * incremental HNSW sound. Deterministic end to end, so the x112
    * walk-replay oracle applies unchanged to a grown index.
    */
  def appendToIndex(
      newRows: DataFrame,
      featCol: String,
      corpusIdCol: String,
      path: String): Unit = {
    val meta = MetaJson.read(newRows.sparkSession, s"$path/meta")
    val (mm, seed) = (meta("m").toInt, meta("level_seed"))
    appendShards(newRows, featCol, corpusIdCol, path, meta,
      levelOf(_, mm, seed), identity, identity)
  }

  /** The touched-shard append of both graph indexes: new rows hash to
    * their shards, ONLY the touched shards are read back (`layered` maps
    * the stored rows to the `(id, vec, level, layers, __shard)` shape,
    * `stored` maps them back), the new nodes are inserted in ascending
    * id order after all resident nodes (resident adjacency preloaded,
    * entry re-seeded as the prefix's max-level node, exactly what the
    * original insertion tracked — like any incremental ANN index the
    * final graph depends on ingest history, but search over the
    * persisted state stays deterministic), and the touched shard
    * directories are replaced through [[Partitioned.replacePartitions]].
    * Untouched shards' files are never read or written.
    *
    * Id hygiene: batch ids already present in the index are REJECTED
    * loudly (a second graph node under the same id would silently
    * shadow search results) — this includes tombstoned ids, which stay
    * in the graph as routing waypoints; to re-admit an erased id, run
    * [[rebuildWithoutTombstones]] first, then append. Batch ids found
    * ONLY in the tombstone list (stale entries with no graph node) are
    * cleared from `<path>/tombstones`, so the re-added vector is
    * searchable rather than permanently filtered.
    */
  private[similarity] def appendShards(
      newRows: DataFrame, featCol: String, corpusIdCol: String, path: String,
      meta: Map[String, Long], level: Long => Int,
      layered: DataFrame => DataFrame, stored: DataFrame => DataFrame): Unit = {
    val spark = newRows.sparkSession
    import spark.implicits._
    val (numShards, mm, efc) = (meta("num_shards").toInt,
      meta("m").toInt, meta("ef_construction").toInt)
    val batch = newRows
      .select(col(corpusIdCol).cast("long").as("id"),
        col(featCol).cast("array<double>").as("vec"),
        lit(null).cast("array<array<bigint>>").as("layers"))
      .withColumn("__shard", shardOf(col("id"), numShards))
    val touched = batch.select(col("__shard")).distinct()
      .collect().map(_.getInt(0)).sorted
    val resident = layered(spark.read.parquet(s"$path/nodes"))
      .filter(col("__shard").isin(touched.map(Int.box): _*))
      .select(col("id").cast("long"), col("vec").cast("array<double>"),
        col("layers").cast("array<array<bigint>>"), col("__shard").cast("int"),
        lit(false).as("__new"))
    // a batch id already in the graph would become a duplicate node —
    // fail loudly (shard = pure id hash, so any duplicate lands in a
    // touched shard and this check sees it)
    val dupes = batch.select(col("id"))
      .join(resident.select(col("id")), Seq("id"), "left_semi")
      .limit(5).collect().map(_.getLong(0))
    require(dupes.isEmpty,
      s"appendToIndex: ids already present in the index (tombstoned ids " +
        s"included — rebuildWithoutTombstones first): ${dupes.mkString(", ")}")
    // stale tombstones (id erased AND gone from the graph, now re-added)
    // must not keep filtering the fresh vector — clear them
    healTombstones(spark, path)
    val tsPath = tombstones(path)
    if (Partitioned.exists(spark, tsPath)) {
      val ts = spark.read.parquet(tsPath)
      val stale = ts.join(batch.select(col("id")), Seq("id"), "left_semi").count()
      if (stale > 0) {
        val keep = ts.join(batch.select(col("id")), Seq("id"), "left_anti")
          .coalesce(1).localCheckpoint(true)
        if (keep.count() > 0) {
          // write-new-then-swap (the manifest-last discipline): the kept
          // tombstones exist on disk BEFORE the old list goes, and
          // [[healTombstones]] completes a clear that crashed between
          // the delete and the rename — no crash point loses the list;
          // a __swap leftover from a crash BEFORE the delete is stale
          // (the full old list still stands) and is overwritten here.
          val tmp = tombstoneSwap(path)
          Partitioned.deleteTree(spark, tmp)
          keep.write.mode("overwrite").parquet(tmp)
          Partitioned.deleteTree(spark, tsPath)
          require(rename(spark, tmp, tsPath),
            s"tombstone swap rename failed: $tmp -> $tsPath")
        } else dropTombstones(spark, path) // live list AND any stale swap
      }
    }
    val updated = resident
      .unionByName(batch.withColumn("__new", lit(true)))
      .repartition(math.max(touched.length, 1), col("__shard"))
      .as[(Long, Seq[Double], Seq[Seq[Long]], Int, Boolean)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._4).iterator.flatMap { case (shard, rows) =>
          // resident nodes keep their id order (the original insertion
          // order); new nodes append after them in ascending id
          val old = rows.filter(!_._5).sortBy(_._1)
          val fresh = rows.filter(_._5).sortBy(_._1)
          val all = old ++ fresh
          // levels are a pure function of the id — recomputed, never
          // stored state that could drift
          val g = new Graph(all.map(_._1), all.map(_._2.toArray),
            all.map(r => level(r._1)), mm, efc)
          val idx = g.ids.zipWithIndex.toMap
          old.zipWithIndex.foreach { case ((_, _, layers, _, _), i) =>
            if (layers != null) g.preload(i, layers, idx)
          }
          g.insertFrom(old.length)
          g.ids.indices.iterator.map(g.row(_, shard))
        }
      }
      .toDF("id", "vec", "level", "layers", "__shard")
    Partitioned.replacePartitions(spark, s"$path/nodes",
      touched.toSeq.map(t => s"__shard=$t"), stored(updated), "__shard"): Unit
  }
}

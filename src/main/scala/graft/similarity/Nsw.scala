package graft.similarity

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-based ANN — navigable-small-world graphs (Malkov et al. 2014,
  * "Approximate nearest neighbor algorithm based on navigable small world
  * graphs"; the single-layer ancestor of HNSW), in the standard
  * distributed layout: the corpus is hash-sharded, each shard builds an
  * IN-PARTITION proximity graph, and a query greedily walks every
  * shard's graph in parallel before a global top-k merge. This is the
  * "shard + per-shard graph index" architecture of production vector
  * stores, and the graph-family complement to the cluster-pruned
  * ([[Ivf]]) and code-compressed ([[Pq]]) paths.
  *
  * Scale shape: the build is `mapPartitions` (the documented last-resort
  * tier — genuinely per-partition imperative state: a mutable adjacency
  * list); each shard's graph is O(shard × m) edges and never leaves its
  * executor. Queries are a guarded driver-side broadcast (the x4 exact
  * top-k contract: query sets are small by definition). Search work is
  * `shards × ef` distance evaluations per query — independent of corpus
  * size per shard — and only (query, candidate, cosine) rows reach the
  * merge shuffle. Unlike IVF there is no training step, and appends are
  * per-shard local inserts.
  *
  * Determinism: insertion order is ascending id within each shard,
  * sharding is an explicit `pmod(xxhash64(id))` (replayable for
  * appends), and every float comparison breaks ties on ascending id —
  * identical results run to run. Approximation comes only from greedy
  * search escaping to local optima; recall is spec-asserted against
  * [[Ann.cosineTopK]].
  */
object Nsw {

  private val MaxQueries = 100000L

  /** Hard per-shard row bound — the [[Hnsw.MaxShardRows]] contract:
    * each shard's graph lives in executor memory, so exceeding the
    * bound fails loudly instead of OOM-ing mid-build. Guideline:
    * `numShards ≈ corpusRows / 500_000`.
    */
  val MaxShardRows: Int = Hnsw.MaxShardRows

  /** Effective bound — test seam, mirrors [[Hnsw.shardRowBound]]. */
  private[graft] var shardRowBound: Int = MaxShardRows

  /** One shard's graph: id-sorted nodes + adjacency over node indices.
    * `insertFrom(i0)` runs the incremental NSW construction for indices
    * ≥ i0 (assumes the prefix is already linked); `search` is best-first
    * beam search from the entry node (index 0).
    */
  private final class Graph(
      val ids: Array[Long],
      val vecs: Array[Array[Double]],
      val m: Int,
      val efConstruction: Int) {
    require(ids.length <= shardRowBound,
      s"NSW shard holds ${ids.length} rows > MaxShardRows=$shardRowBound " +
        "— raise numShards (see Hnsw.MaxShardRows)")
    val norms: Array[Double] =
      vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    val adj: Array[mutable.ArrayBuffer[Int]] =
      Array.fill(ids.length)(mutable.ArrayBuffer.empty[Int])
    private val maxDeg = 2 * m

    def cos(v: Array[Double], nv: Double, i: Int): Double = {
      val c = vecs(i)
      var s = 0.0; var j = 0
      while (j < c.length) { s += v(j) * c(j); j += 1 }
      val d = nv * norms(i)
      if (d > 0) s / d else 0.0
    }

    /** Up to `width` node indices among indices < `limit`, best first. */
    def search(v: Array[Double], nv: Double, width: Int,
        limit: Int): Array[Int] = {
      val visited = mutable.BitSet(0)
      val cand = mutable.PriorityQueue((cos(v, nv, 0), 0))(
        Ordering.by[(Double, Int), (Double, Double)] {
          case (c, i) => (c, -i.toDouble) })
      val found = mutable.ArrayBuffer((cos(v, nv, 0), 0))
      def worstFound: Double =
        if (found.size < width) Double.NegativeInfinity
        else found.minBy { case (c, i) => (c, -i.toDouble) }._1
      while (cand.nonEmpty && cand.head._1 >= worstFound) {
        val (_, cur) = cand.dequeue()
        adj(cur).foreach { nb =>
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

    /** Incremental construction: link each node ≥ `i0` to its m nearest
      * among the already-linked prefix, bidirectional, degree-capped.
      */
    def insertFrom(i0: Int): Unit = {
      var i = math.max(i0, 1)
      while (i < ids.length) {
        val links = search(vecs(i), norms(i), efConstruction, i).take(m)
        links.foreach { n =>
          adj(i) += n
          adj(n) += i
          if (adj(n).size > maxDeg) {
            val kept = adj(n).distinct
              .map(x => (cos(vecs(n), norms(n), x), x))
              .sortBy { case (c, x) => (-c, x) }
              .take(maxDeg).map(_._2)
            adj(n).clear(); adj(n) ++= kept
          }
        }
        i += 1
      }
    }
  }

  private def collectQueries(
      queries: DataFrame, featCol: String, queryIdCol: String)
      : Array[(Long, Array[Double], Double)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(graft.Tables.atMostRows(queries, MaxQueries),
      s"NSW search broadcasts the query vectors; got > $MaxQueries rows — " +
        "swap the arguments or batch the queries")
    queries
      .select(col(queryIdCol).cast("long"), col(featCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray, math.sqrt(v.map(x => x * x).sum)) }
      .sortBy(_._1)
  }

  /** Walk one in-memory shard for every broadcast query. */
  private def walk(
      g: Graph, qs: Array[(Long, Array[Double], Double)],
      k: Int, ef: Int, excludeSelf: Boolean): Iterator[(Long, Long, Double)] =
    qs.iterator.flatMap { case (qid, qv, qn) =>
      g.search(qv, qn, math.max(ef, k + 1), g.ids.length)
        .iterator
        .map(idx => (qid, g.ids(idx), g.cos(qv, qn, idx)))
        .filter { case (q, cid, _) => !excludeSelf || q != cid }
        .take(k)
    }

  /** Approximate cosine top-k via per-shard NSW graphs built on the fly.
    * Output: `queryIdCol`, `rank`, `neighbor_id`, `cosine` — the
    * [[Ann.cosineTopK]] shape.
    */
  def cosineTopKNsw(
      corpus: DataFrame,
      queries: DataFrame,
      featCol: String,
      corpusIdCol: String,
      queryIdCol: String,
      k: Int,
      m: Int = 8,
      efConstruction: Int = 32,
      efSearch: Int = 48,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && m > 0 && efConstruction >= m && efSearch >= k,
      s"need k>0, m>0, efConstruction>=m, efSearch>=k: $k $m $efConstruction $efSearch")
    val spark = corpus.sparkSession
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(
      collectQueries(queries, featCol, queryIdCol))
    val (mm, efc, ef) = (m, efConstruction, efSearch)
    val locals = graft.Tables.spread(corpus)
      .select(col(corpusIdCol).cast("long"), col(featCol).cast("array<double>"))
      .repartition(col(corpusIdCol))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val nodes = it.map { case (id, v) => (id, v.toArray) }
          .toArray.sortBy(_._1)
        if (nodes.isEmpty) Iterator.empty
        else {
          val g = new Graph(nodes.map(_._1), nodes.map(_._2), mm, efc)
          g.insertFrom(1)
          walk(g, qB.value, k, ef, excludeSelf)
        }
      }
      .toDF("__qid", "__cid", "__cos")
    Ann.rankTopKScored(locals, queryIdCol, k, col("__cos"))
  }

  /** Persist per-shard NSW graphs: `<path>/nodes` parquet partitioned by
    * `__shard` with `(id, vec, neighbors)` (neighbor IDs), plus
    * `<path>/meta` carrying the shard count and build parameters —
    * everything [[searchIndex]]/[[appendToIndex]] need to reopen the
    * graph without rebuilding it. Sharding is `pmod(xxhash64(id),
    * numShards)` so an append batch lands in the same shards the build
    * used.
    */
  def writeIndex(
      corpus: DataFrame,
      featCol: String,
      corpusIdCol: String,
      path: String,
      numShards: Int = 8,
      m: Int = 8,
      efConstruction: Int = 32): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    buildGraphRows(corpus, featCol, corpusIdCol, numShards, m, efConstruction)
      .repartition(numShards, col("__shard"))
      .write.mode("overwrite").partitionBy("__shard").parquet(s"$path/nodes")
    // driver-written JSON sidecar — consulted per search/append, so no
    // Spark job per consultation (graft.sources.MetaJson)
    graft.sources.MetaJson.write(spark, s"$path/meta", Seq(
      "num_shards" -> numShards.toLong, "m" -> m.toLong,
      "ef_construction" -> efConstruction.toLong))
  }

  /** Per-shard NSW graphs as ROWS `(id, vec, neighbors, __shard)` —
    * [[writeIndex]] minus the persistence, so the realized adjacency is
    * PINNABLE in-run: a caller can checkpoint the frame, collect the
    * structure for a walk-replay oracle, and search the very same graph
    * with [[searchGraphRows]] — the on-the-fly lifecycle with the
    * persisted index's auditability.
    */
  def buildGraphRows(
      corpus: DataFrame,
      featCol: String,
      corpusIdCol: String,
      numShards: Int = 8,
      m: Int = 8,
      efConstruction: Int = 32): DataFrame = {
    require(numShards > 0 && m > 0 && efConstruction >= m,
      s"need numShards>0, m>0, efConstruction>=m: $numShards $m $efConstruction")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (mm, efc) = (m, efConstruction)
    corpus
      .select(col(corpusIdCol).cast("long").as("id"),
        col(featCol).cast("array<double>").as("vec"))
      .withColumn("__shard",
        pmod(xxhash64(col("id")), lit(numShards.toLong)).cast("int"))
      .repartition(numShards, col("__shard"))
      .as[(Long, Seq[Double], Int)]
      .mapPartitions { it =>
        // hash partitioning maps every shard wholly into one task; a
        // task may hold several shards — group and build each
        it.toArray.groupBy(_._3).iterator.flatMap { case (shard, rows) =>
          val nodes = rows.map { case (id, v, _) => (id, v.toArray) }
            .sortBy(_._1)
          val g = new Graph(nodes.map(_._1), nodes.map(_._2), mm, efc)
          g.insertFrom(1)
          g.ids.indices.iterator.map { i =>
            (g.ids(i), g.vecs(i).toSeq,
              g.adj(i).map(g.ids(_)).sorted.toSeq, shard)
          }
        }
      }
      .toDF("id", "vec", "neighbors", "__shard")
  }

  /** Search a persisted NSW index: read the shard partitions, rebuild
    * each shard's adjacency in memory from the stored neighbor lists (no
    * re-linking), and walk every shard for the broadcast queries. Output
    * as [[cosineTopKNsw]].
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
    val meta = graft.sources.MetaJson.read(spark, s"$path/meta")
    searchGraphRows(spark.read.parquet(s"$path/nodes"), queries,
      featCol, queryIdCol, k,
      m = meta("m").toInt,
      efConstruction = meta("ef_construction").toInt,
      efSearch = efSearch, excludeSelf = excludeSelf)
  }

  /** Walk graphs given as ROWS (the [[buildGraphRows]] /
    * `<path>/nodes` shape: `id, vec, neighbors, __shard`): rebuild each
    * shard's adjacency from the stored neighbor lists (no re-linking)
    * and run the beam for the broadcast queries — [[searchIndex]] is
    * exactly this over a parquet read, so a frame search and a
    * persisted-index search share one walk.
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
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && efSearch >= k, s"need k>0, efSearch>=k: $k $efSearch")
    val spark = graphRows.sparkSession
    import spark.implicits._
    val (mm, efc) = (m, efConstruction)
    val qB = spark.sparkContext.broadcast(
      collectQueries(queries, featCol, queryIdCol))
    val ef = efSearch
    val locals = graphRows
      .select(col("id").cast("long"), col("vec").cast("array<double>"),
        col("neighbors").cast("array<bigint>"), col("__shard").cast("int"))
      .repartition(col("__shard"))
      .as[(Long, Seq[Double], Seq[Long], Int)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._4).iterator.flatMap { case (_, rows) =>
          val sorted = rows.sortBy(_._1)
          val g = new Graph(sorted.map(_._1), sorted.map(_._2.toArray), mm, efc)
          val idx = g.ids.zipWithIndex.toMap
          sorted.zipWithIndex.foreach { case ((_, _, nbs, _), i) =>
            g.adj(i) ++= nbs.flatMap(idx.get)
          }
          walk(g, qB.value, k, ef, excludeSelf)
        }
      }
      .toDF("__qid", "__cid", "__cos")
    Ann.rankTopKScored(locals, queryIdCol, k, col("__cos"))
  }

  /** Incrementally grow a persisted NSW index — the graph-path ingest
    * loop: new rows hash to their shards, ONLY the touched shards are
    * read back, the new nodes run the same incremental insertion against
    * the existing graph (ascending new id, after all resident nodes —
    * like any incremental ANN index the final graph depends on ingest
    * history, but search over the persisted state stays deterministic),
    * and the touched shard partitions are rewritten in place. Untouched
    * shards' files are never read or written.
    */
  def appendToIndex(
      newRows: DataFrame,
      featCol: String,
      corpusIdCol: String,
      path: String): Unit = {
    val spark = newRows.sparkSession
    import spark.implicits._
    val meta = graft.sources.MetaJson.read(spark, s"$path/meta")
    val (numShards, mm, efc) = (meta("num_shards").toInt,
      meta("m").toInt, meta("ef_construction").toInt)
    val batch = newRows
      .select(col(corpusIdCol).cast("long").as("id"),
        col(featCol).cast("array<double>").as("vec"),
        lit(null).cast("array<bigint>").as("neighbors"))
      .withColumn("__shard",
        pmod(xxhash64(col("id")), lit(numShards.toLong)).cast("int"))
    val touched = batch.select(col("__shard")).distinct()
      .collect().map(_.getInt(0)).sorted
    val resident = spark.read.parquet(s"$path/nodes")
      .filter(col("__shard").isin(touched.map(Int.box): _*))
      .select(col("id").cast("long"), col("vec").cast("array<double>"),
        col("neighbors").cast("array<bigint>"), col("__shard").cast("int"),
        lit(false).as("__new"))
    val updated = resident
      .unionByName(batch.withColumn("__new", lit(true)))
      .repartition(math.max(touched.length, 1), col("__shard"))
      .as[(Long, Seq[Double], Seq[Long], Int, Boolean)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._4).iterator.flatMap { case (shard, rows) =>
          // resident nodes keep their id order (the original insertion
          // order); new nodes append after them in ascending id
          val old = rows.filter(!_._5).sortBy(_._1)
          val fresh = rows.filter(_._5).sortBy(_._1)
          val all = old ++ fresh
          val g = new Graph(all.map(_._1), all.map(_._2.toArray), mm, efc)
          val idx = g.ids.zipWithIndex.toMap
          old.zipWithIndex.foreach { case ((_, _, nbs, _, _), i) =>
            if (nbs != null) g.adj(i) ++= nbs.flatMap(idx.get)
          }
          g.insertFrom(old.length)
          g.ids.indices.iterator.map { i =>
            (g.ids(i), g.vecs(i).toSeq,
              g.adj(i).map(g.ids(_)).sorted.toSeq, shard)
          }
        }
      }
      .toDF("id", "vec", "neighbors", "__shard")
      // materialize BEFORE overwriting the partitions being read
      .localCheckpoint(true)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try updated
      .repartition(math.max(touched.length, 1), col("__shard"))
      .write.mode("overwrite").partitionBy("__shard").parquet(s"$path/nodes")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}

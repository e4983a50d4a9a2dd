package graft.similarity

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
  * An NSW graph is an [[Hnsw]] graph with every node on level 0
  * ([[Hnsw.Flat]]): one layer, the beam starting at the shard's first
  * node, each node linked to its m nearest among the already-inserted
  * prefix with degree cap `2m`. So the build, the walk, the shard store
  * and the touched-shard append are HNSW's; this object keeps the NSW
  * API and its on-disk shape — `neighbors` (HNSW's `layers[0]`) in place
  * of `level, layers`, and meta without `level_seed`.
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

  /** Hard per-shard row bound — the [[Hnsw.MaxShardRows]] contract:
    * each shard's graph lives in executor memory, so exceeding the
    * bound fails loudly instead of OOM-ing mid-build. Guideline:
    * `numShards ≈ corpusRows / 500_000`.
    */
  val MaxShardRows: Int = Hnsw.MaxShardRows

  /** Stored NSW rows `(id, vec, neighbors, __shard)` as HNSW's layered
    * rows: every node on level 0, its one layer the neighbor list.
    */
  private def layered(nodes: DataFrame): DataFrame =
    nodes.select(col("id"), col("vec"), lit(0).as("level"),
      array(col("neighbors")).as("layers"), col("__shard"))

  /** HNSW's layered rows of a flat graph as stored NSW rows. */
  private def flat(layered: DataFrame): DataFrame =
    layered.select(col("id"), col("vec"), col("layers")(0).as("neighbors"),
      col("__shard"))

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
    Hnsw.topKOnTheFly(corpus, queries, featCol, corpusIdCol, queryIdCol, k,
      m, efConstruction, efSearch, excludeSelf, Hnsw.Flat)
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
      efConstruction: Int = 32): Unit =
    Hnsw.writeGraph(buildGraphRows(corpus, featCol, corpusIdCol, numShards,
      m, efConstruction), path, numShards, m, efConstruction, Nil)

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
    flat(Hnsw.layeredRows(corpus, featCol, corpusIdCol, numShards, m,
      efConstruction, Hnsw.Flat))
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
      excludeSelf: Boolean = true): DataFrame =
    Hnsw.searchGraphRows(layered(graphRows), queries, featCol, queryIdCol,
      k, m, efConstruction, efSearch, excludeSelf)

  /** Incrementally grow a persisted NSW index — the graph-path ingest
    * loop, [[Hnsw.appendShards]] on the flat graph: new rows hash to
    * their shards, ONLY the touched shards are read back, the new nodes
    * run the same incremental insertion against the existing graph
    * (ascending new id, after all resident nodes), and the touched shard
    * directories are replaced. Untouched shards' files are never read or
    * written. A batch id already in the graph is rejected.
    */
  def appendToIndex(
      newRows: DataFrame,
      featCol: String,
      corpusIdCol: String,
      path: String): Unit =
    Hnsw.appendShards(newRows, featCol, corpusIdCol, path,
      graft.sources.MetaJson.read(newRows.sparkSession, s"$path/meta"),
      Hnsw.Flat, layered, flat)
}

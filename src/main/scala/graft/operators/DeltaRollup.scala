package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact incremental aggregate maintenance over a changelog — the
  * materialized-view upkeep pattern (Flink retract streams / Materialize
  * / Delta Live Tables): a persisted per-key summary is advanced by each
  * batch's DELTA, never by rescanning the corpus. At 100 TB this is the
  * difference between a per-batch O(batch) aggregate and a nightly
  * O(table) recompute — the summary stays exact because the maintained
  * aggregates (COUNT, SUM) are abelian-group aggregates: insertions add,
  * retractions subtract, and merge order cannot matter.
  *
  * That group structure is the correctness boundary, stated loudly: MIN/
  * MAX/DISTINCT are NOT retractable (removing the current minimum needs
  * the runner-up, which only a rescan or an auxiliary structure knows) —
  * this operator deliberately supports the retractable family only, and
  * the summary schema is fixed to (key, n_rows, weight_sum).
  *
  * Changelog rows carry `opCol` = +1 (insert) / −1 (retract). Retracting
  * a row that was never inserted is the caller's bug; the summary then
  * honestly reports the (possibly negative) net — exactly what a
  * recompute over the net row multiset would.
  *
  * Scale shape per batch: one batch-keyed partial aggregate (map-side
  * combine, batch-sized) unioned with the summary (key-count-sized, read
  * from parquet) into one merge aggregate; the result is pinned via
  * localCheckpoint before overwriting its own input directory. Keys
  * whose net count AND weight reach zero are dropped, so the summary
  * never accretes dead keys.
  */
object DeltaRollup {

  /** True iff a summary exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean =
    graft.sources.Partitioned.exists(spark, path)

  /** Drop the summary (fresh-build convenience). */
  def drop(spark: SparkSession, path: String): Unit =
    graft.sources.Partitioned.deleteTree(spark, path)

  /** Read the current summary: `(keyCols..., n_rows, weight_sum)`. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Advance the summary at `path` by one changelog batch and return the
    * new summary. `weight` is the per-row measure being summed (e.g. a
    * token count); `opCol` must be +1/−1.
    */
  def applyBatch(
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      opCol: String,
      weight: Column): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val spark = batch.sparkSession
    val keys = keyCols.map(col)
    val delta = batch.groupBy(keys: _*)
      .agg(sum(col(opCol)).cast("long").as("n_rows"),
        sum(col(opCol).cast("long") * weight.cast("long")).as("weight_sum"))
    val merged = (if (exists(spark, path))
        read(spark, path).unionByName(delta)
      else delta)
      .groupBy(keys: _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("weight_sum")).as("weight_sum"))
      .filter(col("n_rows") =!= 0L || col("weight_sum") =!= 0L)
      // pinned BEFORE the overwrite replaces the directory being read
      .coalesce(1).localCheckpoint(true)
    merged.write.mode("overwrite").parquet(path)
    merged
  }
}

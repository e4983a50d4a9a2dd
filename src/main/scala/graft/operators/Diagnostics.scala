package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-shuffle skew diagnostics — the measurement step before reaching
  * for [[Joins.saltedJoin]] or AQE skew hints: which join/grouping keys
  * are hot, and how hot relative to the key population. At 100 TB the
  * wrong answer to "is this key skewed?" costs a straggler task that
  * runs for hours; the diagnosis itself is two small aggregates.
  *
  * Scale shape: one count aggregate on the key (the same shuffle the
  * diagnosed join would do, but carrying only (key, count) rows), a
  * single-row population summary off the count frame, and a distributed
  * top-k for the heavy-hitter list (each map task forwards only its local
  * top-k candidate counts; only the k winners are numbered, in one task).
  */
object Diagnostics {

  /** Top-`k` heaviest keys with population context: `rank`, the key
    * column(s), `n_rows` (the key's count), `share` (fraction of all
    * rows), `skew_factor` (count / mean rows-per-key — >10 is the usual
    * "salt this" threshold), plus constant population columns `n_keys`
    * and `mean_rows_per_key`. Ties rank by ascending key for a
    * deterministic, oracle-checkable report.
    */
  def skewReport(
      df: DataFrame, keyCols: Seq[String], k: Int = 5): DataFrame = {
    require(keyCols.nonEmpty, "skewReport needs at least one key column")
    require(k > 0, s"k must be positive: $k")
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
    val pop = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n_rows")).as("__total"),
      avg(col("n_rows")).as("mean_rows_per_key"))
    // distributed top-k (each task keeps its own k best), then number
    // only those k rows: sorted as structs led by -n_rows, in the same
    // (n_rows desc, keys asc nulls first) order as the ranking
    val top = counts
      .orderBy(col("n_rows").desc +: keyCols.map(c => col(c).asc): _*)
      .limit(k)
      .agg(sort_array(collect_list(struct(
        (-col("n_rows")).as("__o") +: keyCols.map(col) :+ col("n_rows"): _*)))
        .as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select((col("__pos") + 1).as("rank") +:
        (keyCols :+ "n_rows").map(c => col("__e").getField(c).as(c)): _*)
    top
      .crossJoin(broadcast(pop))
      .select(col("rank") +: keyCols.map(col) :+
        col("n_rows") :+
        round(col("n_rows") / col("__total"), 6).as("share") :+
        round(col("n_rows") / col("mean_rows_per_key"), 6).as("skew_factor") :+
        col("n_keys") :+
        round(col("mean_rows_per_key"), 6).as("mean_rows_per_key"): _*)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + long-format fixture helpers. */
trait SparkSpec extends AnyFunSuite {
  /** `local[4]` whatever `SPARK_GRAFT_CPUS` says, under the mains' config. */
  lazy val spark: SparkSession = Session.local(4)

  /** Fresh RAM-backed checkpoint dir for one streaming query. A session-
    * global `spark.sql.streaming.checkpointLocation` keys checkpoints by
    * queryName, so a second test reusing a name fails with "does not
    * support recovering from checkpoint" — every stream gets its own dir
    * instead.
    */
  def freshCkpt(): String =
    s"${Scratch.sub("ckpt-test")}/${java.util.UUID.randomUUID()}"

  /** One or more named series → long frame (series_id, t, value). */
  def seriesDf(series: (String, Seq[Double])*): DataFrame = {
    val rows = series.flatMap { case (id, vs) =>
      vs.zipWithIndex.map { case (v, i) => (id, i.toLong, v) }
    }
    import spark.implicits._
    rows.toDF("series_id", "t", "value")
  }

  /** Collect one series' outCol ordered by t. */
  def outSeries(df: DataFrame, id: String, outCol: String): Seq[Double] = {
    import org.apache.spark.sql.functions._
    df.filter(col("series_id") === id).orderBy(col("t"))
      .select(col(outCol)).collect().map(_.getDouble(0)).toSeq
  }

  def assertSeqAlmost(got: Seq[Double], exp: Seq[Double], tol: Double = 1e-9): Unit = {
    assert(got.length == exp.length, s"length ${got.length} != ${exp.length}: $got vs $exp")
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) <= tol, s"idx $i: $g != $e (got $got, exp $exp)")
    }
  }
}

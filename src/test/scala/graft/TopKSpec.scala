package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.TopK

/** The native [[graft.functions.TopK]] aggregate must return what the
  * typed `Aggregator` it replaced returned, hit for hit, under any input
  * partitioning.
  */
class TopKSpec extends SparkSpec {
  import TopKSpec._

  private def typed(k: Int) = udaf(new TopKAgg(k), Encoders.product[Scored])

  /** Each group's hits as (score bits, id, payload): bits, so that NaN
    * equals NaN and -0.0 differs from 0.0.
    */
  private def hits(df: DataFrame): Map[Long, Seq[(Long, Long, Long)]] =
    df.collect().map { r =>
      r.getLong(0) -> r.getStruct(1).getSeq[org.apache.spark.sql.Row](0).map(h =>
        (java.lang.Double.doubleToLongBits(h.getDouble(0)), h.getLong(1), h.getLong(2)))
    }.toMap

  test("native top-k equals the typed Aggregator: ties, NaN, -0.0, k above the group size") {
    import spark.implicits._
    val scores = Seq(0.5, 0.5, -0.0, 0.0, Double.NaN, Double.NaN, -1.0, 2.0, 0.5)
    // 6 groups of 1 to 40 rows; ids repeat so (score, id) ties occur, and
    // the payload follows the id so a tie cannot pick a different payload
    val rows = for {
      g <- 0L until 6L
      i <- 0 until (1 + 8 * g.toInt)
    } yield (g, scores((i * 7 + g.toInt) % scores.size), (i % 5).toLong, (i % 5) * 10L)
    val src = rows.toDF("g", "s", "id", "p")
    for (parts <- Seq(1, 3, 8); k <- Seq(1, 3, 50)) {
      val df = src.repartition(parts)
      val native = df.groupBy(col("g")).agg(TopK(col("s"), col("id"), col("p"), k).as("tk"))
      val old = df.groupBy(col("g")).agg(typed(k)(col("s"), col("id"), col("p")).as("tk"))
      assert(native.schema == old.schema, s"${native.schema} vs ${old.schema}")
      assert(hits(native) == hits(old), s"parts=$parts k=$k")
      assert(hits(native).forall(_._2.size <= k))
    }
  }

  test("an empty input gives empty hits, as the typed Aggregator does") {
    import spark.implicits._
    val empty = Seq((0L, 1.0, 1L, 1L)).toDF("g", "s", "id", "p").filter(lit(false))
    for (parts <- Seq(1, 3, 8)) {
      val df = empty.repartition(parts)
      val native = df.agg(TopK(col("s"), col("id"), col("p"), 3))
      val old = df.agg(typed(3)(col("s"), col("id"), col("p")))
      assert(native.collect().map(_.getStruct(0).getSeq[Any](0)).toSeq == Seq(Seq.empty))
      assert(old.collect().map(_.getStruct(0).getSeq[Any](0)).toSeq == Seq(Seq.empty))
    }
  }

  test("a null score throws and names the input") {
    import spark.implicits._
    val df = Seq((0L, Some(1.0), 1L), (0L, None, 2L)).toDF("g", "s", "id")
    val e = intercept[Exception] {
      df.groupBy(col("g")).agg(TopK(col("s"), col("id"), lit(0L), 3)).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("top_k: null score from column s;")),
      messages.mkString("\n"))
  }
}

object TopKSpec {
  case class Scored(score: Double, id: Long, payload: Long)
  case class TopKHits(hits: Seq[Scored])

  /** The typed top-k `Aggregator` the native aggregate replaced, kept
    * verbatim as the reference: a Kryo buffer and a product output
    * encoder.
    */
  class TopKAgg(k: Int) extends Aggregator[Scored, ArrayBuffer[Scored], TopKHits] {
    require(k > 0)

    private def less(a: Scored, b: Scored): Boolean = {
      val c = java.lang.Double.compare(a.score, b.score)
      c < 0 || (c == 0 && a.id < b.id)
    }

    private def insert(buf: ArrayBuffer[Scored], x: Scored): ArrayBuffer[Scored] = {
      if (buf.length >= k && !less(x, buf.last)) return buf
      var i = buf.length
      while (i > 0 && less(x, buf(i - 1))) i -= 1
      buf.insert(i, x)
      if (buf.length > k) buf.remove(buf.length - 1)
      buf
    }

    override def zero: ArrayBuffer[Scored] = ArrayBuffer.empty

    override def reduce(buf: ArrayBuffer[Scored], x: Scored): ArrayBuffer[Scored] =
      insert(buf, x)

    override def merge(a: ArrayBuffer[Scored], b: ArrayBuffer[Scored]): ArrayBuffer[Scored] = {
      var i = 0
      while (i < b.length) { insert(a, b(i)); i += 1 }
      a
    }

    override def finish(buf: ArrayBuffer[Scored]): TopKHits = TopKHits(buf.toSeq)

    override def bufferEncoder: Encoder[ArrayBuffer[Scored]] =
      Encoders.kryo[ArrayBuffer[Scored]]

    override def outputEncoder: Encoder[TopKHits] = Encoders.product[TopKHits]
  }
}

package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k-per-group aggregate over `(score, id, payload)` rows:
  * `score` is the sort key (ascending; negate for descending), `id` the
  * deterministic tie-break, `payload` an opaque rider (e.g. the class
  * label for KNN).
  *
  * The scale story: a global top-k via `row_number().over(Window)` shuffles
  * the ENTIRE candidate set and sorts all candidates inside each group's
  * partition — O(|candidates|) memory/sort per key. This aggregate instead
  * keeps a k-bounded sorted buffer per (partition, key) during the partial
  * (map-side) phase, so only `k` rows per key per input partition ever
  * reach the shuffle, and the final merge is a k·P list merge. At 1000
  * executors × 100 TB the shuffle volume drops from |train|·|test| rows to
  * k·P·|test| rows.
  *
  * Ordering uses `java.lang.Double.compare` (NaN sorts last, `-0.0`
  * before `0.0`, matching Spark SQL and DuckDB ascending sort), id
  * ascending as tie-break; a row equal to one already kept on both sorts
  * after it.
  *
  * Native `TypedImperativeAggregate` in the shape of [[MinHashAgg]]: the
  * buffer is three primitive arrays, so no task derives an encoder or
  * serializes through Kryo. `eval` yields
  * `struct<hits: array<struct<score, id, payload>>>`, hits ascending. A
  * null input throws, naming the input — a top-k that skipped it would
  * rank a different set without saying so.
  */
case class TopK(
    score: Expression,
    id: Expression,
    payload: Expression,
    k: Int,
    inputNames: Seq[String] = TopK.roles,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopK.Buffer] {
  require(k > 0, s"top-k needs k > 0: $k")

  override def children: Seq[Expression] = Seq(score, id, payload)
  // nullable, as the callers' output schemas declare their hit columns
  override def nullable: Boolean = true
  override def dataType: DataType = TopK.resultType
  override def prettyName: String = "top_k"

  override def createAggregationBuffer(): TopK.Buffer = new TopK.Buffer(k)

  private def value(e: Expression, at: Int, input: InternalRow): Any = {
    val v = e.eval(input)
    if (v == null) throw new IllegalArgumentException(
      s"top_k: null ${TopK.roles(at)} from column ${inputNames(at)}; " +
        "the top-k aggregate ranks no null score, id or payload")
    v
  }

  override def update(buf: TopK.Buffer, input: InternalRow): TopK.Buffer = {
    buf.insert(
      value(score, 0, input).asInstanceOf[Double],
      value(id, 1, input).asInstanceOf[Long],
      value(payload, 2, input).asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopK.Buffer, other: TopK.Buffer): TopK.Buffer = {
    var i = 0
    while (i < other.n) {
      buf.insert(other.scores(i), other.ids(i), other.payloads(i))
      i += 1
    }
    buf
  }

  override def eval(buf: TopK.Buffer): Any = {
    val hits = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      hits(i) = new GenericInternalRow(Array[Any](buf.scores(i), buf.ids(i), buf.payloads(i)))
      i += 1
    }
    InternalRow(new GenericArrayData(hits))
  }

  override def serialize(buf: TopK.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 24 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.scores(i)).putLong(buf.ids(i)).putLong(buf.payloads(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopK.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopK.Buffer(k)
    buf.n = bb.getInt()
    var i = 0
    while (i < buf.n) {
      buf.scores(i) = bb.getDouble()
      buf.ids(i) = bb.getLong()
      buf.payloads(i) = bb.getLong()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopK =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren(2))
}

object TopK {
  private[functions] val roles = Seq("score", "id", "payload")

  val resultType: StructType = StructType(Seq(StructField("hits", ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("payload", LongType, nullable = false))),
    containsNull = true))))

  /** The first `n` of `k` slots hold the kept rows, ascending. */
  final class Buffer(k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    val payloads = new Array[Long](k)
    var n = 0

    private def less(s: Double, i: Long, j: Int): Boolean = {
      val c = java.lang.Double.compare(s, scores(j))
      c < 0 || (c == 0 && i < ids(j))
    }

    /** Insert into the ascending-sorted bounded buffer (O(k) shift; k is
      * small by construction — this is a top-k, not a sort). When full,
      * the last slot is the one dropped.
      */
    def insert(s: Double, i: Long, p: Long): Unit =
      if (n < k || less(s, i, k - 1)) {
        var j = if (n < k) n else k - 1
        while (j > 0 && less(s, i, j - 1)) {
          scores(j) = scores(j - 1); ids(j) = ids(j - 1); payloads(j) = payloads(j - 1)
          j -= 1
        }
        scores(j) = s; ids(j) = i; payloads(j) = p
        if (n < k) n += 1
      }
  }

  /** Column API: the `k` smallest `(score, id)` rows of each group with
    * their payloads, as `struct<hits: array<struct<score, id, payload>>>`.
    * The inputs are cast to double, long and long.
    */
  def apply(score: Column, id: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(TopK(
      ColumnBridge.expression(score.cast(DoubleType)),
      ColumnBridge.expression(id.cast(LongType)),
      ColumnBridge.expression(payload.cast(LongType)),
      k, Seq(score, id, payload).map(_.toString)).toAggregateExpression())
}

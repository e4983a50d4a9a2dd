package graft.functions

import java.util.Comparator

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row character n-gram frequency list, sorted by
  * `(count DESC, gram ASC)` — the Cavnar–Trenkle rank-profile kernel
  * ([[graft.text.LangId]], x110) computed WITHOUT leaving the row.
  *
  * All n-grams of a document live inside that document's own row, so
  * per-doc counting needs no shuffle at all: the declarative
  * `explode → groupBy(doc, gram) → row_number window` path shuffles and
  * window-sorts ~13M exploded rows at bench SF where this expression
  * does one hash-count + one bounded sort per document and emits the
  * finished rank list (~hundreds of entries). The per-LANGUAGE profile
  * aggregation — the only genuinely cross-row step — stays a normal
  * `explode → groupBy(lang, gram)` over the pre-counted entries, so the
  * corpus text is tokenized once per consumer and the only shuffle left
  * carries partially-aggregated `(lang, gram, c)` rows.
  *
  * Contract parity (drives the x110 oracle + the fused-vs-composed
  * equivalence spec):
  *  - input is the ALREADY-NORMALIZED text (normalization stays the
  *    shared Column-side [[graft.text.TextOps.normalize]], so this path
  *    and the declarative one transform identical strings);
  *  - grams are code-point windows `[i, i+n)`, duplicates counted, like
  *    `substr(i, n)` over `sequence(1, len−n+1)`; fewer than `n` code
  *    points → empty list;
  *  - ties sort by the gram's UTF-8 binary order ([[UTF8String#compareTo]]),
  *    matching Spark's and DuckDB's default string ordering.
  *
  * Interpreted eval ([[CodegenFallback]]): the loop is allocation-heavy
  * (hash map + sort per row) and runs once per document — not a
  * per-element hot scalar like [[ArrayDot]] — so fallback cost is noise
  * while whole-stage codegen still fuses the surrounding projection.
  */
case class GramCountList(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"gram size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gramcountlist requires a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("gram", StringType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // Standalone copy: output grams reference this buffer, which must
    // outlive the (possibly reused) row backing the input string.
    val bytes = s.getBytes
    val starts = CodePoints.starts(bytes)
    val m = starts.length - 1
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i + n <= m) {
      val g = UTF8String.fromBytes(bytes, starts(i), starts(i + n) - starts(i))
      val slot = counts.get(g)
      if (slot == null) counts.put(g, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val entries = new Array[(UTF8String, Long)](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      entries(j) = (e.getKey, e.getValue()(0))
      j += 1
    }
    java.util.Arrays.sort(entries, new Comparator[(UTF8String, Long)] {
      override def compare(a: (UTF8String, Long), b: (UTF8String, Long)): Int = {
        val byCount = java.lang.Long.compare(b._2, a._2)
        if (byCount != 0) byCount else a._1.compareTo(b._1)
      }
    })
    new GenericArrayData(entries.map { case (g, c) =>
      InternalRow(g.clone(), c): Any
    })
  }

  override protected def withNewChildInternal(newChild: Expression): GramCountList =
    copy(child = newChild)
}

/** UTF-8 code-point boundaries, shared by the per-row gram kernels. */
private[functions] object CodePoints {
  /** Start byte offset of each code point of `bytes`, then `bytes.length`:
    * code point `i` spans `[starts(i), starts(i + 1))`. One linear scan,
    * stepping by lead byte as [[UTF8String#numChars]] and `substr` do.
    */
  def starts(bytes: Array[Byte]): Array[Int] = {
    val starts = new Array[Int](bytes.length + 1)
    var m = 0
    var off = 0
    while (off < bytes.length) {
      starts(m) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      m += 1
    }
    starts(m) = bytes.length
    if (m == bytes.length) starts else java.util.Arrays.copyOf(starts, m + 1)
  }
}

object GramCountList {
  /** Column API: sorted `(gram, c)` frequency list of the string's
    * character n-grams.
    */
  def apply(text: Column, n: Int): Column =
    ColumnBridge.column(GramCountList(ColumnBridge.expression(text), n))
}

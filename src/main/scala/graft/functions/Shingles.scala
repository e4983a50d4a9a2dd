package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct shingles of one string, in first-occurrence order — the unit
  * set of the near-dup family ([[graft.text.TextOps.charShingles]],
  * [[graft.text.TextOps.wordShingles]]), computed in one pass over the
  * row's bytes.
  *
  * The composed form it replaces, `array_distinct(transform(sequence(…),
  * i => substr(s, i, n)))`, is an interpreted higher-order function, and
  * each `substr` re-counts the string's code points and walks to its
  * offset, so one document cost O(length²). This expression finds the
  * window boundaries once and emits each window as a slice of the input
  * bytes, de-duplicated through one hash set.
  *
  * Output parity with the composed forms (pinned by `ShinglesSpec`):
  *  - char mode (`words = false`): code-point windows `[i, i+n)`; fewer
  *    than `n` code points → one element holding the whole string (`""` →
  *    `[""]`); null → `[null]`;
  *  - word mode (`words = true`): tokens are the string split on `' '`
  *    with empty tokens kept (`split(s, " ")`), a window is `n` tokens
  *    joined by `' '` (`concat_ws(" ", slice(…))`); fewer than `n` tokens
  *    → empty array; null → null (`size(null)` is null under ANSI).
  */
case class Shingles(child: Expression, n: Int, words: Boolean)
    extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles requires a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = !words && child.nullable)
  override def nullable: Boolean = words && child.nullable
  override def prettyName: String = "shingles"

  override def eval(input: InternalRow): Any =
    Shingles.compute(child.eval(input).asInstanceOf[UTF8String], n, words)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} = graft.functions.Shingles.compute(
      |  ${c.isNull} ? null : ${c.value}, $n, $words);
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  /** Column API: distinct code-point `n`-grams of `text`. */
  def chars(text: Column, n: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(text), n, words = false))

  /** Column API: distinct `n`-token windows of `text` split on `' '`. */
  def words(text: Column, n: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(text), n, words = true))

  /** The kernel; generated code calls it through the static forwarder. */
  def compute(s: UTF8String, n: Int, words: Boolean): ArrayData = {
    if (s == null) return if (words) null else new GenericArrayData(Array[Any](null))
    // Output grams slice this buffer; it is the input's own array or a
    // fresh copy, never a reused row buffer.
    val bytes = s.getBytes
    // Unit t starts at byte starts(t); window i spans
    // [starts(i), starts(i + n) - gap), gap skipping the ' ' separator.
    val starts = if (words) tokenStarts(bytes) else CodePoints.starts(bytes)
    val gap = if (words) 1 else 0
    val units = starts.length - 1
    if (units < n) {
      return new GenericArrayData(
        if (words) Array.empty[Any] else Array[Any](UTF8String.fromBytes(bytes)))
    }
    val seen = new java.util.HashSet[UTF8String]()
    val out = new Array[Any](units - n + 1)
    var m = 0
    var i = 0
    while (i + n <= units) {
      val g = UTF8String.fromBytes(bytes, starts(i), starts(i + n) - gap - starts(i))
      if (seen.add(g)) { out(m) = g; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else out.take(m))
  }

  /** Start byte offset of each `' '`-separated token (empty ones included,
    * as `split(s, " ")` keeps them), then `bytes.length + 1`.
    */
  private def tokenStarts(bytes: Array[Byte]): Array[Int] = {
    var k = 1
    var j = 0
    while (j < bytes.length) { if (bytes(j) == ' ') k += 1; j += 1 }
    val starts = new Array[Int](k + 1)
    var t = 0
    j = 0
    while (j < bytes.length) {
      if (bytes(j) == ' ') { t += 1; starts(t) = j + 1 }
      j += 1
    }
    starts(k) = bytes.length + 1
    starts
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** The native [[graft.functions.Shingles]] kernel must reproduce the
  * composed higher-order-function forms it replaced, element for element
  * and in the same order, with codegen on and off.
  */
class ShinglesSpec extends SparkSpec {

  // The composed forms TextOps used before the native kernel: the reference.
  private def refChars(text: Column, n: Int): Column =
    element_at(
      transform(array(TextOps.normalize(text)), s =>
        array_distinct(
          transform(
            sequence(lit(0), greatest(length(s) - n, lit(0))),
            i => s.substr(i + 1, lit(n))))),
      1)

  private def refWords(text: Column, n: Int): Column =
    element_at(
      transform(array(split(TextOps.normalize(text), " ")), w =>
        when(size(w) < n, array().cast("array<string>"))
          .otherwise(array_distinct(
            transform(
              sequence(lit(1), size(w) - (n - 1)),
              i => concat_ws(" ", slice(w, i, lit(n))))))),
      1)

  private def grams(df: DataFrame, c: Column): Seq[Option[Seq[String]]] =
    df.select(c).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getSeq[String](0).toSeq)).toSeq

  private def withCodegen[T](on: Boolean)(body: => T): T =
    if (on) body
    else {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try body
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }

  /** Native vs reference, row for row, under both evaluation paths. */
  private def assertParity(texts: Seq[String], ns: Seq[Int]): Unit = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "text")
      .orderBy("i")
    for (on <- Seq(true, false); n <- ns) withCodegen(on) {
      val chars = grams(df, TextOps.charShingles(col("text"), n))
      assert(chars == grams(df, refChars(col("text"), n)),
        s"char mode n=$n codegen=$on")
      val words = grams(df, TextOps.wordShingles(col("text"), n))
      assert(words == grams(df, refWords(col("text"), n)),
        s"word mode n=$n codegen=$on")
    }
  }

  test("edge cases: null, empty, shorter than n, exactly n") {
    assertParity(Seq(null, "", "ab", "abc", "a b", "a b c", " "), Seq(1, 2, 3))
  }

  test("null, empty and short inputs pin the composed form's edge values") {
    import spark.implicits._
    val df = Seq((1, null: String), (2, ""), (3, "ab"), (4, "a b")).toDF("i", "text")
      .orderBy("i")
    for (on <- Seq(true, false)) withCodegen(on) {
      assert(grams(df, TextOps.charShingles(col("text"), 3)) ==
        Seq(Some(Seq(null)), Some(Seq("")), Some(Seq("ab")), Some(Seq("a b"))))
      assert(grams(df, TextOps.wordShingles(col("text"), 3)) ==
        Seq(None, Some(Nil), Some(Nil), Some(Nil)))
    }
  }

  test("2-, 3- and 4-byte code points") {
    assertParity(Seq("héllo wörld ñandú", "日本語のテキストです", "😀😃 emoji 😀😃 x",
      "mixé 日本 😀 end", "é", "日本", "😀😃😄"), Seq(1, 2, 3, 5))
  }

  test("repeated grams keep first-occurrence order; whitespace runs collapse") {
    assertParity(Seq("abababab", "aaaaaa", "the cat the cat the cat",
      "  lead\t\ttab \n newline   trail  ", "\tx  y \n z ", "a  b   a  b"),
      Seq(2, 3, 4))
  }

  test("whole-stage codegen calls the kernel, not an interpreted fallback") {
    import org.apache.spark.sql.execution.debug.codegenString
    val df = spark.range(4).select(concat(lit("a b "), col("id").cast("string")).as("text"))
      .select(TextOps.charShingles(col("text"), 2), TextOps.wordShingles(col("text"), 2))
    df.collect()
    val code = codegenString(df.queryExecution.executedPlan)
    val calls = "graft\\.functions\\.Shingles\\.compute\\(".r.findAllIn(code).length
    assert(calls >= 2, s"$calls kernel calls in:\n$code")
  }

  test("random mixed-width texts agree with the composed forms") {
    val alphabet = Array("a", "b", "c", " ", "  ", "\t", "é", "日", "😀", "Z")
    val rnd = new scala.util.Random(17)
    val texts = (0 until 60).map(_ =>
      Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    assertParity(texts, Seq(1, 3, 5))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.text.Quality

/** The one-shuffle [[Quality.bm25]] must score every document as the
  * join-chain form it replaced (tokenize, per-(doc, term) counts, df and
  * corpus-stat joins, left join back to the document lengths).
  */
class Bm25Spec extends SparkSpec {

  // The previous join shape, kept as the reference.
  private def joinShape(df: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = df.select(col("doc_id").as("__id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
    val docLen = toks.groupBy(col("__id")).agg(count(lit(1)).as("__dl"))
    val termHits = toks.filter(col("__w").isInCollection(terms.map(_.toLowerCase)))
      .groupBy(col("__id"), col("__w")).agg(count(lit(1)).as("__tf"))
    val stats = docLen.agg(count(lit(1)).as("__n"), avg(col("__dl")).as("__avgdl"))
    val dfs = termHits.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val scored = termHits
      .join(broadcast(dfs), "__w")
      .crossJoin(broadcast(stats))
      .join(docLen, "__id")
      .withColumn("__idf",
        log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__s",
        col("__idf") * col("__tf") * (k1 + 1) /
          (col("__tf") + (col("__dl") / col("__avgdl") * b + (1 - b)) * k1))
      .groupBy(col("__id")).agg(sum(col("__s")).as("__bm25"))
    docLen.join(scored, Seq("__id"), "left")
      .select(col("__id").as("doc_id"), col("__dl").as("n_tokens"),
        coalesce(col("__bm25"), lit(0.0)).as("bm25"))
  }

  private def scores(df: DataFrame): Map[Long, (Long, Double)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  private val corpus = Seq(
    (1L, "Hash join and HASH tables"),
    (2L, "nothing relevant here at all"),
    (3L, ""),
    (4L, "   "),
    (5L, null),
    (6L, "scan the scan SCAN then join"),
    (7L, "Join\tscan  hash\nhash join"),
    (8L, "a sort merge join shuffles both sides"))

  test("one-pass bm25 equals the join-chain form; no-hit docs 0.0, empty docs dropped") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    // duplicated terms and terms differing only in case count once
    val terms = Seq("hash", "JOIN", "join", "Scan", "hash", "absent")
    val got = scores(Quality.bm25(df, "doc_id", "text", terms))
    val want = scores(joinShape(df, terms))
    assert(got.keySet == Set(1L, 2L, 6L, 7L, 8L), s"rows ${got.keySet}")
    assert(got.keySet == want.keySet)
    assert(got(2L) == ((5L, 0.0)))
    got.foreach { case (id, (ntok, s)) =>
      assert(ntok == want(id)._1, s"doc $id n_tokens")
      // only the order of a <= 3-term sum may differ
      assert(math.abs(s - want(id)._2) <= 1e-12 * math.abs(s), s"doc $id: $s vs ${want(id)._2}")
    }
    assert(got(7L)._2 > got(8L)._2 && got(8L)._2 > 0.0)
  }

  test("an empty term set scores every document 0.0") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    val got = scores(Quality.bm25(df, "doc_id", "text", Nil))
    assert(got == scores(joinShape(df, Nil)))
    assert(got.values.forall(_._2 == 0.0))
  }

  test("bm25 shuffles once on the doc id") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text").repartition(8)
    val plan = Quality.bm25(df, "doc_id", "text", Seq("hash", "join"))
      .queryExecution.executedPlan
    // before it runs, the adaptive plan's current plan is its initial one
    val initial = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val hashShuffles = initial.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.map(_.canonicalized).distinct.size == 1,
      s"hash shuffles:\n${hashShuffles.mkString("\n")}")
  }
}

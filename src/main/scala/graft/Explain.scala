package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of named queries
  * (`runMain graft.Explain <sfDir> <query> [query…]`) — the feedback loop
  * for shuffle/pushdown/codegen auditing.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSet
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Session.install(spark)
    // SPARK_GRAFT_EXEC=1: run the query through the same full-output
    // hash-reduce as Bench, then print the POST-EXECUTION adaptive plan —
    // the only place runtime exchange/stage reuse (ReusedExchange,
    // table-cache hits) is visible.
    val exec = sys.env.get("SPARK_GRAFT_EXEC").contains("1")
    SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names(n) }
      .foreach { case (n, fn) =>
        println(s"\n===== $n =====")
        val df = fn(spark, sfDir)
        if (exec) {
          import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
          val reduced = df
            .select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
            .agg(expr("bit_xor(__h)"))
          reduced.collect()
          println(reduced.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      }
    spark.stop()
  }
}

package graft

/** Dev tool: print the formatted physical plan of named queries
  * (`runMain graft.Explain <sfDir> <query> [query…]`) under the Bench
  * session config — the feedback loop for shuffle/pushdown/codegen
  * auditing.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSet
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
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
          val reduced = Bench.hashReduce(df)
          reduced.collect()
          println(reduced.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      }
    spark.stop()
  }
}

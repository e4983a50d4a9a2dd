package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.internal.StaticSQLConf

/** [[Session.install]] sizes Spark's JVM-wide codegen cache so that a
  * repeated query mix compiles nothing the second time round.
  */
class CodegenCacheSpec extends SparkSpec {
  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** Janino compiles of one run of `workload`'s query mix after `warm`
    * runs of it.
    */
  private def compilesAfter(workload: String, size: Int, warm: Int): Long = {
    val dir = "perfbench/data/sf0.001"
    val mix = new ObjectMapper().readTree(new java.io.File("perfbench/workloads.json"))
      .get(workload).get("queries").elements().asScala.map(_.asText).toSeq
    assert(mix.size == size)
    def runMix(): Long = {
      val before = Session.compiles
      for (q <- mix) Watchdog.run(spark, q) {
        Bench.hashReduce(SparkEntry.queries(q)(spark, dir)).collect()
      }
      Session.compiles - before
    }
    (1 to warm).foreach(_ => runMix())
    // a live counter, so that the 0 below is not vacuous
    assert(Session.compiles > 0, "no Janino compile in this JVM: is codegen on?")
    runMix()
  }

  test("a second run of ts_interactive's mix compiles no generated class") {
    assert(compilesAfter("ts_interactive", 12, warm = 1) == 0, "Janino compiles in the second run")
  }

  // A LIMIT's generated code names its counter from a JVM-wide sequence,
  // so a query that plans a new limit on each run (as d1_knn's broadcast
  // probe did) recompiles on each run. Two warm runs: x2_neardup's first
  // run in a JVM numbers its codegen stages differently from every later
  // one, so its second run compiles 4 sources (8 classes) once.
  test("a warm run of corpus_batch's mix compiles no generated class") {
    assert(compilesAfter("corpus_batch", 5, warm = 2) == 0, "Janino compiles in the third run")
  }

  test("install is idempotent and leaves a larger preset alone") {
    val fresh = spark.newSession()
    assert(fresh.sessionState.conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) <
      Session.CodegenCacheEntries)
    Session.install(fresh)
    Session.install(fresh)
    assert(fresh.conf.get(key) == Session.CodegenCacheEntries.toString)

    val larger = spark.newSession()
    larger.sessionState.conf.setConfString(key, "5000")
    Session.install(larger)
    assert(larger.conf.get(key) == "5000")
  }
}

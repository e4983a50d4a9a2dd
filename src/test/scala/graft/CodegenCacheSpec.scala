package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.internal.StaticSQLConf

/** [[Session.install]] sizes Spark's JVM-wide codegen cache so that a
  * repeated query mix compiles nothing the second time round.
  */
class CodegenCacheSpec extends SparkSpec {
  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("a second run of ts_interactive's mix compiles no generated class") {
    val dir = "perfbench/data/sf0.001"
    val mix = new ObjectMapper().readTree(new java.io.File("perfbench/workloads.json"))
      .get("ts_interactive").get("queries").elements().asScala.map(_.asText).toSeq
    assert(mix.size == 12)
    def runMix(): Long = {
      val before = Session.compiles
      for (q <- mix) Watchdog.run(spark, q) {
        Bench.hashReduce(SparkEntry.queries(q)(spark, dir)).collect()
      }
      Session.compiles - before
    }
    runMix()
    // a live counter, so that the 0 below is not vacuous
    assert(Session.compiles > 0, "no Janino compile in this JVM: is codegen on?")
    assert(runMix() == 0, "Janino compiles in the second run")
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

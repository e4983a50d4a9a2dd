package graft

/** The test session is built by [[Session.local]], so tests run under the
  * config that `Bench` times and `Verify` checks.
  */
class SessionSpec extends SparkSpec {
  test("the test session carries the mains' confs on local[4]") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.maxFields") == "256")
    assert(spark.sparkContext.getConf.get("spark.local.dir").startsWith(Scratch.dir + "/"))
  }
}

package graft

import java.util.concurrent.TimeUnit
import scala.concurrent.{Await, Future, TimeoutException, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Per-query time budget for the driver gates (Bench / Verify).
  *
  * Round 6 lost BOTH gate artifacts to a single hung query: the driver
  * kills the whole sbt process on its wall-clock limit, so one hang
  * recorded an empty CORRECTNESS file and an rc=124 bench instead of one
  * red row. This wrapper turns "query hangs" into "query fails after
  * `timeoutSec`": the body runs in a helper thread under a named job
  * group, and on timeout the group's Spark jobs are cancelled
  * (interrupting task threads) before the failure is rethrown to the
  * caller's normal per-query error handling.
  *
  * Budget: `SPARK_GRAFT_QUERY_TIMEOUT` seconds, default 240 — an order of
  * magnitude above any healthy query at sf0.1 (max ~20 s idle), low
  * enough that even several pathological queries cannot exhaust the
  * driver's whole-run limit.
  *
  * Every gate and benchmark query passes through here, so this is also
  * where [[Session.install]] (the fork-free `file:` filesystem and the
  * codegen cache size) is applied to a session its caller did not set up.
  */
object Watchdog {
  val DefaultTimeoutSec: Int =
    sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT").flatMap(_.toIntOption).getOrElse(240)

  def run[T](spark: SparkSession, name: String,
      timeoutSec: Int = DefaultTimeoutSec)(body: => T): T = {
    Session.install(spark)
    val group = s"graft-watchdog-$name"
    val f = Future {
      // job group is thread-local — set it on the thread running the body
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try blocking(body)
      finally spark.sparkContext.clearJobGroup()
    }
    try Await.result(f, Duration(timeoutSec, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        throw new RuntimeException(
          s"[watchdog] $name still running after ${timeoutSec}s — cancelled")
    }
  }
}

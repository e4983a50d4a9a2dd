package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // 128-wide minhash aggregates must stay inside whole-stage codegen
      .config("spark.sql.codegen.maxFields", 256)
      .config("spark.ui.enabled", "false")
      // shuffle/spill scratch on RAM-backed tmpfs when available (see
      // Scratch's header — the boot disk is routinely IO-throttled)
      .config("spark.local.dir", Scratch.sub("spark"))
      // catalog-managed tables (Bucketed) land on scratch, not in the repo cwd
      .config("spark.sql.warehouse.dir", Scratch.sub("warehouse_default"))
      .getOrCreate()
    // before the first query plans: the codegen cache is sized only once
    Session.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs a subset (the
    // driver never sets it, so the contract run always dumps everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        System.err.println(s"[verify] ${java.time.Instant.now()} running $name")
        // higher budget than Bench's: a watchdog kill here costs a
        // CORRECTNESS row, and the verify SF is small enough that only a
        // genuine hang reaches it
        try Watchdog.run(spark, name, Watchdog.DefaultTimeoutSec * 2) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

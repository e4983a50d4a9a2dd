package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** The one local session every main, dev tool and test builds, and the
  * per-session set-up it runs.
  *
  * [[local]] is the only session builder in `src/`: `Bench`, `Verify`,
  * `Profile`, `Explain` and the test trait `SparkSpec` all call it, so a
  * plan, a timing or a test result is taken under one configuration.
  * It calls [[install]] itself. [[Watchdog.run]] calls [[install]] again
  * before each query (it is idempotent and cheap): that is what sets up a
  * session a caller built itself, such as the layer-attributed
  * benchmark's harness.
  *
  * [[install]] puts on the fork-free `file:` filesystem
  * ([[graft.sources.LocalFs.install]]) and sizes Spark's codegen cache.
  *
  * Codegen cache: every whole-stage-codegen'd operator compiles Java
  * source with Janino, and Spark keeps the compiled classes in one
  * JVM-wide LRU cache of `spark.sql.codegen.cache.maxEntries` entries,
  * 100 by default. Spark 4.1 keys that cache by (context class loader,
  * source): the driver compiles each whole-stage class once under the
  * application class loader to validate it, and the tasks compile it
  * again under the `ExecutorClassLoader`, so one class fills two entries.
  * The benchmark's mixes need more than 100: `ts_interactive`'s 12
  * queries have 93 distinct sources in 124 entries (91 executor, 33
  * driver), `corpus_batch` compiles 122 classes and `index_lifecycle`
  * 115–122. Under the default, a loop over such a mix evicts each class
  * before it comes round again: every measured benchmark pass recompiled
  * 40–87 classes, and the JIT then compiled those fresh classes too. [[install]] raises
  * the size to [[CodegenCacheEntries]] and leaves a larger value alone.
  *
  * The size is a static conf and Spark reads it exactly once: when the
  * `CodeGenerator` object initializes, at the first plan that generates
  * code. So [[install]] must run before the first query of the JVM is
  * planned. When `CodegenMetrics` shows that compiles already happened
  * before any install could size the cache, the new value cannot take
  * effect; [[install]] then prints one warning and carries on.
  */
object Session {
  /** Codegen cache entries: about 8× the largest measured mix. */
  val CodegenCacheEntries: Int = 1000

  private val MaxEntries = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
  /** Only the JVM's first install can come before the cache is sized. */
  private var firstInstall = true

  /** Janino compiles in this JVM so far. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `SPARK_GRAFT_CPUS`: the mains' local core count, 4 when unset. */
  lazy val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).getOrElse(4)

  /** `SPARK_GRAFT_ONLY=q1,q2`: the query names a main runs, all when unset. */
  lazy val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC,
    * `codegen.maxFields=256`, the UI off and Spark's scratch on
    * [[Scratch]], then [[install]]ed.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // 128-wide minhash aggregates must stay inside whole-stage codegen
      .config("spark.sql.codegen.maxFields", 256)
      .config("spark.ui.enabled", "false")
      // shuffle/spill/state scratch on RAM-backed tmpfs when available —
      // the host's boot disk is routinely IO-throttled by co-tenants (see
      // Scratch's header); MB-scale shuffles and state commits must not
      // pay for it
      .config("spark.local.dir", Scratch.sub("spark"))
      // catalog-managed tables (Bucketed) land on scratch, not in the cwd
      .config("spark.sql.warehouse.dir", Scratch.sub("warehouse_default"))
      .getOrCreate()
    // before the first query plans: the codegen cache is sized only once
    install(spark)
    spark
  }

  def install(spark: SparkSession): Unit = synchronized {
    graft.sources.LocalFs.install(spark)
    val conf = spark.sessionState.conf
    val size = conf.getConf(MaxEntries)
    if (size < CodegenCacheEntries) {
      if (firstInstall && compiles > 0)
        System.err.println(s"[session] WARN $compiles codegen compiles ran before " +
          s"${MaxEntries.key} was raised to $CodegenCacheEntries; the cache keeps " +
          s"its $size entries for the life of this JVM")
      // SQLConf itself has no static-conf guard; RuntimeConfig.set would refuse
      conf.setConfString(MaxEntries.key, CodegenCacheEntries.toString)
    }
    firstInstall = false
  }
}

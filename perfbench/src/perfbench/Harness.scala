package perfbench

import java.io.{File, FileOutputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** One benchmark process: a closed loop with a single client over a fixed
  * query mix from `graft.SparkEntry.queries`.
  *
  * The process builds one `local[N]` session, runs a cold warm-up pass,
  * then a fixed number of measured passes, reshuffling the mix with the
  * seed before every pass. A fixed count (not a time budget) keeps the
  * work, the JIT history and the retained heap the same in every run.
  * Each query is timed from outside the program at its two public calls:
  * the build `fn(spark, dir)` (which includes any eager writes or fits)
  * and the terminal full-output hash, the same
  * `bit_xor(xxhash64(struct(*)))` reduce `graft.Bench` times.
  * In a traced process, measured passes 2, 3, 6, 7, … run with Spark's
  * listeners attached (see [[Tracer]]); that ABBA order cancels the
  * steady speed-up of a warming JVM in the traced-minus-untraced overhead.
  *
  * The record (samples, passes, probes, heap) goes to `--out` as one JSON
  * object; `perfbench/run.py` checks the hashes and computes the metrics.
  *
  * Arguments: `--sf-dir D --queries a,b,c --seed N --passes P
  * --max-seconds S --trace 0|1 --cores N --work-dir W --query-timeout T
  * --out F --spans F`; measuring stops early once `S` seconds are spent.
  */
object Harness {
  private final case class Sample(pass: Int, query: String, start: Long,
      buildEnd: Long, end: Long, buildS: Double, actionS: Double,
      hash: Option[String], error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sfDir = opt("sf-dir")
    val names = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val passCount = opt("passes").toInt
    val maxSeconds = opt("max-seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores")
    val work = new File(opt("work-dir"))

    // graft.Bench's confs, except that Spark's local and warehouse dirs stay
    // inside the benchmark's work dir rather than graft.Scratch (/dev/shm):
    // the benchmark writes only inside its own checkout
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", 256)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sub(work, "spark-local"))
      .config("spark.sql.warehouse.dir", sub(work, "warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val registry = graft.SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(",")}")
    val timeoutSec = opt("query-timeout").toInt

    val samples = ArrayBuffer.empty[Sample]
    def runQuery(pass: Int, name: String): Unit = {
      val fn = registry(name)
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val tBuilt = new AtomicLong(0L)
      val (hash, error) =
        try {
          val row = graft.Watchdog.run(spark, name, timeoutSec) {
            val df = fn(spark, sfDir)
            tBuilt.set(System.nanoTime())
            df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
              .agg(expr("bit_xor(__h)")).collect().head
          }
          (Some(if (row.isNullAt(0)) "null" else row.getLong(0).toString), None)
        } catch {
          case e: Throwable =>
            (None, Some(String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)))
        }
      val t1 = System.nanoTime()
      val tb = if (tBuilt.get() == 0L) t1 else tBuilt.get()
      val buildEnd = start + (tb - t0) / 1000000L
      samples += Sample(pass, name, start, buildEnd, System.currentTimeMillis(),
        (tb - t0) / 1e9, (t1 - tb) / 1e9, hash, error)
    }

    val rng = new scala.util.Random(seed)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val spans = ArrayBuffer.empty[Map[String, Any]]

    def runPass(pass: Int, withTrace: Boolean): Unit = {
      val order = rng.shuffle(names)
      // In a traced run every measured pass waits for the listener bus to
      // drain before and after it, traced or not, so both kinds give the
      // JIT the same idle gaps and the overhead compares like with like.
      if (pass > 0) tracer.foreach(t => if (withTrace) t.attach() else t.drain())
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMs
      val jit0 = jit.getTotalCompilationTime
      val from = System.currentTimeMillis()
      val t0 = System.nanoTime()
      order.foreach(runQuery(pass, _))
      val wall = (System.nanoTime() - t0) / 1e9
      val to = System.currentTimeMillis()
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      if (pass > 0) tracer.foreach(t => if (withTrace) t.detach() else t.drain())
      val layers = tracer.filter(_ => withTrace).map(_.layers(from, to))
      passes += Map("pass" -> pass, "traced" -> withTrace, "wall_s" -> wall,
        "cpu_s" -> cpu, "gc_s" -> gc, "jit_s" -> jitS, "start_ms" -> from,
        "end_ms" -> to, "layers" -> layers)
      if (withTrace) {
        val mine = samples.filter(_.pass == pass).toSeq
        val windows = mine.zipWithIndex.map { case (s, i) => (s"p$pass.q$i", s.start, s.buildEnd, s.end) }
        spans += Map("span" -> "pass", "id" -> s"p$pass", "start_ms" -> from, "end_ms" -> to)
        mine.zip(windows).foreach { case (s, (id, _, _, _)) =>
          spans += Map("span" -> "query", "id" -> id, "parent" -> s"p$pass", "query" -> s.query,
            "start_ms" -> s.start, "end_ms" -> s.end, "error" -> s.error)
          spans += Map("span" -> "build", "id" -> id, "parent" -> "query",
            "start_ms" -> s.start, "end_ms" -> s.buildEnd)
          spans += Map("span" -> "action", "id" -> id, "parent" -> "query",
            "start_ms" -> s.buildEnd, "end_ms" -> s.end)
        }
        spans ++= tracer.get.spans(windows)
      }
    }

    // pass 0 is the cold warm-up; set-up ends when it does
    runPass(0, withTrace = false)
    val setupEndMs = System.currentTimeMillis()
    val wakeBefore = graft.Scratch.wakeLatencyMicros()
    val diskBefore = diskWriteMbps(work)
    val deadline = System.nanoTime() + (maxSeconds * 1e9).toLong
    var pass = 1
    while (pass <= passCount && (pass == 1 || System.nanoTime() < deadline)) {
      runPass(pass, withTrace = traced && pass % 4 / 2 == 1)
      pass += 1
    }
    val wakeAfter = graft.Scratch.wakeLatencyMicros()
    val diskAfter = diskWriteMbps(work)
    // Spark's ContextCleaner releases shuffle and broadcast state only after
    // a GC has cleared its weak references, so collect a few times, letting
    // it run in between, and keep the smallest reading
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    val record = Map(
      "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs,
      "samples" -> samples.map(s => Map("pass" -> s.pass, "query" -> s.query,
        "build_s" -> s.buildS, "action_s" -> s.actionS, "hash" -> s.hash, "error" -> s.error)),
      "passes" -> passes,
      "live_heap_mb" -> heapMb,
      "probes" -> Map("wake_us_before" -> wakeBefore, "wake_us_after" -> wakeAfter,
        "disk_mbps_before" -> diskBefore, "disk_mbps_after" -> diskAfter))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    write(new File(opt("out")), json.writeValueAsString(record) + "\n")
    if (traced) write(new File(opt("spans")), spans.map(json.writeValueAsString).mkString("", "\n", "\n"))
    spark.stop()
  }

  private def sub(base: File, name: String): String = {
    val f = new File(base, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8)): Unit

  /** Sequential fsync write throughput (MB/s) of the disk under the
    * benchmark's work dir — the method of `graft.Scratch.diskWriteMbps`,
    * aimed inside the checkout instead of at /tmp. NaN on failure. */
  private def diskWriteMbps(dir: File): Double =
    try {
      val probe = File.createTempFile("ioprobe", ".bin", dir)
      try {
        val buf = new Array[Byte](1 << 20)
        val t0 = System.nanoTime()
        val out = new FileOutputStream(probe)
        try {
          (1 to 8).foreach(_ => out.write(buf))
          out.getFD.sync()
        } finally out.close()
        8.0 / ((System.nanoTime() - t0) / 1e9)
      } finally { probe.delete(); () }
    } catch { case _: Throwable => Double.NaN }
}

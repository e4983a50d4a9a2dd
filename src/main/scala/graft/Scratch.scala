package graft

import java.io.File

/** Fast local scratch root for the driver-gate mains.
  *
  * The bench host's disk is routinely IO-throttled by co-tenants (round-7
  * measurement: 9.6 MB/s fsync writes while CPU sat idle), which inflates
  * every shuffle write, spill, streaming state store and index write by
  * 10-20x — invisible to the loadavg snapshots in BENCH_r*.json. When a
  * RAM-backed tmpfs is present (/dev/shm, 126 GB here vs MB-scale scratch
  * data at bench SFs), point Spark's local dirs and our tmp indices at
  * it; otherwise fall back to java.io.tmpdir. On a real cluster this role
  * is played by proper executor local disks (spark.local.dir on NVMe) —
  * the bench harness deserves the same, not a throttled boot volume.
  *
  * Per-pid subdirectory, deleted on JVM exit (best effort).
  *
  * Local filesystem: everything written here through Hadoop (parquet
  * index tiers, snapshot commits, streaming checkpoints) goes through
  * the `java.nio`-backed `file:` filesystem that
  * [[graft.sources.LocalFs.install]] puts on the session. The stock one
  * forks `chmod`, `readlink` or `ls -ld` for each permission set, link
  * check and permission read, because Spark ships no `libhadoop`; the NIO
  * one keeps the CRC sidecars and the same permission bits, owners and
  * groups without a fork.
  */
object Scratch {
  lazy val dir: String = {
    val shm = new File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm
      else new File(System.getProperty("java.io.tmpdir"))
    val d = new File(base, s"graft-${ProcessHandle.current().pid()}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(d)))
    d.getAbsolutePath
  }

  /** Subdirectory of [[dir]], created on first use. */
  def sub(name: String): String = {
    val f = new File(dir, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** `input` with every character but an ASCII letter or digit replaced
    * by `_`: legal in a path segment and in a catalog table name.
    */
  def tag(input: String): String = input.replaceAll("[^A-Za-z0-9]", "_")

  /** The scratch path `graft_<name>_<tag(input)>` under [[dir]]: one per
    * query and input directory, so runs over two scale factors in one
    * JVM never share an index or a table.
    */
  def forInput(name: String, input: String): String =
    s"$dir/graft_${name}_${tag(input)}"

  private def deleteRec(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }

  /** Average thread wake-up round-trip latency in microseconds — THE
    * signal for the degraded-host mode found in round 7: the hypervisor
    * delivered futex/pipe/timer wake-ups with ~1.5-4 ms latency (normal:
    * tens of µs), so every blocking hand-off in the JVM — task dispatch,
    * job completion, codegen locks, AQE stage barriers — serialized into
    * milliseconds while CPUs sat idle and loadavg stayed low. A bench
    * total is only comparable between runs whose wake_us agree.
    * 200 ping-pongs between two threads, early-capped at ~1 s.
    */
  def wakeLatencyMicros(): Double =
    try {
      val lock = new Object
      @volatile var turn = 0 // 0 = main's turn to act, 1 = worker's
      var rounds = 0
      val n = 200
      val t = new Thread(() => lock.synchronized {
        while (rounds < n) {
          while (turn == 0 && rounds < n) lock.wait(1000)
          turn = 0; rounds += 1; lock.notifyAll()
        }
      })
      t.setDaemon(true)
      val t0 = System.nanoTime()
      t.start()
      lock.synchronized {
        while (rounds < n && System.nanoTime() - t0 < 2e9.toLong) {
          turn = 1; lock.notifyAll()
          while (turn == 1 && rounds < n) lock.wait(1000)
        }
      }
      val d = (System.nanoTime() - t0) / 1e3 / math.max(1, rounds) / 2 // per hand-off
      math.round(d * 10.0) / 10.0
    } catch { case _: Throwable => Double.NaN }

  /** Measured sequential fsync write throughput (MB/s) of the DISK (/tmp
    * explicitly — java.io.tmpdir may itself be redirected to tmpfs) — the
    * co-tenancy signal the loadavg fields miss. Writes and removes an
    * 8 MB probe file; returns NaN on any failure.
    */
  def diskWriteMbps(): Double =
    try {
      val probe = File.createTempFile("graft_ioprobe", ".bin", new File("/tmp"))
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(probe)
      try {
        var i = 0
        while (i < 8) { out.write(buf); i += 1 }
        out.getFD.sync()
      } finally out.close()
      val secs = (System.nanoTime() - t0) / 1e9
      probe.delete()
      math.round(8.0 / secs * 100.0) / 100.0
    } catch { case _: Throwable => Double.NaN }
}

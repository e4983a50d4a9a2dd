package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus,
  FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** The NIO-backed `file:` filesystem ([[graft.sources.LocalFs]]) against
  * Hadoop's stock one on the same files, and the fork it exists to remove.
  */
class LocalFsSpec extends SparkSpec {
  private val fileUri = URI.create("file:///")

  /** The installed (NIO) filesystem, and a fresh, uncached stock one. */
  private def both: (FileSystem, FileSystem) = {
    val nio = FileSystem.get(fileUri, spark.sparkContext.hadoopConfiguration)
    assert(nio.isInstanceOf[NioLocalFileSystem], s"not installed: ${nio.getClass}")
    val stockConf = new Configuration(spark.sparkContext.hadoopConfiguration)
    stockConf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    (nio, FileSystem.newInstance(fileUri, stockConf))
  }

  private def freshDir(tag: String): java.io.File = {
    val d = new java.io.File(Scratch.sub("localfs-spec"), s"$tag-${System.nanoTime()}")
    d.mkdirs()
    d
  }

  private def mode(f: java.io.File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def describe(st: FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.getModificationTime, st.getPermission,
      st.getOwner, st.getGroup)

  test("create and mkdirs leave the stock permissions under the session umask") {
    val (nio, stock) = both
    def build(fs: FileSystem, root: java.io.File): Unit = {
      val r = new Path(root.getPath)
      fs.create(new Path(r, "plain")).close()
      FileSystem.create(fs, new Path(r, "ro"), new FsPermission("440")).close()
      fs.mkdirs(new Path(r, "d/e"))
      fs.mkdirs(new Path(r, "narrow"), new FsPermission("700"))
      // the umask drops the sticky bit from a mkdirs; a chmod keeps it
      fs.mkdirs(new Path(r, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      fs.setPermission(new Path(r, "sticky"),
        new FsPermission(Integer.parseInt("1777", 8).toShort))
    }
    val (a, b) = (freshDir("perm-nio"), freshDir("perm-stock"))
    build(nio, a)
    build(stock, b)
    for (rel <- Seq("plain", "ro", "d", "d/e", "narrow", "sticky")) {
      val (fa, fb) = (new java.io.File(a, rel), new java.io.File(b, rel))
      assert(mode(fa) == mode(fb), f"$rel: ${mode(fa)}%o vs stock ${mode(fb)}%o")
      assert(nio.getFileStatus(new Path(fa.getPath)).getPermission ==
        stock.getFileStatus(new Path(fb.getPath)).getPermission, rel)
    }
    assert(mode(new java.io.File(a, "sticky")) == Integer.parseInt("1777", 8))
  }

  test("listFiles reports the stock permission, owner and group") {
    val (nio, stock) = both
    val root = freshDir("list")
    for (rel <- Seq("a.parquet", "p=1/b.parquet", "p=1/q=2/c.parquet", "_SUCCESS"))
      nio.create(new Path(s"${root.getPath}/$rel")).close()
    Files.setPosixFilePermissions(new java.io.File(root, "p=1/b.parquet").toPath,
      java.nio.file.attribute.PosixFilePermissions.fromString("rw-------"))
    def listing(fs: FileSystem) = {
      val it = fs.listFiles(new Path(root.getPath), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(i => describe(i.next())).toSeq
    }
    val got = listing(nio)
    assert(got.size == 4)
    assert(got == listing(stock))
    assert(nio.listStatus(new Path(root.getPath)).map(describe).toSeq ==
      stock.listStatus(new Path(root.getPath)).map(describe).toSeq)
    // the shared helper over the same tree: parquet only, listing order
    assert(sources.Partitioned.dataFiles(spark, root.getPath)
      .map(_.stripPrefix("file:").stripPrefix(root.getPath)) ==
      got.map(_._1.toString.stripPrefix("file:").stripPrefix(root.getPath))
        .filter(_.endsWith(".parquet")))
  }

  test("getFileLinkStatus matches the stock one on a file, a symlink and a dangling symlink") {
    val (nio, stock) = both
    val dir = freshDir("links")
    val file = new java.io.File(dir, "target.bin")
    Files.write(file.toPath, "abc".getBytes(UTF_8))
    Files.createSymbolicLink(new java.io.File(dir, "link").toPath, Paths.get("target.bin"))
    Files.createSymbolicLink(new java.io.File(dir, "dangling").toPath, Paths.get("gone.bin"))
    def link(fs: FileSystem, name: String) = {
      val st = fs.getFileLinkStatus(new Path(new java.io.File(dir, name).getPath))
      (describe(st), st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None)
    }
    for (name <- Seq("target.bin", "link", "dangling"))
      assert(link(nio, name) == link(stock, name), name)
    assert(!link(nio, "target.bin")._2)
    assert(link(nio, "link")._3.contains(new Path(s"file:${dir.getPath}/target.bin")))
    assert(link(nio, "dangling")._1._2 == 0L)
    assert(nio.getLinkTarget(new Path(new java.io.File(dir, "link").getPath)) ==
      new Path("target.bin"))
  }

  test("FileContext rename with OVERWRITE of a checkpoint-style temp file matches the stock one") {
    val nioFc = FileContext.getFileContext(fileUri, spark.sparkContext.hadoopConfiguration)
    assert(nioFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val stockConf = new Configuration(spark.sparkContext.hadoopConfiguration)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockFc = FileContext.getFileContext(fileUri, stockConf)
    // the streaming checkpoint manager's commit: write a checksum-less
    // temp file, then rename it over the previous batch file
    def commit(fc: FileContext, dir: java.io.File, body: String): Unit = {
      val tmp = new Path(s"${dir.getPath}/.1.tmp")
      val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.checksumParam(Options.ChecksumOpt.createDisabled()))
      try out.write(body.getBytes(UTF_8)) finally out.close()
      fc.rename(tmp, new Path(s"${dir.getPath}/1"), Options.Rename.OVERWRITE)
    }
    val (a, b) = (freshDir("fc-nio"), freshDir("fc-stock"))
    for ((fc, d) <- Seq(nioFc -> a, stockFc -> b)) {
      commit(fc, d, "batch-1 v1")
      commit(fc, d, "batch-1 v2")
    }
    assert(new String(Files.readAllBytes(new java.io.File(a, "1").toPath), UTF_8) == "batch-1 v2")
    assert(a.list().toSet == b.list().toSet, s"${a.list().toSeq} vs ${b.list().toSeq}")
  }

  test("checksum sidecars are written as the stock ones and verified on read") {
    val (nio, stock) = both
    val body = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    def put(fs: FileSystem, dir: java.io.File): java.io.File = {
      val out = fs.create(new Path(s"${dir.getPath}/data.bin"))
      try out.write(body) finally out.close()
      new java.io.File(dir, "data.bin")
    }
    val (a, b) = (put(nio, freshDir("crc-nio")), put(stock, freshDir("crc-stock")))
    val crc = new java.io.File(a.getParentFile, ".data.bin.crc")
    assert(crc.isFile)
    assert(Files.readAllBytes(crc.toPath).sameElements(
      Files.readAllBytes(new java.io.File(b.getParentFile, ".data.bin.crc").toPath)))
    def readBack(): Array[Byte] = {
      val in = nio.open(new Path(a.getPath))
      try in.readAllBytes() finally in.close()
    }
    assert(readBack().sameElements(body))
    // flip one byte behind the filesystem's back: the read must fail
    val raf = new java.io.RandomAccessFile(a, "rw")
    try { raf.seek(1234); raf.write(body(1234) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](readBack())
  }

  test("x32 and x95 start no process from Hadoop's Shell") {
    val dir = "perfbench/data/sf0.001"
    val starts = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val canarySeen = new CountDownLatch(1)
    val canary = "true localfs-spec-canary"
    // session start-up probes the shell once (Hadoop's setsid check);
    // that is not what this guards, so it happens before the recording
    assert(!spark.sparkContext.isStopped)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => {
        val frames = Option(e.getStackTrace).toSeq
          .flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName))
        starts.add((e.getString("command"), frames))
        if (e.getString("command") == canary) canarySeen.countDown()
      })
      rs.startAsync()
      for (q <- Seq("x32_incremental_dedup", "x95_stream_restart"))
        Watchdog.run(spark, q)(SparkEntry.queries(q)(spark, dir).collect())
      // a Shell fork of our own: proves the recording sees one, and that
      // everything the queries started has been delivered before it
      org.apache.hadoop.util.Shell.execCommand(canary.split(" "): _*)
      assert(canarySeen.await(60, TimeUnit.SECONDS), "JFR never delivered the canary")
    } finally rs.close()
    val fromShell = starts.asScala.toSeq
      .filter(_._2.exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(fromShell.map(_._1).contains(canary))
    val forks = fromShell.map(_._1).filterNot(_ == canary)
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(forks.isEmpty, "Hadoop Shell forks by command")
  }
}

package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

import graft.io.{LocalFs, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.operators.Sinks
import graft.streaming.NormalizationJob

/** graft.io.LocalFs: the same files, modes and link statuses as Hadoop's
  * local filesystem, without the per-file process spawns. */
class LocalFsSpec extends SparkSuite {
  import spark.implicits._

  private val root = URI.create("file:///")

  test("after GraftExtensions.register, FileSystem and FileContext resolve file:// to graft's classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    GraftExtensions.register(spark) // again: idempotent
    assert(FileSystem.get(root, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])

    // a stock instance cached before the install is evicted by it
    FileSystem.get(root, conf).close()
    val plain = new Configuration()
    try {
      assert(!FileSystem.get(root, plain).isInstanceOf[NioLocalFileSystem])
      LocalFs.install(plain)
      assert(FileSystem.get(root, plain).isInstanceOf[NioLocalFileSystem])
    } finally GraftExtensions.register(spark)
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Every path under a fresh directory with its mode, after the same
    * FileSystem and FileContext calls a write and a checkpoint log make. */
  private def modes(fs: FileSystem, fc: FileContext): Seq[String] = {
    val dir = Files.createTempDirectory("graft_lfs_mode")
    val d = new Path(dir.toUri)
    fs.mkdirs(new Path(d, "a/b"))
    fs.mkdirs(new Path(d, "p/q"), FsPermission.getDirDefault)
    fs.create(new Path(d, "a/b/f")).close() // and its .f.crc
    fc.mkdir(new Path(d, "c/d"), FsPermission.getDirDefault, true)
    fc.create(new Path(d, "c/d/g"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(new Path(d, "c/d/g"), new Path(d, "c/h"))
    Files.walk(dir).iterator.asScala.filter(_ != dir)
      .map(p => s"${dir.relativize(p)} ${mode(p)}").toSeq.sorted
  }

  for (umask <- Seq("022", "077"))
    test(s"created files and directories get Hadoop's modes under fs.permissions.umask-mode=$umask") {
      val stockConf = new Configuration()
      stockConf.set("fs.permissions.umask-mode", umask)
      val oursConf = new Configuration(stockConf)
      LocalFs.install(oursConf)
      val stock = new org.apache.hadoop.fs.LocalFileSystem()
      stock.initialize(root, stockConf)
      val ours = new NioLocalFileSystem()
      ours.initialize(root, oursConf)
      val stockFc = FileContext.getFileContext(root, stockConf)
      val oursFc = FileContext.getFileContext(root, oursConf)
      assert(!stockFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
      assert(oursFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])

      val want = modes(stock, stockFc)
      assert(want.exists(_.endsWith(if (umask == "077") "rw-------" else "rw-r--r--")), want)
      assert(modes(ours, oursFc) == want)
    }

  test("a symlink keeps isSymlink and its qualified target; a missing path still throws") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem()
    stock.initialize(root, conf)
    val ours = new NioRawLocalFileSystem()
    ours.initialize(root, conf)
    val dir = Files.createTempDirectory("graft_lfs_link")
    val target = Files.writeString(dir.resolve("target.txt"), "x")
    val link = new Path(Files.createSymbolicLink(dir.resolve("link"), target).toString)

    val st = ours.getFileLinkStatus(link)
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getScheme == "file")
    assert(st.getSymlink.toUri.getPath == target.toString)
    assert(st.getSymlink == stock.getFileLinkStatus(link).getSymlink)

    val fc = FileContext.getFileContext(root, { val c = new Configuration(); LocalFs.install(c); c })
    assert(fc.getFileLinkStatus(link).isSymlink)

    val plain = new Path(target.toString)
    assert(!ours.getFileLinkStatus(plain).isSymlink)
    assert(ours.getFileLinkStatus(plain).getLen == stock.getFileLinkStatus(plain).getLen)
    intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(dir.resolve("nope").toString)))
    intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(dir.resolve("nope").toString)))
  }

  /** Commands of the processes `body` starts from Hadoop filesystem code. */
  private def hadoopFsSpawns(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_spawns", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs"))))
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("a dt/hr write and a 2-batch NormalizationJob run spawn no process from Hadoop's filesystem") {
    // the one process Hadoop starts once per JVM, Shell's setsid probe
    // at class init, happens before the recording
    Class.forName(classOf[org.apache.hadoop.util.Shell].getName)

    // control: the probe sees the forks stock Hadoop makes without libhadoop
    val file = Files.createTempFile("graft_lfs_ctl", ".txt")
    val stock = new RawLocalFileSystem()
    stock.initialize(root, new Configuration())
    val control = hadoopFsSpawns(
      stock.setPermission(new Path(file.toString), new FsPermission("644")))
    assert(control.nonEmpty || NativeIO.isAvailable, "no ProcessStart event seen for a stock chmod")

    val src = Files.createTempDirectory("graft_lfs_src")
    val out = Files.createTempDirectory("graft_lfs_out").toString
    def line(id: String, hour: Int) =
      s"""[{"_id":"$id","accountId":"1","type":"credit","amount":1,""" +
        f""""createdAt":"2024-01-01 $hour%02d:00:00"}]"""
    Files.write(src.resolve("b1.jsonl"), (1 to 3).map(h => line(s"a$h", h)).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.write(src.resolve("b2.jsonl"), (4 to 6).map(h => line(s"b$h", h)).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))

    val spawns = hadoopFsSpawns {
      val rows = Seq(("x", "2024-01-01 01:00:00"), ("y", "2024-01-02 02:00:00"))
        .toDF("_id", "createdAt")
      Sinks.writePartitionedJsonlByEventTime(rows, "createdAt", s"$out/batch")
      val q = NormalizationJob.start(spark, src.toString, s"$out/stream", s"$out/ckpt",
        maxFilesPerTrigger = 1)
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    }
    assert(spark.read.json(s"$out/batch").count() == 2)
    assert(spark.read.json(s"$out/stream").count() == 6)
    assert(spawns.isEmpty, spawns.mkString("\n"))
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` implementation [[GraftSession.tuned]] installs: same modes
  * as the stock local FS, set without a child process. */
class ForkFreeLocalFileSystemSpec extends SparkTestBase {

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff
  private def initialized(fs: LocalFileSystem): LocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("created files and directories get the stock local FS's modes") {
    val root = Files.createTempDirectory("ffs-modes").toUri.toString
    val conf = new Configuration()
    def modes(fs: LocalFileSystem, tag: String): Seq[Int] = {
      val base = new Path(root, tag)
      val file = new Path(base, "part.bin")
      fs.create(file).close() // data file + .crc, both chmod-ed to the umasked default
      val dir = new Path(base, "dir")
      fs.mkdirs(dir, FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(conf)))
      val tight = new Path(base, "tight")
      fs.mkdirs(tight, new FsPermission("750"))
      Seq(file, new Path(base, ".part.bin.crc"), dir, tight, base).map(mode)
    }
    val stock = modes(initialized(new LocalFileSystem), "stock")
    assert(modes(initialized(new ForkFreeLocalFileSystem), "forkfree") == stock)
    assert(stock.take(2).forall(_ == (0x1b6 & ~FsPermission.getUMask(conf).toShort)),
      s"modes ${stock.map(_.toOctalString)}")
  }

  test("a sticky-bit mode goes to the stock implementation") {
    val d = new Path(Files.createTempDirectory("ffs-sticky").toUri.toString, "shared")
    val fs = initialized(new ForkFreeLocalFileSystem)
    fs.mkdirs(d)
    fs.setPermission(d, new FsPermission(0x3ff.toShort)) // 01777: NIO cannot set the sticky bit
    assert(mode(d) == 0x3ff, s"mode ${mode(d).toOctalString}")
  }

  test("a GraftSession session resolves file: to the fork-free FS") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.getFileSystemClass("file", conf) == classOf[ForkFreeLocalFileSystem])
    assert(new Path(Files.createTempDirectory("ffs-resolve").toUri)
      .getFileSystem(conf).isInstanceOf[ForkFreeLocalFileSystem])
  }

  test("a 16-file parquet write starts no process") {
    val out = Files.createTempDirectory("ffs-jfr").resolve("out").toString
    val rec = new Recording()
    val dump = Files.createTempFile("ffs", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      spark.range(0, 16, 1, 16).write.parquet(out)
      rec.stop()
      rec.dump(dump)
    } finally rec.close()
    val starts = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    def thread(e: RecordedEvent) = Option(e.getThread).map(_.getJavaName).getOrElse("?")
    def describe(e: RecordedEvent) = s"${e.getString("command")} [${thread(e)}]"
    // Spark's session cleaner deletes a collected session's artifact
    // directory with `rm -rf` on its own `Cleaner-N` thread, whenever GC
    // collects an unreachable session (streaming queries clone one), so
    // it can land inside the recording without the write forking anything
    val (cleaner, forks) = starts.partition(e =>
      thread(e).startsWith("Cleaner-") && e.getString("command").startsWith("rm -rf ") &&
        e.getString("command").contains("/artifacts-"))
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 16)
    assert(forks.map(describe).isEmpty,
      cleaner.map(describe).mkString("(excluded as session cleanup: ", "; ", ")"))
    Files.delete(dump)
  }
}

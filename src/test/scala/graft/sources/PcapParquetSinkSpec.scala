package graft.sources

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.{PcapToParquet, SparkTestBase}

/** The columnar sink against Spark's own parquet writer: the same scan
  * written both ways must give byte-identical part files, and a failed
  * job must leave nothing behind. */
class PcapParquetSinkSpec extends SparkTestBase {

  private def tmp(prefix: String): File = Files.createTempDirectory(prefix).toFile

  private def captureDir(files: (String, Array[Byte])*): File = {
    val d = tmp("sink-in")
    files.foreach { case (n, b) => Files.write(new File(d, n).toPath, b) }
    d
  }

  /** A seeded capture of `n` frames cycling through IPv4 TCP/UDP/ICMP with
    * random addresses and ports, IPv6, ARP, truncated headers, and UDP
    * frames with valid, stacked, FCS-trailed and out-of-window trailers. */
  private def generated(n: Int, seed: Long): Array[Byte] = {
    import PcapFixtures._
    val r = new scala.util.Random(seed)
    def ip4 = Array.fill[Byte](4)(r.nextInt(256).toByte)
    def ip6 = Array.fill[Byte](16)(r.nextInt(256).toByte)
    def port = r.nextInt(65536)
    def trailer(ts: Long) = mmTrailer(ts + r.nextInt(599) - 299, r.nextInt(1000000000),
      r.nextInt(65536), r.nextInt(256))
    pcapFile((0 until n).map { i =>
      val ts = BaseTs + i / 50
      val frame = r.nextInt(9) match {
        case 0 => ethernet(0x0800, ipv4(6, ip4, ip4, l4Ports(port, port)))
        case 1 => ethernet(0x0800, ipv4(17, ip4, ip4, l4Ports(port, port)), vlan = r.nextBoolean())
        case 2 => ethernet(0x0800, ipv4(1, ip4, ip4, Array.fill[Byte](8)(0)))
        case 3 => ethernet(0x86dd, ipv6(if (r.nextBoolean()) 6 else 17, ip6, ip6, l4Ports(port, port)))
        case 4 => ethernet(0x0806, Array.fill[Byte](28)(0))
        case 5 => ethernet(0x0800, Array[Byte](0x45, 0x00, 0x00))
        case 6 => ethernet(0x0800, ipv4(17, ip4, ip4, l4Ports(port, port) ++ trailer(ts)))
        case 7 => ethernet(0x0800, ipv4(17, ip4, ip4,
          l4Ports(port, port) ++ trailer(ts) ++ trailer(ts) ++ Array.fill[Byte](4)(0x7f)))
        case _ => ethernet(0x0800, ipv4(17, ip4, ip4,
          l4Ports(port, port) ++ mmTrailer(ts + 100000, 5, 1, 1)))
      }
      (frame, ts)
    })
  }

  private def scan(dir: File, options: (String, String)*): DataFrame =
    spark.read.format("pcap").options(options.toMap).load(dir.getAbsolutePath)
      .select(PcapParquetSink.Columns.map(col): _*)

  /** Part files of `out` by task ("part-00003"), in task order. */
  private def parts(out: File): Seq[(String, Array[Byte])] =
    out.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map(f => f.getName.take("part-00000".length) -> Files.readAllBytes(f.toPath)).toSeq

  private def rowGroups(part: File): Int = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(part.toURI), new Configuration()))
    try r.getRowGroups.size finally r.close()
  }

  /** Writes `df` with Spark's writer and with the sink; asserts the same
    * part files, byte for byte. Returns the sink's output directory. */
  private def assertSameBytes(df: => DataFrame): File = {
    val viaSpark = new File(tmp("sink-spark"), "out")
    val viaSink = new File(tmp("sink-cols"), "out")
    df.write.mode("overwrite").option("compression", "zstd")
      .option("parquet.writer.version", "v2").parquet(viaSpark.getAbsolutePath)
    PcapParquetSink.write(df, viaSink.getAbsolutePath)
    val (a, b) = (parts(viaSpark), parts(viaSink))
    assert(a.nonEmpty && a.map(_._1) == b.map(_._1), s"parts ${a.map(_._1)} vs ${b.map(_._1)}")
    a.zip(b).foreach { case ((name, x), (_, y)) =>
      assert(java.util.Arrays.equals(x, y), s"$name differs: ${x.length} vs ${y.length} bytes")
    }
    assert(new File(viaSink, "_SUCCESS").exists)
    assert(viaSink.listFiles().forall(f => f.getName.startsWith("_SUCCESS") || f.getName.startsWith(".") ||
      f.getName.endsWith("-c000.zstd.parquet")), viaSink.list().mkString(", "))
    viaSink
  }

  test("the sink's parts are byte-identical to Spark's writer's: golden pcap and pcapng") {
    val d = captureDir("a.pcap" -> PcapFixtures.goldenPcap, "b.pcapng" -> PcapFixtures.goldenPcapng,
      "c.pcap" -> PcapFixtures.mixedV6Pcap)
    assertSameBytes(scan(d))
  }

  test("byte identity on a generated capture with IPv6, NULLs and trailers, across batches") {
    val d = captureDir("g1.pcap" -> generated(20000, 1), "g2.pcap" -> generated(9000, 2))
    assertSameBytes(scan(d))
  }

  test("byte identity with a small parquet.block.size: several row groups per part") {
    val d = captureDir("g.pcap" -> generated(40000, 3))
    spark.conf.set("parquet.block.size", "65536")
    val out = try assertSameBytes(scan(d)) finally spark.conf.unset("parquet.block.size")
    val part = out.listFiles().filter(_.getName.startsWith("part-")).head
    assert(rowGroups(part) > 2, s"${rowGroups(part)} row groups")
  }

  test("byte identity on a splitBytes multi-partition read") {
    val d = captureDir("g.pcap" -> generated(30000, 4))
    val out = assertSameBytes(scan(d, "splitBytes" -> "200000"))
    assert(parts(out).size > 3)
  }

  test("the sink refuses a plan that is not a bare columnar pcap scan") {
    val d = captureDir("a.pcap" -> PcapFixtures.goldenPcap)
    val out = new File(tmp("sink-refuse"), "out").getAbsolutePath
    val reordered = spark.read.format("pcap").load(d.getAbsolutePath)
      .select(PcapParquetSink.Columns.reverse.map(col): _*)
    assert(intercept[IllegalStateException](PcapParquetSink.write(reordered, out))
      .getMessage.contains("columnar pcap scan"))
    assert(!new File(out).exists)
  }

  test("tasks report the rows and bytes they wrote in their output metrics") {
    val d = captureDir("a.pcap" -> PcapFixtures.goldenPcap, "b.pcap" -> generated(5000, 5))
    val out = new File(tmp("sink-metrics"), "out")
    val records, bytes = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        records.addAndGet(m.outputMetrics.recordsWritten)
        bytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      PcapParquetSink.write(scan(d), out.getAbsolutePath)
      val written = out.listFiles().filter(_.getName.startsWith("part-")).map(_.length).sum
      eventually(timeout(Span(30, Seconds))) {
        assert(records.get == 5012)
        assert(bytes.get == written)
      }
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a strict-mode corrupt capture fails the job naming the file and leaves no output") {
    // a truncated last record, past the first batch: the part file already exists when it fails
    val good = generated(PcapColumnarReader.BatchRows + 500, 6)
    val d = captureDir("zbad.pcap" -> good.dropRight(5))
    val out = new File(tmp("sink-fail"), "out")
    val ex = intercept[Exception](PcapToParquet.main(Array(d.getAbsolutePath, out.getAbsolutePath)))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("zbad.pcap")), messages(ex).mkString(" | "))
    val left = Option(out.list()).map(_.toSeq).getOrElse(Nil)
    assert(!left.exists(n => n == "_SUCCESS" || n.startsWith("part-") || n == "_temporary"),
      left.mkString(", "))
  }

  test("a zero-record capture reads back with the 9-column schema and no rows") {
    val d = captureDir("empty.pcap" -> PcapFixtures.pcapFile(Nil))
    val out = new File(tmp("sink-empty"), "out").getAbsolutePath
    PcapToParquet.main(Array(d.getAbsolutePath, out))
    val back = spark.read.parquet(out)
    assert(back.columns.toSeq == PcapParquetSink.Columns)
    assert(back.count() == 0)
  }

  test("main leaves the session's Hadoop and SQL conf as it found them") {
    def snapshot() = (spark.sessionState.newHadoopConf().iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap,
      spark.sparkContext.hadoopConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap,
      spark.conf.getAll)
    val before = snapshot()
    val d = captureDir("a.pcap" -> PcapFixtures.goldenPcap)
    PcapToParquet.main(Array(d.getAbsolutePath, new File(tmp("sink-conf"), "out").getAbsolutePath))
    assert(snapshot() == before)
  }
}

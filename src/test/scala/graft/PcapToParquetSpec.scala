package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.page.DataPageV2
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.sources.PcapFixtures

/** End-to-end CLI contract test: golden capture -> PcapToParquet main ->
  * parquet with the reference's 9 columns in reference order. */
class PcapToParquetSpec extends SparkTestBase {

  test("main writes the reference's 9-column zstd parquet from a capture") {
    spark // ensure the shared session exists before main's getOrCreate
    val dir = Files.createTempDirectory("p2p").toFile
    val in = new java.io.File(dir, "golden.pcap")
    Files.write(in.toPath, PcapFixtures.goldenPcap)
    val out = new java.io.File(dir, "out.parquet").getAbsolutePath

    PcapToParquet.main(Array(in.getAbsolutePath, out))

    val back = spark.read.parquet(out)
    assert(back.schema.fieldNames.toSeq == Seq("src_ip", "dst_ip", "len",
      "protocol", "src_port", "dst_port", "mm_ts", "mm_id", "mm_port"))
    assert(back.count() == 12)
    val udp = back.filter(org.apache.spark.sql.functions.col("protocol") === "UDP").count()
    assert(udp >= 4) // golden frames 1,7,8,9,10,11 are UDP
  }

  test("main writes v2 data pages without setting the writer version on the session") {
    spark
    val dir = Files.createTempDirectory("p2p-v2").toFile
    Files.write(new java.io.File(dir, "golden.pcap").toPath, PcapFixtures.goldenPcap)
    val out = new java.io.File(dir, "out.parquet")

    PcapToParquet.main(Array(dir.getAbsolutePath, out.getAbsolutePath))

    assert(spark.sparkContext.hadoopConfiguration.get("parquet.writer.version") == null)
    assert(spark.sessionState.newHadoopConf().get("parquet.writer.version") == null)
    val part = out.listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(part.toURI), new Configuration()))
    try {
      val columns = reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
      val pages = reader.readNextRowGroup()
      columns.foreach { c =>
        val page = pages.getPageReader(c).readPage()
        assert(page.isInstanceOf[DataPageV2], s"${c.getPath.mkString(".")}: $page")
      }
    } finally reader.close()
  }

  test("shuffle-free plan; per-capture record order preserved in each output part") {
    val dir = Files.createTempDirectory("p2p-order").toFile
    Files.write(new java.io.File(dir, "a.pcap").toPath, PcapFixtures.goldenPcap)
    Files.write(new java.io.File(dir, "b.pcapng").toPath, PcapFixtures.goldenPcapng)
    val out = new java.io.File(dir, "out.parquet").getAbsolutePath

    // the CLI's exact read shape plans with NO Exchange (pure map-side)
    val shape = spark.read.format("pcap").load(dir.getAbsolutePath)
      .select("src_ip", "dst_ip", "len", "protocol", "src_port", "dst_port",
              "mm_ts", "mm_id", "mm_port")
    assert(!shape.queryExecution.executedPlan.toString.contains("Exchange"),
      "CLI plan gained a shuffle")

    PcapToParquet.main(Array(dir.getAbsolutePath, out))

    // one part per capture, each in the capture's sequential record order
    val expected = graft.sources.PcapParser
      .parseFile(PcapFixtures.goldenPcap).toVector
      .map(p => (p.src_port, p.dst_port, p.protocol, p.len))
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.length == 2, s"expected one part per capture, got ${parts.length}")
    parts.foreach { part =>
      val rows = spark.read.parquet(part.getAbsolutePath).collect().toVector
        .map(r => (Option(r.getAs[Integer]("src_port")).map(_.toInt),
                   Option(r.getAs[Integer]("dst_port")).map(_.toInt),
                   Option(r.getAs[String]("protocol")),
                   Option(r.getAs[java.lang.Long]("len")).map(_.toLong)))
      assert(rows == expected, s"record order lost in ${part.getName}")
    }
  }
}

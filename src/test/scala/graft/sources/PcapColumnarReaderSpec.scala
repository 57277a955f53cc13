package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sources.PcapParser.Packet

/** The columnar reader against the direct parser, over captures longer
  * than one batch. */
class PcapColumnarReaderSpec extends SparkTestBase {

  // golden + IPv6 frames cycled past one batch: NULL fields and trailers
  // (valid, stacked, behind an FCS, out of window) on both sides of every
  // batch boundary; timestamps drift by < 300 s, so trailers stay valid
  private val N = PcapColumnarReader.BatchRows + 907
  private lazy val frames = {
    val base = PcapFixtures.goldenFrames ++ PcapFixtures.mixedV6Frames
    (0 until N).map { i => val (b, ts) = base(i % base.size); (b, ts + i / base.size) }
  }
  private lazy val dir = Files.createTempDirectory("pcap-columnar").toFile
  /** Writes `bytes` as the only capture of a fresh directory; returns its
    * listed (uri, length). */
  private def capture(name: String, bytes: Array[Byte]): (String, Long) = {
    val d = new java.io.File(dir, name.replace('.', '-'))
    d.mkdirs()
    Files.write(new java.io.File(d, name).toPath, bytes)
    PcapDataSource.listCaptureFilesWithLen(d.getAbsolutePath,
      spark.sessionState.newHadoopConf()).head
  }
  private lazy val legacyBytes = PcapFixtures.pcapFile(frames)
  private lazy val legacy = capture("big.pcap", legacyBytes)
  private lazy val ngBytes = PcapFixtures.pcapngFile(frames)
  private lazy val ng = capture("big.pcapng", ngBytes)

  private def factory(schema: StructType, filters: Array[Filter] = Array.empty,
                      strict: Boolean = true): PartitionReaderFactory =
    new PcapReaderFactory(schema, filters, strict, spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf())))

  /** Every row `f` reads from `parts` as Options in `schema` order, and
    * the size of each batch. */
  private def read(f: PartitionReaderFactory, schema: StructType,
                   parts: Seq[InputPartition]): (Vector[Seq[Option[Any]]], Vector[Int]) = {
    val rows = Vector.newBuilder[Seq[Option[Any]]]
    val sizes = Vector.newBuilder[Int]
    parts.foreach { p =>
      assert(f.supportColumnarReads(p))
      val r = f.createColumnarReader(p)
      try while (r.next()) {
        val b = r.get()
        sizes += b.numRows
        (0 until b.numRows).foreach { i =>
          rows += schema.fields.indices.map { c =>
            val v = b.column(c)
            if (v.isNullAt(i)) None
            else Some(schema(c).dataType match {
              case StringType => v.getUTF8String(i).toString
              case LongType => v.getLong(i)
              case IntegerType => v.getInt(i)
            })
          }
        }
      } finally r.close()
    }
    (rows.result(), sizes.result())
  }

  private def field(file: String, p: Packet, name: String): Option[Any] = name match {
    case "file" => Some(file)
    case "pkt_idx" => Some(p.pkt_idx)
    case "src_ip" => p.src_ip
    case "dst_ip" => p.dst_ip
    case "len" => p.len
    case "protocol" => p.protocol
    case "src_port" => p.src_port
    case "dst_port" => p.dst_port
    case "mm_ts" => p.mm_ts
    case "mm_id" => p.mm_id
    case "mm_port" => p.mm_port
  }
  private def expected(file: String, ps: Seq[Packet], schema: StructType) =
    ps.map(p => schema.fieldNames.toSeq.map(field(file, p, _))).toVector

  /** Equal row vectors, or a failure naming the first differing row. */
  private def assertRows(got: Vector[Seq[Option[Any]]], want: Vector[Seq[Option[Any]]],
                         what: String): Unit = {
    val i = got.indices.find(i => i >= want.size || got(i) != want(i))
      .getOrElse(want.size.min(got.size))
    assert(got.size == want.size && i == got.size,
      s"$what: ${got.size} rows vs ${want.size}; first difference at row $i: " +
        s"${got.lift(i)} vs ${want.lift(i)}")
  }

  private def cols(names: String*): StructType =
    StructType(names.map(PcapDataSource.schema(_)))

  test("columnar reader equals parseFile across batches: pruning, filters, chunks, pcapng, truncation") {
    val full = PcapDataSource.schema
    val (file, len) = legacy
    val direct = PcapParser.parseFile(legacyBytes).toVector
    assert(direct.size == N)
    val whole = Seq(PcapFilePartition(file, len))

    // every pruned column group decodes exactly its columns
    val groups = Seq(full, cols("src_ip", "dst_ip"), cols("protocol", "src_port", "dst_port"),
      cols("mm_ts", "mm_id", "mm_port"), cols("file", "pkt_idx", "len"), StructType(Nil))
    groups.foreach { s =>
      val (rows, sizes) = read(factory(s), s, whole)
      assert(sizes == Vector(PcapColumnarReader.BatchRows, N - PcapColumnarReader.BatchRows),
        s"batches for ${s.fieldNames.mkString(",")}: $sizes")
      assertRows(rows, expected(file, direct, s), s"columns ${s.fieldNames.mkString(",")}")
    }
    // the fixture really has NULLs and trailers on both sides of the boundary
    Seq(direct.take(PcapColumnarReader.BatchRows), direct.drop(PcapColumnarReader.BatchRows))
      .foreach { half =>
        assert(half.exists(_.mm_ts.isDefined) && half.exists(_.protocol.isEmpty) &&
          half.exists(_.src_ip.exists(_.contains(":"))))
      }

    // pushed filters run on the decoded scalars, also when their columns are pruned
    val filters: Seq[(Filter, Packet => Boolean)] = Seq(
      EqualTo("protocol", "UDP") -> (_.protocol.contains("UDP")),
      In("protocol", Array[Any]("TCP", "ICMPv6", "GRE")) ->
        (p => p.protocol.exists(Set("TCP", "ICMPv6"))),
      IsNull("protocol") -> (_.protocol.isEmpty),
      And(GreaterThanOrEqual("src_port", 1000), LessThan("len", 80L)) ->
        (p => p.src_port.exists(_ >= 1000) && p.len.exists(_ < 80)),
      In("dst_port", Array[Any](53, 67, 2000)) -> (p => p.dst_port.exists(Set(53, 67, 2000))),
      IsNotNull("dst_port") -> (_.dst_port.isDefined),
      GreaterThan("pkt_idx", 4000L) -> (_.pkt_idx > 4000))
    for ((f, keep) <- filters; s <- Seq(full, cols("pkt_idx"))) {
      val want = expected(file, direct.filter(keep), s)
      assert(want.nonEmpty && want.size < N, s"vacuous filter $f")
      assertRows(read(factory(s, Array(f)), s, whole)._1, want,
        s"filter $f over ${s.fieldNames.mkString(",")}")
    }

    // splitBytes chunks, legacy (seek-skim) and pcapng (full-buffer range walk)
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    for ((path, bytes) <- Seq(legacy._1 -> legacyBytes, ng._1 -> ngBytes)) {
      val sb = new PcapScanBuilder(path, strict = true, conf, splitBytes = 100000L)
      val parts = sb.planInputPartitions().toSeq
      assert(parts.size > 2)
      assertRows(read(sb.createReaderFactory(), full, parts)._1,
        expected(path, PcapParser.parseFile(bytes).toVector, full), s"chunks of $path")
    }

    // pcapng, unsplit
    assertRows(read(factory(full), full, Seq(PcapFilePartition(ng._1, ng._2)))._1,
      expected(ng._1, PcapParser.parseFile(ngBytes).toVector, full), "pcapng")

    // a truncated last record: strict names the capture, permissive salvages
    val cutBytes = legacyBytes.take(legacyBytes.length - 7)
    val (cutFile, cutLen) = capture("cut.pcap", cutBytes)
    val cut = Seq(PcapFilePartition(cutFile, cutLen))
    val e = intercept[PcapParser.PcapFormatException](read(factory(full), full, cut))
    assert(e.getMessage.contains("cut.pcap"))
    val salvaged = PcapParser.parseFile(cutBytes).toVector
    assert(salvaged.size == N)
    assertRows(read(factory(full, strict = false), full, cut)._1,
      expected(cutFile, salvaged, full), "permissive truncation")
  }
}

package graft.sources

import graft.SparkTestBase
import graft.sources.PcapParser.Packet
import graft.sources.PcapFixtures.BaseTs

/** Golden-row tests for the 12 fixture frames of FIXTURES.md §2 — pins the
  * reference semantics (/root/reference/src/main.rs:128-252) including the
  * behavioral quirks: first-appended trailer wins, FCS retry, ±300 s
  * heuristic window, and our bounds-safe divergence on truncation. */
class PcapParserSpec extends SparkTestBase {
  lazy val rows: Vector[Packet] = PcapParser.parseFile(PcapFixtures.goldenPcap).toVector

  test("parses all 12 records of the golden capture") {
    assert(rows.size == 12)
    assert(rows.map(_.pkt_idx) == (0L until 12L).toVector)
  }

  test("1: IPv4/UDP — ips, ports, protocol set; mm_* NULL") {
    val p = rows(0)
    assert(p.src_ip.contains("10.0.0.1") && p.dst_ip.contains("10.0.0.2"))
    assert(p.protocol.contains("UDP"))
    assert(p.src_port.contains(5353) && p.dst_port.contains(53))
    assert(p.len.contains(42L))
    assert(p.mm_ts.isEmpty && p.mm_id.isEmpty && p.mm_port.isEmpty)
  }

  test("2: IPv4/TCP — protocol TCP with ports") {
    val p = rows(1)
    assert(p.protocol.contains("TCP"))
    assert(p.src_port.contains(443) && p.dst_port.contains(59000))
  }

  test("3+4: ICMP/IGMP — protocol named, ports NULL (README.md:29-30)") {
    assert(rows(2).protocol.contains("ICMP") && rows(2).src_port.isEmpty)
    assert(rows(3).protocol.contains("IGMP") && rows(3).dst_port.isEmpty)
  }

  test("5: unmapped IP protocol (GRE 47) — ips set, protocol NULL") {
    val p = rows(4)
    assert(p.src_ip.contains("10.0.0.1") && p.protocol.isEmpty)
  }

  test("6: ARP — only len set (main.rs:247-250 silent ignore)") {
    val p = rows(5)
    assert(p.len.contains(42L))
    assert(p.src_ip.isEmpty && p.dst_ip.isEmpty && p.protocol.isEmpty)
  }

  test("7: single 802.1Q VLAN tag — inner IPv4/UDP decoded at offset 18") {
    val p = rows(6)
    assert(p.protocol.contains("UDP"))
    assert(p.src_port.contains(68) && p.dst_port.contains(67))
  }

  test("8: valid Metamako trailer — mm_ts = s*1e9+ns, id, port") {
    val p = rows(7)
    assert(p.mm_ts.contains((BaseTs + 1) * 1000000000L + 500))
    assert(p.mm_id.contains(7) && p.mm_port.contains(3))
    assert(p.protocol.contains("UDP")) // network decode unaffected
  }

  test("9: stacked trailers — first-appended (innermost) wins (main.rs:127)") {
    val p = rows(8)
    assert(p.mm_ts.contains((BaseTs + 1) * 1000000000L + 111))
    assert(p.mm_id.contains(1) && p.mm_port.contains(1))
  }

  test("10: trailer behind 4-byte FCS — found by the len-4 retry (main.rs:141)") {
    val p = rows(9)
    assert(p.mm_ts.contains((BaseTs + 3) * 1000000000L + 333))
    assert(p.mm_id.contains(9) && p.mm_port.contains(4))
  }

  test("11: trailer-lookalike outside ±300 s window — rejected (main.rs:174)") {
    val p = rows(10)
    assert(p.mm_ts.isEmpty && p.mm_id.isEmpty && p.mm_port.isEmpty)
  }

  test("12: truncated IPv4 header — NULLs, not a crash (divergence from main.rs:190-191)") {
    val p = rows(11)
    assert(p.len.contains(17L))
    assert(p.src_ip.isEmpty && p.protocol.isEmpty)
  }

  test("IPv6: full-form addresses, TCP ports through an extension chain, ICMPv6 (r7 extension)") {
    val src = Array.tabulate[Byte](16)(i => if (i == 0) 0x20 else if (i == 1) 0x01 else 0)
    val dst = Array.tabulate[Byte](16)(i => if (i == 15) 1 else 0)
    // plain TCP
    val tcp = PcapFixtures.ethernet(0x86dd,
      PcapFixtures.ipv6(6, src, dst, PcapFixtures.l4Ports(443, 55000)))
    val p1 = PcapParser.decodeRecord(0, tcp, BaseTs, tcp.length.toLong)
    assert(p1.src_ip.contains("2001:0:0:0:0:0:0:0"))
    assert(p1.dst_ip.contains("0:0:0:0:0:0:0:1"))
    assert(p1.protocol.contains("TCP") && p1.src_port.contains(443)
      && p1.dst_port.contains(55000))
    // hop-by-hop (0) then dest-opts (60) then UDP: the walk crosses both
    val udp = PcapFixtures.ethernet(0x86dd, PcapFixtures.ipv6(0, src, dst,
      PcapFixtures.ipv6Ext(60) ++ PcapFixtures.ipv6Ext(17) ++
        PcapFixtures.l4Ports(53, 5353)))
    val p2 = PcapParser.decodeRecord(1, udp, BaseTs, udp.length.toLong)
    assert(p2.protocol.contains("UDP") && p2.src_port.contains(53))
    // ICMPv6: protocol named, no ports
    val icmp = PcapFixtures.ethernet(0x86dd,
      PcapFixtures.ipv6(58, src, dst, Array.fill[Byte](8)(0)))
    val p3 = PcapParser.decodeRecord(2, icmp, BaseTs, icmp.length.toLong)
    assert(p3.protocol.contains("ICMPv6") && p3.src_port.isEmpty)
    // truncated fixed header: len only, no crash
    val trunc = PcapFixtures.ethernet(0x86dd,
      PcapFixtures.ipv6(6, src, dst, Array.emptyByteArray).take(20))
    val p4 = PcapParser.decodeRecord(3, trunc, BaseTs, trunc.length.toLong)
    assert(p4.src_ip.isEmpty && p4.protocol.isEmpty)
  }

  test("VLAN tag stacks: QinQ and triple-tag decode, 5-deep stops NULL (r7 extension)") {
    val v4 = PcapFixtures.ipv4(17, Array[Byte](10, 0, 0, 1),
      Array[Byte](10, 0, 0, 2), PcapFixtures.l4Ports(68, 67))
    val qinq = PcapFixtures.ethernetStacked(Seq(0x88a8, 0x8100), 0x0800, v4)
    val p1 = PcapParser.decodeRecord(0, qinq, BaseTs, qinq.length.toLong)
    assert(p1.src_ip.contains("10.0.0.1") && p1.protocol.contains("UDP"),
      s"QinQ frame must decode: $p1")
    val triple = PcapFixtures.ethernetStacked(Seq(0x9100, 0x88a8, 0x8100), 0x0800, v4)
    val p2 = PcapParser.decodeRecord(1, triple, BaseTs, triple.length.toLong)
    assert(p2.protocol.contains("UDP"))
    // bounded walk: 5 tags exceeds the 4-tag cap -> fields stay NULL
    val five = PcapFixtures.ethernetStacked(Seq.fill(5)(0x8100), 0x0800, v4)
    val p3 = PcapParser.decodeRecord(2, five, BaseTs, five.length.toLong)
    assert(p3.src_ip.isEmpty && p3.protocol.isEmpty)
  }

  test("ns >= 1e9 in the ns field rejects the trailer (main.rs:174)") {
    val frame = PcapFixtures.ethernet(0x0800, PcapFixtures.ipv4(17,
      Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 0, 2),
      PcapFixtures.l4Ports(1, 2) ++ PcapFixtures.mmTrailer(BaseTs, 1000000000, 5, 5)))
    val p = PcapParser.decodeRecord(0, frame, BaseTs, frame.length.toLong)
    assert(p.mm_ts.isEmpty)
  }

  test("pcapng magic yields an empty iterator instead of the reference's panic (main.rs:108)") {
    val ng = Array[Byte](0x0a, 0x0d, 0x0d, 0x0a) ++ Array.fill[Byte](40)(0)
    assert(PcapParser.parseFile(ng).isEmpty)
  }

  /** A record header with an arbitrary u32 incl_len, followed by `payload`
    * bytes, appended after a valid LE global header. */
  private def pcapWithRawLen(inclLen: Long, origLen: Long,
                             payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(24 + 16 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0xa1b2c3d4).putShort(2).putShort(4).putInt(0).putInt(0)
    bb.putInt(65535).putInt(1)                             // global header
    bb.putInt(BaseTs.toInt).putInt(0)                      // ts_sec, ts_usec
    bb.putInt(inclLen.toInt).putInt(origLen.toInt)         // incl_len, orig_len
    bb.put(payload)
    bb.array()
  }

  test("strict mode raises on pcapng magic, naming the capture") {
    val ng = Array[Byte](0x0a, 0x0d, 0x0d, 0x0a) ++ Array.fill[Byte](40)(0)
    val e = intercept[PcapParser.PcapFormatException] {
      PcapParser.parseFile(ng, strict = true, name = "roll-0042.pcapng").toVector
    }
    assert(e.getMessage.contains("roll-0042.pcapng"))
    assert(e.getMessage.contains("magic"))
  }

  test("strict mode raises on a truncated global header") {
    val e = intercept[PcapParser.PcapFormatException] {
      PcapParser.parseFile(Array[Byte](1, 2, 3), strict = true, name = "short.pcap").toVector
    }
    assert(e.getMessage.contains("short.pcap"))
  }

  test("strict mode raises on a record claiming more bytes than remain") {
    val frame = PcapFixtures.goldenFrames.head._1
    val e = intercept[PcapParser.PcapFormatException] {
      PcapParser.parseFile(pcapWithRawLen(frame.length + 24L, frame.length.toLong, frame),
        strict = true, name = "cut.pcap").toVector
    }
    assert(e.getMessage.contains("cut.pcap") && e.getMessage.contains("record 0"))
  }

  test("strict mode passes the intact golden capture unchanged") {
    val strictRows =
      PcapParser.parseFile(PcapFixtures.goldenPcap, strict = true, name = "golden.pcap").toVector
    assert(strictRows == rows)
  }

  test("u32-wrap incl_len (0xFFFFFFF0) yields a truncated record, not a crash") {
    val rows = PcapParser.parseFile(pcapWithRawLen(0xFFFFFFF0L, 42L,
      PcapFixtures.goldenFrames.head._1.take(8))).toVector
    assert(rows.size == 1)                 // one truncated record, then stop
    assert(rows.head.len.contains(42L))    // origlen reported as-is
    assert(rows.head.src_ip.isEmpty)       // 8 payload bytes -> no decode
  }

  test("incl_len just past the buffer emits the bytes present, then terminates") {
    val frame = PcapFixtures.goldenFrames.head._1
    val rows = PcapParser.parseFile(
      pcapWithRawLen(frame.length + 24L, frame.length.toLong, frame)).toVector
    assert(rows.size == 1)
    assert(rows.head.protocol.contains("UDP")) // full frame was present, decodes fine
  }

  test("chunked parse: union over any byte-boundary chunking equals the unsplit read") {
    // the production chunk path over a capture file: skimLegacyChunk
    // finds each chunk's exact record range, openRecords decodes it
    val bytes = PcapFixtures.goldenPcap
    val dir = java.nio.file.Files.createTempDirectory("pcap-chunks")
    java.nio.file.Files.write(dir.resolve("golden.pcap"), bytes)
    val (file, len) = PcapDataSource.listCaptureFilesWithLen(dir.toString,
      spark.sessionState.newHadoopConf()).head
    val factory = new PcapReaderFactory(PcapDataSource.schema, Array.empty, strict = true,
      spark.sparkContext.broadcast(new SerializableHadoopConf(spark.sessionState.newHadoopConf())))
    def rows(part: PcapFilePartition): Vector[(Long, Long, String)] = {
      val r = factory.createColumnarReader(part)
      val out = Vector.newBuilder[(Long, Long, String)]
      val (idx, lenCol, src) = Seq("pkt_idx", "len", "src_ip")
        .map(PcapDataSource.schema.fieldIndex) match { case Seq(a, b, c) => (a, b, c) }
      try while (r.next()) {
        val b = r.get()
        (0 until b.numRows).foreach { i =>
          val ip = b.column(src)
          out += ((b.column(idx).getLong(i), b.column(lenCol).getLong(i),
            if (ip.isNullAt(i)) null else ip.getUTF8String(i).toString))
        }
      } finally r.close()
      out.result()
    }
    val full = PcapParser.parseFile(bytes).toVector
      .map(p => (p.pkt_idx, p.len.get, p.src_ip.orNull))
    assert(full.size == 12 && rows(PcapFilePartition(file, len)) == full)
    // chunk boundaries at raw byte offsets — including degenerate 1-byte
    // chunks — must resolve to exact record boundaries via the skim, with
    // GLOBAL pkt_idx; boundaries inside headers/payloads are the norm
    for (chunkSize <- Seq(1, 17, 40, 64, 256, 100000)) {
      val n = ((bytes.length + chunkSize - 1) / chunkSize).max(1)
      val union = (0 until n).flatMap { i =>
        val start = i.toLong * chunkSize
        val end = if (i == n - 1) Long.MaxValue else (i + 1).toLong * chunkSize
        rows(PcapFilePartition(file, len, start, end))
      }.toVector
      assert(union == full, s"chunkSize=$chunkSize broke parity")
    }
  }

  test("incl_len that wraps to a negative Int cannot walk the offset backwards") {
    // 0x80000010 -> Int -2147483632: pre-fix this made `off` move backwards
    // and the iterator never terminated. Two records follow; the corrupt one
    // consumes the rest of the buffer, so exactly one row comes out.
    val tail = PcapFixtures.pcapFile(Seq((PcapFixtures.goldenFrames.head._1, BaseTs))).drop(24)
    val rows = PcapParser.parseFile(
      pcapWithRawLen(0x80000010L, 42L, Array.fill[Byte](4)(0x7f)) ++ tail).toVector
    assert(rows.size == 1 && rows.head.len.contains(42L))
  }
}

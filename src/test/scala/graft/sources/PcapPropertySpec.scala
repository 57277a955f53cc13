package graft.sources

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.sources.PcapFixtures.BaseTs

/** Property tests (SURVEY.md §5.2): parser invariants over random inputs. */
object PcapPropertySpec extends Properties("PcapParser") {

  property("never throws on arbitrary bytes (bounds safety)") =
    forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      val p = PcapParser.decodeRecord(0, bytes, BaseTs, bytes.length.toLong)
      p.len.contains(bytes.length.toLong)
    }

  private val genPacket: Gen[(Array[Byte], Int)] = for {
    proto <- Gen.oneOf(1, 2, 6, 17, 47, 89)
    sp <- Gen.chooseNum(0, 65535)
    dp <- Gen.chooseNum(0, 65535)
    vlan <- Gen.oneOf(true, false)
  } yield {
    val ips = (Array[Byte](10, 1, 2, 3), Array[Byte](10, 4, 5, 6))
    val frame = PcapFixtures.ethernet(0x0800,
      PcapFixtures.ipv4(proto, ips._1, ips._2, PcapFixtures.l4Ports(sp, dp)), vlan)
    (frame, proto)
  }

  property("ports set iff protocol is TCP or UDP (main.rs:198-231)") =
    forAll(genPacket) { case (frame, proto) =>
      val p = PcapParser.decodeRecord(0, frame, BaseTs, frame.length.toLong)
      val l4 = proto == 6 || proto == 17
      p.src_port.isDefined == l4 && p.dst_port.isDefined == l4
    }

  property("valid trailer ns component always < 1e9 when extracted") =
    forAll(Gen.chooseNum(0, 999999999), Gen.chooseNum(-299L, 299L)) { (ns, skew) =>
      val frame = PcapFixtures.ethernet(0x0800, PcapFixtures.ipv4(17,
        Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 0, 2),
        PcapFixtures.l4Ports(1, 2) ++ PcapFixtures.mmTrailer(BaseTs + skew, ns, 1, 1)))
      val p = PcapParser.decodeRecord(0, frame, BaseTs, frame.length.toLong)
      p.mm_ts.exists(ts => math.floorMod(ts, 1000000000L) < 1000000000L) &&
        p.mm_ts.contains((BaseTs + skew) * 1000000000L + ns)
    }

  // Adversarial container input: a VALID global header followed by random
  // record bytes, so record parsing is actually reached (random bytes alone
  // almost never contain the magic — the pre-round-3 version of this suite
  // missed a confirmed u32-incl_len-wrap crash for exactly that reason).
  private val leGlobalHeader: Array[Byte] = PcapFixtures.pcapFile(Seq.empty)

  property("parseFile never throws and always terminates on adversarial record bytes") =
    forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { junk =>
      val rows = PcapParser.parseFile(leGlobalHeader ++ junk).toVector
      // each record consumes >= 16 bytes, so the row count is bounded
      rows.size <= junk.length / 16 + 1
    }

  // The reader-side pushed-filter predicate must agree with SQL null
  // semantics exactly: a packet it drops that Spark's residual filter would
  // KEEP is silent data loss (the residual re-application can only remove
  // rows, never restore them). Reference evaluator written independently.
  private val genPkt: Gen[PcapParser.Packet] = for {
    len <- Gen.option(Gen.chooseNum(0L, 2000L))
    proto <- Gen.option(Gen.oneOf("TCP", "UDP", "ICMP", "IGMP"))
    sp <- Gen.option(Gen.chooseNum(0, 65535))
    dp <- Gen.option(Gen.chooseNum(0, 65535))
  } yield PcapParser.Packet(0L, None, None, len, proto, sp, dp, None, None, None)

  private val genFilter: Gen[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    val numeric = for {
      c <- Gen.oneOf("len", "src_port", "dst_port")
      v <- Gen.chooseNum(0L, 2000L)
      f <- Gen.oneOf[Filter](EqualTo(c, v), GreaterThan(c, v), GreaterThanOrEqual(c, v),
        LessThan(c, v), LessThanOrEqual(c, v), In(c, Array[Any](v, v + 1)))
    } yield f
    val protoF = Gen.oneOf(
      Gen.oneOf("TCP", "UDP", "ICMP", "NOPE").map(v => EqualTo("protocol", v): Filter),
      Gen.listOfN(2, Gen.oneOf("TCP", "UDP", "ICMP")).map(vs => In("protocol", vs.toArray[Any]): Filter))
    val nullF = for {
      c <- Gen.oneOf("len", "src_port", "dst_port", "protocol")
      f <- Gen.oneOf[Filter](IsNull(c), IsNotNull(c))
    } yield f
    val leaf = Gen.oneOf(numeric, protoF, nullF)
    for { a <- leaf; b <- leaf; f <- Gen.oneOf[Filter](a, And(a, b)) } yield f
  }

  private def refEval(f: org.apache.spark.sql.sources.Filter, p: PcapParser.Packet): Boolean = {
    import org.apache.spark.sql.sources._
    def num(c: String): Option[Long] = c match {
      case "len" => p.len
      case "src_port" => p.src_port.map(_.toLong)
      case "dst_port" => p.dst_port.map(_.toLong)
    }
    def any(c: String): Option[Any] = if (c == "protocol") p.protocol else num(c)
    f match {
      case EqualTo("protocol", v) => p.protocol.contains(String.valueOf(v))
      case In("protocol", vs) => p.protocol.exists(vs.map(String.valueOf).contains)
      case EqualTo(c, v: Long) => num(c).contains(v)
      case In(c, vs) => num(c).exists(x => vs.collect { case v: Long => v }.contains(x))
      case GreaterThan(c, v: Long) => num(c).exists(_ > v)
      case GreaterThanOrEqual(c, v: Long) => num(c).exists(_ >= v)
      case LessThan(c, v: Long) => num(c).exists(_ < v)
      case LessThanOrEqual(c, v: Long) => num(c).exists(_ <= v)
      case IsNull(c) => any(c).isEmpty
      case IsNotNull(c) => any(c).isDefined
      case And(a, b) => refEval(a, p) && refEval(b, p)
      case other => sys.error(s"unexpected filter $other")
    }
  }

  /** The decoded scalars the reader's predicate sees for `p`. */
  private def fieldsOf(p: PcapParser.Packet): PcapParser.Fields = {
    val f = new PcapParser.Fields
    f.pktIdx = p.pkt_idx
    f.len = p.len.getOrElse(-1L)
    f.protocol = p.protocol.fold(0)(PcapParser.ProtocolNames.indexOf(_))
    f.srcPort = p.src_port.getOrElse(-1)
    f.dstPort = p.dst_port.getOrElse(-1)
    f
  }

  property("pushed-filter predicate matches SQL null semantics on random packets") =
    forAll(genPkt, genFilter) { (p, f) =>
      PcapFilters.supported(f) &&
        PcapFilters.toPredicate(Array(f), "x.pcap")(fieldsOf(p)) == refEval(f, p)
    }

  property("pcap container round-trip preserves record count and order") =
    forAll(Gen.chooseNum(0, 20)) { n =>
      val frames = (0 until n).map { i =>
        (PcapFixtures.ethernet(0x0800, PcapFixtures.ipv4(17,
          Array[Byte](10, 0, 0, 1), Array[Byte](10, 0, 0, 2),
          PcapFixtures.l4Ports(i, i + 1))), BaseTs + i)
      }
      val parsed = PcapParser.parseFile(PcapFixtures.pcapFile(frames)).toVector
      parsed.size == n && parsed.map(_.pkt_idx) == (0L until n.toLong).toVector &&
        parsed.zipWithIndex.forall { case (p, i) => p.src_port.contains(i) }
    }
}

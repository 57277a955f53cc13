package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import graft.sources.PcapFixtures

/** What the generator wrote, in the terms of the 9-column output: the
  * ingest check compares the Parquet output against it. `protocols`
  * counts packets per decoded protocol name ("" for NULL). */
final case class Ledger(packets: Long, protocols: Map[String, Long], sumLen: Long,
                        mmRows: Long, sumMmTs: BigInt, sumSrcPort: Long, bytes: Long) {
  def +(o: Ledger): Ledger = Ledger(packets + o.packets,
    (protocols.keySet ++ o.protocols.keySet).map(k =>
      k -> (protocols.getOrElse(k, 0L) + o.protocols.getOrElse(k, 0L))).toMap,
    sumLen + o.sumLen, mmRows + o.mmRows, sumMmTs + o.sumMmTs,
    sumSrcPort + o.sumSrcPort, bytes + o.bytes)
}

/** Seeded synthetic legacy-pcap captures built from the
  * [[PcapFixtures]] frame builders, in one of two mixes. Every file is a
  * pure function of (mix, seed, file index), so the same seed writes the
  * same bytes.
  *
  * [[Mixed]] has no Metamako trailers. Its shares are chosen to exercise
  * every header branch of the decoder, not measured from any real
  * traffic: IPv4 TCP 38%, IPv4 UDP 28%, IPv4 ICMP 3%, VLAN-stacked IPv4
  * 10%, IPv6 TCP/UDP 12%, ARP 5%, and IPv4 TCP cut at a 64-byte slice of
  * a longer frame 4%.
  *
  * [[Tapped]] is a trailer-dominated capture, modelled on (not measured
  * from) a market-data feed recorded behind a Metamako tap, which appends
  * its timestamp trailer to every frame it forwards: every packet is IPv4
  * UDP from one of 8 senders to one of 32 multicast groups, with a
  * 16-byte trailer, a quarter of them followed by a 4-byte FCS.
  *
  * Addresses, ports, lengths, timestamps and trailer fields are drawn
  * from the seed, so the ZSTD writer sees realistic column entropy.
  *
  * The Metamako trailer test is a heuristic: any 4 bytes whose value
  * lies within 300 s of the record time read as trailer seconds. Record
  * times all start with byte 0x65, so no random byte is ever 0x65 and no
  * frame of the mixed capture can be read as one; the ledger then
  * states exactly what a correct decoder must return. */
object CaptureGen {
  sealed trait Mix
  case object Mixed extends Mix
  case object Tapped extends Mix

  val Files = 16
  private val SliceLen = 64

  def generate(dir: File, mix: Mix, seed: Long, packetsPerFile: Int): Ledger = {
    dir.mkdirs()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val parts = (0 until Files).map(f => Future(
        writeFile(new File(dir, f"cap-$f%02d.pcap"), mix, seed * 1000003L + f, f, packetsPerFile)))
      Await.result(Future.sequence(parts), Duration.Inf).reduce(_ + _)
    } finally pool.shutdown()
  }

  /** One capture as bytes in memory, for the single-threaded decoder probe. */
  def bytes(mix: Mix, seed: Long, packets: Int): (Array[Byte], Ledger) = {
    val out = new java.io.ByteArrayOutputStream()
    val l = write(out, mix, seed, 0, packets)
    (out.toByteArray, l)
  }

  private def writeFile(f: File, mix: Mix, seed: Long, idx: Int, packets: Int): Ledger = {
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    try write(out, mix, seed, idx, packets) finally out.close()
  }

  private def write(out: java.io.OutputStream, mix: Mix, seed: Long, idx: Int,
                    packets: Int): Ledger = {
    val r = new SplittableRandom(seed)
    def b(): Byte = { var v = r.nextInt(256); while (v == 0x65) v = r.nextInt(256); v.toByte }
    def bs(n: Int): Array[Byte] = Array.fill(n)(b())
    def u16(): Int = ((b() & 0xff) << 8) | (b() & 0xff)
    def zeros(n: Int) = new Array[Byte](n)
    val gh = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    gh.putInt(0xa1b2c3d4).putShort(2.toShort).putShort(4.toShort).putInt(0).putInt(0)
      .putInt(65535).putInt(1)
    out.write(gh.array())
    val rh = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    val proto = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var sumLen, mmRows, sumSrcPort, bytes = 0L
    var sumMm = BigInt(0)
    val t0 = PcapFixtures.BaseTs + idx * 3600L
    // the tapped feed: 8 senders, each port fixed, 32 multicast groups
    val senders = Array.fill(8)((bs(4), u16()))
    val groups = Array.fill(32)((Array[Byte](239.toByte, 1, 1, b()), u16()))
    val devs = Array.fill(2)(u16())
    var i = 0
    while (i < packets) {
      val ts = t0 + i.toLong * 3600L / packets
      var origLen = -1
      val (frame, name, srcPort) = mix match {
        case Tapped =>
          val sec = ts + r.nextInt(201) - 100
          val ns = r.nextInt(1000000000)
          val tr = PcapFixtures.mmTrailer(sec, ns, devs(r.nextInt(devs.length)), 1 + r.nextInt(8))
          val fcs = if (r.nextInt(4) == 0) bs(4) else zeros(0)
          mmRows += 1
          sumMm += BigInt(sec) * 1000000000L + ns
          val (src, srcPort) = senders(r.nextInt(senders.length))
          val (group, groupPort) = groups(r.nextInt(groups.length))
          val body = PcapFixtures.l4Ports(srcPort, groupPort, 8 + r.nextInt(120)) ++ tr ++ fcs
          (PcapFixtures.ethernet(0x0800, PcapFixtures.ipv4(17, src, group, body)), "UDP", srcPort)
        case Mixed =>
          val roll = r.nextInt(100)
          val pad = r.nextInt(33)
          val sp = u16()
          val dp = u16()
          def ip4(p: Int, l4: Array[Byte]) = PcapFixtures.ipv4(p, bs(4), bs(4), l4)
          val ports = PcapFixtures.l4Ports(sp, dp, 4 + pad)
          if (roll < 38) (PcapFixtures.ethernet(0x0800, ip4(6, ports)), "TCP", sp)
          else if (roll < 66) (PcapFixtures.ethernet(0x0800, ip4(17, ports)), "UDP", sp)
          else if (roll < 69) (PcapFixtures.ethernet(0x0800, ip4(1, zeros(8 + pad))), "ICMP", -1)
          else if (roll < 79) {
            val tags = if (r.nextBoolean()) Seq(0x8100) else Seq(0x88a8, 0x8100)
            val (p, n) = if (r.nextBoolean()) (6, "TCP") else (17, "UDP")
            (PcapFixtures.ethernetStacked(tags, 0x0800, ip4(p, ports)), n, sp)
          } else if (roll < 91) {
            val (p, n) = if (r.nextBoolean()) (6, "TCP") else (17, "UDP")
            (PcapFixtures.ethernet(0x86dd, PcapFixtures.ipv6(p, bs(16), bs(16), ports)), n, sp)
          } else if (roll < 96) (PcapFixtures.ethernet(0x0806, zeros(28)), "", -1)
          else {
            // a slice: the record keeps the first 64 bytes of a longer frame
            do origLen = SliceLen + 1 + r.nextInt(1450)
            while (((origLen - 14) & 0xff) == 0x65)
            val full = PcapFixtures.ethernet(0x0800, ip4(6, PcapFixtures.l4Ports(sp, dp, origLen - 38)))
            (java.util.Arrays.copyOf(full, SliceLen), "TCP", sp)
          }
      }
      val len = if (origLen > 0) origLen else frame.length
      rh.clear()
      rh.putInt(ts.toInt).putInt(r.nextInt(1000000)).putInt(frame.length).putInt(len)
      out.write(rh.array())
      out.write(frame)
      proto(name) += 1
      sumLen += len
      if (srcPort >= 0) sumSrcPort += srcPort
      bytes += 16 + frame.length
      i += 1
    }
    Ledger(packets, proto.toMap, sumLen, mmRows, sumMm, sumSrcPort, bytes + 24)
  }
}

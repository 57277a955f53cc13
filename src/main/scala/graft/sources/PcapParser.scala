package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII

/** Pure-Scala legacy-pcap frame decoder — the reference's entire job
  * re-expressed as a deterministic byte-slice -> row function
  * (SURVEY.md §2.A, A1–A9; semantics cited per function below from
  * /root/reference/src/main.rs).
  *
  * Deliberate divergence from the reference: every read is bounds-checked.
  * The reference panics on truncated frames (main.rs:190-191
  * `try_into().expect`) and on snaplen-truncated captures (it indexes the
  * buffer with `origlen`, main.rs:97); we yield NULL fields instead
  * (SURVEY.md §2.A "fidelity traps" #1, FIXTURES.md §2 case 12).
  *
  * Shape: ONE field decoder, [[decodeFields]], reads a record IN PLACE
  * from the capture buffer (no per-record copy) into the mutable scalar
  * slots of a reused [[Fields]]; container walks are pull-based
  * [[RecordCursor]]s. The DSv2 columnar reader feeds cursor + decoder
  * straight into column vectors, allocating nothing per packet (IP text
  * is formatted into a scratch byte array). [[Packet]] and the
  * Iterator-returning `parse*` entry points are thin wrappers over the
  * same cursor + decoder for callers that want one object per record.
  */
object PcapParser {

  /** One decoded packet — the reference's 9-column Packet struct
    * (main.rs:5-16) plus a packet index for deterministic ordering.
    * Unsigned reference types widen to the next signed Spark type
    * (SURVEY.md §1.4). */
  final case class Packet(
      pkt_idx: Long,
      src_ip: Option[String],
      dst_ip: Option[String],
      len: Option[Long],          // u32 origlen -> long
      protocol: Option[String],
      src_port: Option[Int],      // u16 -> int
      dst_port: Option[Int],
      mm_ts: Option[Long],        // epoch nanoseconds (main.rs:177)
      mm_id: Option[Int],         // u16 -> int
      mm_port: Option[Int])       // u8 -> int

  /** Protocol names by [[Fields.protocol]] code; code 0 is NULL. */
  val ProtocolNames: Array[String] = Array(null, "ICMP", "IGMP", "TCP", "UDP", "ICMPv6")
  private final val Icmp = 1
  private final val Igmp = 2
  private final val Tcp = 3
  private final val Udp = 4
  private final val Icmpv6 = 5

  /** The decoded scalars of one record, reused across records. Every
    * nullable numeric field is non-negative when present, so a negative
    * value means NULL; `protocol` 0 means NULL. The addresses are NOT
    * decoded to text: `ipVersion` (0 = none, 4 or 6), `ipOff` (buffer
    * offset of the source address) and `dstOff` let the consumer format
    * them straight into its own output with [[writeIpText]]. */
  final class Fields {
    var pktIdx: Long = 0L
    var len: Long = -1L
    var ipVersion: Int = 0
    var ipOff: Int = 0
    var protocol: Int = 0
    var srcPort: Int = -1
    var dstPort: Int = -1
    var trailer: Boolean = false
    var mmTs: Long = 0L
    var mmId: Int = 0
    var mmPort: Int = 0
    /** Buffer offset of the destination address. */
    def dstOff: Int = ipOff + (if (ipVersion == 4) 4 else 16)
  }

  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def le32(b: Array[Byte], off: Int): Long =
    ((b(off + 3) & 0xffL) << 24) | ((b(off + 2) & 0xffL) << 16) |
      ((b(off + 1) & 0xffL) << 8) | (b(off) & 0xffL)
  private def le16(b: Array[Byte], off: Int): Int =
    ((b(off + 1) & 0xff) << 8) | (b(off) & 0xff)

  /** TCP/UDP port extraction (main.rs:213-231): BE u16 at L4 offsets 0/2. */
  private def decodePorts(b: Array[Byte], l4: Int, end: Int, f: Fields): Unit =
    if (l4 + 4 <= end) { f.srcPort = be16(b, l4); f.dstPort = be16(b, l4 + 2) }

  /** IPv4 header decode (main.rs:185-211): IHL from the low nibble of
    * byte 0; protocol at byte 9; src/dst addresses at bytes 12-15/16-19
    * (formatted dotted-quad by [[writeIpText]], main.rs:193-196); dispatch
    * 1/2/6/17 -> ICMP/IGMP/TCP/UDP (main.rs:198-210), anything else leaves
    * protocol NULL. No checksum/fragment/option handling, as in the
    * reference. `wantIps = false` (column pruned at the scan) leaves the
    * addresses unrecorded, so nothing downstream formats them. */
  private def decodeIpv4(b: Array[Byte], off: Int, end: Int, wantIps: Boolean,
                         f: Fields): Unit = {
    if (off + 20 > end) return
    val ihl = (b(off) & 0x0f) * 4
    if (wantIps) { f.ipVersion = 4; f.ipOff = off + 12 }
    (b(off + 9) & 0xff) match {
      case 1 => f.protocol = Icmp
      case 2 => f.protocol = Igmp
      case 6 => f.protocol = Tcp; decodePorts(b, off + ihl, end, f)
      case 17 => f.protocol = Udp; decodePorts(b, off + ihl, end, f)
      case _ => // protocol number not mapped -> name stays NULL
    }
  }

  /** IPv6 header decode (r7 — EXTENSION past the reference, which leaves
    * every field NULL for 0x86DD frames, main.rs:234-252; real captures
    * are full of IPv6, so a user migrating hits this immediately). Fixed
    * 40-byte header: next-header at byte 6, src at 8–23, dst at 24–39,
    * rendered as full-form lowercase-hex groups (unambiguous, no ::
    * compression — the join-key property matters more than RFC 5952
    * prettiness: equal addresses MUST render equal). Extension headers
    * (hop-by-hop 0, routing 43, fragment 44, dest-opts 60) are walked —
    * bounded at 8, each (next, (len+1)·8) except fragment's fixed 8 —
    * to reach TCP/UDP/ICMPv6; an unmapped or truncated chain leaves
    * protocol NULL, exactly the IPv4 posture. */
  private def decodeIpv6(b: Array[Byte], off: Int, end: Int, wantIps: Boolean,
                         f: Fields): Unit = {
    if (off + 40 > end) return
    if (wantIps) { f.ipVersion = 6; f.ipOff = off + 8 }
    var next = b(off + 6) & 0xff
    var l4 = off + 40
    var hops = 0
    while ((next == 0 || next == 43 || next == 44 || next == 60) &&
           hops < 8 && l4 + 8 <= end) {
      val n = b(l4) & 0xff
      val len = if (next == 44) 8 else ((b(l4 + 1) & 0xff) + 1) * 8
      next = n
      l4 += len
      hops += 1
    }
    next match {
      case 6 => f.protocol = Tcp; decodePorts(b, l4, end, f)
      case 17 => f.protocol = Udp; decodePorts(b, l4, end, f)
      case 58 => f.protocol = Icmpv6
      case _ =>
    }
  }

  /** Ethernet II decode (main.rs:234-252): EtherType at bytes 12-13;
    * 0x0800 -> IPv4. r7 EXTENSIONS past the reference (which handles one
    * 802.1Q tag then gives up): the VLAN tag STACK is walked — 0x8100 /
    * 0x88A8 QinQ / legacy 0x9100, bounded at 4 tags — and 0x86DD
    * dispatches to the IPv6 decoder. ARP and everything else still
    * leaves fields NULL. MACs deliberately not extracted
    * (main.rs:235-236). */
  private def decodeEthernet(b: Array[Byte], start: Int, end: Int, wantIps: Boolean,
                             f: Fields): Unit = {
    if (end - start < 14) return
    var off = start + 12
    var tags = 0
    var et = be16(b, off)
    while ((et == 0x8100 || et == 0x88a8 || et == 0x9100) &&
           tags < 4 && off + 6 <= end) {
      off += 4
      et = be16(b, off)
      tags += 1
    }
    if (et == 0x0800) decodeIpv4(b, off + 2, end, wantIps, f)
    else if (et == 0x86dd) decodeIpv6(b, off + 2, end, wantIps, f)
  }

  /** Single Metamako trailer probe at `e` (exclusive) of the frame
    * `[start, end)` — main.rs:157-183. Valid iff |pcap_ts_sec - mm_s| <
    * 300 and mm_ns < 1e9 (main.rs:174). A hit overwrites the trailer
    * fields, so the CALLER's probe order decides which trailer wins
    * (first-device-wins, main.rs:127). `top0`/`top1` are the only top
    * bytes the seconds field can have in the window (see
    * [[decodeTrailers]]): any other rejects the probe on one byte. */
  private def probeTrailer(b: Array[Byte], start: Int, end: Int, e: Int,
                           pcapTsSec: Long, top0: Byte, top1: Byte, f: Fields): Boolean = {
    if (e - start < 16 || e > end) return false
    val top = b(e - 12)
    if (top != top0 && top != top1) return false
    val s = be32(b, e - 12).toInt  // BE i32 seconds
    val ns = be32(b, e - 8).toInt  // BE i32 nanoseconds
    // NB: the reference only checks ns < 1e9, NOT ns >= 0 (main.rs:174) —
    // a negative i32 ns passes and is added signed; replicated faithfully.
    if (math.abs(pcapTsSec - s) < 300 && ns < 1000000000) {
      f.trailer = true
      f.mmTs = s.toLong * 1000000000L + ns
      f.mmId = be16(b, e - 3)
      f.mmPort = b(e - 1) & 0xff
      true
    } else false
  }

  /** Multi-trailer scan (main.rs:128-148): probe at the full length; on a
    * hit, keep scanning backwards for stacked trailers (16-byte steps on
    * hits, 1-byte slide on misses — main.rs:138) and let each deeper hit
    * overwrite, so the FIRST-appended (innermost) trailer wins
    * (main.rs:127). If the probe at full length misses, retry once
    * assuming a trailing 4-byte FCS (main.rs:141-146). Scans against the
    * actual frame length, never past it (divergence: reference indexes
    * with origlen and can panic).
    *
    * Prefilter: a hit needs the i32 seconds `s` in [ts - 299, ts + 299].
    * That window is narrower than 2^24, so it spans at most two values of
    * `s`'s top (first big-endian) byte, and a probe whose byte at e - 12
    * is neither cannot hit. A window outside the i32 range admits none. */
  private def decodeTrailers(b: Array[Byte], start: Int, end: Int, pcapTsSec: Long,
                             f: Fields): Unit = {
    val lo = math.max(pcapTsSec - 299, Int.MinValue.toLong)
    val hi = math.min(pcapTsSec + 299, Int.MaxValue.toLong)
    if (lo > hi) return
    val top0 = (lo >> 24).toByte
    val top1 = (hi >> 24).toByte
    def scanFrom(e: Int): Boolean =
      probeTrailer(b, start, end, e, pcapTsSec, top0, top1, f) && {
        var i = 16 // bytes consumed from the tail so far
        while (e - i - start >= 16)
          i += (if (probeTrailer(b, start, end, e - i, pcapTsSec, top0, top1, f)) 16 else 1)
        true
      }
    if (!scanFrom(end)) scanFrom(end - 4) // FCS retry
  }

  /** Which column groups a consumer actually needs — the scan-side pruning
    * contract. `ips` gates address decoding, `net` the whole
    * Ethernet/IPv4/L4 decode, `trailers` the Metamako tail scan. Full
    * decode = Wants(true, true, true). */
  final case class Wants(ips: Boolean = true, net: Boolean = true, trailers: Boolean = true)
  val WantsAll: Wants = Wants()

  /** THE field decoder — the per-record pipeline of main() (main.rs:89-101)
    * over the frame `b[start, end)`, in place: trailer scan guarded by
    * origlen >= 16 (main.rs:92), then Ethernet decode. Pruned column
    * groups (`wants`) skip their decode work entirely — their fields stay
    * NULL, which the pruned scan never reads. Resets every slot of `f`
    * except `pktIdx`, which the caller owns. */
  def decodeFields(b: Array[Byte], start: Int, end: Int, tsSec: Long, origLen: Long,
                   wants: Wants, f: Fields): Unit = {
    f.len = origLen
    f.ipVersion = 0
    f.protocol = 0
    f.srcPort = -1
    f.dstPort = -1
    f.trailer = false
    if (wants.trailers && origLen >= 16) decodeTrailers(b, start, end, tsSec, f)
    if (wants.net) decodeEthernet(b, start, end, wants.ips, f)
  }

  private val HexDigits = "0123456789abcdef".getBytes(US_ASCII)

  /** Text form of the address at `addrOff` into `out` from 0 (room for 39
    * bytes), returning its length: dotted quad for IPv4, eight full-form
    * lowercase-hex groups without leading zeros for IPv6. */
  def writeIpText(b: Array[Byte], addrOff: Int, version: Int, out: Array[Byte]): Int = {
    var n = 0
    if (version == 4) {
      var i = 0
      while (i < 4) {
        if (i > 0) { out(n) = '.'; n += 1 }
        val v = b(addrOff + i) & 0xff
        if (v >= 100) { out(n) = ('0' + v / 100).toByte; n += 1 }
        if (v >= 10) { out(n) = ('0' + v / 10 % 10).toByte; n += 1 }
        out(n) = ('0' + v % 10).toByte; n += 1
        i += 1
      }
    } else {
      var i = 0
      while (i < 8) {
        if (i > 0) { out(n) = ':'; n += 1 }
        val v = be16(b, addrOff + 2 * i)
        var shift = 12
        while (shift > 0 && (v >> shift) == 0) shift -= 4
        while (shift >= 0) { out(n) = HexDigits((v >> shift) & 0xf); n += 1; shift -= 4 }
        i += 1
      }
    }
    n
  }

  private def decodePacket(pktIdx: Long, b: Array[Byte], start: Int, end: Int,
                           tsSec: Long, origLen: Long, wants: Wants): Packet = {
    val f = new Fields
    decodeFields(b, start, end, tsSec, origLen, wants, f)
    def ip(dst: Boolean): Option[String] =
      if (f.ipVersion == 0) None
      else {
        val out = new Array[Byte](40)
        val at = if (dst) f.dstOff else f.ipOff
        Some(new String(out, 0, writeIpText(b, at, f.ipVersion, out), US_ASCII))
      }
    def opt(v: Int): Option[Int] = if (v < 0) None else Some(v)
    Packet(pktIdx, ip(dst = false), ip(dst = true), if (f.len < 0) None else Some(f.len),
      Option(ProtocolNames(f.protocol)), opt(f.srcPort), opt(f.dstPort),
      if (f.trailer) Some(f.mmTs) else None,
      if (f.trailer) Some(f.mmId) else None,
      if (f.trailer) Some(f.mmPort) else None)
  }

  /** One record as a [[Packet]]: [[decodeFields]] over the whole of
    * `data`, addresses formatted to strings. */
  def decodeRecord(pktIdx: Long, data: Array[Byte], tsSec: Long, origLen: Long,
                   wants: Wants = WantsAll): Packet =
    decodePacket(pktIdx, data, 0, data.length, tsSec, origLen, wants)

  // ---- record cursors ------------------------------------------------------

  /** Pull-based walk over the records of one capture buffer. After
    * `next()` returns true the current record's frame is
    * `bytes[off, off + inclLen)`, with its ordinal, pcap timestamp
    * seconds and original length alongside; `next()` returning false
    * ends the walk (clean EOF, end of range, or — permissive — the first
    * corrupt record). Strict walks raise [[PcapFormatException]]. */
  abstract class RecordCursor {
    var idx: Long = 0L
    var off: Int = 0
    var inclLen: Int = 0
    var tsSec: Long = 0L
    var origLen: Long = 0L
    def bytes: Array[Byte]
    def next(): Boolean
  }

  /** A cursor over no records. */
  object EmptyCursor extends RecordCursor {
    val bytes: Array[Byte] = Array.emptyByteArray
    def next(): Boolean = false
  }

  /** Every remaining record of `c` as a [[Packet]]. */
  private def packets(c: RecordCursor, wants: Wants): Iterator[Packet] = new Iterator[Packet] {
    private var ready = false
    private var done = false
    def hasNext: Boolean = {
      if (!ready && !done) { ready = c.next(); done = !ready }
      ready
    }
    def next(): Packet = {
      if (!hasNext) throw new NoSuchElementException("pcap iterator exhausted")
      ready = false
      decodePacket(c.idx, c.bytes, c.off, c.off + c.inclLen, c.tsSec, c.origLen, wants)
    }
  }

  // ---- legacy pcap container (main.rs:64-66, 83-118) ---------------------

  private val MagicBe = 0xa1b2c3d4L
  private val MagicLe = 0xd4c3b2a1L
  private val MagicBeNs = 0xa1b23c4dL
  private val MagicLeNs = 0x4d3cb2a1L

  /** Raised by strict-mode parses on malformed captures: unrecognized
    * magic, truncated global header, truncated record, or a malformed
    * pcapng block. The message always carries the capture's name/path —
    * at 100 TB a silently-skipped capture is undetectable data loss. */
  final class PcapFormatException(msg: String) extends RuntimeException(msg)

  /** Iterate the records of one capture byte buffer, sniffing the
    * container format from its magic: legacy pcap (both byte orders, the
    * nanosecond-magic variant included — ts_sec stays seconds, so the
    * trailer heuristic is unchanged, SURVEY.md §2.A trap #5) or pcapng
    * (dispatched to [[parsePcapng]] — the format the reference refuses
    * with `unreachable!()` at main.rs:108; we read it). The reference's
    * panics become a mode switch: `strict = true` raises a
    * [[PcapFormatException]] naming the capture on an unrecognized magic,
    * a truncated global header, or a truncated/corrupt record;
    * `strict = false` (the salvage mode) ends the iteration instead,
    * keeping every record that decoded cleanly. */
  def parseFile(bytes: Array[Byte], wants: Wants = WantsAll,
                strict: Boolean = false, name: String = "<buffer>"): Iterator[Packet] =
    packets(openFile(bytes, strict, name), wants)

  /** Is this buffer (or its first bytes) a pcapng capture? */
  def sniffPcapng(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && le32(bytes, 0) == PcapngShb

  /** The record byte order a legacy global header declares: Some(true)
    * when reads must swap (file written big-endian), None when the magic
    * isn't legacy pcap at all (pcapng, junk, short buffer). The r8
    * seek-skim carries this so chunk decoding needs no header re-probe. */
  def legacyByteOrder(head: Array[Byte]): Option[Boolean] = {
    if (head.length < 24) return None
    le32(head, 0) match {
      case MagicBe | MagicBeNs => Some(false)
      case MagicLe | MagicLeNs => Some(true)
      case _ => None
    }
  }

  /** Cursor over the records of one whole-capture buffer, the container
    * sniffed from its magic. Header-level strict errors raise here,
    * eagerly.
    *
    * A range `[rangeStart, rangeEnd)` applies to pcapng only: its chunk
    * walk skims the buffer from the start — replaying the SHB/IDB section
    * state (byte order, tsresol, snaplens) that mid-file packets depend
    * on — and decodes the records whose first byte lies in the range,
    * with GLOBAL `pkt_idx` values. Legacy pcap chunks never come here:
    * the format has no record sync markers, so the DSv2 source skims the
    * 16-byte framing headers to a chunk's exact record range
    * (`PcapDataSource.skimLegacyChunk`) and decodes just those bytes
    * through [[openRecords]]. */
  def openFile(bytes: Array[Byte], strict: Boolean, name: String,
               rangeStart: Long = 0L, rangeEnd: Long = Long.MaxValue): RecordCursor = {
    def fail(why: String): Nothing = throw new PcapFormatException(s"$name: $why")
    if (sniffPcapng(bytes))
      return new PcapngCursor(bytes, strict, name, rangeStart, rangeEnd)
    if (bytes.length < 24) {
      if (strict) fail(s"truncated pcap global header (${bytes.length} bytes < 24)")
      return EmptyCursor
    }
    val magic = le32(bytes, 0)
    legacyByteOrder(bytes) match {
      case Some(swapped) =>
        require(rangeStart == 0L && rangeEnd == Long.MaxValue,
          s"$name: a legacy pcap chunk is decoded through openRecords, not a range walk")
        new LegacyCursor(bytes, swapped, startOff = 24, baseIdx = 0L, strict, name)
      case None =>
        if (strict) fail(f"unrecognized pcap magic 0x$magic%08x — not a capture " +
          "(read with option(\"mode\", \"permissive\") to skip unreadable files)")
        EmptyCursor
    }
  }

  /** Cursor over a buffer holding legacy pcap RECORDS ONLY (no 24-byte
    * global header) with absolute record ordinals from `baseIdx` — the
    * decode half of the r8 seek-skim chunk reader: the skim walks framing
    * headers through a bounded window to find a chunk's exact byte
    * range, then hands JUST that range here. `swapped` carries the byte
    * order the capture's global header declared. */
  def openRecords(bytes: Array[Byte], swapped: Boolean, baseIdx: Long,
                  strict: Boolean, name: String): RecordCursor =
    new LegacyCursor(bytes, swapped, startOff = 0, baseIdx, strict, name)

  private final class LegacyCursor(val bytes: Array[Byte], swapped: Boolean,
                                   startOff: Int, baseIdx: Long, strict: Boolean,
                                   name: String) extends RecordCursor {
    private def fail(why: String): Nothing = throw new PcapFormatException(s"$name: $why")
    private def u32(o: Int): Long = if (swapped) be32(bytes, o) else le32(bytes, o)
    private var pos = startOff
    private var nextIdx = baseIdx

    /** Next record; false once the buffer is exhausted. */
    def next(): Boolean = {
      val rem = bytes.length - pos
      if (rem < 16) {
        // clean EOF, or a truncated record header
        if (rem != 0 && strict) fail(
          s"truncated record header after record ${nextIdx - 1} at byte $pos ($rem bytes < 16)")
        pos = bytes.length
        return false
      }
      // incl_len is a u32: `.toInt` on values >= 2^31 wraps negative, and
      // a negative length walks `pos` backwards (a non-terminating walk).
      // Clamp to the bytes actually present instead: a record claiming
      // more than remains is truncated — emit what's there, after which
      // `pos` lands at bytes.length and the walk ends. `pos` therefore
      // always advances by >= 16, so the walk terminates.
      val rawIncl = u32(pos + 8)
      val avail = (bytes.length - pos - 16).toLong
      if (rawIncl > avail && strict) fail(
        s"record $nextIdx at byte $pos claims $rawIncl bytes but only $avail remain " +
          "(truncated or corrupt capture)")
      idx = nextIdx
      off = pos + 16
      inclLen = math.min(rawIncl, avail).toInt
      tsSec = u32(pos)
      origLen = u32(pos + 12)
      pos += 16 + inclLen
      nextIdx += 1
      true
    }
  }

  // ---- pcapng container ----------------------------------------------------
  // Beyond the reference: main.rs:108 hits `unreachable!()` on the format
  // every modern tcpdump/Wireshark writes by default. Same 9-column row out.

  /** Section Header Block type — its byte sequence 0x0A0D0D0A is an endian
    * palindrome by design, so it sniffs identically in either byte order. */
  private val PcapngShb = 0x0a0d0d0aL
  /** Byte-order magic inside the SHB body. */
  private val PcapngBom = 0x1a2b3c4dL
  private val IdbType = 0x00000001L
  private val SpbType = 0x00000003L
  private val EpbType = 0x00000006L

  /** Timestamp units/second from an IDB's if_tsresol option (code 9):
    * power of 10, or power of 2 when the MSB is set; default microseconds.
    * Walks the option list from `o` (first option) to `end` (exclusive). */
  private def idbUnitsPerSec(b: Array[Byte], o0: Int, end: Int, swapped: Boolean): Long = {
    def u16(o: Int) = if (swapped) be16(b, o) else le16(b, o)
    var o = o0
    while (o + 4 <= end) {
      val code = u16(o)
      val len = u16(o + 2)
      if (code == 0) return 1000000L // opt_endofopt
      if (code == 9 && len >= 1 && o + 4 < end) {
        val v = b(o + 4) & 0xff
        if ((v & 0x80) != 0) return 1L << math.min(v & 0x7f, 62)
        var r = 1L
        var i = 0
        while (i < math.min(v, 18)) { r *= 10; i += 1 }
        return r
      }
      o += 4 + ((len + 3) & ~3)
    }
    1000000L
  }

  /** Iterate the packets of one pcapng byte buffer: walks the block chain
    * (SHB / IDB / EPB / SPB; unknown block types skipped, as the spec
    * requires), honoring per-section byte order (the BOM in each SHB) and
    * per-interface if_tsresol, and feeds every packet through the same
    * [[decodeFields]] pipeline as legacy pcap. SPB carries no timestamp,
    * so its trailer-heuristic window anchors at 0 — Metamako trailers in
    * SPB-only captures are not recovered (they need the ±300 s check).
    * Strict mode raises a [[PcapFormatException]] naming the capture on a
    * bad SHB byte-order magic, a block overrunning the file, a non-aligned
    * or impossible block length, an EPB referencing an undeclared
    * interface, or an EPB claiming more captured bytes than its block
    * holds; permissive mode ends the iteration, keeping clean records. */
  def parsePcapng(bytes: Array[Byte], wants: Wants = WantsAll,
                  strict: Boolean = false, name: String = "<buffer>",
                  rangeStart: Long = 0L, rangeEnd: Long = Long.MaxValue): Iterator[Packet] =
    packets(new PcapngCursor(bytes, strict, name, rangeStart, rangeEnd), wants)

  private final class PcapngCursor(val bytes: Array[Byte], strict: Boolean, name: String,
                                   rangeStart: Long, rangeEnd: Long) extends RecordCursor {
    private def fail(why: String): Nothing =
      throw new PcapFormatException(s"$name: $why")
    private var pos = 0
    private var nextIdx = 0L
    private var swapped = false
    private var inSection = false
    private val unitsPerSec = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val snapLens = scala.collection.mutable.ArrayBuffer.empty[Long]
    private var done = false

    private def u32(o: Int): Long = if (swapped) be32(bytes, o) else le32(bytes, o)

    /** Sets the current record from a packet block's frame, or skims it
      * (framing only) when the block starts before the range. */
    private def emit(blockStart: Int, frameOff: Int, take: Int, ts: Long, orig: Long): Boolean = {
      nextIdx += 1
      if (blockStart < rangeStart) false
      else {
        idx = nextIdx - 1; off = frameOff; inclLen = take; tsSec = ts; origLen = orig
        true
      }
    }

    /** Advance to the next packet block; false at clean (or salvaged) EOF. */
    def next(): Boolean = {
      while (!done) {
        if (step()) return true
      }
      false
    }

    /** One block: true when it is a packet of ours; sets `done` at the end. */
    private def step(): Boolean = {
      def stop(): Boolean = { done = true; false }
      if (pos >= rangeEnd) return stop() // next chunk's blocks
      if (pos == bytes.length) return stop()
      if (pos + 12 > bytes.length) {
        if (strict) fail(s"truncated pcapng block header at byte $pos " +
          s"(${bytes.length - pos} bytes < 12)")
        return stop()
      }
      val blockStart = pos
      val isShb = le32(bytes, blockStart) == PcapngShb
      // SHB starts a (new) section and resets endianness + interfaces
      if (isShb) {
        val bomLe = le32(bytes, pos + 8)
        if (bomLe == PcapngBom) swapped = false
        else if (be32(bytes, pos + 8) == PcapngBom) swapped = true
        else {
          if (strict) fail(f"pcapng: bad byte-order magic 0x$bomLe%08x in " +
            s"section header at byte $pos")
          return stop()
        }
        inSection = true
        unitsPerSec.clear()
        snapLens.clear()
      } else if (!inSection) {
        if (strict) fail("pcapng: first block is not a section header")
        return stop()
      }
      val totalLen = u32(blockStart + 4)
      if (totalLen < 12 || (totalLen & 3) != 0 || blockStart + totalLen > bytes.length) {
        if (strict) fail(s"pcapng: block at byte $blockStart declares impossible " +
          s"length $totalLen (file holds ${bytes.length - blockStart} more bytes)")
        return stop()
      }
      val body = blockStart + 8
      val bodyEnd = blockStart + totalLen.toInt - 4
      val btype = if (isShb) PcapngShb else u32(blockStart)
      pos = blockStart + totalLen.toInt
      btype match {
        case IdbType =>
          // linktype u16 + reserved u16 + snaplen u32, then options
          unitsPerSec += (if (bodyEnd - body >= 8)
            idbUnitsPerSec(bytes, body + 8, bodyEnd, swapped) else 1000000L)
          // snaplen 0 means "no limit" per the spec
          snapLens += (if (bodyEnd - body >= 8) {
            val s = u32(body + 4); if (s == 0) Long.MaxValue else s
          } else Long.MaxValue)
          false
        case EpbType =>
          if (bodyEnd - body < 20) {
            if (strict) fail(s"pcapng: EPB at byte ${body - 8} too small")
            return stop()
          }
          val iface = u32(body).toInt
          val ts = (u32(body + 4) << 32) | u32(body + 8)
          val capLen = u32(body + 12)
          val orig = u32(body + 16)
          val room = (bodyEnd - body - 20).toLong
          if (strict && capLen > room) fail(s"pcapng: EPB packet $nextIdx claims " +
            s"$capLen captured bytes but its block holds $room")
          val ups =
            if (iface >= 0 && iface < unitsPerSec.length) unitsPerSec(iface)
            else if (strict) fail(s"pcapng: EPB packet $nextIdx references " +
              s"undeclared interface $iface (${unitsPerSec.length} declared)")
            else 1000000L
          emit(blockStart, body + 20, math.min(capLen, room).toInt, ts / ups, orig)
        case SpbType =>
          if (bodyEnd - body < 4) {
            if (strict) fail(s"pcapng: SPB at byte ${body - 8} too small")
            return stop()
          }
          // spec (§4.4): packet blocks may only follow an IDB in their
          // section; an SPB with no interface declared would otherwise
          // fall back to an unbounded snaplen — mirror the EPB
          // undeclared-interface check in strict mode
          if (strict && snapLens.isEmpty)
            fail(s"pcapng: SPB packet $nextIdx before any interface " +
              "description block in its section")
          val orig = u32(body)
          // spec: SPB captured length = min(orig_len, interface 0's
          // snaplen) — the block body is padded to 4 bytes, so without
          // the snaplen bound a snaplen-truncated packet would absorb
          // its pad bytes as frame data
          val snap = if (snapLens.nonEmpty) snapLens(0) else Long.MaxValue
          val take = math.min(math.min(orig, snap), (bodyEnd - body - 4).toLong).toInt
          emit(blockStart, body + 4, take, 0L, orig) // SPB: no timestamp
        case _ => false // SHB handled above; unknown blocks skipped
      }
    }
  }
}

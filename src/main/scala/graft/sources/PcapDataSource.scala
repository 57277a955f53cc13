package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util
import java.util.OptionalLong

import scala.annotation.switch
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for legacy pcap captures:
  * `spark.read.format("pcap").load(pathOrDir)` for batch and
  * `spark.readStream.format("pcap").load(dir)` for a growing capture
  * directory (SURVEY.md §4.3 / §7 M5 — the "custom DataSource V2"
  * milestone).
  *
  * Split model: ONE InputPartition PER CAPTURE FILE by default. Legacy
  * pcap has no record sync markers, so a file cannot be split mid-stream
  * by resync (SURVEY.md §7 risk #4); `splitBytes` chunks large files by
  * a framing skim instead (see [[PcapScanBuilder.planInputPartitions]]).
  * Decoding happens inside each [[PcapColumnarReader]] on executors,
  * straight into column vectors; file bytes never touch the driver.
  *
  * Filesystem: all listing and reading goes through the Hadoop
  * `FileSystem` API resolved from the path's scheme, so `hdfs://`,
  * `s3a://`, and plain local paths all work — the only place 100 TB of
  * captures can actually live is a distributed store. The driver's hadoop
  * conf (credentials, endpoints) ships to executors as one broadcast
  * [[SerializableHadoopConf]] per scan.
  *
  * Formats: legacy pcap (both byte orders, ns-magic variant) AND pcapng
  * (SHB/IDB/EPB/SPB block walk, per-section byte order, per-interface
  * if_tsresol), magic-sniffed per file — the reference hard-crashes on
  * pcapng (main.rs:108); we read it.
  *
  * Options:
  *  - `mode` = `strict` (default) | `permissive`. Strict raises with the
  *    offending file path on an unrecognized magic, a truncated record, or
  *    a malformed pcapng block — at 100 TB a silently-skipped capture
  *    directory is undetectable data loss. Permissive keeps the salvage
  *    behavior (decode what's intact, stop at the first corrupt record).
  */
class PcapDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pcap"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PcapDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PcapTable(properties.asScala.toMap)
}

object PcapDataSource {
  /** The reference's 9-column Packet row (main.rs:5-16) + file + pkt_idx,
    * unsigned types widened per SURVEY.md §1.4. */
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pkt_idx", LongType, nullable = false),
    StructField("src_ip", StringType, nullable = true),
    StructField("dst_ip", StringType, nullable = true),
    StructField("len", LongType, nullable = true),
    StructField("protocol", StringType, nullable = true),
    StructField("src_port", IntegerType, nullable = true),
    StructField("dst_port", IntegerType, nullable = true),
    StructField("mm_ts", LongType, nullable = true),
    StructField("mm_id", IntegerType, nullable = true),
    StructField("mm_port", IntegerType, nullable = true)))

  /** Name-sorted `.pcap` / `.pcapng` members of `path` (or `path` itself
    * if a file), through the scheme-resolved Hadoop FileSystem — works for
    * `file:`, `hdfs:`, `s3a:`, …. Returns fully-qualified URIs. */
  def listCaptureFiles(path: String, conf: Configuration): Seq[String] =
    listCaptureFilesWithLen(path, conf).map(_._1)

  /** Same listing with each capture's byte length (free from the same
    * listStatus RPC) — split planning needs sizes. */
  def listCaptureFilesWithLen(path: String, conf: Configuration): Seq[(String, Long)] = {
    val p = new HadoopPath(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p) // raises FileNotFoundException with the path
    if (status.isDirectory)
      fs.listStatus(p).iterator
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && (n.endsWith(".pcap") || n.endsWith(".pcapng"))
        }
        .map(s => (s.getPath.toString, s.getLen)).toSeq.sortBy(_._1)
    else Seq((status.getPath.toString, status.getLen))
  }

  /** Reads one capture of known length `len` (from the listing) fully via
    * the Hadoop FileSystem API. A legacy pcap must be decoded sequentially
    * anyway (no sync markers), and capture hardware rolls files at fixed
    * sizes well under 2 GiB. */
  def readCaptureBytes(file: String, conf: Configuration, len: Long): Array[Byte] = {
    require(len <= Int.MaxValue.toLong,
      s"$file: capture is $len bytes. Whole-buffer reads cap at 2 GiB: LEGACY pcap " +
        "above that reads fine with splitBytes (the r8 seek-skim never materializes " +
        "the prefix), but pcapng requires a full-section buffer — roll pcapng " +
        "captures into files under 2 GiB")
    val buf = new Array[Byte](len.toInt)
    val p = new HadoopPath(file)
    val in = p.getFileSystem(conf).open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** Exact byte/record window of one chunk of a LEGACY capture, found by
    * a SEEK-BASED framing skim (r8, ADVICE r7 #2): walk the 16-byte
    * record headers through a bounded sliding window — payload bytes are
    * hopped over, never materialized — so chunked reads of captures far
    * beyond 2 GiB work end to end (the pre-r8 reader materialized the
    * whole `[0, rangeEnd)` prefix, which re-imposed the 2 GiB array cap
    * on the LAST chunk of every big file, the exact case splitBytes
    * exists for). `startOff` is the first record at/after `rangeStart`,
    * `endOff` the first record at/after `rangeEnd` (or EOF), `baseIdx`
    * the global ordinal of the record at `startOff` — so decoding
    * exactly `[startOff, endOff)` with ordinals from `baseIdx` equals
    * the unsplit read's slice. */
  final case class ChunkWindow(startOff: Long, endOff: Long, baseIdx: Long,
                               swapped: Boolean)

  /** Skim window size: large enough that small-packet captures walk
    * sequentially (one refill per MiB), small enough to stay resident.
    * Records larger than the window are hopped by re-seeking. */
  private val SkimBuf = 1 << 20

  def skimLegacyChunk(file: String, conf: Configuration, len: Long,
                      rangeStart: Long, rangeEnd: Long,
                      strict: Boolean): Option[ChunkWindow] = {
    if (len < 24) return None
    val p = new HadoopPath(file)
    val in = p.getFileSystem(conf).open(p)
    try {
      val head = new Array[Byte](24)
      in.readFully(head, 0, 24) // sequential from 0: ONE stream for everything
      val swapped = PcapParser.legacyByteOrder(head) match {
        case Some(s) => s
        case None => return None // pcapng or unrecognized: caller falls back
      }
      // Sliding window over the framing headers; incl_len reads go
      // through ByteBuffer.getInt with an explicit ByteOrder. Two
      // formulations are deliberately AVOIDED here, both empirically
      // broken in this loop (SkimDebugSpec drove 40-call sweeps):
      // positioned readFully(pos, buf) returned nondeterministic
      // garbage on the local checksum FS, and a hand-rolled branchy
      // (swapped ? BE : LE) bit assembly inside the hot loop
      // MISCOMPILED under C2 after a few thousand iterations (pure
      // function, inputs unchanged, outputs drifting between calls).
      // seek + sequential read + ByteBuffer is the boring,
      // intrinsic-backed shape that survives.
      val order = if (swapped) java.nio.ByteOrder.BIG_ENDIAN
                  else java.nio.ByteOrder.LITTLE_ENDIAN
      var buf = new Array[Byte](0)
      var bb = java.nio.ByteBuffer.wrap(buf).order(order)
      var bufStart = 0L
      var pos = 24L
      var idx = 0L
      var startOff = -1L
      var baseIdx = 0L
      var done = false
      while (!done && pos < rangeEnd && pos < len) {
        val rem = len - pos
        if (rem < 16) {
          if (strict) throw new PcapParser.PcapFormatException(
            s"$file: truncated record header after record ${idx - 1} at byte $pos " +
              s"($rem bytes < 16)")
          done = true
        } else {
          if (startOff < 0 && pos >= rangeStart) { startOff = pos; baseIdx = idx }
          if (pos < bufStart || pos + 16 > bufStart + buf.length) {
            val take = math.min(SkimBuf.toLong, len - pos).toInt
            buf = new Array[Byte](take)
            in.seek(pos)
            in.readFully(buf, 0, take)
            bb = java.nio.ByteBuffer.wrap(buf).order(order)
            bufStart = pos
          }
          val rawIncl = bb.getInt((pos - bufStart).toInt + 8).toLong & 0xffffffffL
          val incl = math.min(rawIncl, rem - 16) // truncated final record clamps
          pos += 16 + incl
          idx += 1
        }
      }
      val endOff = math.min(pos, len)
      if (startOff < 0) startOff = endOff // chunk's range holds no record starts
      Some(ChunkWindow(startOff, endOff, baseIdx, swapped))
    } finally in.close()
  }

  /** Read exactly `[startOff, endOff)` of a capture. */
  def readCaptureRange(file: String, conf: Configuration,
                       startOff: Long, endOff: Long): Array[Byte] = {
    val sz = endOff - startOff
    require(sz <= Int.MaxValue.toLong,
      s"$file: chunk [$startOff, $endOff) spans $sz bytes after record alignment — " +
        "choose splitBytes comfortably under 2 GiB")
    val buf = new Array[Byte](sz.toInt)
    val p = new HadoopPath(file)
    val in = p.getFileSystem(conf).open(p)
    // seek + sequential read, NOT readFully(pos, buf) — see skimLegacyChunk
    try { in.seek(startOff); in.readFully(buf, 0, buf.length) } finally in.close()
    buf
  }
}

/** Hadoop `Configuration` is not `Serializable`; this is the standard
  * Writable-based wrapper (the same shape as Spark's internal
  * `SerializableConfiguration`) so a scan can broadcast the driver's
  * hadoop conf — `fs.*` credentials, endpoints — to executors. */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

class PcapTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"pcap(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = PcapDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val path = Option(options.get("path"))
      .orElse(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("pcap source requires a path"))
    val mode = Option(options.get("mode")).orElse(properties.get("mode"))
      .getOrElse("strict").toLowerCase
    require(mode == "strict" || mode == "permissive",
      s"pcap option mode=$mode; expected strict or permissive")
    val splitBytes = Option(options.get("splitBytes")).orElse(properties.get("splitBytes"))
      .map(_.toLong).getOrElse(0L)
    require(splitBytes >= 0, s"pcap option splitBytes=$splitBytes must be >= 0")
    // streaming admission control (r15, VERDICT r14 #6)
    val maxFiles = Option(options.get("maxFilesPerTrigger"))
      .orElse(properties.get("maxFilesPerTrigger")).map(_.toInt).getOrElse(0)
    require(maxFiles >= 0, s"pcap option maxFilesPerTrigger=$maxFiles must be >= 0")
    // resolved on the driver, broadcast to executors once per scan
    val conf = new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf())
    new PcapScanBuilder(path, mode == "strict", conf, splitBytes, maxFiles)
  }
}

/** Translates pushed-down [[Filter]]s over the decodable columns into a
  * predicate on the decoded scalars ([[PcapParser.Fields]]), evaluated
  * inside the reader BEFORE a packet is appended to the column vectors:
  * a pushed `protocol = 'TCP'` skips the append (and the dotted-quad
  * formatting it would need) for every non-matching packet. Null
  * semantics match SQL: a comparison against a NULL field is not-true,
  * so the row is dropped — and every filter is also re-applied by Spark
  * post-scan (parquet-style contract), so the push is a decode-skip
  * optimization, never a correctness risk. */
object PcapFilters {
  import PcapParser.Fields

  private val numericCols = Set("len", "src_port", "dst_port", "pkt_idx")
  private val allCols = numericCols ++ Set("protocol", "file")

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _)            => allCols(a)
    case In(a, _)                 => allCols(a)
    case GreaterThan(a, _)        => numericCols(a)
    case GreaterThanOrEqual(a, _) => numericCols(a)
    case LessThan(a, _)           => numericCols(a)
    case LessThanOrEqual(a, _)    => numericCols(a)
    case IsNull(a)                => allCols(a)
    case IsNotNull(a)             => allCols(a)
    case And(l, r)                => supported(l) && supported(r)
    case _                        => false
  }

  private def numVal(v: Any): Option[Long] = v match {
    case i: Int   => Some(i.toLong)
    case l: Long  => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    case _        => None
  }

  /** A numeric column's value; every one is non-negative when present,
    * so negative means NULL. */
  private def numField(a: String): Fields => Long = a match {
    case "len"      => _.len
    case "src_port" => _.srcPort.toLong
    case "dst_port" => _.dstPort.toLong
    case "pkt_idx"  => _.pktIdx
    case other      => throw new IllegalArgumentException(s"not a numeric pcap filter column: $other")
  }

  /** Protocol codes whose name is one of `vs`; names the decoder never
    * emits match nothing, exactly as they would post-scan. */
  private def protocolCodes(vs: Array[Any]): Set[Int] = {
    val names = vs.map(String.valueOf).toSet
    PcapParser.ProtocolNames.indices.filter(i => i > 0 && names(PcapParser.ProtocolNames(i))).toSet
  }

  /** True iff a pushed filter set rejects EVERY packet of `file` without
    * looking at packet contents — i.e. a `file`-column predicate that is
    * constant-false for this partition. The reader then skips the file's
    * I/O and decode entirely (partition pruning via pushdown): joining
    * captures against a dim of interesting files decodes only those. */
  def rejectsWholeFile(fs: Array[Filter], file: String): Boolean = {
    def rejects(f: Filter): Boolean = f match {
      case EqualTo("file", v)  => String.valueOf(v) != file
      case In("file", vs)      => !vs.map(String.valueOf).contains(file)
      case IsNull("file")      => true // file is never NULL
      case And(l, r)           => rejects(l) || rejects(r)
      case _                   => false
    }
    fs.exists(rejects)
  }

  /** `file` filters compile against the enclosing file's path (constant per
    * partition), letting e.g. `file LIKE` residuals coexist with an exact
    * `file =` push that skips the whole partition's decode. */
  def compile(f: Filter, file: String): Fields => Boolean = f match {
    case EqualTo("file", v)     => val hit = String.valueOf(v) == file; _ => hit
    case In("file", vs)         => val hit = vs.map(String.valueOf).contains(file); _ => hit
    case IsNull("file")         => _ => false
    case IsNotNull("file")      => _ => true
    case EqualTo("protocol", v) => val cs = protocolCodes(Array(v)); p => cs(p.protocol)
    case In("protocol", vs)     => val cs = protocolCodes(vs); p => cs(p.protocol)
    case IsNull("protocol")     => _.protocol == 0
    case IsNotNull("protocol")  => _.protocol != 0
    case IsNull(a)              => val g = numField(a); p => g(p) < 0
    case IsNotNull(a)           => val g = numField(a); p => g(p) >= 0
    case EqualTo(a, v)             => cmp(a, v, _ == _)
    case In(a, vs)                 =>
      val preds = vs.map(v => cmp(a, v, _ == _)); p => preds.exists(_(p))
    case GreaterThan(a, v)         => cmp(a, v, _ > _)
    case GreaterThanOrEqual(a, v)  => cmp(a, v, _ >= _)
    case LessThan(a, v)            => cmp(a, v, _ < _)
    case LessThanOrEqual(a, v)     => cmp(a, v, _ <= _)
    case And(l, r) =>
      val cl = compile(l, file); val cr = compile(r, file); p => cl(p) && cr(p)
    case _ => _ => true // unsupported never reaches here (supported() gate); decode-all is safe
  }

  private def cmp(a: String, v: Any, op: (Long, Long) => Boolean): Fields => Boolean =
    numVal(v) match {
      case Some(n) => val g = numField(a); p => { val x = g(p); x >= 0 && op(x, n) }
      case None    => _ => true // unexpected literal type: decode everything, Spark re-filters
    }

  def toPredicate(fs: Array[Filter], file: String): Fields => Boolean =
    if (fs.isEmpty) { _ => true }
    else { val ps = fs.map(compile(_, file)); p => ps.forall(_(p)) }
}

/** Scan with column pruning (SupportsPushDownRequiredColumns) and filter
  * pushdown (SupportsPushDownFilters). Catalyst hands us the required
  * columns, so `SELECT protocol FROM pcap` skips address formatting (no
  * src_ip/dst_ip), the whole network decode (no network columns), and
  * the Metamako trailer scan (no mm_* columns) per packet. Pushed
  * filters additionally skip the append of non-matching packets (see
  * [[PcapFilters]]). */
class PcapScanBuilder(path: String, strict: Boolean, conf: SerializableHadoopConf,
                      splitBytes: Long = 0L, maxFilesPerTrigger: Int = 0)
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsReportStatistics with SupportsRuntimeFiltering {
  private var required: StructType = PcapDataSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var runtime: Array[Filter] = Array.empty
  /** The hadoop conf shipped to executors ONCE per scan, as Spark's own
    * `FileScan` does — serialized into each task, it was deserialized by
    * every task. */
  private lazy val broadcastConf: Broadcast[SerializableHadoopConf] =
    SparkSession.active.sparkContext.broadcast(conf)

  /** Runtime filtering (r8, VERDICT r7 #6) — the DPP analog for the
    * non-partitioned pcap path: joining captures against a selective dim
    * on `file` lets Spark evaluate the dim side first and hand this scan
    * an `In(file, ...)` at EXECUTION time; `planInputPartitions` then
    * re-plans with non-matching capture files dropped entirely (no list
    * entry, no open, no decode). Static pushdown can only see literal
    * predicates; this prunes on values known only after the dim scan. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("file"))
  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(PcapFilters.supported)
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(PcapFilters.supported)
    // return ALL filters as residual: Spark re-evaluates them post-scan,
    // the same contract parquet uses for its row-group filters — the push
    // only skips per-packet decode work, it never owns correctness
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def description(): String =
    s"PcapScan path=$path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"
  override def toBatch: Batch = this
  /** Capture byte size from the listing (one RPC per plan) so Catalyst's
    * join-side selection and AQE see a real size instead of defaulting to
    * "unknown = huge": a small capture directory joined against a big
    * table becomes the broadcast side, as it should. Row count stays
    * unknown (legacy pcap has no record count in the header). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val total: Long =
      try PcapDataSource.listCaptureFilesWithLen(path, conf.value).map(_._2).sum
      catch { case _: Exception => -1L }
    override def sizeInBytes(): OptionalLong =
      if (total < 0) OptionalLong.empty() else OptionalLong.of(total)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
  /** One partition per capture file — or, with `splitBytes > 0`, ceil(
    * len / splitBytes) CHUNK partitions per larger-than-one-chunk file
    * (r7): the realistic 100 TB input is a few thousand multi-GB
    * captures, and one task per 50 GB file serializes the CPU-bound
    * decode. Chunk boundaries are raw byte offsets; the reader resolves
    * them to exact record boundaries (a record belongs to the chunk
    * containing its first byte) via the framing skim in
    * [[PcapDataSource.skimLegacyChunk]], so the union of chunk reads is
    * byte-identical to the unsplit read, global `pkt_idx` included. */
  override def planInputPartitions(): Array[InputPartition] =
    PcapDataSource.listCaptureFilesWithLen(path, conf.value)
      .filterNot { case (f, _) => PcapFilters.rejectsWholeFile(runtime, f) }
      .flatMap { case (f, len) =>
        if (splitBytes <= 0 || len <= splitBytes) Seq(PcapFilePartition(f, len))
        else {
          val n = ((len + splitBytes - 1) / splitBytes).toInt
          (0 until n).map { i =>
            PcapFilePartition(f, len, i * splitBytes,
              if (i == n - 1) Long.MaxValue else (i + 1) * splitBytes)
          }
        }
      }.map(p => p: InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new PcapReaderFactory(required, pushed ++ runtime, strict, broadcastConf)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PcapMicroBatchStream(path, required, pushed, strict, conf, broadcastConf,
      maxFilesPerTrigger)
}

/** One capture file (or a byte range of one) with its length from the
  * listing, so the reader needs no `getFileStatus` of its own. */
case class PcapFilePartition(file: String, len: Long, rangeStart: Long = 0L,
                             rangeEnd: Long = Long.MaxValue) extends InputPartition

/** Offset for the pcap stream: the count of (name-sorted) capture files
  * already processed, PLUS the name of the last one — so a file landing
  * with a lexicographically earlier name (or a deletion) is detected as a
  * broken append-only contract instead of silently shifting indices and
  * duplicating/skipping packets. */
case class PcapOffset(n: Int, last: Option[String]) extends Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("n", n)
    last.foreach(node.put("last", _))
    m.writeValueAsString(node)
  }
}

object PcapOffset {
  def fromJson(s: String): PcapOffset = {
    val t = s.trim
    if (t.startsWith("{")) {
      val node = new ObjectMapper().readTree(t)
      PcapOffset(node.get("n").asInt(),
        Option(node.get("last")).filterNot(_.isNull).map(_.asText()))
    } else PcapOffset(t.toInt, None) // pre-round-4 offsets were a bare count
  }
}

/** Micro-batch stream over a GROWING capture directory — the reference's
  * refill loop (main.rs:112-115) as a deployable Structured Streaming
  * source: `spark.readStream.format("pcap").load(dir)`. Each trigger picks
  * up capture files that appeared since the last committed offset, one
  * InputPartition per new file (the same unsplittable-file granularity as
  * the batch scan), read by the batch scan's columnar reader. Contract:
  * capture files are immutable once written and roll with
  * lexicographically increasing names (how capture hardware names them)
  * — ENFORCED via the last-filename carried in [[PcapOffset]]: a
  * rename/delete/out-of-order landing fails the query loudly instead of
  * silently replaying or skipping. Column pruning and filter pushdown
  * apply the same as the batch path. */
class PcapMicroBatchStream(path: String, readSchema: StructType, pushed: Array[Filter],
                           strict: Boolean, conf: SerializableHadoopConf,
                           broadcastConf: Broadcast[SerializableHadoopConf],
                           maxFilesPerTrigger: Int = 0)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}
  // snapshot the listing once per latestOffset() call so a file landing
  // mid-planning can't shift indices between latestOffset and plan
  @volatile private var snapshot: Seq[(String, Long)] = Nil
  private def list(): Seq[(String, Long)] =
    PcapDataSource.listCaptureFilesWithLen(path, conf.value)
  // Trigger.AvailableNow (r15): pin the catch-up target at query start —
  // the stream drains to exactly this listing (in maxFilesPerTrigger-
  // bounded batches) and stops; files landing mid-drain wait for the
  // next run. Same contract as the table stream's AvailableNow.
  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(list().size)
  override def initialOffset(): Offset = PcapOffset(0, None)
  override def latestOffset(): Offset = {
    snapshot = list()
    PcapOffset(snapshot.size, snapshot.lastOption.map(_._1))
  }
  /** ADMISSION CONTROL (r15, VERDICT r14 #6) — the `maxFilesPerTrigger`
    * analog the capture-directory source was missing: a restart against
    * a month-old backlog (or a burst of rolled captures) planned EVERY
    * new file into one batch — one giant commit, no incremental
    * checkpoints, executor-count-insensitive latency. With
    * `maxFilesPerTrigger = k` each trigger admits at most k new files
    * (oldest first — names roll lexicographically); the engine drains
    * the backlog across consecutive batches, each with its own offset
    * commit, exactly like FileStreamSource's own option. Offsets stay
    * the same (count, lastName) pair — a capped batch commits the name
    * of the LAST ADMITTED file, so the append-only contract check keeps
    * working across restarts mid-drain. */
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger)
    else ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    snapshot = list()
    val s = start.asInstanceOf[PcapOffset]
    val avail = availableNowTarget.fold(snapshot.size)(math.min(snapshot.size, _))
    val cap = limit match {
      case m: ReadMaxFiles => math.min(avail, s.n + m.maxFiles())
      case _ => avail
    }
    PcapOffset(cap, if (cap > 0) Some(snapshot(cap - 1)._1) else None)
  }
  /** True head of the directory regardless of the cap — the engine's
    * backlog/lag metric reads this. */
  override def reportLatestOffset(): Offset =
    PcapOffset(snapshot.size, snapshot.lastOption.map(_._1))
  override def deserializeOffset(json: String): Offset = PcapOffset.fromJson(json)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PcapOffset]
    val e = end.asInstanceOf[PcapOffset]
    val files = if (snapshot.size >= e.n) snapshot else list()
    if (s.n > 0) s.last.foreach { committed =>
      val now = if (files.size < s.n) None else Some(files(s.n - 1)._1)
      if (!now.contains(committed)) throw new IllegalStateException(
        s"pcap stream listing shifted under committed offset $s: file #${s.n - 1} was " +
          s"'$committed' but is now ${now.fold("missing")(f => s"'$f'")} — capture files must " +
          "roll append-only with lexicographically increasing names (no renames/deletes)")
    }
    files.slice(s.n, e.n).map { case (f, len) => PcapFilePartition(f, len): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PcapReaderFactory(readSchema, pushed, strict, broadcastConf)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Columnar-only: every partition reads through [[PcapColumnarReader]],
  * and Spark inserts `ColumnarToRow` where a consumer needs rows. */
class PcapReaderFactory(readSchema: StructType, pushed: Array[Filter], strict: Boolean,
                        conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("the pcap source reads columnar batches only")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new PcapColumnarReader(partition.asInstanceOf[PcapFilePartition], readSchema, pushed,
      strict, conf.value.value)
}

object PcapColumnarReader {
  /** Rows per batch — Spark's own parquet/orc vectorized-reader default. */
  val BatchRows = 4096

  // ordinals in PcapDataSource.schema
  private final val File = 0
  private final val PktIdx = 1
  private final val SrcIp = 2
  private final val DstIp = 3
  private final val Len = 4
  private final val Protocol = 5
  private final val SrcPort = 6
  private final val DstPort = 7
  private final val MmTs = 8
  private final val MmId = 9
  private final val MmPort = 10

  private val ProtocolUtf8: Array[Array[Byte]] =
    PcapParser.ProtocolNames.map(n => if (n == null) null else n.getBytes(UTF_8))
}

/** Decodes one capture partition straight into column vectors: each
  * record is decoded IN PLACE from the capture buffer by
  * [[PcapParser.decodeFields]] into one reused [[PcapParser.Fields]], the
  * pushed filters run on those scalars, and a passing record's required
  * columns are written into reused `OnHeapColumnVector`s — addresses as
  * text bytes, NULLs as vector nulls, `file` as one constant vector. No
  * object is allocated per packet.
  *
  * Buffers: an unsplit partition reads the whole capture; a CHUNK
  * partition of a legacy capture (r8) first runs a SEEK-BASED framing
  * skim over the 16-byte record headers through a 1 MiB sliding window
  * to the chunk's exact [startOff, endOff) record range — payloads are
  * hopped, the prefix is never materialized, so legacy captures far
  * beyond 2 GiB chunk-read fine — and reads just that range. pcapng has
  * no fixed record framing (SHB/IDB section state), so its chunks fall
  * back to the full-buffer range walk, capped at 2 GiB per file. A
  * file-level predicate that rejects the whole partition skips even the
  * read (no bytes fetched, nothing decoded). */
final class PcapColumnarReader(part: PcapFilePartition, schema: StructType,
                               pushed: Array[Filter], strict: Boolean, conf: Configuration)
    extends PartitionReader[ColumnarBatch] {
  import PcapColumnarReader._

  private val file = part.file
  private val kinds: Array[Int] = schema.fieldNames.map(n => PcapDataSource.schema.fieldIndex(n))
  // decode must cover pushed-filter columns too, even when pruned away
  private val need = schema.fieldNames.toSet ++ pushed.flatMap(_.references)
  private val wants = PcapParser.Wants(
    ips = need("src_ip") || need("dst_ip"),
    net = Seq("src_ip", "dst_ip", "protocol", "src_port", "dst_port").exists(need),
    trailers = Seq("mm_ts", "mm_id", "mm_port").exists(need))
  private val pred = PcapFilters.toPredicate(pushed, file)

  private val cursor: PcapParser.RecordCursor =
    if (PcapFilters.rejectsWholeFile(pushed, file)) PcapParser.EmptyCursor
    else if (part.rangeStart == 0L && part.rangeEnd == Long.MaxValue)
      PcapParser.openFile(PcapDataSource.readCaptureBytes(file, conf, part.len), strict, file)
    else PcapDataSource.skimLegacyChunk(file, conf, part.len,
        part.rangeStart, part.rangeEnd, strict) match {
      case Some(w) if w.startOff >= w.endOff => PcapParser.EmptyCursor
      case Some(w) =>
        PcapParser.openRecords(
          PcapDataSource.readCaptureRange(file, conf, w.startOff, w.endOff),
          w.swapped, w.baseIdx, strict, file)
      case None =>
        PcapParser.openFile(PcapDataSource.readCaptureBytes(file, conf, part.len),
          strict, file, part.rangeStart, part.rangeEnd)
    }

  /** Writable vector per column, in the pruned schema's order; null for
    * the constant `file` column. */
  private val vectors: Array[WritableColumnVector] = kinds.map { k =>
    if (k == File) null
    else new OnHeapColumnVector(BatchRows, PcapDataSource.schema(k).dataType)
  }
  private val batch = new ColumnarBatch(kinds.indices.map { c =>
    if (kinds(c) == File) {
      val v = new ConstantColumnVector(BatchRows, StringType)
      v.setUtf8String(UTF8String.fromString(file))
      v
    } else vectors(c): ColumnVector
  }.toArray)
  private val fields = new PcapParser.Fields
  private val text = new Array[Byte](40)

  override def next(): Boolean = {
    vectors.foreach(v => if (v != null) v.reset())
    var n = 0
    while (n < BatchRows && cursor.next()) {
      val b = cursor.bytes
      fields.pktIdx = cursor.idx
      PcapParser.decodeFields(b, cursor.off, cursor.off + cursor.inclLen, cursor.tsSec,
        cursor.origLen, wants, fields)
      if (pred(fields)) { append(b, n); n += 1 }
    }
    batch.setNumRows(n)
    n > 0
  }

  private def append(b: Array[Byte], row: Int): Unit = {
    val f = fields
    var c = 0
    while (c < kinds.length) {
      val v = vectors(c)
      (kinds(c): @switch) match {
        case PktIdx => v.putLong(row, f.pktIdx)
        case SrcIp => putIp(b, v, row, f.ipOff)
        case DstIp => putIp(b, v, row, f.dstOff)
        case Len => if (f.len < 0) v.putNull(row) else v.putLong(row, f.len)
        case Protocol =>
          if (f.protocol == 0) v.putNull(row)
          else { val s = ProtocolUtf8(f.protocol); v.putByteArray(row, s, 0, s.length) }
        case SrcPort => if (f.srcPort < 0) v.putNull(row) else v.putInt(row, f.srcPort)
        case DstPort => if (f.dstPort < 0) v.putNull(row) else v.putInt(row, f.dstPort)
        case MmTs => if (f.trailer) v.putLong(row, f.mmTs) else v.putNull(row)
        case MmId => if (f.trailer) v.putInt(row, f.mmId) else v.putNull(row)
        case MmPort => if (f.trailer) v.putInt(row, f.mmPort) else v.putNull(row)
        case _ => // File: the constant vector
      }
      c += 1
    }
  }

  private def putIp(b: Array[Byte], v: WritableColumnVector, row: Int, addrOff: Int): Unit =
    if (fields.ipVersion == 0) v.putNull(row)
    else v.putByteArray(row, text, 0, PcapParser.writeIpText(b, addrOff, fields.ipVersion, text))

  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}

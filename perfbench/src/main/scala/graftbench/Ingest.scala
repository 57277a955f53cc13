package graftbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.PcapParser

/** `ingest`: the paper's job, pcap -> ZSTD Parquet through
  * `PcapToParquet.main`, over two seeded captures of [[CaptureGen.Files]]
  * legacy-pcap files each: the trailer-free [[CaptureGen.Mixed]] mix and
  * the trailer-dominated [[CaptureGen.Tapped]] one. One step is one job
  * over each capture directory; each job's output is checked against
  * that capture's ledger. */
final class Ingest(r: Runner, seed: Long) extends Workload {
  private val spark = r.spark
  private val PacketsPerFile = 62500

  /** One capture, the directory its job writes, and its last output. */
  private final class Capture(val mix: CaptureGen.Mix) {
    val name: String = mix.toString.toLowerCase
    val dir = new File(r.tmp, s"capture-$name")
    val outDir = new File(r.tmp, s"ingest-out-$name")
    var ledger: Ledger = _
    var outBytes, outFiles = 0L
  }
  private val captures = Seq(new Capture(CaptureGen.Mixed), new Capture(CaptureGen.Tapped))
  private def packets = captures.map(_.ledger.packets).sum

  def warmupSteps: Int = 2

  def setup(rep: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    captures.foreach(c => c.ledger = CaptureGen.generate(c.dir, c.mix, seed, PacketsPerFile))
    Map("setup.capture_gen_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def step(): Unit = captures.foreach { c =>
    r.op(s"ingest:${c.name}", (_: Unit) => c.ledger.packets) {
      graft.PcapToParquet.main(Array(c.dir.toString, c.outDir.toString))
    }.foreach(_ => verify(c))
  }

  private def verify(c: Capture): Unit = {
    val parts = Option(c.outDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    c.outFiles = parts.length
    c.outBytes = parts.map(_.length).sum
    r.check(parts.nonEmpty && parts.forall(_.getName.endsWith(".zstd.parquet")),
      s"ingest ${c.name}: output is not ZSTD parquet: ${parts.map(_.getName).take(3).mkString(",")}")
    val df = spark.read.parquet(c.outDir.toString)
    r.check(df.columns.toSeq == Seq("src_ip", "dst_ip", "len", "protocol", "src_port",
      "dst_port", "mm_ts", "mm_id", "mm_port"), s"ingest ${c.name}: columns ${df.columns.mkString(",")}")
    val byProto = df.groupBy(coalesce(col("protocol"), lit(""))).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val a = df.agg(count(lit(1)), sum("len"), count("mm_ts"),
      sum(col("mm_ts").cast("decimal(38,0)")), sum(col("src_port").cast("long"))).head()
    val got = Ledger(a.getLong(0), byProto, a.getLong(1), a.getLong(2),
      Option(a.getDecimal(3)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)),
      a.getLong(4), c.ledger.bytes)
    r.check(got == c.ledger, s"ingest ${c.name}: output $got != ledger ${c.ledger}")
  }

  def endToEnd(ops: Seq[Span]): Map[String, M] = {
    val ms = ops.map(_.ms)
    Map(
      "op_gmean_ms" -> M(Stats.gmean(ms), "ms"),
      "work_per_s" -> M(ops.map(_.items).sum / (ms.sum / 1000), "1/s"),
      "bytes_per_row" -> M(captures.map(_.outBytes).sum.toDouble / packets, "B"))
  }

  /** Layer probes, each timed from outside with the tracer on: the
    * decoder alone, then the DataSource with framing only, with the
    * 9-column decode into Spark's `noop` sink, and with a pushed filter.
    * Each probe covers both captures. */
  def layers(ops: Seq[Span], t: Tracer): Map[String, M] = {
    val inMemory = captures.map(c => CaptureGen.bytes(c.mix, seed, PacketsPerFile))
    val decodeRate = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      val n = inMemory.map { case (bytes, small) =>
        var n, acc = 0L
        PcapParser.parseFile(bytes).foreach { p => n += 1; acc += p.len.getOrElse(0L) }
        require(n == small.packets && acc == small.sumLen, "decoder probe: wrong packet count")
        n
      }.sum
      n / ((System.nanoTime() - t0) / 1e9)
    })
    def src(c: Capture) = spark.read.format("pcap").load(c.dir.toString)
    def probe(kind: String)(body: Capture => Long): Span =
      (0 until 3).flatMap(_ => r.op(kind, (n: Long) => n)(captures.map(body).sum)
        .map(_ => r.spans.last)).sortBy(_.ms).apply(1)
    val skim = probe("skim")(src(_).count())
    r.check(skim.items == packets, s"skim counted ${skim.items}")
    val scan = probe("scan") { c =>
      src(c).select("src_ip", "dst_ip", "len", "protocol", "src_port", "dst_port",
        "mm_ts", "mm_id", "mm_port").write.format("noop").mode("overwrite").save()
      c.ledger.packets
    }
    val tcp = probe("pushdown")(src(_).filter(col("protocol") === "TCP").count())
    val wantTcp = captures.map(_.ledger.protocols.getOrElse("TCP", 0L)).sum
    r.check(tcp.items == wantTcp, s"pushdown counted ${tcp.items} TCP, want $wantTcp")
    t.drain()
    val taskMs = t.opExec(scan.id).taskMs.map(_.toDouble).toSeq
    val stepMs = captures.map(c => Stats.median(ops.filter(_.kind == s"ingest:${c.name}").map(_.ms))).sum
    val rate = (s: Span) => M(packets / (s.ms / 1000), "pkts/s")
    Map(
      "PcapParser.decode_pkts_per_s" -> M(decodeRate, "pkts/s"),
      "PcapDataSource.skim_pkts_per_s" -> rate(skim),
      "PcapDataSource.scan_pkts_per_s" -> rate(scan),
      "PcapDataSource.pushdown_pkts_per_s" -> rate(tcp),
      "PcapDataSource.input_mb_per_s" ->
        M(captures.map(_.ledger.bytes).sum / 1048576.0 / (scan.ms / 1000), "MB/s"),
      "PcapDataSource.task_skew" -> M(Stats.q(taskMs, 1.0) / Stats.median(taskMs), "ratio"),
      "sink.write_s" -> M((stepMs - scan.ms) / 1000, "s"),
      "sink.bytes_out" -> M(captures.map(_.outBytes).sum.toDouble, "bytes"),
      "sink.files_out" -> M(captures.map(_.outFiles).sum.toDouble, "count"))
  }
}

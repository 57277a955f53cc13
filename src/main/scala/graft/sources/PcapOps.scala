package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Source/sink queries around the pcap decoder (SURVEY.md §2.B
  * `pcap_ingest`, `sink_parquet_zstd`, `udf_packet_decode`).
  *
  * Scale notes (100 TB):
  *  - `pcap_ingest` models the production shape: one capture file = one
  *    input partition of the `pcap` DataSource V2 connector
  *    (PcapDataSource.scala; legacy pcap has no sync markers — SURVEY.md
  *    risk #4), decoded on executors. A directory of N capture files
  *    parallelizes to N tasks; here the input is the deterministic
  *    synthetic capture (the query corpus holds no pcap).
  *  - The per-packet single-row RecordBatch anti-pattern of the reference
  *    (main.rs:104-106; SURVEY.md §4.2) disappears: the connector decodes
  *    straight into 4096-row column vectors, and the parquet writer
  *    buffers columnar pages.
  *  - `sink_parquet_zstd` reproduces the reference writer config
  *    (main.rs:72-77): ZSTD compression, parquet v2 page format.
  */
object PcapOps {

  /** Writes the golden synthetic capture to scratch, returns its dir. */
  private[graft] def goldenCaptureDir(): String = {
    val capDir = new java.io.File(s"${Tables.scratchDir}/captures")
    capDir.mkdirs()
    val f = new java.io.File(capDir, "golden.pcap")
    java.nio.file.Files.write(f.toPath, PcapFixtures.goldenPcap)
    capDir.getAbsolutePath
  }

  /** Synthetic capture ingested through the DataSource V2 connector
    * (`spark.read.format("pcap")`, PcapDataSource.scala) — one input
    * partition per capture file, decode on executors. Mirrors main()
    * (main.rs:59-122) as a distributed pipeline. */
  def pcapIngest(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("pcap").load(goldenCaptureDir())
      .drop("file")
      .orderBy(col("pkt_idx").asc)

  /** Scalar-UDF packet decode over a BinaryType frame column — the
    * reference's parse chain (A4–A9) as a reusable column function.
    * Returns the decoded struct flattened to top-level columns. */
  def udfPacketDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val decode = udf { (idx: Long, frame: Array[Byte], tsSec: Long) =>
      PcapParser.decodeRecord(idx, frame, tsSec, frame.length.toLong)
    }
    val frames = PcapFixtures.goldenFrames.zipWithIndex
      .map { case ((bytes, ts), i) => (i.toLong, bytes, ts) }
    spark.createDataset(frames).toDF("idx", "frame", "ts_sec")
      .withColumn("p", decode(col("idx"), col("frame"), col("ts_sec")))
      .select(col("p.*"))
      .orderBy(col("pkt_idx").asc)
  }

  /** ZSTD + parquet v2 write (reference main.rs:72-77) with a read-back
    * aggregate proving round-trip fidelity against the DuckDB oracle run
    * on the ORIGINAL table. */
  def sinkParquetZstd(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${Tables.scratchDir}/sink_parquet_zstd"
    Tables.t(spark, dir, "lineitem")
      .write.mode("overwrite").option("compression", "zstd")
      .option("parquet.writer.version", "v2").parquet(out)
    spark.read.parquet(out)
      .agg(count(lit(1)).as("n_rows"),
           round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double").as("sum_qty"),
           countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** Throughput-scale ingest: 200k synthetic packets (~14 MB of capture,
    * cycling the golden frames with varying timestamps/ports) through the
    * V2 connector, aggregated to a protocol histogram. Single capture
    * file = single partition by design (no sync markers) — the number
    * the bench reports is single-stream decode throughput, the unit that
    * multiplies by file count on a real cluster. The capture is written
    * once and reused across runs. */
  /** Writes (once) and returns the 200k-packet capture directory shared by
    * the large-scale ingest/pushdown probes. */
  private[graft] def largeCaptureDir(): String = {
    val capDir = new java.io.File(s"${Tables.scratchDir}/captures_large")
    capDir.mkdirs()
    val f = new java.io.File(capDir, "large.pcap")
    if (!f.exists() || f.length() == 0) {
      val base = PcapFixtures.goldenFrames
      val frames = (0 until 200000).map { i =>
        val (bytes, ts) = base(i % base.size)
        (bytes, ts + (i / base.size))
      }
      java.nio.file.Files.write(f.toPath, PcapFixtures.pcapFile(frames))
    }
    capDir.getAbsolutePath
  }

  def pcapIngestLarge(spark: SparkSession, dir: String): DataFrame =
    // r7: splitBytes chunks the single 200k-packet capture into ~8 tasks —
    // the one-task-per-file model serializes the CPU-bound decode on a
    // multi-GB capture; chunk readers skim framing to their offset and
    // decode only their range (PcapParser.parseFileRange), so the result
    // is byte-identical to the unsplit read (PcapSourceSpec pins parity)
    spark.read.format("pcap").option("splitBytes", (2L << 20).toString)
      .load(largeCaptureDir())
      .groupBy(col("protocol"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("total_bytes"))
      .orderBy(col("protocol").asc_nulls_first)

  /** Pushdown probe at ingest scale (r4): the same 200k-packet capture with
    * a `protocol = 'TCP'` predicate. The DSv2 scan receives the filter
    * (SupportsPushDownFilters) and drops non-matching packets before
    * they are appended to the column vectors — at 100 TB of captures the
    * skipped dotted-quad formatting is most of a filtered scan's cost. PcapSourceSpec pins both the pushed plan and row
    * agreement with the unfiltered histogram. */
  def pcapFilterPush(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("pcap").load(largeCaptureDir())
      .filter(col("protocol") === "TCP")
      .groupBy(col("dst_port"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("total_bytes"))
      .orderBy(col("dst_port").asc_nulls_first)

  /** 5-tuple flow reconstruction over decoded packets — the canonical
    * downstream analytic on capture data (what the reference's users run
    * in DuckDB on its parquet output). One map-side-combined hash agg
    * keyed on the flow tuple: at 100 TB the shuffle carries |flows| rows,
    * not |packets|. Non-IPv4 frames (NULL tuple fields) group into their
    * own bucket, matching SQL GROUP BY null semantics. */
  /** Shared plan builder: works unchanged on a batch pcap read and on
    * `readStream.format("pcap")` (PcapSourceSpec runs it both ways in
    * complete output mode and asserts equal results). */
  def flowAgg(packets: DataFrame): DataFrame =
    packets
      .groupBy(col("src_ip"), col("dst_ip"), col("src_port"),
               col("dst_port"), col("protocol"))
      .agg(count(lit(1)).as("n_packets"),
           sum(col("len")).as("total_bytes"),
           min(col("mm_ts")).as("first_mm_ts"),
           max(col("mm_ts")).as("last_mm_ts"))
      .withColumn("duration_ns", col("last_mm_ts") - col("first_mm_ts"))

  /** Top talkers (r5): the flows ranked by bytes — the first question a
    * network operator asks of a capture. Composes `flowAgg` with a
    * global top-k: `orderBy(..).limit(k)` plans as
    * TakeOrderedAndProject — each partition keeps its local top-k and
    * only k rows per partition reach the driver-side merge, so the
    * pattern holds at any flow count (never a full global sort).
    * PcapSourceSpec pins the result against an in-memory fold. */
  def pcapTopkTalkers(spark: SparkSession, dir: String): DataFrame =
    flowAgg(spark.read.format("pcap").load(largeCaptureDir()))
      .filter(col("src_ip").isNotNull)
      .orderBy(col("total_bytes").desc, col("src_ip").asc, col("dst_ip").asc,
               col("src_port").asc_nulls_first, col("dst_port").asc_nulls_first)
      .limit(5)

  def pcapFlows(spark: SparkSession, dir: String): DataFrame =
    flowAgg(spark.read.format("pcap").load(goldenCaptureDir()))
      .orderBy(col("src_ip").asc_nulls_first, col("dst_ip").asc_nulls_first,
               col("src_port").asc_nulls_first, col("dst_port").asc_nulls_first,
               col("protocol").asc_nulls_first)

  /** `pcap_ipv6_flows` (r7): flow aggregation over a capture of IPv6
    * (plain, QinQ-wrapped, extension-chained), ICMPv6 and IPv4 frames —
    * the traffic mix the reference decodes to all-NULL rows. Same DSv2
    * read + flow groupBy as `pcap_flows`; spec-pinned (no DuckDB pcap),
    * and PcapParserSpec pins every per-frame decode this relies on. */
  def pcapIpv6Flows(spark: SparkSession, dir: String): DataFrame = {
    val capDir = new java.io.File(s"${Tables.scratchDir}/captures_v6")
    capDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(capDir, "mixed_v6.pcap").toPath, PcapFixtures.mixedV6Pcap)
    spark.read.format("pcap").load(capDir.getAbsolutePath)
      .groupBy(col("src_ip"), col("dst_ip"), col("protocol"))
      .agg(count(lit(1)).as("n_pkts"), sum(col("len")).as("bytes"))
      .orderBy(col("src_ip").asc_nulls_first, col("dst_ip").asc_nulls_first,
               col("protocol").asc_nulls_first)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pcap_ipv6_flows" -> (pcapIpv6Flows _),
    "pcap_topk_talkers" -> (pcapTopkTalkers _),
    "pcap_flows" -> (pcapFlows _),
    "pcap_ingest" -> (pcapIngest _),
    "pcap_ingest_large" -> (pcapIngestLarge _),
    "pcap_filter_push" -> (pcapFilterPush _),
    "udf_packet_decode" -> (udfPacketDecode _),
    "sink_parquet_zstd" -> (sinkParquetZstd _))

  val oracle: Map[String, String] = Map(
    // pcap_ingest / udf_packet_decode: no DuckDB pcap support — golden-row
    // scalatests pin the semantics instead (PcapParserSpec).
    "sink_parquet_zstd" ->
      """SELECT count(1) AS n_rows,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin)
}

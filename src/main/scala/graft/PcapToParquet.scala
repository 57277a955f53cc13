package graft

import org.apache.spark.sql.SparkSession

/** Drop-in replacement for the reference CLI
  * (/root/reference/src/main.rs:59-122):
  *
  *   runMain graft.PcapToParquet <input.pcap-or-dir> <output.parquet> [strict|permissive]
  *
  * Reads pcap AND pcapng (magic-sniffed; the reference crashes on
  * pcapng, main.rs:108) through the DataSource V2 connector, emits the
  * reference's exact 9-column schema in its column order (main.rs:44-54),
  * and writes ZSTD-compressed Parquet with the v2 writer format
  * (main.rs:72-77). Unlike the reference: a directory of captures
  * parallelizes across files (local, hdfs:// or s3a://), truncated
  * FRAMES yield NULL fields instead of a panic, and malformed CAPTURES
  * raise naming the file — diagnosable, not a bare crash; pass
  * `permissive` to salvage what decodes cleanly instead.
  *
  * Scale note: the job is pure map-side — NO shuffle anywhere. The
  * connector reads one partition per capture file with records in
  * sequential capture order, and the writer emits one parquet part per
  * partition, so per-capture record order is preserved end-to-end
  * without the global orderBy a naive port would add (at 100 TB that
  * sort is an avoidable all-data Exchange; the reference itself only
  * ever guarantees order WITHIN a capture, main.rs:83-118). */
object PcapToParquet {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: PcapToParquet <input.pcap|dir> <output.parquet> [strict|permissive]")
    val Array(in, out) = args.take(2)
    val mode = if (args.length == 3) args(2) else "strict"
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    // a caller-owned session is used as it is: no config of this job leaks into it
    val spark = preexisting.getOrElse {
      val s = GraftSession.tuned(SparkSession.builder())
        .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"))
        .appName("pcap-to-parquet")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // No orderBy: one scan partition per capture, records already in
    // capture order — the write stays shuffle-free (see scaladoc).
    spark.read.format("pcap").option("mode", mode).load(in)
      .select("src_ip", "dst_ip", "len", "protocol", "src_port", "dst_port",
              "mm_ts", "mm_id", "mm_port")
      .write.mode("overwrite").option("compression", "zstd")
      .option("parquet.writer.version", "v2").parquet(out)
    if (preexisting.isEmpty) spark.stop() // don't tear down a caller-owned session
  }
}

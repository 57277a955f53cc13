package graft.sources

import java.io.IOException
import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, OutputCommitter, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.column.{ColumnWriteStore, ColumnWriter, ParquetProperties}
import org.apache.parquet.compression.CompressionCodecFactory.BytesInputCompressor
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter,
  ParquetOutputCommitter, ParquetOutputFormat}
import org.apache.parquet.hadoop.ParquetOutputFormat.JobSummaryLevel
import org.apache.parquet.hadoop.api.WriteSupport.WriteContext
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SQLExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.Platform

/** The ingest job's sink: the pcap scan's column vectors written straight
  * into parquet-mr's column writers, one ZSTD part per scan partition.
  *
  * Spark's own `df.write.parquet` would turn every batch back into
  * `UnsafeRow`s (`ColumnarToRow`), then re-assemble each row into a
  * record through `ParquetWriteSupport` and `MessageColumnIO`. Here each
  * partition's batches feed a `ColumnWriteStoreV2` directly, with the
  * same encoders, the same call sequence and the same row-group cuts, so
  * the part files are byte-identical to Spark's writer's:
  *  - one `write(v, 0, 1)` or `writeNull(0, 0)` per column and row, then
  *    `endRecord()` — the page boundaries fall where Spark's fall;
  *  - row groups are cut as `InternalParquetRecordWriter` cuts them;
  *  - `ParquetProperties` and the codec come from the same Hadoop conf
  *    keys `ParquetOutputFormat.getRecordWriter` reads;
  *  - the footer carries Spark's `org.apache.spark.version` and
  *    `org.apache.spark.sql.parquet.row.metadata` keys;
  *  - files commit through the session's `FileCommitProtocol` with
  *    Spark's file names, and partition 0 always writes a part (an empty
  *    capture still yields a readable schema).
  *
  * Not carried over from Spark's writer: parquet-mr's `MemoryManager`
  * (which shrinks row groups when concurrent writers' `parquet.block.size`
  * sum past 95% of the heap), and the rebase-mode footer keys Spark adds
  * only when a `*RebaseModeInWrite` is `LEGACY` (these columns hold no
  * dates or timestamps).
  *
  * The sink accepts only the plan [[write]] documents and throws on any
  * other; it never falls back to the row writer. */
object PcapParquetSink {
  /** The reference's output columns, in its order (main.rs:44-54). */
  val Columns: Seq[String] = Seq("src_ip", "dst_ip", "len", "protocol", "src_port",
    "dst_port", "mm_ts", "mm_id", "mm_port")

  private final val Str = 0
  private final val I64 = 1
  private final val I32 = 2

  /** Writes `df` — a select of [[Columns]] over the pcap source, which
    * plans as a `BatchScanExec` under `ColumnarToRow` — to `out` as ZSTD
    * parquet with v2 pages, replacing whatever `out` held. The job runs
    * as one SQL execution named `save`, as `df.write` would. */
  def write(df: DataFrame, out: String): Unit = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    val scan = columnarScan(qe.executedPlan)
    val schema = df.schema
    val kinds = schema.fields.map(_.dataType match {
      case StringType => Str
      case LongType => I64
      case IntegerType => I32
      case t => throw new IllegalArgumentException(s"PcapParquetSink writes no $t column")
    })
    val parquetSchema = new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema)

    // A fresh copy of the session's conf: nothing set here reaches the session.
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ParquetOutputFormat.COMPRESSION, CompressionCodecName.ZSTD.name)
    conf.set(ParquetOutputFormat.WRITER_VERSION, "v2")
    // Spark's parquet write picks this committer and turns summary files off
    conf.setClass(SQLConf.OUTPUT_COMMITTER_CLASS.key, conf.getClass(
      SQLConf.PARQUET_OUTPUT_COMMITTER_CLASS.key, classOf[ParquetOutputCommitter],
      classOf[OutputCommitter]), classOf[OutputCommitter])
    if (conf.get(ParquetOutputFormat.JOB_SUMMARY_LEVEL) == null &&
        conf.get(ParquetOutputFormat.ENABLE_JOB_SUMMARY) == null)
      conf.setEnum(ParquetOutputFormat.JOB_SUMMARY_LEVEL, JobSummaryLevel.NONE)

    val path = new Path(out)
    val fs = path.getFileSystem(conf)
    val qualified = path.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val job = Job.getInstance(conf)
    FileOutputFormat.setOutputPath(job, qualified)
    val committer = FileCommitProtocol.instantiate(spark.sessionState.conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID().toString, outputPath = qualified.toString)
    val part = new PartSpec(new SerializableHadoopConf(job.getConfiguration),
      parquetSchema.toString, schema.json, kinds, committer,
      new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date))

    SQLExecution.withNewExecutionId(qe, Some("save")) {
      if (fs.exists(qualified) && !committer.deleteWithJob(fs, qualified, true))
        throw new IOException(s"unable to clear output directory $qualified before writing")
      committer.setupJob(job)
      try {
        val scanned = scan.executeColumnar()
        // as Spark's writer: a scan with no partitions still writes one (empty) part
        val rdd = if (scanned.partitions.nonEmpty) scanned
                  else spark.sparkContext.parallelize(Seq.empty[ColumnarBatch], 1)
        val msgs = new Array[TaskCommitMessage](rdd.partitions.length)
        spark.sparkContext.runJob(rdd, part.write _, rdd.partitions.indices,
          (i: Int, m: TaskCommitMessage) => { committer.onTaskCommit(m); msgs(i) = m })
        committer.commitJob(job, msgs.toSeq)
      } catch {
        case t: Throwable => committer.abortJob(job); throw t
      }
    }
    spark.sharedState.cacheManager.recacheByPath(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], qualified, fs)
  }

  /** The `BatchScanExec` under a plan that only moves its batches into
    * rows (`ColumnarToRow`, with or without codegen); throws on any other. */
  private def columnarScan(plan: SparkPlan): BatchScanExec = {
    def scanOf(p: SparkPlan): Option[BatchScanExec] = p match {
      case WholeStageCodegenExec(child) => scanOf(child)
      case InputAdapter(child) => scanOf(child)
      case ColumnarToRowExec(child) => scanOf(child)
      case scan: BatchScanExec if scan.supportsColumnar && scan.output.map(_.name) == Columns =>
        Some(scan)
      case _ => None
    }
    scanOf(plan).getOrElse(throw new IllegalStateException(
      s"PcapParquetSink needs a columnar pcap scan of ${Columns.mkString(", ")}; the plan is:\n$plan"))
  }

  /** What each write task needs, shipped in the task closure. */
  private final class PartSpec(conf: SerializableHadoopConf, parquetSchema: String,
                               sparkSchema: String, kinds: Array[Int],
                               committer: FileCommitProtocol, jobTrackerId: String)
      extends Serializable {

    /** One task: set up the attempt with the committer, write the
      * partition's part file, commit — or abort and rethrow. */
    def write(ctx: TaskContext, batches: Iterator[ColumnarBatch]): TaskCommitMessage = {
      val jobId = new JobID(jobTrackerId, ctx.stageId())
      val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, ctx.partitionId()),
        ctx.taskAttemptId().toInt & Int.MaxValue)
      val hc = conf.value
      hc.set("mapreduce.job.id", jobId.toString)
      hc.set("mapreduce.task.id", attempt.getTaskID.toString)
      hc.set("mapreduce.task.attempt.id", attempt.toString)
      hc.setBoolean("mapreduce.task.ismap", true)
      hc.setInt("mapreduce.task.partition", 0)
      val task = new TaskAttemptContextImpl(hc, attempt)
      committer.setupTask(task)
      val rows = batches.filter(_.numRows > 0)
      // as Spark's writer: partition 0 writes even when empty, no other empty one does
      if (ctx.partitionId() != 0 && !rows.hasNext) return committer.commitTask(task)
      var writer: PartWriter = null
      try {
        val file = committer.newTaskTempFile(task, None, FileNameSpec("", "-c000.zstd.parquet"))
        writer = new PartWriter(new Path(file), hc, MessageTypeParser.parseMessageType(parquetSchema),
          sparkSchema, kinds)
        rows.foreach(writer.write)
        val bytes = writer.close()
        SqlBridge.reportOutput(bytes, writer.rowsWritten)
        committer.commitTask(task)
      } catch {
        case t: Throwable =>
          if (writer != null) writer.abort()
          committer.abortTask(task)
          throw t
      }
    }
  }

  /** Parquet properties exactly as `ParquetOutputFormat.getRecordWriter`
    * builds them from `conf` (parquet-mr 1.16), per-column `key#column`
    * overrides included. */
  private def properties(conf: Configuration): ParquetProperties = {
    import ParquetOutputFormat._
    val b = ParquetProperties.builder()
      .withPageSize(getPageSize(conf))
      .withDictionaryPageSize(getDictionaryPageSize(conf))
      .withDictionaryEncoding(getEnableDictionary(conf))
      .withWriterVersion(getWriterVersion(conf))
      .estimateRowCountForPageSizeCheck(getEstimatePageSizeCheck(conf))
      .withMinRowCountForPageSizeCheck(getMinRowCountForPageSizeCheck(conf))
      .withMaxRowCountForPageSizeCheck(getMaxRowCountForPageSizeCheck(conf))
      .withPageValueCountThreshold(getValueCountThreshold(conf))
      .withColumnIndexTruncateLength(conf.getInt(COLUMN_INDEX_TRUNCATE_LENGTH, 64))
      .withStatisticsTruncateLength(conf.getInt(STATISTICS_TRUNCATE_LENGTH, Int.MaxValue))
      .withMaxBloomFilterBytes(getBloomFilterMaxBytes(conf))
      .withBloomFilterEnabled(getBloomFilterEnabled(conf))
      .withAdaptiveBloomFilterEnabled(getAdaptiveBloomFilterEnabled(conf))
      .withRowGroupRowCountLimit(conf.getInt(BLOCK_ROW_COUNT_LIMIT, Int.MaxValue))
      .withPageRowCountLimit(conf.getInt(PAGE_ROW_COUNT_LIMIT, 20000))
      .withPageWriteChecksumEnabled(getPageWriteChecksumEnabled(conf))
      .withStatisticsEnabled(getStatisticsEnabled(conf))
    conf.iterator().asScala.map(_.getKey).foreach { k =>
      val i = k.indexOf('#')
      if (i > 0) {
        val column = k.substring(i + 1)
        k.substring(0, i) match {
          case ENABLE_DICTIONARY => b.withDictionaryEncoding(column, conf.getBoolean(k, false))
          case BLOOM_FILTER_ENABLED => b.withBloomFilterEnabled(column, conf.getBoolean(k, false))
          case BLOOM_FILTER_EXPECTED_NDV => b.withBloomFilterNDV(column, conf.getLong(k, -1L))
          case BLOOM_FILTER_FPP => b.withBloomFilterFPP(column, conf.getDouble(k, 0.01))
          case BLOOM_FILTER_CANDIDATES_NUMBER =>
            b.withBloomFilterCandidatesNumber(column, conf.getInt(k, 5))
          case STATISTICS_ENABLED => b.withStatisticsEnabled(column, conf.getBoolean(k, true))
          case _ =>
        }
      }
    }
    b.build()
  }

  /** One part file. Rows go column by column into the store's writers,
    * and row groups are cut by `InternalParquetRecordWriter`'s rule: at
    * the row-count limit, or when the buffered size comes within two
    * records of the next row-group size, checked at the same record
    * counts. */
  private final class PartWriter(path: Path, conf: Configuration, schema: MessageType,
                                 sparkSchema: String, kinds: Array[Int]) {
    private val props = properties(conf)
    private val blockSize = ParquetOutputFormat.getLongBlockSize(conf)
    private val codecs = new CodecFactory(conf, props.getPageSizeThreshold)
    private val compressor: BytesInputCompressor = codecs.getCompressor(CompressionCodecName.ZSTD)
    private val meta = {
      // a java.util.HashMap filled in Spark's order: its iteration order is the footer's
      val m = new java.util.HashMap[String, String]()
      m.put("org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT)
      m.put("org.apache.spark.sql.parquet.row.metadata", sparkSchema)
      m
    }
    private val file = new ParquetFileWriter(HadoopOutputFile.fromPath(path, conf), schema,
      ParquetFileWriter.Mode.CREATE, blockSize, conf.getInt(ParquetOutputFormat.MAX_PADDING_BYTES, 8388608),
      ParquetOutputFormat.createEncryptionProperties(conf, path, new WriteContext(schema, meta)), props)
    file.start()
    private val maxRowsPerGroup = props.getRowGroupRowCountLimit.toLong
    private var rowGroupOrdinal = 0
    private var pages: ColumnChunkPageWriteStore = _
    private var store: ColumnWriteStore = _
    private var writers: Array[ColumnWriter] = _
    private var records = 0L
    private var nextMemCheck = props.getMinRowCountForPageSizeCheck.toLong
    private var nextRowGroupSize = blockSize
    var rowsWritten = 0L
    initStore()

    private def initStore(): Unit = {
      pages = new ColumnChunkPageWriteStore(compressor, schema, props.getAllocator,
        props.getColumnIndexTruncateLength, props.getPageWriteChecksumEnabled,
        file.getEncryptor, rowGroupOrdinal)
      store = props.newColumnWriteStore(schema, pages, pages)
      writers = schema.getColumns.asScala.map(store.getColumnWriter).toArray
    }

    def write(batch: ColumnarBatch): Unit = {
      val n = batch.numRows
      val vectors = Array.tabulate(kinds.length)(batch.column)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < kinds.length) {
          val v = vectors(c)
          val w = writers(c)
          if (v.isNullAt(i)) w.writeNull(0, 0)
          else kinds(c) match {
            case Str =>
              val s = v.getUTF8String(i)
              w.write(Binary.fromReusedByteArray(s.getBaseObject.asInstanceOf[Array[Byte]],
                (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes), 0, 1)
            case I64 => w.write(v.getLong(i), 0, 1)
            case _ => w.write(v.getInt(i), 0, 1)
          }
          c += 1
        }
        store.endRecord()
        records += 1
        checkBlockSizeReached()
        i += 1
      }
      rowsWritten += n
    }

    private def checkBlockSizeReached(): Unit =
      if (records >= maxRowsPerGroup) cutRowGroup()
      else if (records >= nextMemCheck) {
        val memSize = store.getBufferedSize
        val recordSize = memSize / records
        if (memSize > nextRowGroupSize - 2 * recordSize) cutRowGroup()
        else nextMemCheck = math.min(
          math.max(props.getMinRowCountForPageSizeCheck.toLong,
            (records + (nextRowGroupSize / recordSize.toFloat).toLong) / 2),
          records + props.getMaxRowCountForPageSizeCheck)
      }

    private def cutRowGroup(): Unit = {
      flushRowGroup()
      initStore()
      // parquet-mr halves the record count after the flush has zeroed it,
      // so the next size check always comes at the minimum
      nextMemCheck = math.min(props.getMinRowCountForPageSizeCheck,
        props.getMaxRowCountForPageSizeCheck).toLong
    }

    private def flushRowGroup(): Unit =
      try {
        if (records > 0) {
          rowGroupOrdinal += 1
          file.startBlock(records)
          store.flush()
          pages.flushToFileWriter(file)
          records = 0
          file.endBlock()
          nextRowGroupSize = math.min(file.getNextRowGroupSize, blockSize)
        }
      } finally {
        store.close()
        pages.close()
      }

    /** Flushes the last row group, writes the footer; returns the file's size. */
    def close(): Long =
      try {
        flushRowGroup()
        file.end(new java.util.HashMap[String, String](meta))
        file.getPos
      } finally {
        file.close()
        codecs.release()
      }

    /** Best effort: the task reports the error that made it abort. */
    def abort(): Unit =
      try { store.close(); pages.close(); file.close() }
      catch { case _: Exception => }
      finally codecs.release()
  }
}

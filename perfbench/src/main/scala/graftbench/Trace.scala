package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.GraftBenchAccess
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Hadoop's local file system keeps no per-operation counters (its
  * storage statistics carry bytes and read/write op totals only), so a
  * traced run installs this subclass as `fs.file.impl` and counts the
  * calls the engine makes. The counters are JVM-wide, which in
  * `local[N]` covers the driver and every executor thread. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def getFileStatus(f: Path): FileStatus = { inc("getFileStatus"); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { inc("open"); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    inc("create"); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { inc("rename"); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { inc("delete"); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { inc("listStatus"); super.listStatus(f) }
}

object CountingLocalFs {
  val Ops: Seq[String] = Seq("getFileStatus", "open", "create", "rename", "delete", "listStatus")
  private val counts = Ops.map(_ -> new AtomicLong).toMap
  private def inc(op: String): Unit = counts(op).incrementAndGet()
  def snapshot(): Map[String, Long] = counts.map { case (k, v) => k -> v.get }
}

/** One benchmark operation: the span around one call into a layer. */
final case class Span(id: Int, kind: String, wallStartMs: Long, durNs: Long, items: Long,
                      fs: Map[String, Long]) {
  def ms: Double = durNs / 1e6
}

/** The traced run's instrument, owned by the benchmark: a
  * [[SparkListener]] for jobs, stages and tasks, a
  * [[QueryExecutionListener]] for each statement's planning phases, and
  * the file-system call counters. Each op's jobs are tagged with
  * `SparkContext.setLocalProperty`, so execution is attributed to the
  * op that caused it. Everything stays in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val OpKey = "graftbench.op"

  final class JobRec(val op: Int, val start: Long) {
    @volatile var end: Long = -1
  }
  final class OpExec {
    var tasks = 0L
    var taskRunMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val exec = new ConcurrentHashMap[Int, OpExec]()
  /** QueryExecution.id -> (analysis, optimization, planning) ms of each statement */
  private val phases = new ConcurrentHashMap[Long, (Long, Long, Long)]()
  /** execution id -> wall ms the statement's execution started */
  private val sqlStart = new ConcurrentHashMap[Long, Long]()
  /** QueryExecution.id -> execution id */
  private val execOf = new ConcurrentHashMap[Long, Long]()
  val spans = mutable.ArrayBuffer.empty[Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { id =>
        jobs.put(e.jobId, new JobRec(id.toInt, e.time))
        e.stageIds.foreach(s => stageOp.put(s, id.toInt))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => sqlStart.put(x.executionId, x.time)
      case x: SparkListenerSQLExecutionEnd =>
        GraftBenchAccess.queryExecution(x).foreach(qe => execOf.put(qe.id, x.executionId))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val x = exec.computeIfAbsent(op, _ => new OpExec)
        x.synchronized {
          x.tasks += 1
          x.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            x.taskRunMs += m.executorRunTime
            x.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            x.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }
  private val qel = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      phases.put(qe.id, (ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  /** Run `body` as op `id`: tag its jobs, count its FS calls, time it. */
  def span[T](id: Int, kind: String, items: T => Long)(body: => T): (T, Span) = {
    sc.setLocalProperty(OpKey, id.toString)
    val fs0 = CountingLocalFs.snapshot()
    val wall = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val d = System.nanoTime() - t0
      val fs1 = CountingLocalFs.snapshot()
      val s = Span(id, kind, wall, d, items(out), fs1.map { case (k, v) => k -> (v - fs0(k)) })
      spans += s
      (out, s)
    } finally sc.setLocalProperty(OpKey, null)
  }

  /** Bounded drain: wait until the listener bus has delivered every event
    * posted so far, or `timeoutMs` passes. False on timeout. */
  def drain(timeoutMs: Long = 30000): Boolean = GraftBenchAccess.drain(sc, timeoutMs)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  def opExec(op: Int): OpExec = Option(exec.get(op)).getOrElse(new OpExec)

  /** Wall ms of op `s` not covered by any of its jobs: driver-side work. */
  def driverGapMs(s: Span): Double = {
    val ivs = jobs.values.asScala.filter(j => j.op == s.id && j.end >= 0)
      .map(j => (j.start, j.end)).toSeq.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0.0, s.ms - covered)
  }

  /** Planning phases of the statements whose execution started inside
    * one of `ops`; statements of the benchmark's own checks fall outside. */
  def statementsIn(ops: Seq[Span]): Seq[(Long, Long, Long)] =
    phases.asScala.toSeq.collect { case (id, ph) if Option(execOf.get(id)).flatMap(e =>
      Option(sqlStart.get(e))).exists(t => ops.exists(s =>
        t >= s.wallStartMs && t <= s.wallStartMs + s.durNs / 1000000)) => ph }

  def jobsOf(s: Span): Int = jobs.values.asScala.count(_.op == s.id)

  /** Writes the spans, one JSON object a line, with their execution counts. */
  def writeSpans(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val x = opExec(s.id)
      val fs = s.fs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"id":${s.id},"kind":"${s.kind}","start_ms":${s.wallStartMs},""" +
        f""""dur_ms":${s.ms}%.3f,"items":${s.items},"jobs":${jobsOf(s)},"tasks":${x.tasks},""" +
        s""""task_run_ms":${x.taskRunMs},"shuffle_bytes":${x.shuffleBytes},""" +
        s""""input_bytes":${x.inputBytes},"fs":{$fs}}""")
    } finally w.close()
  }
}

package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

/** The closed loop shared by every workload: one client, the next op
  * starts when the previous one (and its output check) is done. */
final class Runner(val spark: SparkSession, val tmp: File) {
  var tracer: Option[Tracer] = None
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L
  private var lastFailed = false

  /** Times `body` as one op of `kind`. An exception counts the op as
    * failed and is reported on stderr; the loop goes on. */
  def op[T](kind: String, items: T => Long = (_: T) => 1L)(body: => T): Option[T] = {
    nextId += 1
    attempted += 1
    lastFailed = false
    try {
      val (out, s) = tracer match {
        case Some(t) => t.span(nextId, kind, items)(body)
        case None =>
          val wall = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val out = body
          (out, Span(nextId, kind, wall, System.nanoTime() - t0, items(out), Map.empty))
      }
      spans += s
      Some(out)
    } catch { case NonFatal(e) =>
      fail(s"$kind threw: $e")
      None
    }
  }

  /** Marks the latest op failed unless `ok`. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  /** A check that is an operation of its own, such as a final state check. */
  def checkAlone(ok: => Boolean, what: => String): Unit = {
    attempted += 1
    lastFailed = false
    val good = try ok catch { case NonFatal(e) => System.err.println(e); false }
    check(good, what)
  }

  private def fail(what: String): Unit = {
    if (!lastFailed) failed += 1
    lastFailed = true
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Runs `step` until the ops it times add up to `seconds`, or until a
    * step in which every op threw. */
  def loop(seconds: Double)(step: () => Unit): Seq[Span] = {
    val from = spans.size
    var progressed = true
    while (progressed && spans.drop(from).map(_.ms).sum < seconds * 1000) {
      val before = spans.size
      step()
      progressed = spans.size > before
    }
    spans.drop(from).toSeq
  }
}

trait Workload {
  /** Builds the workload's inputs afresh; called several times, `rep` 0
    * first and untimed, and the last build is the one the loop runs on.
    * Returns the timed set-up parts (name -> seconds): their sum is one
    * set-up time, and the traced run reports each part. Untimed work (the
    * benchmark's own input files made once) stays out of them. */
  def setup(rep: Int): Map[String, Double]
  /** One step of the closed loop: one or more ops, each checked. */
  def step(): Unit
  /** Untimed warm-up steps before measuring (JIT, caches). */
  def warmupSteps: Int
  /** Checks that need the whole run, after the loop. */
  def finish(): Unit = ()
  /** End-to-end metrics from the measured ops. */
  def endToEnd(ops: Seq[Span]): Map[String, M]
  /** Per-layer metrics from the traced ops (and any layer probes). */
  def layers(ops: Seq[Span], t: Tracer): Map[String, M]
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def q(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Main {
  val Cpus = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val tmp = new File(a("tmp")).getAbsoluteFile
    val results = new File(a("results")).getAbsoluteFile
    tmp.mkdirs()
    val b = graft.GraftSession.base(Cpus.toString)
      .appName(s"perfbench-$workload")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(tmp, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(tmp, "spark-warehouse").toString)
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", new File(tmp, "wh").toString)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runner = new Runner(spark, tmp)
    val out = try run(runner, workload, seed, seconds, traced, results)
      catch { case NonFatal(e) =>
        e.printStackTrace()
        runner.checkAlone(false, s"$workload stopped: $e")
        result(runner, workload, seed, Map.empty)
      } finally spark.stop()
    println(out)
  }

  private def run(r: Runner, workload: String, seed: Long, seconds: Double,
                  traced: Boolean, results: File): String = {
    val (w, other): (Workload, () => Workload) = workload match {
      case "ingest" => (new Ingest(r, seed), () => new Lifecycle(r, seed))
      case "lifecycle" => (new Lifecycle(r, seed), () => new Ingest(r, seed))
      case x => throw new IllegalArgumentException(s"unknown workload $x")
    }
    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    // set-up 0 warms the JIT and is not counted
    val setups = (0 to SetupReps).map { i => val s = w.setup(i); phase(s"setup $i $s"); s }.drop(1)
    val setupS = Stats.median(setups.map(_.values.sum))
    def times(ops: Seq[Span]) = ops.map(o => f"${o.kind} ${o.ms}%.0f").mkString(", ")
    (0 until w.warmupSteps).foreach(_ => w.step())
    phase(s"warm-up done: ${times(r.spans.toSeq)}")
    r.spans.clear()
    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val ops = r.loop(seconds)(() => w.step())
    phase(s"measured ${ops.size} ops: ${times(ops)}")
    val gcS = (gcMs() - gc0) / 1000.0
    val peakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val metrics: Map[String, M] =
      if (!traced) w.endToEnd(ops) + ("setup_s" -> M(setupS, "s"))
      else {
        val t = new Tracer(r.spark)
        t.start()
        r.tracer = Some(t)
        val tops = r.loop(seconds)(() => w.step())
        t.stop()
        r.tracer = None
        // untraced again after the traced window, so that the overhead
        // compares against untraced ops on both sides of it
        val after = r.loop(seconds)(() => w.step())
        t.start()
        r.tracer = Some(t)
        val layer = w.layers(tops, t)
        // The layers this workload never calls are measured by one step of
        // the other workload, at that workload's own sizes, so every layer
        // metric is a measurement; METRICS.md says which numbers come from
        // that probe.
        val o = other()
        o.setup(0)
        val probeSetup = o.setup(1)
        val from = r.spans.size
        o.step()
        t.drain()
        val probe = o.layers(r.spans.drop(from).toSeq, t) ++ probeSetup.map { case (k, v) => k -> M(v, "s") }
        t.stop()
        r.tracer = None
        t.writeSpans(new File(results, s"trace-$workload-seed$seed.jsonl"))
        val setupParts = setups.reduce((x, y) => x ++ y.map { case (k, v) =>
          k -> (x.getOrElse(k, 0.0) + v) }).map { case (k, v) => k -> M(v / SetupReps, "s") }
        val st = t.statementsIn(tops)
        def phaseMs(f: ((Long, Long, Long)) => Long) = Stats.mean(st.map(x => f(x).toDouble))
        val wall = Stats.mean(tops.map(_.ms))
        val base = Stats.mean((ops ++ after).map(_.ms))
        probe ++ layer ++ setupParts ++ Map(
          "catalyst.analysis_ms" -> M(phaseMs(_._1), "ms"),
          "catalyst.optimization_ms" -> M(phaseMs(_._2), "ms"),
          "catalyst.planning_ms" -> M(phaseMs(_._3), "ms"),
          "catalyst.statements_per_op" -> M(st.size.toDouble / tops.size, "count"),
          "exec.jobs_per_op" -> M(Stats.mean(tops.map(s => t.jobsOf(s).toDouble)), "count"),
          "exec.tasks_per_op" -> M(Stats.mean(tops.map(s => t.opExec(s.id).tasks.toDouble)), "count"),
          "exec.shuffle_bytes_per_op" ->
            M(Stats.mean(tops.map(s => t.opExec(s.id).shuffleBytes.toDouble)), "bytes"),
          "exec.task_busy_frac" -> M(tops.map(s => t.opExec(s.id).taskRunMs.toDouble).sum /
            (Cpus * tops.map(_.ms).sum), "frac"),
          "exec.driver_gap_ms_per_op" -> M(Stats.mean(tops.map(t.driverGapMs)), "ms"),
          "jvm.gc_s" -> M(gcS, "s"),
          "jvm.peak_heap_mb" -> M(peakMb, "MB"),
          "trace.overhead_frac" -> M(if (base > 0) wall / base - 1 else 0.0, "frac")) ++
          CountingLocalFs.Ops.map(o => s"fs.${o}_per_op" ->
            M(Stats.mean(tops.map(_.fs.getOrElse(o, 0L).toDouble)), "count"))
      }
    w.finish()
    phase("finished")
    result(r, workload, seed, metrics)
  }

  /** The summary line and the JSON result line. A metric that is not a
    * number (no op succeeded) is left out and makes the result incorrect. */
  private def result(r: Runner, workload: String, seed: Long, all: Map[String, M]): String = {
    val (metrics, bad) = all.toSeq.sortBy(_._1).partition { case (_, m) =>
      !m.value.isNaN && !m.value.isInfinite }
    bad.foreach { case (k, _) => System.err.println(s"[perfbench] FAILED: metric $k is not a number") }
    val summary = metrics.map { case (k, m) => f"$k=${m.value}%.4f ${m.unit}" }
    println(s"[perfbench] $workload seed=$seed attempted=${r.attempted} failed=${r.failed} " +
      s"failed_frac=${r.failed.toDouble / math.max(1, r.attempted)} " + summary.mkString(" "))
    val body = metrics.map { case (k, m) =>
      s""""$k": {"value": ${m.value}, "unit": "${m.unit}"}""" }.mkString(", ")
    s"""{"correct": ${r.failed == 0 && bad.isEmpty}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$body}}"""
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

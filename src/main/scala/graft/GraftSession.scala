package graft

import org.apache.spark.sql.SparkSession

/** ONE definition site for the measured session posture (r20, VERDICT
  * r19 #3): Bench, Verify and ProfileBench previously hand-copied the
  * same config triplet, and a library user building their own session
  * got none of it. The posture is PRODUCT configuration — the bench
  * measures it and the oracle gate attests correctness under it — so it
  * lives here and every harness consumes it. SentinelBench intentionally
  * does NOT take these flags: its pinned host-speed reference values
  * predate them, and changing its config would invalidate the
  * cross-round normalization (documented there).
  */
object GraftSession {

  /** The scale-adaptive AQE posture (r19, measured; guide §2.2/§2.4):
    *  - `canChangeCachedPlanOutputPartitioning=true` — the conservative
    *    default freezes a cached plan's output partitioning at
    *    `spark.sql.shuffle.partitions`, so every stage over a persisted
    *    intermediate (MV delta/merge frames) pays `cpus` tasks for
    *    KB-scale data; with the flag AQE derives the partition count
    *    from bytes. Scale-adaptive by construction — no tuned constant.
    *  - `parallelismFirst=false` — respect the advisory target size when
    *    coalescing; Spark's own tuning docs recommend false (the default
    *    true is a first-time-AQE hedge).
    *  - advisory size pinned at Spark's own 64m default, so the
    *    measured configuration is explicit.
    * ABA-measured r19 on a 20-query cross-family subset (fresh JVMs,
    * min-of-reps): 37.3-40.5 s without, 32.0-32.3 s with. Applies to any
    * builder — cluster or local.
    *
    * `file:` resolves to [[ForkFreeLocalFileSystem]], which sets file
    * modes in-process instead of forking a `chmod` per created file when
    * Hadoop's native library is absent. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)

  /** Harness base for the local benches/gates: `local[$cpus]` master
    * (the driver re-runs the bench at a lower core count to measure
    * scaling — never hard-code the master), shuffle partitions at the
    * core count (AQE right-sizes from there), UI off, the tuned posture
    * above, and a 2-minute periodic driver GC (broadcast/RDD cleanup is
    * GC-driven; the 30-min default let hundreds of per-query broadcasts
    * pile up over a ~300-query sweep and inflated late queries 20-30x —
    * r4 finding). `withExtensions=false` is the controlled-A/B escape
    * hatch (r13): view/TVF queries fail without the extensions, so pair
    * it with SPARK_GRAFT_ONLY. */
  def base(cpus: String, withExtensions: Boolean = true): SparkSession.Builder = {
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
    val b1 = tuned(b0)
    if (withExtensions)
      b1.config("spark.sql.extensions", "graft.functions.GraftExtensions")
    else b1
  }
}

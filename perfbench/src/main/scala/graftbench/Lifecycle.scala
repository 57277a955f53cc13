package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.types._

import graft.operators.{MaterializedView, TableFormat}

/** Synthetic TPC-H `orders` rows, a pure function of (seed, key, salt). */
object Orders {
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalcents", LongType),
    StructField("o_orderpriority", StringType)))
  private val Status = Array("F", "O", "P")
  private val Prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def row(seed: Long, key: Long, salt: Int): Row = {
    val r = new java.util.SplittableRandom(seed * 31 + key * 1000003L + salt)
    Row(key, 1L + r.nextInt(15000), Status(r.nextInt(3)), 90000L + r.nextInt(50000000),
      Prio(r.nextInt(5)))
  }
}

/** `lifecycle`: a seeded DML script over one graft table of
  * `orders`-shaped rows (TPC-H sf0.1 has 150k orders), with one
  * aggregate MV on it. One step is one round:
  *  1. `appendCommit` of 1000 new rows;
  *  2. copy-on-write `deleteWhere` of a 200-key range;
  *  3. `compact` of the files under 256 KiB (the append's);
  *  4. `mergeInto` of 500 keys, half of them new;
  *  5. a SQL key-set DELETE of 50 keys, which the table's
  *     `delete.mode=equality` turns into an equality delete;
  *  6. three reads while that delete is outstanding: an aggregate, a
  *     file-skipping range and `VERSION AS OF` the round's append;
  *  7. `resolve_eqdel` (copy-on-write commits refuse to publish over an
  *     outstanding equality delete, so it cannot wait for later rounds);
  *  8. `MaterializedView.refresh`, then an aggregate the MV rewrite
  *     serves and a read of the MV itself.
  * Every op is replayed on a plain in-memory copy of the table; each read
  * and the final full-table check compare against that replay. */
final class Lifecycle(r: Runner, seed: Long) extends Workload {
  private val spark = r.spark
  private val InitialRows = 50000
  private val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
  private val input = new java.io.File(r.tmp, "orders-input").toString
  private var name = ""
  private def base = s"$wh/db/$name"
  private def mvBase = s"$wh/db/${name}_mv"
  private val state = mutable.HashMap.empty[Long, Row]
  private val rnd = new java.util.SplittableRandom(seed)
  private var nextKey = 0L
  private var round = 0
  private var mvReads, mvHits = 0

  def warmupSteps: Int = 1

  private def df(rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), Orders.Schema)

  def setup(rep: Int): Map[String, Double] = {
    name = s"orders_$rep"
    state.clear()
    (1L to InitialRows).foreach(k => state(k) = Orders.row(seed, k, 0))
    nextKey = InitialRows + 1L
    if (rep == 0) df(state.values.toSeq.sortBy(_.getLong(0))).write.parquet(input)
    val t0 = System.nanoTime()
    TableFormat.appendCommit(spark, base, spark.read.parquet(input), statsCol = Some("o_orderkey"),
      setProps = Map("delete.mode" -> "equality"))
    MaterializedView.create(spark, wh, mvBase,
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n, sum(o_totalcents) AS cents
         |FROM graft.db.$name GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    Map("setup.table_build_s" -> (System.nanoTime() - t0) / 1e9)
  }

  private def key(): Long = 1L + rnd.nextLong(nextKey - 1)
  private def cents(rows: Iterable[Row]): Long = rows.iterator.map(_.getLong(3)).sum

  def step(): Unit = {
    round += 1
    val add = (nextKey until nextKey + 1000).map(k => Orders.row(seed, k, round))
    nextKey += 1000
    val appended = r.op("appendCommit")(
      TableFormat.appendCommit(spark, base, df(add), statsCol = Some("o_orderkey")))
    appended.foreach(_ => add.foreach(x => state(x.getLong(0)) = x))
    val atAppend = (state.size.toLong, cents(state.values))

    val lo = key()
    r.op("deleteWhere")(TableFormat.deleteWhere(spark, base, "o_orderkey", lo, lo + 199))
      .foreach(_ => (lo to lo + 199).foreach(state.remove))
    r.op("compact")(TableFormat.compact(spark, base, 256L * 1024))

    val mk = (Seq.fill(250)(key()) ++ (nextKey until nextKey + 250)).distinct
    nextKey += 250
    val changes = mk.map(k => Orders.row(seed, k, round + 100000))
    r.op("mergeInto")(TableFormat.mergeInto(spark, base, df(changes), "o_orderkey"))
      .foreach(_ => changes.foreach(x => state(x.getLong(0)) = x))

    val dk = Seq.fill(50)(key()).distinct
    r.op("deleteEq")(spark.sql(
      s"DELETE FROM graft.db.$name WHERE o_orderkey IN (${dk.mkString(",")})").collect())
      .foreach(_ => dk.foreach(state.remove))

    def agg(kind: String, sql: String, want: (Long, Long)): Unit =
      r.op(kind) { val x = spark.sql(sql).head(); (x.getLong(0), x.getLong(1)) }
        .foreach(got => r.check(got == want, s"lifecycle $kind: got $got, replay $want"))
    agg("read:aggregate", s"SELECT count(*), coalesce(sum(o_totalcents), 0) FROM graft.db.$name",
      (state.size.toLong, cents(state.values)))
    val rlo = key()
    val inRange = state.valuesIterator.filter(x => x.getLong(0) >= rlo && x.getLong(0) <= rlo + 5000).toSeq
    agg("read:range", s"""SELECT count(*), coalesce(sum(o_totalcents), 0) FROM graft.db.$name
                         |WHERE o_orderkey BETWEEN $rlo AND ${rlo + 5000}""".stripMargin,
      (inRange.size.toLong, cents(inRange)))
    appended.foreach(v => agg("read:asOf",
      s"SELECT count(*), coalesce(sum(o_totalcents), 0) FROM graft.db.$name VERSION AS OF $v", atAppend))

    r.op("resolveEqDeletes")(spark.sql(s"CALL graft.system.resolve_eqdel('db.$name')").collect())
    r.op("refresh")(MaterializedView.refresh(spark, wh, mvBase))
    readMv()
  }

  private def readMv(): Unit = {
    val byStatus = state.values.groupBy(_.getString(2)).map { case (s, xs) =>
      (s, xs.size.toLong, cents(xs)) }.toSet
    r.op[(Set[(String, Long, Long)], DataFrame)]("read:mvRewrite") {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      try {
        val q = spark.sql(s"""SELECT o_orderstatus, count(*), sum(o_totalcents)
                             |FROM graft.db.$name GROUP BY o_orderstatus""".stripMargin)
        (q.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet, q)
      } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    }.foreach { case (got, q) =>
      mvReads += 1
      if (q.queryExecution.optimizedPlan.toString.contains(s"${name}_mv__state")) mvHits += 1
      r.check(got == byStatus, "lifecycle: MV-rewritten aggregate differs from the replay")
    }
    val groups = state.values.groupBy(x => (x.getString(2), x.getString(4))).map {
      case ((s, p), xs) => (s, p, xs.size.toLong, cents(xs)) }.toSet
    r.op("read:mv")(spark.sql(s"SELECT o_orderstatus, o_orderpriority, n, cents FROM graft.db.${name}_mv")
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3))).toSet)
      .foreach(got => r.check(got == groups, "lifecycle: MV state differs from the replay"))
  }

  override def finish(): Unit = r.checkAlone(
    spark.table(s"graft.db.$name").collect().map(x => x.getLong(0) -> x).toMap == state.toMap,
    "lifecycle: final table differs from the replay")

  private def isCommit(s: Span) = !s.kind.startsWith("read:")

  def endToEnd(ops: Seq[Span]): Map[String, M] = {
    val entries = TableFormat.manifestEntries(spark, base, TableFormat.currentVersion(spark, base))
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = entries.map(e => fs.getFileStatus(new Path(e.path)).getLen).sum
    Map(
      "op_gmean_ms" -> M(Stats.gmean(ops.filter(isCommit).map(_.ms)), "ms"),
      "work_per_s" -> M(ops.size / (ops.map(_.ms).sum / 1000), "1/s"),
      "bytes_per_row" -> M(bytes.toDouble / state.size, "B"))
  }

  def layers(ops: Seq[Span], t: Tracer): Map[String, M] = {
    def p50(kind: String) = Stats.median(ops.filter(_.kind == kind).map(_.ms))
    val refresh = ops.filter(_.kind == "refresh")
    val reads = ops.filterNot(isCommit)
    val v = TableFormat.currentVersion(spark, base)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cat = spark.sessionState.catalogManager.catalog("graft").asInstanceOf[TableCatalog]
    val loads = (0 until 9).flatMap(_ =>
      r.op("loadTable")(cat.loadTable(Identifier.of(Array("db"), name))).map(_ => r.spans.last.ms))
    Map(
      "TableFormat.appendCommit_ms" -> M(p50("appendCommit"), "ms"),
      "TableFormat.deleteWhere_ms" -> M(p50("deleteWhere"), "ms"),
      "TableFormat.deleteEq_ms" -> M(p50("deleteEq"), "ms"),
      "TableFormat.mergeInto_ms" -> M(p50("mergeInto"), "ms"),
      "TableFormat.compact_ms" -> M(p50("compact"), "ms"),
      "TableFormat.resolveEqDeletes_ms" -> M(p50("resolveEqDeletes"), "ms"),
      "TableFormat.manifest_bytes" ->
        M(fs.getFileStatus(new Path(s"$base/_manifests/v$v.manifest")).getLen.toDouble, "bytes"),
      "TableFormat.live_files" -> M(TableFormat.manifestEntries(spark, base, v).size.toDouble, "count"),
      "MaterializedView.refresh_ms" -> M(p50("refresh"), "ms"),
      "MaterializedView.refresh_jobs" -> M(Stats.mean(refresh.map(s => t.jobsOf(s).toDouble)), "count"),
      "MaterializedView.refresh_tasks" ->
        M(Stats.mean(refresh.map(s => t.opExec(s.id).tasks.toDouble)), "count"),
      "MaterializedView.refresh_driver_ms" -> M(Stats.mean(refresh.map(t.driverGapMs)), "ms"),
      "MvRewriteRule.hit_frac" -> M(mvHits.toDouble / math.max(1, mvReads), "frac"),
      "GraftCatalog.loadTable_ms" -> M(Stats.median(loads), "ms"),
      "read.graft_p50_ms" -> M(Stats.median(reads.map(_.ms)), "ms"),
      "read.bytes_read_per_query" ->
        M(Stats.mean(reads.map(s => t.opExec(s.id).inputBytes.toDouble)), "bytes"))
  }
}

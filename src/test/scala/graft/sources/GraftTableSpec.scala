package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, StringStartsWith}

import graft.SparkTestBase
import graft.operators.TableFormat

/** Pins the `graft` TableCatalog (SQL + VERSION AS OF + stats-pruned
  * scans) and the table-format micro-batch stream (version offsets,
  * exactly-once arrival, append-only guard, pinned-restart replay). */
class GraftTableSpec extends SparkTestBase {
  import spark.implicits._

  private def freshBase(name: String): String = {
    val base = s"${graft.Tables.scratchDir}/$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  // ONE warehouse for the whole suite: Spark caches the catalog instance
  // after first use, so a later conf.set of a different warehouse is
  // silently ignored — distinct TABLES isolate the tests instead
  private lazy val wh: String = {
    val w = s"${graft.Tables.scratchDir}/graft_wh"
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    w
  }

  test("catalog SQL: VERSION AS OF pins a manifest; bare name follows the pointer") {
    val base = s"$wh/db/spec_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1, None)
    TableFormat.commit(spark, base, Seq((3L, "c")).toDF("k", "v"), 2, Some(1))
    assert(spark.sql("SELECT count(1) FROM graft.db.spec_t VERSION AS OF 1").head.getLong(0) == 2)
    assert(spark.sql("SELECT count(1) FROM graft.db.spec_t").head.getLong(0) == 3)
    assert(spark.sql("SELECT k FROM graft.db.spec_t VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("catalog scan: pushed range filters prune files via manifest stats") {
    val base = s"$wh/db/spec_r"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val total = TableFormat.manifestEntries(spark, base, 1).size
    assert(total >= 2, s"test premise: need multiple files, got $total")
    val sb = new GraftScanBuilder(base, 1,
      TableFormat.manifest(spark, base, 1).schema.get, Seq("k"), spark, 0)
    sb.pushFilters(Array(GreaterThanOrEqual("k", 100L), LessThanOrEqual("k", 200L)))
    val kept = sb.keptEntries().size
    assert(kept < total, s"scan kept $kept of $total files — stats didn't prune")
    // and the SQL result over the pruned scan is exact
    val n = spark.sql("SELECT count(1) FROM graft.db.spec_r WHERE k BETWEEN 100 AND 200")
      .head.getLong(0)
    assert(n == 101)
  }

  test("catalog scan: fractional filters / non-integral stats columns never mis-prune (r9)") {
    val base = s"$wh/db/spec_f"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // DOUBLE stats column: manifest lo/hi are long-truncated (10.6→10),
    // so file skipping must be disabled for this column outright —
    // `d > 10.5` pre-r9 computed bounds (11, MAX) and dropped the file
    // holding 10.6–10.9 (ADVICE r8 #1)
    val rows = (0L until 4000L).map(i => (i, i / 10.0)).toDF("k", "d")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("d"))
    val total = TableFormat.manifestEntries(spark, base, 1).size
    assert(total >= 2, s"test premise: need multiple files, got $total")
    val sb = new GraftScanBuilder(base, 1,
      TableFormat.manifest(spark, base, 1).schema.get, Seq("d"), spark, 0)
    sb.pushFilters(Array(GreaterThan("d", 10.5)))
    assert(sb.keptEntries().size == total,
      "pruned on a DOUBLE stats column — truncated bounds are not trustworthy")
    val n = spark.sql(
      "SELECT count(1) FROM graft.db.spec_f WHERE d > 10.5 AND d < 11.0").head.getLong(0)
    assert(n == 4, s"expected d in {10.6..10.9}, got $n rows")
    // fractional LITERAL against an integral column: no bound derived,
    // filter prunes nothing, result exact
    val sb2 = new GraftScanBuilder(base, 1,
      TableFormat.manifest(spark, base, 1).schema.get, Seq("k"), spark, 0)
    sb2.pushFilters(Array(GreaterThan("k", 100.5)))
    assert(sb2.keptEntries().size == total,
      "a fractional literal must yield no pruning bound on an integral column")
    assert(spark.sql("SELECT count(1) FROM graft.db.spec_f WHERE k > 100.5")
      .head.getLong(0) == 3899)
  }

  test("hidden partitioning: days(ts) clusters on raw ts; raw predicates prune (r13)") {
    val _ = wh
    spark.sql("DROP TABLE IF EXISTS graft.db.hp")
    spark.sql("CREATE TABLE graft.db.hp (ts TIMESTAMP, v BIGINT) PARTITIONED BY (days(ts))")
    spark.sql(
      """INSERT INTO graft.db.hp
        |SELECT timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, CAST(id AS INT), 0), id
        |FROM range(0, 20000)""".stripMargin)
    val base = s"$wh/db/hp"
    val v = TableFormat.currentVersion(spark, base)
    // the transform resolves to clustering on the SOURCE column with
    // real per-file micros bounds from the parquet footers
    assert(TableFormat.manifest(spark, base, v).statsCols == Seq("ts"))
    val entries = TableFormat.manifestEntries(spark, base, v)
    assert(entries.size >= 2 && entries.forall(e => e.lo.isDefined && e.hi.isDefined),
      s"temporal footer stats missing: ${entries.map(e => (e.lo, e.hi))}")
    // a predicate on the RAW column prunes files — the hidden-partitioning
    // contract: the query never names the transform
    val sb = new GraftScanBuilder(base, v,
      TableFormat.manifest(spark, base, v).schema.get, Seq("ts"), spark, 0)
    sb.pushFilters(Array(
      GreaterThanOrEqual("ts", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      LessThan("ts", java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))))
    assert(sb.keptEntries().size < entries.size,
      s"kept ${sb.keptEntries().size} of ${entries.size} — raw ts predicate didn't prune")
    assert(spark.sql(
      """SELECT count(1) FROM graft.db.hp
        |WHERE ts >= timestamp'2024-01-02 00:00:00'
        |  AND ts < timestamp'2024-01-03 00:00:00'""".stripMargin)
      .head.getLong(0) == 1440) // one day of one-a-minute rows
    // bucket(n, col) = Iceberg transform syntax for the graft.bucket layout
    spark.sql("DROP TABLE IF EXISTS graft.db.hpb")
    spark.sql("CREATE TABLE graft.db.hpb (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    val bBase = s"$wh/db/hpb"
    assert(TableFormat.bucketSpecOf(TableFormat.manifest(spark, bBase,
      TableFormat.currentVersion(spark, bBase)).props) == Some((4, "k")),
      "bucket transform must land as the graft.bucket layout property")
    spark.sql("INSERT INTO graft.db.hpb SELECT id, concat('r', id) FROM range(0, 100)")
    val bEntries = TableFormat.manifestEntries(spark, bBase,
      TableFormat.currentVersion(spark, bBase))
    assert(bEntries.nonEmpty && bEntries.forall(_.path.contains("__bkt=")),
      "bucket-transform INSERT must route one-file-per-bucket")
    // unknown transforms refuse naming the supported set
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.hpx (k BIGINT) PARTITIONED BY (foo(k))")
    }
    assert(e.getMessage.contains("transform"), s"wrong error: ${e.getMessage}")
    // temporal z-order: a (days(ts), v) declaration rides the curve in
    // micros — both dims' bounds recorded, answers exact
    spark.sql("DROP TABLE IF EXISTS graft.db.hpz")
    spark.sql("CREATE TABLE graft.db.hpz (ts TIMESTAMP, v BIGINT) PARTITIONED BY (days(ts), v)")
    spark.sql(
      """INSERT INTO graft.db.hpz
        |SELECT timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, CAST(id % 1440 AS INT), 0), id
        |FROM range(0, 8000)""".stripMargin)
    val zr = spark.sql("CALL graft.system.optimize_zorder_n('db.hpz', 4)").head
    val zEntries = TableFormat.manifestEntries(spark, s"$wh/db/hpz", zr.getInt(0))
    assert(zEntries.size >= 2 && zEntries.forall(ze =>
      ze.lo.isDefined && ze.hi.isDefined && ze.statsAt(1)._1.isDefined),
      s"z-ordered temporal bounds missing: ${zEntries.map(ze => (ze.lo, ze.hi))}")
    assert(spark.sql("SELECT count(1) FROM graft.db.hpz WHERE v BETWEEN 100 AND 200")
      .head.getLong(0) == 101)
  }

  test("catalog DDL: createTable refuses to destroy a populated non-table path (r9)") {
    val _ = wh
    // park a REAL table under the directory CREATE TABLE would claim:
    // namespaces and tables share the warehouse tree, so `occupied` here
    // is a populated namespace dir — pre-r9 createTable recursively
    // deleted it as "crash debris" (ADVICE r8 #3)
    val inner = s"$wh/occupied/t"
    val p = new org.apache.hadoop.fs.Path(s"$wh/occupied")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, inner, Seq((1L, "a")).toDF("k", "v"), 1, None)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.occupied (id BIGINT)")
    }
    assert(e.getMessage.contains("not a graft table"),
      s"wrong failure: ${e.getMessage}")
    assert(TableFormat.readSnapshot(spark, inner).count() == 1,
      "CREATE TABLE destroyed the namespace's contents")
  }

  test("catalog DDL: createTable commits an empty v1; dropTable removes it") {
    val _ = wh
    spark.sql("DROP TABLE IF EXISTS graft.db.fresh")
    spark.sql("CREATE TABLE graft.db.fresh (id BIGINT, name STRING)")
    val out = spark.sql("SELECT * FROM graft.db.fresh")
    assert(out.count() == 0 && out.schema.fieldNames.toSeq == Seq("id", "name"))
    spark.sql("DROP TABLE graft.db.fresh")
    intercept[Exception] { spark.sql("SELECT * FROM graft.db.fresh").collect() }
  }

  test("catalog DML: INSERT INTO appends a version; INSERT OVERWRITE replaces, old version readable") {
    val _ = wh
    spark.sql("DROP TABLE IF EXISTS graft.db.dml")
    spark.sql("CREATE TABLE graft.db.dml (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.dml VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.dml VALUES (3, 'c')")
    assert(spark.sql("SELECT k FROM graft.db.dml ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // each INSERT INTO is one append commit: create=1, +2 inserts = v3
    val base = s"$wh/db/dml"
    assert(TableFormat.currentVersion(spark, base) == 3)
    spark.sql("INSERT OVERWRITE graft.db.dml VALUES (9, 'z')")
    assert(spark.sql("SELECT k FROM graft.db.dml").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // overwrite is a NEW snapshot, not a truncate: v3 stays readable
    assert(spark.sql("SELECT count(1) FROM graft.db.dml VERSION AS OF 3").head.getLong(0) == 3)
  }

  test("native streaming sink: writeStream lands each epoch as an append commit (r9)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = freshBase("tsink1")
    val ck = freshBase("tsink1_ck")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    TableFormat.commit(spark, base,
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      1, parent = None)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("k", "v").writeStream.format("graft-table")
      .option("path", base).option("checkpointLocation", ck).start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val got = TableFormat.readSnapshot(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"sink rows wrong/duplicated: $got")
    // two non-empty epochs on top of the create = v3, and the sink's own
    // appends stream back out through the table source (reads own sink)
    assert(TableFormat.currentVersion(spark, base) == 3)
    val q2 = spark.readStream.format("graft-table").option("path", base).load()
      .writeStream.format("memory").queryName("tsink1_rb").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("tsink1_rb").count() == 3, "table_stream can't read the sink's appends")
    } finally q2.stop()
  }

  test("streaming sink exactly-once: a replayed epoch commits nothing, crash windows repair (r9)") {
    val base = freshBase("tsink2")
    TableFormat.commit(spark, base, Seq((1L, "a")).toDF("k", "v"), 1, None)
    def stage(rows: Seq[(Long, String)], tag: String): Seq[String] = {
      val dir = s"$base/data/stream_q1/$tag"
      rows.toDF("k", "v").write.mode("overwrite").parquet(dir)
      val p = new org.apache.hadoop.fs.Path(dir)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    }
    val schema = Seq((0L, "")).toDF("k", "v").schema
    // epoch 0 commits
    val v1 = TableFormat.exactlyOnceStagedEpoch(spark, base, "q1", 0L,
      stage(Seq((2L, "b")), "e0"), schema)
    assert(v1.contains(2))
    // replay of epoch 0 (restart before checkpoint advanced): no-op
    assert(TableFormat.exactlyOnceStagedEpoch(spark, base, "q1", 0L,
      stage(Seq((2L, "b")), "e0r"), schema).isEmpty, "replayed epoch committed twice")
    assert(TableFormat.readSnapshot(spark, base).count() == 2)
    // crash window: epoch 1's manifest commits but the watermark write is
    // lost — the txn header scan must still detect the replay
    val v2 = TableFormat.exactlyOnceStagedEpoch(spark, base, "q1", 1L,
      stage(Seq((3L, "c")), "e1"), schema)
    assert(v2.contains(3))
    val wm = new org.apache.hadoop.fs.Path(s"$base/_streams/q1")
    wm.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wm, false)
    assert(TableFormat.exactlyOnceStagedEpoch(spark, base, "q1", 1L,
      stage(Seq((3L, "c")), "e1r"), schema).isEmpty,
      "lost watermark turned a committed epoch into a duplicate")
    assert(TableFormat.readSnapshot(spark, base).count() == 3)
    // a DIFFERENT query's epoch 0 at the same table is NOT a replay
    val v3 = TableFormat.exactlyOnceStagedEpoch(spark, base, "q2", 0L,
      stage(Seq((4L, "d")), "q2e0"), schema)
    assert(v3.contains(4), "foreign query's epoch dropped as a replay")
    // and a concurrent batch INSERT interleaves via the same OCC append
    TableFormat.appendCommit(spark, base, Seq((5L, "e")).toDF("k", "v"))
    val v4 = TableFormat.exactlyOnceStagedEpoch(spark, base, "q1", 2L,
      stage(Seq((6L, "f")), "e2"), schema)
    assert(v4.contains(6))
    assert(TableFormat.readSnapshot(spark, base).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("SQL DELETE FROM: copy-on-write commit, out-of-range files carry over (r9)") {
    val _ = wh
    val base = s"$wh/db/sqldel"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val before = TableFormat.manifestEntries(spark, base, 1)
    spark.sql("DELETE FROM graft.db.sqldel WHERE k BETWEEN 100 AND 200")
    assert(spark.sql("SELECT count(1) FROM graft.db.sqldel").head.getLong(0) == 3899)
    assert(spark.sql("SELECT count(1) FROM graft.db.sqldel WHERE k BETWEEN 100 AND 200")
      .head.getLong(0) == 0)
    val after = TableFormat.manifestEntries(spark, base, 2)
    assert(after.map(_.path).toSet.intersect(before.map(_.path).toSet).nonEmpty,
      "a narrow-range DELETE rewrote every file — stats pruning didn't bound the rewrite")
    // pre-delete snapshot intact
    assert(spark.sql("SELECT count(1) FROM graft.db.sqldel VERSION AS OF 1").head.getLong(0) == 4000)
  }

  test("SQL MERGE INTO: upsert through the row-level operation API (r9)") {
    val _ = wh
    val base = s"$wh/db/sqlmerge"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 1000L).map(i => (i, i)).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val v1Files = TableFormat.manifestFiles(spark, base, 1).toSet
    (990L until 1010L).map(i => (i, -1L)).toDF("k", "v")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      """MERGE INTO graft.db.sqlmerge t USING merge_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, v FROM graft.db.sqlmerge").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1010, s"expected 1010 distinct keys, got ${got.size}")
    assert((990L until 1010L).forall(got(_) == -1L), "matched/inserted rows wrong")
    assert((0L until 990L).forall(i => got(i) == i), "untouched rows changed")
    // pre-merge snapshot stays readable (parentless replace, not truncate)
    assert(spark.sql("SELECT count(1) FROM graft.db.sqlmerge VERSION AS OF 1").head.getLong(0) == 1000)
    // runtime group filtering (r10, VERDICT r9 #1): a MERGE touching only
    // the top key band must CARRY the untouched files by reference —
    // filesRewritten < filesTotal, not a full-snapshot rewrite
    val v2 = TableFormat.manifestFiles(spark, base, 2).toSet
    val carried = v2.intersect(v1Files)
    val rewritten = v2.size - carried.size
    assert(carried.nonEmpty,
      s"narrow MERGE rewrote all ${v1Files.size} files — runtime group filter didn't prune")
    assert(rewritten < v1Files.size,
      s"filesRewritten $rewritten !< filesTotal ${v1Files.size}")
  }

  test("SQL UPDATE: SET expressions rewrite matched rows, history intact (r9)") {
    val _ = wh
    val base = s"$wh/db/sqlupd"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 1000L).map(i => (i, i)).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val v1Files = TableFormat.manifestFiles(spark, base, 1).toSet
    spark.sql("UPDATE graft.db.sqlupd SET v = v + 5000 WHERE k BETWEEN 10 AND 19")
    val got = spark.sql("SELECT k, v FROM graft.db.sqlupd").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1000, "UPDATE changed the row count")
    assert((10L until 20L).forall(i => got(i) == i + 5000), "matched rows not updated")
    assert((0L until 10L).forall(i => got(i) == i) &&
      (20L until 1000L).forall(i => got(i) == i), "untouched rows changed")
    // pre-update snapshot stays readable (parentless replace, not truncate)
    assert(spark.sql("SELECT sum(v) FROM graft.db.sqlupd VERSION AS OF 1")
      .head.getLong(0) == (0L until 1000L).sum)
    // runtime group filtering (r10, VERDICT r9 #1): `WHERE k BETWEEN 10
    // AND 19` on a range-clustered table touches one key band — the
    // files outside it must carry over by reference, stats intact
    val v1Entries = TableFormat.manifestEntries(spark, base, 1)
    val v2Entries = TableFormat.manifestEntries(spark, base, 2)
    val carried = v2Entries.filter(e => v1Files(e.path))
    val rewritten = v2Entries.size - carried.size
    assert(carried.nonEmpty,
      s"narrow UPDATE rewrote all ${v1Files.size} files — runtime group filter didn't prune")
    assert(rewritten < v1Files.size,
      s"filesRewritten $rewritten !< filesTotal ${v1Files.size}")
    assert(carried.forall(e => e.lo.isDefined && e.hi.isDefined),
      "carried entries lost their manifest stats")
    // and the rewritten snapshot still file-skips: narrow reads prune
    val sb = new GraftScanBuilder(base, 2,
      TableFormat.manifest(spark, base, 2).schema.get, Seq("k"), spark, 0)
    sb.pushFilters(Array(GreaterThanOrEqual("k", 10L), LessThanOrEqual("k", 19L)))
    assert(sb.keptEntries().size < v2Entries.size,
      "post-UPDATE snapshot lost its file-skipping index")
  }

  test("SQL DELETE with a non-translatable predicate routes through the pruned row-level path (r10)") {
    val _ = wh
    val base = s"$wh/db/sqldel2"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 4000L).map(i => (i, s"v$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val v1Files = TableFormat.manifestFiles(spark, base, 1).toSet
    assert(v1Files.size >= 2, s"test premise: need multiple files, got ${v1Files.size}")
    // LIKE doesn't translate to the metadata-delete filter set, so Spark
    // plans the GROUP-BASED delete — which must still runtime-prune: only
    // files holding matching rows rewrite, the rest carry by reference
    spark.sql("DELETE FROM graft.db.sqldel2 WHERE k BETWEEN 100 AND 110 AND v LIKE 'v10%'")
    val got = spark.sql("SELECT count(1) FROM graft.db.sqldel2").head.getLong(0)
    assert(got == 4000 - 10, s"expected 3990 rows (k=100..109 dropped), got $got")
    val v2 = TableFormat.manifestFiles(spark, base, 2).toSet
    val carried = v2.intersect(v1Files)
    assert(carried.nonEmpty && (v2.size - carried.size) < v1Files.size,
      s"non-translatable DELETE rewrote all ${v1Files.size} files")
  }

  test("ALTER TABLE ADD COLUMN widens the schema metadata-only; time travel stays narrow (r10)") {
    val _ = wh
    val base = s"$wh/db/sqlalter"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    val v1Files = TableFormat.manifestFiles(spark, base, 1)
    spark.sql("ALTER TABLE graft.db.sqlalter ADD COLUMN extra BIGINT")
    // metadata-only: same files, new version, `alter` op, CDF silent
    assert(TableFormat.manifestFiles(spark, base, 2) == v1Files)
    assert(TableFormat.manifest(spark, base, 2).op.contains("alter"))
    assert(TableFormat.readChanges(spark, base, 1, 2).count() == 0)
    // old rows project NULL; INSERT can now carry the column
    assert(spark.sql("SELECT count(extra) FROM graft.db.sqlalter").head.getLong(0) == 0)
    spark.sql("INSERT INTO graft.db.sqlalter VALUES (1000, 'new', 7)")
    val got = spark.sql(
      "SELECT count(1), count(extra), sum(extra) FROM graft.db.sqlalter").head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((101L, 1L, 7L)))
    // time travel to the pre-alter version reads the NARROW schema
    assert(spark.sql("SELECT * FROM graft.db.sqlalter VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("k", "v"))
    // drops and renames are SUPPORTED since the column-mapping device
    // landed (r10, dedicated spec below) — type changes stay refused:
    // they would change the meaning of already-written bytes
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.sqlalter ALTER COLUMN extra TYPE STRING")
    }
  }

  test("CALL graft.system.*: compact/vacuum/optimize_zorder/restore as SQL (r10)") {
    val _ = wh
    val base = s"$wh/db/maint"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // four micro-appends -> fragmented table
    TableFormat.commit(spark, base,
      (0L until 1000L).map(i => (i, (i * 7919) % 1000, s"r$i")).toDF("a", "b", "v"), 1, None)
    (1 to 3).foreach { k =>
      TableFormat.appendCommit(spark, base,
        (1000L * k until 1000L * (k + 1)).map(i => (i, (i * 7919) % 1000, s"r$i"))
          .toDF("a", "b", "v"))
    }
    val fragmented = TableFormat.manifestEntries(spark, base, 4).size
    // COMPACT via SQL: files consolidate, rows identical
    val c = spark.sql(s"CALL graft.system.compact('db.maint', ${Long.MaxValue}L, 2)").head
    assert(c.getInt(0) == 5 && c.getInt(1) == fragmented, s"got $c")
    assert(TableFormat.manifestEntries(spark, base, 5).size == 2)
    assert(spark.sql("SELECT count(1) FROM graft.db.maint").head.getLong(0) == 4000)
    // OPTIMIZE ZORDER via SQL: v6 is skippable on either dimension
    val o = spark.sql("CALL graft.system.optimize_zorder('db.maint', 'a', 'b', 8)").head
    assert(o.getInt(0) == 6 && o.getInt(1) >= 4, s"got $o")
    val (_, (read1, total1)) = TableFormat.readSnapshotWhere(spark, base, "a", 0L, 400L, Some(6))
    assert(read1 < total1, s"post-optimize read $read1/$total1 — no skipping")
    assert(TableFormat.manifest(spark, base, 6).op.contains("optimize"))
    // RESTORE via SQL: metadata-only rollback to the pre-optimize layout
    val r = spark.sql("CALL graft.system.restore('db.maint', 5)").head
    assert(r.getInt(0) == 5 && r.getInt(1) == 7, s"got $r")
    // named arguments resolve against the declared parameter names
    val r2 = spark.sql("CALL graft.system.restore(`table` => 'db.maint', version => 5)").head
    assert(r2.getInt(0) == 5 && r2.getInt(1) == 8, s"named-arg CALL: got $r2")
    assert(TableFormat.manifestFiles(spark, base, 7) == TableFormat.manifestFiles(spark, base, 5))
    // VACUUM via SQL: the retention floor (r14) keeps seconds-old
    // versions a live reader could still be planning from — the
    // default-config call reclaims NOTHING
    val vac0 = spark.sql("CALL graft.system.vacuum('db.maint', 2)").head
    assert(vac0.getInt(0) == 0, s"retention floor breached: $vac0")
    assert(TableFormat.readSnapshot(spark, base, Some(5)).count() == 4000,
      "a version inside the floor must stay readable after default vacuum")
    // forced reclaim is explicit and loud: zero per-table floor
    spark.sql("ALTER TABLE graft.db.maint SET TBLPROPERTIES('graft.vacuum.min-age'='0')")
    val vac = spark.sql("CALL graft.system.vacuum('db.maint', 2)").head
    assert(vac.getInt(0) > 0, s"vacuum deleted nothing: $vac")
    assert(spark.sql("SELECT count(1) FROM graft.db.maint").head.getLong(0) == 4000)
    // history shows the maintenance trail (vacuumed versions drop out:
    // retain_last=2 keeps v8 (restore) + v9 (the floor ALTER))
    val hist = TableFormat.history(spark, base).map(h => h._1 -> h._2).toMap
    assert(hist.get(8).contains("restore") && hist.get(9).contains("alter"), s"got $hist")
    // unknown procedure fails by name (Spark wraps it as FAILED_TO_LOAD_ROUTINE)
    val e = intercept[Exception] { spark.sql("CALL graft.system.nope('db.maint')") }
    assert(e.getMessage.contains("nope"), s"wrong error: ${e.getMessage}")
  }

  test("CALL graft.system.optimize_where: only range-intersecting files rewrite, the rest carry by reference (r14)") {
    val _ = wh
    import spark.implicits._
    val base = s"$wh/db/ow"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 4000L).map(i => (i, i * 3)).toDF("k", "v"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(8))
    // fragment the HOT range only: three micro-appends inside [0, 500)
    (1 to 3).foreach { j =>
      TableFormat.appendCommit(spark, base,
        (0L until 50L).map(i => (i + j, i)).toDF("k", "v"),
        statsCol = Some("k"))
    }
    val before = TableFormat.manifestEntries(spark, base,
      TableFormat.currentVersion(spark, base))
    val inRange = before.count(_.mayMatch(0L, 500L))
    val outOfRange = before.filterNot(_.mayMatch(0L, 500L)).map(_.path).toSet
    assert(inRange >= 4, s"premise: hot range fragmented ($inRange files)")
    val sumBefore = spark.sql("SELECT sum(v) FROM graft.db.ow").head.getLong(0)
    val r = spark.sql("CALL graft.system.optimize_where('db.ow', 0L, 500L)").head
    assert(r.getInt(1) == inRange, s"rewrote ${r.getInt(1)} of $inRange in-range files")
    val after = TableFormat.manifestEntries(spark, base, r.getInt(0))
    // cold files carried BY REFERENCE — identical paths, zero IO
    assert(outOfRange.subsetOf(after.map(_.path).toSet),
      "out-of-range files must carry by reference")
    assert(after.size < before.size, "hot range should consolidate")
    // contents exact; counts preserved through the rewrite
    assert(spark.sql("SELECT count(1) FROM graft.db.ow").head.getLong(0) == 4150)
    assert(spark.sql("SELECT sum(v) FROM graft.db.ow").head.getLong(0) == sumBefore)
    // a dv in range MATERIALIZES its deletes on the next scoped optimize
    TableFormat.deleteRowsDV(spark, base, col("k") < 100L)
    val r2 = spark.sql("CALL graft.system.optimize_where('db.ow', 0L, 500L)").head
    assert(r2.getInt(1) >= 1)
    val v2 = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifestEntries(spark, base, v2)
      .filter(_.mayMatch(0L, 99L)).forall(_.dv.isEmpty),
      "scoped optimize must materialize in-range dvs")
    // deleted: base k∈[0,100) = 100 rows + 3×50 appended rows (k∈[1,52])
    assert(spark.sql("SELECT count(1) FROM graft.db.ow").head.getLong(0) == 3900,
      "post-materialization contents must stay exact")
    // STRING clustering keys refuse the numeric form and take their own
    val sbase = s"$wh/db/ow_s"
    val sp2 = new org.apache.hadoop.fs.Path(sbase)
    sp2.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp2, true)
    TableFormat.commit(spark, sbase,
      (0L until 2000L).map(i => (f"d$i%05d", i)).toDF("doc_id", "n"), 1, None,
      statsCol = Some("doc_id"), clusterFiles = Some(8))
    (1 to 3).foreach { _ =>
      TableFormat.appendCommit(spark, sbase,
        (0L until 40L).map(i => (f"d$i%05d", i)).toDF("doc_id", "n"),
        statsCol = Some("doc_id"))
    }
    val eNum = intercept[Exception] {
      spark.sql("CALL graft.system.optimize_where('db.ow_s', 0L, 10L)").collect()
    }
    assert(eNum.getMessage.contains("optimize_where_str"), eNum.getMessage)
    val beforeS = TableFormat.manifestEntries(spark, sbase,
      TableFormat.currentVersion(spark, sbase))
    val coldS = beforeS.filterNot(_.mayMatchStrAt(0, Some("d00000"), Some("d00300")))
      .map(_.path).toSet
    assert(coldS.nonEmpty, "premise: some files out of the string range")
    val rs = spark.sql(
      "CALL graft.system.optimize_where_str('db.ow_s', 'd00000', 'd00300')").head
    assert(rs.getInt(1) > 0 && rs.getInt(1) < beforeS.size, s"got $rs")
    val afterS = TableFormat.manifestEntries(spark, sbase, rs.getInt(0))
    assert(coldS.subsetOf(afterS.map(_.path).toSet),
      "out-of-range string files must carry by reference")
    assert(spark.sql("SELECT count(1) FROM graft.db.ow_s").head.getLong(0) == 2120)
    // and the mirror refusal: the string form on a numeric key
    val eStr = intercept[Exception] {
      spark.sql("CALL graft.system.optimize_where_str('db.ow', 'a', 'z')").collect()
    }
    assert(eStr.getMessage.contains("not a STRING"), eStr.getMessage)
  }

  test("CALL graft.system.optimize_where_box: exactly the box-intersecting files rewrite on both dimensions (r15, VERDICT r14 #5)") {
    val _ = wh
    import spark.implicits._
    val base = s"$wh/db/owb"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // z-ordered table over two independent-ish dims
    val rows = (0L until 4000L).map(i =>
      (i, (i * 2654435761L) % 4096L, i * 3)).toDF("k", "j", "v")
    TableFormat.commitZorder(spark, base, rows, "k", "j", 1, nFiles = 16)
    // fragment the HOT BOX [0,500]x[0,500] only: three micro-appends
    (1 to 3).foreach { t =>
      TableFormat.appendCommit(spark, base,
        (0L until 50L).map(i => (i % 400L, (i * 7 + t) % 400L, i)).toDF("k", "j", "v"),
        statsCol = Some("k"))
    }
    val before = TableFormat.manifestEntries(spark, base,
      TableFormat.currentVersion(spark, base))
    val inBox = before.count(e => e.mayMatchAt(0, 0L, 500L) && e.mayMatchAt(1, 0L, 500L))
    val kStrip = before.count(_.mayMatchAt(0, 0L, 500L))
    val outOfBox = before.filterNot(e =>
      e.mayMatchAt(0, 0L, 500L) && e.mayMatchAt(1, 0L, 500L)).map(_.path).toSet
    assert(inBox >= 4, s"premise: hot box fragmented ($inBox files)")
    // the 2-D scope is strictly tighter than 1-D: some files intersect
    // the k-range but miss the j-range — the box must NOT rewrite them
    assert(kStrip > inBox,
      s"premise: k-strip ($kStrip) should exceed the box ($inBox)")
    val sumBefore = spark.sql("SELECT sum(v) FROM graft.db.owb").head.getLong(0)
    val r = spark.sql(
      "CALL graft.system.optimize_where_box('db.owb', 0L, 500L, 0L, 500L)").head
    assert(r.getInt(1) == inBox,
      s"rewrote ${r.getInt(1)} of $inBox box-intersecting files")
    val after = TableFormat.manifestEntries(spark, base, r.getInt(0))
    assert(outOfBox.subsetOf(after.map(_.path).toSet),
      "out-of-box files (including k-strip-only ones) must carry by reference")
    assert(after.size < before.size, "hot box should consolidate")
    assert(spark.sql("SELECT count(1) FROM graft.db.owb").head.getLong(0) == 4150)
    assert(spark.sql("SELECT sum(v) FROM graft.db.owb").head.getLong(0) == sumBefore)
    // the repaired layout still serves the 2-D box read path exactly
    val (boxDf, (read, total)) = TableFormat.readSnapshotWhere2(
      spark, base, "k", 0L, 500L, "j", 0L, 500L)
    assert(read < total, "box read should prune after the scoped repair")
    val expected = spark.sql(
      "SELECT count(1) FROM graft.db.owb WHERE k BETWEEN 0 AND 500 AND j BETWEEN 0 AND 500")
      .head.getLong(0)
    assert(boxDf.count() == expected)
    // refusal: one declared clustering column cannot form a box
    val base1 = s"$wh/db/owb1"
    val p1 = new org.apache.hadoop.fs.Path(base1)
    p1.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p1, true)
    TableFormat.commit(spark, base1,
      (0L until 100L).map(i => (i, i)).toDF("k", "v"), 1, None,
      statsCol = Some("k"))
    val e1 = intercept[Exception] {
      spark.sql("CALL graft.system.optimize_where_box('db.owb1', 0L, 10L, 0L, 10L)")
        .collect()
    }
    assert(e1.getMessage.contains("needs two"), e1.getMessage)
  }

  test("vacuum_preview: predicts the same-argument vacuum exactly and deletes NOTHING (r15)") {
    val _ = wh
    import spark.implicits._
    val base = s"$wh/db/vprev"
    val p = new org.apache.hadoop.fs.Path(base)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 1000L).map(i => (i, i)).toDF("k", "v"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(4))
    // superseded files to reclaim: a CoW delete rewrites straddlers
    TableFormat.deleteWhere(spark, base, "k", 100L, 899L)
    TableFormat.appendCommit(spark, base,
      (2000L until 2100L).map(i => (i, i)).toDF("k", "v"), statsCol = Some("k"))
    def dataFileCount(): Int = {
      var n = 0
      val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$base/data"), true)
      while (it.hasNext) { if (it.next().isFile) n += 1 }
      n
    }
    val beforeCount = dataFileCount()
    // min-age floor would retain everything fresh — lift it like the
    // retention-floor test does, so the preview has something to report
    spark.conf.set("spark.graft.vacuum.retentionCheck", "false")
    try {
      val prev = spark.sql("CALL graft.system.vacuum_preview('db.vprev', 1)").head
      assert(prev.getInt(0) > 0 && prev.getLong(1) > 0L,
        s"preview should find reclaimable files: $prev")
      // NOTHING was deleted, no metadata written: counts and head intact
      assert(dataFileCount() == beforeCount, "preview must not delete")
      assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 1000,
        "preview must not reclaim manifests (time travel intact)")
      // the real vacuum with the same argument reclaims EXACTLY the
      // predicted file count and keeps the predicted kept count
      val real = spark.sql("CALL graft.system.vacuum('db.vprev', 1)").head
      assert(real.getInt(0) == prev.getInt(0),
        s"preview predicted ${prev.getInt(0)} but vacuum deleted ${real.getInt(0)}")
      assert(real.getInt(1) == prev.getInt(2),
        s"kept mismatch: predicted ${prev.getInt(2)}, vacuum kept ${real.getInt(1)}")
    } finally spark.conf.set("spark.graft.vacuum.retentionCheck", "true")
  }

  test("vacuum retention floor: a reader planned pre-maintenance survives a default-config vacuum; forced reclaim is loud (r14, VERDICT r13 #6)") {
    val _ = wh
    val base = s"$wh/db/retention"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 1000L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None,
      statsCol = Some("k"))
    // a long-running reader: plans its file list from v1 NOW
    val pinned = TableFormat.readSnapshot(spark, base, Some(1))
    // the table advances — a CoW delete supersedes v1's files entirely
    spark.sql("DELETE FROM graft.db.retention WHERE k < 500")
    assert(spark.sql("SELECT count(1) FROM graft.db.retention").head.getLong(0) == 500)
    // DEFAULT-CONFIG vacuum retaining only the head: the retention floor
    // keeps the young superseded version — the reader still succeeds
    val r0 = spark.sql("CALL graft.system.vacuum('db.retention', 1)").head
    assert(r0.getInt(0) == 0, s"default vacuum reclaimed inside the floor: $r0")
    assert(pinned.count() == 1000,
      "reader planned at v1 must survive a default-config vacuum")
    // FORCED reclaim: the session escape hatch, explicit and loud
    spark.conf.set("spark.graft.vacuum.retentionCheck", "false")
    try {
      val r1 = spark.sql("CALL graft.system.vacuum('db.retention', 1)").head
      assert(r1.getInt(0) > 0, s"forced vacuum reclaimed nothing: $r1")
    } finally spark.conf.unset("spark.graft.vacuum.retentionCheck")
    assert(spark.sql("SELECT count(1) FROM graft.db.retention").head.getLong(0) == 500)
  }

  test("CALL graft.system.restore_ts: metadata-only rollback to an instant; the anchor survives vacuum materialization (r14)") {
    val _ = wh
    import spark.implicits._
    val base = s"$wh/db/rts"
    val p = new org.apache.hadoop.fs.Path(base)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true)
    (1 to 4).foreach(v => TableFormat.commit(spark, base,
      Seq((v.toLong, s"r$v")).toDF("id", "v"), v,
      parent = if (v == 1) None else Some(v - 1)))
    // pin well-separated commit instants
    val t0 = System.currentTimeMillis() - 100000
    (1 to 4).foreach(v => f.setTimes(
      new org.apache.hadoop.fs.Path(s"$base/_manifests/v$v.manifest"), t0 + v * 1000, -1))
    // vacuum materializes v3 (its chain parents reclaim) — the commit
    // instant must survive the rewrite for the anchor below
    TableFormat.vacuum(spark, base, retain = Seq(3, 4))
    def sqlTs(ms: Long) =
      new java.sql.Timestamp(ms).toString
    val r = spark.sql(
      s"CALL graft.system.restore_ts('db.rts', TIMESTAMP '${sqlTs(t0 + 3500)}')").head
    assert(r.getInt(0) == 3, s"instant between v3 and v4 must restore v3: $r")
    assert(spark.sql("SELECT count(1) FROM graft.db.rts").head.getLong(0) == 3)
    // an instant predating every retained manifest refuses loudly
    val e = intercept[Exception] {
      spark.sql(
        s"CALL graft.system.restore_ts('db.rts', TIMESTAMP '${sqlTs(t0 - 50000)}')").collect()
    }
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
  }

  test("CALL graft.system.expire_snapshots: time-based retention (r13)") {
    val _ = wh
    val base = s"$wh/db/expire"
    val p = new org.apache.hadoop.fs.Path(base)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true)
    TableFormat.commit(spark, base, Seq((1L, "a")).toDF("id", "v"), 1, None)
    TableFormat.appendCommit(spark, base, Seq((2L, "b")).toDF("id", "v"))
    TableFormat.appendCommit(spark, base, Seq((3L, "c")).toDF("id", "v"))
    // a sub-floor window REFUSES by default (r14): a reader planned
    // from a younger snapshot may still be running
    val eGuard = intercept[Exception] {
      spark.sql("CALL graft.system.expire_snapshots('db.expire', 0L, 1)").collect()
    }
    assert(eGuard.getMessage.contains("graft.vacuum.min-age"), eGuard.getMessage)
    // this table opts out of the floor (no long-running readers here)
    spark.sql("ALTER TABLE graft.db.expire SET TBLPROPERTIES('graft.vacuum.min-age'='0')")
    // a generous window retains everything — time travel intact
    val r0 = spark.sql(
      "CALL graft.system.expire_snapshots('db.expire', 86400000L, 1)").head
    assert(r0.getInt(1) >= 3, s"got $r0")
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 1)
    // a zero window expires everything but the current snapshot
    Thread.sleep(20)
    val r1 = spark.sql(
      "CALL graft.system.expire_snapshots('db.expire', 0L, 1)").head
    assert(r1.getInt(1) == 1, s"got $r1")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$base/_manifests/v1.manifest")),
      "expired manifest must reclaim")
    assert(spark.sql("SELECT count(1) FROM graft.db.expire").head.getLong(0) == 3)
  }

  test("expire_preview: predicts the same-argument expire_snapshots exactly and deletes NOTHING (r16, VERDICT r15 #6)") {
    val _ = wh
    val base = s"$wh/db/exprev"
    val p = new org.apache.hadoop.fs.Path(base)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 1000L).map(i => (i, i)).toDF("k", "v"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.deleteWhere(spark, base, "k", 100L, 899L)
    TableFormat.appendCommit(spark, base,
      (2000L until 2100L).map(i => (i, i)).toDF("k", "v"), statsCol = Some("k"))
    def dataFileCount(): Int = {
      var n = 0
      val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$base/data"), true)
      while (it.hasNext) { if (it.next().isFile) n += 1 }
      n
    }
    val beforeCount = dataFileCount()
    // the preview of a sub-floor window is allowed (deletes nothing) —
    // exactly how an operator sizes a retention change before forcing it
    val prev = spark.sql("CALL graft.system.expire_preview('db.exprev', 0L, 1)").head
    assert(prev.getInt(0) > 0 && prev.getLong(1) > 0L,
      s"preview should find reclaimable files: $prev")
    assert(dataFileCount() == beforeCount, "preview must not delete")
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 1000,
      "preview must not reclaim manifests (time travel intact)")
    // the real expire with the SAME arguments reclaims exactly the
    // predicted file count and retains the predicted version count
    spark.sql("ALTER TABLE graft.db.exprev SET TBLPROPERTIES('graft.vacuum.min-age'='0')")
    Thread.sleep(20)
    // the ALTER added one manifest since the preview: re-preview, then
    // expire in the same instant window
    val prev2 = spark.sql("CALL graft.system.expire_preview('db.exprev', 0L, 1)").head
    val real = spark.sql("CALL graft.system.expire_snapshots('db.exprev', 0L, 1)").head
    assert(real.getInt(0) == prev2.getInt(0),
      s"preview predicted ${prev2.getInt(0)} but expire deleted ${real.getInt(0)}")
    assert(real.getInt(1) == prev2.getInt(3),
      s"retained mismatch: predicted ${prev2.getInt(3)}, expire kept ${real.getInt(1)}")
    assert(spark.sql("SELECT count(1) FROM graft.db.exprev").head.getLong(0) == 300)
  }

  test("CREATE TABLE PARTITIONED BY declares clustering; SQL INSERTs keep the index (r10)") {
    val _ = wh
    spark.sql("DROP TABLE IF EXISTS graft.db.part")
    spark.sql("CREATE TABLE graft.db.part (k BIGINT, v STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.db.part SELECT id, concat('r', id) FROM range(0, 2000)")
    spark.sql("INSERT INTO graft.db.part SELECT id, concat('r', id) FROM range(2000, 4000)")
    val base = s"$wh/db/part"
    val v = TableFormat.currentVersion(spark, base)
    // the declared clustering column flowed into every INSERT: all
    // entries carry bounds, and the header still names k
    assert(TableFormat.manifest(spark, base, v).statsCols == Seq("k"))
    val entries = TableFormat.manifestEntries(spark, base, v)
    assert(entries.size >= 2 && entries.forall(e => e.lo.isDefined && e.hi.isDefined),
      s"SQL INSERTs produced stat-less entries: $entries")
    // and a narrow catalog-SQL predicate prunes files
    val sb = new GraftScanBuilder(base, v,
      TableFormat.manifest(spark, base, v).schema.get, Seq("k"), spark, 0)
    sb.pushFilters(Array(GreaterThanOrEqual("k", 100L), LessThanOrEqual("k", 200L)))
    assert(sb.keptEntries().size < entries.size,
      s"kept ${sb.keptEntries().size} of ${entries.size} — no pruning")
    assert(spark.sql("SELECT count(1) FROM graft.db.part WHERE k BETWEEN 100 AND 200")
      .head.getLong(0) == 101)
    // r11: STRING partition columns are supported (byte-order bounds);
    // unboundable types (double) are still rejected with a clear error
    spark.sql("DROP TABLE IF EXISTS graft.db.partbad")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.partbad (a DOUBLE, b BIGINT) PARTITIONED BY (a)")
    }
    assert(e.getMessage.contains("integral"), s"wrong error: ${e.getMessage}")
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answered from the manifest, zero data IO (r10)") {
    val _ = wh
    val base = s"$wh/db/aggmeta"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val df = spark.sql("SELECT count(*), min(k), max(k), count(k) FROM graft.db.aggmeta")
    val r = df.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((4000L, 0L, 3999L, 4000L)))
    // the plan never touches a data file: complete pushdown leaves a bare
    // Project over the 1-row metadata scan — no aggregation operator, no
    // parquet read anywhere
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("parquet") && !plan.contains("HashAggregate") &&
      !plan.contains("SortAggregate"),
      s"aggregate was not answered from metadata:\n$plan")
    // a WHERE routes to the normal file-skipping read (filters stay
    // residual, so Spark never attempts the aggregate push) — exactness
    assert(spark.sql("SELECT count(*) FROM graft.db.aggmeta WHERE k BETWEEN 10 AND 20")
      .head.getLong(0) == 11)
    // avg/sum are NOT pushable from bounds: still exact via the data path
    assert(spark.sql("SELECT sum(k) FROM graft.db.aggmeta").head.getLong(0) ==
      (0L until 4000L).sum)
  }

  test("hybrid aggregate pushdown under dvs: dominated dv files stay zero-IO, undominated ones scan exactly (r14, VERDICT r13 #4)") {
    val _ = wh
    val base = s"$wh/db/agghyb"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(4)) // range files ~[0,1e3) [1e3,2e3) [2e3,3e3) [3e3,4e3)
    // dv on an INTERIOR slice: the carrier file's recorded bounds are
    // dominated by dv-free files on both ends and its nulls = 0 proves
    // COUNT(k) = liveRows — NO data file can change any answer
    TableFormat.deleteRowsDV(spark, base, col("k").between(1500L, 1599L))
    val df = spark.sql("SELECT count(*), min(k), max(k), count(k) FROM graft.db.agghyb")
    val r = df.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3900L, 0L, 3999L, 3900L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("parquet") && !plan.contains("HashAggregate") &&
      !plan.contains("SortAggregate"),
      s"dominated dv file broke the zero-IO complete pushdown:\n$plan")
    // now delete the GLOBAL MINIMUM block: the min-holding file's dv can
    // change min(k) — exactly the undominated files scan, the rest stay
    // metadata, Spark's final agg merges the partials
    TableFormat.deleteRowsDV(spark, base, col("k") < 500L)
    val df2 = spark.sql("SELECT count(*), min(k), max(k), count(k) FROM graft.db.agghyb")
    val r2 = df2.head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3)) ==
      ((3400L, 500L, 3999L, 3400L)),
      s"hybrid aggregate wrong: $r2")
    val plan2 = df2.queryExecution.executedPlan.toString
    // partial pushdown shape: the aggregates ARE pushed (scan emits
    // partial rows) and Spark keeps the merging final aggregate
    assert(plan2.contains("PushedAggregates") && plan2.contains("HashAggregate"),
      s"min-affecting dv did not route through partial pushdown:\n$plan2")
    // builder-level pin: exactly the undominated dv files scan — the
    // min-holding file AND the interior dv file below the dv-free min
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, Max, Min}
    val schema1 = TableFormat.manifest(spark, base, 1).schema.get
    val cur = TableFormat.currentVersion(spark, base)
    def builderWith(agg: Aggregation): GraftScanBuilder = {
      val sb = new GraftScanBuilder(base, cur, schema1, Seq("k"), spark, 0)
      sb.pushAggregation(agg)
      sb
    }
    val minAgg = new Aggregation(Array(new Min(Expressions.column("k"))), Array.empty)
    val sbMin = new GraftScanBuilder(base, cur, schema1, Seq("k"), spark, 0)
    assert(!sbMin.supportCompletePushDown(minAgg), "min must not complete-push")
    assert(sbMin.pushAggregation(minAgg), "min must partial-push")
    assert(sbMin.description().contains("hybrid aggregate (scans 2 dv file(s))"),
      s"scan set must be exactly the 2 undominated dv files: ${sbMin.description()}")
    // max / count(k) stay COMPLETE under the same dvs (zero data IO)
    val maxAgg = new Aggregation(Array(new Max(Expressions.column("k"))), Array.empty)
    assert(builderWith(maxAgg).description().contains("metadata-only aggregate"))
    val cntAgg = new Aggregation(
      Array(new Count(Expressions.column("k"), false)), Array.empty)
    assert(builderWith(cntAgg).description().contains("metadata-only aggregate"))
    // a MAX/COUNT-only query stays complete even with both dvs present:
    // deletion can only raise mins — recorded his are still dominated,
    // and nulls = 0 keeps counts manifest-exact
    val df3 = spark.sql("SELECT max(k), count(k) FROM graft.db.agghyb")
    assert((df3.head.getLong(0), df3.head.getLong(1)) == ((3999L, 3400L)))
    val plan3 = df3.queryExecution.executedPlan.toString
    assert(!plan3.contains("parquet") && !plan3.contains("HashAggregate") &&
      !plan3.contains("SortAggregate"),
      s"max/count under dominated dvs should stay zero-IO:\n$plan3")
  }

  test("temporal stats columns: MIN/MAX pushdown serves external Date values, complete AND hybrid (r15, ADVICE r14 #2)") {
    val _ = wh
    val base = s"$wh/db/aggtempo"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    import java.sql.Date
    val d0 = java.time.LocalDate.of(2024, 1, 1)
    val rows = (0 until 4000).map(i => (Date.valueOf(d0.plusDays(i / 10)), i.toLong))
      .toDF("d", "k")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("d"),
      clusterFiles = Some(4))
    // complete pushdown: the metadata row carries epoch-day bounds that
    // MUST surface as external java.sql.Date through the V1 relation's
    // needConversion path (internal Ints MatchError in
    // CatalystTypeConverters — the r14 ADVICE bug)
    val df = spark.sql("SELECT min(d), max(d), count(d) FROM graft.db.aggtempo")
    val r = df.head
    assert(r.getDate(0) == Date.valueOf(d0) &&
      r.getDate(1) == Date.valueOf(d0.plusDays(399)) && r.getLong(2) == 4000L,
      s"temporal metadata aggregate wrong: $r")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("parquet") && !plan.contains("HashAggregate"),
      s"temporal min/max was not answered from metadata:\n$plan")
    // hybrid: delete the global-minimum block so the min-holding file
    // scans — its live.agg rows carry external Dates and the meta row
    // must union with them representation-consistently
    TableFormat.deleteRowsDV(spark, base, col("d") < Date.valueOf(d0.plusDays(50)))
    val df2 = spark.sql("SELECT min(d), max(d) FROM graft.db.aggtempo")
    val r2 = df2.head
    assert(r2.getDate(0) == Date.valueOf(d0.plusDays(50)) &&
      r2.getDate(1) == Date.valueOf(d0.plusDays(399)),
      s"temporal hybrid aggregate wrong: $r2")
    assert(df2.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "min under a min-affecting dv should route through partial pushdown")
  }

  test("manifest row counts drive join statistics: pruned side broadcasts (r10)") {
    val _ = wh
    val base = s"$wh/db/statjoin"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    // scan-level: statistics equal the pruned entries' recorded rows
    val sb = new GraftScanBuilder(base, 1,
      TableFormat.manifest(spark, base, 1).schema.get, Seq("k"), spark, 0)
    sb.pushFilters(Array(GreaterThanOrEqual("k", 0L), LessThanOrEqual("k", 99L)))
    val stats = sb.estimateStatistics()
    val total = TableFormat.manifestEntries(spark, base, 1).flatMap(_.rows).sum
    assert(stats.numRows.isPresent && stats.numRows.getAsLong < total,
      s"pruned stats ${stats.numRows} not below table rows $total")
    // end-to-end: the narrow graft side of a join is chosen for BROADCAST
    // (pre-r10 the V1 fallback reported defaultSizeInBytes = huge and the
    // join planned sort-merge)
    (0L until 4000L).map(i => (i, i * 2)).toDF("k", "w")
      .createOrReplaceTempView("stat_probe")
    val joined = spark.sql(
      """SELECT count(1) FROM stat_probe j
        |JOIN (SELECT k FROM graft.db.statjoin WHERE k BETWEEN 0 AND 99) g
        |ON j.k = g.k""".stripMargin)
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      s"pruned graft side did not broadcast:\n${joined.queryExecution.executedPlan}")
    assert(joined.head.getLong(0) == 100)
  }

  test("CREATE TABLE AS SELECT lands as create + append commits (r10)") {
    val _ = wh
    spark.sql("DROP TABLE IF EXISTS graft.db.ctas")
    (0L until 500L).map(i => (i, s"r$i")).toDF("k", "v")
      .createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE graft.db.ctas AS SELECT k, v FROM ctas_src WHERE k < 300")
    assert(spark.sql("SELECT count(1) FROM graft.db.ctas").head.getLong(0) == 300)
    assert(spark.sql("SELECT * FROM graft.db.ctas").schema.fieldNames.toSeq == Seq("k", "v"))
    // partitioned CTAS: the declared clustering column flows into the
    // written files' stats
    spark.sql("DROP TABLE IF EXISTS graft.db.ctasp")
    spark.sql(
      "CREATE TABLE graft.db.ctasp PARTITIONED BY (k) AS SELECT k, v FROM ctas_src")
    val base = s"$wh/db/ctasp"
    val v = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, v).statsCols == Seq("k"))
    val entries = TableFormat.manifestEntries(spark, base, v)
    assert(entries.nonEmpty && entries.forall(e => e.lo.isDefined && e.hi.isDefined),
      s"CTAS into a partitioned table lost stats: $entries")
    assert(spark.sql("SELECT count(1) FROM graft.db.ctasp").head.getLong(0) == 500)
  }

  test("REPLACE TABLE AS SELECT publishes atomically; replaced history stays readable (r10)") {
    val _ = wh
    spark.sql("DROP TABLE IF EXISTS graft.db.rtas")
    (0L until 300L).map(i => (i, s"r$i")).toDF("k", "v").createOrReplaceTempView("rtas_src")
    spark.sql("CREATE TABLE graft.db.rtas AS SELECT k, v FROM rtas_src")
    val base = s"$wh/db/rtas"
    val v1 = TableFormat.currentVersion(spark, base)
    // REPLACE: new schema AND new clustering declaration win
    spark.sql(
      """REPLACE TABLE graft.db.rtas PARTITIONED BY (k2)
        |AS SELECT k * 2 AS k2 FROM rtas_src WHERE k < 100""".stripMargin)
    assert(spark.sql("SELECT count(1), max(k2) FROM graft.db.rtas").head match {
      case r => (r.getLong(0), r.getLong(1)) == ((100L, 198L))
    })
    assert(spark.sql("SELECT * FROM graft.db.rtas").schema.fieldNames.toSeq == Seq("k2"))
    val v2 = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, v2).statsCols == Seq("k2"),
      "REPLACE TABLE did not re-declare the clustering column")
    assert(TableFormat.manifestEntries(spark, base, v2).forall(_.rows.isDefined))
    // the replaced definition is STILL time-travel readable
    assert(spark.sql(s"SELECT count(1) FROM graft.db.rtas VERSION AS OF $v1")
      .head.getLong(0) == 300)
    // CREATE OR REPLACE on a fresh name just creates
    spark.sql("DROP TABLE IF EXISTS graft.db.corp")
    spark.sql("CREATE OR REPLACE TABLE graft.db.corp AS SELECT k FROM rtas_src WHERE k < 7")
    assert(spark.sql("SELECT count(1) FROM graft.db.corp").head.getLong(0) == 7)
  }

  test("TRUNCATE TABLE empties the snapshot; prior versions stay readable (r10)") {
    val _ = wh
    val base = s"$wh/db/sqltrunc"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    spark.sql("TRUNCATE TABLE graft.db.sqltrunc")
    assert(spark.sql("SELECT count(1) FROM graft.db.sqltrunc").head.getLong(0) == 0)
    // typed empty read (schema header), pre-truncate snapshot intact
    assert(spark.sql("SELECT * FROM graft.db.sqltrunc").schema.fieldNames.toSeq == Seq("k", "v"))
    assert(spark.sql("SELECT count(1) FROM graft.db.sqltrunc VERSION AS OF 1").head.getLong(0) == 100)
    // and the table accepts fresh inserts after
    spark.sql("INSERT INTO graft.db.sqltrunc VALUES (7, 'x')")
    assert(spark.sql("SELECT count(1) FROM graft.db.sqltrunc").head.getLong(0) == 1)
  }

  test("MERGE with NOT MATCHED BY SOURCE clauses takes the unfiltered full rewrite (r10)") {
    val _ = wh
    val base = s"$wh/db/sqlmerge2"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 100L).map(i => (i, i)).toDF("k", "v"), 1, None, statsCol = Some("k"))
    (50L until 110L).map(i => (i, -1L)).toDF("k", "v")
      .createOrReplaceTempView("merge_src2")
    // NOT MATCHED BY SOURCE must touch EVERY group — the runtime group
    // filter cannot prune here (Spark plans no group-filter subquery),
    // and the operation must still be correct via the full rewrite
    spark.sql(
      """MERGE INTO graft.db.sqlmerge2 t USING merge_src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT k, v FROM graft.db.sqlmerge2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 60, s"expected keys 50..109 only, got ${got.size}")
    assert((50L until 110L).forall(got.get(_).contains(-1L)), s"got $got")
  }

  test("row-level replace refuses to publish over a concurrent commit (r10)") {
    val base = freshBase("rl_conflict")
    TableFormat.commit(spark, base,
      (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None)
    // replacement derived from v1, but an append lands first: publishing
    // the stale replacement would silently erase the appended rows
    TableFormat.appendCommit(spark, base,
      (100L until 110L).map(i => (i, s"r$i")).toDF("k", "v"))
    val e = intercept[TableFormat.ConcurrentModificationException] {
      TableFormat.replaceCommitStaged(spark, base, Seq.empty,
        TableFormat.manifest(spark, base, 1).schema.get, basedOnVersion = Some(1))
    }
    assert(e.getMessage.contains("v1") && e.getMessage.contains("v2"),
      s"wrong error: ${e.getMessage}")
    // the interleaved commit's rows are intact
    assert(TableFormat.readSnapshot(spark, base).count() == 110)
  }

  test("graft_table_changes TVF composes in SQL; to defaults to current (r10)") {
    val base = freshBase("tvf_cdf")
    TableFormat.commit(spark, base,
      (0L until 50L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    TableFormat.appendCommit(spark, base,
      (50L until 60L).map(i => (i, s"r$i")).toDF("k", "v"), statsCol = Some("k"))
    TableFormat.deleteWhere(spark, base, "k", 10L, 14L)
    TableChangesTvf.register(spark)
    // explicit range, composed under GROUP BY
    val got = spark.sql(
      s"""SELECT _commit_version, _change_type, count(1) AS n
         |FROM graft_table_changes('$base', 1, 3)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((2, "insert", 10L), (3, "delete", 5L)), s"got $got")
    // `to` defaults to the current version; joins work like any relation
    val joined = spark.sql(
      s"""SELECT count(1) FROM graft_table_changes('$base', 2) c
         |JOIN graft_table_changes('$base', 2) d ON c.k = d.k""".stripMargin)
      .head.getLong(0)
    assert(joined == 5L, s"got $joined")
  }

  test("changesFrom/changesTo read options surface the change data feed (r9)") {
    val base = freshBase("tcdf_reader")
    TableFormat.commit(spark, base,
      (0L until 50L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    TableFormat.appendCommit(spark, base,
      (50L until 60L).map(i => (i, s"r$i")).toDF("k", "v"), statsCol = Some("k"))
    TableFormat.deleteWhere(spark, base, "k", 10L, 14L)
    val cdf = spark.read.format("graft-table")
      .option("path", base).option("changesFrom", "1").load() // changesTo defaults current
    assert(cdf.columns.toSeq == Seq("k", "v", "_change_type", "_commit_version"))
    val got = cdf.collect()
      .map(r => (r.getLong(0), r.getString(2), r.getInt(3))).sorted.toSeq
    val want = ((50L until 60L).map((_, "insert", 2)) ++
      (10L until 15L).map((_, "delete", 3))).sorted
    assert(got == want, s"got $got")
    // bounded range: only the append step
    assert(spark.read.format("graft-table").option("path", base)
      .option("changesFrom", "1").option("changesTo", "2").load().count() == 10)
  }

  test("TIMESTAMP AS OF resolves the newest snapshot at or before t (r9)") {
    val _ = wh
    val base = s"$wh/db/tsaof"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1, None)
    Thread.sleep(150) // manifest mtimes are millisecond-granular
    val mid = java.sql.Timestamp.from(java.time.Instant.now())
    Thread.sleep(150)
    TableFormat.appendCommit(spark, base, Seq((3L, "c")).toDF("k", "v"))
    assert(spark.sql(
      s"SELECT count(1) FROM graft.db.tsaof TIMESTAMP AS OF '$mid'").head.getLong(0) == 2)
    assert(spark.sql(
      "SELECT count(1) FROM graft.db.tsaof").head.getLong(0) == 3)
    // a timestamp before the first commit fails loudly, not empty
    val e = intercept[Exception] {
      spark.sql(
        "SELECT count(1) FROM graft.db.tsaof TIMESTAMP AS OF '1999-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage.contains("no snapshot") ||
      Option(e.getCause).exists(_.getMessage.contains("no snapshot")), e.getMessage)
  }

  test("graft_table_changes accepts TIMESTAMP bounds: (from, to] by commit instant (r13)") {
    val _ = wh
    val base = s"$wh/db/cdf_ts"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1, None)
    Thread.sleep(150) // manifest mtimes are millisecond-granular
    val mid = java.sql.Timestamp.from(java.time.Instant.now())
    Thread.sleep(150)
    TableFormat.appendCommit(spark, base, Seq((3L, "c")).toDF("k", "v"))
    TableChangesTvf.register(spark)
    // from = newest version at/before mid (v1) → exactly v2's changes
    val rows = spark.sql(
      s"SELECT k, _change_type, _commit_version FROM " +
        s"graft_table_changes('db.cdf_ts', TIMESTAMP '$mid') ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((3L, "insert", 2)), s"got ${rows.toSeq}")
    // a from-instant predating the table anchors at version 0: full feed
    val all = spark.sql(
      "SELECT count(1) FROM graft_table_changes('db.cdf_ts', " +
        "TIMESTAMP '1999-01-01 00:00:00')").head.getLong(0)
    assert(all == 3)
    // mixed forms compose: timestamp from, version to
    val upTo1 = spark.sql(
      "SELECT count(1) FROM graft_table_changes('db.cdf_ts', " +
        "TIMESTAMP '1999-01-01 00:00:00', 1)").head.getLong(0)
    assert(upTo1 == 2)
    // a to-instant before the first commit refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table_changes('db.cdf_ts', " +
        s"TIMESTAMP '$mid', TIMESTAMP '1999-01-01 00:00:00')").collect()
    }
    assert(e.getMessage.contains("no snapshot") ||
      Option(e.getCause).exists(_.getMessage.contains("no snapshot")), e.getMessage)
  }

  test("table stream: version offsets deliver each append exactly once") {
    val base = freshBase("tstream1")
    TableFormat.commit(spark, base, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), 1, None)
    val q = spark.readStream.format("graft-table").option("path", base).load()
      .writeStream.format("memory").queryName("tstream1").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tstream1").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 2L), "initial snapshot not delivered")
      TableFormat.commit(spark, base, Seq((3L, 30L)).toDF("k", "v"), 2, Some(1))
      q.processAllAvailable()
      val got = spark.table("tstream1").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L), s"after append: $got (duplicates = files re-read)")
      TableFormat.commit(spark, base, Seq((4L, 40L)).toDF("k", "v"), 3, Some(2))
      q.processAllAvailable()
      assert(spark.table("tstream1").count() == 4)
    } finally q.stop()
  }

  test("table stream: a publish commit's dv-carrying branch files stream exactly their live rows (r14)") {
    val _ = wh
    val base = s"$wh/db/pubstream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("DROP TABLE IF EXISTS graft.db.pubstream")
    spark.sql("CREATE TABLE graft.db.pubstream (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.db.pubstream SELECT id, id FROM range(0, 10)")
    val q = spark.readStream.format("graft-table").option("path", base).load()
      .writeStream.format("memory").queryName("pubstream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("pubstream").count() == 10)
      // branch, append, merge-on-read delete ON THE BRANCH, publish: the
      // publish fast-forwards the parent onto branch files by reference
      // — one of them carrying a deletion vector
      spark.sql("CALL graft.system.branch('db.pubstream', 'st')")
      spark.sql(
        "INSERT INTO graft.db.pubstream.branches.st SELECT id, id FROM range(10, 20)")
      val bb = s"$base/branches/st"
      TableFormat.deleteRowsDV(spark, bb, col("k").between(10L, 12L))
      assert(TableFormat.manifestEntries(spark, bb,
        TableFormat.currentVersion(spark, bb)).exists(_.dv.isDefined),
        "test premise: the branch head must carry a dv")
      spark.sql("CALL graft.system.publish('db.pubstream', 'st')")
      q.processAllAvailable()
      // exactly the LIVE branch rows arrive — dv-deleted rows never sent
      val got = spark.table("pubstream").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == ((0L until 10L) ++ (13L until 20L)),
        s"publish batch diverged: $got")
    } finally q.stop()
  }

  test("table stream: fresh checkpoint replays from the pinned start version") {
    val base = freshBase("tstream2")
    val ck1 = freshBase("tstream2_ck1")
    val ck2 = freshBase("tstream2_ck2")
    TableFormat.commit(spark, base, Seq((1L, 10L)).toDF("k", "v"), 1, None)
    val q1 = spark.readStream.format("graft-table").option("path", base).load()
      .writeStream.format("memory").queryName("tstream2a")
      .option("checkpointLocation", ck1).start()
    try {
      q1.processAllAvailable()
      TableFormat.commit(spark, base, Seq((2L, 20L)).toDF("k", "v"), 2, Some(1))
      q1.processAllAvailable()
      assert(spark.table("tstream2a").count() == 2)
    } finally q1.stop()
    // fresh checkpoint, startVersion = 0 (default): sees ALL files again
    val q2 = spark.readStream.format("graft-table").option("path", base).load()
      .writeStream.format("memory").queryName("tstream2b")
      .option("checkpointLocation", ck2).start()
    try {
      q2.processAllAvailable()
      assert(spark.table("tstream2b").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 2L), "fresh checkpoint must replay from version 0")
    } finally q2.stop()
    // pinned mid-table start: only versions AFTER startVersion arrive
    val ck3 = freshBase("tstream2_ck3")
    val q3 = spark.readStream.format("graft-table").option("path", base)
      .option("startVersion", "1").load()
      .writeStream.format("memory").queryName("tstream2c")
      .option("checkpointLocation", ck3).start()
    try {
      q3.processAllAvailable()
      assert(spark.table("tstream2c").collect().map(_.getLong(0)).toSeq == Seq(2L),
        "startVersion=1 must deliver only the v1->v2 diff")
    } finally q3.stop()
  }

  test("table stream: a non-append commit crossing the stream fails loudly") {
    val base = freshBase("tstream3")
    TableFormat.commit(spark, base, (0L until 100L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"))
    val q = spark.readStream.format("graft-table").option("path", base).load()
      .writeStream.format("memory").queryName("tstream3").start()
    try {
      q.processAllAvailable()
      // delete rewrites/drops v1 files — the version diff now REMOVES files
      TableFormat.deleteWhere(spark, base, "k", 10L, 90L)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("APPEND") || ex.getCause != null)
    } finally q.stop()
  }

  test("SQL DELETE under merge-on-read: zero files rewritten, scans/COUNT/MERGE all dv-aware (r10)") {
    val _ = wh
    val base = s"$wh/db/sqldv"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (0L until 4000L).map(i => (i, i)).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(8))
    val v1Files = TableFormat.manifestFiles(spark, base, 1).toSet
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try {
      spark.sql("DELETE FROM graft.db.sqldv WHERE k IN (3, 1111, 2222, 3333)")
      // the defining property: the data file set did not move
      assert(TableFormat.manifestFiles(spark, base, 2).toSet == v1Files,
        "merge-on-read SQL DELETE rewrote data files")
      assert(TableFormat.manifest(spark, base, 2).op.contains("delete_dv"))
      // V1Relation scan path applies the dv
      assert(spark.sql("SELECT count(1) AS n FROM graft.db.sqldv WHERE k < 100")
        .head.getLong(0) == 99)
      // metadata-only COUNT(*) pushdown stays EXACT via live row counts
      assert(spark.sql("SELECT count(*) FROM graft.db.sqldv").head.getLong(0) == 3996)
      // MIN/MAX must NOT be answered from (now stale-capable) bounds:
      // delete the current max and ask again
      spark.sql("DELETE FROM graft.db.sqldv WHERE k = 3999")
      assert(spark.sql("SELECT max(k) FROM graft.db.sqldv").head.getLong(0) == 3998)
      // SQL MERGE over the dv table: the row-level CoW scan must skip
      // dv-deleted rows (no resurrection) while applying the upsert
      Seq((2222L, -1L), (5000L, -2L)).toDF("k", "v")
        .createOrReplaceTempView("dv_changes")
      spark.sql(
        """MERGE INTO graft.db.sqldv t USING dv_changes s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val fin = spark.sql("SELECT k, v FROM graft.db.sqldv").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!fin.contains(3L) && !fin.contains(1111L) && !fin.contains(3999L),
        "MERGE resurrected dv-deleted rows")
      assert(fin(2222L) == -1L && fin(5000L) == -2L)
      // 4000 - 4 dv-deletes - 1 dv-delete + re-inserted 2222 + new 5000
      assert(fin.size == 3997)
    } finally spark.conf.unset("spark.graft.delete.mode")
  }

  test("SQL RENAME/DROP COLUMN: metadata-only, scans and row-level rewrites speak the mapping (r10)") {
    val _ = wh
    val base = s"$wh/db/ren_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.ren_spec (k BIGINT, v BIGINT, junk STRING) PARTITIONED BY (k)")
    (0L until 1000L).map(i => (i, i * 3, s"x$i")).toDF("k", "v", "junk")
      .createOrReplaceTempView("ren_src")
    spark.sql("INSERT INTO graft.db.ren_spec SELECT * FROM ren_src")
    val filesBefore = TableFormat.manifestFiles(spark, base,
      TableFormat.currentVersion(spark, base)).toSet
    spark.sql("ALTER TABLE graft.db.ren_spec RENAME COLUMN v TO amount")
    spark.sql("ALTER TABLE graft.db.ren_spec DROP COLUMN junk")
    assert(TableFormat.manifestFiles(spark, base,
      TableFormat.currentVersion(spark, base)).toSet == filesBefore,
      "SQL rename/drop moved data bytes")
    // scans resolve through the mapping
    assert(spark.sql("SELECT amount FROM graft.db.ren_spec WHERE k = 7").head.getLong(0) == 21)
    assert(!spark.table("graft.db.ren_spec").columns.contains("junk"))
    // pushed range filter on the (still-pruning) stats column
    assert(spark.sql("SELECT count(1) FROM graft.db.ren_spec WHERE k BETWEEN 10 AND 20")
      .head.getLong(0) == 11)
    // row-level rewrite (MERGE) over renamed columns: the CoW reader
    // resolves physical names, the replace write stores them
    Seq((7L, -7L), (2000L, -2L)).toDF("k", "amount").createOrReplaceTempView("ren_changes")
    spark.sql(
      """MERGE INTO graft.db.ren_spec t USING ren_changes s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m = spark.sql("SELECT k, amount FROM graft.db.ren_spec WHERE k IN (7, 8, 2000)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(7L -> -7L, 8L -> 24L, 2000L -> -2L), m.toString)
    // after the CoW rewrite the renamed column still reads everywhere
    assert(spark.sql("SELECT count(1) FROM graft.db.ren_spec").head.getLong(0) == 1001)
    // re-adding the dropped name yields NULLs, not the old strings
    spark.sql("ALTER TABLE graft.db.ren_spec ADD COLUMN junk STRING")
    assert(spark.sql("SELECT count(junk) FROM graft.db.ren_spec").head.getLong(0) == 0,
      "re-added column resurrected dropped bytes through SQL")
  }

  test("CTAS carries TBLPROPERTIES; REPLACE TABLE resets the old definition's config (r10)") {
    val _ = wh
    val base = s"$wh/db/ctas_props"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    (0L until 100L).map(i => (i, i)).toDF("k", "v").createOrReplaceTempView("ctas_src")
    spark.sql(
      """CREATE TABLE graft.db.ctas_props
        |TBLPROPERTIES ('delete.mode' = 'merge-on-read', 'tier' = 'gold')
        |AS SELECT * FROM ctas_src""".stripMargin)
    val props1 = TableFormat.manifest(spark, base,
      TableFormat.currentVersion(spark, base)).props
    assert(props1 == Map("delete.mode" -> "merge-on-read", "tier" -> "gold"),
      s"CTAS dropped TBLPROPERTIES: $props1")
    // the property routes the dv path with no session conf
    val filesBefore = TableFormat.manifestFiles(spark, base,
      TableFormat.currentVersion(spark, base)).toSet
    spark.sql("DELETE FROM graft.db.ctas_props WHERE k IN (3, 97)")
    val vNow = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, vNow).op.contains("delete_dv"))
    assert(TableFormat.manifestFiles(spark, base, vNow).toSet == filesBefore)
    // add a constraint, then REPLACE: the new definition must NOT
    // inherit the old constraint (its column is gone) or the old props
    spark.sql("ALTER TABLE graft.db.ctas_props ADD CONSTRAINT vn CHECK (v >= 0)")
    spark.sql(
      """REPLACE TABLE graft.db.ctas_props
        |AS SELECT k AS kk FROM ctas_src""".stripMargin)
    val vR = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, vR).constraints.isEmpty,
      "REPLACE TABLE inherited a constraint naming a dropped column")
    assert(TableFormat.manifest(spark, base, vR).props.isEmpty)
    // writes against the replaced definition work (no phantom CHECK)
    spark.sql("INSERT INTO graft.db.ctas_props VALUES (12345)")
    assert(spark.sql("SELECT count(1) FROM graft.db.ctas_props").head.getLong(0) == 101)
  }

  test("CALL graft.system.clone: zero-copy sandbox whose commits never touch the source (r10)") {
    val _ = wh
    val base = s"$wh/db/clone_src"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val p2 = new org.apache.hadoop.fs.Path(s"$wh/db/clone_dst")
    p2.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p2, true)
    TableFormat.commit(spark, base, (0L until 100L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"))
    val r = spark.sql("CALL graft.system.clone('db.clone_src', 'db.clone_dst')").head
    assert(r.getInt(0) == 1 && r.getString(1).endsWith("db/clone_dst"))
    assert(spark.sql("SELECT count(1) FROM graft.db.clone_dst").head.getLong(0) == 100)
    // a write to the clone stays in the clone
    spark.sql("INSERT INTO graft.db.clone_dst VALUES (999, 999)")
    assert(spark.sql("SELECT count(1) FROM graft.db.clone_dst").head.getLong(0) == 101)
    assert(spark.sql("SELECT count(1) FROM graft.db.clone_src").head.getLong(0) == 100)
  }

  test("generated columns: engine-computed on every INSERT, usable as the clustering key (r10)") {
    val _ = wh
    val base = s"$wh/db/gen_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.gen_spec
        |  (ts BIGINT, v STRING, day BIGINT GENERATED ALWAYS AS (ts DIV 86400))
        |PARTITIONED BY (day)""".stripMargin)
    // short INSERT: the engine computes day; it also range-clusters on it
    spark.sql("INSERT INTO graft.db.gen_spec (ts, v) VALUES " +
      "(0, 'a'), (86400, 'b'), (90000, 'c'), (200000, 'd')")
    val got = spark.sql("SELECT ts, day FROM graft.db.gen_spec ORDER BY ts")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(0L -> 0L, 86400L -> 1L, 90000L -> 1L, 200000L -> 2L), got.toString)
    // the generated column feeds the file-skipping index like any
    // declared clustering column
    val entries = TableFormat.manifestEntries(spark, base,
      TableFormat.currentVersion(spark, base))
    assert(TableFormat.manifest(spark, base,
      TableFormat.currentVersion(spark, base)).statsCols == Seq("day"))
    assert(entries.exists(e => e.lo.isDefined && e.hi.isDefined),
      "generated clustering column recorded no bounds")
    // GENERATED ALWAYS: a user-supplied value is overwritten, not honored
    spark.sql("INSERT INTO graft.db.gen_spec VALUES (172800, 'e', 999)")
    assert(spark.sql("SELECT day FROM graft.db.gen_spec WHERE ts = 172800")
      .head.getLong(0) == 2L, "user-supplied value overrode GENERATED ALWAYS")
  }

  test("graft_table_detail TVF: one metadata row — files, dvs, exact live rows, bytes (r10)") {
    val base = freshBase("detail_tvf")
    TableFormat.commit(spark, base, (0L until 1000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.deleteRowsDV(spark, base, col("k").isin(5L, 500L, 995L))
    TableDetailTvf.register(spark)
    val r = spark.sql(s"SELECT * FROM graft_table_detail('$base')").head
    assert(r.getInt(0) == 2, "version")
    assert(r.getInt(1) == 4, "n_files")
    assert(r.getInt(2) >= 1 && r.getInt(2) <= 3, "n_dv_files")
    assert(r.getLong(3) == 997L, "live_rows must be dv-exact")
    assert(r.getLong(4) > 0L, "size_bytes")
    assert(r.getString(5) == "k", "stats_cols")
    // composable: the TVF joins/filters like any relation
    assert(spark.sql(
      s"SELECT n_files - n_dv_files FROM graft_table_detail('$base') WHERE live_rows < 1000")
      .head.getInt(0) >= 1)
  }

  test("CHECK constraints: ADD validates existing data, writes enforce, DROP releases (r10)") {
    val _ = wh
    val base = s"$wh/db/chk_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.chk_spec (k BIGINT, amount BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.db.chk_spec VALUES (1, 10), (2, -5)")
    // existing data violates → ADD CONSTRAINT must refuse
    val bad = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.chk_spec ADD CONSTRAINT nonneg CHECK (amount >= 0)")
    }
    assert(bad.getMessage.contains("violate") || bad.getCause != null)
    spark.sql("DELETE FROM graft.db.chk_spec WHERE amount < 0")
    spark.sql("ALTER TABLE graft.db.chk_spec ADD CONSTRAINT nonneg CHECK (amount >= 0)")
    // enforcement: a violating INSERT fails, a valid one (and NULL —
    // SQL CHECK passes unknown) lands
    intercept[Exception] {
      spark.sql("INSERT INTO graft.db.chk_spec VALUES (3, -1)")
    }
    spark.sql("INSERT INTO graft.db.chk_spec VALUES (4, 40), (5, NULL)")
    assert(spark.sql("SELECT count(1) FROM graft.db.chk_spec").head.getLong(0) == 3)
    // MERGE enforcement: an update driving amount negative fails too
    Seq((4L, -99L)).toDF("k", "amount").createOrReplaceTempView("chk_changes")
    intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.db.chk_spec t USING chk_changes s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    // DROP CONSTRAINT: the same insert now lands
    spark.sql("ALTER TABLE graft.db.chk_spec DROP CONSTRAINT nonneg")
    spark.sql("INSERT INTO graft.db.chk_spec VALUES (3, -1)")
    assert(spark.sql("SELECT count(1) FROM graft.db.chk_spec").head.getLong(0) == 4)
    // informational keys: NOT ENFORCED PRIMARY KEY is stored and
    // reported as unenforced RELY metadata; an ENFORCED one is refused
    spark.sql("ALTER TABLE graft.db.chk_spec ADD CONSTRAINT pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    val cons = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "chk_spec")).constraints()
    val pk = cons.find(_.name == "pk").get
    assert(!pk.enforced() && pk.rely(), pk.toDDL)
  }

  test("streaming change feed serves equality-delete spans: deletes attributed at their commits, resolve silent, version scoping exact (r16)") {
    val base = freshBase("cdfstream_eq")
    TableFormat.appendCommit(spark, base,
      (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v"),
      statsCol = Some("k"))                                           // v1
    val (v2, _) = TableFormat.deleteByKeysEq(spark, base,
      Seq(5L, 10L).toDF("k"), "k")                                    // v2
    TableFormat.appendCommit(spark, base,
      Seq((5L, "re5")).toDF("k", "v"), statsCol = Some("k"))          // v3
    val (v4, _) = TableFormat.deleteByKeysEq(spark, base,
      Seq(5L, 20L).toDF("k"), "k")                                    // v4
    val (v5, _) = TableFormat.resolveEqDeletes(spark, base)           // v5
    val q = spark.readStream.format("graft-table").option("path", base)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdfstream_eq")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cdfstream_eq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
      val byVT = rows.groupBy(r => (r._4, r._3)).view.mapValues(_.size).toMap
      assert(byVT == Map((1, "insert") -> 100, (v2, "delete") -> 2,
        (3, "insert") -> 1, (v4, "delete") -> 2),
        s"per-commit shape: $byVT")
      // version scoping THROUGH the stream: v4 deletes the RE-INSERTED
      // 5 (the original was already dead under v2's masks) plus 20
      assert(rows.filter(r => r._4 == v4 && r._3 == "delete")
        .map(r => (r._1, r._2)).toSet == Set((5L, "re5"), (20L, "r20")),
        s"v4 emission: $rows")
      assert(!rows.exists(_._4 == v5),
        "the resolve commit must stream nothing — deletes were " +
          "attributed at their delete_eq commits")
      // the streamed feed folds to the snapshot
      val net = rows.count(_._3 == "insert") - rows.count(_._3 == "delete")
      assert(net == TableFormat.readSnapshot(spark, base).count(),
        "streamed feed must fold to the snapshot")
      // a LIVE delete_eq commit streams incrementally too (no resolve)
      TableFormat.deleteByKeysEq(spark, base, Seq(21L, 5000L).toDF("k"), "k")
      q.processAllAvailable()
      val dels = spark.table("cdfstream_eq").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getInt(3)))
        .filter(t => t._2 == "delete" && t._3 == v5 + 1).toSeq
      assert(dels == Seq((21L, "delete", v5 + 1)),
        s"live eq commit emission (absent key 5000 must emit nothing): $dels")
    } finally q.stop()
  }

  test("streaming change feed: inserts and merge-on-read deletes tagged per commit; CoW fails or skips (r10)") {
    val base = freshBase("cdfstream1")
    TableFormat.commit(spark, base, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), 1, None,
      statsCol = Some("k"))
    val q = spark.readStream.format("graft-table").option("path", base)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdfstream1").outputMode("append").start()
    try {
      q.processAllAvailable()
      def rows() = spark.table("cdfstream1").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getInt(3))).sortBy(t => (t._3, t._1)).toSeq
      assert(rows() == Seq((1L, "insert", 1), (2L, "insert", 1)),
        s"initial commit not tagged: ${rows()}")
      // an append arrives as inserts at its commit version
      TableFormat.commit(spark, base, Seq((3L, 30L)).toDF("k", "v"), 2, Some(1))
      q.processAllAvailable()
      assert(rows().contains((3L, "insert", 2)))
      // a merge-on-read delete streams EXACTLY its deleted rows
      TableFormat.deleteRowsDV(spark, base, col("k") === 2L)
      q.processAllAvailable()
      val dels = rows().filter(_._2 == "delete")
      assert(dels == Seq((2L, "delete", 3)), s"dv delete misattributed: $dels")
      // a second dv delete on the SAME file emits only the NEW position
      TableFormat.deleteRowsDV(spark, base, col("k") === 1L)
      q.processAllAvailable()
      val dels2 = rows().filter(_._2 == "delete")
      assert(dels2 == Seq((2L, "delete", 3), (1L, "delete", 4)), s"got $dels2")
      // a copy-on-write delete is not streamable: fail loudly
      TableFormat.deleteWhere(spark, base, "k", 3L, 3L)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("copy-on-write") || ex.getCause != null)
    } finally q.stop()
    // skipChangeCommits: the same CoW commit is skipped silently and the
    // stream keeps going with later appends
    val q2 = spark.readStream.format("graft-table").option("path", base)
      .option("readChangeFeed", "true").option("skipChangeCommits", "true").load()
      .writeStream.format("memory").queryName("cdfstream2").outputMode("append").start()
    try {
      q2.processAllAvailable()
      TableFormat.appendCommit(spark, base, Seq((9L, 90L)).toDF("k", "v"))
      q2.processAllAvailable()
      val got = spark.table("cdfstream2").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(got.contains((9L, "insert")), s"post-skip append lost: $got")
      assert(!got.exists(t => t._1 == 3L && t._2 == "delete"),
        "skipChangeCommits leaked the CoW commit's rows")
    } finally q2.stop()
  }

  test("streaming change feed: merge-on-read UPDATE streams delete + post-image insert (r13)") {
    val _ = wh
    val base = s"$wh/db/cdfstream_mor"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("DROP TABLE IF EXISTS graft.db.cdfstream_mor")
    spark.sql(
      """CREATE TABLE graft.db.cdfstream_mor (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('update.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.db.cdfstream_mor VALUES (1, 10), (2, 20), (3, 30)")
    val q = spark.readStream.format("graft-table").option("path", base)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdfstream_mor").outputMode("append").start()
    try {
      q.processAllAvailable()
      val updV = TableFormat.currentVersion(spark, base) + 1
      // pre-r13 this commit KILLED the stream (op=update_mor fell to the
      // CoW refusal); it is exactly as streamable as delete_dv — the dv
      // position diff is the delete, the appended post-image the insert
      spark.sql("UPDATE graft.db.cdfstream_mor SET v = v + 1 WHERE k = 2")
      q.processAllAvailable()
      val rows = spark.table("cdfstream_mor").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3))).toSeq
      val upd = rows.filter(_._4 == updV).sortBy(_._3)
      assert(upd == Seq((2L, 20L, "delete", updV), (2L, 21L, "insert", updV)),
        s"MoR update misstreamed: $upd (all: $rows)")
    } finally q.stop()
  }

  test("column DEFAULT values: INSERT fill, exists-default for pre-column files, SET/DROP DEFAULT (r10)") {
    val _ = wh
    val base = s"$wh/db/def_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.def_spec
        |  (k BIGINT, v STRING DEFAULT 'none', n BIGINT DEFAULT 42)
        |PARTITIONED BY (k)""".stripMargin)
    // INSERT with a column list fills the rest from CURRENT_DEFAULT
    spark.sql("INSERT INTO graft.db.def_spec (k) VALUES (1)")
    spark.sql("INSERT INTO graft.db.def_spec VALUES (2, 'real', 7)")
    val r1 = spark.sql("SELECT v, n FROM graft.db.def_spec WHERE k = 1").head
    assert((r1.getString(0), r1.getLong(1)) == (("none", 42L)))
    // ADD COLUMN ... DEFAULT: rows in files that PREDATE the column
    // read the existence default, not NULL
    spark.sql("ALTER TABLE graft.db.def_spec ADD COLUMN tag STRING DEFAULT 'legacy'")
    assert(spark.sql("SELECT tag FROM graft.db.def_spec WHERE k = 2").head.getString(0)
      == "legacy", "pre-column file did not read the existence default")
    spark.sql("INSERT INTO graft.db.def_spec (k) VALUES (3)")
    assert(spark.sql("SELECT tag FROM graft.db.def_spec WHERE k = 3").head.getString(0)
      == "legacy")
    // SET DEFAULT changes FUTURE inserts only; k=1/2 rows keep their values
    spark.sql("ALTER TABLE graft.db.def_spec ALTER COLUMN n SET DEFAULT 100")
    spark.sql("INSERT INTO graft.db.def_spec (k) VALUES (4)")
    val byK = spark.sql("SELECT k, n FROM graft.db.def_spec").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byK == Map(1L -> 42L, 2L -> 7L, 3L -> 42L, 4L -> 100L), byK.toString)
    // DROP DEFAULT: new short inserts land NULL
    spark.sql("ALTER TABLE graft.db.def_spec ALTER COLUMN n DROP DEFAULT")
    spark.sql("INSERT INTO graft.db.def_spec (k) VALUES (5)")
    assert(spark.sql("SELECT n FROM graft.db.def_spec WHERE k = 5").head.isNullAt(0))
    // MERGE (the executor-side record reader) preserves exist-defaults
    // for pre-column files instead of nulling them in the rewrite
    Seq((1L, "upd")).toDF("k", "v").createOrReplaceTempView("def_changes")
    spark.sql(
      """MERGE INTO graft.db.def_spec t
        |USING (SELECT k, v, 42 AS n, 'legacy' AS tag FROM def_changes) s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val m = spark.sql("SELECT v, n, tag FROM graft.db.def_spec WHERE k = 2").head
    assert((m.getString(0), m.getLong(1), m.getString(2)) == (("real", 7L, "legacy")),
      "row-level rewrite lost the existence default")
  }

  test("TBLPROPERTIES persist in the manifest, version with the table, and route delete.mode (r10)") {
    val _ = wh
    val base = s"$wh/db/props_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.props_spec (k BIGINT, v BIGINT)
        |PARTITIONED BY (k)
        |TBLPROPERTIES ('delete.mode' = 'merge-on-read', 'team' = 'ingest')""".stripMargin)
    // v1 props as declared; engine bookkeeping (provider) filtered out
    val p1 = TableFormat.manifest(spark, base, 1).props
    assert(p1 == Map("delete.mode" -> "merge-on-read", "team" -> "ingest"), p1.toString)
    // props INHERIT through ordinary commits
    (0L until 2000L).map(i => (i, i)).toDF("k", "v").createOrReplaceTempView("props_src")
    spark.sql("INSERT INTO graft.db.props_spec SELECT * FROM props_src")
    assert(TableFormat.manifest(spark, base, 2).props == p1, "INSERT dropped the props")
    // the TABLE PROPERTY alone routes SQL DELETE through deletion
    // vectors — no session conf set
    val beforeFiles = TableFormat.manifestFiles(spark, base, 2).toSet
    spark.sql("DELETE FROM graft.db.props_spec WHERE k IN (5, 1500)")
    assert(TableFormat.manifest(spark, base, 3).op.contains("delete_dv"))
    assert(TableFormat.manifestFiles(spark, base, 3).toSet == beforeFiles)
    assert(spark.sql("SELECT count(*) FROM graft.db.props_spec").head.getLong(0) == 1998)
    // SET/UNSET commit metadata-only revisions; SHOW reads them back
    spark.sql("ALTER TABLE graft.db.props_spec SET TBLPROPERTIES " +
      "('delete.mode' = 'copy-on-write', 'quality.tier' = 'gold')")
    spark.sql("ALTER TABLE graft.db.props_spec UNSET TBLPROPERTIES ('team')")
    val shown = spark.sql("SHOW TBLPROPERTIES graft.db.props_spec").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown == Map("delete.mode" -> "copy-on-write", "quality.tier" -> "gold"), shown.toString)
    // properties are VERSIONED: the pre-alter manifests still carry theirs
    assert(TableFormat.manifest(spark, base, 3).props("delete.mode") == "merge-on-read")
    // with copy-on-write restored, the same delete shape now moves files
    spark.sql("DELETE FROM graft.db.props_spec WHERE k IN (6, 1501)")
    val vNow = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, vNow).op.contains("delete"))
    assert(TableFormat.manifestFiles(spark, base, vNow).toSet != beforeFiles)
    assert(spark.sql("SELECT count(*) FROM graft.db.props_spec").head.getLong(0) == 1996)
  }

  test("generated columns recompute through row-level UPDATE and MERGE (r11, ADVICE r10 medium)") {
    val _ = wh
    val base = s"$wh/db/gen_rl"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.gen_rl
        |  (ts BIGINT, v STRING, day BIGINT GENERATED ALWAYS AS (ts DIV 86400))
        |PARTITIONED BY (day)""".stripMargin)
    spark.sql("INSERT INTO graft.db.gen_rl (ts, v) VALUES (0, 'a'), (86400, 'b')")
    // UPDATE of the SOURCE column: the engine must re-derive `day` — the
    // plan itself carries the stale value (pre-r11 it was persisted)
    spark.sql("UPDATE graft.db.gen_rl SET ts = 200000 WHERE v = 'a'")
    assert(spark.sql("SELECT day FROM graft.db.gen_rl WHERE v = 'a'")
      .head.getLong(0) == 2L, "UPDATE persisted a stale generated value")
    // a direct UPDATE of the generated column itself is overwritten by
    // the recompute — GENERATED ALWAYS owns the value
    spark.sql("UPDATE graft.db.gen_rl SET day = 999 WHERE v = 'b'")
    assert(spark.sql("SELECT day FROM graft.db.gen_rl WHERE v = 'b'")
      .head.getLong(0) == 1L, "direct UPDATE overrode GENERATED ALWAYS")
    // MERGE through the same row-level write path
    spark.sql("SELECT 90000L AS ts, 'b' AS v").createOrReplaceTempView("gen_rl_src")
    spark.sql(
      """MERGE INTO graft.db.gen_rl t USING gen_rl_src s ON t.v = s.v
        |WHEN MATCHED THEN UPDATE SET ts = s.ts""".stripMargin)
    assert(spark.sql("SELECT day FROM graft.db.gen_rl WHERE v = 'b'")
      .head.getLong(0) == 1L)
    assert(spark.sql("SELECT ts FROM graft.db.gen_rl WHERE v = 'b'")
      .head.getLong(0) == 90000L)
  }

  test("CREATE TABLE with an unsupported constraint leaves nothing behind; inline constraints land in the v1 commit (r11, ADVICE r10 low)") {
    val _ = wh
    import org.apache.spark.sql.connector.catalog.{Column => CatColumn, Identifier, TableInfo}
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
    val base = s"$wh/db/atomic_cr"
    val p = new org.apache.hadoop.fs.Path(base)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true)
    val cat = spark.sessionState.catalogManager.catalog("graft").asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array("db"), "atomic_cr")
    val cols = Array(
      CatColumn.create("k", org.apache.spark.sql.types.LongType),
      CatColumn.create("v", org.apache.spark.sql.types.LongType))
    // an ENFORCED PRIMARY KEY is unsupported (no global index) — the
    // CREATE must fail BEFORE any commit exists, not after
    val enforcedPk = Constraint.primaryKey("pk_bad",
      Array(Expressions.column("k"):
        org.apache.spark.sql.connector.expressions.NamedReference))
      .enforced(true).build(): Constraint
    intercept[UnsupportedOperationException] {
      cat.createTable(ident, new TableInfo.Builder()
        .withColumns(cols).withPartitions(Array.empty[Transform])
        .withProperties(new java.util.HashMap[String, String]())
        .withConstraints(Array(enforcedPk)).build())
    }
    assert(!f.exists(p), "failed CREATE TABLE left a half-created table behind")
    // supported inline constraints land IN the single v1 commit
    val chk = Constraint.check("k_pos").predicateSql("k > 0").enforced(true)
      .validationStatus(Constraint.ValidationStatus.VALID).build(): Constraint
    val pk = Constraint.primaryKey("pk_k",
      Array(Expressions.column("k"):
        org.apache.spark.sql.connector.expressions.NamedReference))
      .enforced(false).rely(true).build(): Constraint
    cat.createTable(ident, new TableInfo.Builder()
      .withColumns(cols).withPartitions(Array.empty[Transform])
      .withProperties(new java.util.HashMap[String, String]())
      .withConstraints(Array(chk, pk)).build())
    assert(TableFormat.latestVersion(spark, base) == 1,
      "inline constraints must not spawn extra commits")
    val cons = TableFormat.manifest(spark, base, 1).constraints.toMap
    assert(cons.get("k_pos").contains("C:k > 0"), cons.toString)
    assert(cons.get("pk_k").contains("PK:k"), cons.toString)
  }

  test("3-column clustering: per-file bounds on every declared key; a predicate on the THIRD column prunes files (r11, VERDICT r10 #3)") {
    val _ = wh
    val base = s"$wh/db/stats3"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.stats3 (a BIGINT, b BIGINT, c BIGINT, v STRING)
        |PARTITIONED BY (a, b, c)""".stripMargin)
    // c correlates with a (hierarchical range clustering on (a,b,c)
    // gives c narrow per-file ranges through the correlation) — the
    // realistic shape: e.g. (tenant, day, event_id) all monotone-ish
    (0L until 8000L).map(i => (i, i % 97, i + 1000000L, s"r$i"))
      .toDF("a", "b", "c", "v").createOrReplaceTempView("stats3_src")
    spark.sql("INSERT INTO graft.db.stats3 SELECT * FROM stats3_src")
    val v1 = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, v1).statsCols == Seq("a", "b", "c"),
      "the #stats header must declare all three columns")
    val entries = TableFormat.manifestEntries(spark, base, v1)
    assert(entries.size >= 2, s"test premise: need multiple files, got ${entries.size}")
    assert(entries.forall(e => e.statsAt(2)._1.isDefined && e.statsAt(2)._2.isDefined),
      "every entry must record bounds for the third declared column")
    // the SCAN prunes on a predicate over ONLY the third column
    val sb = new GraftScanBuilder(base, v1,
      TableFormat.manifest(spark, base, v1).schema.get, Seq("a", "b", "c"), spark, 0)
    sb.pushFilters(Array(GreaterThanOrEqual("c", 1000100L), LessThanOrEqual("c", 1000200L)))
    val kept = sb.keptEntries().size
    assert(kept < entries.size,
      s"scan kept $kept of ${entries.size} files — third-column stats didn't prune")
    assert(spark.sql("SELECT count(1) FROM graft.db.stats3 WHERE c BETWEEN 1000100 AND 1000200")
      .head.getLong(0) == 101)
    // entries round-trip through serialization with the ext triples
    val reparsed = TableFormat.manifestEntries(spark, base, v1)
    assert(reparsed == entries)
    // APPENDs maintain all three columns' bounds (the auto-upgrade path)
    spark.sql("INSERT INTO graft.db.stats3 VALUES (9000, 1, 2000000, 'x')")
    val v2 = TableFormat.currentVersion(spark, base)
    val appended = TableFormat.manifestEntries(spark, base, v2)
      .filterNot(entries.toSet)
    assert(appended.nonEmpty && appended.forall(_.statsAt(2)._1.isDefined),
      "append lost the third column's bounds")
    // DROP of a middle stats column shifts the later slots down
    spark.sql("ALTER TABLE graft.db.stats3 DROP COLUMN b")
    val v3 = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, v3).statsCols == Seq("a", "c"))
    val shifted = TableFormat.manifestEntries(spark, base, v3)
    // c's triples moved from slot 2 (ext) into slot 1 (lo2/hi2)
    assert(shifted.forall(e => e.statsAt(1)._1.isDefined && e.ext.isEmpty),
      "DROP COLUMN did not shift the third column's stats into slot 2")
    assert(spark.sql("SELECT count(1) FROM graft.db.stats3 WHERE c BETWEEN 1000100 AND 1000200")
      .head.getLong(0) == 101, "post-drop pruning on the shifted slot broke")
  }

  test("identity columns: OCC range allocation — two concurrent writers, gap-free monotone ids (r11, VERDICT r10 #5)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val _ = wh
    val base = s"$wh/db/ident_occ"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.ident_occ
        |  (id BIGINT GENERATED ALWAYS AS IDENTITY, w BIGINT, v BIGINT)
        |PARTITIONED BY (id)""".stripMargin)
    // identity declaration survives in the manifest schema
    val md = TableFormat.manifest(spark, base, 1).schema.get("id").metadata
    assert(md.contains("GRAFT_IDENTITY_START") && md.getLong("GRAFT_IDENTITY_STEP") == 1L)
    // TWO writers race 3 inserts each of 500 rows — the OCC loop must
    // serialize the hwm claims: every conflict re-reads the winner's
    // mark and re-assigns, so the final id set is exactly [1, 3000]
    val n = 500
    def insertBatch(writer: Int, batch: Int): Unit = {
      (0 until n).map(i => (writer.toLong, (batch * n + i).toLong))
        .toDF("w", "v").createOrReplaceTempView(s"ident_src_${writer}_$batch")
      spark.sql(s"INSERT INTO graft.db.ident_occ (w, v) " +
        s"SELECT w, v FROM ident_src_${writer}_$batch")
    }
    val fut = (1 to 2).map(wr => Future { (0 until 3).foreach(b => insertBatch(wr, b)) })
    fut.foreach(Await.result(_, 300.seconds))
    val r = spark.sql(
      """SELECT count(1) AS n, count(DISTINCT id) AS nd,
        |  min(id) AS lo, max(id) AS hi FROM graft.db.ident_occ""".stripMargin).head
    assert(r.getLong(0) == 3000L, s"rows: ${r.getLong(0)}")
    assert(r.getLong(1) == 3000L, s"duplicate ids: ${r.getLong(1)} distinct of 3000")
    assert(r.getLong(2) == 1L && r.getLong(3) == 3000L,
      s"ids not gap-free [1,3000]: [${r.getLong(2)}, ${r.getLong(3)}]")
    // the manifest watermark agrees: next id to allocate is 3001
    val hwm = TableFormat.manifest(spark, base, TableFormat.currentVersion(spark, base)).hwm
    assert(hwm.get("id").contains(3001L), hwm.toString)
    // ids being the clustering key, a range predicate prunes files
    val vCur = TableFormat.currentVersion(spark, base)
    val entries = TableFormat.manifestEntries(spark, base, vCur)
    assert(entries.exists(e => e.lo.isDefined && e.hi.isDefined),
      "identity clustering recorded no bounds")
  }

  test("CALL graft.system.analyze rebuilds NDV exactly, repairing delete-induced upper-bound drift (r11)") {
    val _ = wh
    val base = s"$wh/db/analyze_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.analyze_t (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    (0L until 5000L).map(i => (i, i)).toDF("k", "v").createOrReplaceTempView("an_src")
    spark.sql("INSERT INTO graft.db.analyze_t SELECT * FROM an_src")
    def est(v: Int): Long = TableFormat.ndvEstimate(
      TableFormat.manifest(spark, base, v).ndv("k"))
    val before = est(TableFormat.currentVersion(spark, base))
    assert(before > 4500 && before < 5500, s"seed ndv $before")
    // delete 90% of the keys: the INCREMENTAL sketch cannot subtract —
    // the estimate stays near 5000 (the documented upper bound)
    spark.sql("DELETE FROM graft.db.analyze_t WHERE k >= 500")
    val stale = est(TableFormat.currentVersion(spark, base))
    assert(stale > 4000, s"premise: pre-analyze estimate should be stale, got $stale")
    // ANALYZE scans the live rows and rebuilds the sketch exactly
    val r = spark.sql("CALL graft.system.analyze('db.analyze_t')").head
    val fresh = est(r.getInt(0))
    assert(fresh > 450 && fresh < 550, s"post-analyze ndv $fresh (want ~500)")
    assert(r.getString(1).startsWith("k="), r.getString(1))
    // metadata-only: same files, rows unchanged
    assert(spark.sql("SELECT count(1) FROM graft.db.analyze_t").head.getLong(0) == 500L)
  }

  test("drop_branch: unpublished branches reclaim; published ones refuse while referenced (r13)") {
    val _ = wh
    val base = s"$wh/db/dropbr_t"
    val p = new org.apache.hadoop.fs.Path(base)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true)
    spark.sql("DROP TABLE IF EXISTS graft.db.dropbr_t")
    spark.sql("CREATE TABLE graft.db.dropbr_t (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.db.dropbr_t SELECT id, id FROM range(0, 100)")
    // abandoned branch: fork, write, drop — subtree gone, parent intact
    spark.sql("CALL graft.system.branch('db.dropbr_t', 'scratch')")
    spark.sql("INSERT INTO graft.db.dropbr_t.branches.scratch SELECT id, id FROM range(100, 200)")
    val r = spark.sql("CALL graft.system.drop_branch('db.dropbr_t', 'scratch')").head
    assert(r.getString(0) == "branches.scratch" && r.getLong(1) > 0, s"got $r")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$base/branches/scratch")))
    assert(spark.sql("SELECT count(1) FROM graft.db.dropbr_t").head.getLong(0) == 100)
    // published branch: the parent references branch-tree files BY PATH —
    // dropping would corrupt it, so the drop refuses naming the cure
    spark.sql("CALL graft.system.branch('db.dropbr_t', 'staged')")
    spark.sql("INSERT INTO graft.db.dropbr_t.branches.staged SELECT id, id FROM range(200, 300)")
    spark.sql("CALL graft.system.publish('db.dropbr_t', 'staged')")
    assert(spark.sql("SELECT count(1) FROM graft.db.dropbr_t").head.getLong(0) == 200)
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.drop_branch('db.dropbr_t', 'staged')").collect()
    }
    assert(e.getMessage.contains("referenced"), e.getMessage)
    // the cure: a parent rewrite + vacuum strands no branch references
    spark.sql(s"CALL graft.system.compact('db.dropbr_t', ${Long.MaxValue}L, 2)")
    val cur = TableFormat.currentVersion(spark, base)
    TableFormat.vacuum(spark, base, retain = Seq(cur))
    val r2 = spark.sql("CALL graft.system.drop_branch('db.dropbr_t', 'staged')").head
    assert(r2.getLong(1) > 0)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$base/branches/staged")))
    assert(spark.sql("SELECT count(1) FROM graft.db.dropbr_t").head.getLong(0) == 200,
      "drop after rewrite+vacuum must leave the parent exact")
  }

  test("drop_branch: refuses while a SIBLING branch references the subtree (r14, ADVICE r13 #3)") {
    val _ = wh
    val base = s"$wh/db/dropbr_sib"
    val p = new org.apache.hadoop.fs.Path(base)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true)
    spark.sql("DROP TABLE IF EXISTS graft.db.dropbr_sib")
    spark.sql("CREATE TABLE graft.db.dropbr_sib (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.db.dropbr_sib SELECT id, id FROM range(0, 100)")
    // publish branch b: the parent's head now names b-subtree paths
    spark.sql("CALL graft.system.branch('db.dropbr_sib', 'b')")
    spark.sql("INSERT INTO graft.db.dropbr_sib.branches.b SELECT id, id FROM range(100, 200)")
    spark.sql("CALL graft.system.publish('db.dropbr_sib', 'b')")
    // sibling c forks AFTER the publish — its clone manifest carries
    // b-subtree paths too
    spark.sql("CALL graft.system.branch('db.dropbr_sib', 'c')")
    // the parent rewrites + vacuums away ITS references to b's subtree...
    spark.sql(s"CALL graft.system.compact('db.dropbr_sib', ${Long.MaxValue}L, 2)")
    val cur = TableFormat.currentVersion(spark, base)
    TableFormat.vacuum(spark, base, retain = Seq(cur))
    // ...but c still reads through b's files: the drop must refuse
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.drop_branch('db.dropbr_sib', 'b')").collect()
    }
    assert(e.getMessage.contains("referenced"), e.getMessage)
    assert(spark.sql("SELECT count(1) FROM graft.db.dropbr_sib.branches.c")
      .head.getLong(0) == 200, "sibling c must stay readable")
    // retiring the sibling unlocks the drop
    spark.sql("CALL graft.system.drop_branch('db.dropbr_sib', 'c')")
    val r = spark.sql("CALL graft.system.drop_branch('db.dropbr_sib', 'b')").head
    assert(r.getLong(1) > 0)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$base/branches/b")))
    assert(spark.sql("SELECT count(1) FROM graft.db.dropbr_sib").head.getLong(0) == 200)
  }

  test("branches: SQL write-audit-publish — zero-copy fork, isolated writes, fast-forward publish, divergence refused (r11)") {
    val _ = wh
    val base = s"$wh/db/wap_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.wap_t (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    (0L until 1000L).map(i => (i, i)).toDF("k", "v").createOrReplaceTempView("wap_src")
    spark.sql("INSERT INTO graft.db.wap_t SELECT * FROM wap_src")
    val r = spark.sql("CALL graft.system.branch('db.wap_t', 'staged')").head
    assert(r.getInt(0) == 2 && r.getString(1) == "branches.staged")
    // the branch is a real SQL table: INSERT + even UPDATE work on it —
    // and the parent never sees a byte until publish
    spark.sql("INSERT INTO graft.db.wap_t.branches.staged " +
      "SELECT k + 1000, v FROM wap_src")
    spark.sql("UPDATE graft.db.wap_t.branches.staged SET v = -1 WHERE k = 1500")
    assert(spark.sql("SELECT count(1) FROM graft.db.wap_t.branches.staged")
      .head.getLong(0) == 2000L)
    assert(spark.sql("SELECT count(1) FROM graft.db.wap_t").head.getLong(0) == 1000L,
      "branch write leaked into the parent")
    // audit on the branch, then publish: ONE metadata commit
    assert(spark.sql(
      "SELECT v FROM graft.db.wap_t.branches.staged WHERE k = 1500").head.getLong(0) == -1L)
    val staged = TableFormat.branchBaseOf(base, "staged")
    val (analyzed, _) = TableFormat.analyzeNdv(spark, staged)
    val hist = TableFormat.manifest(spark, staged, analyzed).hist
    assert(hist.contains("k"), "premise: ANALYZE on the branch records a histogram on k")
    val pub = spark.sql("CALL graft.system.publish('db.wap_t', 'staged')").head
    assert(pub.getInt(0) == 3, pub.toString)
    assert(TableFormat.manifest(spark, base, 3).hist == hist,
      "publish kept the parent's histograms over the branch's")
    assert(spark.sql("SELECT count(1) FROM graft.db.wap_t").head.getLong(0) == 2000L)
    assert(spark.sql("SELECT v FROM graft.db.wap_t WHERE k = 1500").head.getLong(0) == -1L)
    // pre-publish versions stay time-travel readable
    assert(spark.sql("SELECT count(1) FROM graft.db.wap_t VERSION AS OF 2")
      .head.getLong(0) == 1000L)
    // divergence: fork a new branch, advance the PARENT, publish refused
    spark.sql("CALL graft.system.branch('db.wap_t', 'late')")
    spark.sql("INSERT INTO graft.db.wap_t VALUES (99999, 0)")
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.publish('db.wap_t', 'late')").collect()
    }
    assert(e.getMessage.contains("fast-forward"), e.getMessage)
    // the failed publish changed nothing
    assert(spark.sql("SELECT count(1) FROM graft.db.wap_t").head.getLong(0) == 2001L)
    // graft_table_branches TVF: the listing shows `late` diverged
    TableBranchesTvf.register(spark)
    val br = spark.sql(s"SELECT * FROM graft_table_branches('$base') ORDER BY branch")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(4))).toSeq
    assert(br.map(_._1) == Seq("late", "staged"), br.toString)
    assert(!br.head._3, "diverged branch must not report publishable")
    // TVFs compose: filter to the publishable set
    assert(spark.sql(
      s"SELECT count(1) FROM graft_table_branches('$base') WHERE publishable")
      .head.getLong(0) == 0L)
  }

  test("branch rebase: diverged WAP branch replays onto the new head, publish succeeds, contents = parent UNION branch (r13, VERDICT r12 #6)") {
    val _ = wh
    val base = s"$wh/db/rb_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.rb_t (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.db.rb_t SELECT id, id FROM range(1000)")
    spark.sql("CALL graft.system.branch('db.rb_t', 'dev')").collect()
    // branch work: an append AND a merge-on-read delete of fork-time rows
    spark.sql("INSERT INTO graft.db.rb_t.branches.dev SELECT id + 5000, id FROM range(100)")
    TableFormat.deleteRowsDV(spark, s"$base/branches/dev", col("k").between(100L, 199L))
    // the PARENT advances underneath: publish refuses
    spark.sql("INSERT INTO graft.db.rb_t VALUES (7777, 7)")
    val e0 = intercept[Exception](
      spark.sql("CALL graft.system.publish('db.rb_t', 'dev')").collect())
    assert(e0.getMessage.contains("fast-forward"), e0.getMessage)
    // REBASE replays the branch's net changes onto the new head
    val rb = spark.sql("CALL graft.system.rebase('db.rb_t', 'dev')").head
    assert(rb.getInt(1) == 3 && rb.getInt(2) == 2, s"rebase row: $rb")
    // the rebased branch sees parent ∪ branch changes
    assert(spark.sql("SELECT count(1) FROM graft.db.rb_t.branches.dev")
      .head.getLong(0) == 1000L + 100L + 1L - 100L)
    assert(spark.sql("SELECT v FROM graft.db.rb_t.branches.dev WHERE k = 7777")
      .head.getLong(0) == 7L, "parent's post-fork row missing after rebase")
    assert(spark.sql(
      "SELECT count(1) FROM graft.db.rb_t.branches.dev WHERE k BETWEEN 100 AND 199")
      .head.getLong(0) == 0L, "branch's dv delete lost in the rebase")
    // ... and publish now fast-forwards
    spark.sql("CALL graft.system.publish('db.rb_t', 'dev')").collect()
    assert(spark.sql("SELECT count(1) FROM graft.db.rb_t").head.getLong(0) == 1001L)
    assert(spark.sql(
      "SELECT count(1) FROM graft.db.rb_t WHERE k >= 5000 AND k < 5100")
      .head.getLong(0) == 100L)
    assert(spark.sql(
      "SELECT count(1) FROM graft.db.rb_t WHERE k BETWEEN 100 AND 199")
      .head.getLong(0) == 0L)
    // a COW rewrite on the branch refuses, naming the op
    spark.sql("CALL graft.system.branch('db.rb_t', 'cowy')").collect()
    spark.sql("UPDATE graft.db.rb_t.branches.cowy SET v = -1 WHERE k = 0")
    spark.sql("INSERT INTO graft.db.rb_t VALUES (8888, 8)")
    val e1 = intercept[Exception](
      spark.sql("CALL graft.system.rebase('db.rb_t', 'cowy')").collect())
    assert(e1.getMessage.contains("replay position-stably") ||
      e1.getMessage.contains("'replace'") || e1.getMessage.contains("'merge'"),
      e1.getMessage)
    // a parent-side REWRITE of a file the branch dv-deleted from refuses
    spark.sql("CALL graft.system.branch('db.rb_t', 'dv2')").collect()
    TableFormat.deleteRowsDV(spark, s"$base/branches/dv2", col("k").between(200L, 249L))
    spark.sql("UPDATE graft.db.rb_t SET v = v + 1 WHERE k BETWEEN 200 AND 299") // CoW on parent
    val e2 = intercept[Exception](
      spark.sql("CALL graft.system.rebase('db.rb_t', 'dv2')").collect())
    assert(e2.getMessage.contains("rewritten or removed"), e2.getMessage)
  }

  test("string bounds stay SOUND under long shared-prefix values — never a wrongful prune (r11)") {
    val _ = wh
    val base = s"$wh/db/strlong_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.strlong_t (u STRING, k BIGINT) PARTITIONED BY (u)")
    // 4000-char shared prefix: parquet either truncates the stats (its
    // contract: min down, max incremented — still prune-safe) or omits
    // them (no bounds → no prune). Either way every query stays exact.
    val prefix = "p" * 4000
    (0L until 2000L).map(i => (prefix + f"${i % 40}%04d", i))
      .toDF("u", "k").createOrReplaceTempView("strlong_src")
    spark.sql("INSERT INTO graft.db.strlong_t SELECT * FROM strlong_src")
    val want = prefix + "0007"
    assert(spark.sql(s"SELECT count(1) FROM graft.db.strlong_t WHERE u = '$want'")
      .head.getLong(0) == 50L, "equality on a long-prefix value lost rows")
    assert(spark.sql(
      s"SELECT count(1) FROM graft.db.strlong_t WHERE u >= '${prefix}0030'")
      .head.getLong(0) == 500L, "range on a long-prefix value lost rows")
    // every value starts with 'p': a predicate excluding the whole
    // range answers zero, one covering it answers everything
    assert(spark.sql("SELECT count(1) FROM graft.db.strlong_t WHERE u < 'a'")
      .head.getLong(0) == 0L)
    assert(spark.sql("SELECT count(1) FROM graft.db.strlong_t WHERE u < 'q'")
      .head.getLong(0) == 2000L)
  }

  test("identity x branches: the watermark travels with the branch and merges back on publish — ids never re-issued (r11)") {
    val _ = wh
    val base = s"$wh/db/idbr_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.idbr_t
        |  (id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)
        |PARTITIONED BY (id)""".stripMargin)
    (0L until 100L).map(i => Tuple1(i)).toDF("v").createOrReplaceTempView("idbr_src")
    spark.sql("INSERT INTO graft.db.idbr_t (v) SELECT v FROM idbr_src")
    // fork; the clone carries the watermark, so branch inserts CONTINUE
    // the sequence instead of re-issuing [1, 100]
    spark.sql("CALL graft.system.branch('db.idbr_t', 'ingest')")
    spark.sql("INSERT INTO graft.db.idbr_t.branches.ingest (v) SELECT v + 100 FROM idbr_src")
    val br = spark.sql(
      "SELECT min(id), max(id), count(DISTINCT id) FROM graft.db.idbr_t.branches.ingest").head
    assert((br.getLong(0), br.getLong(1), br.getLong(2)) == ((1L, 200L, 200L)),
      s"branch ids: $br")
    // publish: parent adopts the branch contents AND its watermark
    spark.sql("CALL graft.system.publish('db.idbr_t', 'ingest')")
    val hwm = TableFormat.manifest(spark, base, TableFormat.currentVersion(spark, base)).hwm
    assert(hwm.get("id").contains(201L), hwm.toString)
    // post-publish inserts continue gap-free from the merged mark
    spark.sql("INSERT INTO graft.db.idbr_t (v) VALUES (999)")
    val fin = spark.sql(
      "SELECT min(id), max(id), count(DISTINCT id), count(1) FROM graft.db.idbr_t").head
    assert((fin.getLong(0), fin.getLong(1), fin.getLong(2), fin.getLong(3)) ==
      ((1L, 201L, 201L, 201L)), s"published ids: $fin")
  }

  test("type widening: ALTER COLUMN TYPE BIGINT is metadata-only; mixed narrow/wide files read, rewrite, and time-travel exactly (r11)") {
    val _ = wh
    val base = s"$wh/db/widen_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.widen_t (k BIGINT, n INT, f FLOAT) PARTITIONED BY (k)")
    (0L until 100L).map(i => (i, i.toInt, i.toFloat)).toDF("k", "n", "f")
      .createOrReplaceTempView("widen_src")
    spark.sql("INSERT INTO graft.db.widen_t SELECT * FROM widen_src")
    val filesBefore = TableFormat.manifestFiles(spark, base,
      TableFormat.currentVersion(spark, base)).toSet
    spark.sql("ALTER TABLE graft.db.widen_t ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE graft.db.widen_t ALTER COLUMN f TYPE DOUBLE")
    // metadata-only: the files did not move
    val vW = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifestFiles(spark, base, vW).toSet == filesBefore,
      "type widening rewrote data")
    val sch = spark.table("graft.db.widen_t").schema
    assert(sch("n").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("f").dataType == org.apache.spark.sql.types.DoubleType)
    // values beyond INT range land in NEW (wide) files; old files up-cast
    spark.sql("INSERT INTO graft.db.widen_t VALUES (100, 9999999999, 1.5)")
    assert(spark.sql("SELECT sum(n) FROM graft.db.widen_t").head.getLong(0) ==
      (0L until 100L).sum + 9999999999L)
    // narrowing is refused
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.widen_t ALTER COLUMN n TYPE INT")
    }
    // Spark's analyzer rejects the narrowing before our guard; either
    // refusal is the right outcome
    assert(e.getMessage.contains("widening") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e.getMessage)
    // row-level UPDATE reads MIXED narrow/wide files through the CoW
    // reader and rewrites wide
    spark.sql("UPDATE graft.db.widen_t SET n = n + 1000000000000 WHERE k = 5")
    assert(spark.sql("SELECT n FROM graft.db.widen_t WHERE k = 5")
      .head.getLong(0) == 1000000000005L)
    // time travel: the pre-widen snapshot reads the NARROW type
    val pre = spark.sql("SELECT * FROM graft.db.widen_t VERSION AS OF 2")
    assert(pre.schema("n").dataType == org.apache.spark.sql.types.IntegerType)
    assert(pre.count() == 100)
  }

  test("table stream: Trigger.AvailableNow drains the backlog in maxVersionsPerBatch-bounded steps, then stops (r11)") {
    val base = freshBase("tstream_avnow")
    // 5 commits of backlog before the stream ever starts
    TableFormat.commit(spark, base, Seq((1L, "a")).toDF("k", "v"), 1, None)
    (2 to 5).foreach { i =>
      TableFormat.appendCommit(spark, base, Seq((i.toLong, s"v$i")).toDF("k", "v"))
    }
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.format("graft-table").option("path", base)
      .option("maxVersionsPerBatch", "2").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count()
        if (n > 0) { batches.incrementAndGet(); rows.addAndGet(n); () }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow TERMINATES on its own once the snapshot target drains
    assert(q.awaitTermination(120000), "AvailableNow stream did not stop")
    assert(rows.get() == 5L, s"rows: ${rows.get()}")
    // 5 versions at <=2 versions per batch = at least 3 non-empty batches
    assert(batches.get() >= 3,
      s"admission control did not bound the catch-up: ${batches.get()} batches")
  }

  test("autoCompact: trickle inserts into an opted-in table keep the file count bounded (r11)") {
    val _ = wh
    val base = s"$wh/db/autoc_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.autoc_t (k BIGINT, v BIGINT)
        |PARTITIONED BY (k)
        |TBLPROPERTIES ('autoCompact' = 'true', 'autoCompact.minFiles' = '6',
        |               'autoCompact.smallBytes' = '1048576')""".stripMargin)
    (1 to 12).foreach { i =>
      spark.sql(s"INSERT INTO graft.db.autoc_t VALUES ($i, $i)")
    }
    assert(spark.sql("SELECT count(1) FROM graft.db.autoc_t").head.getLong(0) == 12L)
    val v = TableFormat.currentVersion(spark, base)
    val nFiles = TableFormat.manifestEntries(spark, base, v).size
    assert(nFiles < 8,
      s"autoCompact did not bound the small-file count: $nFiles files after 12 inserts")
    // the compactions are honest commits in the history
    assert(TableFormat.history(spark, base).exists(_._2 == "compact"),
      "no compact commit in history")
    // compacted files keep the declared clustering's bounds (r11 compact fix)
    assert(TableFormat.manifestEntries(spark, base, v)
      .forall(e => e.lo.isDefined && e.hi.isDefined),
      "auto-compacted files lost their bounds")
  }

  test("optimize_cluster: N-column re-clustering restores pruning on every declared key, CDF-silent (r11)") {
    val _ = wh
    val base = s"$wh/db/optc_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.optc_t (a BIGINT, b BIGINT, c BIGINT) PARTITIONED BY (a, b, c)")
    // OUT-OF-ORDER trickle: each insert spans the whole key space, so
    // every file's range covers everything and nothing can prune
    (0 until 4).foreach { i =>
      (0L until 2000L).map(j => (j * 4 + i, j % 50, j * 4 + i + 1000000L))
        .toDF("a", "b", "c").createOrReplaceTempView(s"optc_src_$i")
      spark.sql(s"INSERT INTO graft.db.optc_t SELECT * FROM optc_src_$i")
    }
    val v0 = TableFormat.currentVersion(spark, base)
    val before = TableFormat.manifestEntries(spark, base, v0)
    val beforeKept = before.count(_.mayMatchAt(0, 100, 200))
    // fragmented ingest: EVERY commit contributes a matching file
    assert(beforeKept >= 4,
      s"premise: fragmented ingest should spread the range ($beforeKept/${before.size})")
    val r = spark.sql("CALL graft.system.optimize_cluster('db.optc_t', 8)").head
    val v1 = r.getInt(0)
    val after = TableFormat.manifestEntries(spark, base, v1)
    val afterKept = after.count(_.mayMatchAt(0, 100, 200))
    assert(afterKept < beforeKept && afterKept <= 2,
      s"optimize_cluster did not restore pruning ($afterKept of ${after.size} " +
        s"vs $beforeKept of ${before.size} before)")
    // third-column bounds present too, rows identical, CDF silent
    assert(after.forall(_.statsAt(2)._1.isDefined), "no 3rd-column bounds")
    assert(spark.sql("SELECT count(1) FROM graft.db.optc_t").head.getLong(0) == 8000L)
    assert(TableFormat.manifest(spark, base, v1).op.contains("optimize"))
    assert(TableFormat.readChanges(spark, base, v0, v1).count() == 0,
      "optimize must be CDF-silent")
  }

  test("optimize_zorder_n: 3-D curve bounds EVERY dimension — a predicate on any single key prunes (r11)") {
    val _ = wh
    val base = s"$wh/db/z3_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.z3_t (a BIGINT, b BIGINT, c BIGINT) PARTITIONED BY (a, b, c)")
    // three INDEPENDENT uniform dimensions — hierarchical clustering
    // would leave b and c unboundable per file
    val rnd = new scala.util.Random(7)
    (0 until 16000).map(_ => (rnd.nextInt(4096).toLong,
        rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
      .toDF("a", "b", "c").createOrReplaceTempView("z3_src")
    spark.sql("INSERT INTO graft.db.z3_t SELECT * FROM z3_src")
    val r = spark.sql("CALL graft.system.optimize_zorder_n('db.z3_t', 64)").head
    val v = r.getInt(0)
    val entries = TableFormat.manifestEntries(spark, base, v)
    assert(entries.size >= 16, s"need many files for the curve test, got ${entries.size}")
    // a narrow box on EACH dimension ALONE prunes files
    Seq(0, 1, 2).foreach { dim =>
      val kept = entries.count(_.mayMatchAt(dim, 100, 400))
      assert(kept < entries.size,
        s"dimension $dim: z-curve kept $kept of ${entries.size} — no pruning")
    }
    // answers exact through the rewrite
    val expect = spark.table("z3_src").where("b BETWEEN 100 AND 400").count()
    assert(spark.sql("SELECT count(1) FROM graft.db.z3_t WHERE b BETWEEN 100 AND 400")
      .head.getLong(0) == expect)
    assert(TableFormat.manifest(spark, base, v).op.contains("optimize"))
  }

  test("optimize_zorder_n with a STRING dimension: (lang, doc_id) curve prunes on the string dim alone (r12, VERDICT r11 #6)") {
    val _ = wh
    val base = s"$wh/db/zs_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.zs_t (lang STRING, doc_id BIGINT) PARTITIONED BY (lang, doc_id)")
    val langs = Seq("ar", "de", "en", "fr", "ja", "ko", "pt", "zh")
    val rnd = new scala.util.Random(11)
    // independent dims: language uncorrelated with doc_id
    (0 until 16000).map(_ => (langs(rnd.nextInt(8)), rnd.nextInt(100000).toLong))
      .toDF("lang", "doc_id").createOrReplaceTempView("zs_src")
    spark.sql("INSERT INTO graft.db.zs_t SELECT * FROM zs_src")
    val r = spark.sql("CALL graft.system.optimize_zorder_n('db.zs_t', 32)").head
    val v = r.getInt(0)
    val entries = TableFormat.manifestEntries(spark, base, v)
    assert(entries.size >= 8, s"need many files for the curve test, got ${entries.size}")
    // the STRING dimension alone prunes: an equality on lang drops files
    assert(entries.forall(e => e.strStatsAt(0)._1.isDefined), "string bounds lost")
    val sb = new GraftScanBuilder(base, v,
      TableFormat.manifest(spark, base, v).schema.get, Seq("lang", "doc_id"), spark, 0)
    sb.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("lang", "de")))
    val keptStr = sb.keptEntries().size
    assert(keptStr < entries.size,
      s"lang = 'de' kept $keptStr of ${entries.size} — the string dim is not on the curve")
    // the integral dimension alone ALSO prunes (slot 1)
    val keptNum = entries.count(_.mayMatchAt(1, 1000, 20000))
    assert(keptNum < entries.size,
      s"doc_id box kept $keptNum of ${entries.size} — integral dim lost beside the string")
    // answers exact through the rewrite
    val expect = spark.table("zs_src").where("lang = 'de'").count()
    assert(spark.sql("SELECT count(1) FROM graft.db.zs_t WHERE lang = 'de'")
      .head.getLong(0) == expect)
    assert(TableFormat.manifest(spark, base, v).op.contains("optimize"))
  }

  test("string clustering: per-file string bounds prune lang predicates; slots stay positional beside numeric keys (r11)") {
    val _ = wh
    val base = s"$wh/db/strc_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.strc_t (lang STRING, k BIGINT, v BIGINT) PARTITIONED BY (lang, k)")
    val langs = Seq("ar", "de", "en", "fr", "ja", "ko", "pt", "zh")
    (0L until 8000L).map(i => (langs((i % 8).toInt), i, i * 2))
      .toDF("lang", "k", "v").createOrReplaceTempView("strc_src")
    spark.sql("INSERT INTO graft.db.strc_t SELECT * FROM strc_src")
    val ver = TableFormat.currentVersion(spark, base)
    val entries = TableFormat.manifestEntries(spark, base, ver)
    assert(entries.size >= 2, s"premise: need multiple files, got ${entries.size}")
    // string bounds recorded in slot 0; numeric bounds for k in slot 1
    assert(entries.forall(e => e.strStatsAt(0)._1.isDefined &&
      e.strStatsAt(0)._2.isDefined), "no string bounds recorded")
    assert(entries.forall(e => e.statsAt(1)._1.isDefined),
      "numeric slot lost beside the string key")
    // entries round-trip through the 12-field form
    assert(TableFormat.manifestEntries(spark, base, ver) == entries)
    // equality on the string key prunes the SCAN
    val sb = new GraftScanBuilder(base, ver,
      TableFormat.manifest(spark, base, ver).schema.get, Seq("lang", "k"), spark, 0)
    sb.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("lang", "ar")))
    val kept = sb.keptEntries().size
    assert(kept < entries.size,
      s"lang = 'ar' kept $kept of ${entries.size} files — string bounds didn't prune")
    // and the answers are exact (including a range over the string order)
    assert(spark.sql("SELECT count(1) FROM graft.db.strc_t WHERE lang = 'ar'")
      .head.getLong(0) == 1000L)
    assert(spark.sql("SELECT count(1) FROM graft.db.strc_t WHERE lang >= 'pt'")
      .head.getLong(0) == 2000L)
    assert(spark.sql("SELECT count(1) FROM graft.db.strc_t WHERE lang IN ('de','ja')")
      .head.getLong(0) == 2000L)
  }

  test("CALL graft.system.optimize_incremental: audit row reports rewritten < total on a mostly-clustered table (r12)") {
    val base = s"$wh/db/opt_incr_p"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base, (0L until 4000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.appendCommit(spark, base,
      (0L until 4000L by 40L).map(i => (i, -i)).toDF("k", "v"), statsCol = Some("k"))
    val row = spark.sql(
      "CALL graft.system.optimize_incremental('db.opt_incr_p', 0L)").head
    val (v, rw, tot) = (row.getInt(0), row.getInt(1), row.getInt(2))
    assert(v == 3 && rw >= 1 && rw < tot, s"CALL returned v=$v rw=$rw tot=$tot")
    assert(spark.sql("SELECT count(1) FROM graft.db.opt_incr_p").head.getLong(0) == 4100L)
  }

  test("MERGE clause ladder: conditional UPDATE/DELETE clauses keep runtime group filtering — distant files carry by reference (r12, VERDICT r11 #3)") {
    val base = s"$wh/db/mrg_cl"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // range-clustered: 8 files over k = 0..7999
    TableFormat.commit(spark, base,
      (0L until 8000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(8))
    val v1Paths = TableFormat.manifestEntries(spark, base, 1).map(_.path).toSet
    assert(v1Paths.size == 8)
    spark.sql("SELECT id AS k, id * 2 AS v FROM range(100, 200)")
      .createOrReplaceTempView("mrg_cl_src")
    // narrow key band [100, 200) with a conditional DELETE + UPDATE + INSERT
    spark.sql(
      """MERGE INTO graft.db.mrg_cl t USING mrg_cl_src s ON t.k = s.k
        |WHEN MATCHED AND t.v % 2 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val v2 = TableFormat.currentVersion(spark, base)
    val v2Paths = TableFormat.manifestEntries(spark, base, v2).map(_.path).toSet
    val carried = v2Paths.intersect(v1Paths)
    assert(carried.nonEmpty && carried.size >= 6,
      s"expected distant files carried by reference, carried=${carried.size}/8")
    // clause semantics: evens in [100,200) deleted, odds updated to 2k
    val out = spark.sql("SELECT k, v FROM graft.db.mrg_cl WHERE k BETWEEN 100 AND 199")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 50, s"expected 50 survivors in the band, got ${out.size}")
    assert(out.forall { case (k, v) => k % 2 == 1 && v == k * 2 },
      "MATCHED clause ladder misapplied")
    assert(spark.sql("SELECT count(1) FROM graft.db.mrg_cl").head.getLong(0) ==
      8000L - 50L)
  }

  test("true-columnar reads: mask-free SPJ scans batch straight to Spark; a dv flips to row mode; stream factory stays row (r14)") {
    val _ = wh
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val base = s"$wh/db/colr"
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      spark.sql("DROP TABLE IF EXISTS graft.db.colr")
      spark.sql("""CREATE TABLE graft.db.colr (k BIGINT, v STRING)
                  |TBLPROPERTIES ('graft.bucket' = '4:k')""".stripMargin)
      spark.sql("INSERT INTO graft.db.colr SELECT id, concat('r', id) FROM range(2000)")
      val q = spark.sql("SELECT k, v FROM graft.db.colr")
      assert(q.count() == 2000)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("GraftBucketedScan"), s"premise: SPJ scan\n$plan")
      assert(plan.contains("ColumnarToRow"),
        s"mask-free bucketed scan should hand Spark ColumnarBatches:\n$plan")
      // values exact through the columnar path
      assert(spark.sql("SELECT sum(k) FROM graft.db.colr WHERE v = 'r7'")
        .head.getLong(0) == 7L)
      // a deletion vector anywhere flips the scan to ROW mode (ordinal
      // skip semantics live there) — same results, no ColumnarToRow
      TableFormat.deleteRowsDV(spark, base, col("k") < 100L)
      val q2 = spark.sql("SELECT k, v FROM graft.db.colr")
      assert(q2.count() == 1900)
      val plan2 = q2.queryExecution.executedPlan.toString
      assert(plan2.contains("GraftBucketedScan") && !plan2.contains("ColumnarToRow"),
        s"dv-carrying scan must take the row-view reader:\n$plan2")
      // the streaming source stays ROW mode by design: a batch crossing
      // a branch publish can add dv-CARRYING files whose live rows only
      // the ordinal-skipping row reader streams exactly
      val mb = new GraftTableMicroBatch(base,
        TableFormat.manifest(spark, base, 1).schema.get, 0, spark,
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      assert(!mb.createReaderFactory()
        .supportColumnarReads(GraftFilePartition("any", None)),
        "stream factory must keep the dv-capable row reader")
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
  }

  test("storage-partitioned join: co-bucketed tables SMJ with ZERO Exchange; dv and appends compose; flag off falls back (r12, VERDICT r11 #2)") {
    wh // force catalog registration
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    try {
      Seq("spj_a", "spj_b").foreach { t =>
        val p = new org.apache.hadoop.fs.Path(s"$wh/db/$t")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      spark.sql("""CREATE TABLE graft.db.spj_a (k BIGINT, v BIGINT)
                  |TBLPROPERTIES ('graft.bucket' = '4:k')""".stripMargin)
      spark.sql("""CREATE TABLE graft.db.spj_b (k BIGINT, w BIGINT)
                  |TBLPROPERTIES ('graft.bucket' = '4:k')""".stripMargin)
      spark.sql("INSERT INTO graft.db.spj_a SELECT id, id * 2 FROM range(2000)")
      spark.sql("INSERT INTO graft.db.spj_b SELECT id, id * 3 FROM range(1000)")
      // on-disk layout: one file per bucket per commit, bucket in the path
      val aEntries = TableFormat.manifestEntries(spark, s"$wh/db/spj_a",
        TableFormat.currentVersion(spark, s"$wh/db/spj_a"))
      assert(aEntries.size == 4, s"expected 4 per-bucket files, got ${aEntries.size}")
      assert(aEntries.forall(e => e.path.contains("__bkt=")), "bucket id missing from paths")
      def joined = spark.sql(
        """SELECT /*+ MERGE(b) */ a.k, a.v, b.w
          |FROM graft.db.spj_a a JOIN graft.db.spj_b b ON a.k = b.k""".stripMargin)
      val rows = joined.collect()
      assert(rows.length == 1000)
      assert(rows.map(_.getLong(1)).sum == (0L until 1000L).map(_ * 2).sum)
      val plan = {
        val d = joined; d.collect(); d.queryExecution.executedPlan.toString
      }
      assert(plan.contains("SortMergeJoin"), s"not an SMJ:\n$plan")
      // (the AQE string renders Final + Initial plans — 2 scans each)
      assert("GraftBucketedScan".r.findAllIn(plan).size >= 2,
        s"both sides must be bucketed scans:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed join still shuffles:\n$plan")
      // an APPEND adds one more file per bucket; the join stays aligned
      spark.sql("INSERT INTO graft.db.spj_b SELECT id + 1000, id FROM range(500)")
      assert(joined.collect().length == 1500)
      // a merge-on-read DELETE keeps bucket paths; scan applies the dv
      TableFormat.deleteRowsDV(spark, s"$wh/db/spj_b", col("k") < 10L)
      val afterDv = joined
      assert(afterDv.collect().length == 1490)
      assert(afterDv.queryExecution.executedPlan.toString.contains("GraftBucketedScan"),
        "dv-carrying bucketed snapshot lost the SPJ scan")
      // the reported partitioning ALSO serves aggregation: GROUP BY the
      // bucket key needs no Exchange — partial = final on bucket groups
      val agg = spark.sql(
        "SELECT k, count(1) AS n FROM graft.db.spj_a GROUP BY k")
      assert(agg.collect().length == 2000)
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(aggPlan.contains("GraftBucketedScan") && !aggPlan.contains("Exchange"),
        s"GROUP BY bucket key still shuffles:\n$aggPlan")
      // flag off: same query plans through the V1 (vectorized parquet) path
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val fallback = joined
      assert(fallback.collect().length == 1490)
      assert(!fallback.queryExecution.executedPlan.toString.contains("GraftBucketedScan"),
        "bucketed scan must be opt-in via spark.sql.sources.v2.bucketing.enabled")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
  }

  test("storage-partitioned join on STRING keys: doc_id-shaped tables SMJ with ZERO Exchange (r13, VERDICT r12 #4)") {
    wh
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    try {
      Seq("spj_sa", "spj_sb").foreach { t =>
        val p = new org.apache.hadoop.fs.Path(s"$wh/db/$t")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      spark.sql("""CREATE TABLE graft.db.spj_sa (doc_id STRING, n BIGINT)
                  |TBLPROPERTIES ('graft.bucket' = '4:doc_id')""".stripMargin)
      spark.sql("""CREATE TABLE graft.db.spj_sb (doc_id STRING, src STRING)
                  |TBLPROPERTIES ('graft.bucket' = '4:doc_id')""".stripMargin)
      spark.sql("""INSERT INTO graft.db.spj_sa
                  |SELECT concat('doc-', id), id FROM range(2000)""".stripMargin)
      spark.sql("""INSERT INTO graft.db.spj_sb
                  |SELECT concat('doc-', id), concat('s', id % 3) FROM range(1000)""".stripMargin)
      val aEntries = TableFormat.manifestEntries(spark, s"$wh/db/spj_sa",
        TableFormat.currentVersion(spark, s"$wh/db/spj_sa"))
      assert(aEntries.size == 4 && aEntries.forall(_.path.contains("__bkt=")),
        s"string-keyed layout: ${aEntries.map(_.path).mkString("\n")}")
      val joined = spark.sql(
        """SELECT /*+ MERGE(b) */ a.doc_id, a.n, b.src
          |FROM graft.db.spj_sa a JOIN graft.db.spj_sb b ON a.doc_id = b.doc_id""".stripMargin)
      val rows = joined.collect()
      assert(rows.length == 1000)
      assert(rows.map(_.getLong(1)).sum == (0L until 1000L).sum,
        "string-keyed SPJ mis-joined: bucket routing drift between sides")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"not an SMJ:\n$plan")
      assert("GraftBucketedScan".r.findAllIn(plan).size >= 2,
        s"both sides must be bucketed scans:\n$plan")
      assert(!plan.contains("Exchange"), s"co-bucketed string join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
  }

  test("REPLACE WHERE: one commit, out-of-range files carried by reference, leaking rows refused, time travel intact (r12)") {
    val base = s"$wh/db/rw_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base, (0L until 8000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(8))
    val v1Paths = TableFormat.manifestEntries(spark, base, 1).map(_.path).toSet
    spark.sql("SELECT id AS k, id * 100 AS v FROM range(1000, 1500)")
      .createOrReplaceTempView("rw_reload")
    spark.sql(
      """INSERT INTO graft.db.rw_spec REPLACE WHERE k BETWEEN 1000 AND 1999
        |SELECT * FROM rw_reload""".stripMargin)
    val v2 = TableFormat.currentVersion(spark, base)
    assert(v2 == 2, "REPLACE WHERE must be ONE commit")
    // out-of-range files carried by reference
    val v2Paths = TableFormat.manifestEntries(spark, base, v2).map(_.path).toSet
    // (range boundaries are sampled — the band can straddle 2-3 files)
    assert(v2Paths.intersect(v1Paths).size >= 5,
      s"expected distant files carried, got ${v2Paths.intersect(v1Paths).size}/8")
    // the region was REPLACED: [1000,2000) old rows gone, reload present
    assert(spark.sql("SELECT count(1) FROM graft.db.rw_spec").head.getLong(0) ==
      8000L - 1000L + 500L)
    val reg = spark.sql(
      "SELECT count(1) AS n, CAST(sum(v) AS BIGINT) AS s FROM graft.db.rw_spec " +
        "WHERE k BETWEEN 1000 AND 1999").head
    assert(reg.getLong(0) == 500L)
    assert(reg.getLong(1) == (1000L until 1500L).map(_ * 100).sum)
    // time travel to the pre-replace snapshot is intact
    assert(spark.sql("SELECT count(1) FROM graft.db.rw_spec VERSION AS OF 1")
      .head.getLong(0) == 8000L)
    // rows OUTSIDE the region are refused (the Delta replaceWhere check)
    val e = intercept[Exception] {
      spark.sql(
        """INSERT INTO graft.db.rw_spec REPLACE WHERE k BETWEEN 0 AND 9
          |SELECT id AS k, id AS v FROM range(0, 20)""".stripMargin)
    }
    assert(e.getMessage.contains("OUTSIDE the replaced region") ||
      Option(e.getCause).exists(_.getMessage.contains("OUTSIDE the replaced region")),
      s"expected the leak refusal, got: ${e.getMessage}")
    // and the refused write changed NOTHING
    assert(TableFormat.currentVersion(spark, base) == v2)
  }

  test("prefix pruning: LIKE 'p%' prunes string-clustered files via the successor bound (r13)") {
    // prefixSuccessor unit behavior first
    assert(GraftScanBuilder.prefixSuccessor("en") == Some("eo"))
    assert(GraftScanBuilder.prefixSuccessor("e\uffff") == Some("f"))
    assert(GraftScanBuilder.prefixSuccessor("\uffff") == None)
    val base = s"$wh/db/prefix_skip"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 2000L).map(i => (Seq("de", "en", "fr", "ja")((i % 4).toInt) + s"-${i % 7}", i))
        .toDF("lang", "doc_id"),
      1, None, statsCol = Some("lang"), clusterFiles = Some(4))
    val total = TableFormat.manifestEntries(spark, base, 1).size
    assert(total >= 2)
    val sb = new GraftScanBuilder(base, 1,
      TableFormat.manifest(spark, base, 1).schema.get, Seq("lang"), spark, 0)
    sb.pushFilters(Array(StringStartsWith("lang", "en")))
    assert(sb.keptEntries().size < total,
      s"kept ${sb.keptEntries().size} of $total — prefix predicate didn't prune")
    assert(spark.sql(
      "SELECT count(1) FROM graft.db.prefix_skip WHERE lang LIKE 'en-%'")
      .head.getLong(0) == 500)
  }

  test("exact IN-list pruning: files between sparse IN values skip (r13)") {
    val base = s"$wh/db/in_skip"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base,
      (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    val total = TableFormat.manifestEntries(spark, base, 1).size
    assert(total >= 4)
    val sb = new GraftScanBuilder(base, 1,
      TableFormat.manifest(spark, base, 1).schema.get, Seq("k"), spark, 0)
    // the envelope [10, 3990] spans every file; per-value membership
    // keeps only the two boundary files
    sb.pushFilters(Array(In("k", Array(10L, 3990L))))
    assert(sb.keptEntries().size == 2,
      s"kept ${sb.keptEntries().size} of $total — sparse IN didn't prune the gap")
    assert(spark.sql("SELECT count(1) FROM graft.db.in_skip WHERE k IN (10, 3990)")
      .head.getLong(0) == 2)
  }

  test("null-count pruning: IS [NOT] NULL and range predicates skip proven files (r13)") {
    val base = s"$wh/db/null_skip"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // nulls range-cluster first → one all-null file, three null-free
    val rows = (0 until 2000).map(i =>
      (if (i < 500) None else Some(i.toLong), s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None,
      statsCol = Some("k"), clusterFiles = Some(4))
    val entries = TableFormat.manifestEntries(spark, base, 1)
    val total = entries.size
    assert(entries.exists(e => e.nulls.exists(_ > 0) && e.rows.exists(r => e.nulls.contains(r))),
      s"test premise: need a proven all-null file, got ${entries.map(e => (e.nulls, e.rows))}")
    val schema = TableFormat.manifest(spark, base, 1).schema.get
    // IS NOT NULL skips the all-null file
    val sb1 = new GraftScanBuilder(base, 1, schema, Seq("k"), spark, 0)
    sb1.pushFilters(Array(IsNotNull("k")))
    assert(sb1.keptEntries().size < total, "IS NOT NULL didn't skip the all-null file")
    // a range predicate implies IS NOT NULL: the stat-less all-null file
    // (min/max ignore NULLs → no bounds) is skipped by its null proof
    val sb2 = new GraftScanBuilder(base, 1, schema, Seq("k"), spark, 0)
    sb2.pushFilters(Array(GreaterThanOrEqual("k", 1900L)))
    assert(sb2.keptEntries().size < total, "range didn't skip the all-null file")
    // IS NULL skips every proven null-free file
    val sb3 = new GraftScanBuilder(base, 1, schema, Seq("k"), spark, 0)
    sb3.pushFilters(Array(IsNull("k")))
    assert(sb3.keptEntries().size < total, "IS NULL didn't skip null-free files")
    // results stay exact through SQL
    assert(spark.sql("SELECT count(1) FROM graft.db.null_skip WHERE k IS NULL")
      .head.getLong(0) == 500)
    assert(spark.sql("SELECT count(1) FROM graft.db.null_skip WHERE k IS NOT NULL")
      .head.getLong(0) == 1500)
    assert(spark.sql("SELECT count(1) FROM graft.db.null_skip WHERE k >= 1900")
      .head.getLong(0) == 100)
  }

  test("partition evolution: set_clustering remaps stats; shared columns keep pruning (r13)") {
    val _ = wh
    val base = s"$wh/db/pevol"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("DROP TABLE IF EXISTS graft.db.pevol")
    spark.sql("CREATE TABLE graft.db.pevol (a BIGINT, b BIGINT, v STRING) PARTITIONED BY (a)")
    spark.sql("INSERT INTO graft.db.pevol SELECT id, (id * 7919) % 4000, concat('r', id) FROM range(0, 4000)")
    val v1 = TableFormat.currentVersion(spark, base)
    val total = TableFormat.manifestEntries(spark, base, v1).size
    assert(total >= 2 && TableFormat.manifest(spark, base, v1).statsCols == Seq("a"))
    // evolve: b leads, a stays declared
    val r = spark.sql("CALL graft.system.set_clustering('db.pevol', 'b,a')").head
    val v2 = r.getInt(0)
    assert(r.getInt(1) == 1, "one column (a) carried over")
    assert(TableFormat.manifest(spark, base, v2).statsCols == Seq("b", "a"))
    // a's bounds survived the remap IN THE NEW SLOT: pruning on a never blinks
    val sb = new GraftScanBuilder(base, v2,
      TableFormat.manifest(spark, base, v2).schema.get, Seq("b", "a"), spark, 0)
    sb.pushFilters(Array(GreaterThanOrEqual("a", 100L), LessThanOrEqual("a", 200L)))
    assert(sb.keptEntries().size < total,
      s"kept ${sb.keptEntries().size} of $total — remapped bounds didn't prune")
    // b is newly declared: unknown bounds on old files → no pruning, never wrong
    val sb2 = new GraftScanBuilder(base, v2,
      TableFormat.manifest(spark, base, v2).schema.get, Seq("b", "a"), spark, 0)
    sb2.pushFilters(Array(GreaterThanOrEqual("b", 100L), LessThanOrEqual("b", 200L)))
    assert(sb2.keptEntries().size == total, "unknown bounds must read, not prune")
    assert(spark.sql(
      "SELECT count(1) FROM graft.db.pevol WHERE a BETWEEN 100 AND 200").head.getLong(0) == 101)
    // new INSERTs collect bounds under the NEW declaration: b leads
    spark.sql("INSERT INTO graft.db.pevol SELECT id, id, concat('n', id) FROM range(4000, 8000)")
    val v3 = TableFormat.currentVersion(spark, base)
    val newEntries = TableFormat.manifestEntries(spark, base, v3)
      .filterNot(TableFormat.manifestEntries(spark, base, v2).toSet)
    assert(newEntries.nonEmpty && newEntries.forall(e =>
      e.lo.isDefined && e.hi.isDefined && e.statsAt(1)._1.isDefined),
      s"post-evolution insert missing new-declaration bounds: $newEntries")
    assert(spark.sql("SELECT count(1) FROM graft.db.pevol").head.getLong(0) == 8000)
    // a non-existent column refuses loudly
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.set_clustering('db.pevol', 'nope')").collect()
    }
    assert(e.getMessage.contains("not in the table schema"), e.getMessage)
  }

  test("MERGE WITH SCHEMA EVOLUTION: a source's new column widens the target add-only; time travel keeps the narrow schema (r14, VERDICT r13 #3)") {
    val _ = wh
    import spark.implicits._
    for ((tbl, props) <- Seq(
        ("mev_cow", ""),
        ("mev_mor", " TBLPROPERTIES ('merge.mode' = 'merge-on-read')"))) {
      val base = s"$wh/db/$tbl"
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      spark.sql(s"DROP TABLE IF EXISTS graft.db.$tbl")
      spark.sql(s"CREATE TABLE graft.db.$tbl (k BIGINT, v BIGINT) PARTITIONED BY (k)$props")
      spark.sql(s"INSERT INTO graft.db.$tbl SELECT id, id FROM range(0, 10)")
      Seq((5L, 50L, "x5"), (12L, 120L, "x12")).toDF("k", "v", "tag")
        .createOrReplaceTempView("mev_src")
      // WITHOUT the clause: assigning the unknown column fails analysis
      // and nothing evolves — no silent schema drift (a plain star
      // merge ignores extra source columns by Spark semantics)
      intercept[Exception] {
        spark.sql(s"""MERGE INTO graft.db.$tbl t USING mev_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag""").collect()
      }
      assert(spark.table(s"graft.db.$tbl").schema.fieldNames.toSeq == Seq("k", "v"))
      val preMergeV = TableFormat.currentVersion(spark, base)
      spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.db.$tbl t USING mev_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      val out = spark.sql(s"SELECT k, v, tag FROM graft.db.$tbl ORDER BY k").collect()
      assert(out.length == 11, s"$tbl: ${out.length}")
      assert(out.find(_.getLong(0) == 5L).get.getString(2) == "x5", tbl)
      assert(out.find(_.getLong(0) == 5L).get.getLong(1) == 50L, tbl)
      assert(out.find(_.getLong(0) == 12L).get.getString(2) == "x12", tbl)
      // untouched pre-evolution rows project NULL for the new column
      assert(out.find(_.getLong(0) == 0L).get.isNullAt(2), tbl)
      // time travel to the pre-merge version reads the NARROW schema
      val old = spark.sql(s"SELECT * FROM graft.db.$tbl VERSION AS OF $preMergeV")
      assert(old.schema.fieldNames.toSeq == Seq("k", "v"), tbl)
      assert(old.count() == 10, tbl)
      // RETYPE refusal: a source whose `tag` conflicts with the now-
      // existing STRING column must refuse, never silently rewrite
      Seq((1L, 1L, 9L)).toDF("k", "v", "tag").createOrReplaceTempView("mev_src2")
      intercept[Exception] {
        spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.db.$tbl t USING mev_src2 s
          ON t.k = s.k WHEN MATCHED THEN UPDATE SET *""").collect()
      }
      assert(spark.table(s"graft.db.$tbl").schema("tag").dataType ==
        org.apache.spark.sql.types.StringType, tbl)
    }
    // the merge-on-read variant must not have rewritten the seed data
    // files: evolution + MoR merge are metadata + delta only
    val morBase = s"$wh/db/mev_mor"
    val seedFiles = TableFormat.manifestFiles(spark, morBase, 2).toSet
    val curFiles = TableFormat.manifestFiles(spark, morBase,
      TableFormat.currentVersion(spark, morBase)).toSet
    assert(seedFiles.subsetOf(curFiles),
      "MoR evolution merge must carry seed files by reference")
  }

  test("graft_table_manifest TVF: the commit log's delta/checkpoint shape (r13)") {
    val base = s"$wh/db/mlog_tvf"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 1, None)
    TableFormat.appendCommit(spark, base, Seq((3L, "c")).toDF("id", "v"))
    TableFormat.appendCommit(spark, base, Seq((4L, "d")).toDF("id", "v"))
    TableManifestTvf.register(spark)
    val rows = spark.sql(
      "SELECT * FROM graft_table_manifest('db.mlog_tvf') ORDER BY version").collect()
    assert(rows.length == 3)
    assert(!rows(0).getAs[Boolean]("is_delta") && rows(0).getAs[Int]("delta_depth") == 0)
    assert(rows(1).getAs[Boolean]("is_delta") && rows(1).getAs[Int]("delta_depth") == 1)
    assert(rows(2).getAs[Boolean]("is_delta") && rows(2).getAs[Int]("delta_depth") == 2)
    // delta script ∝ the change, resolved entries ∝ the snapshot
    assert(rows(2).getAs[Int]("script_lines") ==
      rows(2).getAs[Int]("entries") - rows(1).getAs[Int]("entries"))
    assert(rows(2).getAs[Long]("manifest_bytes") < rows(0).getAs[Long]("manifest_bytes") +
      rows(1).getAs[Long]("manifest_bytes"),
      "a delta manifest must be smaller than restating the log")
    assert(rows.map(_.getAs[String]("op")).toSeq == Seq("replace", "append", "append"))
    // format column (r14): small full manifests are text, deltas delta;
    // ≥64-entry checkpoints report parquet-checkpoint (TableFormatSpec)
    assert(rows.map(_.getAs[String]("format")).toSeq == Seq("text", "delta", "delta"))
  }

  test("graft_table_files TVF: per-file inventory with live rows, bytes, bucket ids and dv pointers (r12)") {
    val base = s"$wh/db/files_tvf"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base, (0L until 4000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.deleteRowsDV(spark, base, col("k") % 40L === 1L) // 100 rows, dv
    TableFilesTvf.register(spark)
    val rows = spark.sql(
      "SELECT * FROM graft_table_files('db.files_tvf')").collect()
    val entries = TableFormat.manifestEntries(spark, base, 2)
    assert(rows.length == entries.size)
    assert(rows.map(_.getAs[Long]("rows")).sum == 4000L)
    assert(rows.map(_.getAs[Long]("live_rows")).sum == 3900L, "dv not reflected")
    assert(rows.forall(_.getAs[Long]("size_bytes") > 0))
    assert(rows.forall(_.getAs[Boolean]("has_bounds")))
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("bucket"))),
      "unbucketed files must report NULL bucket")
    assert(rows.exists(!_.isNullAt(rows.head.fieldIndex("dv_path"))))
    // version argument: the pre-delete snapshot has no dv pointers
    val v1 = spark.sql(
      "SELECT * FROM graft_table_files('db.files_tvf', 1)").collect()
    assert(v1.forall(_.isNullAt(v1.head.fieldIndex("dv_path"))))
    assert(v1.map(_.getAs[Long]("live_rows")).sum == 4000L)
    // bucketed table: bucket ids populate
    val b2 = s"$wh/db/files_tvf_b"
    val p2 = new org.apache.hadoop.fs.Path(b2)
    p2.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p2, true)
    spark.sql("""CREATE TABLE graft.db.files_tvf_b (k BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.bucket' = '4:k')""".stripMargin)
    spark.sql("INSERT INTO graft.db.files_tvf_b SELECT id, id FROM range(400)")
    val bk = spark.sql(
      "SELECT bucket FROM graft_table_files('db.files_tvf_b')").collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(bk == Seq(0, 1, 2, 3), s"bucket ids wrong: $bk")
    // string-clustered tables report their (string-slot) bounds as
    // present (r12 review: the numeric-only check read a healthy
    // lang-clustered index as broken)
    val b3 = s"$wh/db/files_tvf_s"
    val p3 = new org.apache.hadoop.fs.Path(b3)
    p3.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p3, true)
    TableFormat.commit(spark, b3,
      (0L until 800L).map(i => (Seq("de", "en", "fr", "ja")((i % 4).toInt), i))
        .toDF("lang", "doc_id"),
      1, None, statsCol = Some("lang"), clusterFiles = Some(4))
    val sb = spark.sql(
      "SELECT has_bounds FROM graft_table_files('db.files_tvf_s')").collect()
    assert(sb.nonEmpty && sb.forall(_.getBoolean(0)),
      "string-clustered files must report has_bounds = true")
  }

  test("bucket routing parity: SQL hash expr, V2 bucket function, and the executor writer agree on every key (r12 property)") {
    // three independent implementations route rows: the batch write's
    // pmod(hash(k), n) Column expr, the FunctionCatalog's bucket()
    // (what SPJ compatibility and the v2 bucketing shuffle evaluate),
    // and the streaming/row-level writer's inline murmur3. Silent drift
    // between any two would mis-join co-bucketed tables.
    import org.apache.spark.sql.catalyst.InternalRow
    val rnd = new scala.util.Random(3)
    val keys = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue) ++
      (0 until 200).map(_ => rnd.nextLong())
    Seq(1, 4, 32, 257).foreach { n =>
      val viaExpr = spark.createDataFrame(
          keys.map(k => Tuple1(k))).toDF("k")
        .select(col("k"), pmod(hash(col("k")), lit(n)).as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val bound = GraftBucketFunction.bind(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
      keys.foreach { k =>
        val f = bound.produceResult(InternalRow(n, k)).intValue
        assert(f == viaExpr(k),
          s"V2 bucket($n, $k) = $f but the write expr routes to ${viaExpr(k)}")
        // the executor writer's routing (same arithmetic, inline)
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(k, 42)
        val w = ((h % n) + n) % n
        assert(w == viaExpr(k), s"writer bucket($n, $k) = $w vs expr ${viaExpr(k)}")
      }
    }
    // int keys route identically through hashInt
    val intKeys = Seq(0, 7, -7, Int.MaxValue, Int.MinValue)
    val viaExprI = spark.createDataFrame(intKeys.map(k => Tuple1(k))).toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(8)).as("b"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    intKeys.foreach { k =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42)
      assert(((h % 8) + 8) % 8 == viaExprI(k), s"int key $k drifts")
    }
    // STRING keys (r13, VERDICT r12 #4): doc_id-shaped corpus keys route
    // identically through all three implementations — empty string,
    // ASCII, multi-byte UTF-8, and random hex ids
    val rnd2 = new scala.util.Random(13)
    val strKeys = Seq("", "a", "doc-000017", "naïve-文書-🙂") ++
      (0 until 200).map(_ => rnd2.alphanumeric.take(1 + rnd2.nextInt(24)).mkString)
    Seq(4, 32, 257).foreach { n =>
      val viaExprS = spark.createDataFrame(strKeys.map(k => Tuple1(k))).toDF("k")
        .select(col("k"), pmod(hash(col("k")), lit(n)).as("b"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      val boundS = GraftBucketFunction.bind(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType))))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
      strKeys.foreach { k =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(k)
        val f = boundS.produceResult(InternalRow(n, u)).intValue
        assert(f == viaExprS(k),
          s"V2 bucket($n, '$k') = $f but the write expr routes to ${viaExprS(k)}")
        val w = GraftBucketRouting.of(org.apache.spark.sql.types.StringType,
          InternalRow(n, u), 1, n)
        assert(w == viaExprS(k), s"writer bucket($n, '$k') = $w vs expr ${viaExprS(k)}")
      }
    }
  }

  test("bucketed layout survives row-level rewrites and the streaming sink (r12)") {
    // UPDATE through the group-based rewrite: staged files keep __bkt=
    val base = s"$wh/db/spj_rl"
    val p0 = new org.apache.hadoop.fs.Path(base)
    p0.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p0, true)
    spark.sql("""CREATE TABLE graft.db.spj_rl (k BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.bucket' = '4:k')""".stripMargin)
    spark.sql("INSERT INTO graft.db.spj_rl SELECT id, id FROM range(2000)")
    spark.sql("UPDATE graft.db.spj_rl SET v = v + 1000000 WHERE k BETWEEN 100 AND 199")
    val entries = TableFormat.manifestEntries(spark, base,
      TableFormat.currentVersion(spark, base))
    assert(entries.forall(_.path.contains("__bkt=")),
      s"row-level rewrite staged unbucketed files:\n${entries.map(_.path).mkString("\n")}")
    assert(spark.sql("SELECT count(1) FROM graft.db.spj_rl WHERE v >= 1000000")
      .head.getLong(0) == 100L)
    // MERGE keeps the layout too
    spark.sql("SELECT id AS k, id * 7 AS v FROM range(1990, 2010)")
      .createOrReplaceTempView("spj_rl_src")
    spark.sql(
      """MERGE INTO graft.db.spj_rl t USING spj_rl_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val entries2 = TableFormat.manifestEntries(spark, base,
      TableFormat.currentVersion(spark, base))
    assert(entries2.forall(_.path.contains("__bkt=")),
      "MERGE rewrite staged unbucketed files")
    assert(spark.sql("SELECT count(1) FROM graft.db.spj_rl").head.getLong(0) == 2010L)
    // SQL DELETE (SupportsDelete → CoW deleteRows) keeps the layout too
    // (r12 review: the delete path staged plain files and silently
    // demoted the table off SPJ)
    spark.sql("DELETE FROM graft.db.spj_rl WHERE k BETWEEN 300 AND 349")
    val entries3 = TableFormat.manifestEntries(spark, base,
      TableFormat.currentVersion(spark, base))
    assert(entries3.forall(_.path.contains("__bkt=")),
      "CoW DELETE staged unbucketed files")
    assert(spark.sql("SELECT count(1) FROM graft.db.spj_rl").head.getLong(0) == 1960L)
    // the streaming sink routes per-bucket files as well
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base2 = s"$wh/db/spj_sink"
    val p2 = new org.apache.hadoop.fs.Path(base2)
    p2.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p2, true)
    spark.sql("""CREATE TABLE graft.db.spj_sink (k BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.bucket' = '4:k')""".stripMargin)
    val ck = freshBase("spj_sink_ck")
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF.toDF("k", "v").writeStream.format("graft-table")
      .option("path", base2).option("checkpointLocation", ck).start()
    try {
      mem.addData((0L until 200L).map(i => (i, i * 2)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val sinkEntries = TableFormat.manifestEntries(spark, base2,
      TableFormat.currentVersion(spark, base2))
    assert(sinkEntries.nonEmpty &&
      sinkEntries.forall(_.path.contains("__bkt=")),
      s"streaming sink staged unbucketed files:\n${sinkEntries.map(_.path).mkString("\n")}")
    assert(spark.sql("SELECT count(1) FROM graft.db.spj_sink").head.getLong(0) == 200L)
    // and the streamed table still storage-partition-joins exchange-free
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.sql(
        """SELECT /*+ MERGE(b) */ a.k FROM graft.db.spj_sink a
          |JOIN graft.db.spj_rl b ON a.k = b.k""".stripMargin)
      assert(j.collect().length == 200)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("GraftBucketedScan") && !plan.contains("Exchange"),
        s"streamed bucketed table lost SPJ:\n$plan")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
  }

  test("REPLACE WHERE hardening: untranslatable conjuncts refuse (never widen), stale-snapshot commits conflict loudly (r12 review)") {
    val base = s"$wh/db/rw_hard"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TableFormat.commit(spark, base, (0L until 1000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"))
    // NOT k = 5 has no source-filter translation: dropping it would
    // WIDEN the replaced region and delete row k=5 the user excluded —
    // the write must refuse, not guess
    val e = intercept[Exception] {
      spark.sql(
        """INSERT INTO graft.db.rw_hard REPLACE WHERE k < 100 AND NOT k = 5
          |SELECT id AS k, id AS v FROM range(0, 100) WHERE id <> 5""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("cannot translate")),
      s"expected the translation refusal, got: ${msgs(e).mkString(" | ")}")
    assert(TableFormat.currentVersion(spark, base) == 1, "refusal must commit nothing")
    assert(spark.sql("SELECT count(1) FROM graft.db.rw_hard").head.getLong(0) == 1000L)
    // a commit landing between the caller's scan and the replace commit
    // must CONFLICT, not silently carry the concurrent files past the
    // replace: anchor at a stale snapshot and watch the CAS refuse
    val staleEntries = TableFormat.manifestEntries(spark, base, 1)
    TableFormat.appendCommit(spark, base,
      Seq((5000L, 5000L)).toDF("k", "v"), statsCol = Some("k")) // v2 lands
    intercept[TableFormat.CommitConflictException] {
      TableFormat.replaceWhereCommit(spark, base,
        Seq((10L, 99L)).toDF("k", "v"), col("k") === 10L,
        staleEntries.filter(_.mayMatch(10L, 10L)), basedOnVersion = 1)
    }
    assert(spark.sql("SELECT count(1) FROM graft.db.rw_hard").head.getLong(0) == 1001L,
      "conflicted replace must leave the table untouched")
  }

  test("graft.bloom: declared columns carry parquet split-block bloom filters, others don't; point lookups exact (r12)") {
    val base = s"$wh/db/bloom_t"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.bloom_t (k BIGINT, v BIGINT, w STRING)
        |PARTITIONED BY (k)
        |TBLPROPERTIES ('graft.bloom' = 'v')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.db.bloom_t
        |SELECT id, (id * 37) % 100000, concat('s', id) FROM range(20000)""".stripMargin)
    val v = TableFormat.currentVersion(spark, base)
    val entries = TableFormat.manifestEntries(spark, base, v)
    assert(entries.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    entries.foreach { e =>
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(e.path), conf))
      try {
        import scala.jdk.CollectionConverters._
        val cols = fr.getFooter.getBlocks.asScala.head.getColumns.asScala
        def offset(name: String): Long =
          cols.find(_.getPath.toDotString == name).get.getBloomFilterOffset
        assert(offset("v") >= 0, s"${e.path}: declared bloom column v has no filter")
        assert(offset("k") < 0, s"${e.path}: undeclared column k grew a filter")
      } finally fr.close()
    }
    // point lookups stay exact through the filtered read path
    assert(spark.sql("SELECT count(1) FROM graft.db.bloom_t WHERE v = 37")
      .head.getLong(0) ==
      (0L until 20000L).count(i => (i * 37) % 100000 == 37).toLong)
    assert(spark.sql("SELECT count(1) FROM graft.db.bloom_t WHERE v = 99999999")
      .head.getLong(0) == 0L)
  }

  test("optimize_bucket converts an existing table in one commit; compact preserves the bucket layout (r12)") {
    val base = s"$wh/db/spj_conv"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql("CREATE TABLE graft.db.spj_conv (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.db.spj_conv SELECT id, id * 2 FROM range(2000)")
    val r = spark.sql(
      "CALL graft.system.optimize_bucket('db.spj_conv', 4, 'k')").head
    assert(r.getInt(1) == 4, s"expected 4 per-bucket files, got ${r.getInt(1)}")
    val v = r.getInt(0)
    val entries = TableFormat.manifestEntries(spark, base, v)
    assert(entries.forall(_.path.contains("__bkt=")), "conversion lost bucket paths")
    // layout + property land ATOMICALLY in the same commit
    assert(TableFormat.manifest(spark, base, v).props.get("graft.bucket")
      .contains("4:k"), "graft.bucket not declared by the conversion commit")
    assert(TableFormat.manifest(spark, base, v).op.contains("optimize"))
    // trickle ingest then compact: consolidation must PRESERVE the layout
    spark.sql("INSERT INTO graft.db.spj_conv SELECT id + 2000, id FROM range(40)")
    spark.sql("INSERT INTO graft.db.spj_conv SELECT id + 2040, id FROM range(40)")
    val (v2, compacted) = TableFormat.compact(spark, base, Long.MaxValue / 2)
    assert(compacted > 0)
    val after = TableFormat.manifestEntries(spark, base, v2)
    assert(after.size == 4, s"bucket-aware compact should emit 4 files, got ${after.size}")
    assert(after.forall(_.path.contains("__bkt=")), "compaction destroyed the bucket layout")
    // the compacted table still storage-partition-joins exchange-free
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val joined = spark.sql(
        """SELECT /*+ MERGE(b) */ a.k FROM graft.db.spj_conv a
          |JOIN graft.db.spj_conv b ON a.k = b.k""".stripMargin)
      assert(joined.collect().length == 2080)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("GraftBucketedScan") && !plan.contains("Exchange"),
        s"post-compact bucketed self-join shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
    // optimize paths that would break the layout refuse loudly
    val e = intercept[IllegalArgumentException] {
      TableFormat.optimizeIncremental(spark, base)
    }
    assert(e.getMessage.contains("bucket"), e.getMessage)
    // renaming the bucket key re-points graft.bucket in the SAME commit —
    // the reported partitioning keeps resolving and SPJ survives
    spark.sql("ALTER TABLE graft.db.spj_conv RENAME COLUMN k TO kk")
    val vR = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, vR).props.get("graft.bucket")
      .contains("4:kk"), "rename did not re-point the bucket declaration")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j2 = spark.sql(
        """SELECT /*+ MERGE(b) */ a.kk FROM graft.db.spj_conv a
          |JOIN graft.db.spj_conv b ON a.kk = b.kk""".stripMargin)
      assert(j2.collect().length == 2080)
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
        "SPJ lost across the bucket-key rename")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
    // dropping the bucket key refuses with the cure named
    val e2 = intercept[IllegalArgumentException] {
      TableFormat.alterDropCommit(spark, base, "kk")
    }
    assert(e2.getMessage.contains("bucket key"), e2.getMessage)
  }

  test("merge-on-read DELETE via the delta path: non-translatable predicate, zero rewrites, pruned scan (r13)") {
    val base = s"$wh/db/mord"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.mord (k BIGINT, a BIGINT, b BIGINT, c STRING)
        |PARTITIONED BY (k)
        |TBLPROPERTIES ('delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("""INSERT INTO graft.db.mord
                |SELECT id, id * 2, id * 3, concat('x', id) FROM range(4000)""".stripMargin)
    val v1Paths = TableFormat.manifestEntries(spark, base, 2).map(_.path).toSet
    // % is NOT a SupportsDelete-translatable filter → Spark falls to the
    // row-level op, which merge-on-read routes through the DELTA scan
    spark.sql("DELETE FROM graft.db.mord WHERE k % 10 = 3")
    val vNow = TableFormat.currentVersion(spark, base)
    val entries = TableFormat.manifestEntries(spark, base, vNow)
    assert(entries.map(_.path).toSet == v1Paths,
      "non-translatable MoR DELETE must keep every data file by path")
    assert(entries.exists(_.dv.isDefined), "the delete must land as a dv")
    assert(TableFormat.history(spark, base).last._2 == "delete_dv")
    assert(spark.sql("SELECT count(1) FROM graft.db.mord").head.getLong(0) == 3600L)
    assert(spark.sql("SELECT count(1) FROM graft.db.mord WHERE k % 10 = 3")
      .head.getLong(0) == 0L)
    // the delta scan pruned: a DELETE needs the condition column + row
    // id, never the whole row (b and c must not be read)
    val sb = new GraftDeltaScanBuilder(base, vNow,
      spark.table("graft.db.mord").schema, spark)
    sb.pruneColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
    assert(sb.readSchema().fieldNames.toSeq == Seq("k", "_file", "_pos"),
      sb.readSchema().treeString)
  }

  test("merge-on-read UPDATE: zero data files rewritten, dv + postimage in one commit, CDF pairs update images (r13, VERDICT r12 #2)") {
    val base = s"$wh/db/mor_upd"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.mor_upd (k BIGINT, grp BIGINT, v BIGINT,
        |  CONSTRAINT mor_pk PRIMARY KEY (k) NOT ENFORCED)
        |PARTITIONED BY (k)
        |TBLPROPERTIES ('update.mode' = 'merge-on-read',
        |               'merge.mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.db.mor_upd SELECT id, id % 10, id FROM range(40000)")
    val v1 = TableFormat.currentVersion(spark, base)
    val before = TableFormat.manifestEntries(spark, base, v1)
    assert(before.size >= 2, s"test premise: need multiple files, got ${before.size}")
    val beforePaths = before.map(_.path).toSet
    // SCATTERED NARROW UPDATE: every 500th row, touching most files
    spark.sql("UPDATE graft.db.mor_upd SET v = v + 1000000 WHERE k % 500 = 0")
    val v2 = TableFormat.currentVersion(spark, base)
    assert(v2 == v1 + 1, "update must be ONE commit")
    val after = TableFormat.manifestEntries(spark, base, v2)
    // THE r13 claim: every original data file survives BY PATH (zero
    // rewrites); changed rows live in a dv + a small postimage append
    assert(beforePaths.subsetOf(after.map(_.path).toSet),
      "merge-on-read UPDATE rewrote existing data files")
    val withDv = after.filter(e => beforePaths(e.path) && e.dv.isDefined)
    assert(withDv.nonEmpty, "no deletion vectors attached — did this run CoW?")
    val postimage = after.filterNot(e => beforePaths(e.path))
    assert(postimage.nonEmpty, "no postimage files appended")
    assert(postimage.flatMap(_.rows).sum == 80L,
      s"postimage row count: ${postimage.flatMap(_.rows).sum} (expected 80)")
    // history records the op
    assert(TableFormat.manifest(spark, base, v2).op.contains("update_mor"))
    // reads exact: updated rows show, originals don't resurrect
    assert(spark.sql("SELECT count(1) FROM graft.db.mor_upd").head.getLong(0) == 40000L)
    assert(spark.sql(
      "SELECT count(1) FROM graft.db.mor_upd WHERE v >= 1000000").head.getLong(0) == 80L)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.db.mor_upd WHERE k % 500 = 0").head.getLong(0) ==
      (0L until 40000L by 500L).map(_ + 1000000L).sum)
    // time travel reads the pre-update state
    assert(spark.sql(
      s"SELECT count(1) FROM graft.db.mor_upd VERSION AS OF $v1 WHERE v >= 1000000")
      .head.getLong(0) == 0L)
    // CDF: the PK pairs the commit's dv-deletes with its postimages
    val cdf = TableFormat.readChanges(spark, base, v1, v2)
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("update_preimage", 0L) == 80L, s"cdf: $byType")
    assert(byType.getOrElse("update_postimage", 0L) == 80L, s"cdf: $byType")
    assert(!byType.contains("insert") && !byType.contains("delete"), s"cdf: $byType")
    // a MoR MERGE over the same table: matched update + not-matched insert
    spark.range(39998L, 40002L).selectExpr("id AS k", "id % 10 AS grp", "id * 2 AS v")
      .createOrReplaceTempView("mor_src")
    spark.sql(
      """MERGE INTO graft.db.mor_upd t USING mor_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, grp, v) VALUES (s.k, s.grp, s.v)""".stripMargin)
    val v3 = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, v3).op.contains("merge_mor"))
    assert(after.map(_.path).toSet.subsetOf(
      TableFormat.manifestEntries(spark, base, v3).map(_.path).toSet),
      "merge-on-read MERGE rewrote existing data files")
    assert(spark.sql("SELECT count(1) FROM graft.db.mor_upd").head.getLong(0) == 40002L)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.db.mor_upd WHERE k >= 39998").head.getLong(0) ==
      (39998L until 40002L).map(_ * 2L).sum)
  }

  test("merge-on-read UPDATE/MERGE while equality deletes are outstanding auto-resolve first — no silent un-delete (r16, ADVICE r15 #1)") {
    val base = s"$wh/db/mor_eq"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(
      """CREATE TABLE graft.db.mor_eq (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('update.mode' = 'merge-on-read',
        |               'merge.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.db.mor_eq SELECT id, id FROM range(100)")
    TableFormat.deleteByKeysEq(spark, base, Seq(5L, 10L).toDF("k"), "k")
    assert(TableFormat.manifest(spark, base,
      TableFormat.currentVersion(spark, base)).eqDels.nonEmpty)
    // the UPDATE predicate COVERS the masked keys: pre-fix, the delta
    // scan (dv-aware only) read k=5/k=10 as live and re-inserted their
    // post-images under a fresh addedV — scoping them out of every
    // outstanding delete, a silent un-delete surviving resolve_eqdel.
    // Post-fix: the catalog auto-resolves, THEN runs the MoR update.
    spark.sql("UPDATE graft.db.mor_eq SET v = v + 1000 WHERE k < 20")
    val v = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, v).eqDels.isEmpty,
      "outstanding eqdels must be resolved before a MoR update")
    assert(TableFormat.manifest(spark, base, v).op.contains("update_mor"))
    assert(TableFormat.manifest(spark, base, v - 1).op.contains("eqdel_resolve"))
    val got = spark.sql("SELECT k, v FROM graft.db.mor_eq WHERE k < 20")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(5L) && !got.contains(10L), s"masked rows resurrected: $got")
    assert(got == (0L until 20L).filterNot(Set(5L, 10L))
      .map(i => i -> (i + 1000L)).toMap)
    assert(spark.sql("SELECT count(1) FROM graft.db.mor_eq").head.getLong(0) == 98L)
    // MERGE over a fresh outstanding delete: the masked key arrives as a
    // NOT MATCHED insert (a legitimate re-insert AFTER the delete), not
    // as a resurrected MATCHED update
    TableFormat.deleteByKeysEq(spark, base, Seq(30L).toDF("k"), "k")
    Seq((30L, -30L), (31L, -31L)).toDF("k", "v")
      .createOrReplaceTempView("mor_eq_src")
    spark.sql(
      """MERGE INTO graft.db.mor_eq t USING mor_eq_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val v2 = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, v2).eqDels.isEmpty)
    assert(TableFormat.manifest(spark, base, v2).op.contains("merge_mor"))
    val got2 = spark.sql("SELECT k, v FROM graft.db.mor_eq WHERE k IN (30, 31)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(30L -> -30L, 31L -> -31L), got2.toString)
    assert(spark.sql("SELECT count(1) FROM graft.db.mor_eq").head.getLong(0) == 98L)
    // MoR DELETE still COMPOSES without forcing a resolve (dv-deleting
    // an already-masked row is idempotent — the zero-resolve fast path)
    TableFormat.deleteByKeysEq(spark, base, Seq(40L).toDF("k"), "k")
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try spark.sql("DELETE FROM graft.db.mor_eq WHERE k = 41")
    finally spark.conf.unset("spark.graft.delete.mode")
    val v3 = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, v3).eqDels.nonEmpty,
      "MoR DELETE must not force a resolve")
    assert(spark.sql("SELECT count(1) FROM graft.db.mor_eq WHERE k IN (40, 41)")
      .head.getLong(0) == 0L)
    assert(spark.sql("SELECT count(1) FROM graft.db.mor_eq").head.getLong(0) == 96L)
  }
}

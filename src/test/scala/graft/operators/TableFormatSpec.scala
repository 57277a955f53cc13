package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the snapshot table format's commit protocol: manifest-scoped
  * reads (orphan immunity), time travel, append reuse of parent files,
  * and pointer resolution. */
class TableFormatSpec extends SparkTestBase {
  import spark.implicits._

  private def freshBase(name: String): String = {
    val base = s"${graft.Tables.scratchDir}/$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  test("append commit reuses parent files; both versions stay readable (time travel)") {
    val base = freshBase("tf_basic")
    TableFormat.commit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 1, None)
    TableFormat.commit(spark, base, Seq((3L, "c")).toDF("id", "v"), 2, Some(1))
    assert(TableFormat.currentVersion(spark, base) == 2)
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 2)
    assert(TableFormat.readSnapshot(spark, base).count() == 3) // pointer → v2
    // v2's manifest NAMES v1's files (append moved no data)
    val f1 = TableFormat.manifestFiles(spark, base, 1).toSet
    val f2 = TableFormat.manifestFiles(spark, base, 2).toSet
    assert(f1.subsetOf(f2) && f2.size > f1.size)
  }

  test("orphan data files are invisible: manifest-scoped read vs directory read") {
    val base = freshBase("tf_orphan")
    TableFormat.commit(spark, base, Seq((1L, "a")).toDF("id", "v"), 1, None)
    // a failed/concurrent writer leaves an orphan under data/ — exactly
    // what a directory-listing reader would wrongly pick up
    Seq((99L, "orphan")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$base/data/c_failed_job")
    val viaManifest = TableFormat.readSnapshot(spark, base).collect()
    assert(viaManifest.map(_.getLong(0)).toSeq == Seq(1L),
      "manifest read leaked an uncommitted file")
    val viaDirectory = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/data").count()
    assert(viaDirectory == 2, "test premise: the orphan IS on disk")
  }

  test("snapshot isolation: a reader's plan pinned to v1 is unaffected by a later commit") {
    val base = freshBase("tf_iso")
    TableFormat.commit(spark, base, Seq((1L, "a")).toDF("id", "v"), 1, None)
    val pinned = TableFormat.readSnapshot(spark, base, Some(1)) // resolves files NOW
    TableFormat.commit(spark, base, Seq((2L, "b")).toDF("id", "v"), 2, Some(1))
    assert(pinned.count() == 1) // still v1's file list
    assert(TableFormat.readSnapshot(spark, base).count() == 2)
  }

  test("file skipping: stats prune files, results equal the unpruned filter") {
    val base = freshBase("tf_skip")
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val (df, (read, total)) = TableFormat.readSnapshotWhere(spark, base, "k", 100L, 300L)
    assert(total >= 2, s"test premise: range clustering must emit several files, got $total")
    assert(read < total, s"no files skipped: read $read of $total")
    assert(df.count() == 201) // stats prune FILES; the row filter is exact
    // an out-of-domain range reads nothing
    val (dfNone, (read0, _)) = TableFormat.readSnapshotWhere(spark, base, "k", 900000L, 900001L)
    assert(read0 == 0 && dfNone.count() == 0)
  }

  test("files without stats are always read (correct, never fast-and-wrong)") {
    val base = freshBase("tf_nostats")
    TableFormat.commit(spark, base, Seq((1L, "a"), (500L, "b")).toDF("k", "v"), 1, None)
    val (df, (read, total)) = TableFormat.readSnapshotWhere(spark, base, "k", 0L, 10L)
    assert(read == total, "stats-less files must never be skipped")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("exactly-once sink: a replayed micro-batch is a no-op commit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = freshBase("tf_once")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .foreachBatch(TableFormat.exactlyOnceBatch(base) _)
      .outputMode("append").start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(TableFormat.readSnapshot(spark, base).count() == 3)
    // simulate an at-least-once redelivery of batch 1 (failure before the
    // checkpoint advanced): same batchId, same data — must change nothing
    TableFormat.exactlyOnceBatch(base)(Seq((3L, "c")).toDF("k", "v"), 1L)
    assert(TableFormat.currentVersion(spark, base) == 2)
    assert(TableFormat.readSnapshot(spark, base).count() == 3,
      "replayed batch duplicated rows")
    // a genuinely NEW batch still lands
    TableFormat.exactlyOnceBatch(base)(Seq((4L, "d")).toDF("k", "v"), 2L)
    assert(TableFormat.readSnapshot(spark, base).count() == 4)
  }

  test("exactly-once sink repairs a crash between manifest and pointer writes") {
    import spark.implicits._
    val base = freshBase("tf_repair")
    TableFormat.exactlyOnceBatch(base)(Seq((1L, "a")).toDF("k", "v"), 0L) // v1
    TableFormat.exactlyOnceBatch(base)(Seq((2L, "b")).toDF("k", "v"), 1L) // v2
    // simulate the crash window: v2's manifest exists but _CURRENT still
    // points at v1 (the commit died between its two metadata writes).
    // Since r9 currentVersion resolves max(pointer, manifest listing),
    // so the committed v2 is visible IMMEDIATELY — no replay needed to
    // finish the publish (ADVICE r8 #5: a stale pointer can't hide or
    // regress a committed snapshot)
    TableFormat.writeFile(spark, s"$base/_CURRENT", "1")
    assert(TableFormat.currentVersion(spark, base) == 2)
    assert(TableFormat.readSnapshot(spark, base).count() == 2)
    // the at-least-once replay of batch 1 is then a pure no-op: same
    // version, same txn — nothing duplicated, pointer repaired on disk
    TableFormat.exactlyOnceBatch(base)(Seq((2L, "b")).toDF("k", "v"), 1L)
    assert(TableFormat.currentVersion(spark, base) == 2)
    assert(TableFormat.readSnapshot(spark, base).count() == 2)
  }

  test("exactly-once sink refuses a FOREIGN txn at an existing version (fresh checkpoint)") {
    val base = freshBase("tf_txn")
    TableFormat.exactlyOnceBatch(base)(Seq((1L, "a")).toDF("k", "v"), 0L) // v1
    // restart with a FRESH checkpoint: batchId resets to 0 against the
    // same table — version matches, txn doesn't; silently treating this
    // as a replay would drop genuinely new data
    val e = intercept[IllegalStateException] {
      TableFormat.exactlyOnceBatch(base, appId = "restarted")(
        Seq((9L, "z")).toDF("k", "v"), 0L)
    }
    assert(e.getMessage.contains("NOT a replay"))
    // the original snapshot is untouched
    assert(TableFormat.readSnapshot(spark, base).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("empty manifest reads back as a typed empty DataFrame (schema header)") {
    val base = freshBase("tf_empty")
    TableFormat.commit(spark, base, Seq.empty[(Long, String)].toDF("k", "v"), 1, None)
    // force the zero-file case regardless of how Spark writes empty DFs:
    // strip any data-file lines, keep the header
    val m = TableFormat.readFile(spark, s"$base/_manifests/v1.manifest")
    TableFormat.writeFile(spark, s"$base/_manifests/v1.manifest",
      m.split("\n").filter(_.startsWith("#")).mkString("\n"))
    val df = TableFormat.readSnapshot(spark, base)
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("k", "long"), ("v", "string")))
    assert(df.count() == 0)
    // the stats-pruned read path hits the same guard when every file is skipped
    val (dfW, (read, _)) = TableFormat.readSnapshotWhere(spark, base, "k", 0L, 10L)
    assert(read == 0 && dfW.count() == 0)
  }

  private def parquetFiles(base: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$base/data")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = f.listFiles(p, true)
    val out = scala.collection.mutable.Set.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        out += st.getPath.toUri.getPath
    }
    out.toSet
  }

  test("delete commit: covered files drop manifest-only, straddlers rewritten, v1 intact") {
    val base = freshBase("tf_delete")
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(8))
    val entries = TableFormat.manifestEntries(spark, base, 1).sortBy(_.lo)
    assert(entries.size >= 4, "test premise: several range-clustered files")
    // range chosen from the ACTUAL file boundaries so all three classes
    // occur: entries(1) straddles, entries(2) is fully covered (dropped
    // manifest-only), entries(0) and the tail carry over untouched
    val delLo = entries(1).lo.get + 1
    val delHi = entries(2).hi.get
    assert(TableFormat.deleteWhere(spark, base, "k", delLo, delHi) == 2)
    val v1Files = entries.map(_.path).toSet
    val v2Files = TableFormat.manifestFiles(spark, base, 2).toSet
    // exact surviving rows, through the pointer
    val kept = TableFormat.readSnapshot(spark, base)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 4000L).filterNot(k => k >= delLo && k <= delHi).toSet)
    // time travel: the pre-delete snapshot still reads in full
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 4000)
    // the fully-covered file left the manifest with NO rewrite, and its
    // data file is untouched on disk (time travel still needs it)
    assert(!v2Files.contains(entries(2).path))
    assert(parquetFiles(base).contains(
      new org.apache.hadoop.fs.Path(entries(2).path).toUri.getPath))
    // untouched files carry over by reference (no table rewrite)
    assert(v2Files.contains(entries(0).path))
    // the straddler was rewritten into a NEW file
    assert(!v2Files.contains(entries(1).path))
    assert((v2Files -- v1Files).nonEmpty)
  }

  test("vacuum physically deletes superseded + orphan files; retained snapshot reads") {
    val base = freshBase("tf_vacuum")
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    TableFormat.deleteWhere(spark, base, "k", 0L, 1999L) // v2
    Seq((99999L, "orphan")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/data/c_failed") // planted orphan
    val before = parquetFiles(base)
    val v2Files = TableFormat.manifestFiles(spark, base, 2)
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    assert((before -- v2Files).nonEmpty, "test premise: dead files exist")
    // retain must include the current version
    intercept[IllegalArgumentException] { TableFormat.vacuum(spark, base, Seq(1)) }
    val (deleted, keptN) = TableFormat.vacuum(spark, base, retain = Seq(2))
    assert(deleted == (before -- v2Files).size && keptN == v2Files.size)
    assert(parquetFiles(base) == v2Files, "exactly the referenced files remain")
    // the retained snapshot still reads correctly after GC
    val kept = TableFormat.readSnapshot(spark, base)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(kept == (2000L until 4000L).toSet)
    // the non-retained manifest is gone too
    val mf = new org.apache.hadoop.fs.Path(s"$base/_manifests/v1.manifest")
    assert(!mf.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mf))
  }

  test("compact consolidates small files; rows identical; vacuum reclaims fragments") {
    val base = freshBase("tf_compact")
    // 5 micro-commits of a few rows each = 5+ small files
    (1 to 5).foreach { v =>
      TableFormat.commit(spark, base,
        Seq((v.toLong, s"r$v")).toDF("k", "v"), v,
        parent = if (v == 1) None else Some(v - 1))
    }
    val before = TableFormat.manifestFiles(spark, base, 5)
    assert(before.size >= 5, "test premise: one file per micro-commit")
    val (v6, nCompacted) = TableFormat.compact(spark, base, smallBytes = 1 << 20)
    assert(v6 == 6 && nCompacted == before.size)
    val after = TableFormat.manifestFiles(spark, base, 6)
    assert(after.size < before.size, s"${after.size} !< ${before.size}")
    assert(TableFormat.readSnapshot(spark, base).collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 5L))
    // pre-compaction version still reads (data untouched)...
    assert(TableFormat.readSnapshot(spark, base, Some(5)).count() == 5)
    // ...until vacuum reclaims the superseded fragments
    val (deleted, kept) = TableFormat.vacuum(spark, base, retain = Seq(6))
    assert(deleted >= before.size && kept == after.size)
    assert(TableFormat.readSnapshot(spark, base).count() == 5)
    // an already-compact table is a no-op, not a rewrite loop
    assert(TableFormat.compact(spark, base, smallBytes = 1)._2 == 0)
  }

  test("z-order: predicates on EITHER dimension prune files; box read is exact") {
    val base = freshBase("tf_zorder")
    // 64×64 grid: both dims uniform, so linear clustering on one key
    // would leave the other key's per-file range at full span
    val grid = spark.range(0, 4096).selectExpr(
      "id % 64 AS x", "CAST(id / 64 AS BIGINT) AS y", "id AS payload")
    TableFormat.commitZorder(spark, base, grid, "x", "y", version = 1, nFiles = 16)
    // box on BOTH dims
    val (both, (rBoth, total)) =
      TableFormat.readSnapshotWhere2(spark, base, "x", 10, 20, "y", 10, 20)
    assert(total == 16 && rBoth < total, s"box read $rBoth of $total files")
    assert(both.count() == 11 * 11)
    // narrow predicate on dim1 ONLY (dim2 unbounded)…
    val (_, (r1, _)) =
      TableFormat.readSnapshotWhere2(spark, base, "x", 0, 7, "y", 0, 63)
    // …and on dim2 ONLY (dim1 unbounded): BOTH must prune — the property
    // linear clustering cannot give (its non-sort key never prunes)
    val (_, (r2, _)) =
      TableFormat.readSnapshotWhere2(spark, base, "x", 0, 63, "y", 0, 7)
    assert(r1 < total, s"dim1-only predicate read $r1 of $total")
    assert(r2 < total, s"dim2-only predicate read $r2 of $total")
    // stats prune files, never rows: sums match the unpruned filter
    val direct = grid.filter("x BETWEEN 10 AND 20 AND y BETWEEN 10 AND 20")
      .agg(sum("payload")).collect()(0).getLong(0)
    assert(both.agg(sum("payload")).collect()(0).getLong(0) == direct)
  }

  test("incremental read returns exactly the appended rows; same-version diff is empty") {
    val base = freshBase("tf_incr")
    TableFormat.commit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1, None)
    TableFormat.commit(spark, base, Seq((3L, "c")).toDF("k", "v"), 2, Some(1))
    TableFormat.commit(spark, base, Seq((4L, "d"), (5L, "e")).toDF("k", "v"), 3, Some(2))
    assert(TableFormat.readIncremental(spark, base, 1, 3).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))
    assert(TableFormat.readIncremental(spark, base, 2, 3).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L))
    // no new files → typed empty frame, not a zero-path scan error
    val empty = TableFormat.readIncremental(spark, base, 3, 3)
    assert(empty.schema.fieldNames.toSeq == Seq("k", "v") && empty.count() == 0)
  }

  test("stream → exactly-once sink → incremental read: the table IS a changelog") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = freshBase("tf_once_incr")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .foreachBatch(TableFormat.exactlyOnceBatch(base) _)
      .outputMode("append").start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"), (4L, "d"))
    q.processAllAvailable()
    mem.addData((5L, "e"))
    q.processAllAvailable()
    q.stop()
    // a downstream consumer that saw v1 catches up by manifest diff:
    // exactly the micro-batch-2 and -3 rows, nothing re-read
    assert(TableFormat.readIncremental(spark, base, 1, 3).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))
    // cursor at head → empty, typed
    assert(TableFormat.readIncremental(spark, base, 3, 3).count() == 0)
  }

  test("schema evolution: old files project NULL for added columns; time travel stays narrow") {
    val base = freshBase("tf_evol")
    TableFormat.commit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1, None)
    TableFormat.commit(spark, base,
      Seq((3L, "c", 30L)).toDF("k", "v", "extra"), 2, Some(1))
    val cur = TableFormat.readSnapshot(spark, base)
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v", "extra"))
    val rows = cur.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(rows == Seq((1L, -1L), (2L, -1L), (3L, 30L)),
      s"old files must project NULL extra: $rows")
    // time travel reads v1 under ITS schema — the column doesn't exist yet
    assert(TableFormat.readSnapshot(spark, base, Some(1))
      .schema.fieldNames.toSeq == Seq("k", "v"))
    // maintenance under evolution: compact rewrites the mixed files under
    // the CURRENT schema without losing the new column
    val (v3, _) = TableFormat.compact(spark, base, smallBytes = 1 << 20)
    assert(v3 == 3)
    val afterCompact = TableFormat.readSnapshot(spark, base).collect().map(r =>
      (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(afterCompact == rows, s"compact changed rows: $afterCompact")
  }

  test("table_timetravel query: v1 is exactly the even half, v2 the full set") {
    val out = TableFormat.tableTimetravel(spark, sfDir).collect()
    assert(out.length == 2)
    val byV = out.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val nAll = docs.count()
    val even = docs.filter(col("doc_id") % 2 === 0)
      .agg(count(lit(1)), sum(col("n_chars")).cast("long")).collect()(0)
    assert(byV("v1") == ((even.getLong(0), even.getLong(1))))
    assert(byV("v2")._1 == nAll)
  }

  test("delete keeps NULL-key rows: SQL DELETE WHERE BETWEEN never matches NULL (r8)") {
    val base = freshBase("tf_delnull")
    // 1000 keyed rows + 7 NULL-key rows; range-clustered so some file is
    // FULLY covered by the delete range — the manifest-only drop path
    val rows = (0L until 1000L).map(i => (Some(i), s"r$i")) ++
      (0 until 7).map(i => (None: Option[Long], s"null$i"))
    TableFormat.commit(spark, base, rows.toDF("k", "v"), 1, None, statsCol = Some("k"))
    // delete EVERY keyed row — covers every file's [min,max] entirely
    TableFormat.deleteWhere(spark, base, "k", 0L, 5000L)
    val left = TableFormat.readSnapshot(spark, base).collect()
    assert(left.length == 7, s"NULL-key rows lost by delete: ${left.length} of 7 remain")
    assert(left.forall(_.isNullAt(0)))
    // narrower delete: fully-covered null-free files still drop manifest-only
    val base2 = freshBase("tf_delnull2")
    TableFormat.commit(spark, base2, rows.toDF("k", "v"), 1, None, statsCol = Some("k"))
    val before = TableFormat.manifestFiles(spark, base2, 1).toSet
    TableFormat.deleteWhere(spark, base2, "k", 0L, 5000L)
    val after = TableFormat.manifestFiles(spark, base2, 2).toSet
    assert(after.intersect(before).isEmpty || after.size < before.size)
  }

  test("optimistic concurrency: losing committer gets CommitConflict, never overwrites (r8)") {
    val base = freshBase("tf_occ")
    TableFormat.commit(spark, base, Seq((1L, "a")).toDF("k", "v"), 1, None)
    // two committers both derived parent=v1 and race for v2: first wins,
    // second must CONFLICT (pre-r8 it silently rename-overwrote v2)
    TableFormat.commit(spark, base, Seq((2L, "b")).toDF("k", "v"), 2, Some(1))
    intercept[TableFormat.CommitConflictException] {
      TableFormat.commit(spark, base, Seq((3L, "c")).toDF("k", "v"), 2, Some(1))
    }
    // the winner's commit is intact
    assert(TableFormat.readSnapshot(spark, base).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
  }

  test("two interleaved appendCommits both land as v2/v3 with no lost files (r8)") {
    val base = freshBase("tf_occ2")
    TableFormat.commit(spark, base, Seq((0L, "base")).toDF("k", "v"), 1, None)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future(TableFormat.appendCommit(spark, base, Seq((1L, "a")).toDF("k", "v")))
    val b = Future(TableFormat.appendCommit(spark, base, Seq((2L, "b")).toDF("k", "v")))
    val versions = Seq(Await.result(a, 120.seconds), Await.result(b, 120.seconds)).sorted
    assert(versions == Seq(2, 3), s"committers landed as $versions")
    assert(TableFormat.currentVersion(spark, base) == 3)
    // v3 carries ALL files: base's, A's, and B's — nothing lost
    assert(TableFormat.readSnapshot(spark, base).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 1L, 2L))
    // and the intermediate version holds exactly the first winner's view
    assert(TableFormat.readSnapshot(spark, base, Some(2)).count() == 2)
  }

  test("mergeInto rewrites only stats-intersecting files; upsert semantics exact (r8)") {
    val base = freshBase("tf_merge")
    val rows = (0L until 4000L).map(i => (i, i * 10))
    TableFormat.commit(spark, base, rows.toDF("k", "v"), 1, None, statsCol = Some("k"))
    val total = TableFormat.manifestFiles(spark, base, 1).size
    assert(total >= 2, s"test premise: need multiple files, got $total")
    // updates confined to a narrow key band + one brand-new key
    val changes = ((0L until 100L).map(i => (i, -1L)) :+ (999999L, 7L)).toDF("k", "v")
    val (v2, rewrote, filesTotal) = TableFormat.mergeInto(spark, base, changes, "k")
    assert(v2 == 2 && filesTotal == total)
    assert(rewrote < total, s"merge rewrote $rewrote of $total files — stats didn't prune")
    val got = TableFormat.readSnapshot(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 4001)
    assert((0L until 100L).forall(got(_) == -1L), "updated rows wrong")
    assert((100L until 4000L).forall(i => got(i) == i * 10), "untouched rows changed")
    assert(got(999999L) == 7L, "insert missing")
    // pre-merge snapshot intact (time travel)
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 4000)
  }

  test("mergeInto on a non-stats column rewrites everything — no missed updates (r9)") {
    val base = freshBase("tf_merge_nk")
    // stats collected on k; merge key is v, whose value range (100000+)
    // lies entirely OUTSIDE every file's recorded k-bounds — pre-r9 the
    // pruner compared v-keys against k-bounds, touched zero files, and
    // the "updates" landed as duplicate inserts
    val rows = (0L until 2000L).map(i => (i, i + 100000L))
    TableFormat.commit(spark, base, rows.toDF("k", "v"), 1, None, statsCol = Some("k"))
    val changes = (0L until 50L).map(i => (-1L, i + 100000L)).toDF("k", "v")
    TableFormat.mergeInto(spark, base, changes, "v")
    val got = TableFormat.readSnapshot(spark, base).collect()
      .map(r => (r.getLong(1), r.getLong(0))).toMap
    assert(got.size == 2000, s"duplicate merge keys: ${got.size} distinct of expected 2000")
    assert(TableFormat.readSnapshot(spark, base).count() == 2000)
    assert((0L until 50L).forall(i => got(i + 100000L) == -1L), "updates missed")
    assert((50L until 2000L).forall(i => got(i + 100000L) == i), "untouched rows changed")
  }

  test("appendCommit never narrows the snapshot schema; foreign statsCol publishes no stats (r9)") {
    val base = freshBase("tf_app_schema")
    TableFormat.commit(spark, base,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "extra"),
      1, None, statsCol = Some("k"))
    // narrower append: snapshot schema must stay (k, v, extra)
    TableFormat.appendCommit(spark, base, Seq((3L, "c")).toDF("k", "v"))
    val snap = TableFormat.readSnapshot(spark, base)
    assert(snap.schema.fieldNames.toSeq == Seq("k", "v", "extra"),
      s"schema narrowed to ${snap.schema.fieldNames.mkString(",")}")
    val byK = snap.collect().map(r => r.getLong(0) -> r).toMap
    assert(byK(1L).getLong(2) == 10L && byK(2L).getLong(2) == 20L,
      "old files' extra column hidden")
    assert(byK(3L).isNullAt(2), "appended row should project NULL extra")
    // append with a DIFFERENT statsCol than the table's #stats header:
    // its entries must carry NO stats (bounds of v under a header naming
    // k would mis-prune), and a k-range read must still see its rows
    TableFormat.appendCommit(spark, base,
      Seq((5000L, "z", 1L)).toDF("k", "v", "extra"), statsCol = Some("extra"))
    val v3 = TableFormat.latestVersion(spark, base)
    val newEntries = TableFormat.manifestEntries(spark, base, v3)
      .filterNot(TableFormat.manifestEntries(spark, base, v3 - 1).toSet)
    assert(newEntries.nonEmpty && newEntries.forall(e => e.lo.isEmpty && e.hi.isEmpty),
      "foreign-statsCol append published misleading stats")
    val (df, _) = TableFormat.readSnapshotWhere(spark, base, "k", 4000L, 6000L)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(5000L),
      "stat-less appended file skipped by k-range read")
  }

  test("currentVersion heals a regressed pointer via the manifest listing (r9)") {
    val base = freshBase("tf_ptr_regress")
    TableFormat.commit(spark, base, Seq((1L, "a")).toDF("k", "v"), 1, None)
    TableFormat.commit(spark, base, Seq((2L, "b")).toDF("k", "v"), 2, Some(1))
    // simulate a slow cross-JVM loser writing a stale pointer
    TableFormat.writeFile(spark, s"$base/_CURRENT", "1")
    assert(TableFormat.currentVersion(spark, base) == 2,
      "stale pointer served instead of the committed v2 manifest")
    assert(TableFormat.readSnapshot(spark, base).count() == 2)
    // the opposite case: a pointer AHEAD of every manifest names no
    // snapshot, so the manifests on disk decide
    TableFormat.writeFile(spark, s"$base/_CURRENT", "9")
    assert(TableFormat.currentVersion(spark, base) == 2,
      "pointer to a version with no manifest served as the head")
    assert(TableFormat.readSnapshot(spark, base).count() == 2)
  }

  test("commitZorder survives empty input and all-NULL cluster columns (r8)") {
    val base = freshBase("tf_zguard")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val empty = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    TableFormat.commitZorder(spark, base, empty, "a", "b", version = 1)
    assert(TableFormat.readSnapshot(spark, base).count() == 0)
    val base2 = freshBase("tf_zguard2")
    val allNull = Seq((None: Option[Long], 1L), (None, 2L)).toDF("a", "b")
    TableFormat.commitZorder(spark, base2, allNull, "a", "b", version = 1)
    assert(TableFormat.readSnapshot(spark, base2).count() == 2)
  }

  test("change data feed: appends are inserts, deletes are deletes, compact emits nothing (r9)") {
    val base = freshBase("tf_cdf")
    TableFormat.commit(spark, base,
      (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    TableFormat.appendCommit(spark, base,
      (100L until 120L).map(i => (i, s"r$i")).toDF("k", "v"), statsCol = Some("k"))
    TableFormat.deleteWhere(spark, base, "k", 10L, 19L)
    TableFormat.compact(spark, base, smallBytes = Long.MaxValue, targetFiles = 1)
    assert(TableFormat.manifest(spark, base, 2).op.contains("append"))
    assert(TableFormat.manifest(spark, base, 3).op.contains("delete"))
    assert(TableFormat.manifest(spark, base, 4).op.contains("compact"))
    val ch = TableFormat.readChanges(spark, base, 1, 4)
    val byStep = ch.groupBy(col("_commit_version"), col("_change_type")).count().collect()
      .map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
    // the copy-on-write survivors cancel; the compact commit contributes NOTHING
    assert(byStep == Map((2, "insert") -> 20L, (3, "delete") -> 10L), s"got $byStep")
    val delKeys = ch.filter(col("_change_type") === "delete")
      .select(col("k")).as[Long].collect().sorted.toSeq
    assert(delKeys == (10L until 20L), s"got $delKeys")
  }

  test("staged appends inherit footer stats when the table declares a stats column (r10)") {
    val base = freshBase("tf_staged_stats")
    TableFormat.commit(spark, base,
      (0L until 1000L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    val v1Files = TableFormat.manifestFiles(spark, base, 1).toSet
    // stage files out-of-band, exactly like the streaming sink's executors
    val stageDir = s"${graft.Tables.scratchDir}/tf_staged_src"
    val sp = new org.apache.hadoop.fs.Path(stageDir)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(sp, true)
    (5000L until 5100L).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1).write.parquet(stageDir)
    val staged = fs.listStatus(sp).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val v2 = TableFormat.appendCommitStaged(spark, base, staged,
      TableFormat.manifest(spark, base, 1).schema.get)
    // the staged entries carry FOOTER-derived bounds (pre-r10: stat-less)
    val newEntries = TableFormat.manifestEntries(spark, base, v2)
      .filterNot(e => v1Files(e.path))
    assert(newEntries.nonEmpty && newEntries.forall(e =>
      e.lo.contains(5000L) && e.hi.contains(5099L)),
      s"staged entries lost footer stats: $newEntries")
    // and the index works: a narrow read over the staged band skips v1 files
    val (df, (read, total)) = TableFormat.readSnapshotWhere(spark, base, "k", 5000L, 5099L)
    assert(df.count() == 100 && read < total, s"read $read/$total")
  }

  test("CDF from version 0 includes the first commit; vacuumed ranges fail by name (r10)") {
    val base = freshBase("tf_cdf_retention")
    TableFormat.commit(spark, base,
      (0L until 50L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    TableFormat.appendCommit(spark, base,
      (50L until 60L).map(i => (i, s"r$i")).toDF("k", "v"), statsCol = Some("k"))
    TableFormat.deleteWhere(spark, base, "k", 10L, 14L)
    // fromVersion=0 = "before the first commit": v1's rows are inserts
    val all = TableFormat.readChanges(spark, base, 0, 3)
      .groupBy(col("_commit_version"), col("_change_type")).count().collect()
      .map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
    assert(all == Map((1, "insert") -> 50L, (2, "insert") -> 10L, (3, "delete") -> 5L),
      s"got $all")
    // a vacuumed mid-range manifest fails with a NAMED retention error
    // carrying the missing version — not a raw FileNotFoundException
    TableFormat.vacuum(spark, base, retain = Seq(1, 3))
    val e = intercept[TableFormat.VersionNotRetainedException] {
      TableFormat.readChanges(spark, base, 1, 3).collect()
    }
    assert(e.version == 2 && e.getMessage.contains("v2") &&
      e.getMessage.contains("not retained"), s"wrong error: ${e.getMessage}")
    val e2 = intercept[TableFormat.VersionNotRetainedException] {
      TableFormat.readIncremental(spark, base, 2, 3).collect()
    }
    assert(e2.version == 2, s"wrong error: ${e2.getMessage}")
  }

  test("optimizeZorder makes an unclustered table skippable; CDF stays silent (r9)") {
    val base = freshBase("tf_optimize")
    val rows = (0L until 4000L).map(i => (i, (i * 7919) % 4000, s"r$i")).toDF("a", "b", "v")
    TableFormat.commit(spark, base, rows, 1, None) // unclustered, stat-less
    val (_, (read1, total1)) = TableFormat.readSnapshotWhere2(spark, base,
      "a", 100L, 200L, "b", 0L, 4000L)
    assert(read1 == total1, "test premise: no stats, nothing skippable")
    val v2 = TableFormat.optimizeZorder(spark, base, "a", "b")
    assert(v2 == 2 && TableFormat.manifest(spark, base, 2).op.contains("optimize"))
    val (df2, (read2, total2)) = TableFormat.readSnapshotWhere2(spark, base,
      "a", 100L, 200L, "b", 0L, 4000L)
    assert(total2 >= 4 && read2 < total2, s"optimize did not enable skipping: $read2/$total2")
    assert(df2.count() == 101) // answer identical to the exact filter
    assert(TableFormat.readSnapshot(spark, base).count() == 4000)
    // rows moved, none changed: the change data feed is silent
    assert(TableFormat.readChanges(spark, base, 1, 2).count() == 0)
  }

  test("CDF spans a schema-evolution commit: all steps read under the widened schema (r9)") {
    val base = freshBase("tf_cdf_evol")
    TableFormat.commit(spark, base,
      (0L until 20L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    // evolution append: new column w arrives at v2
    TableFormat.appendCommit(spark, base,
      (20L until 30L).map(i => (i, s"r$i", i * 10)).toDF("k", "v", "w"),
      statsCol = Some("k"))
    TableFormat.deleteWhere(spark, base, "k", 0L, 4L)
    val ch = TableFormat.readChanges(spark, base, 1, 3)
    assert(ch.columns.toSeq == Seq("k", "v", "w", "_change_type", "_commit_version"))
    val ins = ch.filter(col("_change_type") === "insert")
    assert(ins.count() == 10 && ins.filter(col("w").isNull).count() == 0)
    // deletes come from pre-evolution files: w projects NULL under the wide schema
    val del = ch.filter(col("_change_type") === "delete")
    assert(del.count() == 5 && del.filter(col("w").isNull).count() == 5)
  }

  test("shallow clone copies no data; clone writes never touch the source (r9)") {
    val src = freshBase("tf_clone_src")
    val dst = freshBase("tf_clone_dst")
    TableFormat.commit(spark, src,
      (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None, statsCol = Some("k"))
    val clonedV = TableFormat.cloneTable(spark, src, dst)
    assert(clonedV == 1)
    // zero data copied: the clone has a manifest but NO data tree
    val f = new org.apache.hadoop.fs.Path(s"$dst/data")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dst/data")),
      "shallow clone materialized data files")
    assert(TableFormat.manifestFiles(spark, dst, 1).toSet ==
      TableFormat.manifestFiles(spark, src, 1).toSet)
    assert(TableFormat.readSnapshot(spark, dst).count() == 100)
    assert(TableFormat.manifest(spark, dst, 1).op.contains("clone"))
    // clone-side writes stage under the CLONE's tree; the source is inert
    TableFormat.appendCommit(spark, dst, Seq((1000L, "x")).toDF("k", "v"))
    assert(TableFormat.readSnapshot(spark, dst).count() == 101)
    assert(TableFormat.currentVersion(spark, src) == 1)
    assert(TableFormat.readSnapshot(spark, src).count() == 100)
    val newFiles = TableFormat.manifestFiles(spark, dst, 2)
      .filterNot(TableFormat.manifestFiles(spark, dst, 1).toSet)
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("clone_dst")),
      s"clone append staged outside the clone tree: $newFiles")
    // vacuum on a data-less clone is a no-op, not a crash, and never
    // reaches across into the source's files
    val dst2 = freshBase("tf_clone_dst2")
    TableFormat.cloneTable(spark, src, dst2)
    val (del, kept) = TableFormat.vacuum(spark, dst2, retain = Seq(1))
    assert(del == 0 && kept == 0)
    assert(TableFormat.readSnapshot(spark, dst2).count() == 100)
    assert(TableFormat.readSnapshot(spark, src).count() == 100)
  }

  test("restore is metadata-only; CDF reports the rollback as the honest diff (r9)") {
    val base = freshBase("tf_restore")
    TableFormat.commit(spark, base,
      (0L until 50L).map(i => (i, i * 2)).toDF("k", "v"), 1, None, statsCol = Some("k"))
    TableFormat.deleteWhere(spark, base, "k", 0L, 9L)
    val v3 = TableFormat.restoreVersion(spark, base, 1)
    assert(v3 == 3)
    // metadata-only rollback: v3 re-names exactly v1's files (no data IO)
    assert(TableFormat.manifestFiles(spark, base, 3).toSet ==
      TableFormat.manifestFiles(spark, base, 1).toSet)
    assert(TableFormat.readSnapshot(spark, base).count() == 50)
    assert(TableFormat.readSnapshot(spark, base, Some(2)).count() == 40) // undone v2 readable
    assert(TableFormat.manifest(spark, base, 3).op.contains("restore"))
    // across the restore the rows deleted in v2 come BACK as inserts, nothing deleted
    val ch = TableFormat.readChanges(spark, base, 2, 3)
    val ins = ch.filter(col("_change_type") === "insert")
      .select(col("k")).as[Long].collect().sorted.toSeq
    assert(ins == (0L until 10L), s"got $ins")
    assert(ch.filter(col("_change_type") === "delete").count() == 0)
  }

  test("merge-on-read delete: zero data files rewritten, reads exact, stats prune the dv scope (r10)") {
    val base = freshBase("tf_dv")
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(8))
    val v1Files = TableFormat.manifestFiles(spark, base, 1).toSet
    assert(v1Files.size >= 4, "premise: range-clustered commit produced several files")
    // scattered single-row deletes — CoW would rewrite a file per row
    val targets = Seq(7L, 1500L, 3999L)
    val (v2, withDv, total) = TableFormat.deleteRowsDV(spark, base,
      col("k").isin(targets: _*), bounds = Seq((7L, 3999L)))
    assert(v2 == 2 && withDv >= 1 && withDv <= 3 && total == v1Files.size)
    // THE point: the data file set is untouched — only dvs attached
    assert(TableFormat.manifestFiles(spark, base, 2).toSet == v1Files,
      "merge-on-read delete moved data bytes")
    val live = TableFormat.readSnapshot(spark, base)
    assert(live.count() == 4000 - 3)
    assert(live.filter(col("k").isin(targets: _*)).count() == 0)
    // time travel: the pre-delete snapshot still sees every row
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 4000)
    // stats-pruned read path applies the dv too
    val (df, (kept, all)) = TableFormat.readSnapshotWhere(spark, base, "k", 1490L, 1510L)
    assert(kept < all, "premise: the range read pruned files")
    assert(df.count() == 20 && df.filter(col("k") === 1500L).count() == 0)
    // a SECOND dv delete supersedes: both generations stay deleted
    val (v3, _, _) = TableFormat.deleteRowsDV(spark, base, col("k") === 8L)
    assert(v3 == 3)
    val live3 = TableFormat.readSnapshot(spark, base)
    assert(live3.count() == 4000 - 4)
    assert(live3.filter(col("k").isin(7L, 8L, 1500L, 3999L)).count() == 0)
    assert(TableFormat.manifestFiles(spark, base, 3).toSet == v1Files)
  }

  test("dv lifecycle: CDF reports exact deletes, CoW paths apply dvs, compact materializes, vacuum keeps referenced dvs (r10)") {
    val base = freshBase("tf_dv_life")
    val rows = (0L until 1000L).map(i => (i, i % 10)).toDF("k", "grp")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val (v2, _, _) = TableFormat.deleteRowsDV(spark, base, col("k").isin(5L, 500L, 995L))
    // CDF: the dv commit emits EXACTLY the deleted rows, no inserts
    val ch = TableFormat.readChanges(spark, base, 1, v2)
    assert(ch.filter(col("_change_type") === "insert").count() == 0)
    val dels = ch.filter(col("_change_type") === "delete")
      .select(col("k")).as[Long].collect().sorted.toSeq
    assert(dels == Seq(5L, 500L, 995L), s"got $dels")
    // a LATER CoW delete must not resurrect dv-deleted rows in its rewrite
    TableFormat.deleteWhere(spark, base, "k", 990L, 992L)
    val afterCow = TableFormat.readSnapshot(spark, base)
    assert(afterCow.count() == 1000 - 3 - 3)
    assert(afterCow.filter(col("k") === 995L).count() == 0,
      "CoW rewrite resurrected a dv-deleted row")
    // compact materializes: consolidated entries carry no dv, rows exact
    val (v4, nCompacted) = TableFormat.compact(spark, base, smallBytes = 1L << 30)
    assert(nCompacted >= 2)
    assert(TableFormat.manifestEntries(spark, base, v4).forall(_.dv.isEmpty),
      "compacted snapshot still references dvs")
    assert(TableFormat.readSnapshot(spark, base).count() == 994)
    // vacuum to the current (dv-free) version: dv dirs age out with their
    // manifests, data stays intact
    val (deleted, keptN) = TableFormat.vacuum(spark, base, retain = Seq(v4))
    assert(deleted > 0 && keptN > 0)
    assert(TableFormat.readSnapshot(spark, base).count() == 994)
    // and a vacuum that RETAINS a dv version keeps its dv files readable
    val base2 = freshBase("tf_dv_vac2")
    TableFormat.commit(spark, base2, rows, 1, None, statsCol = Some("k"))
    val (w2, _, _) = TableFormat.deleteRowsDV(spark, base2, col("k") === 77L)
    TableFormat.vacuum(spark, base2, retain = Seq(w2))
    assert(TableFormat.readSnapshot(spark, base2).count() == 999)
    assert(TableFormat.readSnapshot(spark, base2).filter(col("k") === 77L).count() == 0,
      "vacuum reclaimed a dv still referenced by the retained manifest")
  }

  test("rename column: zero data IO, old and new files read identically, stats keep pruning (r10)") {
    val base = freshBase("tf_ren")
    val rows = (0L until 2000L).map(i => (i, i * 10)).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(4))
    val v1Files = TableFormat.manifestFiles(spark, base, 1).toSet
    // rename the DATA column, then the STATS column — both metadata-only
    TableFormat.alterRenameCommit(spark, base, "v", "value")
    TableFormat.alterRenameCommit(spark, base, "k", "key")
    assert(TableFormat.manifestFiles(spark, base, 3).toSet == v1Files,
      "rename moved data bytes")
    val renamed = TableFormat.readSnapshot(spark, base)
    assert(renamed.columns.toSeq == Seq("key", "value"))
    assert(renamed.filter(col("key") === 7L).select("value").as[Long].collect()
      .toSeq == Seq(70L))
    // appends AFTER the rename write under the ORIGINAL physical names:
    // old and new files must read back identically under logical names
    TableFormat.appendCommit(spark, base,
      Seq((5000L, 50000L)).toDF("key", "value"), statsCol = Some("key"))
    val all = TableFormat.readSnapshot(spark, base)
    assert(all.count() == 2001)
    assert(all.filter(col("key") === 5000L).select("value").as[Long].collect()
      .toSeq == Seq(50000L))
    // the renamed stats column still prunes files
    val (df, (kept, total)) = TableFormat.readSnapshotWhere(spark, base, "key", 100L, 120L)
    assert(kept < total, "rename broke the file-skipping index")
    assert(df.count() == 21)
    // time travel reads the OLD names
    assert(TableFormat.readSnapshot(spark, base, Some(1)).columns.toSeq == Seq("k", "v"))
  }

  test("drop column tombstones its physical name; re-add yields NULLs, never stale bytes (r10)") {
    val base = freshBase("tf_drop")
    val rows = (0L until 100L).map(i => (i, s"secret$i", i * 2)).toDF("k", "payload", "w")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    TableFormat.alterDropCommit(spark, base, "payload")
    val dropped = TableFormat.readSnapshot(spark, base)
    assert(dropped.columns.toSeq == Seq("k", "w"), "drop left the column visible")
    // time travel: the pre-drop version still reads it
    assert(TableFormat.readSnapshot(spark, base, Some(1))
      .filter(col("k") === 3L).select("payload").as[String].collect().toSeq == Seq("secret3"))
    // re-ADD the same name: fresh physical spelling — the old files'
    // bytes must NOT resurrect
    val widened = org.apache.spark.sql.types.StructType(dropped.schema.fields :+
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType, nullable = true))
    TableFormat.alterSchemaCommit(spark, base, widened)
    val readded = TableFormat.readSnapshot(spark, base)
    assert(readded.filter(col("payload").isNotNull).count() == 0,
      "re-added column resurrected dropped bytes")
    // new appends carry real values under the fresh physical name
    TableFormat.appendCommit(spark, base,
      Seq((500L, 1000L, "fresh")).toDF("k", "w", "payload"), statsCol = Some("k"))
    val fin = TableFormat.readSnapshot(spark, base)
    assert(fin.filter(col("payload") === "fresh").count() == 1)
    assert(fin.filter(col("payload").isNotNull).count() == 1)
    // implicit (appendCommit schema-merge) re-use of a retired name is
    // rejected loudly — the fresh-name device only works through ALTER
    TableFormat.alterDropCommit(spark, base, "payload")
    val ex = intercept[IllegalArgumentException] {
      TableFormat.appendCommit(spark, base,
        Seq((501L, 1002L, "again")).toDF("k", "w", "payload"), statsCol = Some("k"))
    }
    assert(ex.getMessage.contains("retired physical name"))
  }

  test("dropping a stats column promotes the second slot; pruning on the survivor stays exact (r10)") {
    val base = freshBase("tf_drop_stats")
    val rows = (0L until 4000L).map(i => (i % 64, i / 64, i)).toDF("a", "b", "payload")
    TableFormat.commitZorder(spark, base, rows, "a", "b", 1)
    assert(TableFormat.manifest(spark, base, 1).statsCols == Seq("a", "b"))
    TableFormat.alterDropCommit(spark, base, "a")
    assert(TableFormat.manifest(spark, base, 2).statsCols == Seq("b"))
    // entries' second-slot bounds promoted to the first slot: a range
    // read on b still prunes and returns exactly b's rows
    val (df, (kept, total)) = TableFormat.readSnapshotWhere(spark, base, "b", 10L, 12L)
    assert(kept < total, "promoted stats slot does not prune")
    assert(df.count() == 3 * 64)
    assert(df.columns.toSeq == Seq("b", "payload"))
  }

  test("dv × rename × evolution compose: reads, merges and the CDF stay exact across all three (r10)") {
    val base = freshBase("tf_mix")
    val rows = (0L until 1000L).map(i => (i, i * 3)).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(4))
    // v2: merge-on-read delete; v3: rename the data column; v4: widen
    TableFormat.deleteRowsDV(spark, base, col("k").isin(5L, 500L))
    TableFormat.alterRenameCommit(spark, base, "v", "amount")
    TableFormat.alterSchemaCommit(spark, base,
      org.apache.spark.sql.types.StructType(
        TableFormat.manifest(spark, base, 3).schema.get.fields :+
          org.apache.spark.sql.types.StructField("tag",
            org.apache.spark.sql.types.StringType, nullable = true)))
    // the dv anti-join must compose with the colmap aliasing AND the
    // widened schema: deleted rows stay gone, renamed column reads, new
    // column projects NULL
    val snap = TableFormat.readSnapshot(spark, base)
    assert(snap.columns.toSeq == Seq("k", "amount", "tag"))
    assert(snap.count() == 998)
    assert(snap.filter(col("k").isin(5L, 500L)).count() == 0,
      "dv lost through rename/evolution")
    assert(snap.filter(col("k") === 7L).select("amount").as[Long].collect().toSeq == Seq(21L))
    // append under the NEW names; stats keep flowing; dv still applies
    TableFormat.appendCommit(spark, base,
      Seq((5000L, 1L, "new")).toDF("k", "amount", "tag"), statsCol = Some("k"))
    assert(TableFormat.readSnapshot(spark, base).count() == 999)
    // a merge over the mixed table: dv applied, colmap resolved, upsert lands
    TableFormat.mergeInto(spark, base,
      Seq((7L, -7L, "upd")).toDF("k", "amount", "tag"), "k")
    val fin = TableFormat.readSnapshot(spark, base)
    assert(fin.filter(col("k") === 7L).select("amount").as[Long].collect().toSeq == Seq(-7L))
    assert(fin.filter(col("k").isin(5L, 500L)).count() == 0,
      "merge rewrite resurrected dv rows through the colmap")
    // CDF spanning dv delete + rename + evolution + append + merge reads
    // every step under the FINAL names/schema: the dv step reports its
    // two rows, the alters report nothing
    val ch = TableFormat.readChanges(spark, base, 1, 4)
    assert(ch.columns.take(3).toSeq == Seq("k", "amount", "tag"))
    val dels = ch.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted.toSeq
    assert(dels == Seq(5L, 500L), s"got $dels")
    assert(ch.filter(col("_change_type") === "insert").count() == 0)
  }

  test("manifest publish is reader-atomic: N racing appendCommits never drop a file (r10)") {
    // the pre-r10 publish created the manifest THEN wrote its bytes; a
    // concurrent rebaser reading in that window saw an empty parent
    // entry list and silently dropped every prior file from its own
    // commit. Six concurrent appenders over several rounds make that
    // window likely; with stage-then-rename a manifest is either
    // absent or complete.
    val base = freshBase("tf_occ_n")
    TableFormat.commit(spark, base, Seq((0L, "base")).toDF("k", "v"), 1, None)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val n = 6
    val fs = (1 to n).map(i =>
      Future(TableFormat.appendCommit(spark, base, Seq((i.toLong, s"w$i")).toDF("k", "v"))))
    val versions = fs.map(Await.result(_, 180.seconds)).sorted
    assert(versions == (2 to n + 1), s"committers landed as $versions")
    val got = TableFormat.readSnapshot(spark, base).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L to n.toLong), s"files lost in the race: $got")
    // every intermediate version is a superset chain — no version ever
    // shrank (the exact symptom of the partial-manifest read)
    (1 to n + 1).foldLeft(Set.empty[String]) { (prev, v) =>
      val files = TableFormat.manifestFiles(spark, base, v).toSet
      assert(prev.subsetOf(files), s"v$v dropped files of v${v - 1}")
      files
    }
  }

  test("review fixes: clone carries headers, dependent-metadata guards, CTAS parent pin (r10)") {
    val base = freshBase("tf_fix")
    val rows = (0L until 200L).map(i => (i, i * 2)).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    TableFormat.alterRenameCommit(spark, base, "v", "amount")
    TableFormat.deleteRowsDV(spark, base, col("k") === 7L)
    TableFormat.alterPropsCommit(spark, base, Map("delete.mode" -> "merge-on-read"))
    TableFormat.alterConstraintsCommit(spark, base,
      upsert = Some("nonneg" -> "C:amount >= 0"))
    val (analyzed, _) = TableFormat.analyzeNdv(spark, base)
    val hist = TableFormat.manifest(spark, base, analyzed).hist
    assert(hist.contains("k"), "premise: ANALYZE records a histogram on k")
    // CLONE must carry colmap + dv + props + constraints + histograms:
    // without the colmap the renamed column reads NULL in the clone
    val dst = freshBase("tf_fix_clone")
    TableFormat.cloneTable(spark, base, dst)
    val cl = TableFormat.readSnapshot(spark, dst)
    assert(cl.count() == 199, "clone lost the deletion vector")
    assert(cl.filter(col("amount").isNull).count() == 0,
      "clone lost the column mapping — renamed column reads NULL")
    assert(TableFormat.manifest(spark, dst, 1).props == Map("delete.mode" -> "merge-on-read"))
    assert(TableFormat.manifest(spark, dst, 1).constraints
      == Seq("nonneg" -> "C:amount >= 0"))
    assert(TableFormat.manifest(spark, dst, 1).hist == hist, "clone lost the histograms")
    // renaming/dropping a column a CHECK references is refused by name
    val ex1 = intercept[IllegalArgumentException] {
      TableFormat.alterRenameCommit(spark, base, "amount", "price")
    }
    assert(ex1.getMessage.contains("nonneg"))
    val ex2 = intercept[IllegalArgumentException] {
      TableFormat.alterDropCommit(spark, base, "amount")
    }
    assert(ex2.getMessage.contains("nonneg"))
    // a CTAS-style publish pinned to parent 0 fails loudly once a
    // concurrent create has won the table
    val staged = s"${graft.Tables.scratchDir}/tf_fix_staged"
    Seq((1L, 1L)).toDF("k", "amount").coalesce(1).write.mode("overwrite").parquet(staged)
    val f = new org.apache.hadoop.fs.Path(staged)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(staged)).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.toString)
    val ex3 = intercept[IllegalStateException] {
      TableFormat.replaceTableStaged(spark, base, part,
        cl.schema, Nil, requireParent = Some(0))
    }
    assert(ex3.getMessage.contains("concurrent CREATE"))
  }

  test("dv full-file deletion drops the entry; mergeInto over a dv file keeps deletes (r10)") {
    val base = freshBase("tf_dv_full")
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    val entries = TableFormat.manifestEntries(spark, base, 1)
    // pick one whole file's range and dv-delete all of it
    val victim = entries.find(e => e.lo.isDefined && e.hi.isDefined).get
    val (v2, _, _) = TableFormat.deleteRowsDV(spark, base,
      col("k") >= victim.lo.get && col("k") <= victim.hi.get && col("k").isNotNull)
    val files2 = TableFormat.manifestFiles(spark, base, v2)
    assert(!files2.contains(victim.path),
      "fully-deleted file should drop out of the manifest, not carry a full dv")
    val expect2 = 4000L - (victim.hi.get - victim.lo.get + 1)
    assert(TableFormat.readSnapshot(spark, base).count() == expect2)
    // now dv-delete one surviving row, then MERGE over its key range:
    // the rewrite must apply the dv (no resurrection), and the upsert lands
    val survivor = TableFormat.readSnapshot(spark, base)
      .agg(max(col("k"))).collect()(0).getLong(0)
    TableFormat.deleteRowsDV(spark, base, col("k") === survivor)
    val changes = Seq((survivor - 1, "UPDATED")).toDF("k", "v")
    TableFormat.mergeInto(spark, base, changes, "k")
    val fin = TableFormat.readSnapshot(spark, base)
    assert(fin.filter(col("k") === survivor).count() == 0,
      "merge rewrite resurrected a dv-deleted row")
    assert(fin.filter(col("k") === survivor - 1).select("v").as[String].collect()
      .toSeq == Seq("UPDATED"))
    assert(fin.count() == expect2 - 1)
  }

  test("restore carries the RESTORED version's colmap/props/constraints, not the parent's (r11, ADVICE r10 high)") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val base = freshBase("tf_restore_hdr")
    TableFormat.commit(spark, base, Seq((1L, 10L), (2L, 20L)).toDF("a", "v"), 1, None,
      statsCol = Some("v"))
    TableFormat.alterRenameCommit(spark, base, "a", "b")             // v2: colmap b→a
    val s2 = TableFormat.manifest(spark, base, 2).schema.get
    TableFormat.alterSchemaCommit(spark, base,                       // v3: re-ADD `a`
      StructType(s2.fields :+ StructField("a", LongType)))
    // premise: the re-added `a` got a FRESH physical name via the colmap
    // (physical `a` is still owned by the renamed column b)
    assert(TableFormat.manifest(spark, base, 3).colmap.get("a").exists(_ != "a"),
      "test premise: re-added column must map to a fresh physical name")
    TableFormat.alterPropsCommit(spark, base, Map("tier" -> "late")) // v4
    TableFormat.alterConstraintsCommit(spark, base,                  // v5: CHECK on b,
      upsert = Some("chk_b" -> "C:b > 0"))                           // absent from v1
    val (v6, _) = TableFormat.analyzeNdv(spark, base)                // v6: histograms
    assert(TableFormat.manifest(spark, base, v6).hist.contains("v"),
      "premise: ANALYZE records a histogram on v")
    val vR = TableFormat.restoreVersion(spark, base, 1)
    // v1 had no colmap/props/constraints — the restore commit must carry
    // v1's (empty) headers. Inheriting the parent's a→a__r3 mapping
    // would silently NULL column `a` in every pre-rename file, and the
    // inherited CHECK on `b` (absent from the restored schema) would
    // brick every subsequent write.
    assert(TableFormat.manifest(spark, base, vR).colmap.isEmpty,
      "restore inherited the parent's colmap")
    assert(TableFormat.manifest(spark, base, vR).props.isEmpty,
      "restore inherited the parent's props")
    assert(TableFormat.manifest(spark, base, vR).constraints.isEmpty,
      "restore inherited the parent's constraints")
    assert(TableFormat.manifest(spark, base, vR).hist == TableFormat.manifest(spark, base, 1).hist,
      "restore inherited the parent's histograms")
    val got = TableFormat.readSnapshot(spark, base, Some(vR)).orderBy("a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 10L, 2L -> 20L), s"restored column a lost its bytes: $got")
    // and the table still accepts writes (no phantom CHECK on b)
    TableFormat.appendCommit(spark, base, Seq((3L, 30L)).toDF("a", "v"))
    assert(TableFormat.readSnapshot(spark, base).count() == 3)
  }

  test("legacy pre-prefix CHECK bodies block RENAME/DROP of referenced columns (r11, ADVICE r10 low)") {
    val base = freshBase("tf_legacy_chk")
    TableFormat.commit(spark, base, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), 1, None)
    // legacy spelling: body with NO C:/PK:/UQ: prefix — constraints()
    // treats it as an enforced CHECK, so the dependent guard must too
    TableFormat.alterConstraintsCommit(spark, base, upsert = Some("legacy" -> "k > 0"))
    val e1 = intercept[IllegalArgumentException] {
      TableFormat.alterRenameCommit(spark, base, "k", "kk")
    }
    assert(e1.getMessage.contains("legacy"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TableFormat.alterDropCommit(spark, base, "k")
    }
    assert(e2.getMessage.contains("legacy"), e2.getMessage)
    // dropping the constraint releases the column
    TableFormat.alterConstraintsCommit(spark, base, drop = Some("legacy"))
    TableFormat.alterRenameCommit(spark, base, "k", "kk")
    assert(TableFormat.manifest(spark, base,
      TableFormat.latestVersion(spark, base)).schema.get.fieldNames.contains("kk"))
  }

  test("vacuum spares fresh .staged. leftovers (live publishers) and reclaims stale ones (r11, ADVICE r10 low)") {
    val base = freshBase("tf_vac_grace")
    TableFormat.commit(spark, base, Seq((1L, 10L)).toDF("k", "v"), 1, None)
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a publisher mid-flight: tmp created, rename not yet issued
    val staged = new org.apache.hadoop.fs.Path(s"$base/_manifests/v9.manifest.staged.deadbeef")
    val out = f.create(staged); out.writeBytes("in-flight"); out.close()
    TableFormat.vacuum(spark, base, retain = Seq(1))
    assert(f.exists(staged),
      "vacuum deleted a FRESH staged file — races a live publisher's rename")
    // age it past the grace period: now it is a crashed publisher's orphan
    f.setTimes(staged, System.currentTimeMillis() - 10L * 60 * 1000, -1)
    TableFormat.vacuum(spark, base, retain = Seq(1))
    assert(!f.exists(staged), "vacuum failed to reclaim a stale staged orphan")
  }

  test("deleteByKeys: distributed anti-join delete — stats-pruned rewrite, no row keys on the driver (r11, VERDICT r10 #1)") {
    val base = freshBase("tf_del_keys")
    TableFormat.commit(spark, base, (0L until 4000L).map(i => (i, s"v$i")).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(8))
    val total = TableFormat.manifestEntries(spark, base, 1).size
    assert(total >= 4, s"test premise: need several files, got $total")
    // capture every executed plan during the delete: the apply must be
    // ONE keyed LeftAnti join — never an IN-literal over collected keys
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // keys clustered in one narrow range → stats prune most files
      val keys = (100L until 160L).toDF("k")
      val (v2, touched, nTotal) = TableFormat.deleteByKeys(spark, base, keys, "k")
      assert(v2 == 2 && nTotal == total)
      assert(touched < total,
        s"deleteByKeys rewrote $touched of $total files — stats pruning broke")
      assert(TableFormat.readSnapshot(spark, base).count() == 3940)
      assert(TableFormat.readSnapshot(spark, base)
        .filter(col("k").between(100, 159)).count() == 0)
      // QueryExecutionListener delivery is async — poll for the plans
      val deadline = System.currentTimeMillis() + 15000
      while (!plans.synchronized(plans.exists(_.contains("LeftAnti"))) &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      val all = plans.synchronized(plans.toSeq)
      assert(all.exists(_.contains("LeftAnti")),
        "deleteByKeys did not execute a LeftAnti join")
      assert(!all.exists(p => p.contains("k#") && p.contains(" IN (100,")),
        "deleteByKeys materialized an IN-literal key list")
    } finally spark.listenerManager.unregister(listener)
    // keys missing every file's range: zero rewrites, version unchanged
    val (v3, touched3, _) = TableFormat.deleteByKeys(spark, base,
      Seq(999999L).toDF("k"), "k")
    assert(v3 == 2 && touched3 == 0, "out-of-range keys must touch nothing")
  }

  test("dv snapshot read applies deletes executor-side — no broadcast of dv pairs, no join (r11, VERDICT r10 #2)") {
    val base = freshBase("tf_dv_exec")
    TableFormat.commit(spark, base, (0L until 3000L).map(i => (i, i * 2)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.deleteRowsDV(spark, base, col("k") % 100 === 7)
    val snap = TableFormat.readSnapshot(spark, base)
    // correctness through the per-file predicate
    assert(snap.count() == 2970)
    assert(snap.filter(col("k") === 107).count() == 0)
    assert(snap.filter(col("k") === 108).count() == 1)
    // the plan: a codegen'd StaticInvoke skip predicate over the native
    // parquet scan — the r10 broadcast anti-join (BroadcastExchange +
    // LeftAnti over ALL dv pairs, unbounded past the broadcast limit)
    // must be gone from the snapshot-read plan
    val plan = snap.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"dv read still broadcasts the dv pairs:\n$plan")
    assert(!plan.contains("LeftAnti"), s"dv read still anti-joins:\n$plan")
    assert(plan.contains("DvLookup"),
      s"dv read lost the executor-side skip predicate:\n$plan")
    // a second MoR delete supersedes: union of old+new positions applies
    TableFormat.deleteRowsDV(spark, base, col("k") % 100 === 8)
    assert(TableFormat.readSnapshot(spark, base).count() == 2940)
  }

  test("compact keeps the file-skipping index: consolidated files re-cluster on the declared columns with bounds (r11)") {
    val base = freshBase("tf_compact_stats")
    TableFormat.commit(spark, base, (0L until 1000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(2))
    // fragment the table with several tiny appends
    (1 to 4).foreach { i =>
      TableFormat.appendCommit(spark, base,
        Seq((1000L + i, 1000L + i)).toDF("k", "v"), statsCol = Some("k"))
    }
    val (vC, n) = TableFormat.compact(spark, base, smallBytes = 512 * 1024,
      targetFiles = 2)
    assert(n >= 4, s"expected the fragments compacted, got $n")
    val compacted = TableFormat.manifestEntries(spark, base, vC)
    assert(compacted.forall(e => e.lo.isDefined && e.hi.isDefined),
      "compacted files lost the declared column's bounds — the skipping " +
        "index would decay on every compaction")
    // and the bounds PRUNE: a narrow range must not read every file
    assert(TableFormat.readSnapshotWhere(spark, base, "k", 0, 10)._1.count() == 11)
    val keptFiles = compacted.count(_.mayMatch(0, 10))
    assert(keptFiles < compacted.size,
      s"post-compact pruning kept $keptFiles of ${compacted.size}")
  }

  test("manifest entries: 200 randomized stats/dv/ext/sext shapes round-trip the text format exactly (r11 property)") {
    val base = freshBase("tf_entry_rt")
    val rnd = new scala.util.Random(42)
    def optL(): Option[Long] =
      if (rnd.nextBoolean()) Some(rnd.nextLong() % 100000) else None
    val nasty = Seq("en", "zh", "a b", "x:y", "p;q", "%41", "tab\tchar",
      "unié中", "=eq", "", "zz")
    def optS(): Option[String] =
      if (rnd.nextBoolean()) Some(nasty(rnd.nextInt(nasty.length))) else None
    val entries = (0 until 200).map { i =>
      val withDv = rnd.nextInt(4) == 0
      val nExt = rnd.nextInt(3)
      val sextRaw = (0 until rnd.nextInt(4)).map(_ => (optS(), optS()))
      new TableFormat.ManifestEntry(
        s"/data/f$i.parquet",
        optL(), optL(), optL(), optL(), optL(), optL(),
        rows = if (rnd.nextBoolean()) Some(rnd.nextInt(100000).toLong) else None,
        dv = if (withDv) Some(s"/data/dv$i") else None,
        dvRows = if (withDv) Some(rnd.nextInt(1000).toLong) else None,
        ext = (0 until nExt).map(_ => (optL(), optL(), optL())),
        // the writer only emits sext when some bound is defined — an
        // all-None sext is indistinguishable from absent by design
        sext = if (sextRaw.exists(t => t._1.isDefined || t._2.isDefined)) sextRaw
               else Nil)
    }
    // publish them through a hand-built manifest file (the exact wire
    // format writeManifest emits) and read back through the real parser
    val body = (Seq("#schema\t" +
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT").json) ++
      entries.map(_.line)).mkString("\n")
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new org.apache.hadoop.fs.Path(s"$base/_manifests/v1.manifest"))
    out.write(body.getBytes("UTF-8")); out.close()
    val parsed = TableFormat.manifestEntries(spark, base, 1)
    // ext normalization: the writer serializes ext whenever nonEmpty,
    // but WITHOUT a dv/rows reason an all-empty trailing form may
    // shorten — compare the semantic accessors, which is what every
    // consumer reads
    assert(parsed.size == entries.size)
    parsed.zip(entries).zipWithIndex.foreach { case ((p, e), i) =>
      assert(p.path == e.path, s"entry $i path")
      (0 until 6).foreach { slot =>
        assert(p.statsAt(slot) == e.statsAt(slot) ||
          // stat-less short forms legitimately drop empty tails
          (e.statsAt(slot) == ((None, None, None)) &&
            p.statsAt(slot) == ((None, None, None))),
          s"entry $i numeric slot $slot: ${p.statsAt(slot)} vs ${e.statsAt(slot)}")
        assert(p.strStatsAt(slot) == e.strStatsAt(slot),
          s"entry $i string slot $slot: ${p.strStatsAt(slot)} vs ${e.strStatsAt(slot)}")
      }
      assert(p.rows == e.rows || (e.rows.isEmpty && p.rows.isEmpty), s"entry $i rows")
      assert(p.dv == e.dv && p.dvRows == e.dvRows, s"entry $i dv")
    }
  }

  test("parquet checkpoint sidecar: 200 randomized entry shapes round-trip the columnar format line-for-line (r14 property)") {
    val base = freshBase("tf_pq_rt")
    val rnd = new scala.util.Random(77)
    def optL(): Option[Long] =
      if (rnd.nextBoolean()) Some(rnd.nextLong() % 100000) else None
    val nasty = Seq("en", "zh", "a b", "x:y", "p;q", "%41", "tab\tchar",
      "unié中", "=eq", "", "zz")
    def optS(): Option[String] =
      if (rnd.nextBoolean()) Some(nasty(rnd.nextInt(nasty.length))) else None
    val entries = (0 until 200).map { i =>
      val withDv = rnd.nextInt(4) == 0
      val sextRaw = (0 until rnd.nextInt(4)).map(_ => (optS(), optS()))
      new TableFormat.ManifestEntry(
        s"/data/f$i.parquet",
        optL(), optL(), optL(), optL(), optL(), optL(),
        rows = if (rnd.nextBoolean()) Some(rnd.nextInt(100000).toLong) else None,
        dv = if (withDv) Some(s"/data/dv$i") else None,
        dvRows = if (withDv) Some(rnd.nextInt(1000).toLong) else None,
        ext = (0 until rnd.nextInt(3)).map(_ => (optL(), optL(), optL())),
        sext = if (sextRaw.exists(t => t._1.isDefined || t._2.isDefined)) sextRaw
               else Nil)
    }
    val p = s"$base/_manifests/v1.entries.test.zstd.parquet"
    TableFormat.writeEntriesParquet(spark, p, entries)
    val back = TableFormat.readEntriesParquet(spark, p)
    assert(back.size == entries.size)
    // LINE-identical: the text serialization is the format's canonical
    // spelling — the columnar sidecar must reproduce it byte-for-byte
    back.zip(entries).zipWithIndex.foreach { case ((b, e), i) =>
      assert(b.line == e.line, s"entry $i: ${b.line} != ${e.line}")
    }
  }

  test("parquet checkpoint manifests: big full manifests store entries columnar; chains, dv, time travel, vacuum exact (r14, VERDICT r13 #2)") {
    val base = freshBase("tf_pqchk")
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(80)) // ≥ PqCheckpointMinEntries → parquet form
    assert(TableFormat.manifest(spark, base, 1).entriesPq.isDefined,
      "an 80-entry full manifest should checkpoint as parquet")
    val (isDelta, _, body, bytes) = TableFormat.manifestLogStat(spark, base, 1)
    assert(!isDelta && body == 80 && bytes > 0)
    val e1 = TableFormat.manifestEntries(spark, base, 1)
    assert(e1.size == 80 && e1.forall(e => e.lo.isDefined && e.rows.isDefined),
      "columnar resolution must carry the full skipping index")
    // file skipping through the columnar stats: pruned read is exact
    val (pruned, (scanned, _)) = TableFormat.readSnapshotWhere(spark, base, "k", 0L, 49L)
    assert(scanned < 80, "stats from the parquet sidecar must prune")
    assert(pruned.collect().map(_.getLong(0)).toSet == (0L until 50L).toSet)
    // delta chain on top of a parquet checkpoint resolves exactly
    TableFormat.commit(spark, base, Seq((99999L, "x")).toDF("k", "v"), 2, Some(1))
    assert(TableFormat.manifestEntries(spark, base, 2).size > 80)
    assert(TableFormat.readSnapshot(spark, base).count() == 4001)
    // merge-on-read delete: the `~` edit script supersedes columnar-
    // resolved entries in place
    val (v3, _, _) = TableFormat.deleteRowsDV(spark, base, col("k") < 100L)
    assert(TableFormat.readSnapshot(spark, base).count() == 3901)
    // time travel back through the chain to the parquet checkpoint
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 4000)
    // vacuum: the retained checkpoint's sidecar survives, reads stay
    // exact; a planted ORPHAN sidecar of an unretained version reclaims
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(
      s"$base/_manifests/v2.entries.deadbeef.zstd.parquet")
    f.create(orphan).close()
    TableFormat.vacuum(spark, base, retain = Seq(1, v3))
    // r15 (ADVICE r14 medium): a FRESH unnamed sidecar may be a live
    // concurrent committer's pre-CAS staging — vacuum must leave it
    // inside the grace window even though its version is unretained
    assert(f.exists(orphan), "fresh unnamed sidecar must survive the grace window")
    // aged past the grace window it is a crashed committer's leftover
    f.setTimes(orphan, System.currentTimeMillis() - 6L * 60 * 1000, -1)
    TableFormat.vacuum(spark, base, retain = Seq(1, v3))
    assert(!f.exists(orphan), "aged orphan sidecar must reclaim")
    assert(TableFormat.manifest(spark, base, 1).entriesPq.isDefined)
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 4000)
    assert(TableFormat.readSnapshot(spark, base).count() == 3901)
    // a materialized retained version ≥ threshold is ALSO parquet: v3
    // resolved through v2 (now reclaimed), so vacuum materialized it
    assert(TableFormat.manifest(spark, base, v3).entriesPq.isDefined,
      "materialization of a big delta should land in the parquet form")
  }

  test("ALTER rename/drop of an outstanding equality-delete key column refuses; unrelated evolution stays allowed (r16, ADVICE r15 #2)") {
    val base = freshBase("tf_eq_alter")
    TableFormat.commit(spark, base,
      (0L until 50L).map(i => (i, s"r$i")).toDF("id", "v"), 1, None,
      statsCol = Some("id"))
    TableFormat.deleteByKeysEq(spark, base, Seq(7L).toDF("id"), "id")
    // eqdel records store the key by LOGICAL name: a rename would break
    // every serving read and the named cure; rename+re-add would
    // silently re-point the masks at an unrelated column — refuse both
    val eRen = intercept[UnsupportedOperationException] {
      TableFormat.alterRenameCommit(spark, base, "id", "id2")
    }
    assert(eRen.getMessage.contains("resolve_eqdel"), eRen.getMessage)
    val eDrop = intercept[UnsupportedOperationException] {
      TableFormat.alterDropCommit(spark, base, "id")
    }
    assert(eDrop.getMessage.contains("resolve_eqdel"), eDrop.getMessage)
    // NON-key evolution stays allowed while outstanding, and the
    // serving read keeps applying the mask through it
    val vR = TableFormat.alterRenameCommit(spark, base, "v", "val")
    assert(TableFormat.manifest(spark, base, vR).eqDels.nonEmpty)
    assert(TableFormat.readSnapshot(spark, base).count() == 49L)
    // resolution lifts the guard
    TableFormat.resolveEqDeletes(spark, base)
    val vOk = TableFormat.alterRenameCommit(spark, base, "id", "id2")
    assert(TableFormat.manifest(spark, base, vOk).schema
      .exists(_.fieldNames.contains("id2")))
    assert(TableFormat.readSnapshot(spark, base).count() == 49L)
  }

  test("equality-delete backlog: 50 interleaved commits keep the serving plan at ONE join per key column; past the size gate it runs off-broadcast exactly (r16, VERDICT r15 #1)") {
    val base = freshBase("tf_eq_backlog")
    TableFormat.commit(spark, base,
      (0L until 2000L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(4))
    var live = (0L until 2000L).toSet
    var next = 2000L
    val rnd = new scala.util.Random(16)
    // the exact workload the feature targets: a high-frequency CDC feed
    // that never ran resolve — 25 delete commits interleaved with 25
    // appends (50 commits, 26 distinct added-version intervals)
    (1 to 25).foreach { _ =>
      val keys = (0 until 20).map(_ => rnd.nextLong(next)).distinct
      live --= keys
      TableFormat.deleteByKeysEq(spark, base, keys.toDF("k"), "k")
      val app = next until next + 20L
      live ++= app
      TableFormat.appendCommit(spark, base,
        app.map(i => (i, s"a$i")).toDF("k", "v"), statsCol = Some("k"))
      next += 20
    }
    val vCur = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, vCur).eqDels.size == 25)
    // PLAN SHAPE: one anti-join for the one key column — the version
    // scoping lives in the join condition, NOT in a per-interval chain
    val df = TableFormat.readSnapshot(spark, base)
    val plan = df.queryExecution.optimizedPlan.toString
    val antiJoins = plan.sliding("LeftAnti".length).count(_ == "LeftAnti")
    assert(antiJoins == 1, s"expected 1 anti-join, got $antiJoins")
    assert(df.as[(Long, String)].collect().map(_._1).toSet == live,
      "backlog serving read diverged")
    // default gate: small key sets broadcast (the fast path)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "small key sets should take the broadcast fast path")
    // SIZE GATE: graft threshold 0 (and Spark's own auto-broadcast off,
    // emulating a backlog too big to estimate under it) must plan with
    // NO BroadcastExchange anywhere and stay exact — both the serving
    // read and the resolution join
    val autoBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.graft.eqdel.broadcastBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df2 = TableFormat.readSnapshot(spark, base)
      assert(!df2.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "size gate did not drop the broadcast")
      assert(df2.as[(Long, String)].collect().map(_._1).toSet == live,
        "off-broadcast serving read diverged")
      val (_, n) = TableFormat.resolveEqDeletes(spark, base)
      assert(n == 25)
    } finally {
      spark.conf.unset("spark.graft.eqdel.broadcastBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoBefore)
    }
    val vRes = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, vRes).eqDels.isEmpty)
    assert(TableFormat.readSnapshot(spark, base).as[(Long, String)]
      .collect().map(_._1).toSet == live, "post-resolution state diverged")
    // BACKLOG PRESSURE (r16, ADVICE r15 #3): past maxOutstanding the
    // ingest auto-resolves FIRST — the backlog can never exceed the cap
    spark.conf.set("spark.graft.eqdel.maxOutstanding", "4")
    try {
      (1 to 7).foreach { _ =>
        val k = rnd.nextLong(next)
        live -= k
        TableFormat.deleteByKeysEq(spark, base, Seq(k).toDF("k"), "k")
        val outst = TableFormat.manifest(spark, base,
          TableFormat.currentVersion(spark, base)).eqDels.size
        assert(outst <= 4, s"cap breached: $outst outstanding")
      }
      assert(TableFormat.readSnapshot(spark, base).as[(Long, String)]
        .collect().map(_._1).toSet == live, "capped backlog state diverged")
    } finally spark.conf.unset("spark.graft.eqdel.maxOutstanding")
  }

  test("equality-delete consolidation: key files union to ONE per-key-versioned file per column — serving and feeds unchanged, scoping exact across re-inserts, cap action (r16, r17 candidate #5)") {
    val base = freshBase("tf_eq_consol")
    TableFormat.appendCommit(spark, base,
      (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v"),
      statsCol = Some("k"))                                              // v1
    TableFormat.deleteByKeysEq(spark, base, Seq(0L, 1L, 2L).toDF("k"), "k") // v2
    TableFormat.appendCommit(spark, base,
      (Seq((0L, "re0"), (1L, "re1")) ++ (100L until 105L).map(i => (i, s"a$i")))
        .toDF("k", "v"), statsCol = Some("k"))                           // v3
    TableFormat.deleteByKeysEq(spark, base, Seq(1L, 3L, 100L).toDF("k"), "k") // v4
    // 0 was re-inserted AFTER its only delete (lives); 1 was re-inserted
    // but deleted AGAIN later (dies); 2/3/100 die
    val live: Set[Long] =
      Set(0L) ++ (4L until 100L).toSet ++ (101L until 105L).toSet
    def served: Set[Long] = TableFormat.readSnapshot(spark, base)
      .select("k").as[Long].collect().toSet
    assert(served == live)
    val pre = TableFormat.readSnapshot(spark, base).orderBy("k", "v")
      .as[(Long, String)].collect().toSeq
    // CONSOLIDATE: 2 records → 1 per-key-versioned (`eqc`) file; the
    // per-key max(deleteV) is exact because a later delete masks a
    // superset of files
    val (vc, n) = TableFormat.consolidateEqDeletes(spark, base)          // v5
    assert(n == 2, s"consolidated records: $n")
    val recs = TableFormat.manifest(spark, base, vc).eqDels
    assert(recs.size == 1 && recs.head._2 == "k" &&
      new org.apache.hadoop.fs.Path(recs.head._1).getName.startsWith("eqc"),
      recs.toString)
    assert(TableFormat.readSnapshot(spark, base).orderBy("k", "v")
      .as[(Long, String)].collect().toSeq == pre,
      "consolidation must not change the served snapshot")
    // idempotent: already one record per column → metadata no-op
    assert(TableFormat.consolidateEqDeletes(spark, base) == ((vc, 0)))
    // scoping survives the consolidation: a re-insert of 2 lives (its
    // stored delete version predates this add), and a FRESH delete
    // masks through the mixed consolidated + plain record set
    TableFormat.appendCommit(spark, base, Seq((2L, "re2")).toDF("k", "v"),
      statsCol = Some("k"))                                              // v6
    assert(served == live + 2L, "re-insert after consolidation must live")
    val (v7, _) =
      TableFormat.deleteByKeysEq(spark, base, Seq(4L).toDF("k"), "k")    // v7
    assert(served == live + 2L - 4L)
    // BATCH FEED: the consolidate commit is silent; the fresh delete_eq
    // attributes exactly its rows (its live side reads THROUGH the
    // consolidated masks); the whole feed folds to the snapshot
    val ch = TableFormat.readChanges(spark, base, 0, v7)
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Int)].collect().toSeq
    assert(!ch.exists(_._3 == vc), "consolidate commit must be feed-silent")
    assert(ch.filter(r => r._3 == v7 && r._2 == "delete").map(_._1) == Seq(4L),
      s"post-consolidation delete emission: ${ch.filter(_._3 == v7)}")
    assert(ch.count(_._2 == "insert") - ch.count(_._2 == "delete") == served.size,
      "batch feed must fold to the snapshot")
    // STREAMING FEED across the span: v7's earlier masks load from the
    // consolidated file EXECUTOR-side, per-key versions filtered against
    // each file's added-version
    val q = spark.readStream.format("graft-table").option("path", base)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("tf_eq_consol_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tf_eq_consol_stream").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getInt(3))).toSeq
      assert(!rows.exists(_._3 == vc), "consolidate commit must stream nothing")
      assert(rows.filter(r => r._3 == v7 && r._2 == "delete").map(_._1) == Seq(4L),
        s"streamed post-consolidation delete emission: ${rows.filter(_._3 == v7)}")
      assert(rows.count(_._2 == "insert") - rows.count(_._2 == "delete") ==
        served.size, "streamed feed must fold to the snapshot")
    } finally q.stop()
    // resolution converges from the consolidated state
    TableFormat.resolveEqDeletes(spark, base)
    assert(TableFormat.manifest(spark, base,
      TableFormat.currentVersion(spark, base)).eqDels.isEmpty)
    assert(served == live + 2L - 4L, "post-resolution state diverged")
    // CAP ACTION: `capAction=consolidate` takes the cheap middle step at
    // the cap instead of resolving — outstanding collapses to one
    // consolidated record, no dv commit, answers stay exact
    spark.conf.set("spark.graft.eqdel.maxOutstanding", "2")
    spark.conf.set("spark.graft.eqdel.capAction", "consolidate")
    try {
      TableFormat.deleteByKeysEq(spark, base, Seq(5L).toDF("k"), "k")
      TableFormat.deleteByKeysEq(spark, base, Seq(6L).toDF("k"), "k")
      TableFormat.deleteByKeysEq(spark, base, Seq(7L).toDF("k"), "k") // at cap
      val cur = TableFormat.currentVersion(spark, base)
      assert(TableFormat.manifest(spark, base, cur - 1).op
        .contains("eqdel_consolidate"), "cap must consolidate, not resolve")
      val out = TableFormat.manifest(spark, base, cur).eqDels
      assert(out.size == 2,
        s"one consolidated + the fresh record expected: $out")
      assert(served == live + 2L - 4L - 5L - 6L - 7L,
        "capped-consolidation state diverged")
    } finally {
      spark.conf.unset("spark.graft.eqdel.maxOutstanding")
      spark.conf.unset("spark.graft.eqdel.capAction")
    }
  }

  test("consolidation-aware vacuum accounting: the preview's eq-key line item predicts the real reclaim of superseded per-batch key dirs exactly (r17, VERDICT r16 #4)") {
    val base = freshBase("tf_eq_vacct")
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableFormat.appendCommit(spark, base,
      (0L until 200L).map(i => (i, s"r$i")).toDF("k", "v"),
      statsCol = Some("k"))                                            // v1
    // three per-batch key files → one consolidated eqc file
    TableFormat.deleteByKeysEq(spark, base, Seq(0L, 1L).toDF("k"), "k")   // v2
    TableFormat.deleteByKeysEq(spark, base, Seq(2L, 3L).toDF("k"), "k")   // v3
    TableFormat.deleteByKeysEq(spark, base, Seq(4L).toDF("k"), "k")       // v4
    val (vc, _) = TableFormat.consolidateEqDeletes(spark, base)           // v5
    val live = (5L until 200L).toSet
    def served: Set[Long] = TableFormat.readSnapshot(spark, base)
      .select("k").as[Long].collect().toSet
    assert(served == live)
    // measured truth: bytes under data/eq* dirs (per-batch AND eqc)
    def eqDirBytes(): (Int, Long) = {
      var n = 0; var b = 0L
      val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$base/data"), true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath
          .stripPrefix(new org.apache.hadoop.fs.Path(s"$base/data").toUri.getPath)
          .stripPrefix("/")
        if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
            rel.takeWhile(_ != '/').matches("eqc?\\d+_.*")) {
          n += 1; b += st.getLen
        }
      }
      (n, b)
    }
    val (eqFilesBefore, eqBytesBefore) = eqDirBytes()
    assert(eqFilesBefore >= 4, s"3 per-batch + 1 consolidated expected: $eqFilesBefore")
    // retaining full history: every per-batch key dir is still
    // referenced by the older manifests — nothing eq-reclaimable yet
    val allVs = (1 to TableFormat.currentVersion(spark, base)).toSeq
    val fullPrev = TableFormat.vacuumPreview(spark, base, allVs)
    assert(fullPrev._4 == 0 && fullPrev._5 == 0L,
      s"retained history must keep the per-batch key dirs: $fullPrev")
    // retaining only the head: the consolidate→vacuum payoff — the
    // superseded per-batch key dirs (eq*, NOT the live eqc file the
    // current manifest references) become the eq line item
    val cur = TableFormat.currentVersion(spark, base)
    val prev = TableFormat.vacuumPreview(spark, base, Seq(cur))
    assert(prev._4 == 3, s"three superseded per-batch key files: $prev")
    assert(prev._5 > 0L && prev._5 < eqBytesBefore,
      s"eq bytes must exclude the live consolidated file: $prev vs $eqBytesBefore")
    // the REAL vacuum reclaims exactly the predicted eq bytes: the
    // preview and the verb share the retained-set walk
    TableFormat.vacuum(spark, base, Seq(cur))
    val (eqFilesAfter, eqBytesAfter) = eqDirBytes()
    assert(eqFilesBefore - eqFilesAfter == prev._4,
      s"eq file reclaim mismatch: $eqFilesBefore -> $eqFilesAfter vs ${prev._4}")
    assert(eqBytesBefore - eqBytesAfter == prev._5,
      s"eq byte reclaim mismatch: ${eqBytesBefore - eqBytesAfter} vs ${prev._5}")
    // serving is untouched: the consolidated masks still apply
    assert(served == live, "post-vacuum serving diverged")
    val _ = vc
  }

  test("composite-key equality deletes: tuple masks never over-delete, scoping across re-inserts, consolidation, both feeds exact, alter guard (r16)") {
    val base = freshBase("tf_eq_multi")
    // the same uid lives under BOTH tenants: a single-column mask would
    // over-delete — the tuple must not
    def mk(t: String, ids: Seq[Long], tag: String) =
      ids.map(i => (t, i, s"$tag$t$i"))
    TableFormat.appendCommit(spark, base,
      (mk("a", 0L until 50L, "r") ++ mk("b", 0L until 50L, "r"))
        .toDF("tenant", "uid", "v"), statsCol = Some("uid"))          // v1
    var live = (mk("a", 0L until 50L, "r") ++ mk("b", 0L until 50L, "r")).toSet
    def served: Set[(String, Long, String)] =
      TableFormat.readSnapshot(spark, base)
        .as[(String, Long, String)].collect().toSet
    val (v2, n2) = TableFormat.deleteByKeysEq(spark, base,
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("tenant", "uid"),
      Seq("tenant", "uid"))                                           // v2
    assert(n2 == 3)
    live --= Set(("a", 1L, "ra1"), ("a", 2L, "ra2"), ("b", 3L, "rb3"))
    assert(served == live, "tuple mask over- or under-deleted")
    assert(served.exists(_ == ("b", 1L, "rb1")) &&
      served.exists(_ == ("a", 3L, "ra3")),
      "the OTHER tenant's same uid must survive — tuple, not column, masking")
    // the record stores the comma-joined spec; ONE anti-join serves it
    assert(TableFormat.manifest(spark, base, v2).eqDels.head._2 == "tenant,uid")
    val plan = TableFormat.readSnapshot(spark, base)
      .queryExecution.optimizedPlan.toString
    assert(plan.sliding("LeftAnti".length).count(_ == "LeftAnti") == 1, plan)
    // re-insert one deleted tuple + a fresh row; a LATER delete masks
    // the re-insert, an earlier one never does — and a NULL-component
    // key row is dropped at ingest (SQL equality can never match it)
    TableFormat.appendCommit(spark, base,
      Seq(("a", 1L, "re"), ("a", 100L, "new")).toDF("tenant", "uid", "v"),
      statsCol = Some("uid"))                                         // v3
    live ++= Set(("a", 1L, "re"), ("a", 100L, "new"))
    assert(served == live, "re-inserted tuple must live until re-deleted")
    val (v4, n4) = TableFormat.deleteByKeysEq(spark, base,
      (Seq(("a", Option(1L)), ("a", Option(4L)), (null.asInstanceOf[String], Option(5L)),
        ("b", None)): Seq[(String, Option[Long])]).toDF("tenant", "uid"),
      Seq("tenant", "uid"))                                           // v4
    assert(n4 == 2, s"NULL-component keys must drop at ingest: $n4")
    live --= Set(("a", 1L, "re"), ("a", 4L, "ra4"))
    assert(served == live, "re-delete after re-insert diverged")
    // CONSOLIDATE the two composite records into one eqc file
    val (vc, nc) = TableFormat.consolidateEqDeletes(spark, base)      // v5
    assert(nc == 2)
    val recs = TableFormat.manifest(spark, base, vc).eqDels
    assert(recs.size == 1 && recs.head._2 == "tenant,uid" &&
      new org.apache.hadoop.fs.Path(recs.head._1).getName.startsWith("eqc"))
    assert(served == live, "consolidation changed the served tuples")
    // a fresh delete AFTER consolidation: its feed emission must read
    // the earlier masks from the CONSOLIDATED tuple file — (a,1) is
    // already dead and must not re-emit; (b,2) emits
    val (v6, _) = TableFormat.deleteByKeysEq(spark, base,
      Seq(("b", 2L), ("a", 1L)).toDF("tenant", "uid"),
      Seq("tenant", "uid"))                                           // v6
    live -= (("b", 2L, "rb2"))
    assert(served == live)
    val ch = TableFormat.readChanges(spark, base, 0, v6)
      .select("tenant", "uid", "v", "_change_type", "_commit_version")
      .as[(String, Long, String, String, Int)].collect().toSeq
    assert(!ch.exists(_._5 == vc), "consolidate commit must be feed-silent")
    assert(ch.filter(c => c._5 == v6 && c._4 == "delete")
      .map(c => (c._1, c._2, c._3)) == Seq(("b", 2L, "rb2")),
      s"v6 emission must skip the already-masked tuple: ${ch.filter(_._5 == v6)}")
    assert(ch.filter(c => c._5 == v4 && c._4 == "delete")
      .map(c => (c._1, c._2)).toSet == Set(("a", 1L), ("a", 4L)),
      s"v4 emission: ${ch.filter(_._5 == v4)}")
    // STREAMING feed: same attribution, the eqc tuple set probed
    // executor-side with per-file added-version scoping
    val q = spark.readStream.format("graft-table").option("path", base)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("tf_eq_multi_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tf_eq_multi_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getInt(4))).toSeq
      assert(rows.filter(c => c._5 == v6 && c._4 == "delete")
        .map(c => (c._1, c._2, c._3)) == Seq(("b", 2L, "rb2")),
        s"streamed v6 emission: ${rows.filter(_._5 == v6)}")
      assert(rows.filter(c => c._5 == v4 && c._4 == "delete")
        .map(c => (c._1, c._2)).toSet == Set(("a", 1L), ("a", 4L)))
      assert(rows.count(_._4 == "insert") - rows.count(_._4 == "delete") ==
        live.size, "streamed feed must fold to the snapshot")
    } finally q.stop()
    // ALTER guard covers EVERY component of a composite key
    val eRen = intercept[UnsupportedOperationException] {
      TableFormat.alterRenameCommit(spark, base, "uid", "uid2")
    }
    assert(eRen.getMessage.contains("resolve_eqdel"), eRen.getMessage)
    // resolution converges to plain dv state; answers unchanged
    TableFormat.resolveEqDeletes(spark, base)
    assert(TableFormat.manifest(spark, base,
      TableFormat.currentVersion(spark, base)).eqDels.isEmpty)
    assert(served == live, "post-resolution tuples diverged")
  }

  test("equality deletes: O(batch) ingest with zero table IO; version-scoped reads; resolution converges with deleteByKeysDV (r15, VERDICT r14 #4)") {
    val base = freshBase("tf_eqdel")
    val mirror = freshBase("tf_eqdel_mirror")
    import org.apache.spark.sql.functions.col
    val rows = (0L until 4000L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(4))
    TableFormat.commit(spark, mirror, rows, 1, None, statsCol = Some("k"),
      clusterFiles = Some(4))
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(b: String): Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$b/data"), true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) out += st.getPath.toUri.getPath
      }
      out.toSet
    }
    def snap(b: String) = TableFormat.readSnapshot(spark, b)
      .orderBy("k", "v").collect().toSeq
    // batch 1: equality delete of keys [100, 200) — INGEST IO PIN: the
    // only new bytes under data/ are the key files themselves (no data
    // file read or rewritten, no dv dir, no join anywhere: the commit
    // is manifest entries VERBATIM + one header)
    val before = dataFiles(base)
    val keys1 = (100L until 200L).toDF("k")
    val (v2, n1) = TableFormat.deleteByKeysEq(spark, base, keys1, "k")
    assert(n1 == 100L)
    val addedFiles = dataFiles(base) -- before
    assert(addedFiles.nonEmpty && addedFiles.forall(_.contains("/eq")),
      s"equality delete wrote more than its key set: $addedFiles")
    assert(TableFormat.manifestEntries(spark, base, v2).map(_.line) ==
      TableFormat.manifestEntries(spark, base, 1).map(_.line),
      "eqdel commit must carry entries verbatim")
    TableFormat.deleteByKeysDV(spark, mirror, keys1, "k")
    assert(snap(base) == snap(mirror))
    assert(TableFormat.readSnapshot(spark, base).count() == 3900)
    // version scoping: re-inserted keys LIVE (added after the delete)
    val reins = Seq((150L, "new150"), (151L, "new151")).toDF("k", "v")
    TableFormat.appendCommit(spark, base, reins, statsCol = Some("k"))
    TableFormat.appendCommit(spark, mirror, reins, statsCol = Some("k"))
    assert(snap(base) == snap(mirror))
    assert(TableFormat.readSnapshot(spark, base).filter(col("k") === 150L).count() == 1)
    // batch 2: a delete covering a re-inserted key + fresh keys — masks
    // the re-insert (added before THIS delete) and the fresh keys
    val keys2 = Seq(150L, 500L, 501L).toDF("k")
    val (v4, _) = TableFormat.deleteByKeysEq(spark, base, keys2, "k")
    TableFormat.deleteByKeysDV(spark, mirror, keys2, "k")
    assert(snap(base) == snap(mirror),
      "eq semantics must converge with per-batch deleteByKeysDV")
    // the file-skipping read path applies the masks too
    val (dfSkip, _) = TableFormat.readSnapshotWhere(spark, base, "k", 0L, 600L)
    val mirrorRange = TableFormat.readSnapshot(spark, mirror)
      .filter(col("k").between(0L, 600L)).count()
    assert(dfSkip.count() == mirrorRange)
    // time travel: each version masks exactly its own outstanding set
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 4000)
    assert(TableFormat.readSnapshot(spark, base, Some(v2)).count() == 3900)
    // vacuum keeps outstanding key files (they are live deletion state)
    val cur = TableFormat.currentVersion(spark, base)
    TableFormat.vacuum(spark, base, retain = (1 to cur))
    assert(snap(base) == snap(mirror), "vacuum reclaimed live eqdel key files")
    // safety rail: a CoW rewrite would re-add masked rows — refused
    val eCow = intercept[UnsupportedOperationException](
      TableFormat.deleteWhere(spark, base, "k", 0L, 10L))
    assert(eCow.getMessage.contains("equality delete"), eCow.getMessage)
    // the BATCH change feed SERVES the outstanding span (r16, upgraded
    // from the r15 refusal): each delete_eq commit emits exactly the
    // rows it logically deleted — the v4 delete of key 150 emits the
    // RE-INSERTED row only (the original was already dead under the v2
    // masks; an already-emitted delete never re-emits)
    val chOut = TableFormat.readChanges(spark, base, 1, cur)
    val delByV = chOut.filter(col("_change_type") === "delete")
      .groupBy("_commit_version").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(delByV == Map(v2 -> 100L, v4 -> 3L), s"per-commit deletes: $delByV")
    assert(chOut.filter(col("_change_type") === "delete")
      .filter(col("_commit_version") === v4)
      .select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((150L, "new150"), (500L, "r500"), (501L, "r501")),
      "v4 must emit the re-inserted 150, not the long-dead original")
    // the PLAIN (append-only) stream still refuses — a delete cannot
    // arrive on an append contract; the CDF stream SERVES eq spans
    // since r16 (pinned by its own spec in GraftTableSpec)
    def streamFails(readChangeFeed: Boolean): Unit = {
      val reader0 = spark.readStream.format("graft-table").option("path", base)
      val reader = if (readChangeFeed) reader0.option("readChangeFeed", "true")
                   else reader0
      val q = reader.load().writeStream.format("noop").start()
      val ex = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(m =>
        m.contains("resolve_eqdel") || m.contains("equality delete") ||
          m.contains("append")),
        s"wrong stream failure (cdf=$readChangeFeed): ${messages(ex).mkString(" | ")}")
      q.stop()
    }
    streamFails(readChangeFeed = false)
    // branches: the zero-copy clone CARRIES the eqdel state (a dropped
    // header would silently un-delete every masked row in the branch),
    // and publish refuses while the branch's deletes are outstanding
    // (the parent would reference branch-tree key files the drop_branch
    // guard cannot see)
    val (bb, _) = TableFormat.branchCreate(spark, base, "dev")
    assert(TableFormat.readSnapshot(spark, bb).orderBy("k", "v").collect().toSeq
      == snap(base), "branch clone lost the equality-delete state")
    val ePub = intercept[UnsupportedOperationException](
      TableFormat.publishBranch(spark, base, "dev"))
    assert(ePub.getMessage.contains("resolve_eqdel"), ePub.getMessage)
    // observability: DESCRIBE DETAIL surfaces the outstanding count
    assert(spark.sql(s"SELECT n_eqdel FROM graft_table_detail('$base')")
      .head.getInt(0) == 2, "detail TVF must report outstanding eqdels")
    // RESOLUTION: one dv commit clears the headers, answers unchanged,
    // final state == the mirror deleteByKeysDV produced batch-by-batch
    val (rv, nRes) = TableFormat.resolveEqDeletes(spark, base)
    assert(nRes == 2)
    assert(TableFormat.manifest(spark, base, rv).eqDels.isEmpty &&
      TableFormat.manifest(spark, base, rv).eqAdds.isEmpty)
    assert(spark.sql(s"SELECT n_eqdel FROM graft_table_detail('$base')")
      .head.getInt(0) == 0, "detail TVF must show zero after resolution")
    assert(snap(base) == snap(mirror))
    assert(TableFormat.manifestEntries(spark, base, rv).exists(_.dv.isDefined),
      "resolution must land positional dvs")
    // CDF across the RESOLVED span reconstructs the final state: the
    // eq deletes stay attributed to their delete_eq commits, the
    // resolve commit is metadata-silent (r16)
    val ch = TableFormat.readChanges(spark, base, 1, rv)
    assert(ch.filter(col("_commit_version") === rv).count() == 0,
      "the resolve commit must emit nothing — its rows were attributed " +
        "at their delete_eq commits")
    val net = ch.filter(col("_change_type") === "insert").count() -
      ch.filter(col("_change_type") === "delete").count()
    assert(4000L + net == TableFormat.readSnapshot(spark, base).count(),
      "CDF over the resolved span must fold to the snapshot")
    // compact AUTO-RESOLVES a fresh outstanding delete before rewriting
    TableFormat.deleteByKeysEq(spark, base, Seq(600L).toDF("k"), "k")
    TableFormat.compact(spark, base, smallBytes = Long.MaxValue, targetFiles = 2)
    val head = TableFormat.currentVersion(spark, base)
    assert(TableFormat.manifest(spark, base, head).eqDels.isEmpty)
    assert(TableFormat.readSnapshot(spark, base)
      .filter(col("k") === 600L).count() == 0)
  }

  test("dv runs: a dense delete encodes as runs, bytes far under 16 per row (r11, VERDICT r10 #4)") {
    val base = freshBase("tf_dv_rle")
    TableFormat.commit(spark, base, (0L until 200000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(2))
    // delete a dense contiguous block of 90k rows, but NOT a whole file
    // (a fully-deleted file drops from the manifest instead)
    val (v2, withDv, _) = TableFormat.deleteRowsDV(spark, base,
      col("k").between(5000L, 94999L))
    assert(withDv >= 1, "expected at least one dv-carrying file")
    assert(TableFormat.readSnapshot(spark, base).count() == 110000L)
    assert(TableFormat.readSnapshot(spark, base)
      .filter(col("k").between(5000L, 94999L)).count() == 0)
    // the dv dir's bytes: 90k deleted rows × 16 B/pair = 1.44 MB in the
    // positions encoding; runs collapse the block to a handful of rows
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDirs = TableFormat.manifestEntries(spark, base, v2).flatMap(_.dv).distinct
    assert(dvDirs.nonEmpty)
    // recursive walk (r12): sharded dv dirs keep sidecars under __fk= subdirs
    def dvDirBytes(d: String): Long = {
      var n = 0L
      val it = f.listFiles(new org.apache.hadoop.fs.Path(d), true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) n += st.getLen
      }
      n
    }
    val dvBytes = dvDirs.map(dvDirBytes).sum
    assert(dvBytes < 16L * 90000 / 10,
      s"dense dv is $dvBytes bytes — run-length encoding is not collapsing " +
        s"(positions form would be ${16L * 90000})")
    // superseding delete unions through the run encoding; time travel to
    // v2 still sees v2's deletion state
    TableFormat.deleteRowsDV(spark, base, col("k") === 100000L)
    assert(TableFormat.readSnapshot(spark, base).count() == 109999L)
    assert(TableFormat.readSnapshot(spark, base, Some(v2)).count() == 110000L)
  }

  test("incremental optimize reads STRING leading-key bounds — a lang-clustered body carries by reference (r12 review)") {
    val base = freshBase("tf_opt_incr_str")
    val langs = Seq("ar", "de", "en", "fr", "ja", "ko", "pt", "zh")
    // clustered body: one file per language band (string-range clustered)
    TableFormat.commit(spark, base,
      (0L until 8000L).map(i => (langs((i % 8).toInt), i)).toDF("lang", "doc_id"),
      1, None, statsCol = Some("lang"), clusterFiles = Some(8))
    val v1 = TableFormat.manifestEntries(spark, base, 1)
    assert(v1.forall(e => e.strStatsAt(0)._1.isDefined), "premise: string bounds")
    // a small tail append straddling every language
    TableFormat.appendCommit(spark, base,
      langs.zipWithIndex.map { case (l, i) => (l, 100000L + i) }.toDF("lang", "doc_id"),
      statsCol = Some("lang"))
    val total = TableFormat.manifestEntries(spark, base, 2).size
    val (v3, rewritten, tot) = TableFormat.optimizeIncremental(spark, base)
    assert(tot == total)
    assert(rewritten < tot,
      s"string-clustered body fully rewritten ($rewritten/$tot) — string bounds unread")
    assert(rewritten >= 1)
    assert(TableFormat.readSnapshot(spark, base, Some(v3)).count() == 8008L)
  }

  test("CDF update pairing caps at min(inserts, deletes) per key — excess rows keep honest tags (r12 review)") {
    val base = freshBase("tf_cdf_mult")
    TableFormat.commit(spark, base,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), 1, None,
      statsCol = Some("k"))
    TableFormat.alterConstraintsCommit(spark, base,
      upsert = Some("pk" -> "PK:k")) // RELY key — duplicates still legal
    // replace: key 1 gets ONE delete (old row) and TWO inserts; key 2
    // updates cleanly; key 3 is deleted; key 4 is a pure insert
    TableFormat.commit(spark, base,
      Seq((1L, 11L), (1L, 12L), (2L, 21L), (4L, 40L)).toDF("k", "v"),
      3, parent = None, statsCol = Some("k"))
    val ch = TableFormat.readChanges(spark, base, 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    def of(t: String) = ch.filter(_._3 == t).map(c => (c._1, c._2)).sorted
    // key 2: clean pair; key 1: exactly ONE pair + one honest insert
    assert(of("update_preimage").contains((2L, 20L)))
    assert(of("update_postimage").contains((2L, 21L)))
    assert(of("update_preimage").count(_._1 == 1L) == 1,
      s"key 1 must contribute exactly one preimage: $ch")
    assert(of("update_postimage").count(_._1 == 1L) == 1)
    assert(of("insert").count(_._1 == 1L) == 1,
      s"key 1's excess insert must stay tagged insert: $ch")
    assert(of("insert").contains((4L, 40L)))
    assert(of("delete") == Seq((3L, 30L)), s"key 3 is a genuine delete: $ch")
  }

  test("auto-analyze: a heavy delete rebuilds stale NDV only under graft.analyze.auto; light deletes never trigger (r12, VERDICT r11 #7)") {
    def est(base: String): Long = {
      val v = TableFormat.currentVersion(spark, base)
      TableFormat.ndvEstimate(TableFormat.manifest(spark, base, v).ndv("k"))
    }
    // WITHOUT the property: the sketch is an upper bound frozen at
    // pre-delete cardinality — no hidden extra commit, estimate stale
    val base = freshBase("tf_auto_an")
    TableFormat.commit(spark, base, (0L until 10000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.deleteWhere(spark, base, "k", 0L, 8999L) // −90 %
    assert(TableFormat.currentVersion(spark, base) == 2, "unexpected extra commit")
    assert(est(base) > 5000, s"premise: estimate should be stale, got ${est(base)}")
    // WITH the property: the same delete triggers ANALYZE automatically —
    // one extra metadata commit, estimate repaired to the live table
    val base2 = freshBase("tf_auto_an2")
    TableFormat.commit(spark, base2, (0L until 10000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.alterPropsCommit(spark, base2,
      Map("graft.analyze.auto" -> "true"), Nil)
    TableFormat.deleteWhere(spark, base2, "k", 0L, 8999L)
    val v2 = TableFormat.currentVersion(spark, base2)
    assert(v2 == 4, s"expected commit+props+delete+analyze = v4, got v$v2")
    assert(TableFormat.manifest(spark, base2, v2).op.contains("alter"),
      "last commit should be the auto-ANALYZE")
    val repaired = est(base2)
    assert(repaired < 2000, s"auto-analyze did not repair the estimate: $repaired")
    // a BELOW-threshold delete (default 0.2) commits once, no analyze
    TableFormat.deleteWhere(spark, base2, "k", 9000L, 9099L)
    assert(TableFormat.currentVersion(spark, base2) == 5,
      "light delete must not trigger analyze")
    // merge-on-read deletes trigger through the same hook
    val base3 = freshBase("tf_auto_an3")
    TableFormat.commit(spark, base3, (0L until 10000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.alterPropsCommit(spark, base3,
      Map("graft.analyze.auto" -> "true", "graft.analyze.threshold" -> "0.5"), Nil)
    TableFormat.deleteRowsDV(spark, base3, col("k") % 10L =!= 9L) // −90 %, dv path
    assert(TableFormat.currentVersion(spark, base3) == 4)
    assert(est(base3) < 2000, s"dv-delete auto-analyze missing: ${est(base3)}")
  }

  test("incremental optimize: only layout-violating files rewrite, the clustered body carries by reference (r12, VERDICT r11 #5)") {
    val base = freshBase("tf_opt_incr")
    // clustered body: 5 disjoint range files over k = 0..9999
    TableFormat.commit(spark, base,
      (0L until 10000L).filter(_ % 100 != 0).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(5))
    val bodyPaths = TableFormat.manifestEntries(spark, base, 1).map(_.path).toSet
    assert(bodyPaths.size == 5)
    // tail append straddling every body range (every 100th key)
    TableFormat.appendCommit(spark, base,
      (0L until 10000L by 100L).map(i => (i, i)).toDF("k", "v"),
      statsCol = Some("k"))
    val v2Entries = TableFormat.manifestEntries(spark, base, 2)
    val before = TableFormat.readSnapshot(spark, base)
      .agg(count(lit(1)), sum(col("k")), sum(col("v"))).head
    val (v3, rewritten, total) = TableFormat.optimizeIncremental(spark, base)
    assert(v3 == 3)
    assert(total == v2Entries.size)
    assert(rewritten >= 1 && rewritten == total - 5,
      s"expected exactly the appended tail rewritten, got $rewritten/$total")
    // the body carried BY REFERENCE — same paths, untouched
    val v3Paths = TableFormat.manifestEntries(spark, base, v3).map(_.path).toSet
    assert(bodyPaths.subsetOf(v3Paths), "clustered body files were rewritten")
    // answer identity through the pass
    val after = TableFormat.readSnapshot(spark, base)
      .agg(count(lit(1)), sum(col("k")), sum(col("v"))).head
    assert(before == after, s"optimize changed the answer: $before vs $after")
    // CDF-silent: the optimize commit emits nothing
    assert(TableFormat.readChanges(spark, base, 2, v3)
      .filter(col("_commit_version") === v3).count() == 0L)
    // a FULLY conforming snapshot no-ops instead of committing
    val base2 = freshBase("tf_opt_incr2")
    TableFormat.commit(spark, base2, (0L until 1000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    val (vSame, rw2, _) = TableFormat.optimizeIncremental(spark, base2)
    assert(vSame == 1 && rw2 == 0, s"conforming snapshot rewrote $rw2 files")
  }

  test("dv sidecars: a task reads only its OWN file's dv bytes, not the dir (r12, VERDICT r11 #1)") {
    val base = freshBase("tf_dv_shard")
    // 4 range-clustered files, a scattered delete touching all of them
    TableFormat.commit(spark, base, (0L until 40000L).map(i => (i, i * 2)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(4))
    val (v2, withDv, total) = TableFormat.deleteRowsDV(spark, base, col("k") % 100L === 7L)
    assert(withDv == 4 && total == 4, s"expected all 4 files dv-touched, got $withDv/$total")
    // reads stay exact through the sharded layout
    assert(TableFormat.readSnapshot(spark, base).count() == 40000L - 400L)
    assert(TableFormat.readSnapshot(spark, base)
      .filter(col("k") % 100L === 7L).count() == 0L)
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = TableFormat.manifestEntries(spark, base, v2).filter(_.dv.isDefined)
    assert(entries.size == 4)
    val dir = entries.head.dv.get
    val f = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    // layout IS sharded: one __fk= sidecar subtree per data file
    val shards = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__fk="))
    assert(shards.length == 4, s"expected 4 sidecar shards, got ${shards.length}")
    // THE r12 claim: the files a task opens for ONE data file are exactly
    // its own shard — own-sidecar bytes strictly under the dir total, and
    // disjoint across data files
    def bytes(sts: Seq[org.apache.hadoop.fs.FileStatus]) = sts.map(_.getLen).sum
    val dirTotal = shards.flatMap(s => f.listStatus(s.getPath).filter(_.isFile)).map(_.getLen).sum
    val perFile = entries.map(e => DvLookup.sidecarFiles(conf, dir, e.path))
    perFile.foreach { sts =>
      assert(sts.nonEmpty, "a dv-touched file must resolve to its own sidecar")
      assert(bytes(sts) < dirTotal,
        s"per-task dv bytes ${bytes(sts)} not under dir total $dirTotal — still scanning the dir")
      val shardDirs = sts.map(_.getPath.getParent.getName).distinct
      assert(shardDirs.size == 1 && shardDirs.head.startsWith("__fk="),
        s"sidecar files span shards: $shardDirs")
    }
    assert(perFile.flatMap(_.map(_.getPath.toString)).distinct.size ==
      perFile.map(_.size).sum, "sidecar file sets overlap across data files")
    // positions parity: the sharded lookup returns exactly this file's ordinals
    val e0 = entries.head
    val got = DvLookup.positions(conf, dir, e0.path)
    assert(got.size.toLong == e0.dvRows.get, s"ordinals ${got.size} != dvRows ${e0.dvRows.get}")
    // a PRE-r12 flat dir (no __fk= subdirs) still reads: write one by hand
    val flatDir = s"$base/data/dv_legacy"
    import spark.implicits._
    Seq((new org.apache.hadoop.fs.Path(e0.path).toUri.toString, 3L, 2L))
      .toDF("file_path", "run_start", "run_len")
      .coalesce(1).write.parquet(flatDir)
    val legacy = DvLookup.positions(conf, flatDir, e0.path)
    assert(legacy.contains(3L) && legacy.contains(4L) && legacy.size == 2,
      s"legacy flat dv dir misread: $legacy")
    // superseding delete through the sharded union path; vacuum keeps the
    // recursive sidecar files of the retained version
    val (v3, _, _) = TableFormat.deleteRowsDV(spark, base, col("k") === 11L)
    assert(TableFormat.readSnapshot(spark, base).count() == 40000L - 401L)
    TableFormat.vacuum(spark, base, retain = Seq(v3))
    assert(TableFormat.readSnapshot(spark, base).count() == 40000L - 401L,
      "vacuum reclaimed sharded sidecars still referenced by the retained manifest")
  }

  test("dv runs: per-task dv heap ∝ RUN count, not ordinal count (r13, VERDICT r12 weak)") {
    // DvRuns algebra first: normalization, membership, subtraction
    val r = DvRuns.fromPairs(Seq((10L, 5L), (14L, 3L), (30L, 1L), (30L, 1L), (17L, 2L)))
    assert(r.runCount == 2, s"overlap+adjacency must coalesce: $r")
    assert(r.size == 10L, s"size: $r")
    assert((9L to 31L).filter(r.contains) == (10L to 18L) :+ 30L, s"membership: $r")
    val d = r.minus(DvRuns.fromPairs(Seq((12L, 2L), (30L, 5L))))
    assert((9L to 31L).filter(d.contains) == Seq(10L, 11L, 14L, 15L, 16L, 17L, 18L),
      s"subtraction: $d")
    assert(DvRuns.fromPairs(Seq((0L, 0L))).isEmpty && DvRuns.empty.minus(r).isEmpty)
    // a DENSE contiguous delete — 20% of a 10M-row-file shape in miniature:
    // one range predicate knocks out 2000 consecutive rows of a 10k file
    val base = freshBase("tf_dv_dense")
    TableFormat.commit(spark, base, (0L until 10000L).map(i => (i, i)).toDF("k", "v"),
      1, None, statsCol = Some("k"), clusterFiles = Some(1))
    val (v2, _, _) = TableFormat.deleteRowsDV(spark, base,
      col("k") >= 4000L && col("k") < 6000L)
    assert(TableFormat.readSnapshot(spark, base).count() == 8000L)
    val conf = spark.sparkContext.hadoopConfiguration
    val e = TableFormat.manifestEntries(spark, base, v2).find(_.dv.isDefined).get
    val runs = DvLookup.positions(conf, e.dv.get, e.path)
    // THE r13 claim: 2000 deleted ordinals load as ~1 run — executor heap
    // is bounded by run count (16 B/run), never expanded per ordinal
    assert(runs.size == 2000L, s"ordinal count: ${runs.size}")
    assert(runs.runCount <= 4,
      s"dense contiguous delete must stay run-compressed, got ${runs.runCount} runs")
    assert(runs.contains(4000L) && runs.contains(5999L) &&
      !runs.contains(3999L) && !runs.contains(6000L))
    // a SUPERSEDING delete unions through run re-normalization: overlap
    // with the old range plus a new scattered tail
    val (v3, _, _) = TableFormat.deleteRowsDV(spark, base,
      col("k") >= 5500L && col("k") < 6500L)
    assert(TableFormat.readSnapshot(spark, base).count() == 7500L)
    val e3 = TableFormat.manifestEntries(spark, base, v3).find(_.dv.isDefined).get
    val dirs = e3.dv.get
    val merged = dirs.split(graft.operators.DvLookup.DirSep).filter(_.nonEmpty).toSeq
      .flatMap(dd => DvLookup.positions(conf, dd, e3.path).pairs)
    val union = DvRuns.fromPairs(merged)
    assert(union.size == 2500L, s"superseding union: ${union.size}")
    assert(union.runCount <= 4, s"union must re-coalesce: ${union.runCount} runs")
  }

  test("deleteByKeysDV: keyed deletes mask through one dv — zero files rewritten even when a hot key straddles every file (r13)") {
    val base = freshBase("tf_dbk_dv")
    // key-clustered layout in 4 files + a second non-key column
    TableFormat.commit(spark, base,
      (0L until 8000L).map(i => (i, i % 7)).toDF("k", "grp"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(4))
    val v1Paths = TableFormat.manifestEntries(spark, base, 1).map(_.path).toSet
    // batch 1: a narrow key band (stats prune most files) — but the CLAIM
    // is file identity, not pruning: every surviving path is a v1 path
    import spark.implicits._
    val (v2, withDv2, _) = TableFormat.deleteByKeysDV(spark, base,
      (100L until 200L).toDF("k"), "k")
    assert(v2 == 2 && withDv2 >= 1)
    val e2 = TableFormat.manifestEntries(spark, base, 2)
    assert(e2.map(_.path).toSet == v1Paths,
      "MoR keyed delete must keep every data file BY PATH (zero rewrites)")
    assert(TableFormat.readSnapshot(spark, base).count() == 7900L)
    // batch 2: a hot-key pattern touching EVERY file (k % 100 == 7) —
    // the CoW variant would rewrite all four files; the dv variant masks
    val hot = (0L until 8000L).filter(_ % 100 == 7).toDF("k")
    val (v3, withDv3, total3) = TableFormat.deleteByKeysDV(spark, base, hot, "k")
    assert(v3 == 3 && withDv3 == total3,
      s"every file should carry a dv, got $withDv3/$total3")
    val e3 = TableFormat.manifestEntries(spark, base, 3)
    assert(e3.map(_.path).toSet == v1Paths, "hot-key MoR delete rewrote files")
    // 80 hot keys, but 107 already masked by batch 1 → 79 new deletions
    assert(TableFormat.readSnapshot(spark, base).count() == 7900L - 79L)
    // superseding discipline: batch-1 masks survive batch-2's dv
    assert(TableFormat.readSnapshot(spark, base)
      .filter(col("k").between(100L, 199L)).count() == 0L)
    // already-masked rows can't re-match: re-deleting the same keys no-ops
    val (v4, _, _) = TableFormat.deleteByKeysDV(spark, base, hot, "k")
    assert(TableFormat.readSnapshot(spark, base, Some(v4)).count() == 7821L)
    // history records the MoR op, and time travel reads each state exact
    assert(TableFormat.history(spark, base).map(_._2) ==
      Seq("replace", "delete_dv", "delete_dv", "delete_dv"))
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 8000L)
    assert(TableFormat.readSnapshot(spark, base, Some(2)).count() == 7900L)
    // equivalence with the CoW variant on an identical twin table
    val twin = freshBase("tf_dbk_cow")
    TableFormat.commit(spark, twin,
      (0L until 8000L).map(i => (i, i % 7)).toDF("k", "grp"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.deleteByKeys(spark, twin, (100L until 200L).toDF("k"), "k")
    TableFormat.deleteByKeys(spark, twin, hot, "k")
    val a = TableFormat.readSnapshot(spark, base).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("s"))
      .orderBy("grp").collect().toSeq
    val c = TableFormat.readSnapshot(spark, twin).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("s"))
      .orderBy("grp").collect().toSeq
    assert(a == c, "MoR and CoW keyed deletes must converge to the same state")
  }

  test("purge_dv: only dv-heavy files rewrite clean; light masks and mask-free files carry by path; CDF silent; no-op idempotent (r13)") {
    val base = freshBase("tf_purge")
    TableFormat.commit(spark, base,
      (0L until 8000L).map(i => (i, i * 2)).toDF("k", "v"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(4))
    val v1 = TableFormat.manifestEntries(spark, base, 1)
    assert(v1.size == 4)
    // heavy: 30% of the first range file; light: one row of the second
    TableFormat.deleteRowsDV(spark, base, col("k") < 600L)
    TableFormat.deleteRowsDV(spark, base, col("k") === 2000L)
    val pre = TableFormat.manifestEntries(spark, base,
      TableFormat.currentVersion(spark, base))
    assert(pre.count(_.dv.isDefined) == 2)
    val (v4, purged, total) = TableFormat.purgeDv(spark, base, 0.10)
    assert(purged == 1 && total == 4, s"purged $purged/$total")
    val post = TableFormat.manifestEntries(spark, base, v4)
    // the heavy file's mask materialized: its path is GONE, replaced by
    // clean dv-free rewrites; the light-mask and mask-free files carry
    val prePaths = pre.map(e => TableFormat.normPath(e.path)).toSet
    val heavyPath = pre.find(e => e.dvRows.exists(_ > 100)).get.path
    assert(!post.exists(e => TableFormat.normPath(e.path) ==
      TableFormat.normPath(heavyPath)), "dv-heavy file must rewrite")
    val carried = post.filter(e => prePaths(TableFormat.normPath(e.path)))
    assert(carried.size == 3, s"3 files must carry by path, got ${carried.size}")
    assert(carried.count(_.dv.isDefined) == 1, "the light mask must survive")
    assert(post.filterNot(e => prePaths(TableFormat.normPath(e.path)))
      .forall(_.dv.isEmpty), "rewrites must be mask-free")
    // answers identical before and after; the purge is CDF-silent
    assert(TableFormat.readSnapshot(spark, base).count() == 8000L - 601L)
    assert(TableFormat.readSnapshot(spark, base)
      .filter(col("k") < 600L || col("k") === 2000L).count() == 0L)
    assert(TableFormat.readChanges(spark, base, v4 - 1, v4).isEmpty,
      "purge moved bytes, changed no rows — CDF must be silent")
    // nothing qualifies anymore at this threshold: NO-OP, no commit
    val (v5, p5, _) = TableFormat.purgeDv(spark, base, 0.10)
    assert(v5 == v4 && p5 == 0)
    // the light mask purges at a tighter threshold
    val (v6, p6, _) = TableFormat.purgeDv(spark, base, 0.0001)
    assert(v6 == v4 + 1 && p6 == 1)
    assert(TableFormat.manifestEntries(spark, base, v6).forall(_.dv.isEmpty))
    assert(TableFormat.readSnapshot(spark, base).count() == 8000L - 601L)
  }

  test("manifest cache: a cross-process same-length re-create inside the mtime window is never served stale (r13, ADVICE r12 #3)") {
    // template manifest text from a REAL commit, so the format stays honest
    val tBase = freshBase("tf_fp_tmpA")
    TableFormat.commit(spark, tBase, Seq((1L, "aaaa")).toDF("k", "tag"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(1))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(tBase).getFileSystem(conf)
    def readText(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p); try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    def writeText(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      fs.delete(p, false)
      val out = fs.create(p, true); try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    val textA = readText(new org.apache.hadoop.fs.Path(s"$tBase/_manifests/v1.manifest"))
    assert(textA.contains("tf_fp_tmpA"), "entry paths must carry the base name")
    // manifest published by ANOTHER process (raw FS write — this JVM's
    // writeFileIfAbsent never saw it, so no own-publish trust applies)
    val cBase = freshBase("tf_fp_cross")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$cBase/_manifests"))
    val mPath = new org.apache.hadoop.fs.Path(s"$cBase/_manifests/v1.manifest")
    writeText(mPath, textA)
    assert(TableFormat.manifestEntries(spark, cBase, 1)
      .forall(_.path.contains("tf_fp_tmpA")))
    val bodyA = TableFormat.manifest(spark, cBase, 1).body
    assert(bodyA.nonEmpty && bodyA.forall(_.contains("tf_fp_tmpA")))
    val st0 = fs.getFileStatus(mPath)
    // the attack: DROP + re-create republishes a DIFFERENT manifest of
    // identical byte length, forged to the identical mtime — the exact
    // (mtime, len) collision the stamp compare cannot see; entry paths
    // swap to a same-length sibling base
    writeText(mPath, textA.replace("tf_fp_tmpA", "tf_fp_tmpZ"))
    fs.setTimes(mPath, st0.getModificationTime, -1)
    val st1 = fs.getFileStatus(mPath)
    assert(st1.getModificationTime == st0.getModificationTime && st1.getLen == st0.getLen,
      "precondition: forged stamp must collide")
    // freshness guard: the young other-process manifest was never
    // cached, so entries re-read from storage and see the re-create
    assert(TableFormat.manifestEntries(spark, cBase, 1)
      .forall(_.path.contains("tf_fp_tmpZ")),
      "stale manifest entries served across a same-stamp cross-process re-create")
    assert(TableFormat.manifest(spark, cBase, 1).body.forall(_.contains("tf_fp_tmpZ")),
      "stale parsed manifest served across a same-stamp cross-process re-create")
  }

  // ---- delta-log manifests (r13): commit metadata IO ∝ change ----

  test("delta manifests: an append publishes an edit script, not the snapshot") {
    val base = freshBase("tf_mdelta")
    TableFormat.appendCommit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TableFormat.appendCommit(spark, base, Seq((3L, "c")).toDF("id", "v"))
    TableFormat.appendCommit(spark, base, Seq((4L, "d")).toDF("id", "v"))
    val t1 = TableFormat.readFile(spark, s"$base/_manifests/v1.manifest")
    val t2 = TableFormat.readFile(spark, s"$base/_manifests/v2.manifest")
    val t3 = TableFormat.readFile(spark, s"$base/_manifests/v3.manifest")
    assert(!t1.contains("#delta"), "v1 must be full (no parent to diff)")
    assert(t2.contains("#delta\t1\t1") && t3.contains("#delta\t2\t2"),
      "appends onto a large-overlap parent must publish deltas with chain depths")
    // the delta body is EXACTLY the change: one `+` line per new file,
    // none of the parent's entries restated
    val b3 = t3.split("\n").filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    assert(b3.nonEmpty && b3.forall(_.startsWith("+\t")), s"append delta body: $b3")
    assert(b3.size == TableFormat.manifestFiles(spark, base, 3).size -
      TableFormat.manifestFiles(spark, base, 2).size)
    // resolution: every version reads exactly as a full manifest would
    assert(TableFormat.readSnapshot(spark, base, Some(1)).count() == 2)
    assert(TableFormat.readSnapshot(spark, base, Some(2)).count() == 3)
    assert(TableFormat.readSnapshot(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // append keeps referencing the parent's files through the delta
    val f1 = TableFormat.manifestFiles(spark, base, 1).toSet
    val f3 = TableFormat.manifestFiles(spark, base, 3).toSet
    assert(f1.subsetOf(f3))
  }

  test("delta chain checkpoints: a full manifest bounds cold-read depth") {
    val base = freshBase("tf_mdelta_ckpt")
    (1 to TableFormat.CheckpointEvery + 1).foreach { i =>
      TableFormat.appendCommit(spark, base, Seq((i.toLong, s"r$i")).toDF("id", "v"))
    }
    val mid = TableFormat.readFile(spark,
      s"$base/_manifests/v${TableFormat.CheckpointEvery}.manifest")
    val ckpt = TableFormat.readFile(spark,
      s"$base/_manifests/v${TableFormat.CheckpointEvery + 1}.manifest")
    assert(mid.contains("#delta"), "inside the interval: delta")
    assert(!ckpt.contains("#delta"),
      s"commit ${TableFormat.CheckpointEvery + 1} must checkpoint (write full)")
    assert(TableFormat.readSnapshot(spark, base).count() ==
      TableFormat.CheckpointEvery + 1L)
  }

  test("delta manifests: a dv delete supersedes entries in place (`~` lines)") {
    val base = freshBase("tf_mdelta_dv")
    TableFormat.appendCommit(spark, base,
      (0L until 1000L).map(i => (i, s"r$i")).toDF("id", "v"), statsCol = Some("id"))
    // range-clustered on id → the bounded delete touches a file subset,
    // so the commit qualifies as a delta with modifications only
    val (v, _, _) = TableFormat.deleteRowsDV(spark, base, col("id") < 100,
      bounds = Seq((0L, 99L)))
    val t = TableFormat.readFile(spark, s"$base/_manifests/v$v.manifest")
    assert(t.contains("#delta"), "a narrow dv delete must publish a delta")
    val body = t.split("\n").filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    assert(body.nonEmpty && body.forall(_.startsWith("~\t")),
      s"dv supersede = in-place modification lines, got: ${body.map(_.take(3))}")
    assert(body.size < TableFormat.manifestEntries(spark, base, v).size,
      "the script must be smaller than the snapshot")
    assert(TableFormat.readSnapshot(spark, base).count() == 900)
    assert(TableFormat.readSnapshot(spark, base, Some(v - 1)).count() == 1000)
  }

  test("vacuum materializes a retained delta before reclaiming its chain") {
    val base = freshBase("tf_mdelta_vac")
    TableFormat.appendCommit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TableFormat.appendCommit(spark, base, Seq((3L, "c")).toDF("id", "v"))
    TableFormat.appendCommit(spark, base, Seq((4L, "d")).toDF("id", "v"))
    assert(TableFormat.readFile(spark, s"$base/_manifests/v3.manifest").contains("#delta"))
    val filesBefore = TableFormat.manifestFiles(spark, base, 3)
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // retain only the head: its chain parents v1, v2 reclaim, so the
    // head's delta manifest must first be rewritten in its full form —
    // the retention contract stays exact (retained readable,
    // non-retained gone), and the resolved file list is IDENTICAL
    TableFormat.vacuum(spark, base, retain = Seq(3))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$base/_manifests/v1.manifest")),
      "non-retained manifests must reclaim even as chain parents")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$base/_manifests/v2.manifest")))
    assert(!TableFormat.readFile(spark, s"$base/_manifests/v3.manifest").contains("#delta"),
      "the retained head must be materialized to full")
    assert(TableFormat.manifestFiles(spark, base, 3) == filesBefore,
      "materialization must preserve the resolved entry list exactly")
    assert(TableFormat.readSnapshot(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a retained delta whose chain parents are ALL retained stays a
    // delta — materialization only happens when it must
    TableFormat.appendCommit(spark, base, Seq((5L, "e")).toDF("id", "v"))
    TableFormat.vacuum(spark, base, retain = Seq(3, 4))
    assert(TableFormat.readFile(spark, s"$base/_manifests/v4.manifest").contains("#delta"),
      "no materialization needed: the delta's parent is itself retained")
    assert(TableFormat.readSnapshot(spark, base).count() == 5)
  }

  test("maintenance auto-rebase: a compact staged against v1 publishes over an interleaved append") {
    val base = freshBase("tf_maint_rebase")
    TableFormat.commit(spark, base,
      (0L until 30L).map(i => (i, s"r$i")).toDF("id", "v").repartition(3), 1, None)
    val v1Entries = TableFormat.manifestEntries(spark, base, 1)
    assert(v1Entries.size == 3)
    // a maintenance job reads v1 and consolidates two of its files...
    val src = v1Entries.take(2)
    val consolidatedDir = s"$base/data/cmaint_test"
    spark.read.parquet(src.map(_.path): _*).coalesce(1)
      .write.mode("overwrite").parquet(consolidatedDir)
    val fsys = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newPath = fsys.listStatus(new org.apache.hadoop.fs.Path(consolidatedDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).head
    val nRows = spark.read.parquet(newPath).count()
    // ...meanwhile an append wins v2
    TableFormat.appendCommit(spark, base,
      (100L until 110L).map(i => (i, s"r$i")).toDF("id", "v"))
    // the maintenance publish REBASES: the interleaved append's files
    // survive, the consolidated sources swap for the new file
    val out = TableFormat.maintenanceCommit(spark, base, basedOn = 1,
      src = src, rewritten = Seq(new TableFormat.ManifestEntry(
        newPath, None, None, rows = Some(nRows))),
      op = "compact", statsCols = Nil)
    assert(out == 3)
    val f3 = TableFormat.manifestFiles(spark, base, 3).toSet
    val f2 = TableFormat.manifestFiles(spark, base, 2).toSet
    assert(f3 == f2 -- src.map(_.path) + newPath)
    assert(TableFormat.readSnapshot(spark, base).count() == 40)
    assert(TableFormat.readSnapshot(spark, base).agg(sum("id")).head.getLong(0) ==
      (0L until 30L).sum + (100L until 110L).sum)
    // a source entry that changed at the head aborts loudly: those two
    // files are no longer in the snapshot at all
    val e = intercept[TableFormat.ConcurrentModificationException] {
      TableFormat.maintenanceCommit(spark, base, basedOn = 1,
        src = src, rewritten = Seq.empty, op = "compact", statsCols = Nil)
    }
    assert(e.getMessage.contains("concurrent"))
  }

  test("graft.write.target-file-size sizes a commit's files from the plan estimate") {
    // trickle under a 128 MB target: ONE file, not parallelism/8 stubs
    val base = freshBase("tf_target_size")
    TableFormat.appendCommit(spark, base, Seq((1L, "seed")).toDF("id", "v"),
      setProps = Map("graft.write.target-file-size" -> (128L * 1024 * 1024).toString))
    val f1 = TableFormat.manifestFiles(spark, base, 1).size
    TableFormat.appendCommit(spark, base, Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(TableFormat.manifestFiles(spark, base, 2).size - f1 == 1,
      "a 2-row append under a 128 MB target must write exactly one file")
    assert(TableFormat.readSnapshot(spark, base).count() == 3)
    // a tight target splits a large frame into many bounded files
    val base2 = freshBase("tf_target_size2")
    TableFormat.appendCommit(spark, base2, Seq((0L, "seed")).toDF("id", "v"),
      setProps = Map("graft.write.target-file-size" -> "4096"))
    val before = TableFormat.manifestFiles(spark, base2, 1).size
    TableFormat.appendCommit(spark, base2,
      (0L until 20000L).map(i => (i, s"row$i")).toDF("id", "v"))
    val added = TableFormat.manifestFiles(spark, base2, 2).size - before
    assert(added > 4 && added <= 4096, s"expected a multi-file split, got $added")
    assert(TableFormat.readSnapshot(spark, base2).count() == 20001)
  }

  test("merge-on-read delete matching zero rows is a clean no-op (r13, fuzz find)") {
    val base = freshBase("tf_dv_zero")
    TableFormat.appendCommit(spark, base, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // stats can't exclude the candidates, but no row matches — pre-fix
    // this wrote an EMPTY dv dir and crashed reading it back
    // (UNABLE_TO_INFER_SCHEMA); now: no commit, no version, no dv debris
    val (v, withDv, total) = TableFormat.deleteRowsDV(spark, base, col("id") === 99L)
    assert(v == 1 && withDv == 0 && total == 2, s"got ($v, $withDv, $total)")
    assert(TableFormat.currentVersion(spark, base) == 1, "no-op must not commit")
    assert(TableFormat.readSnapshot(spark, base).count() == 2)
    // and a REAL delete right after still works
    val (v2, _, _) = TableFormat.deleteRowsDV(spark, base, col("id") === 1L)
    assert(v2 == 2 && TableFormat.readSnapshot(spark, base).count() == 1)
  }

  test("delta-log fuzz: 30 seeded random commits resolve exactly at every version") {
    val base = freshBase("tf_mdelta_fuzz")
    val rnd = new scala.util.Random(42)
    var live = Set.empty[(Long, String)]
    var nextId = 0L
    def append(n: Int): Unit = {
      val rows = (nextId until nextId + n).map(i => (i, s"r$i"))
      nextId += n
      live ++= rows
      TableFormat.appendCommit(spark, base, rows.toDF("id", "v"))
      ()
    }
    append(3)
    val snapshots = scala.collection.mutable.Map(
      TableFormat.currentVersion(spark, base) -> live)
    (1 to 29).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 | 1 => append(1 + rnd.nextInt(3))
        case 2 =>
          val k = rnd.nextInt(7)
          live = live.filterNot(_._1 % 7 == k)
          TableFormat.deleteRowsDV(spark, base, col("id") % 7 === k.toLong)
        case 3 =>
          TableFormat.compact(spark, base, smallBytes = Long.MaxValue)
      }
      val v = TableFormat.currentVersion(spark, base)
      snapshots(v) = live
      // the head resolves through whatever delta chain the mix produced
      assert(TableFormat.readSnapshot(spark, base).as[(Long, String)]
        .collect().toSet == live, s"head v$v diverged from the shadow")
    }
    // every RECORDED version time-travels to exactly its shadow — cold
    // resolution through the full chain structure the mix left behind
    snapshots.foreach { case (v, want) =>
      assert(TableFormat.readSnapshot(spark, base, Some(v)).as[(Long, String)]
        .collect().toSet == want, s"time travel to v$v diverged")
    }
    // structural sanity: the log contains BOTH forms and every delta's
    // depth stays under the checkpoint interval
    val stats = snapshots.keys.map(v =>
      TableFormat.manifestLogStat(spark, base, v)).toSeq
    assert(stats.exists(_._1) && stats.exists(!_._1),
      "fuzz premise: the mix should produce deltas AND full manifests")
    assert(stats.forall(_._2 < TableFormat.CheckpointEvery))
  }

  test("delta-log fuzz 2: clustered lifecycle — CoW deletes, optimize, restore, vacuum") {
    val base = freshBase("tf_mdelta_fuzz2")
    val rnd = new scala.util.Random(7)
    var live = Set.empty[(Long, String)]
    var nextId = 0L
    def append(n: Int): Unit = {
      val rows = (nextId until nextId + n).map(i => (i, s"r$i"))
      nextId += n
      live ++= rows
      TableFormat.appendCommit(spark, base, rows.toDF("id", "v"),
        statsCol = Some("id"))
      ()
    }
    append(200)
    val snaps = scala.collection.mutable.Map(
      TableFormat.currentVersion(spark, base) -> live)
    (1 to 24).foreach { _ =>
      rnd.nextInt(6) match {
        case 0 | 1 => append(20 + rnd.nextInt(50))
        case 2 => // CoW range delete on the clustering key
          val lo = rnd.nextLong(math.max(1L, nextId))
          val hi = lo + 10 + rnd.nextInt(40)
          live = live.filterNot(t => t._1 >= lo && t._1 <= hi)
          TableFormat.deleteWhere(spark, base, "id", lo, hi)
        case 3 => // incremental optimize: rows move, never change
          TableFormat.optimizeIncremental(spark, base)
        case 4 => // metadata-only rollback to a random retained version
          val target = snaps.keys.toSeq(rnd.nextInt(snaps.size))
          live = snaps(target)
          TableFormat.restoreVersion(spark, base, target)
        case 5 => // reclaim: keep the last 3 still-on-disk versions
          val cur = TableFormat.currentVersion(spark, base)
          val onDisk = TableFormat.history(spark, base).map(_._1)
          val retain = (onDisk.sorted.takeRight(3) :+ cur).distinct
          TableFormat.vacuum(spark, base, retain)
          snaps.filterInPlace { case (v, _) => retain.contains(v) }
      }
      val v = TableFormat.currentVersion(spark, base)
      snaps(v) = live
      assert(TableFormat.readSnapshot(spark, base).as[(Long, String)]
        .collect().toSet == live, s"head v$v diverged from the shadow")
      // pruned reads agree with unpruned ones through any chain shape
      if (live.nonEmpty && rnd.nextBoolean()) {
        val probe = live.head._1
        val (df, _) = TableFormat.readSnapshotWhere(spark, base, "id", probe, probe + 25)
        assert(df.as[(Long, String)].collect().toSet ==
          live.filter(t => t._1 >= probe && t._1 <= probe + 25),
          s"pruned read diverged at v$v")
      }
    }
    // every shadowed still-retained version time-travels exactly
    val onDisk = TableFormat.history(spark, base).map(_._1).toSet
    snaps.foreach { case (v, want) =>
      if (onDisk.contains(v))
        assert(TableFormat.readSnapshot(spark, base, Some(v)).as[(Long, String)]
          .collect().toSet == want, s"time travel to v$v diverged")
    }
  }

  test("delta-log fuzz 4: equality deletes under re-inserts, dv mixes, resolution, compaction, restore, vacuum — head and time travel exact (r15)") {
    val base = freshBase("tf_mdelta_fuzz4")
    val rnd = new scala.util.Random(15)
    var live = Set.empty[(Long, String)]
    var nextId = 0L
    def commitAppend(rows: Seq[(Long, String)]): Unit = {
      live ++= rows
      TableFormat.appendCommit(spark, base, rows.toDF("id", "v"),
        statsCol = Some("id"))
      ()
    }
    TableFormat.commit(spark, base,
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "v"), 1, None,
      statsCol = Some("id"), clusterFiles = Some(8))
    live = (0L until 400L).map(i => (i, s"r$i")).toSet
    nextId = 400L
    val snaps = scala.collection.mutable.Map(
      TableFormat.currentVersion(spark, base) -> live)
    // CDF-fold shadow (r16): the batch feed over EVERY random span —
    // equality deletes outstanding or not — must fold to the head
    var cdfShadow = live
    var cdfV = TableFormat.currentVersion(spark, base)
    (1 to 24).foreach { step =>
      rnd.nextInt(9) match {
        case 0 => // fresh append
          val n = 10 + rnd.nextInt(30)
          commitAppend((nextId until nextId + n).map(i => (i, s"r$i")))
          nextId += n
        case 1 => // RE-INSERT previously-seen ids — the eq-scoping case:
          // a later eq delete must mask them, an earlier one must not
          val ids = (0 until 5 + rnd.nextInt(10))
            .map(_ => rnd.nextLong(math.max(1L, nextId)))
            .distinct.filterNot(i => live.exists(_._1 == i))
          if (ids.nonEmpty) commitAppend(ids.map(i => (i, s"re$step-$i")))
        case 2 | 3 => // equality delete of a random key set
          val keys = (0 until 5 + rnd.nextInt(25))
            .map(_ => rnd.nextLong(math.max(1L, nextId))).distinct
          live = live.filterNot(t => keys.contains(t._1))
          TableFormat.deleteByKeysEq(spark, base, keys.toDF("id"), "id")
          ()
        case 4 => // positional dv delete mixed in (eq-safe op)
          val lo = rnd.nextLong(math.max(1L, nextId))
          val hi = lo + 5 + rnd.nextInt(20)
          live = live.filterNot(t => t._1 >= lo && t._1 <= hi)
          TableFormat.deleteRowsDV(spark, base,
            col("id") >= lo && col("id") <= hi)
          ()
        case 5 => // resolve everything outstanding into one dv commit
          TableFormat.resolveEqDeletes(spark, base)
          ()
        case 6 => // compact auto-resolves, then rewrites
          TableFormat.compact(spark, base, smallBytes = 1L << 16, targetFiles = 6)
          ()
        case 7 => // restore to a random retained version — the eqdel
          // headers ride the pass-through and the shadow rolls back
          val onDisk = TableFormat.history(spark, base).map(_._1)
            .filter(snaps.contains)
          if (onDisk.nonEmpty) {
            val target = onDisk(rnd.nextInt(onDisk.size))
            TableFormat.restoreVersion(spark, base, target)
            live = snaps(target)
          }
        case 8 => // consolidate outstanding key files (r16): masks
          // semantically unchanged, feeds silent — the shadow and the
          // CDF fold below must both hold verbatim
          TableFormat.consolidateEqDeletes(spark, base)
          ()
      }
      val v = TableFormat.currentVersion(spark, base)
      snaps(v) = live
      assert(TableFormat.readSnapshot(spark, base).as[(Long, String)]
        .collect().toSet == live, s"head v$v diverged from the shadow (step $step)")
      if (v > cdfV) {
        val ch = TableFormat.readChanges(spark, base, cdfV, v)
          .select("id", "v", "_change_type").collect()
        val dels = ch.filter(_.getString(2) == "delete")
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        val inss = ch.filter(_.getString(2) == "insert")
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        dels.foreach(d => assert(cdfShadow.contains(d),
          s"CDF emitted a delete for an absent row $d (step $step)"))
        cdfShadow = cdfShadow -- dels ++ inss
        assert(cdfShadow == live, s"CDF fold diverged at v$v (step $step)")
        cdfV = v
      }
      if (live.nonEmpty && rnd.nextBoolean()) {
        val probe = live.head._1
        val (df, _) = TableFormat.readSnapshotWhere(spark, base, "id", probe, probe + 25)
        assert(df.as[(Long, String)].collect().toSet ==
          live.filter(t => t._1 >= probe && t._1 <= probe + 25),
          s"pruned read diverged at v$v (step $step)")
      }
      if (step == 12) { // mid-fuzz vacuum: outstanding key files survive
        val cur = TableFormat.currentVersion(spark, base)
        val onDisk = TableFormat.history(spark, base).map(_._1)
        val retain = (onDisk.filter(_ => rnd.nextBoolean()) :+ cur).distinct
        TableFormat.vacuum(spark, base, retain)
        snaps.filterInPlace { case (sv, _) => retain.contains(sv) }
        assert(TableFormat.readSnapshot(spark, base).as[(Long, String)]
          .collect().toSet == live, "post-vacuum head diverged")
        // reclaimed manifests break older feed starts — re-anchor
        cdfV = cur; cdfShadow = live
      }
    }
    // final resolution converges to plain dv state; answers unchanged
    TableFormat.resolveEqDeletes(spark, base)
    assert(TableFormat.readSnapshot(spark, base).as[(Long, String)]
      .collect().toSet == live, "post-resolution head diverged")
    // every shadowed still-retained version time-travels exactly,
    // each under its OWN outstanding-delete set
    val onDisk = TableFormat.history(spark, base).map(_._1).toSet
    snaps.foreach { case (v, want) =>
      if (onDisk.contains(v))
        assert(TableFormat.readSnapshot(spark, base, Some(v)).as[(Long, String)]
          .collect().toSet == want, s"time travel to v$v diverged")
    }
  }

  test("delta-log fuzz 3: parquet checkpoints, vacuum gaps, pointer regression, dv deletes — head and time travel exact (r14)") {
    val base = freshBase("tf_mdelta_fuzz3")
    val rnd = new scala.util.Random(14)
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var live = Set.empty[(Long, String)]
    var nextId = 0L
    def append(n: Int, files: Int): Unit = {
      val rows = (nextId until nextId + n).map(i => (i, s"r$i"))
      nextId += n
      live ++= rows
      TableFormat.commit(spark, base, rows.toDF("id", "v"),
        TableFormat.latestVersion(spark, base) + 1,
        parent = Some(TableFormat.latestVersion(spark, base)).filter(_ > 0),
        statsCol = Some("id"), clusterFiles = Some(files))
      ()
    }
    // seed WIDE: 70 files crosses PqCheckpointMinEntries, so every full
    // manifest (v1, checkpoints, vacuum materializations) from here on
    // takes the parquet-sidecar form
    append(700, 70)
    assert(TableFormat.manifest(spark, base, 1).entriesPq.isDefined,
      "fuzz premise: the seed checkpoint should be parquet")
    val snaps = scala.collection.mutable.Map(
      TableFormat.currentVersion(spark, base) -> live)
    (1 to 24).foreach { step =>
      rnd.nextInt(6) match {
        case 0 | 1 => append(10 + rnd.nextInt(30), 1 + rnd.nextInt(3))
        case 2 => // merge-on-read delete: `~` scripts over pq-resolved entries
          val lo = rnd.nextLong(math.max(1L, nextId))
          val hi = lo + 5 + rnd.nextInt(30)
          live = live.filterNot(t => t._1 >= lo && t._1 <= hi)
          TableFormat.deleteRowsDV(spark, base,
            col("id") >= lo && col("id") <= hi)
          ()
        case 3 => // compact occasionally (keeps file counts sane)
          TableFormat.compact(spark, base, smallBytes = 1L << 16, targetFiles = 8)
          ()
        case 4 => // vacuum to a RANDOM retained subset — interior gaps
          val cur = TableFormat.currentVersion(spark, base)
          val onDisk = TableFormat.history(spark, base).map(_._1)
          val retain = (onDisk.filter(_ => rnd.nextBoolean()) :+ cur).distinct
          TableFormat.vacuum(spark, base, retain)
          snaps.filterInPlace { case (v, _) => retain.contains(v) }
        case 5 => // the slow cross-JVM loser: regress the pointer to a
          // random retained version — latestVersion must re-find the head
          val onDisk = TableFormat.history(spark, base).map(_._1)
          TableFormat.writeFile(spark, s"$base/_CURRENT",
            onDisk(rnd.nextInt(onDisk.size)).toString)
      }
      val v = TableFormat.currentVersion(spark, base)
      snaps(v) = live
      assert(TableFormat.readSnapshot(spark, base).as[(Long, String)]
        .collect().toSet == live, s"head v$v diverged from the shadow (step $step)")
      if (live.nonEmpty && rnd.nextBoolean()) {
        val probe = live.head._1
        val (df, _) = TableFormat.readSnapshotWhere(spark, base, "id", probe, probe + 25)
        assert(df.as[(Long, String)].collect().toSet ==
          live.filter(t => t._1 >= probe && t._1 <= probe + 25),
          s"pruned read diverged at v$v (step $step)")
      }
    }
    // every shadowed still-retained version time-travels exactly —
    // including parquet-materialized ones resolved across gaps
    val onDisk = TableFormat.history(spark, base).map(_._1).toSet
    snaps.foreach { case (v, want) =>
      if (onDisk.contains(v))
        assert(TableFormat.readSnapshot(spark, base, Some(v)).as[(Long, String)]
          .collect().toSet == want, s"time travel to v$v diverged")
    }
    // the marker recorded the reclaims and commits above it still land
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$base/_manifests/_RECLAIMED")),
      "fuzz premise: at least one vacuum should have reclaimed")
    append(5, 1)
    assert(TableFormat.readSnapshot(spark, base).count() == live.size)
  }

  test("vacuum materialization preserves manifest mtimes — TIMESTAMP AS OF anchors survive (r14, ADVICE r13 #1)") {
    val base = freshBase("tf_mtime")
    TableFormat.commit(spark, base, Seq((1L, "a")).toDF("id", "v"), 1, None)
    (2 to 4).foreach(v => TableFormat.commit(spark, base,
      Seq((v.toLong, "x")).toDF("id", "v"), v, Some(v - 1)))
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mp(v: Int) = new org.apache.hadoop.fs.Path(s"$base/_manifests/v$v.manifest")
    // pin distinct, well-separated commit instants
    val t0 = System.currentTimeMillis() - 100000
    (1 to 4).foreach(v => f.setTimes(mp(v), t0 + v * 1000, -1))
    assert(TableFormat.versionAtOrBefore(spark, base, t0 + 3500).contains(3))
    // retain {3, 4}: v3's delta chain parents (v2, v1) are reclaimed, so
    // vacuum must MATERIALIZE v3 — the rewrite that used to reset mtime
    TableFormat.vacuum(spark, base, retain = Seq(3, 4))
    assert(f.getFileStatus(mp(3)).getModificationTime == t0 + 3000,
      "materialization moved v3's commit instant to vacuum time")
    assert(TableFormat.versionAtOrBefore(spark, base, t0 + 3500).contains(3),
      "AS-OF between v3 and v4 no longer resolves to v3 after vacuum")
    assert(TableFormat.versionAtOrBefore(spark, base, t0 + 4500).contains(4))
    // the materialized manifest still reads exactly
    assert(TableFormat.readSnapshot(spark, base, Some(3)).count() == 3)
  }

  test("latestVersion survives a pointer regressed below a vacuumed gap; reclaimed slots refuse re-commit (r14, ADVICE r13 #2)") {
    val base = freshBase("tf_gap")
    (1 to 7).foreach(v => TableFormat.commit(spark, base,
      Seq((v.toLong, "x")).toDF("id", "v"), v, if (v == 1) None else Some(v - 1)))
    // interior gap: retain {3, 7}, reclaim 1-2 and 4-6
    TableFormat.vacuum(spark, base, retain = Seq(3, 7))
    // simulate the slow cross-JVM loser regressing the pointer to a
    // retained version sitting directly below the gap
    TableFormat.writeFile(spark, s"$base/_CURRENT", "3")
    assert(TableFormat.latestVersion(spark, base) == 7,
      "dense probe stopped under the vacuumed gap — stale head")
    assert(TableFormat.currentVersion(spark, base) == 7)
    assert(TableFormat.readSnapshot(spark, base).count() == 7)
    // a reclaimed slot can never be re-won (history fork guard)
    intercept[TableFormat.CommitConflictException] {
      TableFormat.commit(spark, base, Seq((99L, "fork")).toDF("id", "v"), 5, Some(3))
    }
    // and a fresh commit lands at the true head + 1
    TableFormat.commit(spark, base, Seq((8L, "y")).toDF("id", "v"), 8, Some(7))
    assert(TableFormat.currentVersion(spark, base) == 8)
    assert(TableFormat.readSnapshot(spark, base).count() == 8)
  }

  test("vacuum keeps parent files a live branch still references (r14)") {
    val base = freshBase("tf_branch_vacuum")
    TableFormat.commit(spark, base,
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "v"), 1, None)
    val (bb, _) = TableFormat.branchCreate(spark, base, "dev")
    // parent rewrites everything; its own history no longer needs v1's files
    val (v2, _) = TableFormat.compact(spark, base, smallBytes = Long.MaxValue)
    val (deleted, _) = TableFormat.vacuum(spark, base, retain = Seq(v2))
    assert(deleted == 0,
      "vacuum reclaimed parent files the dev branch still references")
    // the branch still reads its fork snapshot exactly
    assert(TableFormat.readSnapshot(spark, bb).count() == 100)
  }

  test("graft.write.compression selects the table's parquet codec") {
    val base = freshBase("tf_codec")
    TableFormat.appendCommit(spark, base, Seq((1L, "seed")).toDF("id", "v"),
      setProps = Map("graft.write.compression" -> "zstd"))
    TableFormat.appendCommit(spark, base, Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    val v2New = TableFormat.manifestFiles(spark, base, 2)
      .filterNot(TableFormat.manifestFiles(spark, base, 1).toSet)
    assert(v2New.nonEmpty && v2New.forall(_.contains(".zstd.")),
      s"declared codec ignored: $v2New")
    assert(TableFormat.readSnapshot(spark, base).count() == 3)
  }

  test("liveRowCount: metadata count equals the scan across plain/DV snapshots; " +
       "stands down on outstanding equality deletes (r19 opt)") {
    val base = freshBase("tf_liverows")
    val rows = (0L until 500L).map(i => (i, s"r$i")).toDF("k", "v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    // plain snapshot: metadata == scan, and the eqdel staging count
    // (observed on the write, not a read-back) agrees with the key set
    assert(TableFormat.liveRowCount(spark, base, 1) ===
      Some(TableFormat.readSnapshot(spark, base, Some(1)).count()))
    // DV delete: metadata subtracts masked rows exactly
    val (v2, _, _) = TableFormat.deleteRowsDV(spark, base, col("k") % 7 === 3)
    assert(TableFormat.liveRowCount(spark, base, v2) ===
      Some(TableFormat.readSnapshot(spark, base, Some(v2)).count()))
    // outstanding equality deletes mask at READ time — metadata cannot
    // see them, so the helper must refuse (None), never a wrong count
    val (v3, nk) = TableFormat.deleteByKeysEq(spark, base,
      Seq(1L, 2L, 9L).toDF("k"), "k")
    assert(nk == 3)
    assert(TableFormat.liveRowCount(spark, base, v3).isEmpty)
    // after resolution the metadata path serves again, and equals the scan
    TableFormat.resolveEqDeletes(spark, base)
    val v4 = TableFormat.currentVersion(spark, base)
    assert(TableFormat.liveRowCount(spark, base, v4) ===
      Some(TableFormat.readSnapshot(spark, base, Some(v4)).count()))
  }
}

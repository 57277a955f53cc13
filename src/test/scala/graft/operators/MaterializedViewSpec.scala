package graft.operators

import org.apache.spark.sql.Row

import graft.SparkTestBase
import graft.sources.GraftCatalog

/** Incremental materialized views (r12): CREATE pins the source version
  * and bookmarks it; REFRESH folds the CDF delta in and matches a full
  * recompute BIT-FOR-BIT — including group death (count→0), SQL NULL-sum
  * semantics, update-image pairing, maintenance-only spans (metadata
  * commit), true no-ops (no commit), and the shape refusals. */
class MaterializedViewSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val wh: String = {
    val w = s"${graft.Tables.scratchDir}/graft_wh"
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    w
  }

  private def fresh(name: String): String = {
    val base = s"$wh/db/$name"
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"${base}__state"), true) // MV state twin
    base
  }

  private def recompute(srcTable: String, where: String): Seq[Row] =
    spark.sql(
      s"""SELECT lang, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
         |FROM $srcTable $where
         |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq

  private def mvRead(mv: String): Seq[Row] =
    spark.sql(s"SELECT lang, n_docs, sum_n FROM $mv ORDER BY lang ASC NULLS FIRST")
      .collect().toSeq

  test("create + refresh over append/delete matches full recompute; bookmark advances atomically") {
    val src = fresh("mv_src"); fresh("mv_agg")
    val rows = (0L until 300L).map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "de", i * 10))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "n"), 1, None,
      statsCol = Some("doc_id"))
    val c = spark.sql(
      """CALL graft.system.create_mv('db.mv_agg',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_src WHERE doc_id % 5 <> 0 GROUP BY lang')""".stripMargin).head
    assert(c.getInt(0) == 1 && c.getInt(2) == 1 && c.getLong(1) == 3)
    // the published name is a VIEW projecting ONLY the declared columns —
    // the liveness/null counters live in the __state table
    assert(spark.table("graft.db.mv_agg").columns.toSeq ==
      Seq("lang", "n_docs", "sum_n"))
    assert(spark.table("graft.db.mv_agg__state").columns.contains("__cnt"))
    assert(mvRead("graft.db.mv_agg") ==
      recompute("graft.db.mv_src", "WHERE doc_id % 5 <> 0"))
    // v2: append new rows (new lang too); v3: range delete
    TableFormat.appendCommit(spark, src,
      (300L until 400L).map(i => (i, "zz", i)).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, src, "doc_id", 100L, 199L)
    val r = spark.sql("CALL graft.system.refresh_mv('db.mv_agg')").head
    assert(r.getInt(1) == 1 && r.getInt(2) == 3, s"refresh window: $r")
    assert(mvRead("graft.db.mv_agg") ==
      recompute("graft.db.mv_src", "WHERE doc_id % 5 <> 0"))
    // the bookmark rode the SAME commit as the data
    val props = TableFormat.manifest(spark, s"$wh/db/mv_agg__state",
      TableFormat.currentVersion(spark, s"$wh/db/mv_agg__state")).props
    assert(props("graft.mv.version") == "3")
  }

  test("MV query rewrite: fresh MV serves matching aggregates; stale/mismatched/pinned reads stand down (r15, VERDICT r14 #2)") {
    val src = fresh("mv_src_rw"); fresh("mv_agg_rw")
    val rows = (0L until 400L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "de", i * 7))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "n"), 1, None,
      statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg_rw',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n, avg(n) AS avg_n,
        |          min(n) AS min_n, max(n) AS max_n
        |   FROM graft.db.mv_src_rw WHERE doc_id % 5 <> 0 GROUP BY lang')""".stripMargin)
      .collect()
    val q =
      """SELECT lang, max(n) AS mx, sum(n) AS s, count(*) AS c
        |FROM graft.db.mv_src_rw WHERE doc_id % 5 <> 0
        |GROUP BY lang HAVING count(*) > 1 ORDER BY lang""".stripMargin
    val direct = spark.sql(q).collect().toSeq
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // 1. substituted scan: the plan reads the |groups|-row state table,
      //    never the source — and the answers are oracle-identical
      val df = spark.sql(q)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_agg_rw__state"), s"no substituted scan:\n$plan")
      assert(!plan.contains("mv_src_rw"), s"source still scanned:\n$plan")
      assert(df.collect().toSeq == direct)
      // AVG rewrites to the MV's exact-sum/count division (within a ulp
      // of the double-accumulated direct plan)
      val qa =
        """SELECT lang, avg(n) AS a FROM graft.db.mv_src_rw
          |WHERE doc_id % 5 <> 0 GROUP BY lang ORDER BY lang""".stripMargin
      val dfa = spark.sql(qa)
      assert(dfa.queryExecution.optimizedPlan.toString.contains("mv_agg_rw__state"))
      val directAvg = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(qa).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      dfa.collect().toSeq.zip(directAvg).foreach { case (a, b) =>
        assert(a.getString(0) == b.getString(0) &&
          math.abs(a.getDouble(1) - b.getDouble(1)) <= math.ulp(b.getDouble(1)) * 4)
      }
      // 2. WHERE mismatch stands down
      val qm = q.replace("% 5 <> 0", "% 5 <> 1")
      assert(spark.sql(qm).queryExecution.optimizedPlan.toString.contains("mv_src_rw"))
      // 3. extra aggregate the MV lacks stands down
      val qx =
        """SELECT lang, count(DISTINCT n) AS d FROM graft.db.mv_src_rw
          |WHERE doc_id % 5 <> 0 GROUP BY lang""".stripMargin
      assert(spark.sql(qx).queryExecution.optimizedPlan.toString.contains("mv_src_rw"))
      // 4. STALE standdown: source advances, MV not refreshed — the
      //    query must scan the source and see the new rows
      TableFormat.appendCommit(spark, src,
        (400L until 450L).map(i => (i, "zz", i)).toDF("doc_id", "lang", "n"),
        statsCol = Some("doc_id"))
      val dfStale = spark.sql(q)
      assert(dfStale.queryExecution.optimizedPlan.toString.contains("mv_src_rw"),
        "stale MV must not serve the query")
      assert(dfStale.collect().map(_.getString(0)).contains("zz"))
      // 5. refresh restores the rewrite, answers include the new group
      spark.sql("CALL graft.system.refresh_mv('db.mv_agg_rw')").collect()
      val dfFresh = spark.sql(q)
      assert(dfFresh.queryExecution.optimizedPlan.toString.contains("mv_agg_rw__state"))
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val direct2 = try spark.sql(q).collect().toSeq
                    finally spark.conf.set("spark.graft.mv.rewrite", "true")
      assert(dfFresh.collect().toSeq == direct2)
      // 6. time travel is never rewritten — history is not the MV's
      val qt =
        """SELECT lang, count(*) AS c
          |FROM graft.db.mv_src_rw VERSION AS OF 1
          |WHERE doc_id % 5 <> 0 GROUP BY lang""".stripMargin
      assert(spark.sql(qt).queryExecution.optimizedPlan.toString.contains("mv_src_rw"))
      // 7. ROLL-UP: a GLOBAL aggregate (dims = empty subset) re-aggregates
      //    over the |groups|-row state — counts re-sum via the hidden
      //    __cnt, extrema re-extreme, AVG re-derives from exact sums
      val qg =
        """SELECT count(*) AS c, sum(n) AS s, max(n) AS mx, avg(n) AS a
          |FROM graft.db.mv_src_rw WHERE doc_id % 5 <> 0""".stripMargin
      val dfg = spark.sql(qg)
      assert(dfg.queryExecution.optimizedPlan.toString.contains("mv_agg_rw__state"),
        s"global roll-up not substituted:\n${dfg.queryExecution.optimizedPlan}")
      val directG = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(qg).collect().head
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val got = dfg.collect().head
      assert(got.getLong(0) == directG.getLong(0) && got.getLong(1) == directG.getLong(1) &&
        got.getLong(2) == directG.getLong(2) &&
        math.abs(got.getDouble(3) - directG.getDouble(3)) <=
          math.ulp(directG.getDouble(3)) * 4,
        s"roll-up mismatch: $got vs $directG")
      // count(DISTINCT) stands down here — THIS MV has no DistinctCol
      // (the mv_distinct spec pins the positive bitmap roll-up case)
      val qgd =
        """SELECT count(DISTINCT n) AS d FROM graft.db.mv_src_rw
          |WHERE doc_id % 5 <> 0""".stripMargin
      assert(spark.sql(qgd).queryExecution.optimizedPlan.toString.contains("mv_src_rw"))
      // 8. FILTER CONTAINMENT: the MV predicate plus an extra DIM-ONLY
      //    conjunct — the residual filters the |groups|-row state
      val qc =
        """SELECT lang, count(*) AS c, sum(n) AS s
          |FROM graft.db.mv_src_rw
          |WHERE doc_id % 5 <> 0 AND lang <> 'de'
          |GROUP BY lang ORDER BY lang""".stripMargin
      val dfc = spark.sql(qc)
      assert(dfc.queryExecution.optimizedPlan.toString.contains("mv_agg_rw__state"),
        s"containment rewrite not substituted:\n${dfc.queryExecution.optimizedPlan}")
      val directC = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(qc).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(dfc.collect().toSeq == directC, "containment rewrite values diverged")
      // an extra conjunct over a NON-dim column cannot filter groups:
      // stand down
      val qnc =
        """SELECT lang, count(*) AS c FROM graft.db.mv_src_rw
          |WHERE doc_id % 5 <> 0 AND n > 100 GROUP BY lang""".stripMargin
      assert(spark.sql(qnc).queryExecution.optimizedPlan.toString.contains("mv_src_rw"))
      // a query MISSING an MV conjunct (weaker predicate) stands down
      val qw =
        """SELECT lang, count(*) AS c FROM graft.db.mv_src_rw
          |WHERE lang <> 'de' GROUP BY lang""".stripMargin
      assert(spark.sql(qw).queryExecution.optimizedPlan.toString.contains("mv_src_rw"))
      // a SUPERSET of the MV dims can never be served: stand down
      val qsup =
        """SELECT lang, doc_id % 2 AS par, count(*) AS c
          |FROM graft.db.mv_src_rw WHERE doc_id % 5 <> 0
          |GROUP BY lang, doc_id % 2""".stripMargin
      assert(spark.sql(qsup).queryExecution.optimizedPlan.toString.contains("mv_src_rw"))
      // a NON-DETERMINISTIC residual conjunct stands down (r16, ADVICE
      // r15 #4): under the rewrite it would evaluate once per STATE row
      // instead of once per source row, changing its sampling
      // distribution
      val qnd =
        """SELECT lang, count(*) AS c FROM graft.db.mv_src_rw
          |WHERE doc_id % 5 <> 0 AND rand() >= 0 GROUP BY lang""".stripMargin
      assert(spark.sql(qnd).queryExecution.optimizedPlan.toString.contains("mv_src_rw"),
        "non-deterministic residual must not be served from MV state")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    // 7. flag off: no rewrite even when fresh
    assert(spark.sql(q).queryExecution.optimizedPlan.toString.contains("mv_src_rw"))
  }

  test("group death: a lang whose rows all delete disappears from the MV") {
    val src = fresh("mv_src2"); fresh("mv_agg2")
    TableFormat.commit(spark, src,
      ((0L until 50L).map(i => (i, "en", i)) ++ (1000L until 1020L).map(i => (i, "xx", i)))
        .toDF("doc_id", "lang", "n"), 1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg2',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_src2 GROUP BY lang')""".stripMargin).collect()
    assert(mvRead("graft.db.mv_agg2").map(_.getString(0)) == Seq("en", "xx"))
    TableFormat.deleteWhere(spark, src, "doc_id", 1000L, 1019L) // kill all xx
    spark.sql("CALL graft.system.refresh_mv('db.mv_agg2')").collect()
    assert(mvRead("graft.db.mv_agg2").map(_.getString(0)) == Seq("en"),
      "dead group must vanish (GROUP BY semantics), not linger at count 0")
    assert(mvRead("graft.db.mv_agg2") == recompute("graft.db.mv_src2", ""))
  }

  test("NULL-sum semantics: all-null contributions report NULL, not 0") {
    val src = fresh("mv_src3"); fresh("mv_agg3")
    // lang 'nn' rows carry NULL n from the start; 'en' loses its only
    // non-null contribution in v2 → its sum must BECOME null
    val v1 = Seq[(Long, String, Option[Long])](
      (1L, "en", Some(7L)), (2L, "en", None),
      (10L, "nn", None), (11L, "nn", None))
    TableFormat.commit(spark, src, v1.toDF("doc_id", "lang", "n"), 1, None,
      statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg3',
        |  'SELECT lang, count(*) AS n_docs, count(n) AS n_vals, sum(n) AS sum_n
        |   FROM graft.db.mv_src3 GROUP BY lang')""".stripMargin).collect()
    TableFormat.deleteWhere(spark, src, "doc_id", 1L, 1L) // drop the non-null en row
    spark.sql("CALL graft.system.refresh_mv('db.mv_agg3')").collect()
    val got = spark.sql(
      """SELECT lang, n_docs, n_vals, sum_n FROM graft.db.mv_agg3
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    val want = spark.sql(
      """SELECT lang, count(1) AS n_docs, count(n) AS n_vals,
        |  CAST(sum(n) AS BIGINT) AS sum_n
        |FROM graft.db.mv_src3 GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    assert(got == want)
    assert(got.forall(r => r.isNullAt(3)), s"both groups are all-null now: $got")
  }

  test("AVG maintains via hidden exact sum/count; refresh == recompute bit-for-bit on the double (r13, VERDICT r12 #5)") {
    val src = fresh("mv_src_avg"); fresh("mv_agg_avg")
    // odd counts and sums that do NOT divide evenly — the doubles carry
    // full mantissas, so any arithmetic drift between the incremental
    // and recompute paths fails the exact Row comparison below
    // n is NULLABLE from v1 (Option) — the all-null 'uu' group appends later
    val v1: Seq[(Long, String, Option[Long])] = (0L until 301L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "de",
        Option(i * 7 + 1))) :+ ((9001L, "nn", Option(0L)))
    TableFormat.commit(spark, src, v1.toDF("doc_id", "lang", "n"), 1, None,
      statsCol = Some("doc_id"))
    // SELECT-LIST ORDER (r13, ADVICE r12 #2): agg first, dim second —
    // the published view must keep exactly this projection
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg_avg',
        |  'SELECT count(*) AS n_docs, lang, avg(n) AS avg_n
        |   FROM graft.db.mv_src_avg GROUP BY lang')""".stripMargin).collect()
    assert(spark.table("graft.db.mv_agg_avg").columns.toSeq ==
      Seq("n_docs", "lang", "avg_n"),
      "published view must project the defining SELECT's exact column order")
    def readAvg: Seq[Row] = spark.sql(
      """SELECT n_docs, lang, avg_n FROM graft.db.mv_agg_avg
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    def recomputeAvg: Seq[Row] = spark.sql(
      """SELECT count(1) AS n_docs, lang,
        |  CAST(sum(n) AS DOUBLE) / count(n) AS avg_n
        |FROM graft.db.mv_src_avg GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    assert(readAvg == recomputeAvg)
    // v2: append into existing groups + a fresh one; v3: kill 'nn' and
    // thin 'en' — the incremental double must re-derive exactly
    TableFormat.appendCommit(spark, src,
      (500L until 577L).map(i =>
        (i, if (i % 2 == 0) "en" else "yy", Option(i * 13 + 5)))
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, src, "doc_id", 9001L, 9001L)
    TableFormat.deleteWhere(spark, src, "doc_id", 0L, 29L)
    spark.sql("CALL graft.system.refresh_mv('db.mv_agg_avg')").collect()
    val got = readAvg
    assert(got == recomputeAvg,
      s"incremental AVG drifted from recompute:\n$got\nvs\n$recomputeAvg")
    assert(!got.exists(_.getString(1) == "nn"), "dead group must vanish")
    // an ALL-NULL group reports NULL avg (count(n)=0), matching SQL AVG
    TableFormat.appendCommit(spark, src,
      Seq[(Long, String, Option[Long])]((8000L, "uu", None), (8001L, "uu", None))
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_agg_avg')").collect()
    val uu = readAvg.find(_.getString(1) == "uu").get
    assert(uu.getLong(0) == 2L && uu.isNullAt(2), s"all-null AVG must be NULL: $uu")
    assert(readAvg == recomputeAvg)
    // a GROUP BY dim omitted from the SELECT list refuses loudly (ADVICE r12 #2)
    fresh("mv_agg_avg2")
    val e = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_agg_avg2',
        |  'SELECT count(*) AS n FROM graft.db.mv_src_avg GROUP BY lang')""".stripMargin)
      .collect())
    assert(e.getMessage.contains("absent from the SELECT list"), e.getMessage)
  }

  test("MV over an inner equi-join: per-side delta propagation, both bookmarks atomic, refresh == recompute (r13, VERDICT r12 #7)") {
    val facts = fresh("jmv_f"); val dim = fresh("jmv_d"); fresh("jmv_agg")
    // facts(doc_id, lang_id, n) ⋈ dim(lang_id, lang): the dim starts
    // WITHOUT lang_id 4, so facts referencing it stay unmatched until
    // the dim side gains the row — the Δ of the OTHER side must pick
    // them up (A_old ⋈ ΔB)
    TableFormat.commit(spark, facts,
      (0L until 400L).map(i => (i, i % 5, Option(i * 3 + 1)))
        .toDF("doc_id", "lang_id", "n"), 1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, dim,
      Seq((0L, "en"), (1L, "fr"), (2L, "de"), (3L, "es"))
        .toDF("lang_id", "lang"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.jmv_agg',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n, min(n) AS min_n
        |   FROM graft.db.jmv_f f JOIN graft.db.jmv_d d ON f.lang_id = d.lang_id
        |   GROUP BY lang')""".stripMargin).collect()
    def readMv: Seq[Row] = spark.sql(
      """SELECT lang, n_docs, sum_n, min_n FROM graft.db.jmv_agg
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    def recomputeJoin: Seq[Row] = spark.sql(
      """SELECT lang, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n,
        |  CAST(min(n) AS BIGINT) AS min_n
        |FROM graft.db.jmv_f f JOIN graft.db.jmv_d d ON f.lang_id = d.lang_id
        |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    assert(readMv == recomputeJoin)
    assert(!readMv.exists(_.getLong(1) == 0), "unmatched lang_id=4 must not appear")
    // ΔA only: append facts (some matched, some still unmatched) + delete a band
    TableFormat.appendCommit(spark, facts,
      (400L until 500L).map(i => (i, i % 5, Option(i * 7))).toDF("doc_id", "lang_id", "n"),
      statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, facts, "doc_id", 50L, 149L)
    spark.sql("CALL graft.system.refresh_mv('db.jmv_agg')").collect()
    assert(readMv == recomputeJoin, "one-sided (facts) delta drifted")
    // ΔB only: the dim GAINS lang_id 4 → every unmatched fact joins in
    TableFormat.appendCommit(spark, dim,
      Seq((4L, "it")).toDF("lang_id", "lang"))
    spark.sql("CALL graft.system.refresh_mv('db.jmv_agg')").collect()
    assert(readMv == recomputeJoin, "dim-side delta (A_old JOIN dB) drifted")
    assert(readMv.exists(_.getString(0) == "it"), "newly matched group missing")
    // BOTH sides change in one span; the dim also LOSES a lang → group
    // death through the join; the facts delete also hits minima → the
    // join-regroup path recomputes exactly the marked groups
    TableFormat.appendCommit(spark, facts,
      (500L until 520L).map(i => (i, 4L, Option(i))).toDF("doc_id", "lang_id", "n"),
      statsCol = Some("doc_id"))
    TableFormat.deleteRowsDV(spark, dim,
      org.apache.spark.sql.functions.col("lang") === "de")
    TableFormat.deleteWhere(spark, facts, "doc_id", 0L, 9L)
    spark.sql("CALL graft.system.refresh_mv('db.jmv_agg')").collect()
    assert(readMv == recomputeJoin, "two-sided span drifted")
    assert(!readMv.exists(_.getString(0) == "de"), "dead joined group must vanish")
    // both bookmarks advanced atomically with the state
    val props = TableFormat.manifest(spark, s"${graft.Tables.scratchDir}/graft_wh/db/jmv_agg__state",
      TableFormat.currentVersion(spark, s"${graft.Tables.scratchDir}/graft_wh/db/jmv_agg__state")).props
    assert(props("graft.mv.version").toInt ==
      TableFormat.currentVersion(spark, facts), props.toString)
    assert(props("graft.mv.version2").toInt ==
      TableFormat.currentVersion(spark, dim), props.toString)
    // shape guards: FULL outer joins (LEFT OUTER is supported since
    // r17 — see the outer-MV spec) and unqualified keys refuse
    fresh("jmv_agg2")
    val e1 = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.jmv_agg2',
        |  'SELECT lang, count(*) AS n FROM graft.db.jmv_f f
        |   FULL JOIN graft.db.jmv_d d ON f.lang_id = d.lang_id GROUP BY lang')""".stripMargin)
      .collect())
    assert(e1.getMessage.contains("INNER") ||
      e1.getMessage.contains("equi-join"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.jmv_agg2',
        |  'SELECT lang, count(*) AS n FROM graft.db.jmv_f f
        |   JOIN graft.db.jmv_d d ON lang_id = lang_id GROUP BY lang')""".stripMargin)
      .collect())
    assert(e2.getMessage.contains("qualified"), e2.getMessage)
  }

  test("MV query rewrite over a JOIN MV: fresh join MV serves the star aggregate in either FROM order; stale/mismatched shapes stand down (r16, VERDICT r15 #2)") {
    val facts = fresh("jrw_f"); val dim = fresh("jrw_d"); fresh("jrw_agg")
    TableFormat.commit(spark, facts,
      (0L until 400L).map(i => (i, i % 4, Option(i * 3 + 1)))
        .toDF("doc_id", "lang_id", "n"), 1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, dim,
      Seq((0L, "en"), (1L, "fr"), (2L, "de"), (3L, "es"))
        .toDF("lang_id", "lang"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.jrw_agg',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.jrw_f f JOIN graft.db.jrw_d d ON f.lang_id = d.lang_id
        |   GROUP BY lang')""".stripMargin).collect()
    val q =
      """SELECT lang, count(*) AS c, sum(n) AS s
        |FROM graft.db.jrw_f f JOIN graft.db.jrw_d d ON f.lang_id = d.lang_id
        |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin
    val direct = spark.sql(q).collect().toSeq
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // 1. the star-schema dashboard aggregate reads the |groups|-row
      //    state — neither source is scanned — and values are exact
      val df = spark.sql(q)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("jrw_agg__state"), s"join rewrite not substituted:\n$plan")
      assert(!plan.contains("jrw_f") && !plan.contains("jrw_d"),
        s"sources still scanned:\n$plan")
      assert(df.collect().toSeq == direct)
      // 2. flipped FROM order (dim JOIN facts) serves too — inner joins
      //    are symmetric, the candidate lookup rotates the key pair
      val qf =
        """SELECT lang, count(*) AS c, sum(n) AS s
          |FROM graft.db.jrw_d d JOIN graft.db.jrw_f f ON f.lang_id = d.lang_id
          |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin
      assert(planOf(qf).contains("jrw_agg__state"), s"flipped order:\n${planOf(qf)}")
      assert(spark.sql(qf).collect().toSeq == direct)
      // 3. ROLL-UP over the join MV: the global aggregate re-sums state
      val qg =
        """SELECT count(*) AS c, sum(n) AS s
          |FROM graft.db.jrw_f f JOIN graft.db.jrw_d d ON f.lang_id = d.lang_id""".stripMargin
      assert(planOf(qg).contains("jrw_agg__state"), s"join roll-up:\n${planOf(qg)}")
      val g = spark.sql(qg).collect().head
      assert(g.getLong(0) == direct.map(_.getLong(1)).sum &&
        g.getLong(1) == direct.map(_.getLong(2)).sum, g.toString)
      // 4. FILTER CONTAINMENT: an extra dim-only conjunct filters state
      val qc = q.replace("GROUP BY", "WHERE lang <> 'de' GROUP BY")
      assert(planOf(qc).contains("jrw_agg__state"), s"join containment:\n${planOf(qc)}")
      assert(spark.sql(qc).collect().toSeq == direct.filter(_.getString(0) != "de"))
      // 5. a DIFFERENT key pair stands down (same tables, wrong ON)
      val qk =
        """SELECT lang, count(*) AS c
          |FROM graft.db.jrw_f f JOIN graft.db.jrw_d d ON f.doc_id = d.lang_id
          |GROUP BY lang""".stripMargin
      assert(planOf(qk).contains("jrw_f"), s"wrong key must stand down:\n${planOf(qk)}")
      // 6. a single-table aggregate is never served by the join MV
      val qs =
        """SELECT lang_id, count(*) AS c FROM graft.db.jrw_f GROUP BY lang_id""".stripMargin
      assert(planOf(qs).contains("jrw_f"))
      // 7. STALENESS spans BOTH sources: advance the RIGHT (dim) side
      //    only → standdown; refresh restores the rewrite
      TableFormat.appendCommit(spark, dim, Seq((9L, "xx")).toDF("lang_id", "lang"))
      assert(planOf(q).contains("jrw_f"), "right-source staleness must stand down")
      spark.sql("CALL graft.system.refresh_mv('db.jrw_agg')").collect()
      assert(planOf(q).contains("jrw_agg__state"))
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val direct2 = try spark.sql(q).collect().toSeq
                    finally spark.conf.set("spark.graft.mv.rewrite", "true")
      assert(spark.sql(q).collect().toSeq == direct2)
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("approx_distinct over string ids: HLL state folds inserts by union (estimate == recompute), value deletes regroup; the exact path names the cure (r16, VERDICT r15 #4)") {
    val src = fresh("mv_srch"); fresh("mv_aggh")
    // repeated string ids so distinct != count; a NULL never counts
    val rows: Seq[(Long, String, Option[String])] =
      (0L until 60L).map(i => (i, "en", Some(s"u${i % 23}"))) ++
      (100L until 140L).map(i => (i, "fr", Some(s"v${i % 31}"))) ++
      Seq((200L, "en", None))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "uid"), 1, None,
      statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggh',
        |  'SELECT lang, count(*) AS n_docs, approx_distinct(uid) AS d_users
        |   FROM graft.db.mv_srch GROUP BY lang')""".stripMargin).collect()
    // the oracle is the SAME sketch over the final rows: fold ≡
    // recompute because HLL union is register max (associative)
    def recomputeH() = spark.sql(
      """SELECT lang, count(1) AS n_docs,
        |  coalesce(hll_sketch_estimate(hll_sketch_agg(uid)), 0L) AS d_users
        |FROM graft.db.mv_srch GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    def mvH() = spark.sql(
      """SELECT lang, n_docs, d_users FROM graft.db.mv_aggh
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    assert(mvH() == recomputeH(), "create must equal the recomputed estimate")
    assert(spark.table("graft.db.mv_aggh__state").columns.contains("__hll_d_users"),
      "approx state must carry the hidden sketch")
    // at this cardinality the estimate is exact — sanity vs true distinct
    assert(mvH().map(r => r.getString(0) -> r.getLong(2)).toMap ==
      Map("en" -> 23L, "fr" -> 31L))
    // 1) INSERT-only span: seen ids (no change), unseen ids, a new
    //    group, a NULL — folds by sketch union, ZERO regrouped
    TableFormat.appendCommit(spark, src,
      (Seq((300L, "en", Some("u5")), (301L, "en", Some("brand-new")),
        (302L, "zz", Some("w1")), (303L, "fr", None))
        : Seq[(Long, String, Option[String])]).toDF("doc_id", "lang", "uid"),
      statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggh')").head
    assert(r1.getLong(4) == 0L, s"insert-only span regrouped: $r1")
    assert(mvH() == recomputeH(), "insert fold diverged from recompute")
    // 2) delete a row holding a DUPLICATED id: a sketch cannot
    //    subtract, so the group regroups — recompute stays unchanged
    TableFormat.deleteWhere(spark, src, "doc_id", 300L, 300L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggh')").head
    assert(r2.getLong(4) == 1L, s"value delete should regroup exactly en: $r2")
    assert(mvH() == recomputeH())
    // 3) delete a NULL-id row: counts fold, sketch untouched — no regroup
    TableFormat.deleteWhere(spark, src, "doc_id", 303L, 303L)
    val r3 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggh')").head
    assert(r3.getLong(4) == 0L, s"null-id delete regrouped: $r3")
    assert(mvH() == recomputeH())
    // 4) QUERY REWRITE: hll_sketch_estimate(hll_sketch_agg(uid)) — the
    //    SAME estimator — serves from the state (exact dims read the
    //    visible estimate; the global roll-up unions hidden sketches);
    //    approx_count_distinct (HLL++, a DIFFERENT estimator) and the
    //    bare sketch stand down — their values/bytes would change
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val q =
        """SELECT lang, hll_sketch_estimate(hll_sketch_agg(uid)) AS d
          |FROM graft.db.mv_srch GROUP BY lang
          |ORDER BY lang ASC NULLS FIRST""".stripMargin
      val df = spark.sql(q)
      assert(df.queryExecution.optimizedPlan.toString.contains("mv_aggh__state"),
        s"estimate rewrite not substituted:\n${df.queryExecution.optimizedPlan}")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(q).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(df.collect().toSeq == direct, "estimate rewrite values diverged")
      val qg =
        "SELECT hll_sketch_estimate(hll_sketch_agg(uid)) AS d FROM graft.db.mv_srch"
      val dfg = spark.sql(qg)
      assert(dfg.queryExecution.optimizedPlan.toString.contains("mv_aggh__state"),
        s"estimate roll-up not substituted:\n${dfg.queryExecution.optimizedPlan}")
      val directG = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(qg).collect().head.getLong(0)
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(dfg.collect().head.getLong(0) == directG,
        "roll-up union estimate diverged from the one-pass sketch")
      val qx =
        "SELECT lang, approx_count_distinct(uid) AS d FROM graft.db.mv_srch GROUP BY lang"
      assert(spark.sql(qx).queryExecution.optimizedPlan.toString.contains("mv_srch"),
        "approx_count_distinct (HLL++) must stand down")
      val qb =
        "SELECT lang, hll_sketch_agg(uid) AS sk FROM graft.db.mv_srch GROUP BY lang"
      assert(spark.sql(qb).queryExecution.optimizedPlan.toString.contains("mv_srch"),
        "the bare sketch must stand down")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    // 5) the EXACT path still refuses strings — naming this as the cure
    fresh("mv_aggh2")
    val e = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggh2',
        |  'SELECT lang, count(DISTINCT uid) AS d FROM graft.db.mv_srch
        |   GROUP BY lang')""".stripMargin).collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("approx_distinct"), chain(e))
  }

  test("COUNT(DISTINCT): bitmap state folds inserts exactly; value deletes regroup targeted; refresh == recompute (r15, VERDICT r14 #3)") {
    val src = fresh("mv_srcd"); fresh("mv_aggd")
    // repeated values so distinct != count; fr's values cross bitmap
    // buckets (stride 40000 > 32768); NULLs never count
    val rows: Seq[(Long, String, Option[Long])] =
      (0L until 40L).map(i => (i, "en", Some(i % 20))) ++
      (100L until 130L).map(i => (i, "fr", Some((i - 100) / 3 * 40000L))) ++
      Seq((200L, "en", None), (201L, "fr", None))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "n"), 1, None,
      statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggd',
        |  'SELECT lang, count(*) AS n_docs, count(DISTINCT n) AS d_n,
        |          sum(n) AS sum_n
        |   FROM graft.db.mv_srcd GROUP BY lang')""".stripMargin).collect()
    def recomputeD() = spark.sql(
      """SELECT lang, count(1) AS n_docs, count(DISTINCT n) AS d_n,
        |  CAST(sum(n) AS BIGINT) AS sum_n
        |FROM graft.db.mv_srcd GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    def mvD() = spark.sql(
      """SELECT lang, n_docs, d_n, sum_n FROM graft.db.mv_aggd
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    assert(mvD() == recomputeD(), "create must equal recompute")
    assert(spark.table("graft.db.mv_aggd__state").columns.contains("__bm_d_n"),
      "distinct state must carry the hidden bitmap map")
    // 1) INSERT-only span: seen values (no distinct change), unseen
    //    values (distinct grows), a new group, a NULL — zero regrouped
    TableFormat.appendCommit(spark, src,
      (Seq((300L, "en", Some(5L)), (301L, "en", Some(123456L)),
        (302L, "zz", Some(7L)), (303L, "zz", Some(7L)),
        (304L, "fr", None)): Seq[(Long, String, Option[Long])])
        .toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggd')").head
    assert(r1.getLong(4) == 0L, s"insert-only span regrouped: $r1")
    assert(mvD() == recomputeD())
    // 2) delete a row holding a DUPLICATED value (en n=5 survives via
    //    other rows): presence-only state cannot prove that, so the
    //    group regroups — and the recompute keeps the count unchanged
    TableFormat.deleteWhere(spark, src, "doc_id", 300L, 300L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggd')").head
    assert(r2.getLong(4) == 1L, s"value delete should regroup exactly en: $r2")
    assert(mvD() == recomputeD())
    // 3) delete the only row of a UNIQUE value (en n=123456): distinct
    //    shrinks; regroup keeps it exact
    TableFormat.deleteWhere(spark, src, "doc_id", 301L, 301L)
    val r3 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggd')").head
    assert(r3.getLong(4) == 1L, s"unique-value delete should regroup en: $r3")
    assert(mvD() == recomputeD())
    // 4) delete a NULL-value row: counts fold, distinct untouched — no
    //    regroup
    TableFormat.deleteWhere(spark, src, "doc_id", 200L, 200L)
    val r4 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggd')").head
    assert(r4.getLong(4) == 0L, s"null-value delete regrouped: $r4")
    assert(mvD() == recomputeD())
    // 5) ROLL-UP rewrite (r15): a GLOBAL count(DISTINCT) re-derives from
    //    the OR-union of the stored bitmap maps (BitmapMapOrAgg) — the
    //    one aggregate plain re-summing cannot serve
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val qg = "SELECT count(DISTINCT n) AS d, count(*) AS c FROM graft.db.mv_srcd"
      val dfg = spark.sql(qg)
      assert(dfg.queryExecution.optimizedPlan.toString.contains("mv_aggd__state"),
        s"distinct roll-up not substituted:\n${dfg.queryExecution.optimizedPlan}")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(qg).collect().head
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(dfg.collect().head == direct)
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    // the SQL-registered aggregate agrees with a direct distinct count
    assert(spark.sql(
      "SELECT bitmap_map_distinct(__bm_d_n) FROM graft.db.mv_aggd__state")
      .head.getLong(0) ==
      spark.sql("SELECT count(DISTINCT n) FROM graft.db.mv_srcd").head.getLong(0))
  }

  test("multi-MV choice: the smallest fresh state serves the query (r15)") {
    val src = fresh("mv_srcm"); fresh("mv_aggm_big"); fresh("mv_aggm_small")
    TableFormat.commit(spark, src,
      (0L until 300L).map(i => (i, if (i % 3 == 0) "en" else "fr", i)).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    // both MVs can serve a GLOBAL count: 300-group vs 2-group states
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggm_big',
        |  'SELECT doc_id, count(*) AS c FROM graft.db.mv_srcm GROUP BY doc_id')"""
        .stripMargin).collect()
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggm_small',
        |  'SELECT lang, count(*) AS c FROM graft.db.mv_srcm GROUP BY lang')"""
        .stripMargin).collect()
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val df = spark.sql("SELECT count(*) AS c FROM graft.db.mv_srcm")
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains("mv_aggm_small__state") && !p.contains("mv_aggm_big__state"),
        s"rewrite should pick the 2-group state over the 300-group one:\n$p")
      assert(df.head.getLong(0) == 300L)
      // graft_mv_explain's `chosen` column names the SAME pick: both
      // candidates would_serve, exactly the smaller one is chosen (r17)
      val exp = spark.sql(
        """SELECT mv, status, chosen FROM graft_mv_explain(
          |  'SELECT count(*) AS c FROM graft.db.mv_srcm')""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      assert(exp.count(_._2 == "would_serve") == 2, exp.toSeq.toString)
      assert(exp.filter(_._3).map(_._1).toSeq == Seq("db.mv_aggm_small"),
        s"chosen must mark exactly the rewrite's pick: ${exp.toSeq}")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("rewrite candidate cache: stale entries only MISS, never mis-serve; dropped MVs stand down (r15)") {
    val src = fresh("mv_srcc"); fresh("mv_aggc")
    TableFormat.commit(spark, src,
      (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "fr", i)).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggc',
        |  'SELECT lang, count(*) AS n_docs FROM graft.db.mv_srcc GROUP BY lang')"""
        .stripMargin).collect()
    val q = "SELECT lang, count(*) AS c FROM graft.db.mv_srcc GROUP BY lang ORDER BY lang"
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      spark.conf.set("spark.graft.mv.rewrite.cacheMs", "600000")
      // prime the cache with a rewrite hit
      assert(spark.sql(q).queryExecution.optimizedPlan.toString.contains("mv_aggc__state"))
      // the source advances; the CACHED bookmark is stale but freshness
      // always reads the LIVE source head → standdown, correct values
      TableFormat.appendCommit(spark, src,
        Seq((1000L, "zz", 1L)).toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
      val dfStale = spark.sql(q)
      assert(dfStale.queryExecution.optimizedPlan.toString.contains("mv_srcc"),
        "stale cache must stand down, not serve the old state")
      assert(dfStale.collect().map(_.getString(0)).contains("zz"))
      // refresh makes the MV fresh again, but the cache still carries
      // the OLD bookmark → MISSED rewrite (safe), values exact
      spark.sql("CALL graft.system.refresh_mv('db.mv_aggc')").collect()
      val dfMiss = spark.sql(q)
      assert(dfMiss.queryExecution.optimizedPlan.toString.contains("mv_srcc"),
        "a cached stale bookmark may only MISS")
      // dropping the MV under a cached entry: the dead candidate is
      // skipped at match time — standdown, never a query failure
      spark.conf.set("spark.graft.mv.rewrite.cacheMs", "0")
      spark.sql(q).collect() // uncached sweep re-primes nothing
      spark.conf.set("spark.graft.mv.rewrite.cacheMs", "600000")
      spark.sql(q).collect() // re-prime with the fresh bookmark
      spark.sql("CALL graft.system.drop_mv('db.mv_aggc')").collect()
      val dfDropped = spark.sql(q)
      assert(dfDropped.queryExecution.optimizedPlan.toString.contains("mv_srcc"))
      assert(dfDropped.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.graft.mv.rewrite", "false")
      spark.conf.set("spark.graft.mv.rewrite.cacheMs", "0")
    }
  }

  test("MV over an equality-mode CDC source self-heals: refresh resolves outstanding eq deletes first (r15)") {
    val src = fresh("mv_srce"); fresh("mv_agge")
    TableFormat.commit(spark, src,
      (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "fr", i)).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    // equality delete lands BEFORE the MV exists: create must resolve it
    // or its bookmark could never start a change feed
    TableFormat.deleteByKeysEq(spark, src, (0L until 10L).toDF("doc_id"), "doc_id")
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agge',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_srce GROUP BY lang')""".stripMargin).collect()
    assert(TableFormat.manifest(spark, src,
      TableFormat.currentVersion(spark, src)).eqDels.isEmpty,
      "create must resolve the source's outstanding deletes")
    assert(mvRead("graft.db.mv_agge") == recompute("graft.db.mv_srce", ""))
    // the CDC loop: appends + an equality delete, then ONE refresh —
    // the MV self-heals (resolves, then folds the CDF) with no operator
    // in the loop
    TableFormat.appendCommit(spark, src,
      (200L until 260L).map(i => (i, "zz", i)).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    TableFormat.deleteByKeysEq(spark, src,
      (Seq(20L, 21L, 22L) ++ (200L until 210L)).toDF("doc_id"), "doc_id")
    val r = spark.sql("CALL graft.system.refresh_mv('db.mv_agge')").head
    assert(r.getLong(3) > 0, s"refresh should fold rows: $r")
    assert(TableFormat.manifest(spark, src,
      TableFormat.currentVersion(spark, src)).eqDels.isEmpty,
      "refresh must resolve the source's outstanding deletes")
    assert(mvRead("graft.db.mv_agge") == recompute("graft.db.mv_srce", ""))
  }

  test("CoW UPDATE flows through as paired images; no-op and maintenance spans") {
    val src = fresh("mv_src4"); fresh("mv_agg4")
    TableFormat.commit(spark, src,
      (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "fr", i)).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg4',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_src4 GROUP BY lang')""".stripMargin).collect()
    // true no-op: bookmark already current → NO commit at all
    val mvV0 = TableFormat.currentVersion(spark, s"$wh/db/mv_agg4__state")
    val noop = spark.sql("CALL graft.system.refresh_mv('db.mv_agg4')").head
    assert(noop.getLong(3) == -1L &&
      TableFormat.currentVersion(spark, s"$wh/db/mv_agg4__state") == mvV0)
    // SQL UPDATE (CoW rewrite) on the source
    spark.sql("UPDATE graft.db.mv_src4 SET n = n + 1000 WHERE doc_id < 10")
    spark.sql("CALL graft.system.refresh_mv('db.mv_agg4')").collect()
    assert(mvRead("graft.db.mv_agg4") == recompute("graft.db.mv_src4", ""))
    // maintenance-only span: compact emits no CDF rows → refresh
    // advances the bookmark with a METADATA commit (op = alter)
    spark.sql(s"CALL graft.system.compact('db.mv_src4', ${Long.MaxValue}L, 2)").collect()
    val mvV1 = TableFormat.currentVersion(spark, s"$wh/db/mv_agg4__state")
    val m = spark.sql("CALL graft.system.refresh_mv('db.mv_agg4')").head
    assert(m.getLong(3) == 0L)
    val mvV2 = TableFormat.currentVersion(spark, s"$wh/db/mv_agg4__state")
    assert(mvV2 == mvV1 + 1)
    assert(mvRead("graft.db.mv_agg4") == recompute("graft.db.mv_src4", ""))
  }

  test("expression dims: GROUP BY derived scalars maintains incrementally — create/refresh == recompute, regroup through computed dims (r16, VERDICT r15 #3)") {
    val src = fresh("mv_srce"); fresh("mv_agge")
    val rows = (0L until 500L).map(i => (i, s"l${i % 4}", i * 3))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "n"), 1, None,
      statsCol = Some("doc_id"))
    // one dim grouped by the EXPRESSION text, one by its ALIAS — both
    // legal spellings of the same contract
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agge',
        |  'SELECT doc_id DIV 100 AS era, upper(lang) AS ulang,
        |          count(*) AS n_docs, sum(n) AS sum_n, min(n) AS min_n
        |   FROM graft.db.mv_srce WHERE doc_id % 7 <> 0
        |   GROUP BY doc_id DIV 100, ulang')""".stripMargin).collect()
    def recomputeE: Seq[Row] = spark.sql(
      """SELECT doc_id DIV 100 AS era, upper(lang) AS ulang,
        |  count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n,
        |  CAST(min(n) AS BIGINT) AS min_n
        |FROM graft.db.mv_srce WHERE doc_id % 7 <> 0
        |GROUP BY 1, 2 ORDER BY era, ulang""".stripMargin).collect().toSeq
    def readE: Seq[Row] = spark.sql(
      """SELECT era, ulang, n_docs, sum_n, min_n FROM graft.db.mv_agge
        |ORDER BY era, ulang""".stripMargin).collect().toSeq
    assert(spark.table("graft.db.mv_agge").columns.toSeq ==
      Seq("era", "ulang", "n_docs", "sum_n", "min_n"))
    assert(readE == recomputeE)
    // inserts: new eras appear, existing groups fold in
    TableFormat.appendCommit(spark, src,
      (500L until 650L).map(i => (i, s"l${i % 5}", i * 7)).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_agge')").collect()
    assert(readE == recomputeE, "insert fold over expression dims drifted")
    // a band delete REMOVES binding minima: the targeted regroup must
    // rescan with the computed dims projected onto the source
    TableFormat.deleteWhere(spark, src, "doc_id", 0L, 149L)
    spark.sql("CALL graft.system.refresh_mv('db.mv_agge')").collect()
    assert(readE == recomputeE, "regroup through computed dims drifted")
    assert(!readE.exists(_.getLong(0) == 0L), "era 0 must die with its rows")
  }

  test("MV query rewrite over expression dims: GROUP BY the derived scalar serves from state; residuals over the dim expression filter state rows (r16, VERDICT r15 #3)") {
    val src = fresh("mv_srcx"); fresh("mv_aggx")
    TableFormat.commit(spark, src,
      (0L until 600L).map(i => (i, s"l${i % 3}", i * 2)).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggx',
        |  'SELECT doc_id DIV 100 AS era, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_srcx WHERE doc_id % 5 <> 0 GROUP BY era')""".stripMargin)
      .collect()
    val q =
      """SELECT doc_id DIV 100 AS era, count(*) AS c, sum(n) AS s
        |FROM graft.db.mv_srcx WHERE doc_id % 5 <> 0
        |GROUP BY doc_id DIV 100 ORDER BY era""".stripMargin
    val direct = spark.sql(q).collect().toSeq
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // 1. the derived-dim aggregate reads the state, values exact
      val df = spark.sql(q)
      assert(df.queryExecution.optimizedPlan.toString.contains("mv_aggx__state"),
        s"expression-dim rewrite not substituted:\n${df.queryExecution.optimizedPlan}")
      assert(!df.queryExecution.optimizedPlan.toString.contains("mv_srcx"))
      assert(df.collect().toSeq == direct)
      // 2. residual over the DIM EXPRESSION filters the state rows
      val qc = q.replace("GROUP BY", "AND doc_id DIV 100 >= 2 GROUP BY")
      assert(planOf(qc).contains("mv_aggx__state"), s"expr residual:\n${planOf(qc)}")
      assert(spark.sql(qc).collect().toSeq == direct.filter(_.getLong(0) >= 2L))
      // 3. ROLL-UP: the global aggregate re-sums the state
      val qg =
        """SELECT count(*) AS c, sum(n) AS s FROM graft.db.mv_srcx
          |WHERE doc_id % 5 <> 0""".stripMargin
      assert(planOf(qg).contains("mv_aggx__state"), s"expr roll-up:\n${planOf(qg)}")
      val g = spark.sql(qg).collect().head
      assert(g.getLong(0) == direct.map(_.getLong(1)).sum &&
        g.getLong(1) == direct.map(_.getLong(2)).sum)
      // 4. a DIFFERENT derivation of the same column stands down
      val qd = q.replace("DIV 100", "DIV 50")
      assert(planOf(qd).contains("mv_srcx"), "different expression must stand down")
      // 5. a residual over a NON-dim column still stands down
      val qn = q.replace("GROUP BY", "AND n > 100 GROUP BY")
      assert(planOf(qn).contains("mv_srcx"), "non-dim residual must stand down")
      // 6. a superset of the dims stands down
      val qs =
        """SELECT doc_id DIV 100 AS era, lang, count(*) AS c
          |FROM graft.db.mv_srcx WHERE doc_id % 5 <> 0
          |GROUP BY doc_id DIV 100, lang""".stripMargin
      assert(planOf(qs).contains("mv_srcx"), "dim superset must stand down")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("MV rewrite through HAVING shapes: filters over aggregate outputs — selected, aliased, or analyzer-added hidden aggregates — resolve above the substituted state scan (r16, r17 candidate #4)") {
    val src = fresh("mv_srchv"); fresh("mv_agghv")
    TableFormat.commit(spark, src,
      (0L until 500L).map(i =>
        (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "de", i * 7))
        .toDF("doc_id", "lang", "n"), 1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agghv',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n, avg(n) AS avg_n,
        |          min(n) AS min_n, max(n) AS max_n
        |   FROM graft.db.mv_srchv WHERE doc_id % 5 <> 0 GROUP BY lang')""".stripMargin)
      .collect()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    def pinned(sql: String, label: String): Unit = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.toString.contains("mv_agghv__state"),
        s"$label not substituted:\n${df.queryExecution.optimizedPlan}")
      assert(!df.queryExecution.optimizedPlan.toString.contains("mv_srchv"),
        s"$label still scans the source")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(sql).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(df.collect().toSeq == direct, s"$label values diverged")
    }
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // 1. HAVING over a SELECTED aggregate's output alias
      pinned(
        """SELECT lang, sum(n) AS s FROM graft.db.mv_srchv
          |WHERE doc_id % 5 <> 0 GROUP BY lang HAVING s > 100
          |ORDER BY lang""".stripMargin, "alias HAVING")
      // 2. HAVING over HIDDEN aggregates the analyzer adds to the plan
      //    (max/count absent from the SELECT list): the Aggregate node
      //    carries extra outputs — each must map onto a state column
      pinned(
        """SELECT lang, sum(n) AS s FROM graft.db.mv_srchv
          |WHERE doc_id % 5 <> 0 GROUP BY lang
          |HAVING max(n) > 500 AND count(*) > 2 ORDER BY lang""".stripMargin,
        "hidden-aggregate HAVING")
      // 3. GLOBAL aggregate (roll-up) + HAVING over an un-selected sum
      pinned(
        """SELECT count(*) AS c FROM graft.db.mv_srchv
          |WHERE doc_id % 5 <> 0 HAVING sum(n) > 0""".stripMargin,
        "roll-up HAVING")
      // 4. ORDER BY an un-selected aggregate (the same analyzer device)
      pinned(
        """SELECT lang, count(*) AS c FROM graft.db.mv_srchv
          |WHERE doc_id % 5 <> 0 GROUP BY lang ORDER BY max(n) DESC""".stripMargin,
        "hidden-aggregate ORDER BY")
      // 5. HAVING mixing aggregate outputs with dims
      pinned(
        """SELECT lang, avg(n) AS a FROM graft.db.mv_srchv
          |WHERE doc_id % 5 <> 0 GROUP BY lang
          |HAVING count(*) > 1 AND lang <> 'zz' ORDER BY lang""".stripMargin,
        "mixed HAVING")
      // a HAVING over an aggregate the MV cannot serve still stands down
      val qx =
        """SELECT lang, count(*) AS c FROM graft.db.mv_srchv
          |WHERE doc_id % 5 <> 0 GROUP BY lang
          |HAVING count(DISTINCT n) > 1""".stripMargin
      assert(planOf(qx).contains("mv_srchv"),
        "unservable hidden aggregate must stand down")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("MV rewrite serves SELECT DISTINCT dims — the filter-dropdown query reads |groups| state rows, exact and subset dims; non-dims and DISTINCT * stand down (r16)") {
    val src = fresh("mv_srcd"); fresh("mv_aggd")
    TableFormat.commit(spark, src,
      (0L until 600L).map(i => (i, s"l${i % 4}", i % 7, i * 2))
        .toDF("doc_id", "lang", "bucket", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggd',
        |  'SELECT lang, bucket, count(*) AS n_docs
        |   FROM graft.db.mv_srcd WHERE doc_id % 5 <> 0
        |   GROUP BY lang, bucket')""".stripMargin).collect()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    def pinned(sql: String, label: String): Unit = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.toString.contains("mv_aggd__state"),
        s"$label not substituted:\n${df.queryExecution.optimizedPlan}")
      assert(!df.queryExecution.optimizedPlan.toString.contains("mv_srcd"),
        s"$label still scans the source")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(sql).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(df.collect().toSeq == direct, s"$label values diverged")
    }
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // exact dims: the state's one-row-per-group IS the distinct set
      pinned(
        """SELECT DISTINCT lang, bucket FROM graft.db.mv_srcd
          |WHERE doc_id % 5 <> 0 ORDER BY lang, bucket""".stripMargin,
        "exact-dims DISTINCT")
      // dims SUBSET: re-distinct over the |groups|-row state
      pinned(
        """SELECT DISTINCT lang FROM graft.db.mv_srcd
          |WHERE doc_id % 5 <> 0 ORDER BY lang""".stripMargin,
        "subset-dims DISTINCT")
      // a dim-only residual filters state rows first
      pinned(
        """SELECT DISTINCT bucket FROM graft.db.mv_srcd
          |WHERE doc_id % 5 <> 0 AND lang <> 'l2' ORDER BY bucket""".stripMargin,
        "residual DISTINCT")
      // a non-dim column can never be served
      assert(planOf(
        """SELECT DISTINCT lang, n FROM graft.db.mv_srcd
          |WHERE doc_id % 5 <> 0""".stripMargin).contains("mv_srcd"),
        "non-dim DISTINCT must stand down")
      // DISTINCT * (all columns) is row dedup, not group enumeration
      assert(planOf(
        """SELECT DISTINCT * FROM graft.db.mv_srcd
          |WHERE doc_id % 5 <> 0""".stripMargin).contains("mv_srcd"),
        "DISTINCT * must stand down")
      // a weaker WHERE than the MV's stands down
      assert(planOf("SELECT DISTINCT lang FROM graft.db.mv_srcd")
        .contains("mv_srcd"), "weaker predicate must stand down")
      // the DataFrame API route: distinct()/dropDuplicates() plan as
      // Deduplicate, not Distinct — whole-output dedup serves the same
      val dfd = spark.table("graft.db.mv_srcd")
        .where("doc_id % 5 <> 0").select("lang", "bucket").distinct()
      assert(dfd.queryExecution.optimizedPlan.toString.contains("mv_aggd__state"),
        s"Dataset.distinct not substituted:\n${dfd.queryExecution.optimizedPlan}")
      val directD = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.table("graft.db.mv_srcd").where("doc_id % 5 <> 0")
          .select("lang", "bucket").distinct()
          .orderBy("lang", "bucket").collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(dfd.orderBy("lang", "bucket").collect().toSeq == directD,
        "Dataset.distinct values diverged")
      // keyed dropDuplicates keeps WHOLE rows (a representative per
      // key) — never servable from group state
      val dfk = spark.table("graft.db.mv_srcd")
        .where("doc_id % 5 <> 0").dropDuplicates("lang")
      assert(dfk.queryExecution.optimizedPlan.toString.contains("mv_srcd"),
        "keyed dropDuplicates must stand down")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("MV rewrite sees through trivial wrappers: views, inline subqueries, column-pruning projects, stacked WHEREs — aliasing/computing wrappers stand down (r16)") {
    val src = fresh("mv_srcw"); fresh("mv_aggw")
    TableFormat.commit(spark, src,
      (0L until 600L).map(i => (i, s"l${i % 3}", i * 2))
        .toDF("doc_id", "lang", "n"), 1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggw',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0 GROUP BY lang')""".stripMargin)
      .collect()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    def pinned(sql: String, label: String): Unit = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan.toString.contains("mv_aggw__state"),
        s"$label not substituted; analyzed:\n${df.queryExecution.analyzed}")
      assert(!df.queryExecution.optimizedPlan.toString.contains("mv_srcw"),
        s"$label still scans the source")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(sql).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(df.collect().toSeq == direct, s"$label values diverged")
    }
    // a temp VIEW carrying the MV's WHERE — the saved-view dashboard
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW mv_srcw_v AS
        |SELECT * FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0""".stripMargin)
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // 1. aggregate over the VIEW: the view's WHERE is the MV predicate
      pinned(
        """SELECT lang, count(*) AS c, sum(n) AS s FROM mv_srcw_v
          |GROUP BY lang ORDER BY lang""".stripMargin, "view-wrapped aggregate")
      // 2. view WHERE + query's own dim residual compose conjunctively
      pinned(
        """SELECT lang, count(*) AS c FROM mv_srcw_v WHERE lang <> 'l1'
          |GROUP BY lang ORDER BY lang""".stripMargin, "view + residual")
      // 3. inline subquery with column pruning and its own WHERE
      pinned(
        """SELECT lang, sum(n) AS s
          |FROM (SELECT lang, n FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0) x
          |GROUP BY lang ORDER BY lang""".stripMargin, "pruning subquery")
      // 4. DISTINCT through the view (the Distinct path composes)
      pinned("SELECT DISTINCT lang FROM mv_srcw_v ORDER BY lang",
        "view-wrapped DISTINCT")
      // 5. roll-up through the subquery
      pinned(
        """SELECT count(*) AS c
          |FROM (SELECT lang FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0) x""".stripMargin,
        "subquery roll-up")
      // 6. CTE: at analysis time still WithCTE + CTERelationRef — the
      //    unwrap follows the ref into its body (r16)
      pinned(
        """WITH x AS (SELECT * FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0)
          |SELECT lang, count(*) AS c, sum(n) AS s FROM x
          |GROUP BY lang ORDER BY lang""".stripMargin, "CTE-wrapped aggregate")
      // 7. CTE + the query's own dim residual
      pinned(
        """WITH x AS (SELECT lang, n FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0)
          |SELECT lang, sum(n) AS s FROM x WHERE lang <> 'l0'
          |GROUP BY lang ORDER BY lang""".stripMargin, "CTE + residual")
      // a column-ALIASING CTE renames the namespace: stand down
      assert(planOf(
        """WITH x (l, m) AS (SELECT lang, n FROM graft.db.mv_srcw
          |                  WHERE doc_id % 5 <> 0)
          |SELECT l, count(*) AS c FROM x GROUP BY l""".stripMargin)
        .contains("mv_srcw"), "column-aliasing CTE must stand down")
      // an ALIASING subquery changes the attribute namespace: stand down
      assert(planOf(
        """SELECT l, count(*) AS c
          |FROM (SELECT lang AS l FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0) x
          |GROUP BY l""".stripMargin).contains("mv_srcw"),
        "aliasing wrapper must stand down")
      // a COMPUTING subquery (expression under the source's own name)
      // must stand down — serving it would be a wrong answer
      val qComp =
        """SELECT lang, count(*) AS c
          |FROM (SELECT upper(lang) AS lang, doc_id
          |      FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0) x
          |GROUP BY lang""".stripMargin
      assert(planOf(qComp).contains("mv_srcw"),
        "computing wrapper must stand down")
      // a view WEAKER than the MV predicate stands down
      spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW mv_srcw_weak AS
          |SELECT * FROM graft.db.mv_srcw""".stripMargin)
      assert(planOf("SELECT lang, count(*) AS c FROM mv_srcw_weak GROUP BY lang")
        .contains("mv_srcw"), "weaker view predicate must stand down")
    } finally {
      spark.conf.set("spark.graft.mv.rewrite", "false")
      spark.sql("DROP VIEW IF EXISTS mv_srcw_v")
      spark.sql("DROP VIEW IF EXISTS mv_srcw_weak")
    }
  }

  test("join MV x expression dims: derived scalars over joined rows maintain and serve — create/refresh == recompute, regroup through computed dims, rewrite from state (r16, r17 candidate #3)") {
    val facts = fresh("jx_f"); val dim = fresh("jx_d"); fresh("jx_agg")
    TableFormat.commit(spark, facts,
      (0L until 400L).map(i => (i, i % 4, Option(i * 3 + 1)))
        .toDF("doc_id", "lang_id", "n"), 1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, dim,
      Seq((0L, "en"), (1L, "fr"), (2L, "de"), (3L, "es"))
        .toDF("lang_id", "lang"), 1, None)
    // one expression dim from EACH side of the join: `era` derives from
    // the fact table, `ulang` from the dim table — both computed at the
    // maintenance chokepoint AFTER the join, stored as plain state columns
    spark.sql(
      """CALL graft.system.create_mv('db.jx_agg',
        |  'SELECT upper(lang) AS ulang, doc_id DIV 100 AS era,
        |          count(*) AS n_docs, sum(n) AS sum_n, min(n) AS min_n
        |   FROM graft.db.jx_f f JOIN graft.db.jx_d d ON f.lang_id = d.lang_id
        |   GROUP BY ulang, era')""".stripMargin).collect()
    def recomputeJX: Seq[Row] = spark.sql(
      """SELECT upper(lang) AS ulang, doc_id DIV 100 AS era,
        |  count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n,
        |  CAST(min(n) AS BIGINT) AS min_n
        |FROM graft.db.jx_f f JOIN graft.db.jx_d d ON f.lang_id = d.lang_id
        |GROUP BY 1, 2 ORDER BY ulang, era""".stripMargin).collect().toSeq
    def readJX: Seq[Row] = spark.sql(
      """SELECT ulang, era, n_docs, sum_n, min_n FROM graft.db.jx_agg
        |ORDER BY ulang, era""".stripMargin).collect().toSeq
    assert(readJX == recomputeJX, "create over join + expression dims drifted")
    // ΔA: append facts (new eras) + band delete; ΔB: dim gains a lang
    TableFormat.appendCommit(spark, facts,
      (400L until 520L).map(i => (i, i % 5, Option(i * 7)))
        .toDF("doc_id", "lang_id", "n"), statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, facts, "doc_id", 50L, 149L)
    TableFormat.appendCommit(spark, dim, Seq((4L, "it")).toDF("lang_id", "lang"))
    spark.sql("CALL graft.system.refresh_mv('db.jx_agg')").collect()
    assert(readJX == recomputeJX, "two-sided delta over expression dims drifted")
    assert(readJX.exists(_.getString(0) == "IT"), "newly matched derived group missing")
    // delete the rows holding binding minima: the targeted regroup must
    // rescan the JOINED snapshot with the computed dims projected on
    TableFormat.deleteWhere(spark, facts, "doc_id", 0L, 9L)
    spark.sql("CALL graft.system.refresh_mv('db.jx_agg')").collect()
    assert(readJX == recomputeJX, "join regroup through computed dims drifted")
    // REWRITE: GROUP BY the derived scalars over the join serves from
    // the state; a residual over a dim expression filters state rows
    val q =
      """SELECT upper(lang) AS ulang, doc_id DIV 100 AS era,
        |  count(*) AS c, sum(n) AS s
        |FROM graft.db.jx_f f JOIN graft.db.jx_d d ON f.lang_id = d.lang_id
        |GROUP BY upper(lang), doc_id DIV 100 ORDER BY ulang, era""".stripMargin
    val direct = spark.sql(q).collect().toSeq
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val df = spark.sql(q)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("jx_agg__state"),
        s"join+expr-dim rewrite not substituted:\n$plan")
      assert(!plan.contains("jx_f") && !plan.contains("jx_d"),
        s"sources still scanned:\n$plan")
      assert(df.collect().toSeq == direct)
      // residual over the fact-side dim expression filters state rows
      val qc = q.replace("GROUP BY", "WHERE doc_id DIV 100 >= 2 GROUP BY")
      assert(planOf(qc).contains("jx_agg__state"), s"expr residual:\n${planOf(qc)}")
      assert(spark.sql(qc).collect().toSeq == direct.filter(_.getLong(1) >= 2L))
      // roll-up to ONE derived dim (strict subset) re-aggregates state
      val qr =
        """SELECT upper(lang) AS ulang, count(*) AS c, sum(n) AS s
          |FROM graft.db.jx_f f JOIN graft.db.jx_d d ON f.lang_id = d.lang_id
          |GROUP BY upper(lang) ORDER BY ulang""".stripMargin
      assert(planOf(qr).contains("jx_agg__state"), s"expr roll-up:\n${planOf(qr)}")
      val rolled = spark.sql(qr).collect().toSeq
      val want = direct.groupBy(_.getString(0)).toSeq.sortBy(_._1).map {
        case (u, rs) => (u, rs.map(_.getLong(2)).sum, rs.map(_.getLong(3)).sum) }
      assert(rolled.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) == want)
      // a different derivation stands down
      assert(planOf(q.replace("DIV 100", "DIV 50")).contains("jx_f"),
        "different expression over the join must stand down")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("variance/stddev MV state: exact power sums fold under inserts AND deletes with zero regroups — refresh == recompute bit-for-bit on the shared derivation (r16)") {
    val src = fresh("mv_srcv"); fresh("mv_aggv")
    // a constant-valued group ('cc') exercises the negative-drift clamp
    // (stddev of a constant must be 0.0, never NaN); a single-row group
    // ('one') pins the n=1 NULL/0 split between samp and pop
    val rows: Seq[(Long, String, Option[Long])] =
      (0L until 300L).map(i => (i, if (i % 2 == 0) "en" else "fr",
        Some(i * i % 997))) ++
      (1000L until 1040L).map(i => (i, "cc", Some(42L))) ++
      Seq((2000L, "one", Some(7L)), (2001L, "nn", None))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "n"), 1, None,
      statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggv',
        |  'SELECT lang, count(*) AS n_docs, var_samp(n) AS v,
        |          stddev_samp(n) AS sd, var_pop(n) AS vp, stddev_pop(n) AS sdp
        |   FROM graft.db.mv_srcv GROUP BY lang')""".stripMargin).collect()
    // the recompute uses the SAME power-sum derivation — equality is
    // bit-for-bit, not ulp-tolerant
    def recomputeV: Seq[Row] = spark.sql(
      """SELECT lang, count(1) AS n_docs,
        |  CASE WHEN count(n) > 1 THEN greatest(
        |    (CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS DOUBLE)
        |     - CAST(sum(CAST(n AS BIGINT)) AS DOUBLE) * CAST(sum(CAST(n AS BIGINT)) AS DOUBLE)
        |       / CAST(count(n) AS DOUBLE))
        |    / (CAST(count(n) AS DOUBLE) - 1.0D), 0.0D) END AS v,
        |  CASE WHEN count(n) > 1 THEN sqrt(greatest(
        |    (CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS DOUBLE)
        |     - CAST(sum(CAST(n AS BIGINT)) AS DOUBLE) * CAST(sum(CAST(n AS BIGINT)) AS DOUBLE)
        |       / CAST(count(n) AS DOUBLE))
        |    / (CAST(count(n) AS DOUBLE) - 1.0D), 0.0D)) END AS sd,
        |  CASE WHEN count(n) > 0 THEN greatest(
        |    (CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS DOUBLE)
        |     - CAST(sum(CAST(n AS BIGINT)) AS DOUBLE) * CAST(sum(CAST(n AS BIGINT)) AS DOUBLE)
        |       / CAST(count(n) AS DOUBLE))
        |    / CAST(count(n) AS DOUBLE), 0.0D) END AS vp,
        |  CASE WHEN count(n) > 0 THEN sqrt(greatest(
        |    (CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS DOUBLE)
        |     - CAST(sum(CAST(n AS BIGINT)) AS DOUBLE) * CAST(sum(CAST(n AS BIGINT)) AS DOUBLE)
        |       / CAST(count(n) AS DOUBLE))
        |    / CAST(count(n) AS DOUBLE), 0.0D)) END AS sdp
        |FROM graft.db.mv_srcv GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    def readV: Seq[Row] = spark.sql(
      """SELECT lang, n_docs, v, sd, vp, sdp FROM graft.db.mv_aggv
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    assert(readV == recomputeV, "create drifted from the power-sum recompute")
    // sanity vs Spark's own estimators (Welford central moments): the
    // values agree to a few ulps even though the bits may differ
    spark.sql(
      """SELECT lang, var_samp(n) AS v, stddev_pop(n) AS sdp
        |FROM graft.db.mv_srcv GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect()
      .zip(readV).foreach { case (w, m) =>
        Seq((1, 2), (2, 5)).foreach { case (wi, mi) =>
          val (a, b) = (w.get(wi), m.get(mi))
          if (a != null && b != null) {
            val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
            assert(math.abs(x - y) <= math.max(math.abs(x), 1.0) * 1e-9,
              s"power-sum vs Welford diverged beyond float noise: $x vs $y")
          }
        }
      }
    // expected corner values
    val byLang = readV.map(r => r.getString(0) -> r).toMap
    assert(byLang("cc").getDouble(2) == 0.0 && byLang("cc").getDouble(3) == 0.0,
      "constant column must have exactly zero variance (clamp)")
    assert(byLang("one").isNullAt(2) && byLang("one").getDouble(4) == 0.0,
      "n=1: var_samp NULL, var_pop 0")
    assert(byLang("nn").isNullAt(2) && byLang("nn").isNullAt(4),
      "all-NULL group: every variance NULL")
    // INSERT fold (new group + existing groups) — zero regroups
    TableFormat.appendCommit(spark, src,
      ((300L until 400L).map(i => (i, "zz", Some(i * 3 % 501)))
        : Seq[(Long, String, Option[Long])]).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggv')").head
    assert(r1.getLong(4) == 0L, s"insert span must not regroup: $r1")
    assert(readV == recomputeV, "insert fold drifted")
    // DELETE fold — variance is self-maintainable under deletes too:
    // still zero regroups (the MIN/MAX/distinct paths would rescan)
    TableFormat.deleteWhere(spark, src, "doc_id", 50L, 149L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggv')").head
    assert(r2.getLong(4) == 0L, s"delete span must not regroup: $r2")
    assert(readV == recomputeV, "delete fold drifted")
    // kill the constant group entirely — group death composes
    TableFormat.deleteWhere(spark, src, "doc_id", 1000L, 1039L)
    spark.sql("CALL graft.system.refresh_mv('db.mv_aggv')").collect()
    assert(readV == recomputeV)
    assert(!readV.exists(_.getString(0) == "cc"), "dead group must vanish")
    // the QUERY REWRITE serves var/stddev from the power-sum state
    // (r17, VERDICT r16 #1): exact dims read the visible derivation;
    // the served answer is the MV contract's exact power-sum double
    // (documented: may differ in low-order bits from Spark's Welford
    // direct plan, the same contract AVG's exact-sum division has)
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val qv = spark.sql(
        """SELECT lang, var_samp(n) AS v, stddev_pop(n) AS sdp
          |FROM graft.db.mv_srcv GROUP BY lang
          |ORDER BY lang ASC NULLS FIRST""".stripMargin)
      assert(qv.queryExecution.optimizedPlan.toString.contains("mv_aggv__state"),
        "var_samp/stddev_pop must serve from the MV state")
      assert(qv.collect().toSeq ==
        readV.map(r => Row(r.get(0), r.get(2), r.get(5))),
        "served var/stddev must equal the MV's visible power-sum values")
      // sibling aggregates the SAME MV stores still serve
      val qc =
        """SELECT lang, count(*) AS c FROM graft.db.mv_srcv
          |GROUP BY lang""".stripMargin
      assert(spark.sql(qc).queryExecution.optimizedPlan.toString
        .contains("mv_aggv__state"), "count over the var MV must still serve")
      // ROLL-UP: the global variance re-derives from the SUMMED hidden
      // power sums (n=Σn, s=Σs, q=Σq are the coarser grain's own power
      // sums) — equal to the power-sum recompute bit-for-bit
      val qr = spark.sql(
        """SELECT var_samp(n) AS v, stddev_samp(n) AS sd, var_pop(n) AS vp,
          |  stddev_pop(n) AS sdp FROM graft.db.mv_srcv""".stripMargin)
      assert(qr.queryExecution.optimizedPlan.toString.contains("mv_aggv__state"),
        "global var/stddev must roll up onto the MV state")
      val pooled = spark.sql(
        """SELECT
          |  CASE WHEN count(n) > 1 THEN greatest(
          |    (CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS DOUBLE)
          |     - CAST(sum(CAST(n AS BIGINT)) AS DOUBLE) * CAST(sum(CAST(n AS BIGINT)) AS DOUBLE)
          |       / CAST(count(n) AS DOUBLE))
          |    / (CAST(count(n) AS DOUBLE) - 1.0D), 0.0D) END AS v,
          |  CASE WHEN count(n) > 0 THEN greatest(
          |    (CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS DOUBLE)
          |     - CAST(sum(CAST(n AS BIGINT)) AS DOUBLE) * CAST(sum(CAST(n AS BIGINT)) AS DOUBLE)
          |       / CAST(count(n) AS DOUBLE))
          |    / CAST(count(n) AS DOUBLE), 0.0D) END AS vp
          |FROM graft.db.mv_srcv""".stripMargin).head
      val served = qr.head
      assert(served.getDouble(0) == pooled.getDouble(0) &&
        served.getDouble(2) == pooled.getDouble(1) &&
        served.getDouble(1) == math.sqrt(pooled.getDouble(0)) &&
        served.getDouble(3) == math.sqrt(pooled.getDouble(1)),
        s"rolled-up variance must equal the pooled power-sum recompute: $served vs $pooled")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    // float columns refuse with the named cure
    fresh("mv_aggv2")
    val e = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggv2',
        |  'SELECT lang, var_samp(CAST(n AS DOUBLE)) AS v
        |   FROM graft.db.mv_srcv GROUP BY lang')""".stripMargin).collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("not") || chain(e).contains("integral"),
      chain(e))
  }

  test("variance overflow poison: Σx² past DECIMAL(38,0) surfaces NULL (never 0.0) and the poisoned group regroups back to exactness (r17, ADVICE r16 #1)") {
    val src = fresh("mv_srcof"); fresh("mv_aggof")
    // 'of': two huge rows — Σx overflows LONG (1.8e19) and Σx² overflows
    // DECIMAL(38,0) (1.66e38) at CREATE; 'ok' is a plain healthy group.
    // After deleting doc 1 the remainder (9e18, 7) fits BOTH sums again.
    val rows: Seq[(Long, String, Option[Long])] = Seq(
      (1L, "of", Some(Long.MaxValue)), (2L, "of", Some(9000000000000000000L)),
      (10L, "ok", Some(5L)), (11L, "ok", Some(9L)), (12L, "ok", Some(11L)))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "n"), 1, None,
      statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggof',
        |  'SELECT lang, count(*) AS n_docs, var_samp(n) AS v,
        |          var_pop(n) AS vp
        |   FROM graft.db.mv_srcof GROUP BY lang')""".stripMargin).collect()
    def readOf: Map[String, Row] = spark.sql(
      "SELECT lang, n_docs, v, vp FROM graft.db.mv_aggof")
      .collect().map(r => r.getString(0) -> r).toMap
    // the documented contract: overflow is NULL, not a silent 0.0 (the
    // r16 bug: `greatest` skipped the NULL numerator and clamped to 0)
    assert(readOf("of").isNullAt(2) && readOf("of").isNullAt(3),
      s"overflowed group must report NULL variance: ${readOf("of")}")
    assert(readOf("ok").getDouble(2) > 0.0, "healthy group unaffected")
    // r18, ADVICE r17 #3: the surviving poison count rides the SAME
    // commit (graft.mv.varpoison=1), and the REWRITE stands down
    // var/stddev queries against a poisoned state — the direct Welford
    // plan still returns a finite double where the state would serve
    // NULL. Non-variance queries keep serving from the same MV.
    assert(TableFormat.manifest(spark, s"$wh/db/mv_aggof__state",
      TableFormat.currentVersion(spark, s"$wh/db/mv_aggof__state")).props
      .get("graft.mv.varpoison").contains("1"))
    val qVar = "SELECT lang, var_samp(n) AS v FROM graft.db.mv_srcof GROUP BY lang"
    val qCnt = "SELECT lang, count(*) AS c FROM graft.db.mv_srcof GROUP BY lang"
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val dfv = spark.sql(qVar)
      assert(dfv.queryExecution.optimizedPlan.toString.contains("mv_srcof"),
        "poisoned state must not serve a var query")
      val directOf = dfv.collect().map(r => r.getString(0) -> r).toMap
      assert(!directOf("of").isNullAt(1) &&
        !directOf("of").getDouble(1).isNaN,
        s"direct plan returns a finite var for the overflowed group: " +
          s"${directOf("of")}")
      assert(spark.sql(qCnt).queryExecution.optimizedPlan.toString
        .contains("mv_aggof__state"),
        "non-variance queries keep serving from the poisoned MV")
      val reasons = spark.sql(
        s"SELECT reason FROM graft_mv_explain('$qVar')")
        .collect().map(_.getString(0))
      assert(reasons.exists(_.startsWith("var-state-poisoned")),
        s"explainer must name the poison standdown: ${reasons.mkString("; ")}")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
    // touching the poisoned group keeps it NULL — the merge must NOT
    // coalesce the stored NULL Σx² to 0 (that would corrupt state) —
    // and takes the targeted regroup
    TableFormat.appendCommit(spark, src,
      (Seq((3L, "of", Some(7L))): Seq[(Long, String, Option[Long])])
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggof')").head
    assert(r1.getLong(4) == 1L, s"poisoned group must regroup (got $r1)")
    assert(readOf("of").isNullAt(2) && readOf("of").getLong(1) == 3L,
      "still-overflowing group stays NULL after refresh")
    // deleting a huge row brings Σx² back under 38 digits: the regroup
    // recomputes the TRUE variance — refresh ≡ recompute through and
    // past the overflow, not permanent corruption
    TableFormat.deleteWhere(spark, src, "doc_id", 1L, 1L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggof')").head
    assert(r2.getLong(4) == 1L, s"recovery must regroup (got $r2)")
    val recovered = spark.sql(
      """SELECT CASE WHEN count(n) > 1 THEN greatest(
        |  (CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS DOUBLE)
        |   - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE) / CAST(count(n) AS DOUBLE))
        |  / (CAST(count(n) AS DOUBLE) - 1.0D), 0.0D) END AS v
        |FROM graft.db.mv_srcof WHERE lang = 'of'""".stripMargin).head.getDouble(0)
    assert(readOf("of").getDouble(2) == recovered,
      s"recovered variance must equal recompute: ${readOf("of")} vs $recovered")
    // recovery CLEARS the poison flag in the same commit: var queries
    // serve from state again (r18, ADVICE r17 #3)
    assert(TableFormat.manifest(spark, s"$wh/db/mv_aggof__state",
      TableFormat.currentVersion(spark, s"$wh/db/mv_aggof__state")).props
      .get("graft.mv.varpoison").contains("0"))
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      assert(spark.sql(
        "SELECT lang, var_samp(n) AS v FROM graft.db.mv_srcof GROUP BY lang")
        .queryExecution.optimizedPlan.toString.contains("mv_aggof__state"),
        "recovered state serves var queries again")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
    // an untouched poisoned group does NOT re-regroup every refresh:
    // spans touching only other groups leave it alone
    TableFormat.appendCommit(spark, src,
      (Seq((20L, "ok", Some(13L))): Seq[(Long, String, Option[Long])])
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    val r3 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggof')").head
    assert(r3.getLong(4) == 0L, s"untouched groups must not regroup (got $r3)")
  }

  test("approx_pct MV state: KLL sketches fold inserts with zero regroups, value deletes regroup, any rank serves from state; exact percentile refuses (r18, VERDICT r17 #1)") {
    val src = fresh("mv_srcpx"); fresh("mv_aggpx")
    // exact regime on purpose: every group holds < k=200 values, so the
    // sketch IS the sorted set and every assertion is a deterministic
    // equality (past compaction KLL is randomized — the driver query
    // stays oracle-less per SURVEY's determinism rule)
    val rows = (1L to 100L).map(i =>
      (i, if (i <= 50) "a" else "b", Some(i)))
    TableFormat.commit(spark, src,
      rows.toDF("doc_id", "lang", "n"), 1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggpx',
        |  'SELECT lang, count(*) AS n_docs, approx_pct(n, 0.5) AS p50
        |   FROM graft.db.mv_srcpx GROUP BY lang')""".stripMargin).collect()
    def readPx: Map[String, Row] = spark.sql(
      "SELECT lang, n_docs, p50 FROM graft.db.mv_aggpx")
      .collect().map(r => r.getString(0) -> r).toMap
    // create == recompute estimate: inclusive-rank p50 of 1..50 is 25,
    // of 51..100 is 75
    assert(readPx("a").getDouble(2) == 25.0 && readPx("b").getDouble(2) == 75.0,
      s"create estimate must equal recompute: $readPx")
    // INSERT-only span folds by sketch merge — ZERO regroups
    TableFormat.appendCommit(spark, src,
      (101L to 120L).map(i => (i, "a", Some(i))).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggpx')").head
    assert(r1.getLong(4) == 0L, s"insert-only span must not regroup (got $r1)")
    // group a is now 1..50 ∪ 101..120 (70 values): p50 = 35th = 35
    assert(readPx("a").getDouble(2) == 35.0 && readPx("a").getLong(1) == 70L,
      s"folded estimate must equal recompute: ${readPx("a")}")
    // a VALUE DELETE regroups (a sketch cannot subtract) — targeted
    TableFormat.deleteWhere(spark, src, "doc_id", 101L, 120L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggpx')").head
    assert(r2.getLong(4) == 1L, s"value delete must regroup (got $r2)")
    assert(readPx("a").getDouble(2) == 25.0 && readPx("b").getDouble(2) == 75.0,
      s"regrouped estimate must equal recompute: $readPx")
    // REWRITE serving: the hidden sketch serves the stored rank AND any
    // other rank, exact dims and roll-up alike
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val q50 =
        """SELECT lang, kll_quantile(kll_agg(n), 0.5D) AS p50
          |FROM graft.db.mv_srcpx GROUP BY lang ORDER BY lang""".stripMargin
      val df50 = spark.sql(q50)
      assert(df50.queryExecution.optimizedPlan.toString.contains("mv_aggpx__state"),
        "exact-dim quantile must serve from state")
      assert(df50.collect().map(_.getDouble(1)).toSeq == Seq(25.0, 75.0))
      val q90 =
        """SELECT lang, kll_quantile(kll_agg(n), 0.9D) AS p90
          |FROM graft.db.mv_srcpx GROUP BY lang ORDER BY lang""".stripMargin
      val df90 = spark.sql(q90)
      assert(df90.queryExecution.optimizedPlan.toString.contains("mv_aggpx__state"),
        "a rank OTHER than the stored one still serves from the hidden sketch")
      assert(df90.collect().map(_.getDouble(1)).toSeq == Seq(45.0, 95.0))
      // roll-up: the GLOBAL quantile merges the per-group sketches
      val qg = "SELECT kll_quantile(kll_agg(n), 0.5D) AS p50 FROM graft.db.mv_srcpx"
      val dfg = spark.sql(qg)
      assert(dfg.queryExecution.optimizedPlan.toString.contains("mv_aggpx__state"),
        "global quantile must roll up the state sketches")
      assert(dfg.head.getDouble(0) == 50.0)
      // quantiles ride GROUPING SETS grains too: the gsets mapper is
      // the roll-up mapper, so each grain merges the hidden sketches
      // (exact regime — deterministic equality vs the direct plan)
      val qGsPct =
        """SELECT lang, kll_quantile(kll_agg(n), 0.5D) AS p50,
          |       grouping_id() AS gid
          |FROM graft.db.mv_srcpx
          |GROUP BY lang GROUPING SETS ((lang), ())
          |ORDER BY gid, lang NULLS FIRST""".stripMargin
      val directGsPct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(qGsPct).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val dfGsPct = spark.sql(qGsPct)
      assert(dfGsPct.queryExecution.optimizedPlan.toString.contains("mv_aggpx__state"),
        "grouping-set quantiles must serve from state")
      assert(dfGsPct.collect().toSeq == directGsPct)
      // Spark's GK-estimator percentile stands down, named in explain
      val qgk =
        """SELECT lang, percentile_approx(n, 0.5D) AS p50
          |FROM graft.db.mv_srcpx GROUP BY lang""".stripMargin
      assert(spark.sql(qgk).queryExecution.optimizedPlan.toString
        .contains("mv_srcpx"), "GK estimator must not serve from KLL state")
      val reasons = spark.sql(
        s"SELECT reason FROM graft_mv_explain('${qgk.replace('\n', ' ')}')")
        .collect().map(_.getString(0))
      assert(reasons.exists(r => r.contains("agg-unmatched") &&
        r.contains("percentile")),
        s"explain must name the percentile standdown: ${reasons.mkString("; ")}")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
    // exact percentile refuses at CREATE, naming the cure
    fresh("mv_aggpx2")
    val e = intercept[Exception] {
      spark.sql(
        """CALL graft.system.create_mv('db.mv_aggpx2',
          |  'SELECT lang, percentile(n, 0.5) AS p50
          |   FROM graft.db.mv_srcpx GROUP BY lang')""".stripMargin).collect()
    }
    assert(e.getMessage.contains("approx_pct"),
      s"exact percentile must refuse naming the cure: ${e.getMessage}")
    // non-numeric input refuses
    fresh("mv_aggpx3")
    val e2 = intercept[Exception] {
      spark.sql(
        """CALL graft.system.create_mv('db.mv_aggpx3',
          |  'SELECT lang, approx_pct(lang, 0.5) AS p50
          |   FROM graft.db.mv_srcpx GROUP BY lang')""".stripMargin).collect()
    }
    assert(e2.getMessage.contains("numeric"),
      s"string input must refuse: ${e2.getMessage}")
  }

  test("opt-in approxFamily rewrite: approx_percentile(col, p) serves from KLL MV state under spark.graft.mv.rewrite.approxFamily; default stays the named standdown; array rank never serves (r19, VERDICT r18 #2)") {
    val src = fresh("mv_srcapf"); fresh("mv_aggapf")
    // exact regime (< k=200 values/group): the KLL sketch retains every
    // value, so the served answer is a deterministic retained value and
    // the GK/KLL gap is bounded by each estimator's rank error
    TableFormat.commit(spark, src,
      ((1L to 100L).map(i => (i, if (i <= 50) "a" else "b", Some(i)))
        : Seq[(Long, String, Some[Long])]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggapf',
        |  'SELECT lang, count(*) AS n_docs, approx_pct(n, 0.5) AS p50
        |   FROM graft.db.mv_srcapf GROUP BY lang')""".stripMargin).collect()
    val q = """SELECT lang, approx_percentile(n, 0.5) AS p50
              |FROM graft.db.mv_srcapf GROUP BY lang ORDER BY lang""".stripMargin
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // DEFAULT (flag off): the GK spelling stands down — source scan,
      // explain names the standdown AND the cure flag
      val off = spark.sql(q)
      assert(off.queryExecution.optimizedPlan.toString.contains("mv_srcapf") &&
        !off.queryExecution.optimizedPlan.toString.contains("__state"),
        "flag-off approx_percentile must scan the source")
      val direct = off.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val reasons = spark.sql(
        s"SELECT reason FROM graft_mv_explain('${q.replace('\n', ' ')}')")
        .collect().map(_.getString(0))
      assert(reasons.exists(r => r.contains("agg-unmatched") &&
        r.contains("approxFamily")),
        s"flag-off explain must name the standdown and the cure flag: ${reasons.mkString("; ")}")
      // FLAG ON: the same spelling serves from state — plan-asserted
      // state-only, any rank, and the value is the KLL retained value
      // (here exact), within both estimators' rank error of the GK plan
      spark.conf.set("spark.graft.mv.rewrite.approxFamily", "true")
      val on = spark.sql(q)
      assert(on.queryExecution.optimizedPlan.toString.contains("mv_aggapf__state") &&
        !on.queryExecution.optimizedPlan.toString.contains("mv_srcapf"),
        s"flag-on approx_percentile must serve state-only:\n${on.queryExecution.optimizedPlan}")
      val served = on.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(served == Map("a" -> 25L, "b" -> 75L),
        s"served p50 must be the KLL retained value: $served")
      served.foreach { case (k, v) =>
        assert(math.abs(v - direct(k)) <= 3,
          s"estimator swap must stay within rank error: $k served=$v direct=${direct(k)}") }
      // a rank the MV never stored serves too (the sketch answers any)
      val on90 = spark.sql(
        """SELECT lang, approx_percentile(n, 0.9) AS p90
          |FROM graft.db.mv_srcapf GROUP BY lang ORDER BY lang""".stripMargin)
      assert(on90.queryExecution.optimizedPlan.toString.contains("mv_aggapf__state"))
      assert(on90.collect().map(_.getLong(1)).toSeq == Seq(45L, 95L))
      // roll-up: the global grain merges the stored sketches
      val ong = spark.sql(
        "SELECT approx_percentile(n, 0.5) AS p50 FROM graft.db.mv_srcapf")
      assert(ong.queryExecution.optimizedPlan.toString.contains("mv_aggapf__state"),
        "global approx_percentile must roll up the state sketches")
      assert(ong.head.getLong(0) == 50L)
      // the flag-on serve composes with GROUPING SETS grains (the
      // gsets mapper is the roll-up mapper): each grain merges the
      // stored sketches and the retained values match the exact regime
      val onGs = spark.sql(
        """SELECT lang, approx_percentile(n, 0.5) AS p50, grouping_id() AS gid
          |FROM graft.db.mv_srcapf
          |GROUP BY lang GROUPING SETS ((lang), ())
          |ORDER BY gid, lang NULLS FIRST""".stripMargin)
      assert(onGs.queryExecution.optimizedPlan.toString.contains("mv_aggapf__state"),
        "flag-on approx_percentile must serve grouping-set grains")
      assert(onGs.collect().map(_.getLong(1)).toSeq == Seq(25L, 75L, 50L))
      // the ARRAY-rank form never serves, flag or no flag
      val onArr = spark.sql(
        """SELECT lang, approx_percentile(n, array(0.5, 0.9)) AS ps
          |FROM graft.db.mv_srcapf GROUP BY lang""".stripMargin)
      assert(onArr.queryExecution.optimizedPlan.toString.contains("mv_srcapf"),
        "array-rank approx_percentile must stand down even with the flag on")
      // explain reflects the flag-on serve
      val expOn = spark.sql(
        s"SELECT mv, status, chosen FROM graft_mv_explain('${q.replace('\n', ' ')}')")
        .collect().filter(r => !r.isNullAt(0) && r.getString(0) == "db.mv_aggapf")
      assert(expOn.nonEmpty && expOn.head.getString(1) == "would_serve" &&
        expOn.head.getBoolean(2),
        s"flag-on explain must show would_serve+chosen: ${expOn.mkString("; ")}")
    } finally {
      spark.conf.unset("spark.graft.mv.rewrite")
      spark.conf.unset("spark.graft.mv.rewrite.approxFamily")
    }
  }

  test("approx_topk MV state: Misra-Gries summaries fold inserts with zero regroups, deletes regroup, the misra_gries query shape serves at matching k; non-string and k-mismatch refuse/stand down (r18)") {
    val src = fresh("mv_srctk"); fresh("mv_aggtk")
    // exact regime: <= 4 distinct terms per group with k=10 — no
    // decrement ever fires, the fold is plain count addition and the
    // candidate array is ALL distinct terms sorted (deterministic)
    val rows: Seq[(Long, String, String)] = (0L until 120L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr", s"t${i % 4}"))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "term"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggtk',
        |  'SELECT lang, count(*) AS n_docs, approx_topk(term, 10) AS top_terms
        |   FROM graft.db.mv_srctk GROUP BY lang')""".stripMargin).collect()
    def readTk: Map[String, Seq[String]] = spark.sql(
      "SELECT lang, top_terms FROM graft.db.mv_aggtk")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    def recomputeTk: Map[String, Seq[String]] = spark.sql(
      """SELECT lang, sort_array(collect_set(term)) AS ts
        |FROM graft.db.mv_srctk GROUP BY lang""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(readTk == recomputeTk, s"create drifted: $readTk vs $recomputeTk")
    // insert-only span folds by summary merge — ZERO regroups
    TableFormat.appendCommit(spark, src,
      ((200L until 230L).map(i => (i, "en", s"t${4 + i % 2}"))
        : Seq[(Long, String, String)]).toDF("doc_id", "lang", "term"),
      statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggtk')").head
    assert(r1.getLong(4) == 0L, s"insert-only span must not regroup (got $r1)")
    assert(readTk == recomputeTk, "folded candidates drifted")
    assert(readTk("en").contains("t4") && readTk("en").contains("t5"))
    // a term delete regroups (counters cannot subtract)
    TableFormat.deleteWhere(spark, src, "doc_id", 200L, 229L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggtk')").head
    assert(r2.getLong(4) > 0L, s"term delete must regroup (got $r2)")
    assert(readTk == recomputeTk, "regrouped candidates drifted")
    assert(!readTk("en").contains("t4"), "deleted terms must vanish")
    // REWRITE: the misra_gries(term, 10) shape serves, exact dims and
    // global roll-up alike; k mismatch stands down
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val q = spark.sql(
        """SELECT lang, misra_gries(term, 10) AS tt
          |FROM graft.db.mv_srctk GROUP BY lang ORDER BY lang""".stripMargin)
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_aggtk__state"),
        "matching-k misra_gries must serve from state")
      assert(q.collect().map(r =>
        r.getString(0) -> r.getSeq[String](1)).toMap == recomputeTk)
      val g = spark.sql(
        "SELECT misra_gries(term, 10) AS tt FROM graft.db.mv_srctk")
      assert(g.queryExecution.optimizedPlan.toString.contains("mv_aggtk__state"),
        "the global roll-up must merge state summaries")
      assert(g.head.getSeq[String](0).toSet ==
        recomputeTk.values.flatten.toSet)
      val qk = spark.sql(
        """SELECT lang, misra_gries(term, 5) AS tt
          |FROM graft.db.mv_srctk GROUP BY lang""".stripMargin)
      assert(qk.queryExecution.optimizedPlan.toString.contains("mv_srctk"),
        "a different k must not serve from this state")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
    // non-string input refuses by name
    fresh("mv_aggtk2")
    val e = intercept[Exception] {
      spark.sql(
        """CALL graft.system.create_mv('db.mv_aggtk2',
          |  'SELECT lang, approx_topk(doc_id, 5) AS t
          |   FROM graft.db.mv_srctk GROUP BY lang')""".stripMargin).collect()
    }
    assert(e.getMessage.contains("STRING"), e.getMessage)
  }

  test("FILTER-clause aggregates serve from MV state when the predicate is dim-only — the PIVOT shape; subset, exact, and global grains; non-dim predicates stand down named (r19, VERDICT r18 #8)") {
    val src = fresh("mv_srcfc"); fresh("mv_aggfc")
    import spark.implicits._
    TableFormat.commit(spark, src,
      ((1L to 60L).map(i =>
        (i, if (i % 3 == 0) "en" else "fr", if (i % 2 == 0) "web" else "book", i))
        : Seq[(Long, String, String, Long)])
        .toDF("doc_id", "lang", "source", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggfc',
        |  'SELECT lang, source, count(*) AS n_docs, sum(n) AS sum_n,
        |          avg(n) AS avg_n, count(DISTINCT doc_id) AS nd,
        |          approx_pct(n, 0.5) AS p50, approx_topk(source, 10) AS tops,
        |          approx_distinct(source) AS adc
        |   FROM graft.db.mv_srcfc GROUP BY lang, source')""".stripMargin).collect()
    def servedVsDirect(q: String, label: String): Unit = {
      val df = spark.sql(q)
      assert(df.queryExecution.optimizedPlan.toString.contains("mv_aggfc__state") &&
        !df.queryExecution.optimizedPlan.toString.contains("mv_srcfc"),
        s"$label must serve state-only:\n${df.queryExecution.optimizedPlan}")
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val direct = try spark.sql(q).collect().toSeq
                   finally spark.conf.set("spark.graft.mv.rewrite", "true")
      assert(df.collect().toSeq == direct, s"$label values drifted")
    }
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // the PIVOT shape: subset dims, per-source conditional aggregates
      // — count coalesces to 0, sum/avg to NULL on filtered-out groups,
      // count(DISTINCT) ORs exactly the selected groups' bitmaps
      servedVsDirect(
        """SELECT lang,
          |  count(*) FILTER (WHERE source = 'web') AS n_web,
          |  sum(n) FILTER (WHERE source = 'web') AS s_web,
          |  avg(n) FILTER (WHERE source = 'book') AS a_book,
          |  count(DISTINCT doc_id) FILTER (WHERE source = 'web') AS nd_web,
          |  count(*) AS n_all
          |FROM graft.db.mv_srcfc GROUP BY lang ORDER BY lang""".stripMargin,
        "pivot-shape FILTER")
      // a predicate no group satisfies: empty-set semantics (0 / NULL)
      servedVsDirect(
        """SELECT lang, count(*) FILTER (WHERE source = 'nope') AS n0,
          |       sum(n) FILTER (WHERE source = 'nope') AS s0
          |FROM graft.db.mv_srcfc GROUP BY lang ORDER BY lang""".stripMargin,
        "empty-filter")
      // EXACT dims with a FILTER route through the roll-up mapper:
      // each group re-aggregates its own state row or the empty set
      servedVsDirect(
        """SELECT lang, source, sum(n) FILTER (WHERE source = 'web') AS sw
          |FROM graft.db.mv_srcfc GROUP BY lang, source
          |ORDER BY lang, source""".stripMargin,
        "exact-dims FILTER")
      // global grain + compound dim predicate
      servedVsDirect(
        """SELECT count(*) FILTER (WHERE source = 'web' AND lang = 'en') AS n,
          |       sum(n) FILTER (WHERE source IN ('web', 'book')) AS s
          |FROM graft.db.mv_srcfc""".stripMargin,
        "global FILTER")
      // the pre-FILTER-syntax CASE spellings normalize onto the same
      // path: sum/avg/count of a single-branch CASE, and the 1/0
      // conditional row count (r19)
      servedVsDirect(
        """SELECT lang,
          |  sum(CASE WHEN source = 'web' THEN n END) AS s_web,
          |  avg(CASE WHEN source = 'book' THEN n END) AS a_book,
          |  count(CASE WHEN source = 'web' THEN 1 END) AS c_web,
          |  sum(CASE WHEN source = 'web' THEN 1 ELSE 0 END) AS n_web,
          |  count_if(source = 'book') AS ci_book
          |FROM graft.db.mv_srcfc GROUP BY lang ORDER BY lang""".stripMargin,
        "CASE-spelling conditional aggregates")
      // dim-only FILTERs compose with SKETCH roll-ups too (r19): the
      // merge aggregation combines exactly the selected groups'
      // sketches — in the exact regime the values equal the direct
      // plan's sketch over the predicate's rows
      servedVsDirect(
        """SELECT lang,
          |  kll_quantile(kll_agg(n) FILTER (WHERE source = 'web'), 0.5D) AS p50w,
          |  hll_sketch_estimate(hll_sketch_agg(source) FILTER (WHERE source = 'web')) AS dw,
          |  misra_gries(source, 10) FILTER (WHERE source = 'book') AS tb
          |FROM graft.db.mv_srcfc GROUP BY lang ORDER BY lang""".stripMargin,
        "FILTER over sketch aggregates")
      // and with the opt-in approx family flag, the GK spelling's
      // FILTER rides the same path
      spark.conf.set("spark.graft.mv.rewrite.approxFamily", "true")
      try servedVsDirect(
        """SELECT lang,
          |  approx_percentile(n, 0.5) FILTER (WHERE source = 'web') AS apw
          |FROM graft.db.mv_srcfc GROUP BY lang ORDER BY lang""".stripMargin,
        "FILTER over opt-in approx_percentile")
      finally spark.conf.unset("spark.graft.mv.rewrite.approxFamily")
      // a sketch FILTER with a non-dim predicate stands down
      assert(spark.sql(
        """SELECT lang, kll_quantile(kll_agg(n) FILTER (WHERE n > 30), 0.5D) AS p
          |FROM graft.db.mv_srcfc GROUP BY lang""".stripMargin)
        .queryExecution.optimizedPlan.toString.contains("mv_srcfc"),
        "non-dim sketch FILTER must not serve")
      // the SQL PIVOT syntax serves through the same machinery (r19):
      // the analyzer plans PIVOT as pivotfirst OVER an inner
      // GROUP BY (outDims, pivotCol) aggregate — the inner aggregate
      // rewrites to the state scan and pivotfirst re-shapes |groups|
      // rows; the 100 TB source never appears in the plan
      servedVsDirect(
        """SELECT * FROM (SELECT lang, source, n FROM graft.db.mv_srcfc)
          |PIVOT (sum(n) AS s, count(*) AS c FOR source IN ('web', 'book'))
          |ORDER BY lang""".stripMargin,
        "SQL PIVOT")
      // FILTER clauses ride GROUPING SETS grains too (the gsets mapper
      // IS the roll-up mapper)
      servedVsDirect(
        """SELECT lang, count(*) FILTER (WHERE source = 'web') AS n_web,
          |       grouping_id() AS gid
          |FROM graft.db.mv_srcfc
          |GROUP BY lang GROUPING SETS ((lang), ())
          |ORDER BY gid, lang NULLS FIRST""".stripMargin,
        "FILTER over grouping sets")
      // GROUP BY ALL resolves to concrete dims before the rule runs,
      // so it serves like any explicit GROUP BY (r19 pin)
      servedVsDirect(
        """SELECT lang, count(*) AS c, sum(n) FILTER (WHERE source = 'web') AS sw
          |FROM graft.db.mv_srcfc GROUP BY ALL ORDER BY lang""".stripMargin,
        "GROUP BY ALL")
      // a window over an aggregate subquery serves its INNER aggregate
      // from state (the rule rewrites every matching Aggregate, not
      // just the root — same machinery PIVOT rides) (r19 pin)
      servedVsDirect(
        """SELECT lang, cnt, rank() OVER (ORDER BY cnt DESC, lang) AS rk
          |FROM (SELECT lang, count(*) AS cnt
          |      FROM graft.db.mv_srcfc GROUP BY lang)
          |ORDER BY rk""".stripMargin,
        "window over served aggregate")
      // a NON-dim predicate stands down, named
      val qBad =
        """SELECT lang, sum(n) FILTER (WHERE n > 30) AS s
          |FROM graft.db.mv_srcfc GROUP BY lang""".stripMargin
      assert(spark.sql(qBad).queryExecution.optimizedPlan.toString
        .contains("mv_srcfc"), "non-dim FILTER predicate must not serve")
      val reasons = spark.sql(
        s"SELECT reason FROM graft_mv_explain('${qBad.replace('\n', ' ')}')")
        .collect().map(_.getString(0))
      assert(reasons.exists(r => r.contains("agg-unmatched") &&
        r.contains("FILTER")),
        s"explain must name the FILTER standdown: ${reasons.mkString("; ")}")
      // a non-dim CASE condition stands down the same way
      assert(spark.sql(
        """SELECT lang, sum(CASE WHEN n > 30 THEN n END) AS s
          |FROM graft.db.mv_srcfc GROUP BY lang""".stripMargin)
        .queryExecution.optimizedPlan.toString.contains("mv_srcfc"),
        "non-dim CASE condition must not serve")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("gsets split coverage is NAMED: grains coverable only by a UNION of two MVs stand down with gsets-split-coverage naming each grain's server; serving stays single-candidate (r19, VERDICT r18 #4)") {
    val src = fresh("mv_srcsp"); fresh("mv_spl"); fresh("mv_sps")
    import spark.implicits._
    TableFormat.commit(spark, src,
      ((1L to 60L).map(i =>
        (i, if (i % 3 == 0) "en" else "fr", if (i % 2 == 0) "web" else "book", i))
        : Seq[(Long, String, String, Long)])
        .toDF("doc_id", "lang", "source", "n"),
      1, None, statsCol = Some("doc_id"))
    // two MVs, each covering ONE of the query's grains — neither holds
    // the union dims {lang, source}
    spark.sql(
      """CALL graft.system.create_mv('db.mv_spl',
        |  'SELECT lang, count(*) AS n_docs
        |   FROM graft.db.mv_srcsp GROUP BY lang')""".stripMargin).collect()
    spark.sql(
      """CALL graft.system.create_mv('db.mv_sps',
        |  'SELECT source, count(*) AS n_docs
        |   FROM graft.db.mv_srcsp GROUP BY source')""".stripMargin).collect()
    val q =
      """SELECT lang, source, count(*) AS n_docs
        |FROM graft.db.mv_srcsp
        |GROUP BY lang, source GROUPING SETS ((lang), (source))""".stripMargin
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // serving stays single-candidate: the query scans the source
      assert(spark.sql(q).queryExecution.optimizedPlan.toString
        .contains("mv_srcsp"), "a split-coverage gsets query must not serve")
      val rows = spark.sql(
        s"SELECT mv, status, reason FROM graft_mv_explain('${q.replace('\n', ' ')}')")
        .collect()
      // both candidates stand down on the union dims…
      assert(rows.count(r => !r.isNullAt(0) && r.getString(1) == "standdown") >= 2,
        s"both single candidates must stand down: ${rows.mkString("; ")}")
      // …and the query-level split row NAMES each grain's server
      val split = rows.filter(r => r.isNullAt(0) &&
        r.getString(2).startsWith("gsets-split-coverage"))
      assert(split.length == 1, s"exactly one split row: ${rows.mkString("; ")}")
      val reason = split.head.getString(2)
      assert(reason.contains("grain (lang) served by db.mv_spl") &&
        reason.contains("grain (source) served by db.mv_sps") &&
        reason.contains("single-candidate"), reason)
      // a gsets query ONE MV can cover gets no split row (it serves)
      val qCov =
        """SELECT lang, count(*) AS n_docs FROM graft.db.mv_srcsp
          |GROUP BY lang GROUPING SETS ((lang), ())""".stripMargin
      val rowsCov = spark.sql(
        s"SELECT mv, status, reason FROM graft_mv_explain('${qCov.replace('\n', ' ')}')")
        .collect()
      assert(rowsCov.exists(r => !r.isNullAt(0) && r.getString(1) == "would_serve"),
        s"single-coverable gsets must serve: ${rowsCov.mkString("; ")}")
      assert(!rowsCov.exists(r => !r.isNullAt(2) &&
        r.getString(2).startsWith("gsets-split-coverage")),
        "no split row when a single candidate covers")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("GROUPING SETS / ROLLUP / CUBE serve from MV state: every grain re-aggregates one |groups|-row scan, grouping()/grouping_id() survive; superset dims stand down (r18, VERDICT r17 #2)") {
    val src = fresh("mv_srcgs"); fresh("mv_agggs")
    val rows = (1L to 60L).map(i =>
      (i, if (i % 3 == 0) "en" else "fr", if (i % 2 == 0) "web" else "book", i))
    TableFormat.commit(spark, src,
      rows.toDF("doc_id", "lang", "source", "n"), 1, None,
      statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agggs',
        |  'SELECT lang, source, count(*) AS n_docs, sum(n) AS sum_n,
        |          avg(n) AS avg_n, count(DISTINCT doc_id) AS nd
        |   FROM graft.db.mv_srcgs GROUP BY lang, source')""".stripMargin).collect()
    // count(DISTINCT) rides the bitmap-OR roll-up through the Expand —
    // every grain's distinct count is exact from the stored bitmaps
    val qGs =
      """SELECT lang, source, count(*) AS c, sum(n) AS s, avg(n) AS a,
        |       count(DISTINCT doc_id) AS nd,
        |       grouping(lang) AS gl, grouping_id() AS gid
        |FROM graft.db.mv_srcgs
        |GROUP BY lang, source GROUPING SETS ((lang, source), (lang), ())
        |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin
    val qRollup =
      """SELECT lang, source, count(*) AS c, sum(n) AS s
        |FROM graft.db.mv_srcgs GROUP BY ROLLUP(lang, source)
        |ORDER BY grouping_id(), lang NULLS FIRST, source NULLS FIRST""".stripMargin
    val qCube =
      """SELECT lang, source, count(*) AS c
        |FROM graft.db.mv_srcgs GROUP BY CUBE(lang, source)
        |ORDER BY grouping_id(), lang NULLS FIRST, source NULLS FIRST""".stripMargin
    val directs = Seq(qGs, qRollup, qCube).map(spark.sql(_).collect().toSeq)
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      Seq(qGs, qRollup, qCube).zip(directs).foreach { case (q, direct) =>
        val df = spark.sql(q)
        val p = df.queryExecution.optimizedPlan.toString
        assert(p.contains("mv_agggs__state") && !p.contains("mv_srcgs"),
          s"grain query must serve from state:\n$p")
        assert(df.collect().toSeq == direct, s"values differ for:\n$q")
      }
      // a dim-only residual WHERE filters the state rows BEFORE the
      // Expand — the grains all see the filtered groups
      val qRes =
        """SELECT lang, source, count(*) AS c
          |FROM graft.db.mv_srcgs WHERE lang <> 'zz'
          |GROUP BY lang, source GROUPING SETS ((lang, source), (lang), ())
          |ORDER BY grouping_id(), lang NULLS FIRST, source NULLS FIRST""".stripMargin
      val directRes = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(qRes).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val dfRes = spark.sql(qRes)
      assert(dfRes.queryExecution.optimizedPlan.toString.contains("mv_agggs__state"),
        "dim-residual grouping sets must serve from filtered state")
      assert(dfRes.collect().toSeq == directRes)
      // GROUPING SETS over a JOIN MV (r18): the shape normalization
      // routes the Expand's source through the same probeContext the
      // flat aggregate uses, so multi-grain queries over joined
      // sources serve from join-MV state too
      val fj = fresh("mv_gsjf"); val dj = fresh("mv_gsjd"); fresh("mv_gsjm")
      TableFormat.commit(spark, fj,
        ((1L to 60L).map(i => (i, if (i % 3 == 0) "en" else "fr",
          if (i % 2 == 0) "a" else "b", i)): Seq[(Long, String, String, Long)])
          .toDF("doc_id", "lang", "cat", "n"),
        1, None, statsCol = Some("doc_id"))
      TableFormat.commit(spark, dj,
        Seq(("en", "E"), ("fr", "F")).toDF("lang", "region"), 1, None)
      spark.sql(
        """CALL graft.system.create_mv('db.mv_gsjm',
          |  'SELECT region, cat, count(*) AS c, sum(n) AS s
          |   FROM graft.db.mv_gsjf f JOIN graft.db.mv_gsjd d ON f.lang = d.lang
          |   GROUP BY region, cat')""".stripMargin).collect()
      val qJ =
        """SELECT region, cat, count(*) AS c, sum(n) AS s, grouping_id() AS gid
          |FROM graft.db.mv_gsjf f JOIN graft.db.mv_gsjd d ON f.lang = d.lang
          |GROUP BY region, cat GROUPING SETS ((region, cat), (region), ())
          |ORDER BY gid, region NULLS FIRST, cat NULLS FIRST""".stripMargin
      val directJ = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(qJ).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val dfJ = spark.sql(qJ)
      val pJ = dfJ.queryExecution.optimizedPlan.toString
      assert(pJ.contains("mv_gsjm__state") && !pJ.contains("mv_gsjf"),
        s"grouping sets over a join MV must serve from state:\n$pJ")
      assert(dfJ.collect().toSeq == directJ)
      // a set naming a NON-dim column stands down, named in explain
      val qBad =
        """SELECT lang, doc_id, count(*) AS c FROM graft.db.mv_srcgs
          |GROUP BY lang, doc_id GROUPING SETS ((lang), (lang, doc_id))""".stripMargin
      assert(spark.sql(qBad).queryExecution.optimizedPlan.toString
        .contains("mv_srcgs"), "superset-dim grouping sets must not serve")
      val reasons = spark.sql(
        s"SELECT reason FROM graft_mv_explain('${qBad.replace('\n', ' ')}')")
        .collect().map(_.getString(0))
      assert(reasons.exists(_.startsWith("dims-mismatch")),
        s"explain must name the superset standdown: ${reasons.mkString("; ")}")
      // staleness still gates every grain: advance the source, the
      // grouping-sets query must scan it (and see the new rows)
      TableFormat.appendCommit(spark, src,
        Seq((100L, "zz", "web", 5L)).toDF("doc_id", "lang", "source", "n"),
        statsCol = Some("doc_id"))
      val dfStale = spark.sql(qGs)
      assert(dfStale.queryExecution.optimizedPlan.toString.contains("mv_srcgs"),
        "stale MV must not serve grouping sets")
      assert(dfStale.collect().map(_.getString(0)).contains("zz"))
      // refresh restores serving with the new group present
      spark.sql("CALL graft.system.refresh_mv('db.mv_agggs')").collect()
      val dfFresh = spark.sql(qGs)
      assert(dfFresh.queryExecution.optimizedPlan.toString.contains("mv_agggs__state"))
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val direct2 = try spark.sql(qGs).collect().toSeq
                    finally spark.conf.set("spark.graft.mv.rewrite", "true")
      assert(dfFresh.collect().toSeq == direct2)
      // HAVING over grouping sets (r19, VERDICT r18 #7): the analyzer
      // plants the filter ABOVE the Aggregate-over-Expand, so it
      // composes with the replanted state scan untouched — including a
      // HAVING aggregate that is NOT in the SELECT list (the hidden
      // output remaps through the roll-up mapper like any other)
      val qHav =
        """SELECT lang, source, count(*) AS n_docs
          |FROM graft.db.mv_srcgs
          |GROUP BY ROLLUP(lang, source) HAVING count(*) > 10
          |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin
      val qHavHidden =
        """SELECT lang, source, count(*) AS n_docs
          |FROM graft.db.mv_srcgs
          |GROUP BY ROLLUP(lang, source) HAVING sum(n) > 400
          |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin
      for (qh <- Seq(qHav, qHavHidden)) {
        val dfH = spark.sql(qh)
        assert(dfH.queryExecution.optimizedPlan.toString.contains("mv_agggs__state"),
          s"HAVING over grouping sets must serve from state:\n$qh")
        spark.conf.set("spark.graft.mv.rewrite", "false")
        val directH = try spark.sql(qh).collect().toSeq
                      finally spark.conf.set("spark.graft.mv.rewrite", "true")
        assert(directH.nonEmpty && dfH.collect().toSeq == directH,
          s"served HAVING-over-gsets values drifted: $qh")
      }
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("UNION ALL source MVs: the partitioned-fact shape maintains per-leg — create == recompute, per-leg deltas fold, binding deletes regroup over the union; rewrite serves leg-set-matched queries (r19)") {
    val u1 = fresh("mv_u1"); val u2 = fresh("mv_u2"); val u3 = fresh("mv_u3")
    fresh("mv_uagg")
    import spark.implicits._
    TableFormat.commit(spark, u1,
      ((1L to 40L).map(i => (i, if (i % 2 == 0) "en" else "fr", i))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, u2,
      ((100L to 130L).map(i => (i, if (i % 3 == 0) "en" else "de", i))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, u3,
      (Seq((500L, "en", 5L)): Seq[(Long, String, Long)])
        .toDF("doc_id", "lang", "n"), 1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_uagg',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n, min(n) AS min_n
        |   FROM (SELECT * FROM graft.db.mv_u1
        |         UNION ALL SELECT * FROM graft.db.mv_u2)
        |   GROUP BY lang')""".stripMargin).collect()
    def readU: Seq[Row] = spark.sql(
      """SELECT lang, n_docs, sum_n, min_n FROM graft.db.mv_uagg
        |ORDER BY lang""".stripMargin).collect().toSeq
    def recomputeU: Seq[Row] = spark.sql(
      """SELECT lang, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n,
        |       CAST(min(n) AS BIGINT) AS min_n
        |FROM (SELECT * FROM graft.db.mv_u1
        |      UNION ALL SELECT * FROM graft.db.mv_u2)
        |GROUP BY lang ORDER BY lang""".stripMargin).collect().toSeq
    assert(readU == recomputeU, "union create must match recompute")
    // a row present in BOTH legs counts twice — bag semantics
    TableFormat.appendCommit(spark, u2,
      Seq((1L, "fr", 1L)).toDF("doc_id", "lang", "n"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_uagg')").head
    assert(r1.getLong(4) == 0L, s"insert-only leg span must not regroup ($r1)")
    assert(readU == recomputeU, "bag-duplicate fold drifted")
    // two-leg span: append to leg1 + BINDING delete from leg2 (the
    // min row) — the regroup rescans the UNION at the pinned vector
    TableFormat.appendCommit(spark, u1,
      ((200L to 210L).map(i => (i, "de", i)): Seq[(Long, String, Long)])
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, u2, "doc_id", 100L, 104L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_uagg')").head
    assert(r2.getLong(4) > 0L, s"binding delete must regroup ($r2)")
    assert(readU == recomputeU, "two-leg span drifted")
    // graft_mv_detail reports one row PER LEG
    val det = spark.sql("SELECT src, stale FROM graft_mv_detail('db.mv_uagg')")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(det.keySet == Set("db.mv_u1", "db.mv_u2") &&
      det.values.forall(_ == false), s"per-leg detail: $det")
    // REFUSALS: plain UNION, repeated leg, filtered leg, schema drift
    def refusesWith(sql: String, frag: String): Unit = {
      fresh("mv_ubad")
      val e = intercept[Exception](spark.sql(
        s"CALL graft.system.create_mv('db.mv_ubad', '$sql')").collect())
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
      assert(chain(e).contains(frag), s"expected '$frag' in: ${chain(e)}")
    }
    refusesWith(
      """SELECT lang, count(*) AS c
        |FROM (SELECT * FROM graft.db.mv_u1 UNION SELECT * FROM graft.db.mv_u2)
        |GROUP BY lang""".stripMargin.replace("\n", " "),
      "UNION ALL")
    refusesWith(
      """SELECT lang, count(*) AS c
        |FROM (SELECT * FROM graft.db.mv_u1 UNION ALL SELECT * FROM graft.db.mv_u1)
        |GROUP BY lang""".stripMargin.replace("\n", " "),
      "repeats")
    refusesWith(
      """SELECT lang, count(*) AS c
        |FROM (SELECT * FROM graft.db.mv_u1 WHERE n > 3
        |      UNION ALL SELECT * FROM graft.db.mv_u2)
        |GROUP BY lang""".stripMargin.replace("\n", " "),
      "bare graft table")
    // REWRITE: the same-leg-set UNION ALL query serves, either order
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      for (legs <- Seq("graft.db.mv_u1 UNION ALL SELECT * FROM graft.db.mv_u2",
                       "graft.db.mv_u2 UNION ALL SELECT * FROM graft.db.mv_u1")) {
        val q = spark.sql(
          s"""SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
             |FROM (SELECT * FROM $legs)
             |GROUP BY lang ORDER BY lang""".stripMargin)
        assert(q.queryExecution.optimizedPlan.toString.contains("mv_uagg__state"),
          s"union query must serve from state (legs: $legs)")
        assert(q.collect().toSeq ==
          readU.map(r => Row(r.get(0), r.get(1), r.get(2))))
      }
      // global roll-up over the union serves too
      val qg = spark.sql(
        """SELECT count(*) AS n FROM (SELECT * FROM graft.db.mv_u1
          |UNION ALL SELECT * FROM graft.db.mv_u2)""".stripMargin)
      assert(qg.queryExecution.optimizedPlan.toString.contains("mv_uagg__state"))
      // a DIFFERENT leg set stands down; a single leg is never served
      // by the union MV
      val qDiff = spark.sql(
        """SELECT lang, count(*) AS n FROM (SELECT * FROM graft.db.mv_u1
          |UNION ALL SELECT * FROM graft.db.mv_u3) GROUP BY lang""".stripMargin)
      assert(!qDiff.queryExecution.optimizedPlan.toString.contains("mv_uagg__state"),
        "a different leg set must not serve")
      val qOne = spark.sql(
        "SELECT lang, count(*) AS n FROM graft.db.mv_u1 GROUP BY lang")
      assert(!qOne.queryExecution.optimizedPlan.toString.contains("mv_uagg__state"),
        "a single leg must never be served by the union MV")
      // staleness at ANY leg stands down until refresh
      TableFormat.appendCommit(spark, u2,
        Seq((300L, "en", 3L)).toDF("doc_id", "lang", "n"))
      val qStale = spark.sql(
        """SELECT lang, count(*) AS n FROM (SELECT * FROM graft.db.mv_u1
          |UNION ALL SELECT * FROM graft.db.mv_u2) GROUP BY lang""".stripMargin)
      assert(!qStale.queryExecution.optimizedPlan.toString.contains("mv_uagg__state"),
        "a stale leg must stand down")
      spark.sql("CALL graft.system.refresh_mv('db.mv_uagg')").collect()
      assert(readU == recomputeU, "post-stale refresh drifted")
      val qFresh = spark.sql(
        """SELECT lang, count(*) AS n FROM (SELECT * FROM graft.db.mv_u1
          |UNION ALL SELECT * FROM graft.db.mv_u2) GROUP BY lang""".stripMargin)
      assert(qFresh.queryExecution.optimizedPlan.toString.contains("mv_uagg__state"))
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("THREE-leg union MVs: the parser's nested Union flattens on both the create and the rewrite side — lifecycle with all three legs moving, serve at any leg order (r19)") {
    val a = fresh("mv_u3a"); val b = fresh("mv_u3b"); val c = fresh("mv_u3c")
    fresh("mv_u3agg")
    import spark.implicits._
    for ((t, off, lang) <- Seq((a, 0L, "en"), (b, 100L, "fr"), (c, 200L, "de")))
      TableFormat.commit(spark, t,
        ((1L to 20L).map(i => (i + off, lang, i)): Seq[(Long, String, Long)])
          .toDF("doc_id", "lang", "n"), 1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_u3agg',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM (SELECT * FROM graft.db.mv_u3a
        |         UNION ALL SELECT * FROM graft.db.mv_u3b
        |         UNION ALL SELECT * FROM graft.db.mv_u3c)
        |   GROUP BY lang')""".stripMargin).collect()
    def read3: Seq[Row] = spark.sql(
      "SELECT lang, n_docs, sum_n FROM graft.db.mv_u3agg ORDER BY lang")
      .collect().toSeq
    def recompute3: Seq[Row] = spark.sql(
      """SELECT lang, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
        |FROM (SELECT * FROM graft.db.mv_u3a
        |      UNION ALL SELECT * FROM graft.db.mv_u3b
        |      UNION ALL SELECT * FROM graft.db.mv_u3c)
        |GROUP BY lang ORDER BY lang""".stripMargin).collect().toSeq
    assert(read3 == recompute3, "3-leg create drifted")
    // all three legs move in ONE span
    TableFormat.appendCommit(spark, a, Seq((500L, "de", 7L)).toDF("doc_id", "lang", "n"))
    TableFormat.appendCommit(spark, b, Seq((501L, "en", 9L)).toDF("doc_id", "lang", "n"))
    TableFormat.deleteWhere(spark, c, "doc_id", 201L, 205L)
    spark.sql("CALL graft.system.refresh_mv('db.mv_u3agg')").collect()
    assert(read3 == recompute3, "3-leg three-sided span drifted")
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      // serve at a PERMUTED leg order — set match, nested flatten
      val q = spark.sql(
        """SELECT lang, count(*) AS n_docs
          |FROM (SELECT * FROM graft.db.mv_u3c
          |      UNION ALL SELECT * FROM graft.db.mv_u3a
          |      UNION ALL SELECT * FROM graft.db.mv_u3b)
          |GROUP BY lang ORDER BY lang""".stripMargin)
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_u3agg__state"),
        "permuted 3-leg union must serve from state")
      assert(q.collect().toSeq == read3.map(r => Row(r.get(0), r.get(1))))
      // a 2-of-3 subset never serves
      val qSub = spark.sql(
        """SELECT lang, count(*) AS n FROM (SELECT * FROM graft.db.mv_u3a
          |UNION ALL SELECT * FROM graft.db.mv_u3b) GROUP BY lang""".stripMargin)
      assert(!qSub.queryExecution.optimizedPlan.toString.contains("mv_u3agg__state"),
        "a leg subset must not serve")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("union MVs compose with sketch state and expression dims: approx_pct folds per-leg inserts, regroups over the union; the bucketed dim serves (r19)") {
    val u1 = fresh("mv_uc1"); val u2 = fresh("mv_uc2"); fresh("mv_ucagg")
    import spark.implicits._
    TableFormat.commit(spark, u1,
      ((1L to 30L).map(i => (i, if (i % 2 == 0) "en" else "fr", i))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, u2,
      ((100L to 120L).map(i => (i, if (i % 2 == 0) "en" else "fr", i))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    // expression dim (n DIV bucket) + KLL sketch state over the union
    spark.sql(
      """CALL graft.system.create_mv('db.mv_ucagg',
        |  'SELECT lang, n DIV 50 AS bucket, count(*) AS n_docs,
        |          approx_pct(n, 0.5) AS p50
        |   FROM (SELECT * FROM graft.db.mv_uc1
        |         UNION ALL SELECT * FROM graft.db.mv_uc2)
        |   GROUP BY lang, bucket')""".stripMargin).collect()
    def readUc: Seq[Row] = spark.sql(
      """SELECT lang, bucket, n_docs, p50 FROM graft.db.mv_ucagg
        |ORDER BY lang, bucket""".stripMargin).collect().toSeq
    def recomputeUc: Seq[Row] = spark.sql(
      """SELECT lang, n DIV 50 AS bucket, count(1) AS n_docs,
        |       kll_quantile(kll_agg(n), 0.5D) AS p50
        |FROM (SELECT * FROM graft.db.mv_uc1
        |      UNION ALL SELECT * FROM graft.db.mv_uc2)
        |GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)
      .collect().toSeq
    assert(readUc == recomputeUc, "union sketch/expr-dim create drifted")
    // per-leg insert folds the sketches with zero regroups
    TableFormat.appendCommit(spark, u1,
      ((200L to 215L).map(i => (i, "en", i)): Seq[(Long, String, Long)])
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_ucagg')").head
    assert(r1.getLong(4) == 0L, s"leg insert must fold sketches ($r1)")
    assert(readUc == recomputeUc, "union sketch fold drifted")
    // a value delete in the OTHER leg regroups over the union
    TableFormat.deleteWhere(spark, u2, "doc_id", 100L, 104L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_ucagg')").head
    assert(r2.getLong(4) > 0L, s"value delete must regroup ($r2)")
    assert(readUc == recomputeUc, "union sketch regroup drifted")
    // the expression-dim union query serves from state
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val q = spark.sql(
        """SELECT lang, n DIV 50 AS bucket, count(*) AS c
          |FROM (SELECT * FROM graft.db.mv_uc1
          |      UNION ALL SELECT * FROM graft.db.mv_uc2)
          |GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_ucagg__state"),
        "expr-dim union query must serve from state")
      assert(q.collect().toSeq ==
        readUc.map(r => Row(r.get(0), r.get(1), r.get(2))))
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("duplicate output aliases refuse at CREATE — they key every hidden state column (r17, ADVICE r16 #3)") {
    val src = fresh("mv_srcdup"); fresh("mv_aggdup")
    TableFormat.commit(spark, src,
      (Seq((1L, "en", 5L), (2L, "fr", 7L)): Seq[(Long, String, Long)])
        .toDF("doc_id", "lang", "n"), 1, None, statsCol = Some("doc_id"))
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    // two aggregates under one alias: __in_x/__s_x/__n_x would collide
    val e1 = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggdup',
        |  'SELECT lang, sum(n) AS x, min(n) AS x
        |   FROM graft.db.mv_srcdup GROUP BY lang')""".stripMargin).collect())
    assert(chain(e1).toLowerCase.contains("duplicate"), chain(e1))
    // an aggregate alias shadowing a dim
    val e2 = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggdup',
        |  'SELECT lang, sum(n) AS lang
        |   FROM graft.db.mv_srcdup GROUP BY lang')""".stripMargin).collect())
    assert(chain(e2).toLowerCase.contains("duplicate"), chain(e2))
    // case-insensitive: X and x are the same state column
    val e3 = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggdup',
        |  'SELECT lang, sum(n) AS x, count(*) AS X
        |   FROM graft.db.mv_srcdup GROUP BY lang')""".stripMargin).collect())
    assert(chain(e3).toLowerCase.contains("duplicate"), chain(e3))
  }

  test("join MV in a sibling namespace serves: the candidate sweep covers every chain source's db, not just the first-listed one (r17, ADVICE r16 #2)") {
    val facts = fresh("mv_nsf")
    // dim + MV live in db2; the query lists the db-namespace fact FIRST
    val dim = {
      val base = s"$wh/db2/mv_nsd"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$wh/db2/mv_nsagg"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$wh/db2/mv_nsagg__state"), true)
      base
    }
    TableFormat.commit(spark, facts,
      (Seq((1L, "en", 5L), (2L, "fr", 7L), (3L, "en", 9L))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, dim,
      (Seq(("en", "E"), ("fr", "F")): Seq[(String, String)])
        .toDF("lang", "region"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db2.mv_nsagg',
        |  'SELECT region, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_nsf f JOIN graft.db2.mv_nsd d ON f.lang = d.lang
        |   GROUP BY region')""".stripMargin).collect()
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val out = spark.sql(
        """SELECT region, count(*) AS n_docs, sum(n) AS sum_n
          |FROM graft.db.mv_nsf f JOIN graft.db2.mv_nsd d ON f.lang = d.lang
          |GROUP BY region ORDER BY region""".stripMargin)
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_nsagg__state") && !plan.contains("mv_nsf"),
        s"join MV in the second table's namespace must serve:\n$plan")
      assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq == Seq(("E", 2L, 14L), ("F", 1L, 7L)))
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("exact COUNT(DISTINCT string) via the per-MV dictionary: opt-in at CREATE, append-only codes, refresh == recompute through deletes, rewrite serves (r17, VERDICT r16 #5)") {
    val src = fresh("mv_srcds"); fresh("mv_aggds")
    val dictB = s"$wh/db/mv_aggds__state__dict_d_users"
    val fsys = new org.apache.hadoop.fs.Path(dictB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(dictB), true)
    def user(i: Long): String = s"u${i % 37}"
    val rows: Seq[(Long, String, String)] =
      (0L until 300L).map(i => (i, if (i % 2 == 0) "en" else "fr", user(i))) :+
      ((1000L, "nn", null: String))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "u"), 1, None,
      statsCol = Some("doc_id"))
    val mvSql =
      """SELECT lang, count(*) AS n_docs, count(DISTINCT u) AS d_users
        |FROM graft.db.mv_srcds GROUP BY lang""".stripMargin
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    // the DEFAULT refuses, naming BOTH cures (HLL stays the default path)
    val e = intercept[Exception](spark.sql(
      s"CALL graft.system.create_mv('db.mv_aggds', '${mvSql.replace("'", "''")}')")
      .collect())
    assert(chain(e).contains("approx_distinct") &&
      chain(e).contains("spark.graft.mv.distinct.dict"), chain(e))
    spark.conf.set("spark.graft.mv.distinct.dict", "true")
    try {
      spark.sql(
        s"CALL graft.system.create_mv('db.mv_aggds', '${mvSql.replace("'", "''")}')")
        .collect()
      def readDs: Seq[Row] = spark.sql(
        """SELECT lang, n_docs, d_users FROM graft.db.mv_aggds
          |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
      def recomputeDs: Seq[Row] = spark.sql(
        """SELECT lang, count(1) AS n_docs, count(DISTINCT u) AS d_users
          |FROM graft.db.mv_srcds GROUP BY lang
          |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
      assert(readDs == recomputeDs, "create drifted from recompute")
      def dictMap: Map[String, Long] =
        TableFormat.readSnapshot(spark, dictB).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val dict1 = dictMap
      assert(dict1.size == 37 && dict1.values.toSet.size == 37,
        s"one injective code per distinct key: ${dict1.size}")
      // INSERT fold: existing keys flip no bit; NEW keys append codes —
      // and every pre-existing code is byte-identical (append-only)
      TableFormat.appendCommit(spark, src,
        ((300L until 360L).map(i => (i, "zz", s"w${i % 11}"))
          : Seq[(Long, String, String)]).toDF("doc_id", "lang", "u"),
        statsCol = Some("doc_id"))
      val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggds')").head
      assert(r1.getLong(4) == 0L, s"insert span must not regroup: $r1")
      assert(readDs == recomputeDs, "insert fold drifted")
      val dict2 = dictMap
      assert(dict2.size == 48 && dict1.forall { case (k, c) => dict2(k) == c },
        "dictionary must grow append-only — existing codes never rewrite")
      // VALUE DELETES: presence-only state regroups targeted, exact
      TableFormat.deleteWhere(spark, src, "doc_id", 0L, 99L)
      val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_aggds')").head
      assert(r2.getLong(4) > 0L, s"value deletes must regroup: $r2")
      assert(readDs == recomputeDs, "delete regroup drifted")
      assert(dictMap.size == 48,
        "deletes must not shrink the dictionary (codes are permanent)")
      // REWRITE: exact dims serve the visible popcount; the GLOBAL
      // roll-up ORs the code bitmaps across groups — still the exact
      // string distinct count (recompute captured with the flag OFF)
      val globalExpected =
        spark.sql("SELECT count(DISTINCT u) FROM graft.db.mv_srcds")
          .head.getLong(0)
      spark.conf.set("spark.graft.mv.rewrite", "true")
      try {
        val q = spark.sql(
          """SELECT lang, count(DISTINCT u) AS d FROM graft.db.mv_srcds
            |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin)
        assert(q.queryExecution.optimizedPlan.toString.contains("mv_aggds__state"),
          "string count(DISTINCT) must serve from state")
        assert(q.collect().toSeq == readDs.map(r => Row(r.get(0), r.get(2))))
        val g = spark.sql("SELECT count(DISTINCT u) AS d FROM graft.db.mv_srcds")
        assert(g.queryExecution.optimizedPlan.toString.contains("mv_aggds__state"),
          "global string distinct must roll up onto state")
        assert(g.head.getLong(0) == globalExpected)
      } finally spark.conf.set("spark.graft.mv.rewrite", "false")
      // DROP removes the dictionary sibling with the state
      spark.sql("CALL graft.system.drop_mv('db.mv_aggds')").collect()
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(dictB)),
        "drop_mv must remove the dictionary sibling")
    } finally spark.conf.unset("spark.graft.mv.distinct.dict")
  }

  test("dictionary distinct x join MVs: count(DISTINCT string) over a join chain maintains through two-sided deltas and the joined regroup, and serves (r17)") {
    val fct = fresh("mv_djf"); val dim = fresh("mv_djd"); fresh("mv_djagg")
    val dictB = s"$wh/db/mv_djagg__state__dict_d_users"
    val fsys = new org.apache.hadoop.fs.Path(dictB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(dictB), true)
    TableFormat.commit(spark, fct,
      (0L until 200L).map(i =>
        (i, if (i % 2 == 0) "en" else "fr", s"u${i % 23}"))
        .toDF("doc_id", "lang", "u"),
      1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, dim,
      Seq(("en", "E"), ("fr", "F"), ("zz", "Z")).toDF("lang", "region"), 1, None)
    def recomputeDj: Seq[Row] = spark.sql(
      """SELECT region, count(1) AS n_docs, count(DISTINCT u) AS d_users
        |FROM graft.db.mv_djf f JOIN graft.db.mv_djd d ON f.lang = d.lang
        |GROUP BY region ORDER BY region ASC NULLS FIRST""".stripMargin)
      .collect().toSeq
    def readDj: Seq[Row] = spark.sql(
      """SELECT region, n_docs, d_users FROM graft.db.mv_djagg
        |ORDER BY region ASC NULLS FIRST""".stripMargin).collect().toSeq
    spark.conf.set("spark.graft.mv.distinct.dict", "true")
    try {
      spark.sql(
        """CALL graft.system.create_mv('db.mv_djagg',
          |  'SELECT region, count(*) AS n_docs, count(DISTINCT u) AS d_users
          |   FROM graft.db.mv_djf f JOIN graft.db.mv_djd d ON f.lang = d.lang
          |   GROUP BY region')""".stripMargin).collect()
      assert(readDj == recomputeDj, "join-MV dict create drifted")
      // BOTH sides move in one span — new users ride the fact delta,
      // the dim gains the new lang's region; the dict covers the
      // joined delta's new keys before the fold
      TableFormat.appendCommit(spark, fct,
        ((200L until 260L).map(i => (i, "zz", s"w${i % 7}"))
          : Seq[(Long, String, String)]).toDF("doc_id", "lang", "u"),
        statsCol = Some("doc_id"))
      spark.sql("CALL graft.system.refresh_mv('db.mv_djagg')").collect()
      assert(readDj == recomputeDj, "two-sided dict fold drifted")
      val codes = TableFormat.readSnapshot(spark, dictB).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(codes.size == 30 && codes.values.toSet.size == 30,
        s"23 u-keys + 7 w-keys, injective: ${codes.size}")
      // value deletes regroup through the JOINED chain at the pinned
      // version vector — still exact
      TableFormat.deleteWhere(spark, fct, "doc_id", 0L, 79L)
      val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_djagg')").head
      assert(r2.getLong(4) > 0L, s"value deletes must regroup: $r2")
      assert(readDj == recomputeDj, "joined dict regroup drifted")
      // the rewrite serves the join query's popcount from state
      spark.conf.set("spark.graft.mv.rewrite", "true")
      try {
        val q = spark.sql(
          """SELECT region, count(DISTINCT u) AS d
            |FROM graft.db.mv_djf f JOIN graft.db.mv_djd d ON f.lang = d.lang
            |GROUP BY region ORDER BY region ASC NULLS FIRST""".stripMargin)
        assert(q.queryExecution.optimizedPlan.toString.contains("mv_djagg__state"),
          "string distinct over the join must serve from state")
        assert(q.collect().toSeq == readDj.map(r => Row(r.get(0), r.get(2))))
      } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    } finally spark.conf.unset("spark.graft.mv.distinct.dict")
  }

  test("LEFT OUTER join MVs: null-compensation IVM — matched deltas, presence flips both directions, NULL-dim group, orientation-pinned rewrite (r17, r18 candidate #4)") {
    val fct = fresh("mv_lof"); val dim = fresh("mv_lod"); fresh("mv_loagg")
    TableFormat.commit(spark, fct,
      (0L until 200L).map(i =>
        (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "xx", i % 13))
        .toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    // 'xx' has NO dim row: its facts null-extend into the NULL region
    TableFormat.commit(spark, dim,
      Seq(("en", "E"), ("fr", "F")).toDF("lang", "region"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.mv_loagg',
        |  'SELECT region, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_lof f LEFT JOIN graft.db.mv_lod d ON f.lang = d.lang
        |   GROUP BY region')""".stripMargin).collect()
    def readLo: Seq[Row] = spark.sql(
      """SELECT region, n_docs, sum_n FROM graft.db.mv_loagg
        |ORDER BY region ASC NULLS FIRST""".stripMargin).collect().toSeq
    def recomputeLo: Seq[Row] = spark.sql(
      """SELECT region, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
        |FROM graft.db.mv_lof f LEFT JOIN graft.db.mv_lod d ON f.lang = d.lang
        |GROUP BY region ORDER BY region ASC NULLS FIRST""".stripMargin)
      .collect().toSeq
    assert(readLo == recomputeLo, "outer create drifted")
    assert(readLo.exists(_.isNullAt(0)), "the missing-dim NULL group must exist")
    // FACT-side delta: new matched rows + new null-extended rows
    TableFormat.appendCommit(spark, fct,
      ((200L until 240L).map(i => (i, if (i % 2 == 0) "en" else "yy", i % 7))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_loagg')").collect()
    assert(readLo == recomputeLo, "fact-side outer delta drifted")
    // PRESENCE FLIP 0→1: 'xx' gains a dim row — its null-extended
    // facts MOVE from the NULL region into R_X (delete + insert)
    TableFormat.appendCommit(spark, dim,
      Seq(("xx", "X")).toDF("lang", "region"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_loagg')").collect()
    assert(readLo == recomputeLo, "0->1 presence flip drifted")
    assert(readLo.exists(r => !r.isNullAt(0) && r.getString(0) == "X"),
      "flipped facts must land in the new region")
    // PRESENCE FLIP 1→0: 'fr' loses its dim row — matched facts MOVE
    // back into the NULL region
    spark.sql("DELETE FROM graft.db.mv_lod WHERE lang = 'fr'")
    spark.sql("CALL graft.system.refresh_mv('db.mv_loagg')").collect()
    assert(readLo == recomputeLo, "1->0 presence flip drifted")
    assert(!readLo.exists(r => !r.isNullAt(0) && r.getString(0) == "F"),
      "the dropped region must vanish")
    // BOTH sides move in one span: fact append + delete, dim gains 'yy'
    TableFormat.appendCommit(spark, fct,
      (Seq((500L, "yy", 3L), (501L, "zz", 4L)): Seq[(Long, String, Long)])
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, fct, "doc_id", 30L, 89L)
    TableFormat.appendCommit(spark, dim, Seq(("yy", "Y")).toDF("lang", "region"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_loagg')").collect()
    assert(readLo == recomputeLo, "three-sided outer span drifted")
    // REWRITE: the LEFT OUTER query serves orientation-pinned; the
    // INNER query over the same tables must NOT be served by this MV
    spark.conf.set("spark.graft.mv.rewrite", "true")
    try {
      val q = spark.sql(
        """SELECT region, count(*) AS n_docs
          |FROM graft.db.mv_lof f LEFT JOIN graft.db.mv_lod d ON f.lang = d.lang
          |GROUP BY region ORDER BY region ASC NULLS FIRST""".stripMargin)
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_loagg__state"),
        "the matching LEFT OUTER query must serve from state")
      assert(q.collect().toSeq == readLo.map(r => Row(r.get(0), r.get(1))))
      // RIGHT OUTER normalization (r18, VERDICT r17 #4): `dim RIGHT
      // JOIN fact` IS the served `fact LEFT JOIN dim` — the right-outer
      // SPELLING substitutes with identical values
      val qr = spark.sql(
        """SELECT region, count(*) AS n_docs
          |FROM graft.db.mv_lod d RIGHT JOIN graft.db.mv_lof f ON f.lang = d.lang
          |GROUP BY region ORDER BY region ASC NULLS FIRST""".stripMargin)
      assert(qr.queryExecution.optimizedPlan.toString.contains("mv_loagg__state"),
        "the RIGHT OUTER spelling must normalize and serve from state")
      assert(qr.collect().toSeq == readLo.map(r => Row(r.get(0), r.get(1))))
      // a right-outer spelling with the WRONG orientation (fact RIGHT
      // JOIN dim == dim LEFT JOIN fact) keeps the pinned refusal name
      val qw = spark.sql(
        """SELECT region, count(*) AS c
          |FROM graft.db.mv_lof f RIGHT JOIN graft.db.mv_lod d ON f.lang = d.lang
          |GROUP BY region""".stripMargin)
      assert(qw.queryExecution.optimizedPlan.toString.contains("mv_lof"),
        "the flipped orientation must not serve")
      val expO = spark.sql(
        """SELECT reason FROM graft_mv_explain(
          |  'SELECT region, count(*) AS c
          |   FROM graft.db.mv_lof f RIGHT JOIN graft.db.mv_lod d ON f.lang = d.lang
          |   GROUP BY region') WHERE mv = 'db.mv_loagg'""".stripMargin)
        .head.getString(0)
      assert(expO.contains("orientation"), expO)
      val inner = spark.sql(
        """SELECT region, count(*) AS c
          |FROM graft.db.mv_lof f JOIN graft.db.mv_lod d ON f.lang = d.lang
          |GROUP BY region""".stripMargin)
      assert(inner.queryExecution.optimizedPlan.toString.contains("mv_lof"),
        "an INNER query must never be served by the outer MV's state")
      val exp = spark.sql(
        """SELECT reason FROM graft_mv_explain(
          |  'SELECT region, count(*) AS c
          |   FROM graft.db.mv_lof f JOIN graft.db.mv_lod d ON f.lang = d.lang
          |   GROUP BY region') WHERE mv = 'db.mv_loagg'""".stripMargin)
        .head.getString(0)
      assert(exp.contains("null-extended"), exp)
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    // RIGHT-NESTED outer shapes refuse loudly (left-deep chains —
    // all-outer AND inner/outer mixes — maintain since r18; see the
    // N-chain and mixed-chain tests)
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    fresh("mv_loagg2")
    val e = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_loagg2',
        |  'SELECT region, count(*) AS c
        |   FROM graft.db.mv_lof f LEFT JOIN
        |     (graft.db.mv_lod d JOIN graft.db.mv_lod e ON d.lang = e.lang)
        |     ON f.lang = d.lang
        |   GROUP BY region')""".stripMargin).collect())
    assert(chain(e).contains("LEFT-DEEP"), chain(e))
  }

  test("N-table LEFT OUTER chains: flips at BOTH hops, cascaded null-extension, a three-sided span — refresh == recompute throughout (r18, VERDICT r17 #3)") {
    val fct = fresh("mv_lcf"); val d1 = fresh("mv_lcd1"); val d2 = fresh("mv_lcd2")
    fresh("mv_lcagg")
    TableFormat.commit(spark, fct,
      (0L until 200L).map(i =>
        (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "xx", i % 13))
        .toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    // 'xx' has NO d1 row (hop-1 null region); region 'F' has NO d2 row
    // (hop-2 null region) — both regions must exist from CREATE
    TableFormat.commit(spark, d1,
      Seq(("en", "E"), ("fr", "F")).toDF("lang", "region"), 1, None)
    TableFormat.commit(spark, d2,
      Seq(("E", "Z1")).toDF("region", "zone"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.mv_lcagg',
        |  'SELECT zone, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_lcf f
        |     LEFT JOIN graft.db.mv_lcd1 d1 ON f.lang = d1.lang
        |     LEFT JOIN graft.db.mv_lcd2 d2 ON d1.region = d2.region
        |   GROUP BY zone')""".stripMargin).collect()
    def readLc: Seq[Row] = spark.sql(
      """SELECT zone, n_docs, sum_n FROM graft.db.mv_lcagg
        |ORDER BY zone ASC NULLS FIRST""".stripMargin).collect().toSeq
    def recomputeLc: Seq[Row] = spark.sql(
      """SELECT zone, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
        |FROM graft.db.mv_lcf f
        |  LEFT JOIN graft.db.mv_lcd1 d1 ON f.lang = d1.lang
        |  LEFT JOIN graft.db.mv_lcd2 d2 ON d1.region = d2.region
        |GROUP BY zone ORDER BY zone ASC NULLS FIRST""".stripMargin)
      .collect().toSeq
    assert(readLc == recomputeLc, "N-chain outer create drifted")
    assert(readLc.exists(_.isNullAt(0)),
      "the cascaded NULL-zone group must exist (xx and fr facts)")
    // fact-side delta threads the WHOLE chain at new versions
    TableFormat.appendCommit(spark, fct,
      ((200L until 240L).map(i => (i, if (i % 2 == 0) "en" else "yy", i % 7))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_lcagg')").collect()
    assert(readLc == recomputeLc, "N-chain fact delta drifted")
    // HOP-2 FLIP 0→1: region F gains a d2 row — fr facts move from the
    // NULL zone into Z2 (the flip set is keyed by Δd2, prefix = f⟕d1)
    TableFormat.appendCommit(spark, d2, Seq(("F", "Z2")).toDF("region", "zone"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_lcagg')").collect()
    assert(readLc == recomputeLc, "hop-2 0->1 flip drifted")
    assert(readLc.exists(r => !r.isNullAt(0) && r.getString(0) == "Z2"),
      "fr facts must land in the new zone")
    // HOP-1 FLIP 0→1: 'xx' gains a d1 row whose region has NO d2 row —
    // the facts flip OUT of hop-1's null region but CASCADE into hop-2
    // null-extension (same NULL zone, different path — count must hold)
    TableFormat.appendCommit(spark, d1, Seq(("xx", "X")).toDF("lang", "region"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_lcagg')").collect()
    assert(readLc == recomputeLc, "hop-1 0->1 cascading flip drifted")
    // HOP-1 FLIP 1→0: 'en' loses its d1 row — matched-through-Z1 facts
    // move back to the NULL zone; hop-2 untouched
    spark.sql("DELETE FROM graft.db.mv_lcd1 WHERE lang = 'en'")
    spark.sql("CALL graft.system.refresh_mv('db.mv_lcagg')").collect()
    assert(readLc == recomputeLc, "hop-1 1->0 flip drifted")
    assert(!readLc.exists(r => !r.isNullAt(0) && r.getString(0) == "Z1"),
      "Z1 must vanish with its only feeding lang")
    // HOP-2 FLIP 1→0 in a THREE-SIDED span: fact append + delete, d1
    // regains 'en', d2 loses F — every half and both flip directions
    // compose in ONE refresh
    TableFormat.appendCommit(spark, fct,
      (Seq((500L, "yy", 3L), (501L, "fr", 4L)): Seq[(Long, String, Long)])
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, fct, "doc_id", 30L, 89L)
    TableFormat.appendCommit(spark, d1, Seq(("en", "E")).toDF("lang", "region"))
    spark.sql("DELETE FROM graft.db.mv_lcd2 WHERE region = 'F'")
    spark.sql("CALL graft.system.refresh_mv('db.mv_lcagg')").collect()
    assert(readLc == recomputeLc, "three-sided N-chain span drifted")
    // maintenance stays exact past the span: one more quiet fact append
    TableFormat.appendCommit(spark, fct,
      (Seq((600L, "en", 9L)): Seq[(Long, String, Long)])
        .toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_lcagg')").collect()
    assert(readLc == recomputeLc, "post-span fact append drifted")
    // REWRITE serves the N-chain: the left-deep outer SPINE flattens,
    // orientation pinned to the fact; a right-outer spelling of an
    // inner hop normalizes; a mixed inner/outer spine stands down
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val q = spark.sql(
        """SELECT zone, count(*) AS n_docs
          |FROM graft.db.mv_lcf f
          |  LEFT JOIN graft.db.mv_lcd1 d1 ON f.lang = d1.lang
          |  LEFT JOIN graft.db.mv_lcd2 d2 ON d1.region = d2.region
          |GROUP BY zone ORDER BY zone ASC NULLS FIRST""".stripMargin)
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_lcagg__state"),
        "the N-chain LEFT OUTER query must serve from state")
      assert(q.collect().toSeq == readLc.map(r => Row(r.get(0), r.get(1))))
      val mixed = spark.sql(
        """SELECT zone, count(*) AS c
          |FROM graft.db.mv_lcf f
          |  JOIN graft.db.mv_lcd1 d1 ON f.lang = d1.lang
          |  LEFT JOIN graft.db.mv_lcd2 d2 ON d1.region = d2.region
          |GROUP BY zone""".stripMargin)
      assert(mixed.queryExecution.optimizedPlan.toString.contains("mv_lcf"),
        "a mixed inner/outer spine must not be served by the outer MV")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("a later hop keyed on an OUTER link's same-named deduped key REFUSES at create (remap-through-survivor is only exact for inner links); the inner-link spelling still maintains exactly (r19, ADVICE r18 #1)") {
    val fct = fresh("mv_odkf"); val d1 = fresh("mv_odkd1")
    val d2 = fresh("mv_odkd2"); val d3 = fresh("mv_odkd3")
    fresh("mv_odka"); fresh("mv_odkb")
    import spark.implicits._
    TableFormat.commit(spark, fct,
      ((1L to 60L).map(i =>
        (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "de", i))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    // 'de' MISSING from d1 but PRESENT in d2 — the ADVICE repro corpus:
    // resolving d2's hop key through the left survivor (f.lang, non-null
    // 'de') would match d2 where direct SQL's d1.lang is NULL and never
    // matches
    TableFormat.commit(spark, d1,
      Seq(("en", "E"), ("fr", "F")).toDF("lang", "region"), 1, None)
    TableFormat.commit(spark, d2,
      Seq(("en", "Z_en"), ("de", "Z_de")).toDF("lang", "zone"), 1, None)
    TableFormat.commit(spark, d3,
      Seq(("en", "P1")).toDF("lang", "pool"), 1, None)
    // the broken shape refuses loudly, naming the merged key
    val e = intercept[Exception] {
      spark.sql(
        """CALL graft.system.create_mv('db.mv_odka',
          |  'SELECT zone, count(*) AS n_docs
          |   FROM graft.db.mv_odkf f
          |     LEFT JOIN graft.db.mv_odkd1 d1 ON f.lang = d1.lang
          |     LEFT JOIN graft.db.mv_odkd2 d2 ON d1.lang = d2.lang
          |   GROUP BY zone')""".stripMargin).collect()
    }
    assert(e.getMessage.contains("LEFT OUTER") &&
      e.getMessage.contains("d1.lang") && e.getMessage.contains("merged"),
      s"outer-deduped hop key must refuse naming the merged key: ${e.getMessage}")
    // TRANSITIVE case: hop 3 keys on d2.lang, itself deduped by the
    // OUTER link 2 — refuses the same way even though link 1 is inner
    val e2 = intercept[Exception] {
      spark.sql(
        """CALL graft.system.create_mv('db.mv_odka',
          |  'SELECT pool, count(*) AS n_docs
          |   FROM graft.db.mv_odkf f
          |     JOIN graft.db.mv_odkd1 d1 ON f.lang = d1.lang
          |     LEFT JOIN graft.db.mv_odkd2 d2 ON d1.lang = d2.lang
          |     LEFT JOIN graft.db.mv_odkd3 d3 ON d2.lang = d3.lang
          |   GROUP BY pool')""".stripMargin).collect()
    }
    assert(e2.getMessage.contains("d2.lang") && e2.getMessage.contains("merged"),
      s"transitively outer-deduped key must refuse: ${e2.getMessage}")
    // the INNER-link spelling stays accepted: the inner join equates
    // f.lang with d1.lang on every surviving row, so the survivor remap
    // is exact — and the whole lifecycle matches direct SQL
    spark.sql(
      """CALL graft.system.create_mv('db.mv_odkb',
        |  'SELECT zone, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_odkf f
        |     JOIN graft.db.mv_odkd1 d1 ON f.lang = d1.lang
        |     LEFT JOIN graft.db.mv_odkd2 d2 ON d1.lang = d2.lang
        |   GROUP BY zone')""".stripMargin).collect()
    def readB: Seq[Row] = spark.sql(
      """SELECT zone, n_docs, sum_n FROM graft.db.mv_odkb
        |ORDER BY zone ASC NULLS FIRST""".stripMargin).collect().toSeq
    def recomputeB: Seq[Row] = spark.sql(
      """SELECT zone, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
        |FROM graft.db.mv_odkf f
        |  JOIN graft.db.mv_odkd1 d1 ON f.lang = d1.lang
        |  LEFT JOIN graft.db.mv_odkd2 d2 ON d1.lang = d2.lang
        |GROUP BY zone ORDER BY zone ASC NULLS FIRST""".stripMargin)
      .collect().toSeq
    assert(readB == recomputeB, "create must match direct SQL")
    assert(readB.exists(_.isNullAt(0)),
      "fr facts survive the inner hop and null-extend at d2 (fr not in d2)")
    // fact append + outer-hop 0→1 flip (d2 gains 'fr') in one span
    TableFormat.appendCommit(spark, fct,
      ((100L until 120L).map(i => (i, if (i % 2 == 0) "en" else "fr", i))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    TableFormat.appendCommit(spark, d2, Seq(("fr", "Z_fr")).toDF("lang", "zone"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_odkb')").collect()
    assert(readB == recomputeB, "span with outer flip must match direct SQL")
    assert(!readB.exists(_.isNullAt(0)),
      "after the flip every surviving lang has a zone")
  }

  test("MIXED inner/outer MV chains: fact ⋈ d1 ⟕ d2 and fact ⟕ d1 ⋈ d2 both maintain — inner hops matched-half only, outer hops flip; rewrite matches per-hop types (r18, r19 candidate pulled forward)") {
    val fct = fresh("mv_mxf"); val d1 = fresh("mv_mxd1"); val d2 = fresh("mv_mxd2")
    fresh("mv_mxa"); fresh("mv_mxb")
    TableFormat.commit(spark, fct,
      ((0L until 180L).map(i =>
        (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "xx", i % 11))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    // 'xx' missing from d1; region 'F' missing from d2
    TableFormat.commit(spark, d1,
      Seq(("en", "E"), ("fr", "F")).toDF("lang", "region"), 1, None)
    TableFormat.commit(spark, d2,
      Seq(("E", "Z1")).toDF("region", "zone"), 1, None)
    // A: inner hop BELOW the outer hop — xx facts drop at hop 1, fr
    // facts survive into the NULL-zone region
    spark.sql(
      """CALL graft.system.create_mv('db.mv_mxa',
        |  'SELECT zone, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_mxf f
        |     JOIN graft.db.mv_mxd1 d1 ON f.lang = d1.lang
        |     LEFT JOIN graft.db.mv_mxd2 d2 ON d1.region = d2.region
        |   GROUP BY zone')""".stripMargin).collect()
    // B: outer hop BELOW the inner hop — xx facts null-extend at hop 1
    // then DROP at the inner hop 2 (NULL region never matches)
    spark.sql(
      """CALL graft.system.create_mv('db.mv_mxb',
        |  'SELECT zone, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_mxf f
        |     LEFT JOIN graft.db.mv_mxd1 d1 ON f.lang = d1.lang
        |     JOIN graft.db.mv_mxd2 d2 ON d1.region = d2.region
        |   GROUP BY zone')""".stripMargin).collect()
    def read(mv: String): Seq[Row] = spark.sql(
      s"""SELECT zone, n_docs, sum_n FROM graft.db.$mv
         |ORDER BY zone ASC NULLS FIRST""".stripMargin).collect().toSeq
    def recompute(join1: String, join2: String): Seq[Row] = spark.sql(
      s"""SELECT zone, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
         |FROM graft.db.mv_mxf f
         |  $join1 graft.db.mv_mxd1 d1 ON f.lang = d1.lang
         |  $join2 graft.db.mv_mxd2 d2 ON d1.region = d2.region
         |GROUP BY zone ORDER BY zone ASC NULLS FIRST""".stripMargin)
      .collect().toSeq
    def checkBoth(tag: String): Unit = {
      assert(read("mv_mxa") == recompute("JOIN", "LEFT JOIN"), s"A drifted: $tag")
      assert(read("mv_mxb") == recompute("LEFT JOIN", "JOIN"), s"B drifted: $tag")
    }
    checkBoth("create")
    assert(read("mv_mxa").exists(_.isNullAt(0)),
      "A must hold the NULL-zone group (fr facts, F missing from d2)")
    assert(!read("mv_mxb").exists(_.isNullAt(0)),
      "B's inner hop 2 must drop every null-extended row")
    // fact delta threads both chains
    TableFormat.appendCommit(spark, fct,
      ((200L until 230L).map(i => (i, if (i % 2 == 0) "fr" else "yy", i % 7))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_mxa')").collect()
    spark.sql("CALL graft.system.refresh_mv('db.mv_mxb')").collect()
    checkBoth("fact append")
    // INNER-hop delta (d1 gains 'xx'): matched half only in A; in B it
    // is the OUTER hop — a presence flip 0→1 that then meets hop 2
    TableFormat.appendCommit(spark, d1, Seq(("xx", "E")).toDF("lang", "region"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_mxa')").collect()
    spark.sql("CALL graft.system.refresh_mv('db.mv_mxb')").collect()
    checkBoth("d1 append (inner delta in A, 0->1 flip in B)")
    assert(read("mv_mxb").exists(r => !r.isNullAt(0) && r.getString(0) == "Z1"))
    // OUTER-hop flip in A (d2 gains F): fr facts move NULL-zone → Z2;
    // in B it is the INNER hop — matched half only
    TableFormat.appendCommit(spark, d2, Seq(("F", "Z2")).toDF("region", "zone"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_mxa')").collect()
    spark.sql("CALL graft.system.refresh_mv('db.mv_mxb')").collect()
    checkBoth("d2 append (0->1 flip in A, inner delta in B)")
    // three-sided span incl. a 1→0 flip (d2 loses E) + fact delete
    TableFormat.deleteWhere(spark, fct, "doc_id", 20L, 59L)
    spark.sql("DELETE FROM graft.db.mv_mxd2 WHERE region = 'E'")
    TableFormat.appendCommit(spark, d1, Seq(("yy", "Y")).toDF("lang", "region"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_mxa')").collect()
    spark.sql("CALL graft.system.refresh_mv('db.mv_mxb')").collect()
    checkBoth("three-sided span with 1->0 flip")
    // REWRITE: the matching per-hop spelling serves; the SAME pair set
    // with flipped hop types stands down by name
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val qa = spark.sql(
        """SELECT zone, count(*) AS n_docs
          |FROM graft.db.mv_mxf f
          |  JOIN graft.db.mv_mxd1 d1 ON f.lang = d1.lang
          |  LEFT JOIN graft.db.mv_mxd2 d2 ON d1.region = d2.region
          |GROUP BY zone ORDER BY zone ASC NULLS FIRST""".stripMargin)
      assert(qa.queryExecution.optimizedPlan.toString.contains("mv_mxa__state"),
        "the matching mixed spelling must serve from A's state")
      assert(qa.collect().toSeq == read("mv_mxa").map(r => Row(r.get(0), r.get(1))))
      val qb = spark.sql(
        """SELECT zone, count(*) AS n_docs
          |FROM graft.db.mv_mxf f
          |  LEFT JOIN graft.db.mv_mxd1 d1 ON f.lang = d1.lang
          |  JOIN graft.db.mv_mxd2 d2 ON d1.region = d2.region
          |GROUP BY zone ORDER BY zone ASC NULLS FIRST""".stripMargin)
      assert(qb.queryExecution.optimizedPlan.toString.contains("mv_mxb__state"),
        "the flipped-hops spelling must serve from B's state, never A's")
      assert(qb.collect().toSeq == read("mv_mxb").map(r => Row(r.get(0), r.get(1))))
      val exp = spark.sql(
        """SELECT reason FROM graft_mv_explain(
          |  'SELECT zone, count(*) AS c
          |   FROM graft.db.mv_mxf f
          |     LEFT JOIN graft.db.mv_mxd1 d1 ON f.lang = d1.lang
          |     JOIN graft.db.mv_mxd2 d2 ON d1.region = d2.region
          |   GROUP BY zone') WHERE mv = 'db.mv_mxa'""".stripMargin)
        .head.getString(0)
      assert(exp.contains("per-hop"), exp)
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("sketch states x join MVs: approx_pct and approx_topk over a join chain maintain through two-sided deltas and the joined regroup, and serve (r18)") {
    val fct = fresh("mv_skjf"); val dim = fresh("mv_skjd"); fresh("mv_skja")
    // exact regimes on purpose: < k values and < k distinct terms per
    // group, so every assertion is a deterministic equality
    TableFormat.commit(spark, fct,
      ((1L to 80L).map(i => (i, if (i % 2 == 0) "en" else "fr", i, s"t${i % 4}"))
        : Seq[(Long, String, Long, String)]).toDF("doc_id", "lang", "n", "term"),
      1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, dim,
      Seq(("en", "E"), ("fr", "F")).toDF("lang", "region"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.mv_skja',
        |  'SELECT region, count(*) AS n_docs, approx_pct(n, 0.5) AS p50,
        |          approx_topk(term, 10) AS tops
        |   FROM graft.db.mv_skjf f JOIN graft.db.mv_skjd d ON f.lang = d.lang
        |   GROUP BY region')""".stripMargin).collect()
    def readSkj: Map[String, (Double, Seq[String])] = spark.sql(
      "SELECT region, p50, tops FROM graft.db.mv_skja")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getSeq[String](2)))).toMap
    def recomputeSkj: Map[String, (Double, Seq[String])] = spark.sql(
      """SELECT region, kll_quantile(kll_agg(n), 0.5D) AS p50,
        |       sort_array(collect_set(term)) AS tops
        |FROM graft.db.mv_skjf f JOIN graft.db.mv_skjd d ON f.lang = d.lang
        |GROUP BY region""".stripMargin)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getSeq[String](2)))).toMap
    assert(readSkj == recomputeSkj, "join-MV sketch create drifted")
    // TWO-SIDED span: fact insert (folds) + dim append (new region)
    TableFormat.appendCommit(spark, fct,
      ((100L until 130L).map(i => (i, "de", i, s"t${4 + i % 2}"))
        : Seq[(Long, String, Long, String)]).toDF("doc_id", "lang", "n", "term"),
      statsCol = Some("doc_id"))
    TableFormat.appendCommit(spark, dim, Seq(("de", "D")).toDF("lang", "region"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_skja')").head
    assert(r1.getLong(4) == 0L, s"insert-only two-sided span must not regroup (got $r1)")
    assert(readSkj == recomputeSkj, "two-sided sketch fold drifted")
    assert(readSkj.contains("D"))
    // a value delete regroups the touched groups at the PINNED version
    // vector (the joined snapshot rescans only marked groups)
    TableFormat.deleteWhere(spark, fct, "doc_id", 100L, 114L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_skja')").head
    assert(r2.getLong(4) > 0L, s"value delete must regroup (got $r2)")
    assert(readSkj == recomputeSkj, "joined sketch regroup drifted")
    // the join-query shapes serve from state at any rank / matching k
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val q = spark.sql(
        """SELECT region, kll_quantile(kll_agg(n), 0.9D) AS p90,
          |       misra_gries(term, 10) AS tops
          |FROM graft.db.mv_skjf f JOIN graft.db.mv_skjd d ON f.lang = d.lang
          |GROUP BY region ORDER BY region""".stripMargin)
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_skja__state"),
        "join-query sketch reads must serve from state")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(
          """SELECT region, kll_quantile(kll_agg(n), 0.9D) AS p90,
            |       sort_array(collect_set(term)) AS tops
            |FROM graft.db.mv_skjf f JOIN graft.db.mv_skjd d ON f.lang = d.lang
            |GROUP BY region ORDER BY region""".stripMargin).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(q.collect().toSeq == direct, "served join sketch values drifted")
      // FILTER-clause aggregates compose over JOIN MVs too (r19): the
      // dim-only predicate selects whole joined groups
      val qF = spark.sql(
        """SELECT count(*) FILTER (WHERE region = 'E') AS n_e
          |FROM graft.db.mv_skjf f JOIN graft.db.mv_skjd d ON f.lang = d.lang""".stripMargin)
      assert(qF.queryExecution.optimizedPlan.toString.contains("mv_skja__state"),
        "FILTER over a join MV must serve from state")
      val directF = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(
          """SELECT count(*) FILTER (WHERE region = 'E') AS n_e
            |FROM graft.db.mv_skjf f JOIN graft.db.mv_skjd d ON f.lang = d.lang""".stripMargin)
          .collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(qF.collect().toSeq == directF, "served join FILTER count drifted")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("sketch states x OUTER chains: approx_pct and approx_topk over a mixed inner/outer chain MV — presence flips at the outer hop regroup sketch state both directions; serve at both grains (r19, VERDICT r18 #3)") {
    val fct = fresh("mv_skof"); val d1 = fresh("mv_skod1")
    val d2 = fresh("mv_skod2"); fresh("mv_skoa")
    import spark.implicits._
    // exact regimes: < k=200 values and < k distinct terms per group,
    // so every sketch assertion is a deterministic equality
    // four langs → four regions; d2 maps E and H to the SAME zone Z1
    // and misses F/G, so both zone groups hold rows from TWO regions —
    // a later single-region flip PARTIALLY drains a surviving group
    // (the shape where a sketch regroup is unavoidable; a fully-dying
    // or brand-new group needs none)
    TableFormat.commit(spark, fct,
      ((1L to 80L).map(i => (i, Seq("en", "fr", "de", "hu")((i % 4).toInt),
        i, s"t${i % 4}"))
        : Seq[(Long, String, Long, String)]).toDF("doc_id", "lang", "n", "term"),
      1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, d1,
      Seq(("en", "E"), ("fr", "F"), ("de", "G"), ("hu", "H"))
        .toDF("lang", "region"), 1, None)
    TableFormat.commit(spark, d2,
      Seq(("E", "Z1"), ("H", "Z1")).toDF("region", "zone"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.mv_skoa',
        |  'SELECT zone, count(*) AS n_docs, approx_pct(n, 0.5) AS p50,
        |          approx_topk(term, 10) AS tops
        |   FROM graft.db.mv_skof f
        |     JOIN graft.db.mv_skod1 d1 ON f.lang = d1.lang
        |     LEFT JOIN graft.db.mv_skod2 d2 ON d1.region = d2.region
        |   GROUP BY zone')""".stripMargin).collect()
    def readSko: Map[Option[String], (Long, Double, Seq[String])] = spark.sql(
      "SELECT zone, n_docs, p50, tops FROM graft.db.mv_skoa")
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2), r.getSeq[String](3)))).toMap
    def recomputeSko: Map[Option[String], (Long, Double, Seq[String])] = spark.sql(
      """SELECT zone, count(1) AS n_docs, kll_quantile(kll_agg(n), 0.5D) AS p50,
        |       sort_array(collect_set(term)) AS tops
        |FROM graft.db.mv_skof f
        |  JOIN graft.db.mv_skod1 d1 ON f.lang = d1.lang
        |  LEFT JOIN graft.db.mv_skod2 d2 ON d1.region = d2.region
        |GROUP BY zone""".stripMargin)
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2), r.getSeq[String](3)))).toMap
    assert(readSko == recomputeSko, "outer-chain sketch create drifted")
    assert(readSko.contains(None), "fr+de facts must hold the NULL-zone group")
    // fact-only insert span folds into BOTH the matched and the
    // null-extended groups' sketches with zero regroups
    TableFormat.appendCommit(spark, fct,
      ((100L until 120L).map(i => (i, if (i % 2 == 0) "en" else "fr", i, s"t${4 + i % 2}"))
        : Seq[(Long, String, Long, String)]).toDF("doc_id", "lang", "n", "term"),
      statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_skoa')").head
    assert(r1.getLong(4) == 0L, s"fact insert span must not regroup (got $r1)")
    assert(readSko == recomputeSko, "outer-chain sketch fold drifted")
    // 0→1 PRESENCE FLIP at the outer hop: d2 gains 'F' — fr rows leave
    // the NULL-zone group, which SURVIVES on the de rows. A sketch
    // cannot subtract the departing rows, so the flip must REGROUP the
    // surviving group, exactly
    TableFormat.appendCommit(spark, d2, Seq(("F", "Z2")).toDF("region", "zone"))
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_skoa')").head
    assert(r2.getLong(4) > 0L, s"0->1 flip must regroup sketch groups (got $r2)")
    assert(readSko == recomputeSko, "0->1 flip sketch regroup drifted")
    assert(readSko.contains(None) && readSko.contains(Some("Z2")),
      "fr rows move to Z2; the NULL-zone group survives on de rows")
    // 1→0 FLIP the other way: d2 loses 'E' — en rows move Z1 → NULL,
    // Z1 SURVIVES on the hu rows → deletes in a surviving group →
    // sketch regroup again
    spark.sql("DELETE FROM graft.db.mv_skod2 WHERE region = 'E'")
    val r3 = spark.sql("CALL graft.system.refresh_mv('db.mv_skoa')").head
    assert(r3.getLong(4) > 0L, s"1->0 flip must regroup sketch groups (got $r3)")
    assert(readSko == recomputeSko, "1->0 flip sketch regroup drifted")
    assert(readSko.contains(None) && readSko.contains(Some("Z1")),
      "Z1 survives on hu rows; en rows rejoin the NULL-zone group")
    // SERVE at both grains: the chain query's sketch reads come from
    // state (per-hop types matched), values equal the direct plan's in
    // the exact regime
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val qEx = spark.sql(
        """SELECT zone, kll_quantile(kll_agg(n), 0.9D) AS p90,
          |       misra_gries(term, 10) AS tops
          |FROM graft.db.mv_skof f
          |  JOIN graft.db.mv_skod1 d1 ON f.lang = d1.lang
          |  LEFT JOIN graft.db.mv_skod2 d2 ON d1.region = d2.region
          |GROUP BY zone ORDER BY zone NULLS FIRST""".stripMargin)
      assert(qEx.queryExecution.optimizedPlan.toString.contains("mv_skoa__state"),
        "exact-grain chain sketch reads must serve from state")
      val qGl = spark.sql(
        """SELECT kll_quantile(kll_agg(n), 0.5D) AS p50
          |FROM graft.db.mv_skof f
          |  JOIN graft.db.mv_skod1 d1 ON f.lang = d1.lang
          |  LEFT JOIN graft.db.mv_skod2 d2 ON d1.region = d2.region""".stripMargin)
      assert(qGl.queryExecution.optimizedPlan.toString.contains("mv_skoa__state"),
        "global roll-up must merge the state sketches")
      val (directEx, directGl) = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try (spark.sql(
          """SELECT zone, kll_quantile(kll_agg(n), 0.9D) AS p90,
            |       sort_array(collect_set(term)) AS tops
            |FROM graft.db.mv_skof f
            |  JOIN graft.db.mv_skod1 d1 ON f.lang = d1.lang
            |  LEFT JOIN graft.db.mv_skod2 d2 ON d1.region = d2.region
            |GROUP BY zone ORDER BY zone NULLS FIRST""".stripMargin).collect().toSeq,
          spark.sql(
            """SELECT kll_quantile(kll_agg(n), 0.5D) AS p50
              |FROM graft.db.mv_skof f
              |  JOIN graft.db.mv_skod1 d1 ON f.lang = d1.lang
              |  LEFT JOIN graft.db.mv_skod2 d2 ON d1.region = d2.region""".stripMargin)
            .collect().toSeq)
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(qEx.collect().toSeq == directEx, "served chain sketch values drifted")
      assert(qGl.collect().toSeq == directGl, "served global sketch roll-up drifted")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("mv_maintain bounds the state footprint: a 50-refresh loop keeps files/manifests bounded across state AND dict siblings; time travel inside the retention window intact (r18, VERDICT r17 #5)") {
    val src = fresh("mv_srcmt"); fresh("mv_aggmt")
    val rows: Seq[(Long, String, Long)] =
      (0L until 40L).map(i => (i, s"k${i % 7}", i % 5))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "source", "n"), 1, None,
      statsCol = Some("doc_id"))
    // include a string-dict distinct so the dict SIBLING is maintained too
    spark.conf.set("spark.graft.mv.distinct.dict", "true")
    try {
      spark.sql(
        """CALL graft.system.create_mv('db.mv_aggmt',
          |  'SELECT n, count(*) AS n_docs, count(DISTINCT source) AS n_src
          |   FROM graft.db.mv_srcmt GROUP BY n')""".stripMargin).collect()
    } finally spark.conf.unset("spark.graft.mv.distinct.dict")
    val sb = s"$wh/db/mv_aggmt__state"
    val fs = new org.apache.hadoop.fs.Path(sb)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countUnder(dir: String, pred: String => Boolean): Int = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) 0
      else {
        val it = fs.listFiles(p, true)
        var n = 0
        while (it.hasNext) { if (pred(it.next().getPath.getName)) n += 1 }
        n
      }
    }
    def manifests(dir: String): Int =
      countUnder(s"$dir/_manifests", _.endsWith(".manifest"))
    def dataFiles(dir: String): Int =
      countUnder(dir, n => n.endsWith(".parquet") && !n.startsWith("_"))
    val prevCheck = spark.conf.getOption("spark.graft.vacuum.retentionCheck")
    try {
      spark.conf.set("spark.graft.vacuum.retentionCheck", "false")
      (1 to 50).foreach { i =>
        TableFormat.appendCommit(spark, src,
          (Seq((1000L + i, s"k${i % 11}", (i % 5).toLong))
            : Seq[(Long, String, Long)]).toDF("doc_id", "source", "n"),
          statsCol = Some("doc_id"))
        spark.sql("CALL graft.system.refresh_mv('db.mv_aggmt')").collect()
        if (i % 10 == 0)
          spark.sql("CALL graft.system.mv_maintain('db.mv_aggmt', 0, 3)").collect()
      }
      // BOUNDED: 50 replace-refreshes would strand 50+ manifests and
      // ~50 superseded state files; the maintenance window (10) plus
      // retain_last (3) caps both — state AND dict siblings
      assert(manifests(sb) <= 16, s"state manifests unbounded: ${manifests(sb)}")
      assert(dataFiles(sb) <= 16, s"state files unbounded: ${dataFiles(sb)}")
      val dict = graft.operators.MaterializedView
        .maintenanceTargets(spark, s"$wh/db/mv_aggmt").tail
      assert(dict.nonEmpty, "dict sibling must be discovered as a target")
      dict.foreach { dt =>
        assert(manifests(dt) <= 16, s"dict manifests unbounded: ${manifests(dt)}")
      }
      // TIME TRAVEL inside the retention window: the last maintain kept
      // retain_last=3 — the previous version still reads
      val cur = TableFormat.currentVersion(spark, sb)
      val prev = TableFormat.readSnapshot(spark, sb, Some(cur - 1))
      assert(prev.count() > 0, "previous retained version must still read")
      // and the MV itself still equals a recompute after all of it
      val got = spark.sql(
        """SELECT n, n_docs, n_src FROM graft.db.mv_aggmt
          |ORDER BY n ASC""".stripMargin).collect().toSeq
      val want = spark.sql(
        """SELECT n, count(1) AS n_docs, count(DISTINCT source) AS n_src
          |FROM graft.db.mv_srcmt GROUP BY n ORDER BY n ASC""".stripMargin)
        .collect().toSeq
      assert(got == want, "maintained MV drifted from recompute")
    } finally prevCheck match {
      case Some(v) => spark.conf.set("spark.graft.vacuum.retentionCheck", v)
      case None => spark.conf.unset("spark.graft.vacuum.retentionCheck")
    }
  }

  test("auto-maintenance policy: graft.mv.maintain.every=N keeps an unattended refresh loop's footprint bounded, expire window defaulting to the declared retention floor (r18)") {
    val src = fresh("mv_srcam"); fresh("mv_aggam")
    TableFormat.commit(spark, src,
      ((0L until 30L).map(i => (i, s"k${i % 5}", i % 3))
        : Seq[(Long, String, Long)]).toDF("doc_id", "source", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggam',
        |  'SELECT n, count(*) AS n_docs, sum(doc_id) AS s
        |   FROM graft.db.mv_srcam GROUP BY n')""".stripMargin).collect()
    // declare the policy ON THE STATE TABLE: maintain every 10th
    // commit, keep 3 versions, zero retention floor (test speed — a
    // production MV keeps the 7-day default and time travel survives)
    spark.sql(
      """ALTER TABLE graft.db.mv_aggam__state SET TBLPROPERTIES(
        |  'graft.mv.maintain.every'='10',
        |  'graft.mv.maintain.retain'='3',
        |  'graft.vacuum.min-age'='0')""".stripMargin).collect()
    val sb = s"$wh/db/mv_aggam__state"
    val fs = new org.apache.hadoop.fs.Path(sb)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifests: Int = {
      val p = new org.apache.hadoop.fs.Path(s"$sb/_manifests")
      fs.listStatus(p).count(_.getPath.getName.endsWith(".manifest"))
    }
    // 30 refreshes, ZERO operator maintenance calls
    (1 to 30).foreach { i =>
      TableFormat.appendCommit(spark, src,
        (Seq((1000L + i, s"k${i % 5}", (i % 3).toLong))
          : Seq[(Long, String, Long)]).toDF("doc_id", "source", "n"),
        statsCol = Some("doc_id"))
      spark.sql("CALL graft.system.refresh_mv('db.mv_aggam')").collect()
    }
    assert(manifests <= 16,
      s"auto-maintained state manifests unbounded: $manifests")
    // the MV still equals a recompute, and the bookmark survived the
    // policy's compact commits
    val got = spark.sql(
      "SELECT n, n_docs, s FROM graft.db.mv_aggam ORDER BY n").collect().toSeq
    val want = spark.sql(
      """SELECT n, count(1) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS s
        |FROM graft.db.mv_srcam GROUP BY n ORDER BY n""".stripMargin)
      .collect().toSeq
    assert(got == want, "auto-maintained MV drifted from recompute")
    // policy-free MVs are untouched: no property, no auto commits —
    // the refresh count equals the commit count (pinned implicitly by
    // every other MV test's version arithmetic staying valid)
  }

  test("composite join keys: an MV over a two-column equi-join maintains exactly and the rewrite matches the key-pair SET in either conjunct order (r16)") {
    val facts = fresh("jck_f"); val dim = fresh("jck_d"); fresh("jck_agg")
    TableFormat.commit(spark, facts,
      (0L until 300L).map(i => (i, i % 3, i % 2, i * 5 % 89))
        .toDF("doc_id", "lang_id", "era", "n"), 1, None, statsCol = Some("doc_id"))
    // the dim deliberately LACKS some (lang_id, era) cells: facts whose
    // tuple has no dim row must not join — a single-column join would
    // wrongly match them
    TableFormat.commit(spark, dim,
      Seq((0L, 0L, "en-old"), (0L, 1L, "en-new"), (1L, 0L, "fr-old"),
        (2L, 1L, "de-new"))
        .toDF("lang_id", "era", "label"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.jck_agg',
        |  'SELECT label, count(*) AS c, sum(n) AS s
        |   FROM graft.db.jck_f f JOIN graft.db.jck_d d
        |     ON f.lang_id = d.lang_id AND f.era = d.era
        |   GROUP BY label')""".stripMargin).collect()
    def recomputeJ: Seq[Row] = spark.sql(
      """SELECT label, count(1) AS c, CAST(sum(n) AS BIGINT) AS s
        |FROM graft.db.jck_f f JOIN graft.db.jck_d d
        |  ON f.lang_id = d.lang_id AND f.era = d.era
        |GROUP BY label ORDER BY label ASC NULLS FIRST""".stripMargin)
      .collect().toSeq
    def readJ: Seq[Row] = spark.sql(
      """SELECT label, c, s FROM graft.db.jck_agg
        |ORDER BY label ASC NULLS FIRST""".stripMargin).collect().toSeq
    assert(readJ == recomputeJ, "create over the composite join drifted")
    assert(!readJ.exists(_.getString(0) == "fr-new"),
      "a missing (lang_id, era) cell must not join")
    // ΔA (facts append + band delete) and ΔB (the dim GAINS the
    // (1, 1) cell — previously unmatched facts join in) in one span
    TableFormat.appendCommit(spark, facts,
      (300L until 400L).map(i => (i, i % 4, i % 2, i * 7 % 97))
        .toDF("doc_id", "lang_id", "era", "n"), statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, facts, "doc_id", 40L, 119L)
    TableFormat.appendCommit(spark, dim,
      Seq((1L, 1L, "fr-new")).toDF("lang_id", "era", "label"))
    spark.sql("CALL graft.system.refresh_mv('db.jck_agg')").collect()
    assert(readJ == recomputeJ, "two-sided composite-key delta drifted")
    assert(readJ.exists(_.getString(0) == "fr-new"),
      "the newly-matched composite cell must appear")
    // REWRITE: the key-pair SET matches in EITHER conjunct order and
    // either FROM order; a single-key subset of the pair stands down
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val q =
        """SELECT label, count(*) AS c, sum(n) AS s
          |FROM graft.db.jck_f f JOIN graft.db.jck_d d
          |  ON f.era = d.era AND f.lang_id = d.lang_id
          |GROUP BY label ORDER BY label ASC NULLS FIRST""".stripMargin
      val df = spark.sql(q)
      assert(df.queryExecution.optimizedPlan.toString.contains("jck_agg__state"),
        s"composite-key join rewrite not substituted:\n${df.queryExecution.optimizedPlan}")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(q).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(df.collect().toSeq == direct, "composite-key rewrite values diverged")
      val qf = q.replace("graft.db.jck_f f JOIN graft.db.jck_d d",
        "graft.db.jck_d d JOIN graft.db.jck_f f")
      assert(planOf(qf).contains("jck_agg__state"), s"flipped order:\n${planOf(qf)}")
      val qs =
        """SELECT label, count(*) AS c
          |FROM graft.db.jck_f f JOIN graft.db.jck_d d ON f.lang_id = d.lang_id
          |GROUP BY label""".stripMargin
      assert(planOf(qs).contains("jck_f"),
        "a single-key SUBSET of the composite pair must stand down")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("snowflake MVs: a three-table join chain maintains via the telescoping N-delta and serves from state under any FROM order or nesting (r16)") {
    val facts = fresh("sf_f"); val d1 = fresh("sf_d1"); val d2 = fresh("sf_d2")
    fresh("sf_agg")
    TableFormat.commit(spark, facts,
      (0L until 300L).map(i => (i, i % 4, i * 3 % 101))
        .toDF("doc_id", "lang_id", "n"), 1, None, statsCol = Some("doc_id"))
    TableFormat.commit(spark, d1,
      Seq((0L, 0L, "en"), (1L, 0L, "fr"), (2L, 1L, "de"))
        .toDF("lang_id", "region_id", "lang"), 1, None)
    TableFormat.commit(spark, d2,
      Seq((0L, "emea"), (1L, "dach")).toDF("region_id", "region"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.sf_agg',
        |  'SELECT region, lang, count(*) AS c, sum(n) AS s, min(n) AS mn
        |   FROM graft.db.sf_f f JOIN graft.db.sf_d1 l ON f.lang_id = l.lang_id
        |        JOIN graft.db.sf_d2 r ON l.region_id = r.region_id
        |   GROUP BY region, lang')""".stripMargin).collect()
    def recomputeS: Seq[Row] = spark.sql(
      """SELECT region, lang, count(1) AS c, CAST(sum(n) AS BIGINT) AS s,
        |  CAST(min(n) AS BIGINT) AS mn
        |FROM graft.db.sf_f f JOIN graft.db.sf_d1 l ON f.lang_id = l.lang_id
        |     JOIN graft.db.sf_d2 r ON l.region_id = r.region_id
        |GROUP BY region, lang ORDER BY region, lang""".stripMargin)
      .collect().toSeq
    def readS: Seq[Row] = spark.sql(
      """SELECT region, lang, c, s, mn FROM graft.db.sf_agg
        |ORDER BY region, lang""".stripMargin).collect().toSeq
    assert(readS == recomputeS, "snowflake create drifted")
    assert(!readS.exists(r => r.getString(1) == null),
      "unmatched lang_id=3 must not appear")
    // Δfacts only: append (incl. still-unmatched lang_id 4) + a band
    // delete that REMOVES binding minima → chain regroup
    TableFormat.appendCommit(spark, facts,
      (300L until 380L).map(i => (i, i % 5, i * 7 % 97))
        .toDF("doc_id", "lang_id", "n"), statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, facts, "doc_id", 0L, 39L)
    spark.sql("CALL graft.system.refresh_mv('db.sf_agg')").collect()
    assert(readS == recomputeS, "facts-only delta drifted")
    // Δd1 only: lang_id 3 gains a mapping → its facts join in through
    // BOTH hops
    TableFormat.appendCommit(spark, d1,
      Seq((3L, 1L, "it")).toDF("lang_id", "region_id", "lang"))
    spark.sql("CALL graft.system.refresh_mv('db.sf_agg')").collect()
    assert(readS == recomputeS, "mid-chain (d1) delta drifted")
    assert(readS.exists(_.getString(1) == "it"), "newly mapped lang missing")
    // ALL THREE change in ONE span — the telescoping identity: facts
    // append, d1 gains lang 4, d2 LOSES region 'dach' (group death
    // through two hops)
    TableFormat.appendCommit(spark, facts,
      (380L until 420L).map(i => (i, i % 5, i + 1))
        .toDF("doc_id", "lang_id", "n"), statsCol = Some("doc_id"))
    TableFormat.appendCommit(spark, d1,
      Seq((4L, 0L, "pt")).toDF("lang_id", "region_id", "lang"))
    TableFormat.deleteRowsDV(spark, d2,
      org.apache.spark.sql.functions.col("region") === "dach")
    spark.sql("CALL graft.system.refresh_mv('db.sf_agg')").collect()
    assert(readS == recomputeS, "three-sided span drifted")
    assert(!readS.exists(_.getString(0) == "dach"),
      "a region dying at the chain's far end must kill its groups")
    assert(readS.exists(_.getString(1) == "pt"))
    // ALL bookmarks advanced atomically with the state
    val props = TableFormat.manifest(spark,
      s"${graft.Tables.scratchDir}/graft_wh/db/sf_agg__state",
      TableFormat.currentVersion(spark,
        s"${graft.Tables.scratchDir}/graft_wh/db/sf_agg__state")).props
    assert(props("graft.mv.version").toInt ==
      TableFormat.currentVersion(spark, facts))
    assert(props("graft.mv.version2").toInt ==
      TableFormat.currentVersion(spark, d1))
    assert(props("graft.mv.version3").toInt ==
      TableFormat.currentVersion(spark, d2))
    // REWRITE: the snowflake aggregate serves from state regardless of
    // FROM order or join NESTING (the flattener normalizes both)
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    val q =
      """SELECT region, lang, count(*) AS c, sum(n) AS s
        |FROM graft.db.sf_f f JOIN graft.db.sf_d1 l ON f.lang_id = l.lang_id
        |     JOIN graft.db.sf_d2 r ON l.region_id = r.region_id
        |GROUP BY region, lang ORDER BY region, lang""".stripMargin
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val df = spark.sql(q)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("sf_agg__state"),
        s"snowflake rewrite not substituted:\n$plan")
      assert(!plan.contains("sf_f") && !plan.contains("sf_d1") &&
        !plan.contains("sf_d2"), s"sources still scanned:\n$plan")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(q).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(df.collect().toSeq == direct, "snowflake rewrite values diverged")
      // a RIGHT-NESTED, reordered FROM flattens to the same pair set
      val qn =
        """SELECT region, lang, count(*) AS c, sum(n) AS s
          |FROM graft.db.sf_d2 r JOIN
          |  (graft.db.sf_f f JOIN graft.db.sf_d1 l ON f.lang_id = l.lang_id)
          |  ON l.region_id = r.region_id
          |GROUP BY region, lang ORDER BY region, lang""".stripMargin
      assert(planOf(qn).contains("sf_agg__state"),
        s"nested/reordered FROM must still serve:\n${planOf(qn)}")
      assert(spark.sql(qn).collect().toSeq == direct)
      // a DIFFERENT key pair on one hop stands down
      val qk = q.replace("l.region_id = r.region_id",
        "l.lang_id = r.region_id")
      assert(planOf(qk).contains("sf_f"), "wrong hop key must stand down")
      // a two-table SUBSET of the chain stands down
      val qs =
        """SELECT lang, count(*) AS c
          |FROM graft.db.sf_f f JOIN graft.db.sf_d1 l ON f.lang_id = l.lang_id
          |GROUP BY lang""".stripMargin
      assert(planOf(qs).contains("sf_f"), "chain subset must stand down")
      // staleness on the FAR dim stands down; refresh restores — and
      // graft_mv_detail reports ONE ROW PER CHAIN SOURCE, flagging
      // exactly the stale one (r16)
      TableFormat.appendCommit(spark, d2,
        Seq((9L, "apac")).toDF("region_id", "region"))
      assert(planOf(q).contains("sf_f"), "third-source staleness must stand down")
      val det = spark.sql("SELECT src, stale FROM graft_mv_detail('db.sf_agg')")
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(det.size == 3 && det("db.sf_d2") && !det("db.sf_f") &&
        !det("db.sf_d1"), s"per-source staleness rows: $det")
      spark.sql("CALL graft.system.refresh_mv('db.sf_agg')").collect()
      assert(planOf(q).contains("sf_agg__state"))
      assert(spark.sql("SELECT stale FROM graft_mv_detail('db.sf_agg')")
        .collect().forall(!_.getBoolean(0)), "all sources fresh after refresh")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("bushy and right-deep MV definitions: any inner-equi-join tree flattens to the connectivity-ordered chain — maintains, refreshes, serves; disconnected trees refuse (r17, VERDICT r16 #6)") {
    // fact f ⋈ dim a ⋈ dim b, written RIGHT-DEEP and BUSHY — both must
    // compile to the same maintainable chain the left-deep form uses
    def seedTables(): Unit = {
      val fct = fresh("mv_bshf"); val da = fresh("mv_bsha"); val db = fresh("mv_bshb")
      TableFormat.commit(spark, fct,
        (0L until 200L).map(i =>
          (i, s"k${i % 5}", i % 11)).toDF("doc_id", "ka", "n"),
        1, None, statsCol = Some("doc_id"))
      TableFormat.commit(spark, da,
        (0 until 5).map(i => (s"k$i", s"g${i % 2}")).toDF("ka", "kb"),
        1, None)
      TableFormat.commit(spark, db,
        Seq(("g0", "Z0"), ("g1", "Z1")).toDF("kb", "zone"), 1, None)
    }
    def recomputeB: Seq[Row] = spark.sql(
      """SELECT zone, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
        |FROM graft.db.mv_bshf f JOIN graft.db.mv_bsha a ON f.ka = a.ka
        |     JOIN graft.db.mv_bshb b ON a.kb = b.kb
        |GROUP BY zone ORDER BY zone ASC NULLS FIRST""".stripMargin)
      .collect().toSeq
    def readB: Seq[Row] = spark.sql(
      """SELECT zone, n_docs, sum_n FROM graft.db.mv_bshagg
        |ORDER BY zone ASC NULLS FIRST""".stripMargin).collect().toSeq
    def lifecycle(defSql: String): Unit = {
      seedTables(); fresh("mv_bshagg")
      spark.sql(
        s"CALL graft.system.create_mv('db.mv_bshagg', '${defSql.replace("'", "''")}')")
        .collect()
      assert(readB == recomputeB, s"create drifted for: $defSql")
      // all three tables move; one refresh re-freshens the whole chain
      TableFormat.appendCommit(spark, s"$wh/db/mv_bshf",
        (200L until 260L).map(i => (i, s"k${i % 5}", i % 7))
          .toDF("doc_id", "ka", "n"), statsCol = Some("doc_id"))
      TableFormat.appendCommit(spark, s"$wh/db/mv_bsha",
        Seq(("k9", "g1")).toDF("ka", "kb"))
      TableFormat.deleteWhere(spark, s"$wh/db/mv_bshf", "doc_id", 50L, 119L)
      spark.sql("CALL graft.system.refresh_mv('db.mv_bshagg')").collect()
      assert(readB == recomputeB, s"refresh drifted for: $defSql")
      // the rewrite serves the flattened pair set regardless of the
      // definition's ORIGINAL shape
      spark.conf.set("spark.graft.mv.rewrite", "true")
      try {
        val q = spark.sql(
          """SELECT zone, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
            |FROM graft.db.mv_bshb b JOIN graft.db.mv_bsha a ON a.kb = b.kb
            |     JOIN graft.db.mv_bshf f ON f.ka = a.ka
            |GROUP BY zone ORDER BY zone ASC NULLS FIRST""".stripMargin)
        assert(q.queryExecution.optimizedPlan.toString.contains("mv_bshagg__state"),
          s"rewrite must serve the $defSql MV")
        assert(q.collect().toSeq == readB)
      } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    }
    // RIGHT-DEEP: f ⋈ (a ⋈ b)
    lifecycle(
      """SELECT zone, count(*) AS n_docs, sum(n) AS sum_n
        |FROM graft.db.mv_bshf f
        |  JOIN (graft.db.mv_bsha a JOIN graft.db.mv_bshb b ON a.kb = b.kb)
        |    ON f.ka = a.ka
        |GROUP BY zone""".stripMargin)
    // BUSHY with the cross-tree key in the outer ON: (f ⋈ a) ⋈ b
    // nested the other way round plus a two-conjunct outer condition
    lifecycle(
      """SELECT zone, count(*) AS n_docs, sum(n) AS sum_n
        |FROM (graft.db.mv_bshf f JOIN graft.db.mv_bsha a ON f.ka = a.ka)
        |  JOIN graft.db.mv_bshb b ON a.kb = b.kb
        |GROUP BY zone""".stripMargin)
    // disconnected tree (no key ties b in) refuses as a cartesian
    seedTables(); fresh("mv_bshagg")
    val e = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_bshagg',
        |  'SELECT zone, count(*) AS n_docs
        |   FROM graft.db.mv_bshf f
        |     JOIN graft.db.mv_bsha a ON f.ka = a.ka
        |     JOIN graft.db.mv_bshb b ON b.kb = b.kb
        |   GROUP BY zone')""".stripMargin).collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("disconnected") || chain(e).contains("does not tie"),
      chain(e))
  }

  test("CTE-bodied MV definitions: WITH defs inline at their reference — create/refresh/serve; aliasing, recursive, and column-subset CTEs refuse loudly (r17, VERDICT r16 #8)") {
    val src = fresh("mv_srcw"); fresh("mv_aggw")
    TableFormat.commit(spark, src,
      (0L until 300L).map(i =>
        (i, if (i % 3 == 0) "en" else "fr", i % 13))
        .toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    // a filtered CTE as the FROM source: the CTE's WHERE and the outer
    // WHERE conjoin into the stored predicate
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggw',
        |  'WITH filtered AS (SELECT * FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0)
        |   SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM filtered WHERE n > 1 GROUP BY lang')""".stripMargin).collect()
    def readW: Seq[Row] = spark.sql(
      """SELECT lang, n_docs, sum_n FROM graft.db.mv_aggw
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    def recomputeW: Seq[Row] = spark.sql(
      """SELECT lang, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_n
        |FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0 AND n > 1
        |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin)
      .collect().toSeq
    assert(readW == recomputeW, "CTE-bodied create drifted")
    // maintains through append + delete like any other MV
    TableFormat.appendCommit(spark, src,
      (300L until 360L).map(i => (i, "zz", i % 9)).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    TableFormat.deleteWhere(spark, src, "doc_id", 40L, 129L)
    spark.sql("CALL graft.system.refresh_mv('db.mv_aggw')").collect()
    assert(readW == recomputeW, "CTE-bodied refresh drifted")
    // the rewrite serves a matching query (the query side's own CTE
    // folding was already in place — both sides now meet in the middle)
    spark.conf.set("spark.graft.mv.rewrite", "true")
    try {
      val q = spark.sql(
        """WITH filtered AS (SELECT * FROM graft.db.mv_srcw WHERE doc_id % 5 <> 0)
          |SELECT lang, count(*) AS n_docs FROM filtered WHERE n > 1
          |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin)
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_aggw__state"),
        "a CTE-shaped query must serve from the CTE-defined MV")
      assert(q.collect().toSeq == readW.map(r => Row(r.get(0), r.get(1))))
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    // bare-table CTEs as JOIN leaves inline under their alias
    val dim = fresh("mv_srcwd"); fresh("mv_aggw2")
    TableFormat.commit(spark, dim,
      Seq(("en", "E"), ("fr", "F"), ("zz", "Z")).toDF("lang", "region"), 1, None)
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggw2',
        |  'WITH f AS (SELECT * FROM graft.db.mv_srcw)
        |   SELECT region, count(*) AS n_docs
        |   FROM f JOIN graft.db.mv_srcwd d ON f.lang = d.lang
        |   GROUP BY region')""".stripMargin).collect()
    assert(spark.sql("SELECT region, n_docs FROM graft.db.mv_aggw2 ORDER BY region")
      .collect().toSeq ==
      spark.sql(
        """SELECT region, count(1) AS n_docs
          |FROM graft.db.mv_srcw f JOIN graft.db.mv_srcwd d ON f.lang = d.lang
          |GROUP BY region ORDER BY region""".stripMargin).collect().toSeq,
      "CTE join leaf drifted")
    // refusals: column-aliasing, recursive, column-subset CTEs
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    fresh("mv_aggw3")
    val e1 = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggw3',
        |  'WITH x(a, b, c) AS (SELECT * FROM graft.db.mv_srcw)
        |   SELECT a, count(*) AS n FROM x GROUP BY a')""".stripMargin).collect())
    assert(chain(e1).contains("renames its columns"), chain(e1))
    val e2 = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggw3',
        |  'WITH x AS (SELECT doc_id, lang FROM graft.db.mv_srcw)
        |   SELECT lang, count(*) AS n FROM x GROUP BY lang')""".stripMargin).collect())
    assert(chain(e2).contains("SELECT *"), chain(e2))
  }

  test("aggregates over expressions: SUM/AVG/MIN/COUNT(DISTINCT) of derived scalars maintain and serve — the TPC-H Q1 shape (r16)") {
    val src = fresh("mv_srcq"); fresh("mv_aggq")
    val rows = (0L until 500L).map(i => (i, s"l${i % 3}", i * 3 % 97, i % 13))
    TableFormat.commit(spark, src, rows.toDF("doc_id", "lang", "n", "m"), 1, None,
      statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggq',
        |  'SELECT lang, count(*) AS c, sum(n * (m % 3 + 1)) AS wsum,
        |          avg(n + m) AS anm, min(n + m) AS mn,
        |          count(DISTINCT n % 10) AS d10
        |   FROM graft.db.mv_srcq WHERE doc_id % 5 <> 0 GROUP BY lang')""".stripMargin)
      .collect()
    def recomputeQ: Seq[Row] = spark.sql(
      """SELECT lang, count(1) AS c,
        |  CAST(sum(n * (m % 3 + 1)) AS BIGINT) AS wsum,
        |  CAST(sum(CAST(n + m AS BIGINT)) AS DOUBLE) / count(n + m) AS anm,
        |  CAST(min(n + m) AS BIGINT) AS mn,
        |  count(DISTINCT n % 10) AS d10
        |FROM graft.db.mv_srcq WHERE doc_id % 5 <> 0
        |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    def readQ: Seq[Row] = spark.sql(
      """SELECT lang, c, wsum, anm, mn, d10 FROM graft.db.mv_aggq
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    assert(readQ == recomputeQ, "create over expression inputs drifted")
    // insert fold: new group + existing groups through computed inputs
    TableFormat.appendCommit(spark, src,
      (500L until 620L).map(i => (i, s"l${i % 4}", i * 7 % 89, i % 11))
        .toDF("doc_id", "lang", "n", "m"), statsCol = Some("doc_id"))
    spark.sql("CALL graft.system.refresh_mv('db.mv_aggq')").collect()
    assert(readQ == recomputeQ, "insert fold over expression inputs drifted")
    // a band delete removes binding minima AND distinct values: the
    // targeted regroup rescans with the computed inputs projected
    TableFormat.deleteWhere(spark, src, "doc_id", 0L, 99L)
    spark.sql("CALL graft.system.refresh_mv('db.mv_aggq')").collect()
    assert(readQ == recomputeQ, "regroup through computed inputs drifted")
    // REWRITE: the SAME expression in the query's aggregate serves from
    // state; a DIFFERENT expression stands down
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val q =
        """SELECT lang, sum(n * (m % 3 + 1)) AS s, count(*) AS c
          |FROM graft.db.mv_srcq WHERE doc_id % 5 <> 0
          |GROUP BY lang ORDER BY lang""".stripMargin
      val df = spark.sql(q)
      assert(df.queryExecution.optimizedPlan.toString.contains("mv_aggq__state"),
        s"expr-input rewrite not substituted:\n${df.queryExecution.optimizedPlan}")
      val direct = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try spark.sql(q).collect().toSeq
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      assert(df.collect().toSeq == direct, "expr-input rewrite values diverged")
      // global roll-up re-sums the expression aggregate
      val qg =
        """SELECT sum(n * (m % 3 + 1)) AS s FROM graft.db.mv_srcq
          |WHERE doc_id % 5 <> 0""".stripMargin
      assert(planOf(qg).contains("mv_aggq__state"), s"expr roll-up:\n${planOf(qg)}")
      // a different expression must stand down
      assert(planOf(q.replace("% 3 + 1", "% 4 + 1")).contains("mv_srcq"),
        "different input expression must stand down")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
    // refusals: float-typed expression input, non-deterministic input
    fresh("mv_aggq2")
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    val eF = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggq2',
        |  'SELECT lang, sum(n * 0.5) AS s FROM graft.db.mv_srcq
        |   GROUP BY lang')""".stripMargin).collect())
    assert(chain(eF).contains("integral"), chain(eF))
    val eN = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_aggq2',
        |  'SELECT lang, sum(n + CAST(rand() * 2 AS INT)) AS s
        |   FROM graft.db.mv_srcq GROUP BY lang')""".stripMargin).collect())
    assert(chain(eN).contains("non-deterministic"), chain(eN))
  }

  test("shape refusals name the offending construct") {
    val src = fresh("mv_src5"); fresh("mv_agg5")
    TableFormat.commit(spark, src,
      Seq((1L, "en", 1.5, 2L)).toDF("doc_id", "lang", "d", "n"), 1, None)
    def refused(q: String, needle: String): Unit = {
      val e = intercept[Exception](
        spark.sql(s"CALL graft.system.create_mv('db.mv_agg5', '$q')").collect())
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
      assert(chain(e).contains(needle), s"wanted '$needle' in: ${chain(e)}")
    }
    refused("SELECT lang, sum(d) AS s FROM graft.db.mv_src5 GROUP BY lang",
      "integral-only")
    // AVG is supported since r13 — but only over integral columns, the
    // same exactness contract as SUM
    refused("SELECT lang, avg(d) AS m FROM graft.db.mv_src5 GROUP BY lang",
      "integral-only")
    refused("SELECT lang, min(d) AS m FROM graft.db.mv_src5 GROUP BY lang",
      "integral or string")
    // COUNT(DISTINCT integral) is supported since r15 (bitmap state) —
    // other DISTINCT aggregates and non-integral distinct columns refuse
    refused("SELECT lang, sum(DISTINCT n) AS c FROM graft.db.mv_src5 GROUP BY lang",
      "only COUNT(DISTINCT col)")
    refused("SELECT lang, count(DISTINCT d) AS c FROM graft.db.mv_src5 GROUP BY lang",
      "integral or string column")
    // expression dims are SUPPORTED since r16 when aliased in the
    // SELECT list — the refusals move to the unsupported corners:
    refused("SELECT lang, count(*) AS c FROM graft.db.mv_src5 GROUP BY lang || lang",
      "no matching SELECT alias")
    refused("SELECT substr(lang, 1, CAST(rand() * 2 AS INT)) AS l2, count(*) AS c FROM graft.db.mv_src5 GROUP BY l2",
      "non-deterministic")
    refused("SELECT CAST(sum(n) AS STRING) AS l2, count(*) AS c FROM graft.db.mv_src5 GROUP BY l2",
      "aggregate, window")
    // joins are SUPPORTED since r13 — a self-join's fully-overlapping
    // namespace hits the ambiguity refusal instead
    refused("SELECT lang, count(*) AS c FROM graft.db.mv_src5 a JOIN graft.db.mv_src5 b ON a.doc_id = b.doc_id GROUP BY lang",
      "shares column")
    // three-table chains are SUPPORTED since r16 (snowflake MVs) —
    // a three-way SELF-join hits the same ambiguity refusal
    refused("SELECT lang, count(*) AS c FROM graft.db.mv_src5 a JOIN graft.db.mv_src5 b ON a.doc_id = b.doc_id JOIN graft.db.mv_src5 c ON b.doc_id = c.doc_id GROUP BY lang",
      "shares column")
    // right-nested trees are ACCEPTED since r17 (flattened in
    // connectivity order) — this self-join one still refuses, but at
    // the column-namespace check, where the real problem is
    refused("SELECT lang, count(*) AS c FROM graft.db.mv_src5 a JOIN (graft.db.mv_src5 b JOIN graft.db.mv_src5 c ON b.doc_id = c.doc_id) ON a.doc_id = b.doc_id GROUP BY lang",
      "shares column")
  }

  test("streaming maintenance: a foreachBatch loop over the table stream keeps the MV continuous") {
    val src = fresh("mv_src7"); fresh("mv_agg7")
    val ck = fresh("mv_src7_ck")
    TableFormat.commit(spark, src,
      (0L until 40L).map(i => (i, if (i % 2 == 0) "en" else "fr", i)).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg7',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_src7 GROUP BY lang')""".stripMargin).collect()
    // the stream is the change SIGNAL; the CDF bookmark inside refresh is
    // the exactly-once ledger — a replayed batch re-runs refresh, which
    // sees the bookmark already advanced and no-ops
    val q = spark.readStream.format("graft-table").option("path", src)
      .option("readChangeFeed", "true").load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        MaterializedView.refresh(spark, s"$wh", s"$wh/db/mv_agg7"); ()
      }.start()
    try {
      q.processAllAvailable()
      TableFormat.appendCommit(spark, src,
        (100L until 120L).map(i => (i, "zz", i)).toDF("doc_id", "lang", "n"),
        statsCol = Some("doc_id"))
      q.processAllAvailable()
      assert(mvRead("graft.db.mv_agg7") == recompute("graft.db.mv_src7", ""))
      // merge-on-read delete: the streamable delete form (dv commits emit
      // CDF rows; a CoW rewrite would refuse the change feed)
      spark.conf.set("spark.graft.delete.mode", "merge-on-read")
      try spark.sql("DELETE FROM graft.db.mv_src7 WHERE doc_id BETWEEN 100 AND 119")
      finally spark.conf.unset("spark.graft.delete.mode")
      q.processAllAvailable()
      assert(mvRead("graft.db.mv_agg7") == recompute("graft.db.mv_src7", ""))
      assert(mvRead("graft.db.mv_agg7").map(_.getString(0)) == Seq("en", "fr"),
        "streamed delete must kill the zz group")
    } finally q.stop()
  }

  test("MIN/MAX: inserts fold; non-binding deletes fold; binding deletes regroup targeted") {
    val src = fresh("mv_src9"); fresh("mv_agg9")
    TableFormat.commit(spark, src,
      ((0L until 40L).map(i => (i, "en", i + 100L)) ++
       (100L until 140L).map(i => (i, "fr", i))).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg9',
        |  'SELECT lang, count(*) AS n_docs, min(n) AS min_n, max(n) AS max_n
        |   FROM graft.db.mv_src9 GROUP BY lang')""".stripMargin).collect()
    def recomputeMm() = spark.sql(
      """SELECT lang, count(1) AS n_docs, CAST(min(n) AS BIGINT) AS min_n,
        |  CAST(max(n) AS BIGINT) AS max_n
        |FROM graft.db.mv_src9 GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    def mvMm() = spark.sql(
      """SELECT lang, n_docs, min_n, max_n FROM graft.db.mv_agg9
        |ORDER BY lang ASC NULLS FIRST""".stripMargin).collect().toSeq
    // 1) INSERT-only span: extrema fold, zero regrouped groups
    TableFormat.appendCommit(spark, src,
      Seq((200L, "en", 50L), (201L, "fr", 999L)).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    val r1 = spark.sql("CALL graft.system.refresh_mv('db.mv_agg9')").head
    assert(r1.getLong(4) == 0L, s"insert-only span regrouped: $r1")
    assert(mvMm() == recomputeMm())
    // 2) NON-BINDING delete (doc 120 holds n=120, strictly inside both
    //    extrema of fr = [100, 999]) — the sharp condition proves the
    //    extrema survived: still zero regrouped
    TableFormat.deleteWhere(spark, src, "doc_id", 120L, 120L)
    val r2 = spark.sql("CALL graft.system.refresh_mv('db.mv_agg9')").head
    assert(r2.getLong(4) == 0L, s"non-binding delete regrouped: $r2")
    assert(mvMm() == recomputeMm())
    // 3) BINDING delete: doc 200 holds en's min (50) — exactly one group
    //    recomputes, and only that group's rows rescan the source
    TableFormat.deleteWhere(spark, src, "doc_id", 200L, 200L)
    val r3 = spark.sql("CALL graft.system.refresh_mv('db.mv_agg9')").head
    assert(r3.getLong(4) == 1L, s"binding delete should regroup exactly en: $r3")
    assert(mvMm() == recomputeMm())
  }

  test("graft_mv_detail reports staleness from pure metadata") {
    val src = fresh("mv_srcA"); fresh("mv_aggA")
    TableFormat.commit(spark, src, Seq((1L, "en", 1L), (2L, "fr", 2L))
      .toDF("doc_id", "lang", "n"), 1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggA',
        |  'SELECT lang, count(*) AS n_docs FROM graft.db.mv_srcA GROUP BY lang')"""
        .stripMargin).collect()
    val fresh0 = spark.sql("SELECT * FROM graft_mv_detail('db.mv_aggA')").head
    assert(fresh0.getAs[String]("src") == "db.mv_srcA")
    assert(!fresh0.getAs[Boolean]("stale") && fresh0.getAs[Long]("n_groups") == 2L)
    assert(fresh0.getAs[Boolean]("serving"), "fresh MV must report serving")
    TableFormat.appendCommit(spark, src,
      Seq((3L, "de", 3L)).toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    val stale = spark.sql("SELECT * FROM graft_mv_detail('db.mv_aggA')").head
    assert(stale.getAs[Boolean]("stale") &&
      stale.getAs[Int]("src_version_applied") == 1 &&
      stale.getAs[Int]("src_version_current") == 2)
    // serving == the rewrite's freshness gate — cross-checked against
    // graft_mv_explain's verdict for a matching query (r17)
    assert(!stale.getAs[Boolean]("serving"), "stale MV must not serve")
    assert(spark.sql(
      """SELECT reason FROM graft_mv_explain(
        |  'SELECT lang, count(*) AS n_docs FROM graft.db.mv_srcA GROUP BY lang')
        |WHERE mv = 'db.mv_aggA'""".stripMargin).head.getString(0)
      .startsWith("stale-bookmark"), "explain must agree with serving=false")
    spark.sql("CALL graft.system.refresh_mv('db.mv_aggA')").collect()
    val after = spark.sql("SELECT * FROM graft_mv_detail('db.mv_aggA')").head
    assert(!after.getAs[Boolean]("stale") && after.getAs[Long]("n_groups") == 3L)
    assert(after.getAs[Boolean]("serving"))
    assert(spark.sql(
      """SELECT status FROM graft_mv_explain(
        |  'SELECT lang, count(*) AS n_docs FROM graft.db.mv_srcA GROUP BY lang')
        |WHERE mv = 'db.mv_aggA'""".stripMargin).head.getString(0)
      == "would_serve", "explain must agree with serving=true")
  }

  test("graft_mv_explain names the first standdown reason per candidate — the matcher's own probe chain surfaced (r17, VERDICT r16 #3)") {
    val src = fresh("mv_srcE"); fresh("mv_aggE")
    TableFormat.commit(spark, src,
      (Seq((1L, "en", 5L), (2L, "fr", 7L), (3L, "en", 9L))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggE',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_srcE WHERE doc_id > 0 GROUP BY lang')""".stripMargin)
      .collect()
    def reasonFor(q: String): String = {
      val rows = spark.sql(
        s"SELECT status, reason FROM graft_mv_explain('${q.replace("'", "''")}') " +
          "WHERE mv = 'db.mv_aggE'").collect()
      assert(rows.length == 1, s"want one probe row, got ${rows.toSeq}")
      if (rows.head.getString(0) == "would_serve") "would_serve"
      else rows.head.getString(1)
    }
    val serveQ =
      "SELECT lang, count(*) AS c FROM graft.db.mv_srcE WHERE doc_id > 0 GROUP BY lang"
    // flag OFF: the note row says so, and probes still run
    val note = spark.sql(
      s"SELECT status, reason FROM graft_mv_explain('${serveQ.replace("'", "''")}')")
      .collect()
    assert(note.exists(r => r.getString(0) == "note" &&
      r.getString(1).contains("spark.graft.mv.rewrite=false")),
      s"flag-off note missing: ${note.toSeq}")
    assert(reasonFor(serveQ) == "would_serve")
    // one named reason per standdown class
    assert(reasonFor(
      "SELECT doc_id, count(*) AS c FROM graft.db.mv_srcE WHERE doc_id > 0 GROUP BY doc_id")
      .startsWith("dims-mismatch"), "grouping on a non-dim")
    assert(reasonFor(
      "SELECT lang, count(*) AS c FROM graft.db.mv_srcE GROUP BY lang")
      .startsWith("filter-mismatch"), "query WHERE lacks the MV predicate")
    assert(reasonFor(
      "SELECT lang, count(*) AS c FROM graft.db.mv_srcE WHERE doc_id > 0 AND n > 3 GROUP BY lang")
      .startsWith("residual-not-dim-only"), "extra conjunct over a non-dim")
    assert(reasonFor(
      "SELECT lang, approx_count_distinct(n) AS a FROM graft.db.mv_srcE WHERE doc_id > 0 GROUP BY lang")
      .startsWith("agg-unmatched"), "HLL++ approx_count_distinct stands down")
    // staleness names the gap and the cure
    TableFormat.appendCommit(spark, src,
      (Seq((9L, "de", 1L)): Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      statsCol = Some("doc_id"))
    val staleR = reasonFor(serveQ)
    assert(staleR.startsWith("stale-bookmark") && staleR.contains("refresh_mv"),
      staleR)
    spark.sql("CALL graft.system.refresh_mv('db.mv_aggE')").collect()
    assert(reasonFor(serveQ) == "would_serve")
    // query-level standdowns come back as one mv-NULL row
    val noCand = spark.sql(
      """SELECT status, reason FROM graft_mv_explain(
        |  'SELECT count(*) AS c FROM range(3)')""".stripMargin).collect()
      .filter(_.getString(0) == "standdown")
    assert(noCand.length == 1 && noCand.head.getString(1).startsWith("query-shape"),
      noCand.toSeq.toString)
    // non-aggregate query: explicit no-servable-shape row
    val nonAgg = spark.sql(
      """SELECT status, reason FROM graft_mv_explain(
        |  'SELECT * FROM graft.db.mv_srcE')""".stripMargin).collect()
      .filter(_.getString(0) == "standdown")
    assert(nonAgg.length == 1 && nonAgg.head.getString(1).contains("no servable"),
      nonAgg.toSeq.toString)
  }

  test("graft_mv_explain covers DISTINCT-shaped queries: would_serve + chosen on the dim dropdown, named standdowns for non-dim and DISTINCT *, query-shape for keyed shapes (r18, VERDICT r17 #8)") {
    val src = fresh("mv_srcxd"); fresh("mv_aggxd")
    TableFormat.commit(spark, src,
      ((0L until 90L).map(i => (i, if (i % 3 == 0) "en" else "fr", i % 7))
        : Seq[(Long, String, Long)]).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_aggxd',
        |  'SELECT lang, count(*) AS n_docs
        |   FROM graft.db.mv_srcxd GROUP BY lang')""".stripMargin).collect()
    def explain(q: String): Seq[(String, String, String, Boolean)] =
      spark.sql(s"SELECT mv, status, reason, chosen FROM graft_mv_explain('$q')")
        .collect().toSeq.map(r =>
          (if (r.isNullAt(0)) null else r.getString(0), r.getString(1),
           r.getString(2), r.getBoolean(3)))
    // the filter-dropdown query: Distinct(Project) probes the SAME
    // chain the rewrite runs — would_serve, and chosen marks it
    val serve = explain("SELECT DISTINCT lang FROM graft.db.mv_srcxd")
    assert(serve.exists(r => r._1 == "db.mv_aggxd" &&
      r._2 == "would_serve" && r._4), s"dim DISTINCT must probe would_serve: $serve")
    // non-dim column: named dims-mismatch, never a silent NULL row
    val nonDim = explain("SELECT DISTINCT doc_id FROM graft.db.mv_srcxd")
    assert(nonDim.exists(r => r._1 == "db.mv_aggxd" && r._2 == "standdown" &&
      r._3.startsWith("dims-mismatch")), s"non-dim DISTINCT: $nonDim")
    // DISTINCT * carries non-dim columns: same named standdown
    val star = explain("SELECT DISTINCT * FROM graft.db.mv_srcxd")
    assert(star.exists(r => r._1 == "db.mv_aggxd" && r._2 == "standdown" &&
      r._3.startsWith("dims-mismatch")), s"DISTINCT *: $star")
    // a query with NO servable node gets the query-level NULL-mv row
    val shapeless = explain("SELECT doc_id, lang FROM graft.db.mv_srcxd")
      .filterNot(_._2 == "note") // the flag-off advisory row
    assert(shapeless == Seq((null, "standdown",
      "query-shape: no servable aggregate node (GROUP BY aggregate, " +
        "SELECT DISTINCT, or whole-row distinct) in the query", false)),
      s"shapeless query must report the NULL-mv query-shape row: $shapeless")
    // keyed dropDuplicates keeps whole rows — never rewritten (the
    // DataFrame-only shape; its SQL spellings are the cases above)
    try {
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val keyed = spark.sql("SELECT lang, doc_id FROM graft.db.mv_srcxd")
        .dropDuplicates("lang")
      assert(keyed.queryExecution.optimizedPlan.toString.contains("mv_srcxd"),
        "keyed dropDuplicates must keep scanning the source")
      // whole-output dedup IS SELECT DISTINCT — serves
      val whole = spark.sql("SELECT lang FROM graft.db.mv_srcxd").distinct()
      assert(whole.queryExecution.optimizedPlan.toString.contains("mv_aggxd__state"),
        "whole-output distinct() must serve from state")
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("drop_mv removes view + state together; the name re-creates cleanly") {
    val src = fresh("mv_src8"); fresh("mv_agg8")
    TableFormat.commit(spark, src, Seq((1L, "en", 1L)).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg8',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_src8 GROUP BY lang')""".stripMargin).collect()
    // a second create on the live name refuses
    intercept[Exception](spark.sql(
      """CALL graft.system.create_mv('db.mv_agg8',
        |  'SELECT lang, count(*) AS n_docs FROM graft.db.mv_src8 GROUP BY lang')"""
        .stripMargin).collect())
    val d = spark.sql("CALL graft.system.drop_mv('db.mv_agg8')").head
    assert(d.getBoolean(0) && d.getBoolean(1))
    intercept[Exception](spark.sql("SELECT * FROM graft.db.mv_agg8").collect())
    // and the name is free again (even after a HALF-dropped leftover)
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg8',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_src8 GROUP BY lang')""".stripMargin).collect()
    assert(mvRead("graft.db.mv_agg8") == recompute("graft.db.mv_src8", ""))
  }

  test("refresh refuses a source restored behind the bookmark") {
    val src = fresh("mv_src6"); fresh("mv_agg6")
    TableFormat.commit(spark, src, Seq((1L, "en", 1L)).toDF("doc_id", "lang", "n"),
      1, None, statsCol = Some("doc_id"))
    TableFormat.appendCommit(spark, src,
      Seq((2L, "fr", 2L)).toDF("doc_id", "lang", "n"), statsCol = Some("doc_id"))
    spark.sql(
      """CALL graft.system.create_mv('db.mv_agg6',
        |  'SELECT lang, count(*) AS n_docs, sum(n) AS sum_n
        |   FROM graft.db.mv_src6 GROUP BY lang')""".stripMargin).collect()
    // restore src to v1: applied history rewritten under the MV
    spark.sql("CALL graft.system.restore('db.mv_src6', 1)").collect()
    // restore PUBLISHES v3 (a new commit) — the bookmark at 2 is now in
    // a history whose v2 content was logically rewound; refresh must
    // still produce the recompute (restore emits full-diff CDF) …
    spark.sql("CALL graft.system.refresh_mv('db.mv_agg6')").collect()
    assert(mvRead("graft.db.mv_agg6") == recompute("graft.db.mv_src6", ""))
  }
}

package graft.operators

import graft.SparkTestBase

/** Plan-shape audits (r5): the properties that make queries scale are
  * claims about the PHYSICAL PLAN, not the output — pin them so a
  * refactor that silently drops a pushdown, flips a broadcast side, or
  * reintroduces an interpreted UDF fails the suite, not a 100 TB run.
  * (Complements the per-operator pins in OperatorSpecs/LlmExtSpecs —
  * this file sweeps the hot paths in one place.) */
class PlanAuditSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter_pred: predicates are pushed into the parquet scan") {
    val p = plan(RelationalOps.filterPred(spark, sfDir))
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.replaceAll("PushedFilters: \\[\\]", "").contains("PushedFilters: []")
      || p.contains("GreaterThan") || p.contains("IsNotNull"),
      s"no predicate reached the scan:\n$p")
  }

  test("project_select: scan reads only the projected columns") {
    val p = plan(RelationalOps.projectSelect(spark, sfDir))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.nonEmpty, s"no ReadSchema in plan:\n$p")
    // lineitem has 11 columns; the projection must prune to a strict subset
    assert(read.split(",").length <= 5, s"column pruning lost: ReadSchema=$read")
  }

  test("agg_hash: hash aggregation is two-phase (map-side partial combine)") {
    val p = plan(Aggregates.aggHash(spark, sfDir))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), s"no partial (map-side) aggregation phase:\n$p")
  }

  test("sim_topk / sim_knn_graph: probe side is the broadcast side, no ScalaUDF") {
    Seq(LlmOps.simTopk(spark, sfDir), CorpusOps.simKnnGraph(spark, sfDir)).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("ScalaUDF"), s"interpreted UDF in a similarity hot path:\n$p")
    }
  }

  test("mv_rewrite_rollup: the substituted state scan prunes to the referenced columns; the source never scans (r15)") {
    val df = graft.sources.GraftCatalogOps.mvRewriteRollup(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("mvru_src"), s"source scanned despite the rewrite:\n$p")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.nonEmpty, s"no ReadSchema in plan:\n$p")
    // the global roll-up needs exactly 5 state columns (sum, min,
    // hidden avg sum/count, __cnt) — dims and the other hidden
    // bookkeeping must prune away
    assert(read.split(",").length <= 5, s"state scan not pruned: ReadSchema=$read")
    assert(p.contains("partial_"), s"roll-up lost map-side partials:\n$p")
  }

  test("r17 MV serving plans: var/stddev, dict-distinct, and outer substitutions scan ONLY state, keep map-side partials, and carry no ScalaUDF") {
    // mv_rewrite_var: both the per-lang serve and the global power-sum
    // roll-up substituted — the source never scans, the roll-up keeps
    // two-phase aggregation, nothing interpreted on the path
    val vdf = graft.sources.GraftCatalogOps.mvRewriteVar(spark, sfDir)
    val vp = plan(vdf)
    assert(!vp.contains("mvrv_src"), s"var source scanned despite the rewrite:\n$vp")
    assert(vp.contains("partial_"), s"var roll-up lost map-side partials:\n$vp")
    assert(!vp.contains("ScalaUDF"), s"interpreted UDF on the var serve path:\n$vp")
    // dict-distinct roll-up: the global count(DISTINCT string) re-derives
    // through the bitmap-OR aggregate over state — no source scan, no
    // re-shuffle of strings (the bitmap maps are the shuffle payload)
    graft.sources.GraftCatalogOps.mvDistinctStr(spark, sfDir).count()
    spark.conf.set("spark.graft.mv.rewrite", "true")
    try {
      val g = spark.sql("SELECT count(DISTINCT source) AS d FROM graft.db.mvds_src")
      // substitution names live in the OPTIMIZED plan (the executed
      // plan prints V1 state scans without their path)
      val gOpt = g.queryExecution.optimizedPlan.toString
      assert(gOpt.contains("mvds_agg__state") && !gOpt.contains("mvds_src"),
        s"dict roll-up must read state only:\n$gOpt")
      val gp = plan(g)
      assert(gp.contains("partial_bitmap_map_distinct"),
        s"dict roll-up must OR the stored bitmaps with map-side partials:\n$gp")
      assert(!gp.contains("ScalaUDF"), s"interpreted UDF on the dict path:\n$gp")
      // outer MV serve: state scan only (optimized-plan names)
      graft.sources.GraftCatalogOps.mvOuter(spark, sfDir).count()
      val oq = spark.sql(
        """SELECT region, count(*) AS c
          |FROM graft.db.mvlo_src f LEFT JOIN graft.db.mvlo_dim d
          |  ON f.lang = d.lang GROUP BY region""".stripMargin)
      val oOpt = oq.queryExecution.optimizedPlan.toString
      assert(oOpt.contains("mvlo_agg__state") && !oOpt.contains("mvlo_src"),
        s"outer serve must scan only state:\n$oOpt")
      assert(!plan(oq).contains("ScalaUDF"),
        s"interpreted UDF on the outer serve path:\n${plan(oq)}")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("r18 MV quantile serving plans: exact-dim probe is a pure state projection; the roll-up merges sketches with map-side partials; no ScalaUDF") {
    graft.sources.GraftCatalogOps.mvApproxPct(spark, sfDir).count()
    spark.conf.set("spark.graft.mv.rewrite", "true")
    try {
      // exact dims: the quantile probe is a SCALAR over the state's
      // stored sketch column — a projection on the |groups|-row scan,
      // no re-aggregation at all
      val q = spark.sql(
        """SELECT lang, kll_quantile(kll_agg(n_chars), 0.99D) AS p99
          |FROM graft.db.mvpx_src GROUP BY lang""".stripMargin)
      val qOpt = q.queryExecution.optimizedPlan.toString
      assert(qOpt.contains("mvpx_agg__state") && !qOpt.contains("mvpx_src"),
        s"quantile serve must scan only state:\n$qOpt")
      val qp = plan(q)
      assert(!qp.contains("ScalaUDF"), s"interpreted UDF on the path:\n$qp")
      // roll-up: per-group sketches MERGE to the global grain through a
      // partial_kll_merge (sketches are the shuffle payload, never rows)
      val g = spark.sql(
        "SELECT kll_quantile(kll_agg(n_chars), 0.5D) AS p50 FROM graft.db.mvpx_src")
      val gOpt = g.queryExecution.optimizedPlan.toString
      assert(gOpt.contains("mvpx_agg__state") && !gOpt.contains("mvpx_src"),
        s"quantile roll-up must scan only state:\n$gOpt")
      val gp = plan(g)
      assert(gp.contains("partial_kll_merge"),
        s"quantile roll-up lost map-side sketch partials:\n$gp")
      assert(!gp.contains("ScalaUDF"), s"interpreted UDF on the path:\n$gp")
    } finally spark.conf.set("spark.graft.mv.rewrite", "false")
  }

  test("equality-delete reads: masks apply as BROADCAST anti-joins, never a shuffle of the table (r15)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = s"${graft.Tables.scratchDir}/pa_eqdel"
    val fp = new org.apache.hadoop.fs.Path(base)
    fp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fp, true)
    TableFormat.commit(spark, base,
      (0L until 2000L).map(i => (i, s"r$i")).toDF("k", "v"), 1, None,
      statsCol = Some("k"), clusterFiles = Some(4))
    TableFormat.deleteByKeysEq(spark, base, (100L until 150L).toDF("k"), "k")
    TableFormat.appendCommit(spark, base,
      Seq((120L, "re")).toDF("k", "v"), statsCol = Some("k"))
    TableFormat.deleteByKeysEq(spark, base, Seq(120L, 500L).toDF("k"), "k")
    val df = TableFormat.readSnapshot(spark, base).filter(col("k") < 1000L)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"eq masks did not plan as broadcast anti-joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"an eq mask shuffled the table side:\n$p")
    // 1000 originals under k<1000, minus 50 (100..149) minus 500; the
    // re-inserted 120 is masked by the SECOND delete (version scoping)
    assert(df.count() == 949)
  }

  test("text_tfidf: vocabulary-side joins are broadcast (no shuffle of the tf table for df)") {
    val p = plan(CorpusOps.textTfidf(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
  }

  test("heavy hitters: candidate gate join is broadcast; no full-vocab shuffle before the gate") {
    val p = plan(CorpusOps.aggHeavyHitters(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"candidate semi-gate not broadcast:\n$p")
  }

  test("join_broadcast: small dim actually broadcasts; join_bucketed carries no Exchange") {
    assert(plan(Joins.joinBroadcast(spark, sfDir)).contains("BroadcastHashJoin"))
    val bucketed = plan(ScaleJoins.joinBucketed(spark, sfDir))
    val joinIdx = bucketed.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"bucketed join must sort-merge:\n$bucketed")
    // bucketed tables co-locate: no Exchange may feed the SMJ
    assert(!bucketed.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"bucketed read re-shuffled:\n$bucketed")
  }

  test("embed ops are map-only: no Exchange in normalize/quantize plans") {
    Seq(EmbeddingOps.embedNormalize(spark, sfDir), EmbeddingOps.embedQuantize(spark, sfDir))
      .foreach { df =>
        val p = plan(df)
        // the final orderBy introduces one rangepartitioning exchange for
        // output determinism; the TRANSFORM itself must not shuffle
        assert(!p.contains("Exchange hashpartitioning"), s"map-only op shuffled:\n$p")
      }
  }

  test("cache_reuse: both aggregate branches read the in-memory columnar cache") {
    val p = plan(RelationalOps.cacheReuse(spark, sfDir))
    val hits = "InMemoryTableScan".r.findAllIn(p).length
    assert(hits >= 2, s"expected both union branches on InMemoryTableScan, found $hits:\n$p")
  }

  test("sink_clustered: output files cover disjoint shipdate ranges") {
    import org.apache.spark.sql.functions._
    RelationalOps.sinkClustered(spark, sfDir).collect() // materialize the sink
    val perFile = spark.read.parquet(s"${graft.Tables.scratchDir}/clustered_sink")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_shipdate").cast("string")).as("lo"),
           max(col("l_shipdate").cast("string")).as("hi"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(perFile.length >= 2, "range repartition produced a single file")
    perFile.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"file ranges overlap: $hi > $lo — clustering lost")
    }
  }

  test("graph_pagerank: mass conservation and damping floor hold") {
    val rows = CorpusOps.graphPagerank(spark, sfDir).collect()
    val total = rows.map(_.getDouble(1)).sum
    // Σpr = 1 up to the 1e-12 grid + r4 rounding slack
    assert(math.abs(total - 1.0) < 1e-3, s"pagerank mass drifted: $total")
    rows.foreach(r => assert(r.getDouble(1) >= 0.15 / 5 - 1e-9,
      s"node below damping floor: ${r.getString(0)} -> ${r.getDouble(1)}"))
  }

  test("join_self_reuse: the self-join's second shuffle reuses the first (one scan+shuffle, not two)") {
    val df = ScaleJoins.joinSelfReuse(spark, sfDir)
    df.collect() // AQE stage reuse is decided as stages materialize
    val p = df.queryExecution.executedPlan.toString
    val reused = p.contains("ReusedExchange") ||
      "ShuffleQueryStage (\\d+)".r.findAllMatchIn(p).toSeq.groupBy(_.group(1)).exists(_._2.size >= 2)
    assert(reused, s"self-join did not reuse its exchange:\n$p")
  }

  test("join_aqe_skew: AQE splits the skewed partition at runtime (skew=true)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // sf-test scale: the hot partition is ~100 KB, so thresholds drop
      // to make AQE see it as skewed and split to ~8 KB slices
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = ScaleJoins.joinAqeSkew(spark, sfDir)
      df.collect() // AQE decides after the shuffle materializes
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join (thresholds too high for this SF?):\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("ANALYZE TABLE feeds exact rowCount and column NDV into optimizer statistics (CBO pipeline)") {
    spark.sql("DROP TABLE IF EXISTS stats_nation")
    // the external LOCATION dir outlives the (in-memory) catalog entry —
    // clear it or a rerun's CTAS refuses the non-empty directory
    val loc = new org.apache.hadoop.fs.Path(s"${graft.Tables.scratchDir}/stats_nation")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    spark.sql(
      s"""CREATE TABLE stats_nation USING parquet
         |LOCATION '$loc'
         |AS SELECT * FROM parquet.`$sfDir/nation.parquet`""".stripMargin)
    spark.sql("ANALYZE TABLE stats_nation COMPUTE STATISTICS FOR COLUMNS n_nationkey")
    val saved = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("stats_nation").queryExecution.optimizedPlan.stats
      // without ANALYZE the optimizer only has a file-size estimate;
      // with it, join reorder / broadcast selection see exact cardinality
      assert(stats.rowCount.contains(BigInt(25)), s"rowCount from ANALYZE missing: $stats")
      assert(stats.attributeStats.exists { case (a, s) =>
        a.name == "n_nationkey" && s.distinctCount.contains(BigInt(25))
      }, s"column NDV from ANALYZE missing: ${stats.attributeStats}")
    } finally spark.conf.set("spark.sql.cbo.enabled", saved)
  }

  test("dq_profile_approx: Expand gone from the plan; estimates within 5% of exact") {
    val exact = QualityOps.dqProfile(spark, sfDir)
    val approx = QualityOps.dqProfileApprox(spark, sfDir)
    // exact countDistinct multiplies the agg input ×|columns| via Expand;
    // the HLL++ swap must remove that — the whole point of the variant
    assert(plan(exact).contains("Expand"), "exact profile lost its Expand (test premise)")
    assert(!plan(approx).contains("Expand"), s"approx profile still Expands:\n${plan(approx)}")
    val e = exact.collect().map(r => r.getString(0) -> r).toMap
    val a = approx.collect().map(r => r.getString(0) -> r).toMap
    assert(e.keySet == a.keySet)
    e.foreach { case (col, er) =>
      val ar = a(col)
      // null counts and min/max render identically; only NDV is estimated
      assert(er.getLong(2) == ar.getLong(2), s"$col: n_null differs")
      assert(er.getString(4) == ar.getString(4) && er.getString(5) == ar.getString(5),
        s"$col: min/max differ")
      val (ne, na) = (er.getLong(3).toDouble, ar.getLong(3).toDouble)
      assert(math.abs(na - ne) <= 0.05 * ne + 1,
        s"$col: approx NDV $na off exact $ne by >5%")
    }
  }

  test("join_bloom_native: InjectRuntimeFilter plants bloom_filter_might_contain under the fact scan") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // production gates: application side must scan > 10 GB, and the join
      // must look like a SHUFFLE join (a broadcast-sized dim side makes
      // InjectRuntimeFilter skip — canBroadcastBySize). Drop both so the
      // sf-test tables qualify; the builder itself is untouched.
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = ScaleJoins.joinBloomNative(spark, sfDir)
      val opt = df.queryExecution.optimizedPlan.toString
      // Spark 4.1 prints the injected pair as might_contain(scalar-subquery)
      // over a bloom_filter_agg of the dim keys
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"engine did not inject a runtime bloom filter:\n$opt")
      // the runtime filter may only REMOVE non-joining rows: the injected
      // plan's result must equal the same query with the rule disabled
      val withFilter = df.collect().map(_.toString).sorted.toSeq
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = ScaleJoins.joinBloomNative(spark, sfDir)
      assert(!without.queryExecution.optimizedPlan.toString.contains("might_contain"))
      val plainRows = without.collect().map(_.toString).sorted.toSeq
      assert(withFilter.nonEmpty && withFilter == plainRows,
        s"runtime filter changed results:\n$withFilter\nvs\n$plainRows")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("pcap scan: protocol filter is pushed into the DSv2 reader") {
    val df = graft.sources.PcapOps.pcapFilterPush(spark, sfDir)
    val p = plan(df)
    assert(p.toLowerCase.contains("pushedfilters") || p.contains("PcapScan"),
      s"pcap pushdown probe lost its scan annotation:\n$p")
  }

  test("dedup_cluster edges: every shuffle partitions on the 8-byte hash, never text (r9)") {
    import org.apache.spark.sql.functions._
    val p = plan(LlmOpsExt.equalityEdges(
      graft.Tables.t(spark, sfDir, "documents").select(col("doc_id"), col("text")),
      concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))
    // the full-corpus candidate aggregation shuffles the hash
    assert(p.contains("Exchange hashpartitioning(kh#"),
      s"no hash-keyed exchange found:\n$p")
    // and NO shuffle anywhere in the plan partitions on the text key —
    // every Exchange's leading key must be the 8-byte kh (the semi-join
    // gate joins on kh, the star window leads on kh; a raw-k-first
    // exchange would sort/compare full document text)
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_ == "kh"),
      s"an exchange partitions on ${keys.filterNot(_ == "kh")}:\n$p")
    // bucket membership is gated by a count-only aggregate + semi-join
    // (r10, VERDICT r9 #5): no collect_list buffer (whole cliques in one
    // task's memory), no broadcast HINT (AQE picks the join side from
    // runtime sizes instead of an unconditional driver collect)
    assert(!p.contains("collect_list"),
      s"clique-sized aggregation buffer is back:\n$p")
  }

  test("dedup_incremental: every shuffle carries the 16-byte fingerprint, never text (r10)") {
    val p = plan(CorpusOps.dedupIncremental(spark, sfDir))
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty, s"expected fp-keyed exchanges:\n$p")
    assert(keys.forall(k => k == "fp" || k == "lang"),
      s"an exchange partitions on ${keys.filterNot(k => k == "fp" || k == "lang")}:\n$p")
    assert(!p.contains("text#") ||
      !"Exchange [^\\n]*text#".r.findFirstIn(p).isDefined,
      s"document text crosses a shuffle:\n$p")
  }

  test("table reads: dv-free snapshot keeps the plain scan plan; a dv adds only a codegen'd position-skip predicate (r11, VERDICT r10 #2)") {
    import org.apache.spark.sql.functions.col
    val base = s"${graft.Tables.scratchDir}/plan_dv"
    val fsp = new org.apache.hadoop.fs.Path(base)
    fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
    val rows = spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v")
    TableFormat.commit(spark, base, rows, 1, None, statsCol = Some("k"))
    // the dv-aware read path must cost NOTHING when no dv exists: the
    // plan is the plain parquet scan — no join, no metadata columns
    val clean = TableFormat.readSnapshot(spark, base)
      .queryExecution.executedPlan.toString
    assert(!clean.contains("Join"), s"dv-free snapshot read gained a join:\n$clean")
    assert(!clean.contains("_metadata"),
      s"dv-free snapshot read materializes metadata columns:\n$clean")
    // with a dv (r11): STILL no join and no broadcast — deletes drop
    // through the executor-side DvLookup StaticInvoke predicate over
    // the scan's metadata columns, per-file loading, one codegen span
    // (the r10 shape broadcast ALL dv pairs into a LeftAnti join —
    // unbounded past the broadcast limit and an exchange per read)
    TableFormat.deleteRowsDV(spark, base, col("k") === 7L)
    val dv = TableFormat.readSnapshot(spark, base)
      .queryExecution.executedPlan.toString
    assert(!dv.contains("Join") && !dv.contains("BroadcastExchange"),
      s"dv read still joins/broadcasts:\n$dv")
    assert(dv.contains("DvLookup"),
      s"dv read lost the executor-side skip predicate:\n$dv")
  }

  test("NDV statistics: CBO join reorder flips on the manifest's #ndv sketches (r11, VERDICT r10 #7)") {
    import graft.sources.GraftCatalog
    import spark.implicits._
    val wh = s"${graft.Tables.scratchDir}/graft_wh_ndv"
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.graft_ndv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ndv.warehouse", wh)
    // fact: k1 has 1000 distinct values, k2 only 10 — the join through
    // k2 explodes (20k·1k / max(10,10) = 2M rows) while the join
    // through k1 stays flat (20k). Only NDV can SEE that: row counts
    // and sizes of the two dims are identical by construction.
    (0L until 20000L).map(i => (i % 1000, i % 10, i)).toDF("k1", "k2", "v")
      .createOrReplaceTempView("ndv_f_src")
    (0L until 1000L).map(i => (i, i)).toDF("k", "w")
      .createOrReplaceTempView("ndv_a_src")
    (0L until 1000L).map(i => (i % 10, i)).toDF("k", "w")
      .createOrReplaceTempView("ndv_b_src")
    spark.sql("CREATE TABLE graft_ndv.db.ndv_f (k1 BIGINT, k2 BIGINT, v BIGINT) PARTITIONED BY (k1, k2)")
    spark.sql("INSERT INTO graft_ndv.db.ndv_f SELECT * FROM ndv_f_src")
    spark.sql("CREATE TABLE graft_ndv.db.ndv_a (k BIGINT, w BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft_ndv.db.ndv_a SELECT * FROM ndv_a_src")
    spark.sql("CREATE TABLE graft_ndv.db.ndv_b (k BIGINT, w BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft_ndv.db.ndv_b SELECT * FROM ndv_b_src")
    // the manifests carry mergeable HLL sketches whose estimates see
    // the 1000-vs-10 asymmetry
    val ndvF = TableFormat.manifest(spark, s"$wh/db/ndv_f",
      TableFormat.currentVersion(spark, s"$wh/db/ndv_f")).ndv
    val estK1 = TableFormat.ndvEstimate(ndvF("k1"))
    val estK2 = TableFormat.ndvEstimate(ndvF("k2"))
    assert(estK1 > 900 && estK1 < 1100, s"k1 ndv estimate $estK1")
    assert(estK2 >= 9 && estK2 <= 11, s"k2 ndv estimate $estK2")
    val q =
      """SELECT count(1) AS n FROM graft_ndv.db.ndv_f f
        |JOIN graft_ndv.db.ndv_b b ON f.k2 = b.k
        |JOIN graft_ndv.db.ndv_a a ON f.k1 = a.k""".stripMargin
    def innermostLeaves(sql: String): String = {
      val joins = spark.sql(sql).queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.size == 2, s"expected 2 joins, got ${joins.size}")
      joins.last.collectLeaves().map(_.toString).mkString("\n")
    }
    // syntactic order without CBO: b joins first
    val plain = innermostLeaves(q)
    assert(plain.contains("ndv_b") && !plain.contains("ndv_a"),
      s"premise: syntactic order should join b first, got leaves:\n$plain")
    // with CBO + join reorder, the NDV sketches flip the order: the
    // flat k1 join (a) moves below the exploding k2 join (b)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val reordered = innermostLeaves(q)
      assert(reordered.contains("ndv_a") && !reordered.contains("ndv_b"),
        s"CBO did not reorder on NDV — innermost join leaves:\n$reordered")
      // and the result is unchanged by the reorder
      assert(spark.sql(q).head.getLong(0) == 20000L * 100)
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    }
  }

  test("ANALYZE histograms: equi-height bins recorded in #hist and surfaced to catalyst stats (r13)") {
    import graft.sources.GraftCatalog
    import spark.implicits._
    val wh = s"${graft.Tables.scratchDir}/graft_wh_hist"
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.graft_hist", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_hist.warehouse", wh)
    // heavy skew: half the rows at k=0, the rest uniform — exactly the
    // shape plain NDV estimates wrongly under the uniformity assumption
    (0L until 10000L).map(i => (if (i < 5000) 0L else i, i)).toDF("k", "v")
      .createOrReplaceTempView("hist_src")
    spark.sql("CREATE TABLE graft_hist.db.hist_t (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft_hist.db.hist_t SELECT * FROM hist_src")
    spark.sql("CALL graft_hist.system.analyze('db.hist_t')")
    val base = s"$wh/db/hist_t"
    val hist = TableFormat.manifest(spark, base,
      TableFormat.currentVersion(spark, base)).histograms
    assert(hist.contains("k"), s"no histogram recorded: ${hist.keys}")
    val (height, bins) = hist("k")
    assert(bins.size == 32, s"expected 32 bins, got ${bins.size}")
    assert(math.abs(height - 10000.0 / 32) < 1.0, s"bin height $height")
    // the skewed head collapses into near-degenerate low bins...
    assert(bins.head._1 == 0.0 && bins.head._3 <= 2, s"head bin ${bins.head}")
    // ...and the per-bin NDVs sum to roughly the true distinct count —
    // the shape uniform-NDV estimation cannot represent
    val ndvSum = bins.map(_._3).sum
    assert(ndvSum > 4000 && ndvSum < 6500, s"ndv sum $ndvSum")
    // surfaced through DSv2 columnStats → transformV2Stats → catalyst
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.sql("SELECT k FROM graft_hist.db.hist_t")
        .queryExecution.optimizedPlan.stats
      val h = stats.attributeStats.collectFirst {
        case (a, s) if a.name == "k" => s.histogram
      }.flatten
      assert(h.isDefined, s"histogram missing from attribute stats: ${stats.attributeStats}")
      assert(h.get.bins.length == 32)
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    // histograms inherit through ordinary commits like #ndv
    spark.sql("INSERT INTO graft_hist.db.hist_t VALUES (99999, 1)")
    val after = TableFormat.manifest(spark, base,
      TableFormat.currentVersion(spark, base)).histograms
    assert(after.contains("k"), "histogram dropped by an append")
  }

  test("ANALYZE string-key histograms: prefix-rank bins recorded; scan stats see string skew (r14, VERDICT r13 #5)") {
    import graft.sources.{GraftCatalog, GraftScanBuilder}
    import spark.implicits._
    val wh = s"${graft.Tables.scratchDir}/graft_wh_shist"
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.graft_shist", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_shist.warehouse", wh)
    // corpus-shaped skew on a STRING cluster key: 'en' is 90 % of rows,
    // ten rare langs share the tail
    val langs = (0L until 10000L).map { i =>
      val l = if (i < 9000) "en" else s"r${(i % 10)}"
      (l, i)
    }
    langs.toDF("lang", "n").createOrReplaceTempView("shist_src")
    spark.sql(
      "CREATE TABLE graft_shist.db.shist_t (lang STRING, n BIGINT) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO graft_shist.db.shist_t SELECT * FROM shist_src")
    spark.sql("CALL graft_shist.system.analyze('db.shist_t')")
    val base = s"$wh/db/shist_t"
    val cur = TableFormat.currentVersion(spark, base)
    // histogram present for the string cluster key, on the rank image
    val hist = TableFormat.manifest(spark, base, cur).histograms
    assert(hist.contains("lang"), s"no string histogram recorded: ${hist.keys}")
    assert(hist("lang")._2.size == 32)
    // selectivity shift: the same scan, filtered on the hot vs a rare
    // key, reports proportionally different row estimates — the input
    // join-side selection needs on skewed string keys. Single file ⇒
    // file pruning identical on both sides; only the histogram differs.
    val schema = TableFormat.manifest(spark, base, cur).schema.get
    def est(lang: String): Long = {
      val sb = new GraftScanBuilder(base, cur, schema, Seq("lang"), spark, 0)
      sb.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("lang", lang)))
      sb.estimateStatistics().numRows().getAsLong
    }
    val hot = est("en")
    val rare = est("r3")
    assert(hot > 5000, s"hot-key estimate collapsed: $hot")
    assert(rare < hot / 10,
      s"rare-key estimate $rare not below hot-key $hot / 10 — skew invisible")
    // an un-binned key floors, never zeroes (post-ANALYZE appends exist)
    assert(est("zz_unseen") >= 1)
  }
}

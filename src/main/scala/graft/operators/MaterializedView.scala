package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftViews

/** Incremental MATERIALIZED VIEWS over snapshot tables (r12) — a small
  * incremental-view-maintenance (IVM) compiler on top of the table
  * format's change data feed.
  *
  * An MV is a REAL graft table (time travel, stats, vacuum, SQL reads
  * all apply) whose contents equal an aggregate query over a source
  * table, plus bookkeeping in table properties: the defining text
  * (`graft.mv.query`), the source (`graft.mv.src`), and the LAST
  * APPLIED source version (`graft.mv.version`). `refresh` reads ONLY
  * the source's CDF between the bookmarked version and its current one
  * — cost ∝ the change, not the 100 TB source — and folds the delta in:
  *
  *   Δ(group) = Σ sign(change) · contribution(row),  sign = +1 for
  *   insert/update_postimage, −1 for delete/update_preimage
  *
  * then one full-outer merge of |groups| rows republishes the MV with
  * the bookmark advanced IN THE SAME COMMIT (`appendCommit setProps`) —
  * a crashed refresh leaves either the old state with the old bookmark
  * or the new state with the new one, never a half.
  *
  * Supported shape (validated at CREATE, re-derived from the public IVM
  * literature on self-maintainable aggregates): `SELECT dims…, aggs…
  * FROM src [WHERE pred] GROUP BY dims` with COUNT(*) / COUNT(col) /
  * SUM(col) over INTEGRAL columns — the self-maintainable aggregates
  * under insert AND delete — plus MIN/MAX over integral or string
  * columns with the conditional ladder: extrema fold under inserts,
  * and under deletes only the groups whose DELETED extremum ties or
  * beats the stored one recompute, via one source scan semi-joined to
  * exactly those groups. Float SUM is refused (incremental
  * accumulation order would drift vs recompute — the engine-wide
  * exact-arithmetic rule). Hidden columns make the maintenance EXACT,
  * not approximate:
  *
  *  - `__cnt`: live contributing rows per group — a group whose count
  *    reaches 0 disappears from the MV (GROUP BY semantics);
  *  - `__n_<alias>` per SUM: non-null contributions — a sum whose
  *    non-null count reaches 0 reports NULL (SQL SUM semantics), which
  *    a bare "sum of signed values" would wrongly report as 0.
  */
object MaterializedView {

  sealed trait AggSpec { def alias: String }
  case class CountStar(alias: String) extends AggSpec
  case class CountCol(colName: String, alias: String) extends AggSpec
  case class SumCol(colName: String, alias: String) extends AggSpec
  case class MinCol(colName: String, alias: String) extends AggSpec
  case class MaxCol(colName: String, alias: String) extends AggSpec
  /** AVG (r13, VERDICT r12 #5): no new maintenance math — the state
    * carries the exact hidden SUM (`__s_`) and COUNT (`__n_`) longs and
    * the visible column is their division, recomputed after every
    * merge. Refresh ≡ recompute bit-for-bit because both sides derive
    * the double the same way: CAST(exact_sum AS DOUBLE) / exact_count. */
  case class AvgCol(colName: String, alias: String) extends AggSpec
  /** COUNT(DISTINCT col) (r15, VERDICT r14 #3): EXACT distinct counts
    * via hidden per-group bitmap state — the `agg_bitmap_distinct`
    * two-level device (bucket = `bitmap_bucket_number`, 32768-bit
    * bitmap per bucket) stored as one `map<bucket, bitmap>` column per
    * group. INSERTS are self-maintainable: the delta's insert bitmaps
    * OR into the state (idempotent — re-inserting a seen value changes
    * nothing) and the visible count is the popcount sum. DELETES are
    * not (a bitmap has presence, not multiplicity: deleting one of two
    * equal values must not shrink the set), so any delete of a
    * non-null value marks the group for the SAME targeted regroup
    * MIN/MAX uses — one source scan semi-joined to exactly the marked
    * groups. Integral columns only: the bitmap's (bucket, position)
    * decomposition is a bijection on longs. At 100 TB the state is
    * ~n_distinct/8 bytes per group — 16× under a value list — and the
    * maintenance shuffle stays |changed groups|-row shaped. */
  case class DistinctCol(colName: String, alias: String) extends AggSpec

  /** `approx_distinct(col)` / `approx_count_distinct(col)` (r16,
    * VERDICT r15 #4): APPROXIMATE distinct count backed by mergeable
    * HLL sketch state — the recommended default for
    * `count(DISTINCT string_id)` (the exact bitmap path covers strings
    * only through the opt-in per-MV dictionary, r17). Inserts fold by sketch UNION (register max —
    * idempotent, associative, so refresh ≡ recompute estimate exactly);
    * deletes take the same targeted regroup as the bitmap path (a
    * sketch cannot subtract). Documented approximate: the visible
    * column is the HLL ESTIMATE (Spark's datasketches HLL, lgK 12).
    * State is one ~KB sketch per group — at 100 TB the maintenance
    * shuffle stays |changed groups|-shaped and re-inserted ids flip no
    * register. */
  case class ApproxDistinctCol(colName: String, alias: String) extends AggSpec

  /** `approx_pct(col, p)` (r18, VERDICT r17 #1): APPROXIMATE quantile
    * at rank p backed by mergeable KLL sketch state
    * ([[graft.functions.KllAgg]], datasketches KLL doubles, k = 200 —
    * pinned like the HLL path's lgK). The last common dashboard
    * aggregate with no MV story: INSERTS fold by sketch MERGE (KLL
    * merge preserves the rank-error bound, so the folded state is a
    * valid sketch of all rows — though not byte-identical to a rebuild
    * once compaction has run, hence documented approximate like the HLL
    * estimate); DELETES take the same targeted regroup as distinct
    * state (a sketch cannot subtract). The visible column is the
    * quantile ESTIMATE at the stored rank; the hidden `__kll_` sketch
    * serves ANY rank at query time — the rewrite probes it directly
    * (exact dims) or merges it to coarser grains (roll-up), so one MV
    * answers p50/p90/p99 alike. EXACT `percentile` and Spark's
    * GK-estimator `approx_percentile`/`percentile_approx` refuse at
    * CREATE and stand down at rewrite — different estimators, no
    * incremental state. State is one ~KB sketch per group: at 100 TB
    * the maintenance shuffle stays |changed groups|-shaped. */
  case class ApproxPctCol(colName: String, alias: String,
                          pct: Double) extends AggSpec

  /** `approx_topk(col, k)` (r18, r19 candidate pulled forward):
    * APPROXIMATE HEAVY HITTERS backed by mergeable MISRA-GRIES state
    * ([[graft.functions.MgSketchAgg]] — the engine's `misra_gries`
    * kernel, k stored per column since it bounds the summary): a
    * hidden `__mg_` summary per group; INSERTS fold by the PODS'12
    * mergeable-summaries combine with ZERO regroups (the recall
    * guarantee — every term with frequency > n/(k+1) survives —
    * composes across any merge tree, though the candidate SET near the
    * threshold is path-dependent, hence documented approximate);
    * DELETES take the targeted regroup (counters cannot subtract).
    * The visible column is the sorted candidate ARRAY — the same
    * surface `misra_gries(col, k)` emits — and the REWRITE serves that
    * query shape: exact dims read the stored summary through a scalar
    * `mg_topk`, subset dims merge summaries to the coarser grain.
    * EXACT in the small-alphabet regime (≤ k distinct terms per group:
    * no decrements ever fire, the fold is plain count addition). */
  case class ApproxTopKCol(colName: String, alias: String,
                           k: Int) extends AggSpec

  /** VARIANCE / STDDEV (r16): `var_samp`/`var_pop`/`stddev_samp`/
    * `stddev_pop` over INTEGRAL columns via exact POWER SUMS — the
    * textbook IVM device: hidden Σx (long, the SUM contract's exposure)
    * and Σx² (DECIMAL(38,0) — any long² fits in 38 digits, so the
    * per-row square is always exact; both sums are TRY-mode so overflow
    * surfaces as NULL in either ANSI mode, r17) plus the non-null
    * count. Self-maintainable under
    * inserts AND deletes (signed folds on both sums — no regroup in the
    * representable regime, unlike extrema/distinct; a Σx² overflowing
    * DECIMAL(38,0) poisons to NULL and takes the targeted regroup, r17,
    * ADVICE r16 #1). The visible double derives from the exact sums by
    * the same expression in fullState and merge, so refresh ≡ recompute
    * bit-for-bit; the power-sum form trades the two-pass formula's
    * cancellation resistance for incrementality (documented — the
    * negative-drift guard clamps at 0 so stddev never NaNs, and NULL
    * power sums propagate as NULL variance). The QUERY REWRITE serves
    * var/stddev from this state (r17, VERDICT r16 #1): exact dims read
    * the visible column; roll-ups re-derive from the summed power sums
    * — the SERVED answer is the MV's exact power-sum derivation, which
    * may differ in low-order double bits from Spark's Welford-style
    * direct plan (documented; the MV contract's answer, like AVG's
    * exact-sum division, is the more exact of the two). */
  case class VarCol(colName: String, alias: String,
                    pop: Boolean, stddev: Boolean) extends AggSpec

  /** MV over a JOIN CHAIN of graft tables (r13 two-table, r16 N-table
    * — the SNOWFLAKE shape `fact ⋈ dim1 ⋈ dim2 …`): each link joins
    * the next table onto the already-joined prefix by a conjunction of
    * qualified equalities (`a.k = b.k [AND …]` — composite keys, r16).
    * `pairs` are (prefixTableIdx, prefixCol, rightCol): the 0-based
    * index of the EARLIER chain table the conjunct's left side
    * qualified, its unqualified column, and the new table's unqualified
    * column. */
  /** `outer` (r17, r18 candidate #4): this link joins LEFT OUTER — the
    * dimension-table-with-missing-rows shape `fact ⟕ dim`. Maintained
    * via the classic null-compensation IVM (see [[outerJoinDelta]]);
    * accepted for exactly a TWO-table definition (outer joins don't
    * commute, so the flatten-and-reorder path is inner-only). */
  case class JoinLink(srcParts: Seq[String],
                      pairs: Seq[(Int, String, String)],
                      outer: Boolean = false) {
    def srcRelative: Seq[String] =
      if (srcParts.length >= 3) srcParts.takeRight(2) else srcParts
    /** Same-named key pairs dedup the new side's column from the
      * joined namespace. */
    def dupCols: Seq[String] =
      pairs.collect { case (_, pc, rc) if pc.equalsIgnoreCase(rc) => rc }
  }

  /** `dimExprs` (r16, VERDICT r15 #3): dims whose GROUP BY key is a
    * DETERMINISTIC SCALAR EXPRESSION of source columns (`date_trunc`,
    * integer DIV, …), declared `SELECT expr AS alias … GROUP BY alias`
    * (or the expression repeated). The state stores the computed value
    * under `alias`; maintenance projects the expression onto source and
    * delta rows at one chokepoint ([[withDimExprs]]) and every
    * downstream consumer treats it as a plain column — group membership
    * stays a pure function of the row, so the whole IVM algebra is
    * unchanged. Keys are the dim aliases (as spelled in `dims`). */
  /** `aggInExprs` (r16): aggregate INPUTS that are deterministic scalar
    * expressions (`SUM(price * (1 - disc))`, the TPC-H Q1 shape) —
    * computed per row at the same maintenance chokepoint as expression
    * dims under a hidden `__in_<alias>` column, then aggregated as a
    * plain column; the state stores only the aggregate under the user's
    * alias. Keys are the hidden column names. */
  /** `unionLegs` (r19): additional UNION ALL leg tables — the
    * partitioned-fact shape `FROM (SELECT * FROM events_2024 UNION ALL
    * SELECT * FROM events_2025)`. The first leg stays `srcParts`; all
    * legs share one column namespace (validated same-columns at
    * create). Mutually exclusive with `joins`. The IVM identity is the
    * simplest multi-source one there is: Δ(⋃ᵢ Sᵢ) = ⋃ᵢ ΔSᵢ under bag
    * semantics — per-leg change feeds union with their signs intact
    * and the single-source group fold applies unchanged. */
  case class MvDef(srcParts: Seq[String], dims: Seq[String],
                   aggs: Seq[AggSpec], filterSql: Option[String],
                   selectCols: Seq[String], joins: Seq[JoinLink] = Nil,
                   dimExprs: Map[String, String] = Map.empty,
                   aggInExprs: Map[String, String] = Map.empty,
                   unionLegs: Seq[Seq[String]] = Nil) {
    def srcRelative: Seq[String] =
      if (srcParts.length >= 3) srcParts.takeRight(2) else srcParts
    private def legRelative(parts: Seq[String]): Seq[String] =
      if (parts.length >= 3) parts.takeRight(2) else parts
    /** Every chain/union table's `db.table` spelling, first included. */
    def tableRels: Seq[String] =
      srcRelative.mkString(".") +:
        (joins.map(_.srcRelative.mkString(".")) ++
         unionLegs.map(legRelative(_).mkString(".")))
  }

  /** Parse + shape-validate the defining text. Refusals name the exact
    * unsupported construct — the contract is narrow on purpose. */
  def parseDef(spark: SparkSession, sql: String): MvDef = {
    def refuse(what: String): Nothing = throw new IllegalArgumentException(
      s"materialized view: $what — supported shape is SELECT dims…, " +
        "COUNT(*)/COUNT(col)/SUM(col)/AVG(col)/MIN(col)/MAX(col)/" +
        "VAR_SAMP|VAR_POP|STDDEV_SAMP|STDDEV_POP(col) AS alias… FROM " +
        "graft_table [INNER JOIN graft_table2 ON a.k = b.k] [WHERE pred] " +
        "GROUP BY dims (SUM/AVG over integral columns, MIN/MAX over integral " +
        "or string; no DISTINCT except COUNT(DISTINCT col); a dim may be a " +
        "deterministic scalar expression aliased in the SELECT list and " +
        "grouped by that alias; join keys qualified, everything else " +
        "unqualified)")
    val plan0 = spark.sessionState.sqlParser.parsePlan(sql)
    // CTE-bodied DEFINITIONS (r17, VERDICT r16 #8): `WITH x AS (…)
    // SELECT … FROM x` inlines each def body at its reference before
    // the shape checks — the normalize pass below then folds the
    // SubqueryAlias / SELECT-* / WHERE layers the inlining introduces.
    // Column-aliasing CTEs refuse loudly (the body's names ARE the
    // state's column contract); recursive and nested WITHs likewise.
    val plan = plan0 match {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        val defs: Map[String, LogicalPlan] = w.cteRelations.map { rel3 =>
          val name = rel3._1
          val body = rel3._2.child
          if (body.isInstanceOf[
              org.apache.spark.sql.catalyst.analysis.UnresolvedSubqueryColumnAliases])
            refuse(s"CTE '$name' renames its columns — an MV definition's " +
              "CTEs must keep the source names (they key every state column)")
          if (body.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith]))
            refuse(s"CTE '$name' contains a nested WITH — flatten the " +
              "definition to one WITH clause")
          name.toLowerCase(java.util.Locale.ROOT) -> body
        }.toMap
        def inline(p: LogicalPlan, seen: Set[String]): LogicalPlan =
          p.transformUp {
            case r: UnresolvedRelation if r.multipartIdentifier.length == 1 &&
                defs.contains(r.multipartIdentifier.head
                  .toLowerCase(java.util.Locale.ROOT)) =>
              val key = r.multipartIdentifier.head
                .toLowerCase(java.util.Locale.ROOT)
              if (seen.contains(key)) refuse(
                s"CTE '${r.multipartIdentifier.head}' is recursive — " +
                  "recursive CTEs are not maintainable")
              SubqueryAlias(r.multipartIdentifier.head,
                inline(defs(key), seen + key))
          }
        inline(w.child, Set.empty)
      case p => p
    }
    val agg = plan match {
      case a: Aggregate => a
      case Project(_, _) => refuse("no GROUP BY found")
      case _ => refuse(s"top-level ${plan.nodeName} is not an aggregate")
    }
    // one relation, optionally aliased: (table parts, visible name the
    // ON clause may qualify keys with — the alias, else the table name)
    def rel(p: LogicalPlan): Option[(Seq[String], String)] = {
      // a bare-table body under transparent wrappers — lets a
      // `WITH f AS (SELECT * FROM graft.db.fct)` CTE serve as a join
      // leaf under its own alias (r17)
      def relBody(q: LogicalPlan): Option[Seq[String]] = q match {
        case r: UnresolvedRelation => Some(r.multipartIdentifier)
        case Project(Seq(_: UnresolvedStar), c) => relBody(c)
        case SubqueryAlias(_, c) => relBody(c)
        case _ => None
      }
      p match {
        case r: UnresolvedRelation =>
          Some((r.multipartIdentifier, r.multipartIdentifier.last))
        case SubqueryAlias(id, inner) => relBody(inner).map((_, id.name))
        case _ => None
      }
    }
    // inner equi-join CHAIN of graft tables (r13 two-table, r16
    // N-table): a LEFT-DEEP chain of INNER joins, each ON a conjunction
    // of QUALIFIED equalities (`x.k = y.k`) tying the new table to any
    // EARLIER alias — qualification makes every side unambiguous at
    // parse time. Returns (first table parts, alias names in chain
    // order, links).
    def sideOf(a: UnresolvedAttribute): (String, String) = {
      if (a.nameParts.length != 2) refuse(
        s"join key '${a.name}' must be qualified (alias.column)")
      (a.nameParts.head, a.nameParts.last)
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
        conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    // ANY inner-equi-join TREE of graft tables (r13 two-table, r16
    // left-deep N-table, r17 bushy/right-deep — VERDICT r16 #6): inner
    // joins commute and associate, so every shape flattens to (tables,
    // qualified equi-conjuncts) and re-linearizes into a left-deep
    // chain in CONNECTIVITY order — each admitted table must share at
    // least one equi-key with the already-admitted prefix (anything
    // else is a cartesian product, refused). The telescoping N-delta
    // maintains over that spanning order, and the rewrite's flattened
    // pair-set match was always shape-blind, so the stored chain form
    // is unchanged.
    def treeWalk(p: LogicalPlan): Option[(Seq[String], Seq[String], Seq[JoinLink])] = {
      // LEFT OUTER (r17 two-table; r18 LEFT-DEEP N-CHAIN — VERDICT r17
      // #3; r18 MIXED inner/outer chains): any LEFT-DEEP chain of bare
      // tables whose links are each INNER or LEFT OUTER, with at least
      // one outer link — `fact ⋈ dim1 ⟕ dim2`, `fact ⟕ dim1 ⋈ dim2`,
      // all-outer, etc. Each hop's keys tie the NEW table to any
      // EARLIER chain table. The chain keeps its WRITTEN order (no
      // flatten-and-reorder — hops only commute row-locally when their
      // keys are independent, which SQL scoping guarantees for any
      // spellable reorder; the stored order is canonical). Right-nested
      // outer shapes refuse loudly below.
      def mixedChain(q: LogicalPlan)
          : Option[(Seq[String], Seq[String], Seq[JoinLink])] = q match {
        case Join(l, r0, jt @ (org.apache.spark.sql.catalyst.plans.LeftOuter |
                               Inner), Some(cond0), _) if rel(r0).isDefined =>
          val (lParts, names, links) = rel(l) match {
            case Some((lp, ln)) => (lp, Seq(ln), Seq.empty[JoinLink])
            case None => mixedChain(l).getOrElse(return None)
          }
          val (rParts, rName) = rel(r0).get
          if (names.exists(_.equalsIgnoreCase(rName))) refuse(
            s"join alias '$rName' repeats — every chain table needs a " +
              "distinct alias")
          val pairs = conjuncts(cond0).map {
            case EqualTo(lk: UnresolvedAttribute, rk: UnresolvedAttribute) =>
              val (q1, c1) = sideOf(lk)
              val (q2, c2) = sideOf(rk)
              val i1 = names.indexWhere(_.equalsIgnoreCase(q1))
              val i2 = names.indexWhere(_.equalsIgnoreCase(q2))
              if (i1 >= 0 && q2.equalsIgnoreCase(rName)) (i1, c1, c2)
              else if (i2 >= 0 && q1.equalsIgnoreCase(rName)) (i2, c2, c1)
              else refuse(s"join key qualifiers '$q1'/'$q2' must tie " +
                s"'$rName' to an earlier chain table " +
                s"(${names.mkString(", ")})")
            case other => refuse(
              s"only equi-join conditions are maintainable " +
                s"(got conjunct '${other.sql}')")
          }
          Some((lParts, names :+ rName, links :+ JoinLink(rParts, pairs,
            outer = jt == org.apache.spark.sql.catalyst.plans.LeftOuter)))
        case _ => None
      }
      val hasOuter = p.collectFirst {
        case Join(_, _, org.apache.spark.sql.catalyst.plans.LeftOuter, _, _) => ()
      }.isDefined
      if (hasOuter) {
        mixedChain(p) match {
          case Some(x) =>
            // r19 (ADVICE r18 #1): a later hop may NOT key on a column
            // that an OUTER link's same-named key pair deduped away —
            // the joined namespace resolves it through the LEFT
            // survivor, which stays non-null on null-extended rows, so
            // maintenance would silently diverge from the defining
            // SQL (where the dim-side key is NULL and the later hop
            // never matches). Remap-through-survivor is exact ONLY for
            // inner links; outer-deduped keys refuse loudly.
            val (_, chainNames, chainLinks) = x
            chainLinks.zipWithIndex.foreach { case (lnk, j) =>
              lnk.pairs.foreach { case (pIdx, pc, _) =>
                if (pIdx > 0) {
                  val admitting = chainLinks(pIdx - 1)
                  if (admitting.outer &&
                      admitting.dupCols.exists(_.equalsIgnoreCase(pc)))
                    refuse(
                      s"hop '${chainNames(j + 1)}' keys on " +
                        s"'${chainNames(pIdx)}.$pc', which a LEFT OUTER " +
                        "link merged into its left-side key — on " +
                        s"null-extended rows '${chainNames(pIdx)}.$pc' " +
                        "is NULL but the merged column is not, so the " +
                        "chain is not maintainable; key the hop on a " +
                        "column the outer join did not merge (e.g. a " +
                        "differently-named key)")
                }
              }
            }
            return Some(x)
          case None => refuse(
            "LEFT OUTER joins maintain for a LEFT-DEEP chain of bare " +
              "tables whose links are each INNER or LEFT OUTER " +
              "(fact [LEFT] JOIN dim1 ON keys [LEFT] JOIN dim2 ON keys " +
              "…) — right-nested outer shapes are not maintainable")
        }
      }
      def flat(q: LogicalPlan)
          : Option[(Seq[(Seq[String], String)], Seq[Expression])] = q match {
        case r if rel(r).isDefined => Some((Seq(rel(r).get), Nil))
        case Join(l, r0, Inner, Some(cond0), _) =>
          for { lf <- flat(l); rf <- flat(r0) }
            yield (lf._1 ++ rf._1, lf._2 ++ rf._2 ++ conjuncts(cond0))
        case Join(_, r0, jt, cond, _)
            if rel(r0).isDefined || flat(r0).isDefined =>
          refuse(s"only INNER (or two-table LEFT OUTER) equi-joins of " +
            s"graft tables are maintainable " +
            s"(got ${jt.sql} join, on ${cond.map(_.sql).getOrElse("<no condition>")})")
        case _ => None
      }
      flat(p).map { case (rels, conds) =>
        if (rels.size == 1) (rels.head._1, Seq(rels.head._2), Nil)
        else {
          rels.map(_._2).groupBy(_.toLowerCase(java.util.Locale.ROOT))
            .foreach { case (_, vs) => if (vs.size > 1) refuse(
              s"join alias '${vs.head}' repeats — every chain table needs " +
                "a distinct alias") }
          val names0 = rels.map(_._2)
          val eps: Seq[((String, String), (String, String))] = conds.map {
            case EqualTo(lk: UnresolvedAttribute, rk: UnresolvedAttribute) =>
              (sideOf(lk), sideOf(rk))
            case other => refuse(
              s"only INNER equi-join conditions are maintainable " +
                s"(got conjunct '${other.sql}')")
          }
          eps.foreach { case ((q1, _), (q2, _)) =>
            Seq(q1, q2).foreach { q =>
              if (!names0.exists(_.equalsIgnoreCase(q))) refuse(
                s"join key qualifier '$q' names no chain table " +
                  s"(${names0.mkString(", ")})") } }
          val remaining = scala.collection.mutable.ArrayBuffer(rels.tail: _*)
          val ordered = scala.collection.mutable.ArrayBuffer(rels.head)
          val used = scala.collection.mutable.ArrayBuffer.fill(eps.size)(false)
          val links = Seq.newBuilder[JoinLink]
          while (remaining.nonEmpty) {
            val names = ordered.map(_._2)
            def prefixIdx(q: String): Int =
              names.indexWhere(_.equalsIgnoreCase(q))
            val nextI = remaining.indexWhere { case (_, rn) =>
              eps.exists { case ((q1, _), (q2, _)) =>
                (q1.equalsIgnoreCase(rn) && prefixIdx(q2) >= 0) ||
                  (q2.equalsIgnoreCase(rn) && prefixIdx(q1) >= 0) } }
            if (nextI < 0) refuse(
              s"join tree is disconnected: ${remaining.map(_._2).mkString(", ")} " +
                s"share no equi-key with ${names.mkString(", ")} — a " +
                "cartesian product is not maintainable")
            val (rParts, rName) = remaining.remove(nextI)
            val pairs = eps.zipWithIndex.flatMap {
              case (((q1, c1), (q2, c2)), i) =>
                if (used(i)) None
                else if (q1.equalsIgnoreCase(rName) && prefixIdx(q2) >= 0) {
                  used(i) = true; Some((prefixIdx(q2), c2, c1))
                } else if (q2.equalsIgnoreCase(rName) && prefixIdx(q1) >= 0) {
                  used(i) = true; Some((prefixIdx(q1), c1, c2))
                } else None
            }
            links += JoinLink(rParts, pairs.toSeq)
            ordered += ((rParts, rName))
          }
          used.zipWithIndex.collectFirst { case (false, i) => i }.foreach { i =>
            refuse(s"join conjunct '${conds(i).sql}' does not tie a new " +
              "table to the joined prefix (a same-table or " +
              "already-joined-pair condition is a filter, not a join key)") }
          (rels.head._1, ordered.map(_._2).toSeq, links.result())
        }
      }
    }
    def joined(p: LogicalPlan): Option[(Seq[String], Seq[JoinLink])] =
      treeWalk(p).collect { case (parts, _, links) if links.nonEmpty =>
        (parts, links) }
    // normalize the wrappers CTE inlining introduces (r17): a
    // transparent alias over a complex body folds away (an alias over a
    // BARE relation stays — the ON clause qualifies keys with it), a
    // `SELECT *` passthrough folds away, and stacked WHEREs conjoin —
    // outer conjuncts first, matching SQL's evaluation story. A CTE
    // body projecting a column SUBSET refuses: folding it would widen
    // visibility beyond what the definition's SQL says.
    def normalize(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, r: UnresolvedRelation) => p
      case SubqueryAlias(id, c) =>
        normalize(c) match {
          case r: UnresolvedRelation => SubqueryAlias(id, r)
          case other => other
        }
      case Project(Seq(_: UnresolvedStar), c) => normalize(c)
      case Project(_, _) =>
        refuse("a WITH/subquery body in FROM must SELECT * — a " +
          "column-subset projection would change which source columns " +
          "the definition may reference")
      case LFilter(cond, c) =>
        normalize(c) match {
          case LFilter(cond2, inner) => LFilter(
            org.apache.spark.sql.catalyst.expressions.And(cond, cond2), inner)
          case inner => LFilter(cond, inner)
        }
      case other => other
    }
    // UNION ALL sources (r19) — the partitioned-fact shape: every leg
    // must normalize to a bare graft table (SELECT * only); plain
    // UNION refuses (it deduplicates — a different relation); legs
    // must be distinct tables (a repeated leg doubles its rows —
    // almost certainly a mistake; spell intentional doubling in the
    // aggregate).
    def unionLegsOf(p: LogicalPlan): Option[Seq[Seq[String]]] = p match {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        if (u.byName) refuse("UNION by name is not maintainable — spell " +
          "the legs SELECT * over same-schema tables")
        def legs(q: LogicalPlan): Seq[Seq[String]] = normalize(q) match {
          case u2: org.apache.spark.sql.catalyst.plans.logical.Union =>
            if (u2.byName) refuse("UNION by name is not maintainable")
            u2.children.flatMap(legs)
          case r if rel(r).isDefined => Seq(rel(r).get._1)
          case other => refuse("every UNION ALL leg must be SELECT * " +
            s"FROM a bare graft table (got ${other.nodeName})")
        }
        val ls = u.children.flatMap(legs)
        val names = ls.map(parts =>
          (if (parts.length >= 3) parts.takeRight(2) else parts)
            .mkString(".").toLowerCase(java.util.Locale.ROOT))
        names.groupBy(identity).foreach { case (n, vs) =>
          if (vs.size > 1) refuse(s"UNION ALL leg '$n' repeats — a " +
            "repeated leg doubles its rows; union distinct tables") }
        Some(ls)
      case org.apache.spark.sql.catalyst.plans.logical.Distinct(
            _: org.apache.spark.sql.catalyst.plans.logical.Union) =>
        refuse("UNION deduplicates across legs and is not incrementally " +
          "maintainable — use UNION ALL (and COUNT/SUM semantics over " +
          "the bag), or dedup in the aggregate")
      case _ => None
    }
    val (srcParts, filterSql, joinLinks, unionLegs0) = normalize(agg.child) match {
      case r if rel(r).isDefined => (rel(r).get._1, None, Nil, Nil)
      case r if joined(r).isDefined =>
        val (l, js) = joined(r).get; (l, None, js, Nil)
      case u if unionLegsOf(u).isDefined =>
        val ls = unionLegsOf(u).get; (ls.head, None, Nil, ls.tail)
      case LFilter(cond, r) if rel(r).isDefined =>
        (rel(r).get._1, Some(cond.sql), Nil, Nil)
      case LFilter(cond, r) if joined(r).isDefined =>
        val (l, js) = joined(r).get; (l, Some(cond.sql), js, Nil)
      case LFilter(cond, u) if unionLegsOf(u).isDefined =>
        val ls = unionLegsOf(u).get; (ls.head, Some(cond.sql), Nil, ls.tail)
      case other => refuse(
        s"FROM must be a single table, an inner equi-join chain, or a " +
          s"UNION ALL of same-schema tables (got ${other.nodeName})")
    }
    // EXPRESSION DIMS (r16, VERDICT r15 #3): the SELECT list may alias
    // a deterministic scalar expression (`date_trunc('day', ts) AS day`)
    // and GROUP BY either the alias or the expression itself. The alias
    // becomes the state column; maintenance computes it per row.
    def isAggCall(f: UnresolvedFunction): Boolean =
      f.isDistinct || Set("count", "sum", "avg", "mean", "min", "max",
        "first", "last", "collect_list", "collect_set", "stddev", "variance",
        "var_samp", "var_pop", "stddev_samp", "stddev_pop")
        .contains(f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)).mkString("."))
    val aliasExprs: Seq[(String, Expression)] = agg.aggregateExpressions.collect {
      case Alias(e, alias) => (alias, e)
    }
    def dimAliasOf(g: Expression): Option[String] = g match {
      case a: UnresolvedAttribute =>
        aliasExprs.collectFirst {
          case (alias, e) if alias.equalsIgnoreCase(a.name) &&
            !e.isInstanceOf[UnresolvedFunction] => alias
          case (alias, e: UnresolvedFunction)
            if alias.equalsIgnoreCase(a.name) && !isAggCall(e) => alias
        }
      case e =>
        aliasExprs.collectFirst {
          case (alias, se) if se.sql == e.sql => alias }
          .orElse(refuse(s"GROUP BY expression '${e.sql}' has no matching " +
            "SELECT alias — write it as SELECT <expr> AS name … GROUP BY name"))
    }
    val dims = agg.groupingExpressions.map {
      case a: UnresolvedAttribute => dimAliasOf(a).getOrElse(a.name)
      case e => dimAliasOf(e).get
    }
    val dimExprs: Map[String, String] = agg.groupingExpressions.flatMap { g =>
      dimAliasOf(g).map { alias =>
        val e = aliasExprs.find(_._1 == alias).get._2
        if (e.exists {
              case f: UnresolvedFunction => isAggCall(f)
              case _: org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression => true
              case _: org.apache.spark.sql.catalyst.expressions.WindowExpression => true
              case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => true
              case _ => false
            })
          refuse(s"dim expression '$alias' contains an aggregate, window, " +
            "or subquery — dims must be scalar expressions of the row")
        e.foreach {
          case a: UnresolvedAttribute if a.nameParts.length != 1 => refuse(
            s"dim expression '$alias' references qualified column '${a.name}' " +
              "— expression dims must reference unqualified columns")
          case _ => ()
        }
        alias -> e.sql
      }
    }.toMap
    // SELECT-LIST ORDER (r13, ADVICE r12 #2): the published view must
    // project EXACTLY the defining query's output — same columns, same
    // order — so record each output name as encountered (dim
    // passthroughs normalized to the GROUP BY spelling, which is what
    // the state table's columns carry)
    val selectCols = scala.collection.mutable.ArrayBuffer.empty[String]
    // AGGREGATE-INPUT EXPRESSIONS (r16): a deterministic scalar input
    // (`SUM(price * (1 - disc))`) computes per row at the maintenance
    // chokepoint under a hidden `__in_<alias>` column and aggregates as
    // a plain column from there — the whole IVM algebra is unchanged
    val aggIn = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // approx_pct's rank argument: a plain numeric literal in [0,1] —
    // it keys the visible column, so it must be fixed at CREATE (any
    // OTHER rank still serves at query time from the hidden sketch)
    def pctLiteral(e: Expression, alias: String): Double = e match {
      case l: Literal if l.value != null &&
          l.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        val p = l.value match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: java.lang.Number => n.doubleValue()
          case other => refuse(s"approx_pct rank '$other' in '$alias'")
        }
        if (p < 0.0 || p > 1.0) refuse(
          s"approx_pct rank $p in '$alias' — must be in [0,1]")
        p
      case other => refuse(s"approx_pct rank '${other.sql}' in '$alias' — " +
        "must be a numeric literal in [0,1]")
    }
    def inputColOf(e: Expression, alias: String): String = e match {
      case c: UnresolvedAttribute => c.name // qualified check happens below
      case _: UnresolvedStar => refuse(s"'*' input in '$alias'")
      case other =>
        if (other.exists {
              case f: UnresolvedFunction => isAggCall(f)
              case _: org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression => true
              case _: org.apache.spark.sql.catalyst.expressions.WindowExpression => true
              case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => true
              case _ => false
            })
          refuse(s"aggregate input '${other.sql}' in '$alias' contains an " +
            "aggregate, window, or subquery — inputs must be scalar " +
            "expressions of the row")
        other.foreach {
          case a: UnresolvedAttribute if a.nameParts.length != 1 => refuse(
            s"aggregate input in '$alias' references qualified column " +
              s"'${a.name}' — expression inputs must reference unqualified columns")
          case _ => ()
        }
        val name = s"__in_$alias"
        aggIn += name -> other.sql
        name
    }
    val aggs = agg.aggregateExpressions.flatMap {
      case a: UnresolvedAttribute =>
        // case-insensitive, matching Spark's default resolution
        val dim = dims.find(_.equalsIgnoreCase(a.name)).getOrElse(refuse(
          s"output column '${a.name}' is neither a GROUP BY dim nor an aggregate"))
        selectCols += dim
        None // dim passthrough
      case Alias(_, alias) if dimExprs.contains(alias) =>
        selectCols += alias
        None // expression-dim passthrough (computed per row at maintenance)
      case Alias(f: UnresolvedFunction, alias) =>
        selectCols += alias
        val fn = f.nameParts.map(_.toLowerCase).mkString(".")
        if (f.isDistinct) (fn, f.arguments) match {
          // r15: COUNT(DISTINCT col) — bitmap state, see DistinctCol;
          // r16: the input may be a scalar expression
          case ("count", Seq(e)) =>
            Some(DistinctCol(inputColOf(e, alias), alias)): Option[AggSpec]
          case _ => refuse(s"DISTINCT aggregate in '$alias' — only " +
            "COUNT(DISTINCT col) maintains incrementally")
        }
        else (fn, f.arguments) match {
          case ("count", Seq(_: UnresolvedStar)) => Some(CountStar(alias))
          case ("count", Seq(Literal(1, _))) => Some(CountStar(alias))
          case ("count", Seq(e)) => Some(CountCol(inputColOf(e, alias), alias))
          case ("sum", Seq(e)) => Some(SumCol(inputColOf(e, alias), alias))
          case ("avg" | "mean", Seq(e)) => Some(AvgCol(inputColOf(e, alias), alias))
          case ("approx_distinct" | "approx_count_distinct", Seq(e)) =>
            Some(ApproxDistinctCol(inputColOf(e, alias), alias))
          // r18: approx_pct(col, p) — mergeable KLL sketch state; the
          // rank must be a [0,1] literal (it keys the visible column)
          case ("approx_pct", Seq(e, pLit)) =>
            Some(ApproxPctCol(inputColOf(e, alias), alias,
              pctLiteral(pLit, alias)))
          // r18: approx_topk(col, k) — mergeable Misra-Gries state
          case ("approx_topk", Seq(e, kLit)) =>
            val k = kLit match {
              case Literal(v: Int, _) if v >= 1 => v
              case other => refuse(s"approx_topk k '${other.sql}' in " +
                s"'$alias' — must be an INT literal >= 1 (it bounds the " +
                "per-group summary)")
            }
            Some(ApproxTopKCol(inputColOf(e, alias), alias, k))
          // exact/GK percentiles have no incremental state — name the
          // cure instead of the generic refusal (r18, VERDICT r17 #1)
          case ("percentile" | "median" | "percentile_approx" |
                "approx_percentile", _) =>
            refuse(s"'$fn' in '$alias' — exact and GK-estimator " +
              "percentiles have no incremental state; use " +
              "approx_pct(col, p) (mergeable KLL sketch, documented " +
              "approximate, any rank servable from the same state)")
          case ("var_samp" | "variance", Seq(e)) =>
            Some(VarCol(inputColOf(e, alias), alias, pop = false, stddev = false))
          case ("var_pop", Seq(e)) =>
            Some(VarCol(inputColOf(e, alias), alias, pop = true, stddev = false))
          case ("stddev_samp" | "stddev", Seq(e)) =>
            Some(VarCol(inputColOf(e, alias), alias, pop = false, stddev = true))
          case ("stddev_pop", Seq(e)) =>
            Some(VarCol(inputColOf(e, alias), alias, pop = true, stddev = true))
          case ("min", Seq(e)) => Some(MinCol(inputColOf(e, alias), alias))
          case ("max", Seq(e)) => Some(MaxCol(inputColOf(e, alias), alias))
          case _ => refuse(s"aggregate '${f.nameParts.mkString(".")}' in '$alias'")
        }
      case Alias(e, alias) => refuse(s"output '$alias' = '${e.sql}' is not " +
        "a plain dim or a supported aggregate")
      case e => refuse(s"unaliased aggregate '${e.sql}' — every aggregate needs AS alias")
    }
    if (aggs.isEmpty) refuse("no aggregates")
    val dup = (dims ++ aggs.map(_.alias))
      .groupBy(_.toLowerCase(java.util.Locale.ROOT)).collectFirst {
        case (_, vs) if vs.length > 1 => vs.head }
    dup.foreach(n => refuse(s"duplicate output column '$n'"))
    // a GROUP BY dim missing from the SELECT list would make the view's
    // rows non-unique per visible key — refuse loudly (ADVICE r12 #2)
    dims.foreach { dim =>
      if (!selectCols.exists(_.equalsIgnoreCase(dim))) refuse(
        s"GROUP BY dim '$dim' is absent from the SELECT list — the published " +
          "view projects the defining query's exact output")
    }
    // dims and aggregate inputs stay UNQUALIFIED — over a join they must
    // be unambiguous across the two schemas (create() refuses overlaps)
    (dims ++ aggs.collect {
      case CountCol(c, _) => c; case SumCol(c, _) => c; case AvgCol(c, _) => c
      case MinCol(c, _) => c; case MaxCol(c, _) => c; case DistinctCol(c, _) => c
      case ApproxDistinctCol(c, _) => c; case VarCol(c, _, _, _) => c
      case ApproxPctCol(c, _, _) => c; case ApproxTopKCol(c, _, _) => c
    }).find(_.contains(".")).foreach(c => refuse(
      s"column '$c' is qualified — SELECT/GROUP BY columns must be " +
        "unqualified (the join's column namespaces may not overlap)"))
    MvDef(srcParts, dims, aggs, filterSql, selectCols.toSeq, joinLinks, dimExprs,
      aggIn.toMap, unionLegs0)
  }

  /** The computed-column projection chokepoint (r16): expression DIMS
    * and expression AGGREGATE INPUTS materialize on source/delta/
    * regroup rows BEFORE any grouping, so every downstream consumer —
    * state build, delta fold, bitmap maps, regroup semi-joins — treats
    * them as plain columns. Idempotent (withColumn replaces), so a
    * pre-projected regroup snapshot passing through fullState is safe. */
  private def withDimExprs(df: DataFrame, d: MvDef): DataFrame =
    (d.dimExprs.toSeq.sortBy(_._1) ++ d.aggInExprs.toSeq.sortBy(_._1))
      .foldLeft(df) { case (acc, (name, sql)) =>
        acc.withColumn(name, expr(sql))
      }

  /** Computed-column validation at create/regroup: deterministic only —
    * a rand()-derived dim or input would re-bucket/re-value rows on
    * every refresh. */
  private def validateDimExprs(rows: DataFrame, d: MvDef): Unit =
    (d.dimExprs.toSeq.sortBy(_._1) ++ d.aggInExprs.toSeq.sortBy(_._1))
      .foreach { case (name, sql) =>
        val analyzed = rows.select(expr(sql).as(name))
          .queryExecution.analyzed.expressions.head
        if (!analyzed.deterministic) throw new IllegalArgumentException(
          s"materialized view: computed column '$name' ($sql) is " +
            "non-deterministic — maintenance must be a pure function of the row")
      }

  private val CNT = "__cnt"
  private def nCol(a: String) = s"__n_$a"
  private def sCol(a: String) = s"__s_$a"  // AVG's exact hidden sum
  private def dCol(a: String) = s"__d_$a"
  private def dnCol(a: String) = s"__dn_$a"
  private def dMinMaxCol(a: String) = s"__dmm_$a"   // extremum of inserts
  private def delMinMaxCol(a: String) = s"__ddel_$a" // extremum of deletes
  private def bmCol(a: String) = s"__bm_$a"    // distinct: state bitmap map
  private def dbmCol(a: String) = s"__dbm_$a"  // distinct: inserted bitmaps
  private def ddCol(a: String) = s"__dd_$a"    // distinct: delete marker
  private def hllCol(a: String) = s"__hll_$a"  // approx distinct: HLL sketch
  private def dhllCol(a: String) = s"__dhll_$a" // approx distinct: insert sketch
  private def kllCol(a: String) = s"__kll_$a"   // approx pct: KLL sketch
  private def dkllCol(a: String) = s"__dkll_$a" // approx pct: insert sketch
  private def mgCol(a: String) = s"__mg_$a"     // approx topk: MG summary
  private def dmgCol(a: String) = s"__dmg_$a"   // approx topk: insert summary
  private def qCol(a: String) = s"__q_$a"    // variance: exact Σx² (decimal)
  private def dqCol(a: String) = s"__dq_$a"  // variance: signed Σx² delta
  private def danyCol(a: String) = s"__dany_$a" // variance: unsigned touched rows
  private val REGROUP = "__regroup"

  private def hasMinMax(d: MvDef): Boolean = d.aggs.exists {
    case _: MinCol | _: MaxCol => true
    case _ => false
  }
  private def hasDistinct(d: MvDef): Boolean =
    d.aggs.exists(a => a.isInstanceOf[DistinctCol] || a.isInstanceOf[ApproxDistinctCol])
  private def hasKll(d: MvDef): Boolean =
    d.aggs.exists(a => a.isInstanceOf[ApproxPctCol] ||
      a.isInstanceOf[ApproxTopKCol])
  private def hasVar(d: MvDef): Boolean =
    d.aggs.exists(_.isInstanceOf[VarCol])
  /** Aggregates that are self-maintainable under inserts but only
    * conditionally under deletes — they share the targeted-regroup
    * machinery (MIN/MAX r12, COUNT DISTINCT r15). Variance joins in
    * r17 for the OVERFLOW case only: its power sums fold exactly both
    * directions, but a Σx² past DECIMAL(38,0) surfaces NULL and the
    * poisoned group must recompute (ADVICE r16 #1). */
  private def needsRegroup(d: MvDef): Boolean =
    hasMinMax(d) || hasDistinct(d) || hasVar(d) || hasKll(d)

  /** Groups whose var/stddev power sums carry the overflow poison in a
    * FINAL state (NULL Σx or Σx² with n>0 rows). The targeted regroup
    * recomputes poisoned groups from source, so a poison that SURVIVES
    * a commit means the group's true Σx² genuinely exceeds
    * DECIMAL(38,0) — a documented-approximate NULL. create/refresh
    * record this count as `graft.mv.varpoison` in the same commit so
    * the REWRITE can stand down var/stddev queries against a poisoned
    * state and fall back to the direct Welford plan, which still
    * returns a finite double (r18, ADVICE r17 #3). Zero cost for
    * MVs without var columns (never computed, never recorded). */
  private def varPoisonCount(state: DataFrame, d: MvDef): Long = {
    val conds = d.aggs.collect { case VarCol(_, a, _, _) =>
      (col(qCol(a)).isNull || col(sCol(a)).isNull) && col(nCol(a)) > 0 }
    if (conds.isEmpty) 0L else state.filter(conds.reduce(_ || _)).count()
  }

  /** Typed empty `map<bucket, bitmap>` — the distinct state of a group
    * with no non-null values. */
  private def emptyBm: Column = typedLit(Map.empty[Long, Array[Byte]])

  /** `map<bucket, bitmap>` of `c`'s non-null values per dims group —
    * the agg_bitmap_distinct two-level device: per-(group, bucket)
    * bitmaps OR map-side in `bitmap_construct_agg`, one map per group.
    * sort_array makes the stored entry order deterministic. */
  private def bitmapState(rows: DataFrame, d: MvDef, c: String,
                          out: String): DataFrame =
    rows.filter(col(c).isNotNull)
      .groupBy((d.dims.map(col) :+
        expr(s"bitmap_bucket_number(`$c`)").as("__bkt")): _*)
      .agg(expr(s"bitmap_construct_agg(bitmap_bit_position(`$c`))").as("__bm"))
      .groupBy(d.dims.map(col): _*)
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("__bkt"), col("__bm"))))).as(out))

  /** Null-safe LEFT join of per-group bitmap maps onto `base`; a group
    * with no non-null values gets the empty map. */
  private def joinBitmaps(base: DataFrame, bm: DataFrame, d: MvDef,
                          out: String): DataFrame = {
    val r = d.dims.foldLeft(bm)((df, k) => df.withColumnRenamed(k, s"__bk_$k"))
    val cond = d.dims.map(k => col(k) <=> col(s"__bk_$k")).reduce(_ && _)
    base.join(r, cond, "left")
      .drop(d.dims.map(k => s"__bk_$k"): _*)
      .withColumn(out, coalesce(col(out), emptyBm))
  }

  /** Visible distinct count = popcount sum over the map's bitmaps. */
  private def popSum(m: Column): Column =
    aggregate(map_values(m), lit(0L),
      (acc, x) => acc + call_function("bitmap_count", x))

  /** Exact per-row square for the variance power sums: any long² fits
    * in DECIMAL(38,0) (long max² ≈ 8.5e37 < 1e38), so the square is
    * always exact; the SUM over it surfaces overflow as NULL. */
  private def sqExact(c: String): Column = {
    val d = col(c).cast(DecimalType(38, 0))
    d * d
  }

  /** The ONE visible-variance derivation both fullState and merge use
    * (refresh ≡ recompute bit-for-bit on the double): power-sum form
    * (Σx² − (Σx)²/n) / (n or n−1), negative float drift clamped at 0
    * (so stddev never NaNs on a constant column), NULL below the
    * denominator's support. A NULL power sum with n>0 — the decimal
    * SUM's overflow surface — must come out as NULL variance, not 0.0:
    * `greatest` SKIPS nulls, so the clamp only applies to a non-null
    * numerator (r17, ADVICE r16 #1). */
  private def varVisible(s: Column, q: Column, n: Column,
                         pop: Boolean, stddev: Boolean): Column = {
    val nd = n.cast(DoubleType)
    val num = q.cast(DoubleType) - s.cast(DoubleType) * s.cast(DoubleType) / nd
    val v = when(num.isNull, lit(null).cast(DoubleType))
      .otherwise(greatest(num / (if (pop) nd else nd - lit(1.0d)), lit(0.0d)))
    val out = if (stddev) sqrt(v) else v
    when(n > lit(if (pop) 0L else 1L), out)
      .otherwise(lit(null).cast(DoubleType))
  }

  /** Integral-only guard for SUM/COUNT columns (exactness contract). */
  private def validateTypes(d: MvDef, srcSchema: StructType): Unit = {
    def fieldOf(c: String): StructField =
      srcSchema.fields.find(_.name.equalsIgnoreCase(c)) // Spark-default case rule
        .getOrElse(throw new IllegalArgumentException(
          s"materialized view: column $c is not in the source table schema"))
    (d.aggs.collect { case SumCol(c, _) => c; case AvgCol(c, _) => c }
      ++ d.dims.filterNot(d.dimExprs.contains)).foreach(fieldOf)
    d.aggs.collect { case CountCol(c, _) => fieldOf(c); () }
    d.aggs.collect {
      case SumCol(c, a) => ("SUM", c, a)
      case AvgCol(c, a) => ("AVG", c, a)
      case VarCol(c, a, _, _) => ("VAR/STDDEV", c, a)
    }.foreach { case (fn, c, a) =>
      fieldOf(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case dt => throw new IllegalArgumentException(
          s"materialized view: $fn($c) AS $a over ${dt.simpleString} — " +
            "incremental float accumulation drifts vs recompute; SUM/AVG/" +
            "VAR/STDDEV are integral-only (cast to a fixed-point integral " +
            "column upstream)")
      }
    }
    d.aggs.collect { case DistinctCol(c, a) =>
      fieldOf(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        // string ids (r17, VERDICT r16 #5): exact through the per-MV
        // dictionary — the opt-in is enforced at CREATE, not here (an
        // existing dict MV must keep refreshing whatever the session
        // conf says now)
        case StringType => ()
        case dt => throw new IllegalArgumentException(
          s"materialized view: COUNT(DISTINCT $c) AS $a over ${dt.simpleString} — " +
            "bitmap distinct state requires an integral or string column " +
            "(the bitmap's (bucket, position) decomposition is a bijection " +
            "on longs; strings go through the per-MV dictionary); or use " +
            s"approx_distinct($c) — mergeable HLL state, documented approximate")
      }
    }
    d.aggs.collect { case ApproxDistinctCol(c, a) =>
      fieldOf(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType |
             BinaryType => ()
        case dt => throw new IllegalArgumentException(
          s"materialized view: approx_distinct($c) AS $a over ${dt.simpleString} — " +
            "HLL sketch state takes integral, string, or binary columns")
      }
    }
    d.aggs.collect { case ApproxPctCol(c, a, _) =>
      fieldOf(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => ()
        case dt => throw new IllegalArgumentException(
          s"materialized view: approx_pct($c) AS $a over ${dt.simpleString} — " +
            "KLL sketch state ranks numeric columns only (values insert " +
            "as doubles)")
      }
    }
    d.aggs.collect { case ApproxTopKCol(c, a, _) =>
      fieldOf(c).dataType match {
        case StringType => ()
        case dt => throw new IllegalArgumentException(
          s"materialized view: approx_topk($c) AS $a over ${dt.simpleString} — " +
            "Misra-Gries state counts STRING terms (cast or format " +
            "other types explicitly)")
      }
    }
    d.aggs.collect { case m @ (_: MinCol | _: MaxCol) =>
      val (c, a) = m match {
        case MinCol(c0, a0) => (c0, a0); case MaxCol(c0, a0) => (c0, a0)
        case _ => throw new MatchError(m)
      }
      fieldOf(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => ()
        case dt => throw new IllegalArgumentException(
          s"materialized view: MIN/MAX($c) AS $a over ${dt.simpleString} — " +
            "extrema maintain exactly over integral or string columns only " +
            "(float comparisons are exact but float columns are refused for " +
            "consistency with the SUM contract)")
      }
    }
  }

  // ---- exact string COUNT(DISTINCT) via a per-MV dictionary (r17,
  // VERDICT r16 #5): each string-typed DistinctCol gets a sibling
  // APPEND-ONLY dictionary table `<state>__dict_<alias>` mapping
  // key string -> code long; the (bucket, position) bitmap then covers
  // strings exactly through the codes. Injectivity is the whole
  // contract — codes are arbitrary distinct positive longs (the bitmap
  // buckets any long; density buys nothing), assigned max+zipWithIndex
  // over the NEW keys only: two passes, no single-partition sort, and
  // existing codes never rewrite (a key that got two codes would
  // double-count). A superset dictionary is harmless (unused codes flip
  // no stored bit), so keys are collected from UNFILTERED rows and a
  // crash between the dict append and the state commit leaves only
  // spare codes. The HLL approx path stays the default for strings —
  // this exact path is opt-in at CREATE via
  // `spark.graft.mv.distinct.dict=true`.

  /** DistinctCol aliases whose input column is a STRING in `schema` —
    * the aliases that maintain through the dictionary device. */
  private def dictDistinctAliases(d: MvDef, schema: StructType): Seq[(String, String)] =
    d.aggs.collect { case DistinctCol(c, a)
      if schema.fields.find(_.name.equalsIgnoreCase(c))
        .exists(_.dataType == StringType) => (a, c) }

  private def dictBase(stateB: String, alias: String): String =
    s"${stateB}__dict_$alias"

  /** The dictionary's current (key, code) frame — empty if never
    * committed (an MV whose source had no non-null keys yet). */
  private def loadDict(spark: SparkSession, dictB: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dictB/_CURRENT")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      TableFormat.readSnapshot(spark, dictB)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("__dict_key", StringType),
                     StructField("__dict_code", LongType))))
  }

  /** Append codes for the UNSEEN keys of `keys(c)` (append-only: an
    * existing key's code is never rewritten). No-op when every key is
    * covered. */
  private def ensureDictCovers(spark: SparkSession, dictB: String,
                               keys: DataFrame, c: String): Unit = {
    val existing = loadDict(spark, dictB)
    val fresh = keys.select(col(c).as("__dict_key"))
      .filter(col("__dict_key").isNotNull).distinct()
      .join(existing.select("__dict_key"), Seq("__dict_key"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // count(), not isEmpty (r19 opt): fills every cache partition in
      // the one job emptiness costs anyway, so the zipWithIndex pass and
      // the staged write below read the cache instead of recomputing
      // the distinct + anti-join pipeline
      val nFresh = fresh.count()
      if (nFresh > 0) {
        // high-water code from the dict's OWN table props (r20, VERDICT
        // r19 #6): every dict append flows through this path and records
        // the max assigned code in the SAME manifest commit as the keys,
        // so a present prop is exact and the per-ensure max() agg job
        // disappears. Absent prop (first create, pre-r20 dict, or a prop
        // lost to an external rewrite) falls back to the agg. Crash
        // safety is unchanged: a crash between the dict append and the
        // state commit leaves spare codes — harmless (unused codes flip
        // no stored bit) — and the recorded high-water mark still covers
        // them, so a later refresh can never re-issue one.
        val propMax: Option[Long] =
          try TableFormat.manifest(spark, dictB,
              TableFormat.currentVersion(spark, dictB)).props
            .get("graft.dict.maxcode").flatMap(_.toLongOption)
          catch { case _: java.io.FileNotFoundException => None }
        val maxCode = propMax.getOrElse(
          existing.agg(coalesce(max(col("__dict_code")), lit(0L)))
            .head.getLong(0))
        // DISTRIBUTED id assignment: zipWithIndex offsets per partition
        // (one size-collection pass) — new keys never funnel through
        // the driver, so a first-create over millions of distinct ids
        // stays executor-shaped
        val indexed = fresh.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row(r.getString(0), maxCode + i + 1) }
        TableFormat.appendCommit(spark, dictB,
          spark.createDataFrame(indexed,
            StructType(Seq(StructField("__dict_key", StringType),
                           StructField("__dict_code", LongType)))),
          statsCol = None,
          setProps = Map("graft.dict.maxcode" -> (maxCode + nFresh).toString))
      }
    } finally { fresh.unpersist(); () }
  }

  /** Left-join the code for `c` under `out` — NULL only where the key
    * itself is NULL (bitmapState drops those rows, matching the
    * COUNT(DISTINCT) null contract). */
  private def encodeCol(df: DataFrame, dict: DataFrame, c: String,
                        out: String): DataFrame =
    df.join(dict.withColumnRenamed("__dict_key", s"__dk_$out")
              .withColumnRenamed("__dict_code", out),
        col(c) === col(s"__dk_$out"), "left")
      .drop(s"__dk_$out")

  private def dcodeCol(a: String) = s"__dcode_$a"

  /** Full (re)computation of the MV state — used once at CREATE, and the
    * semantic definition the incremental path must match bit-for-bit.
    * `dicts` carries the loaded dictionary per string-distinct alias
    * (r17) — required to cover every key in `src` (create/refresh extend
    * the dict FIRST). */
  def fullState(src: DataFrame, d: MvDef,
                dicts: Map[String, DataFrame] = Map.empty): DataFrame = {
    validateDimExprs(src, d)
    // WHERE filters on source columns first (SQL scoping: the predicate
    // cannot see SELECT aliases), then computed columns project; types
    // validate against the PROJECTED schema so expression inputs
    // (`__in_*`) take the same integral-only contract as plain columns
    val filtered0 = withDimExprs(d.filterSql.map(src.where).getOrElse(src), d)
    validateTypes(d, filtered0.schema)
    val dictAs = dictDistinctAliases(d, filtered0.schema)
    if (dictAs.exists(x => !dicts.contains(x._1)))
      throw new IllegalStateException("materialized view: string " +
        "COUNT(DISTINCT) requires its dictionary — create/refresh must " +
        s"pass dicts for ${dictAs.map(_._1).mkString(", ")}")
    val filtered = dictAs.foldLeft(filtered0) { case (df, (a, c)) =>
      encodeCol(df, dicts(a), c, dcodeCol(a)) }
    def bmInputCol(c: String, a: String): String =
      if (dictAs.exists(_._1 == a)) dcodeCol(a) else c
    val visible: Seq[Column] = d.aggs.map {
      case CountStar(a) => count(lit(1)).as(a)
      case CountCol(c, a) => count(col(c)).as(a)
      case SumCol(c, a) => sum(col(c).cast(LongType)).as(a)
      // visible AVG = exact-sum / exact-count, the SAME double the merge
      // re-derives — an empty/all-null group divides NULL, yielding NULL
      case AvgCol(c, a) =>
        (sum(col(c).cast(LongType)).cast(DoubleType) / count(col(c))).as(a)
      case MinCol(c, a) => min(col(c)).as(a)
      case MaxCol(c, a) => max(col(c)).as(a)
      case DistinctCol(c, a) => countDistinct(col(c)).as(a)
      // documented approximate: the estimate of the group's sketch —
      // the same function applied at merge, so fold ≡ recompute
      case ApproxDistinctCol(c, a) =>
        coalesce(hll_sketch_estimate(hll_sketch_agg(col(c))), lit(0L)).as(a)
      // approx pct (r18): quantile estimate of the group's KLL sketch
      // at the stored rank (NULL for all-null groups — no rank exists)
      case ApproxPctCol(c, a, p) =>
        graft.functions.KllSketch.kll_quantile(
          graft.functions.KllSketch.kll_agg(col(c)), p).as(a)
      // approx topk (r18): the sorted candidate array of the group's
      // Misra-Gries summary (empty array for all-null groups)
      case ApproxTopKCol(c, a, k) =>
        graft.functions.MgSketch.mg_topk(
          graft.functions.MgSketch.mg_agg(col(c), k)).as(a)
      // variance/stddev (r16): the SAME power-sum derivation merge uses.
      // TRY-mode sums (r17, ADVICE r16 #1): overflow must surface as
      // NULL in BOTH ANSI modes — plain SUM throws under ANSI (crashing
      // the refresh) and wraps/nulls under non-ANSI; try_sum gives the
      // one deterministic NULL the poison-regroup machinery handles
      case VarCol(c, a, pop, stddev) =>
        varVisible(try_sum(col(c).cast(LongType)), try_sum(sqExact(c)),
          count(col(c)), pop, stddev).as(a)
    }
    val hidden: Seq[Column] = d.aggs.collect {
      case SumCol(c, a) => Seq(count(col(c)).as(nCol(a)))
      case AvgCol(c, a) =>
        Seq(sum(col(c).cast(LongType)).as(sCol(a)), count(col(c)).as(nCol(a)))
      case ApproxDistinctCol(c, a) => Seq(hll_sketch_agg(col(c)).as(hllCol(a)))
      case ApproxPctCol(c, a, _) =>
        Seq(graft.functions.KllSketch.kll_agg(col(c)).as(kllCol(a)))
      case ApproxTopKCol(c, a, k) =>
        Seq(graft.functions.MgSketch.mg_agg(col(c), k).as(mgCol(a)))
      case VarCol(c, a, _, _) => Seq(
        try_sum(col(c).cast(LongType)).as(sCol(a)),
        try_sum(sqExact(c)).as(qCol(a)),
        count(col(c)).as(nCol(a)))
    }.flatten :+ count(lit(1)).as(CNT)
    val all = visible ++ hidden
    val base = filtered.groupBy(d.dims.map(col): _*).agg(all.head, all.tail: _*)
    // distinct state (r15): the per-group bitmap maps need a two-level
    // aggregation (dims+bucket, then dims), joined back null-safe — the
    // join is |groups| vs |groups|, never row-shaped. String-distinct
    // aliases bitmap their dictionary CODES (r17) — injective, so the
    // popcount equals the string distinct count exactly.
    d.aggs.collect { case DistinctCol(c, a) => (c, a) }
      .foldLeft(base) { case (acc, (c, a)) =>
        joinBitmaps(acc,
          bitmapState(filtered, d, bmInputCol(c, a), bmCol(a)), d, bmCol(a))
      }
  }

  /** Signed per-group delta from a CDF slice. `dicts` as in
    * [[fullState]] (r17): string-distinct insert bitmaps fold over
    * dictionary codes. */
  def deltaAggregate(changes: DataFrame, d: MvDef,
                     dicts: Map[String, DataFrame] = Map.empty): DataFrame = {
    val signed = changes.withColumn("__sign",
      when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
        .otherwise(lit(-1L)))
    val filtered0 = withDimExprs(d.filterSql.map(signed.where).getOrElse(signed), d)
    val dictAs = dictDistinctAliases(d, filtered0.schema)
    if (dictAs.exists(x => !dicts.contains(x._1)))
      throw new IllegalStateException("materialized view: string " +
        "COUNT(DISTINCT) requires its dictionary — refresh must pass " +
        s"dicts for ${dictAs.map(_._1).mkString(", ")}")
    val filtered = dictAs.foldLeft(filtered0) { case (df, (a, c)) =>
      encodeCol(df, dicts(a), c, dcodeCol(a)) }
    def bmInputCol(c: String, a: String): String =
      if (dictAs.exists(_._1 == a)) dcodeCol(a) else c
    val deltas: Seq[Column] = d.aggs.map {
      case CountStar(a) => sum(col("__sign")).as(dCol(a))
      case CountCol(c, a) =>
        sum(when(col(c).isNotNull, col("__sign")).otherwise(lit(0L))).as(dCol(a))
      case SumCol(c, a) => sum(col(c).cast(LongType) * col("__sign")).as(dCol(a))
      // AVG's delta is its hidden SUM's delta (the visible double is
      // derived, never accumulated)
      case AvgCol(c, a) => sum(col(c).cast(LongType) * col("__sign")).as(dCol(a))
      // extrema: the delta carries the INSERTED extremum (folds in) and
      // the DELETED extremum (decides whether the group must regroup)
      case MinCol(c, a) => min(when(col("__sign") === 1L, col(c))).as(dMinMaxCol(a))
      case MaxCol(c, a) => max(when(col("__sign") === 1L, col(c))).as(dMinMaxCol(a))
      // distinct (r15): the delta carries the INSERTED values' bitmaps
      // (joined below — they OR in idempotently) and a DELETE MARKER —
      // a bitmap has presence, not multiplicity, so any delete of a
      // non-null value sends the group to the targeted regroup
      case DistinctCol(c, a) =>
        max(when(col("__sign") === -1L && col(c).isNotNull, lit(1L))).as(ddCol(a))
      // approx distinct (r16): same presence-only reasoning — any delete
      // of a non-null value sends the group to the targeted regroup;
      // the INSERTED values' sketch folds in by union below
      case ApproxDistinctCol(c, a) =>
        max(when(col("__sign") === -1L && col(c).isNotNull, lit(1L))).as(ddCol(a))
      // approx pct (r18): same one-way reasoning — a sketch cannot
      // subtract, so any delete of a non-null value sends the group to
      // the targeted regroup; the INSERTED values' sketch merges below
      case ApproxPctCol(c, a, _) =>
        max(when(col("__sign") === -1L && col(c).isNotNull, lit(1L))).as(ddCol(a))
      // approx topk (r18): counters cannot subtract — delete of a
      // non-null term sends the group to the targeted regroup
      case ApproxTopKCol(c, a, _) =>
        max(when(col("__sign") === -1L && col(c).isNotNull, lit(1L))).as(ddCol(a))
      // variance/stddev (r16): signed power-sum deltas — fully
      // self-maintainable both directions in the representable regime
      // (TRY sums: a delta-side overflow surfaces NULL → regroup, r17)
      case VarCol(c, a, _, _) =>
        try_sum(col(c).cast(LongType) * col("__sign")).as(dCol(a))
    }
    val hidden: Seq[Column] = d.aggs.collect {
      case SumCol(c, a) =>
        Seq(sum(when(col(c).isNotNull, col("__sign")).otherwise(lit(0L))).as(dnCol(a)))
      case AvgCol(c, a) =>
        Seq(sum(when(col(c).isNotNull, col("__sign")).otherwise(lit(0L))).as(dnCol(a)))
      case MinCol(c, a) =>
        Seq(min(when(col("__sign") === -1L, col(c))).as(delMinMaxCol(a)))
      case MaxCol(c, a) =>
        Seq(max(when(col("__sign") === -1L, col(c))).as(delMinMaxCol(a)))
      case ApproxDistinctCol(c, a) =>
        Seq(hll_sketch_agg(when(col("__sign") === 1L, col(c))).as(dhllCol(a)))
      case ApproxPctCol(c, a, _) => Seq(graft.functions.KllSketch
        .kll_agg(when(col("__sign") === 1L, col(c))).as(dkllCol(a)))
      case ApproxTopKCol(c, a, k) => Seq(graft.functions.MgSketch
        .mg_agg(when(col("__sign") === 1L, col(c)), k).as(dmgCol(a)))
      case VarCol(c, a, _, _) => Seq(
        try_sum(sqExact(c) * col("__sign")).as(dqCol(a)),
        sum(when(col(c).isNotNull, col("__sign")).otherwise(lit(0L))).as(dnCol(a)),
        // UNSIGNED touched-row count (r17, ADVICE r16 #1): lets merge
        // tell a legitimately-NULL delta Σx² (no non-null rows in the
        // span) from a delta-side overflow, which must poison → regroup
        count(col(c)).as(danyCol(a)))
    }.flatten :+ sum(col("__sign")).as(s"__d$CNT")
    val all = deltas ++ hidden
    val base = filtered.groupBy(d.dims.map(col): _*).agg(all.head, all.tail: _*)
    d.aggs.collect { case DistinctCol(c, a) => (c, a) }
      .foldLeft(base) { case (acc, (c, a)) =>
        joinBitmaps(acc,
          bitmapState(filtered.filter(col("__sign") === 1L), d,
            bmInputCol(c, a), dbmCol(a)),
          d, dbmCol(a))
      }
  }

  /** One full-outer merge of |groups| rows: state ⊕ delta, dead groups
    * dropped, all-null sums reported as NULL.
    *
    * MIN/MAX fold the INSERTED extremum in directly (`least`/`greatest`
    * skip NULLs) and carry a `__regroup` flag instead of a value when a
    * DELETED extremum could have been the binding one — the classic IVM
    * distinction: extrema are self-maintainable under inserts, only
    * conditionally under deletes. The condition is sharp where it can
    * be: a deleted value strictly WORSE than the stored extremum proves
    * the extremum survived (no regroup); a deleted value tying or
    * beating it — or any delete into a group whose state is absent or
    * all-NULL — marks the group for a targeted recompute. */
  def merge(state: DataFrame, delta: DataFrame, d: MvDef): DataFrame = {
    // NULL-SAFE dim matching: a NULL dim value is a legitimate GROUP BY
    // group — a plain equi-join would leave the state and delta halves
    // of the NULL group unmatched and emit it twice
    val deltaR = d.dims.foldLeft(delta)((df, k) => df.withColumnRenamed(k, s"__k_$k"))
    val cond = d.dims.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    val joined = state.join(deltaR, cond, "full_outer")
    def add(a: String, b: String): Column =
      coalesce(col(a), lit(0L)) + coalesce(col(b), lit(0L))
    val absent = col(CNT).isNull // no state row for this group
    // decimal power-sum merge (variance) — OVERFLOW-AWARE (r17, ADVICE
    // r16 #1): a side's NULL Σx² is zero ONLY when that side provably
    // covered no non-null rows (absent/empty state; untouched span);
    // otherwise NULL means the decimal SUM overflowed and must
    // PROPAGATE — coalescing it to 0 would permanently corrupt the
    // state after one refresh. The merged NULL then trips the VarCol
    // regroup condition below, which recomputes the group from source
    // (restoring refresh ≡ recompute: the true Σx² of the REMAINING
    // rows may well fit again after a delete).
    def mergedQ(a: String): Column = {
      val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0))
      val stateQ = when(absent || coalesce(col(nCol(a)), lit(0L)) === 0L, zero)
        .otherwise(col(qCol(a)))
      val deltaQ = when(coalesce(col(danyCol(a)), lit(0L)) === 0L, zero)
        .otherwise(col(dqCol(a)))
      try_add(stateQ, deltaQ) // the addition's own overflow NULLs too
    }
    // same overflow discipline for the hidden Σx (a long sum overflows
    // two orders before Σx² does on small values, and try_add keeps the
    // NULL deterministic across ANSI modes)
    def mergedS(a: String): Column = {
      val stateS = when(absent || coalesce(col(nCol(a)), lit(0L)) === 0L, lit(0L))
        .otherwise(col(sCol(a)))
      val deltaS = when(coalesce(col(danyCol(a)), lit(0L)) === 0L, lit(0L))
        .otherwise(col(dCol(a)))
      try_add(stateS, deltaS)
    }
    val outAggs: Seq[Column] = d.aggs.map {
      case CountStar(a) => add(a, dCol(a)).as(a)
      case CountCol(c, a) => add(a, dCol(a)).as(a)
      case SumCol(c, a) =>
        when(add(nCol(a), dnCol(a)) > 0, add(a, dCol(a)))
          .otherwise(lit(null).cast(LongType)).as(a)
      // visible AVG re-derives from the merged EXACT sum/count — the
      // identical arithmetic fullState uses, so refresh ≡ recompute
      // bit-for-bit on the double too
      case AvgCol(_, a) =>
        when(add(nCol(a), dnCol(a)) > 0,
          add(sCol(a), dCol(a)).cast(DoubleType) / add(nCol(a), dnCol(a)))
          .otherwise(lit(null).cast(DoubleType)).as(a)
      case MinCol(_, a) => least(col(a), col(dMinMaxCol(a))).as(a)
      case MaxCol(_, a) => greatest(col(a), col(dMinMaxCol(a))).as(a)
      // distinct (r15): the visible count derives from the MERGED
      // bitmap below (withColumn replaces this placeholder in place) —
      // sibling select items cannot reference each other
      case DistinctCol(_, a) => lit(null).cast(LongType).as(a)
      case ApproxDistinctCol(_, a) => lit(null).cast(LongType).as(a)
      case ApproxPctCol(_, a, _) => lit(null).cast(DoubleType).as(a)
      case ApproxTopKCol(_, a, _) =>
        lit(null).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)).as(a)
      // the SAME derivation fullState uses, over the merged exact sums
      case VarCol(_, a, pop, stddev) =>
        varVisible(mergedS(a), mergedQ(a),
          add(nCol(a), dnCol(a)), pop, stddev).as(a)
    }
    val regroupConds: Seq[Column] = d.aggs.collect {
      case MinCol(_, a) =>
        col(delMinMaxCol(a)).isNotNull &&
          (absent || col(a).isNull || col(delMinMaxCol(a)) <= col(a))
      case MaxCol(_, a) =>
        col(delMinMaxCol(a)).isNotNull &&
          (absent || col(a).isNull || col(delMinMaxCol(a)) >= col(a))
      // any delete of a non-null value: presence-only state cannot
      // prove the value still has other rows — regroup (targeted)
      case DistinctCol(_, a) => col(ddCol(a)).isNotNull
      case ApproxDistinctCol(_, a) => col(ddCol(a)).isNotNull
      case ApproxPctCol(_, a, _) => col(ddCol(a)).isNotNull
      case ApproxTopKCol(_, a, _) => col(ddCol(a)).isNotNull
      // overflow poison (r17, ADVICE r16 #1): a TOUCHED group whose
      // merged Σx² came out NULL with n>0 rows recomputes from source —
      // the only exact answer once a power sum is unrepresentable.
      // Untouched groups (no delta row) are skipped: their stored NULL
      // was itself a recompute's answer, still current.
      case VarCol(_, a, _, _) =>
        col(s"__d$CNT").isNotNull && add(nCol(a), dnCol(a)) > 0 &&
          (mergedQ(a).isNull || mergedS(a).isNull)
    }
    val outHidden: Seq[Column] = (d.aggs.collect {
      case SumCol(_, a) => Seq(add(nCol(a), dnCol(a)).as(nCol(a)))
      case AvgCol(_, a) => Seq(
        when(add(nCol(a), dnCol(a)) > 0, add(sCol(a), dCol(a)))
          .otherwise(lit(null).cast(LongType)).as(sCol(a)),
        add(nCol(a), dnCol(a)).as(nCol(a)))
      // merged bitmap: key-union zip, per-bucket byte OR (idempotent —
      // a re-inserted value flips no bit)
      case DistinctCol(_, a) => Seq(
        map_zip_with(coalesce(col(bmCol(a)), emptyBm),
          coalesce(col(dbmCol(a)), emptyBm),
          (_, v1, v2) => when(v1.isNull, v2).when(v2.isNull, v1)
            .otherwise(graft.functions.HashKernels.bitmap_or2(v1, v2)))
          .as(bmCol(a)))
      // merged sketch: HLL union (register max) — null-safe on either
      // side (absent state row / insert-free span)
      case ApproxDistinctCol(_, a) => Seq(
        when(col(hllCol(a)).isNull, col(dhllCol(a)))
          .when(col(dhllCol(a)).isNull, col(hllCol(a)))
          .otherwise(hll_union(col(hllCol(a)), col(dhllCol(a))))
          .as(hllCol(a)))
      // merged KLL sketch (r18): pairwise union — null-safe on either
      // side (absent state row / insert-free span); an empty delta
      // sketch merges as a no-op
      case ApproxPctCol(_, a, _) => Seq(
        when(col(kllCol(a)).isNull, col(dkllCol(a)))
          .when(col(dkllCol(a)).isNull, col(kllCol(a)))
          .otherwise(graft.functions.KllSketch.kll_union2(
            col(kllCol(a)), col(dkllCol(a))))
          .as(kllCol(a)))
      // merged MG summary (r18): PODS'12 pairwise combine at bound k
      case ApproxTopKCol(_, a, k) => Seq(
        when(col(mgCol(a)).isNull, col(dmgCol(a)))
          .when(col(dmgCol(a)).isNull, col(mgCol(a)))
          .otherwise(graft.functions.MgSketch.mg_union2(
            col(mgCol(a)), col(dmgCol(a)), k))
          .as(mgCol(a)))
      // merged power sums (all-null groups report NULL, mirroring AVG,
      // so the state matches a recompute's NULL sums bit-for-bit; an
      // overflow-NULL Σx² propagates and the group regroups — r17)
      case VarCol(_, a, _, _) => Seq(
        when(add(nCol(a), dnCol(a)) > 0, mergedS(a))
          .otherwise(lit(null).cast(LongType)).as(sCol(a)),
        when(add(nCol(a), dnCol(a)) > 0, mergedQ(a))
          .otherwise(lit(null).cast(DecimalType(38, 0))).as(qCol(a)),
        add(nCol(a), dnCol(a)).as(nCol(a)))
    }.flatten :+ add(CNT, s"__d$CNT").as(CNT)) ++
      (if (needsRegroup(d))
         Seq(regroupConds.reduce(_ || _).as(REGROUP))
       else Nil)
    val dimsOut = d.dims.map(k => coalesce(col(k), col(s"__k_$k")).as(k))
    val merged0 = joined
      .select((dimsOut ++ outAggs ++ outHidden): _*)
      .filter(col(CNT) > 0)
    val merged1 = d.aggs.collect { case DistinctCol(_, a) => a }
      .foldLeft(merged0)((df, a) => df.withColumn(a, popSum(col(bmCol(a)))))
    val merged2 = d.aggs.collect { case ApproxDistinctCol(_, a) => a }
      .foldLeft(merged1)((df, a) => df.withColumn(a,
        coalesce(hll_sketch_estimate(col(hllCol(a))), lit(0L))))
    // approx pct (r18): the visible estimate re-derives from the MERGED
    // sketch — the same probe fullState applies, at the stored rank
    val merged3 = d.aggs.collect { case ApproxPctCol(_, a, p) => (a, p) }
      .foldLeft(merged2) { case (df, (a, p)) => df.withColumn(a,
        graft.functions.KllSketch.kll_quantile(col(kllCol(a)), p)) }
    // approx topk (r18): the candidate array re-derives from the
    // merged summary through the shared mg_topk surface
    d.aggs.collect { case ApproxTopKCol(_, a, _) => a }
      .foldLeft(merged3)((df, a) => df.withColumn(a,
        graft.functions.MgSketch.mg_topk(col(mgCol(a)))))
  }

  /** The user-visible projection (hidden bookkeeping columns dropped) —
    * EXACTLY the defining query's SELECT list, in its order (r13,
    * ADVICE r12 #2): what `SELECT * FROM mv` and the oracle compare. */
  def visibleColumns(d: MvDef): Seq[String] = d.selectCols

  /** MV state tables in `srcBase`'s namespace directory that declare
    * `srcBase` as their SINGLE source — rewrite candidates for an
    * aggregate query over the source (r15, VERDICT r14 #2). Driver-side
    * metadata only: one directory listing plus one manifest-props read
    * per sibling `*__state` table; join MVs are excluded here (their
    * defining shape is not a single-relation aggregate — see
    * [[joinCandidatesFor]]). Sorted by path for a deterministic
    * first-match. Returns (stateBase, stateVersion, props). */
  def candidatesFor(spark: SparkSession, srcBase: String)
      : Seq[(String, Int, Map[String, String])] =
    sweepFor(spark, srcBase) match {
      case None => Seq.empty
      case Some((srcRel, all)) =>
        all.filter(c => !c._3.contains("graft.mv.src2") &&
          c._3.get("graft.mv.src").contains(srcRel))
    }

  /** The stored chain-source list of an MV's props: `graft.mv.src`
    * plus `graft.mv.src2`, `src3`, … in order. */
  def mvSrcsOf(props: Map[String, String]): Seq[String] =
    props.get("graft.mv.src").toSeq ++
      Iterator.from(2).map(i => props.get(s"graft.mv.src$i"))
        .takeWhile(_.isDefined).flatten

  /** JOIN-MV candidates (r16, VERDICT r15 #2; N-table r16): sibling
    * state tables whose recorded source SET equals the query's joined
    * base set — inner joins commute and associate, so ORDER is
    * irrelevant here (the rewrite verifies the key-pair set per
    * candidate). Same sweep/cache as [[candidatesFor]]. */
  def joinCandidatesFor(spark: SparkSession, bases: Seq[String])
      : Seq[(String, Int, Map[String, String])] = {
    val rels = bases.map { b =>
      val p = new org.apache.hadoop.fs.Path(b)
      val db = p.getParent
      if (db == null) return Seq.empty
      s"${db.getName}.${p.getName}"
    }
    // distinct bases only (self-joins never match an MV — create
    // refuses their overlapping namespace)
    if (rels.distinct.size != rels.size) return Seq.empty
    val want = rels.map(_.toLowerCase).toSet
    // sweep EVERY distinct chain source's namespace (r17, ADVICE r16
    // #2): the MV's state table lives in the db the MV was CREATED in,
    // which need not be the query's first-listed table's db. Dedup by
    // state path (same-db sources share a sweep via the cache).
    val all = bases
      .distinctBy(b => Option(new org.apache.hadoop.fs.Path(b).getParent)
        .map(_.toUri.getPath))
      .flatMap(b => sweepFor(spark, b).map(_._2).getOrElse(Nil))
      .distinctBy(_._1).sortBy(_._1)
    all.filter { c =>
      val srcs = mvSrcsOf(c._3).map(_.toLowerCase)
      !c._3.get("graft.mv.shape").contains("union") &&
        srcs.size == want.size && srcs.toSet == want
    }
  }

  /** UNION-MV candidates (r19): sibling state tables whose stored
    * shape is `union` and whose leg table SET equals the query's —
    * bag union commutes, so leg order is irrelevant. Same sweep/cache
    * as [[joinCandidatesFor]]; the shape marker keeps join and union
    * MVs over the same table set from cross-matching. */
  def unionCandidatesFor(spark: SparkSession, bases: Seq[String])
      : Seq[(String, Int, Map[String, String])] = {
    val rels = bases.map { b =>
      val p = new org.apache.hadoop.fs.Path(b)
      val db = p.getParent
      if (db == null) return Seq.empty
      s"${db.getName}.${p.getName}"
    }
    if (rels.distinct.size != rels.size) return Seq.empty
    val want = rels.map(_.toLowerCase).toSet
    val all = bases
      .distinctBy(b => Option(new org.apache.hadoop.fs.Path(b).getParent)
        .map(_.toUri.getPath))
      .flatMap(b => sweepFor(spark, b).map(_._2).getOrElse(Nil))
      .distinctBy(_._1).sortBy(_._1)
    all.filter { c =>
      val srcs = mvSrcsOf(c._3).map(_.toLowerCase)
      c._3.get("graft.mv.shape").contains("union") &&
        srcs.size == want.size && srcs.toSet == want
    }
  }

  /** The namespace sweep shared by the candidate lookups: every sibling
    * `*__state` table's (base, head version, props) — single-source AND
    * join MVs; callers filter. Returns the source's `db.table` spelling
    * alongside. */
  private def sweepFor(spark: SparkSession, srcBase: String)
      : Option[(String, Seq[(String, Int, Map[String, String])])] = {
    val srcP = new org.apache.hadoop.fs.Path(srcBase)
    val dbDir = srcP.getParent
    if (dbDir == null) return None
    val srcRel = s"${dbDir.getName}.${srcP.getName}"
    // `spark.graft.mv.rewrite.cacheMs` (r15, default 0 = off): memoize
    // the per-namespace candidate sweep for object-store sessions with
    // many MVs. Staleness is SAFE by construction — every failure mode
    // is a MISSED rewrite, never a wrong answer: an unseen new MV or a
    // stale bookmark just fails the per-query freshness check (which
    // always reads the source's live head), and a dropped MV's dead
    // state path is skipped by the probe's exception guard at match
    // time via the pinned-version schema read.
    val ttl = spark.conf.getOption("spark.graft.mv.rewrite.cacheMs")
      .flatMap(_.toLongOption).getOrElse(0L)
    val key = dbDir.toUri.getPath
    if (ttl > 0) {
      val now = System.currentTimeMillis()
      Option(candidateCache.get(key)) match {
        case Some((at, cands)) if now - at <= ttl => return Some((srcRel, cands))
        case _ => ()
      }
    }
    val fs = srcP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dbDir)) return None
    // sweep EVERY state table in the namespace once (the cache serves
    // all source tables of the namespace), filter per caller after
    val all = fs.listStatus(dbDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.endsWith("__state"))
      .map(_.getPath.toUri.getPath).sorted
      .flatMap { sb =>
        try {
          val v = TableFormat.currentVersion(spark, sb)
          val props = TableFormat.manifest(spark, sb, v).props
          if (props.contains("graft.mv.query") && props.contains("graft.mv.src"))
            Some((sb, v, props))
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    if (ttl > 0) candidateCache.put(key, (System.currentTimeMillis(), all))
    Some((srcRel, all))
  }

  /** Namespace-dir → (sweep instant, all MV candidates, joins included). */
  private val candidateCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Seq[(String, Int, Map[String, String])])]()

  // ---- procedures' entry points ------------------------------------

  private def srcPath(warehouse: String, d: MvDef): String =
    (warehouse +: d.srcRelative).mkString("/")

  /** Every chain/union table's path, first table included. */
  private def srcPaths(warehouse: String, d: MvDef): Seq[String] =
    srcPath(warehouse, d) +:
      (d.joins.map(l => (warehouse +: l.srcRelative).mkString("/")) ++
       d.unionLegs.map { parts =>
         val rel = if (parts.length >= 3) parts.takeRight(2) else parts
         (warehouse +: rel).mkString("/")
       })

  /** Fold the chain tables' frames into the inner-join of all of them
    * (r13 two-table, r16 N-table): each link's condition resolves its
    * prefix columns against the RECORDED earlier frame (Spark keeps the
    * lineage through the join), so composite keys and snowflake chains
    * need no qualified-name games; same-named key pairs drop the new
    * side's column, keeping the joined namespace the disjoint union
    * create() validated. Any frame may carry extra columns
    * (`_change_type` on a delta half); they ride along. */
  private def joinChain(dfs: Seq[DataFrame], d: MvDef): DataFrame = {
    // a later link may reference a prefix column an EARLIER link
    // deduped away (same-named key pair) — the join equated it with its
    // surviving endpoint, so resolving through the survivor is exact
    val remap: Map[(Int, String), (Int, String)] =
      d.joins.zipWithIndex.flatMap { case (link, i) =>
        link.pairs.collect { case (pIdx, pc, rc) if pc.equalsIgnoreCase(rc) =>
          ((i + 1, rc.toLowerCase), (pIdx, pc)) }
      }.toMap
    def colOf(idx: Int, c: String): Column = remap.get((idx, c.toLowerCase)) match {
      case Some((pi, pc)) => colOf(pi, pc)
      case None => dfs(idx)(c)
    }
    d.joins.zipWithIndex.foldLeft(dfs.head) { case (acc, (link, i)) =>
      val b = dfs(i + 1)
      val cond = link.pairs.map { case (pIdx, pc, rc) =>
        colOf(pIdx, pc) === b(rc) }.reduce(_ && _)
      // LEFT OUTER links (r17) join outer; dedup keeps the LEFT key,
      // which stays non-null on null-extended rows — the standard
      // USING-style output
      val j = acc.join(b, cond, if (link.outer) "left_outer" else "inner")
      link.dupCols.foldLeft(j)((df, rc) => df.drop(b(rc)))
    }
  }

  /** The joined chain at a VERSION VECTOR — what fullState aggregates
    * at CREATE, what a regroup rescans, and the semantic definition the
    * incremental delta must match bit-for-bit. */
  private def joinedSnapshot(spark: SparkSession, warehouse: String, d: MvDef,
                             vs: Seq[Int]): DataFrame =
    joinChain(srcPaths(warehouse, d).zip(vs).map { case (p, v) =>
      TableFormat.readSnapshot(spark, p, Some(v)) }, d)

  /** The UNION ALL of all legs at a VERSION VECTOR (r19 union MVs) —
    * what fullState aggregates at CREATE and a regroup rescans. */
  private def unionSnapshot(spark: SparkSession, warehouse: String, d: MvDef,
                            vs: Seq[Int]): DataFrame =
    srcPaths(warehouse, d).zip(vs).map { case (p, v) =>
      TableFormat.readSnapshot(spark, p, Some(v)) }.reduce(_ unionByName _)

  /** Signed delta of a UNION ALL source (r19): Δ(⋃ᵢ Sᵢ) = ⋃ᵢ ΔSᵢ
    * under bag semantics — each changed leg's CDF rows union with
    * their own `_change_type`, and the single-source per-group fold
    * applies the same ±1 signs it always does. Change-free legs
    * contribute nothing. */
  private def unionDelta(spark: SparkSession, warehouse: String, d: MvDef,
                         froms: Seq[Int], tos: Seq[Int]): DataFrame = {
    val paths = srcPaths(warehouse, d)
    paths.indices.filter(i => tos(i) != froms(i)).map { i =>
      TableFormat.readChanges(spark, paths(i), froms(i), tos(i))
    }.reduce(_ unionByName _)
  }

  /** N-sided signed delta of an inner-join chain (r13 two-table,
    * VERDICT r12 #7; r16 N-table) — the telescoping counting-IVM
    * identity:
    *
    *   Δ(S₁ ⋈ … ⋈ S_N) = Σᵢ S₁^old ⋈ … ⋈ S_{i−1}^old ⋈ ΔSᵢ
    *                        ⋈ S_{i+1}^new ⋈ … ⋈ S_N^new
    *
    * (exact under signed multiplicities — expand the product of
    * (old + Δ) terms and the cross terms telescope). Each half keeps
    * its own CDF `_change_type`, so the downstream per-group fold
    * applies the same ±1 signs the single-source path uses; update
    * images pair as pre(−1)/post(+1) rows and the algebra absorbs
    * them. IO: the ΔSᵢ half reads the other chain tables once, pruned
    * by the join (a small Δ broadcasts under AQE); change-free tables
    * contribute no half. */
  private def joinDelta(spark: SparkSession, warehouse: String, d: MvDef,
                        froms: Seq[Int], tos: Seq[Int]): DataFrame = {
    val paths = srcPaths(warehouse, d)
    val outCols: Seq[Column] = {
      val colsPerTable = paths.zip(froms).map { case (p, v) =>
        TableFormat.readSnapshot(spark, p, Some(v)).columns.toSeq }
      val joined = colsPerTable.head ++
        d.joins.zipWithIndex.flatMap { case (link, i) =>
          colsPerTable(i + 1).filterNot(c =>
            link.dupCols.exists(_.equalsIgnoreCase(c)))
        }
      (joined :+ "_change_type").map(col)
    }
    val halves = paths.indices.filter(i => tos(i) != froms(i)).map { i =>
      joinChain(paths.indices.map { j =>
        if (j < i) TableFormat.readSnapshot(spark, paths(j), Some(froms(j)))
        else if (j == i) TableFormat.readChanges(spark, paths(j), froms(j), tos(j))
        else TableFormat.readSnapshot(spark, paths(j), Some(tos(j)))
      }, d)
    }
    halves.map(_.select(outCols: _*)).reduce(_ unionByName _)
  }

  /** TWO-TABLE LEFT-OUTER delta (r17, r18 candidate #4) — the exact
    * null-compensation IVM:
    *
    *   Δ(F ⟕ D) = [ΔF ⟕ D_new] + [F_old ⋈ ΔD] + flip corrections
    *
    * Derivation: split F ⟕ D = (F ⋈ D) ⊎ ((F anti D) × nulls). The
    * inner part telescopes as usual — ΔF⋈D_new rides inside ΔF⟕D_new's
    * matched half, F_old⋈ΔD is its own half. The anti part's delta is
    * (ΔF anti D_new) — ΔF⟕D_new's null-extended half — PLUS
    * (F_old anti D_new − F_old anti D_old): exactly the F_old rows
    * whose join key's D-presence FLIPPED across the span. Presence
    * 0→+ DELETES the old null-extended row (sign −1); presence +→0
    * INSERTS the new one (+1). A key's presence can only flip at a key
    * ΔD touched, so the correction scan is F_old SEMI-JOINED to the
    * flipped-key set — targeted, never a full fact rescan; NULL-keyed
    * rows never match anything and never flip (SQL join semantics). */
  private def outerJoinDelta(spark: SparkSession, warehouse: String, d: MvDef,
                             froms: Seq[Int], tos: Seq[Int]): DataFrame = {
    val paths = srcPaths(warehouse, d)
    val m = d.joins.length
    val olds: Seq[DataFrame] = paths.indices.map(i =>
      TableFormat.readSnapshot(spark, paths(i), Some(froms(i))))
    val news: Seq[DataFrame] = paths.indices.map(i =>
      TableFormat.readSnapshot(spark, paths(i), Some(tos(i))))
    // kept (non-dedup'd) columns per dim table — the joined namespace
    val dimKeeps: Seq[Seq[String]] = d.joins.zipWithIndex.map { case (link, i) =>
      olds(i + 1).columns.toSeq.filterNot(c =>
        link.dupCols.exists(_.equalsIgnoreCase(c))) }
    val outCols: Seq[Column] =
      (olds(0).columns.toSeq ++ dimKeeps.flatten :+ "_change_type").map(col)
    // fold links [fromLink, toLink) onto `start` — each link's OWN
    // join type (mixed chains, r18: inner links stay inner), except
    // the Δ hop's MATCHED half always joins INNER (for an outer Δ hop
    // the null-extension boundaries are the flip corrections' job).
    // Prefix key columns resolve BY NAME: create() validated the chain
    // namespaces disjoint, and a dedup'd same-named key survives as
    // the left side's column.
    def foldLinks(start: DataFrame, frame: Int => DataFrame,
                  fromLink: Int, toLink: Int, innerAt: Int): DataFrame =
      (fromLink until toLink).foldLeft(start) { case (acc, li) =>
        val link = d.joins(li)
        val b = frame(li + 1)
        val cond = link.pairs.map { case (_, pc, rc) =>
          acc(pc) === b(rc) }.reduce(_ && _)
        val j = acc.join(b, cond,
          if (li == innerAt || !link.outer) "inner" else "left_outer")
        link.dupCols.foldLeft(j)((df, rc) => df.drop(b(rc)))
      }
    val halves = Seq.newBuilder[DataFrame]
    if (tos(0) != froms(0)) {
      // ΔF ⟕ D₁^new ⟕ … ⟕ D_m^new: fact-delta rows match or
      // null-extend down the whole chain, _change_type from the feed
      val dF = TableFormat.readChanges(spark, paths(0), froms(0), tos(0))
      halves += foldLinks(dF, news, 0, m, innerAt = -1).select(outCols: _*)
    }
    // per-hop halves — the recursive two-table identity applied at
    // every level (exact by LEFT-LINEARITY of ⟕: each left row emits
    // its matched/null-extended outputs independently, so
    // Δ(L ⟕ D) = ΔL ⟕ D_new + L_old ⋈ ΔD + presence-flip corrections,
    // and hop i's terms continue through hops i+1… at NEW versions
    // while hop i+1's own halves re-use the PURE-OLD prefix):
    for (i <- 1 to m; if tos(i) != froms(i)) {
      val link = d.joins(i - 1)
      val dD = TableFormat.readChanges(spark, paths(i), froms(i), tos(i))
      // matched half: (F ⟕ D₁ … D_{i-1})^old ⋈ ΔD_i ⟕ D_{i+1}^new …
      val prefixOldM = foldLinks(olds(0), olds, 0, i - 1, innerAt = -1)
      halves += foldLinks(
        foldLinks(prefixOldM, _ => dD, i - 1, i, innerAt = i - 1),
        news, i, m, innerAt = -1).select(outCols: _*)
      // flip corrections at hop i — OUTER hops only (an inner hop's
      // delta is fully covered by its matched half, r18 mixed chains):
      // keys ΔD_i touched whose D_i-presence crossed zero move
      // prefix-old rows between the NULL region and their matched
      // region — semi-join-targeted, never a prefix rescan; NULL-keyed
      // prefix rows never match and never flip
      if (link.outer) {
      val dKeys = link.pairs.map(_._3)
      def keySet(df: DataFrame): DataFrame =
        df.select(dKeys.map(col): _*).na.drop("any").distinct()
      val changed = keySet(dD)
      val zeroToSome = changed
        .join(keySet(news(i)), dKeys, "left_semi")
        .join(keySet(olds(i)), dKeys, "left_anti")
      val someToZero = changed
        .join(keySet(olds(i)), dKeys, "left_semi")
        .join(keySet(news(i)), dKeys, "left_anti")
      // prefix-old rows for a flip-key set, null-extended at hop i,
      // then continued through hops i+1… at NEW versions (a hop-i+1
      // key referencing the nulled D_i columns null-extends in turn —
      // SQL join semantics compose)
      def nullExtended(flips: DataFrame, changeType: String): DataFrame = {
        val fk = link.pairs.map { case (_, pc, rc) => (pc, rc) }
        val renamed = fk.foldLeft(flips) { case (df, (pc, rc)) =>
          df.withColumnRenamed(rc, s"__flip_$pc") }
        val prefixOld = foldLinks(olds(0), olds, 0, i - 1, innerAt = -1)
        val cond = fk.map { case (pc, _) =>
          prefixOld(pc) === renamed(s"__flip_$pc") }.reduce(_ && _)
        val base = prefixOld.join(renamed, cond, "left_semi")
        val withDims = dimKeeps(i - 1).foldLeft(base) { (df, c) =>
          df.withColumn(c, lit(null).cast(
            olds(i).schema(olds(i).columns.indexOf(c)).dataType)) }
        foldLinks(withDims, news, i, m, innerAt = -1)
          .withColumn("_change_type", lit(changeType))
          .select(outCols: _*)
      }
      halves += nullExtended(zeroToSome, "delete")
      halves += nullExtended(someToZero, "insert")
      }
    }
    halves.result().reduce(_ unionByName _)
  }

  /** The session catalog NAME serving `warehouse` — stored as the view
    * descriptor's resolution context so the MV's read surface resolves
    * from any session context. */
  private def catalogNameFor(spark: SparkSession, warehouse: String): String = {
    val confs = spark.conf.getAll
    confs.collectFirst {
      case (k, v) if k.startsWith("spark.sql.catalog.") &&
          !k.stripPrefix("spark.sql.catalog.").contains(".") &&
          v == classOf[graft.sources.GraftCatalog].getName &&
          confs.get(s"$k.warehouse").contains(warehouse) =>
        k.stripPrefix("spark.sql.catalog.")
    }.getOrElse(throw new IllegalArgumentException(
      s"materialized view: no graft catalog registered over warehouse $warehouse"))
  }

  /** Resolve a source's outstanding equality deletes before pinning or
    * advancing a bookmark (r15) — see the call sites in create/refresh. */
  private def resolveSrcEqDels(spark: SparkSession, src: String): Unit = {
    if (TableFormat.manifest(spark, src,
        TableFormat.currentVersion(spark, src)).eqDels.nonEmpty) {
      TableFormat.resolveEqDeletes(spark, src)
      ()
    }
  }

  /** The MV's physical STATE table sits beside the published name. */
  private def stateBase(mvBase: String): String = s"${mvBase}__state"

  /** Public face of [[resolveState]] for the maintenance procedure
    * (r18, VERDICT r17 #5) plus the MV's DICTIONARY siblings — the
    * whole physical footprint `graft.system.mv_maintain` compacts and
    * expires in one call. Every refresh is a full-state `replace`
    * commit, so a long-lived MV (and especially a STREAMING
    * foreachBatch maintenance loop — one version per micro-batch)
    * accumulates manifests and superseded state files without bound
    * until compact + expire run; mv_maintain is the one-call answer. */
  def maintenanceTargets(spark: SparkSession, mvBase0: String): Seq[String] = {
    val sb = resolveState(spark, mvBase0)
    val p = new org.apache.hadoop.fs.Path(sb)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    val dicts =
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).toSeq
          .map(_.getPath)
          .filter(_.getName.startsWith(s"${p.getName}__dict_"))
          .map(_.toString).sorted
      else Seq.empty
    sb +: dicts
  }

  /** Resolve the base a refresh operates on: the published name is a
    * VIEW over `<name>__state` (r12 surface), but a bare state table at
    * the name itself (the pre-view layout) still refreshes. */
  private def resolveState(spark: SparkSession, mvBase: String): String = {
    val fs = new org.apache.hadoop.fs.Path(mvBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (GraftViews.exists(fs, mvBase)) stateBase(mvBase) else mvBase
  }

  /** CREATE: pin the source's current version v0, publish the full
    * aggregate at v0 into the `__state` table (bookkeeping in the same
    * commit), then publish the MV's NAME as a stored VIEW projecting
    * only the user-declared columns — `SELECT … FROM graft.db.mv` shows
    * the clean aggregate schema while the liveness/null counters stay
    * an implementation detail of the state table (which remains fully
    * addressable: time travel, DESCRIBE DETAIL, vacuum).
    * Returns (mv_version, n_groups, src_version). */
  def create(spark: SparkSession, warehouse: String, mvBase: String,
             query: String): (Int, Long, Int) = {
    val d = parseDef(spark, query)
    val src = srcPath(warehouse, d)
    val fs = new org.apache.hadoop.fs.Path(mvBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sb = stateBase(mvBase)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$mvBase/_CURRENT")) ||
        fs.exists(new org.apache.hadoop.fs.Path(s"$sb/_CURRENT")) ||
        GraftViews.exists(fs, mvBase))
      throw new IllegalArgumentException(
        s"materialized view: $mvBase already exists — drop it first")
    val catName = catalogNameFor(spark, warehouse)
    val relParts = mvBase.stripPrefix(s"$warehouse/").split('/').toSeq
    // equality-mode sources self-heal (r15): outstanding eq deletes
    // resolve BEFORE the bookmark pins — a bookmark inside an
    // unresolved span could never serve as a change-feed start (the
    // CDF cannot see the masks), bricking the first refresh
    resolveSrcEqDels(spark, src)
    srcPaths(warehouse, d).drop(1).foreach(resolveSrcEqDels(spark, _))
    // JOIN MVs (r13 two-table, r16 N-table): pin EVERY chain source's
    // version; each new table's column namespace must be disjoint from
    // the joined prefix (outside the equal-named keys it dedups) or
    // every downstream unqualified reference would be ambiguous
    val paths = srcPaths(warehouse, d)
    val v0s = paths.map(TableFormat.currentVersion(spark, _))
    val v0 = v0s.head
    // UNION legs share ONE column namespace (r19): every leg must carry
    // the same column set — a missing/extra column would silently NULL
    // or widen under unionByName where the definition's SQL errors
    if (d.unionLegs.nonEmpty) {
      val colsPerLeg = paths.zip(v0s).map { case (p, pv) =>
        TableFormat.readSnapshot(spark, p, Some(pv))
          .columns.map(_.toLowerCase).toSet
      }
      colsPerLeg.zip(d.tableRels).drop(1).foreach { case (cols, rel) =>
        if (cols != colsPerLeg.head) throw new IllegalArgumentException(
          s"materialized view: UNION ALL leg $rel's columns " +
            s"(${cols.toSeq.sorted.mkString(", ")}) differ from the first " +
            s"leg's (${colsPerLeg.head.toSeq.sorted.mkString(", ")}) — " +
            "legs must share one schema")
      }
    }
    if (d.joins.nonEmpty) {
      val colsPerTable = paths.zip(v0s).map { case (p, pv) =>
        TableFormat.readSnapshot(spark, p, Some(pv)).columns.map(_.toLowerCase).toSeq
      }
      var prefix = colsPerTable.head.toSet
      d.joins.zipWithIndex.foreach { case (link, i) =>
        val bCols = colsPerTable(i + 1)
        val dups = link.dupCols.map(_.toLowerCase).toSet
        val overlap = prefix.intersect(bCols.toSet).diff(dups)
        if (overlap.nonEmpty) throw new IllegalArgumentException(
          s"materialized view: join table ${link.srcRelative.mkString(".")} " +
            s"shares column(s) ${overlap.mkString(", ")} with the joined " +
            "prefix — rename so every reference is unambiguous")
        prefix ++= bCols.filterNot(dups)
      }
    }
    val seed =
      if (d.joins.nonEmpty) joinedSnapshot(spark, warehouse, d, v0s)
      else if (d.unionLegs.nonEmpty) unionSnapshot(spark, warehouse, d, v0s)
      else TableFormat.readSnapshot(spark, src, Some(v0))
    // exact string COUNT(DISTINCT) via the per-MV dictionary (r17,
    // VERDICT r16 #5) — OPT-IN at create; the HLL approx path stays the
    // recommended default for string ids
    val seedP = withDimExprs(seed, d)
    val dictAs = dictDistinctAliases(d, seedP.schema)
    if (dictAs.nonEmpty &&
        !spark.conf.getOption("spark.graft.mv.distinct.dict").contains("true"))
      throw new IllegalArgumentException(
        s"materialized view: COUNT(DISTINCT ${dictAs.head._2}) over a " +
          "string column — two cures: approx_distinct(" +
          s"${dictAs.head._2}) (mergeable HLL state, documented " +
          "approximate, the recommended default), or SET " +
          "spark.graft.mv.distinct.dict=true to maintain an EXACT " +
          "append-only per-MV string dictionary (codes never rewrite; " +
          "the dictionary grows with the distinct key count)")
    val dicts: Map[String, DataFrame] = dictAs.map { case (a, c) =>
      val db = dictBase(sb, a)
      // a stale dictionary from a dropped namesake would alias old
      // codes onto new keys — clear it (the MV itself was create-refused
      // above if any state existed)
      fs.delete(new org.apache.hadoop.fs.Path(db), true)
      ensureDictCovers(spark, db, seedP, c)
      a -> loadDict(spark, db)
    }.toMap
    val state0 = fullState(seed, d, dicts)
    // var poison audit (r18, ADVICE r17 #3): persisted so the count and
    // the committed write share one computation of the state aggregate
    val state = if (hasVar(d))
      state0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else state0
    val poisonProps: Map[String, String] =
      if (hasVar(d)) Map("graft.mv.varpoison" -> varPoisonCount(state, d).toString)
      else Map.empty
    val v = TableFormat.appendCommit(spark, sb, state,
      statsCol = None, setProps = Map(
        "graft.mv.query" -> query,
        "graft.mv.src" -> d.srcRelative.mkString("."),
        "graft.mv.version" -> v0.toString) ++
        d.tableRels.drop(1).zipWithIndex.flatMap { case (rel, i) => Map(
          s"graft.mv.src${i + 2}" -> rel,
          s"graft.mv.version${i + 2}" -> v0s(i + 1).toString) }.toMap ++
        (if (d.unionLegs.nonEmpty) Map("graft.mv.shape" -> "union")
         else Map.empty[String, String]) ++
        poisonProps)
    if (hasVar(d)) { state.unpersist(); () }
    // the published read surface: a stored view over the state table,
    // resolution pinned to this catalog (2-part name + stored context)
    val visible = visibleColumns(d)
    val stateRel = (relParts.init :+ s"${relParts.last}__state").mkString(".")
    val viewSchema = org.apache.spark.sql.types.StructType(
      visible.map(n => state.schema.fields.find(_.name == n).getOrElse(
        throw new IllegalStateException(
          s"materialized view: visible column $n missing from state schema"))))
    GraftViews.write(fs, mvBase, GraftViews.Desc(
      sql = s"SELECT ${visible.mkString(", ")} FROM $stateRel",
      currentCatalog = catName,
      currentNamespace = Seq.empty,
      schemaJson = viewSchema.json,
      queryColumnNames = visible,
      columnAliases = Seq.empty,
      columnComments = Seq.empty,
      properties = Map("graft.mv" -> "true")), overwrite = false)
    // group count from the committed manifest's footer rows (r19 opt):
    // the state files were just written, so the metadata count is the
    // scan's answer with zero jobs; fall back to the scan if any entry
    // lacks a row count
    val n = TableFormat.liveRowCount(spark, sb, v).getOrElse(
      TableFormat.readSnapshot(spark, sb, Some(v)).count())
    (v, n, v0)
  }

  /** DROP: remove the published view AND the state table — the pair is
    * one logical object; dropping only the view would orphan the state
    * and block a re-create. Idempotent on a half-dropped MV. Returns
    * (dropped_view, dropped_state). */
  def drop(spark: SparkSession, mvBase: String): (Boolean, Boolean) = {
    val fs = new org.apache.hadoop.fs.Path(mvBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vDropped = GraftViews.drop(fs, mvBase)
    val sb = new org.apache.hadoop.fs.Path(stateBase(mvBase))
    val sDropped = fs.delete(sb, true)
    // dictionary siblings (r17) are part of the same logical object
    val parent = sb.getParent
    if (parent != null && fs.exists(parent))
      fs.listStatus(parent)
        .filter(_.getPath.getName.startsWith(s"${sb.getName}__dict_"))
        .foreach(st => fs.delete(st.getPath, true))
    (vDropped, sDropped)
  }

  /** Refresh-time AUTO MAINTENANCE (r18, r19 candidate #4 pulled
    * forward): when the state table declares
    * `graft.mv.maintain.every = N` (TBLPROPERTIES on the `__state`
    * table), every Nth refresh commit runs the SAME compact + expire
    * pair `graft.system.mv_maintain` runs — state and dict siblings
    * alike — so a streaming foreachBatch maintenance loop keeps a
    * bounded footprint with ZERO operator involvement. Optional
    * companions: `graft.mv.maintain.retain` (versions kept, default 3)
    * and `graft.mv.maintain.older-ms` (expire window; ABSENT = each
    * table's own retention floor, so time travel inside the declared
    * window always survives unattended maintenance). Failures are
    * swallowed with a warning — maintenance must never fail a refresh
    * that already committed. */
  private def autoMaintain(spark: SparkSession, mvBase: String, v: Int): Unit =
    try {
      val props = TableFormat.manifest(spark, mvBase, v).props
      val every = props.get("graft.mv.maintain.every")
        .flatMap(_.toIntOption).getOrElse(0)
      if (every > 0 && v % every == 0) {
        val keep = props.get("graft.mv.maintain.retain")
          .flatMap(_.toIntOption).getOrElse(3)
        val olderMs = props.get("graft.mv.maintain.older-ms")
          .flatMap(_.toLongOption)
        graft.sources.GraftProcedures.mvMaintainCore(
          spark, mvBase, olderMs, keep)
        ()
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[mv] auto-maintain failed on $mvBase: ${e.getMessage}")
    }

  /** REFRESH: fold the source CDF from the bookmark to now into the MV.
    * Reads ONLY the changed versions' rows; a change-free span (or a
    * pure-maintenance span — compact/optimize emit no CDF rows) advances
    * the bookmark with a metadata-only commit. maxRetries = 0 on the
    * data commit: a concurrent refresh losing the manifest CAS must NOT
    * blindly re-publish its now-stale fold — it fails loudly for the
    * caller to re-run against the winner's state.
    * Returns (mv_version, src_from, src_to, n_groups). */
  def refresh(spark: SparkSession, warehouse: String,
              mvBase0: String): (Int, Int, Int, Long, Long) = {
    val mvBase = resolveState(spark, mvBase0)
    val mvV = TableFormat.currentVersion(spark, mvBase)
    val props = TableFormat.manifest(spark, mvBase, mvV).props
    val query = props.getOrElse("graft.mv.query",
      throw new IllegalArgumentException(
        s"materialized view: $mvBase carries no graft.mv.query — not an MV"))
    val fromV = props("graft.mv.version").toInt
    val d = parseDef(spark, query)
    val src = srcPath(warehouse, d)
    // equality-mode sources self-heal (r15): the MV loop resolves the
    // source's outstanding eq deletes first — the same deferred join
    // compact/purge_dv pay — so an equality-mode CDC mirror refreshes
    // without an operator in the loop. The resolve is a normal source
    // commit; the refreshed span then ends at the resolved head.
    val paths = srcPaths(warehouse, d)
    paths.foreach(resolveSrcEqDels(spark, _))
    // join MVs (r13 two-table, r16 N-table): every chain source's span
    // rides the same bookmark discipline — ALL versions advance in the
    // ONE state commit below
    val fromVs = fromV +: paths.indices.drop(1).map(i =>
      props(s"graft.mv.version${i + 1}").toInt)
    val toVs = paths.map(TableFormat.currentVersion(spark, _))
    val toV = toVs.head
    paths.indices.foreach { i =>
      require(toVs(i) >= fromVs(i), s"materialized view: source ${paths(i)} " +
        s"moved BACKWARD (${fromVs(i)} -> ${toVs(i)}) — a restore rewrote " +
        "applied history; re-create the MV")
    }
    if (toVs == fromVs) return (mvV, fromV, toV, -1L, 0L)
    val bookmarks = Map("graft.mv.version" -> toV.toString) ++
      paths.indices.drop(1).map(i =>
        s"graft.mv.version${i + 1}" -> toVs(i).toString).toMap
    val changes =
      if (d.joins.nonEmpty) {
        if (d.joins.exists(_.outer)) outerJoinDelta(spark, warehouse, d, fromVs, toVs)
        else joinDelta(spark, warehouse, d, fromVs, toVs)
      }
      else if (d.unionLegs.nonEmpty) unionDelta(spark, warehouse, d, fromVs, toVs)
      else TableFormat.readChanges(spark, src, fromV, toV)
    // string-distinct dictionaries (r17): cover the span's NEW keys
    // BEFORE the fold — append-only, so existing codes never move; keys
    // come from the unfiltered delta (a superset dictionary is harmless)
    val dicts: Map[String, DataFrame] = {
      val dictAs = dictDistinctAliases(d, withDimExprs(changes, d).schema)
      if (dictAs.isEmpty) Map.empty
      else {
        val keysSrc = withDimExprs(changes, d)
        dictAs.map { case (a, c) =>
          ensureDictCovers(spark, dictBase(mvBase, a), keysSrc, c)
          a -> loadDict(spark, dictBase(mvBase, a))
        }.toMap
      }
    }
    val delta = deltaAggregate(changes, d, dicts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // count(), not isEmpty (r19 opt): emptiness must run the delta
      // aggregation either way, and count() materializes EVERY cache
      // partition in that one job, so the merge below reads the cache
      // instead of recomputing the partitions isEmpty's limit-1 skipped
      if (delta.count() == 0L) {
        // maintenance-only span: bookmark(s) advance, data untouched
        val v = TableFormat.alterPropsCommit(spark, mvBase, bookmarks)
        autoMaintain(spark, mvBase, v)
        (v, fromV, toV, 0L, 0L)
      } else {
        val state = TableFormat.readSnapshot(spark, mvBase, Some(mvV))
        val merged0 = merge(state, delta, d)
        // MIN/MAX + COUNT DISTINCT targeted regroup: only groups whose
        // delete could have changed the answer recompute, via ONE source
        // scan semi-joined to exactly those groups (insert-only spans
        // and non-binding deletes never rescan the source)
        val (merged, nRegrouped) =
          if (!needsRegroup(d)) (merged0, 0L)
          else {
            val m = merged0.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val marked = m.filter(col(REGROUP)).select(d.dims.map(col): _*).distinct()
            val nMarked = marked.count()
            val folded = m.filter(!col(REGROUP)).drop(REGROUP)
            val out =
              if (nMarked == 0) folded
              else {
                // expression dims project onto the source BEFORE the
                // semi-join: the marked groups carry the COMPUTED dim
                // values, which plain source rows don't have yet (r16)
                val srcNow = withDimExprs(
                  if (d.joins.nonEmpty) joinedSnapshot(spark, warehouse, d, toVs)
                  else if (d.unionLegs.nonEmpty)
                    unionSnapshot(spark, warehouse, d, toVs)
                  else TableFormat.readSnapshot(spark, src, Some(toV)), d)
                val mk = d.dims.foldLeft(marked)(
                  (df, k) => df.withColumnRenamed(k, s"__k_$k"))
                val semiCond = d.dims.map(
                  k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
                val regrouped = fullState(
                  srcNow.join(broadcast(mk), semiCond, "left_semi"), d, dicts)
                folded.unionByName(regrouped)
              }
            (out, nMarked)
          }
        // var poison audit (r18, ADVICE r17 #3): count on the FINAL
        // state (post-regroup — only a genuinely unrepresentable Σx²
        // survives it), persisted so the count and the committed write
        // share one computation of the regroup's source scan
        val mergedP = if (hasVar(d))
          merged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else merged
        val poisonProps: Map[String, String] =
          if (hasVar(d))
            Map("graft.mv.varpoison" -> varPoisonCount(mergedP, d).toString)
          else Map.empty
        val v = TableFormat.appendCommit(spark, mvBase, mergedP,
          statsCol = None, replace = true, maxRetries = 0,
          setProps = bookmarks ++ poisonProps)
        merged0.unpersist()
        if (hasVar(d)) { mergedP.unpersist(); () }
        autoMaintain(spark, mvBase, v)
        // metadata-only group count (r19 opt): the replace commit just
        // wrote fresh files, so summing their manifest row counts equals
        // the scan it replaces — one fewer full state read per refresh
        val n = TableFormat.liveRowCount(spark, mvBase, v).getOrElse(
          TableFormat.readSnapshot(spark, mvBase, Some(v)).count())
        (v, fromV, toV, n, nRegrouped)
      }
    } finally { delta.unpersist(); () }
  }
}

package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, Cast, Divide, EvalMode, Expression, HllSketchEstimate,
  Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Average, Count, HllUnionAgg, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Transparent AGGREGATE-QUERY REWRITE over registered materialized
  * views (io28) — the optimizer half of the MV contract (Goldstein &
  * Larson, "Optimizing queries using materialized views"): a user
  * writes the groupBy against the BASE table; when a registered view
  * matches, the plan is rewritten to scan the (keys-sized) view
  * instead of the (table-sized) base — the 100 TB aggregate answers
  * from megabytes without the query author knowing the view exists.
  *
  * Matching is deliberately STRICT — a wrong rewrite is a wrong
  * answer, so every check failing falls back to the base scan:
  *   - the aggregate child must be the base table's file scan (its
  *     root paths exactly the registered snapshot-version dirs),
  *     optionally under attribute-only Projects and Filters whose
  *     predicates reference view KEY columns only (filter
  *     containment, io31: key-only predicates commute with the
  *     grouping, so they replay on the keys-sized view) — no join,
  *     no expression Project, no predicate on a non-key column;
  *   - grouping must be the view's key columns exactly (projection
  *     rewrite), or a strict SUBSET of them (ROLLUP rewrite: the view
  *     itself re-aggregates — count rolls up as sum(mv_count), sums
  *     as sum(sum_c), both abelian so the rollup is exact);
  *   - every output must be a grouping key, `count(1)`/`count(*)`
  *     (no DISTINCT, no FILTER clause), or `sum(<registered col>)`,
  *     with matching result types.
  *
  * FRESHNESS is structural, not checked: registration records the
  * base version's data dirs, and a snapshot read of any LATER version
  * scans a different dir set — so a stale view simply stops matching
  * (re-register after refresh). Rewritten outputs keep the original
  * expression ids, so parent operators (sort, limit, downstream
  * joins) are untouched.
  *
  * Wiring: [[enable]] appends the rule to
  * `spark.experimental.extraOptimizations` (session-scoped, works on
  * any live session); cluster deployments get it for every session
  * via `spark.sql.extensions=graft.GraftExtensions`
  * (injectOptimizerRule). The rule is idempotent — a rewritten plan
  * has no matching Aggregate — so AQE re-optimization passes are
  * safe. */
object MvRewrite extends Rule[LogicalPlan] {

  /** One registered view: the base version's qualified data dirs it
    * reflects, the view's own qualified data dirs to scan instead,
    * and the aggregate spec it materializes. `distinctCols` names
    * columns whose approx_count_distinct may answer from the view's
    * HLL registers (io34) — set ONLY by the distinct-view
    * registration, because the rewrite swaps one approximate
    * estimator (HLL++) for another (Datasketches): values change
    * within the approx contract, so serving from the sketch is an
    * explicit OPT-IN declared at registration, never inferred. */
  final case class Entry(baseDirs: Set[String], mvDirs: Seq[String],
      keyCols: Seq[String], sumCols: Set[String],
      distinctCols: Set[String] = Set.empty,
      minMaxCols: Set[String] = Set.empty)

  /** Per-session registry cell: the live entries plus this session's
    * OWN sweep-cadence state. `gen` advances on every mutation — the
    * eviction pass below uses it to detect a concurrent registration
    * between its liveness snapshot and its evicting write (a
    * just-re-registered entry's dirs may have reappeared; evicting
    * from a stale snapshot would drop it). `sinceSweep`/`sweeps`
    * living HERE (not in JVM-global atomics, the r14 shape) keeps one
    * session's registration cadence from consuming another's sweep
    * budget in a multi-session process, and makes the
    * threshold-crossing decision atomic under compute's bin lock —
    * no two threads can both observe the crossing and double-sweep. */
  private final case class RegState(gen: Long, sinceSweep: Long,
      sweeps: Long, entries: List[Entry])

  private val registry =
    new ConcurrentHashMap[SparkSession, RegState]()

  def register(spark: SparkSession, e: Entry): Unit = {
    // idempotent: gates re-register per run; duplicate entries would
    // grow the per-plan match list across a long session for nothing.
    // Registration also EVICTS entries whose base or view dirs no
    // longer exist (dropped scratch tables, vacuumed versions): such
    // an entry can never match again — its baseDirs set names dirs no
    // scan will ever carry — so keeping it only taxes every later
    // Aggregate with one more guaranteed-miss comparison. Eviction
    // happens here (registration-rate IO), never in apply() (per-plan
    // hot path) — and it is GATED: the sweep stats every live entry's
    // dirs, so sweeping on every registration is O(N²) filesystem
    // metadata calls across N registrations. Sweep only when the list
    // has grown past `sweepMinSize` AND every `sweepEvery`-th
    // registration since the last sweep — amortized O(N²/sweepEvery),
    // and a session with a handful of views never sweeps at all.
    def alive(x: Entry): Boolean =
      (x.baseDirs.iterator ++ x.mvDirs.iterator)
        .forall(d => graft.Fs.exists(spark, d))
    // Phase 1 — one atomic compute: merge `e` and advance THIS
    // session's cadence. The counter reset happens inside the same
    // bin-locked decision, so exactly one of any set of racing
    // registrations observes the threshold crossing (the r14
    // incrementAndGet-then-set(0) pair let two threads both cross
    // and double-sweep). The counter is NOT reset while the registry
    // is below sweepMinSize — it keeps accumulating so the first
    // registration at full size sweeps immediately.
    var snap: RegState = null
    var doSweep = false
    registry.compute(spark, (_, cur0) => {
      val cur = Option(cur0).getOrElse(RegState(0L, 0L, 0L, Nil))
      val since = cur.sinceSweep + 1
      doSweep = since >= sweepEvery && cur.entries.size >= sweepMinSize
      val entries =
        if (cur.entries.contains(e)) cur.entries else e :: cur.entries
      snap = RegState(cur.gen + 1, if (doSweep) 0L else since,
        cur.sweeps + (if (doSweep) 1L else 0L), entries)
      snap
    })
    // Phase 2 — liveness probes OUTSIDE the map lock (filesystem IO
    // must not sit inside compute's bin lock), then a gen-checked
    // evicting write: if any concurrent registration advanced `gen`
    // since the snapshot, skip the eviction entirely — the racing
    // entry may be a re-registration whose dirs just reappeared, and
    // the next sweep re-probes everything anyway (eviction is an
    // opportunistic tax cut, never required for correctness).
    if (doSweep) {
      val dead = snap.entries.iterator
        .filter(x => x != e && !alive(x)).toSet
      if (dead.nonEmpty) {
        registry.computeIfPresent(spark, (_, cur) =>
          if (cur.gen != snap.gen) cur
          else cur.copy(gen = cur.gen + 1,
            entries = cur.entries.filterNot(dead)))
        ()
      }
    }
  }

  // eviction-sweep gating: probe dirs at most every `sweepEvery`
  // registrations, and only once the registry is big enough for a
  // guaranteed-miss tax to matter. The per-session `sweeps` counter
  // (read via [[sweepCount]]) lets a spec pin registration cost
  // sublinear in sweep frequency.
  private val sweepEvery = 8
  private val sweepMinSize = 8

  def clear(spark: SparkSession): Unit = registry.remove(spark)

  /** Test-only: live entry count for `spark`'s registry. */
  private[graft] def registered(spark: SparkSession): Int =
    Option(registry.get(spark)).map(_.entries.size).getOrElse(0)

  /** Test-only: sweeps run on behalf of `spark`'s registry (resets
    * with [[clear]], like the rest of the per-session state). */
  private[graft] def sweepCount(spark: SparkSession): Long =
    Option(registry.get(spark)).map(_.sweeps).getOrElse(0L)

  /** Append this rule to the session's extra optimizations (once). */
  def enable(spark: SparkSession): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(this))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ this
    }

  /** Test-only instrumentation: (Aggregate node × entry) match
    * attempts apply() has made — the overhead spec pins that a plan
    * with A aggregates and N registered views costs ≤ A·N attempts
    * (and a plan with NO aggregate costs zero), so a long session's
    * registry taxes only Aggregate nodes, linearly. */
  private[graft] val matchAttempts = new java.util.concurrent.atomic.AtomicLong()

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val entries = SparkSession.getActiveSession
      .flatMap(s => Option(registry.get(s))).fold(List.empty[Entry])(_.entries)
    if (entries.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(grouping, aggExprs, child, _) =>
        entries.view.flatMap { e =>
          matchAttempts.incrementAndGet()
          rewrite(e, grouping, aggExprs, child)
        }.headOption.getOrElse(agg)
    }
  }

  /** The scan's qualified root paths plus any Filter conditions found
    * on the way down, looking through attribute-only Projects; None
    * for any other shape (join/expression Project — both change
    * aggregate semantics vs the view). Filters are collected (ANDed by
    * the caller) — [[rewrite]] accepts them only when every referenced
    * column is a view KEY column: key-only predicates commute with the
    * grouping (every row of a key group shares the key values, so
    * filtering rows ≡ filtering groups) and replay on the keys-sized
    * view (io31 filter containment). */
  private def scanDirs(child: LogicalPlan)
      : Option[(Set[String], Seq[Expression])] =
    child match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          Some((fs.location.rootPaths.map(_.toString).toSet, Nil))
        case _ => None
      }
      case Project(ps, grand)
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        scanDirs(grand)
      case Filter(cond, grand) =>
        scanDirs(grand).map { case (dirs, conds) => (dirs, cond +: conds) }
      case _ => None
    }

  private def isCountStar(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case Count(Seq(Literal(_, _))) => true
      case _ => false
    })

  private def summedCol(ae: AggregateExpression): Option[String] =
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
      case s: Sum => s.child match {
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
      case _ => None
    }

  /** avg(<col>) over an INTEGRAL column — answered as
    * sum_<col> / cnt_<col> when the view was built `withAvg` (io33):
    * cnt is the NON-NULL count avg actually divides by. Identical to
    * the native result while the exact integer sum stays below 2^53 —
    * the same envelope in which the native double accumulation is
    * itself order-deterministic; the rewrite guard requires the
    * view's sum to be LongType, so float sums (order-sensitive on
    * both paths) never rewrite. */
  private def avgCol(ae: AggregateExpression): Option[String] =
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
      case a: Average => a.child match {
        case attr: AttributeReference => Some(attr.name)
        case _ => None
      }
      case _ => None
    }

  /** min(<col>) / max(<col>) — answered from a min/max view's
    * min_<col> / max_<col> columns (io35); rollups re-aggregate
    * (min of mins / max of maxes — both exact). Returns (col,
    * isMin). */
  private def minMaxCol(ae: AggregateExpression): Option[(String, Boolean)] =
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
      case m: Min => m.child match {
        case attr: AttributeReference => Some((attr.name, true))
        case _ => None
      }
      case m: Max => m.child match {
        case attr: AttributeReference => Some((attr.name, false))
        case _ => None
      }
      case _ => None
    }

  /** approx_count_distinct(<col>) — answered from the distinct view's
    * HLL registers when the entry OPTED IN via `distinctCols`
    * (io34). */
  private def approxDistinctCol(ae: AggregateExpression): Option[String] =
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
      case h: HyperLogLogPlusPlus => h.child match {
        case attr: AttributeReference => Some(attr.name)
        case _ => None
      }
      case _ => None
    }

  private def rewrite(e: Entry, grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val (dirs, filterConds) = scanDirs(child).getOrElse(return None)
    if (dirs != e.baseDirs) return None
    // filter containment: every predicate must be deterministic,
    // subquery-free, and reference KEY columns only — anything else
    // (a predicate on a summed or un-materialized column) falls back
    if (filterConds.exists(c => !c.deterministic ||
        c.exists(_.isInstanceOf[SubqueryExpression]) ||
        !c.references.forall(a => e.keyCols.contains(a.name))))
      return None
    val groupAttrs = grouping.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val groupNames = groupAttrs.map(_.name)
    // exact-key match → pure projection of the view; a strict SUBSET
    // of the view's keys → ROLLUP: re-aggregate the (keys-sized) view
    // itself — count rolls up as sum(mv_count), sums as sum(sum_c)
    // (both abelian, so the rollup is exact). Anything else → no
    // rewrite.
    val exact = groupNames.sorted == e.keyCols.sorted
    val rollup = !exact && groupNames.toSet.subsetOf(e.keyCols.toSet) &&
      groupNames.distinct == groupNames
    if (!exact && !rollup) return None
    val spark = SparkSession.getActiveSession.getOrElse(return None)
    // a fresh tiny analyzed plan for the view's files, its schema read
    // from their footers on the driver (no inference job inside the
    // optimizer); resolved here so failure (vacuumed dirs, schema
    // drift) falls back to the base scan
    val mvRel =
      try graft.Fs.readParquet(spark, e.mvDirs).queryExecution.analyzed
      catch { case NonFatal(_) => return None }
    val mvOut = mvRel.output.map(a => a.name -> a).toMap
    def mvCol(name: String): Option[Attribute] = mvOut.get(name)
    def keyFor(a: AttributeReference): Option[NamedExpression] = {
      val c = mvCol(a.name).getOrElse(return None)
      if (c.dataType != a.dataType) None
      else Some(Alias(c, a.name)(exprId = a.exprId))
    }
    // replay key-only filters on the view: remap each attribute to the
    // view's column of the same name (type-checked), AND them under one
    // Filter node; the aggregate/projection below reads the filtered view
    val mvChild: LogicalPlan =
      if (filterConds.isEmpty) mvRel
      else {
        val remapped = filterConds.map(_.transform {
          case a: AttributeReference =>
            val c = mvCol(a.name).getOrElse(return None)
            if (c.dataType != a.dataType) return None
            c
        })
        Filter(remapped.reduce(And), mvRel)
      }
    if (exact) {
      val proj: Seq[NamedExpression] = aggExprs.map {
        case a: AttributeReference => keyFor(a).getOrElse(return None)
        case al @ Alias(ae: AggregateExpression, name) if isCountStar(ae) =>
          val c = mvCol("mv_count").getOrElse(return None)
          if (c.dataType != ae.dataType) return None
          Alias(c, name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name)
            if avgCol(ae).isDefined =>
          val sc = avgCol(ae).get
          if (!e.sumCols.contains(sc)) return None
          val s = mvCol(s"sum_$sc").getOrElse(return None)
          val c = mvCol(s"cnt_$sc").getOrElse(return None)
          if (s.dataType != LongType || ae.dataType != DoubleType) return None
          // LEGACY eval mode, exactly as Average's own evaluateExpression:
          // a refreshed all-NULL-measure group has sum_=0/cnt_=0 and must
          // yield NULL, not an ANSI DIVIDE_BY_ZERO at runtime
          Alias(Divide(Cast(s, DoubleType), Cast(c, DoubleType),
            EvalMode.LEGACY), name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name)
            if approxDistinctCol(ae).isDefined =>
          val dc = approxDistinctCol(ae).get
          if (!e.distinctCols.contains(dc)) return None
          val h = mvCol(s"hll_$dc").getOrElse(return None)
          val est = HllSketchEstimate(h)
          if (est.dataType != ae.dataType) return None
          Alias(est, name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name)
            if minMaxCol(ae).isDefined =>
          val (mc, isMin) = minMaxCol(ae).get
          if (!e.minMaxCols.contains(mc)) return None
          val c = mvCol(if (isMin) s"min_$mc" else s"max_$mc")
            .getOrElse(return None)
          if (c.dataType != ae.dataType) return None
          Alias(c, name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name) =>
          val sc = summedCol(ae).getOrElse(return None)
          if (!e.sumCols.contains(sc)) return None
          val c = mvCol(s"sum_$sc").getOrElse(return None)
          if (c.dataType != ae.dataType) return None
          Alias(c, name)(exprId = al.exprId)
        case al @ Alias(a: AttributeReference, name) =>
          val c = mvCol(a.name).getOrElse(return None)
          if (c.dataType != a.dataType) return None
          Alias(c, name)(exprId = al.exprId)
        case _ => return None
      }
      Some(Project(proj, mvChild))
    } else {
      def sumOf(name: String): Option[AggregateExpression] =
        mvCol(name).map(c => Sum(c).toAggregateExpression())
      val outs: Seq[NamedExpression] = aggExprs.map {
        case a: AttributeReference => keyFor(a).getOrElse(return None)
        case al @ Alias(ae: AggregateExpression, name) if isCountStar(ae) =>
          val s = sumOf("mv_count").getOrElse(return None)
          if (s.dataType != ae.dataType) return None
          Alias(s, name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name)
            if avgCol(ae).isDefined =>
          val sc = avgCol(ae).get
          if (!e.sumCols.contains(sc)) return None
          val sAttr = mvCol(s"sum_$sc").getOrElse(return None)
          if (sAttr.dataType != LongType || ae.dataType != DoubleType)
            return None
          val s = sumOf(s"sum_$sc").getOrElse(return None)
          val c = sumOf(s"cnt_$sc").getOrElse(return None)
          // LEGACY for the same reason as the exact branch: rolled-up
          // groups whose cnt sums to 0 must produce NULL under ANSI
          Alias(Divide(Cast(s, DoubleType), Cast(c, DoubleType),
            EvalMode.LEGACY), name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name)
            if approxDistinctCol(ae).isDefined =>
          val dc = approxDistinctCol(ae).get
          if (!e.distinctCols.contains(dc)) return None
          val h = mvCol(s"hll_$dc").getOrElse(return None)
          val est = HllSketchEstimate(
            new HllUnionAgg(h).toAggregateExpression())
          if (est.dataType != ae.dataType) return None
          Alias(est, name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name)
            if minMaxCol(ae).isDefined =>
          val (mc, isMin) = minMaxCol(ae).get
          if (!e.minMaxCols.contains(mc)) return None
          val c = mvCol(if (isMin) s"min_$mc" else s"max_$mc")
            .getOrElse(return None)
          if (c.dataType != ae.dataType) return None
          val agg = (if (isMin) Min(c) else Max(c)).toAggregateExpression()
          Alias(agg, name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name) =>
          val sc = summedCol(ae).getOrElse(return None)
          if (!e.sumCols.contains(sc)) return None
          val s = sumOf(s"sum_$sc").getOrElse(return None)
          if (s.dataType != ae.dataType) return None
          Alias(s, name)(exprId = al.exprId)
        case al @ Alias(a: AttributeReference, name) =>
          val c = mvCol(a.name).getOrElse(return None)
          if (c.dataType != a.dataType) return None
          Alias(c, name)(exprId = al.exprId)
        case _ => return None
      }
      val groupCols: Seq[Expression] = groupAttrs.map(a =>
        mvCol(a.name).getOrElse(return None))
      Some(Aggregate(groupCols, outs, mvChild))
    }
  }
}

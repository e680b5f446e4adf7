package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained AGGREGATE materialized view over a
  * snapshot table (io26/sw37) — the "don't rescan 100 TB to refresh a
  * dashboard" primitive every lakehouse deployment ends up building:
  *
  *   - `build` computes `GROUP BY keyCols → (count, sum(sumCols))`
  *     over the table's LATEST snapshot and publishes the result as a
  *     snapshot table of its own (so the MV itself is versioned,
  *     time-travelable, and CAS-committed like any other table),
  *     recording the base-table version it reflects.
  *   - `refresh` reads ONLY the Delta-CDF change feed between the
  *     recorded base version and the current one
  *     ([[Sources.snapshotChangesCdf]]), folds it into per-key deltas
  *     (insert/update_postimage rows add, delete/update_preimage rows
  *     subtract — count and sum are abelian-group aggregates, so the
  *     delta is exact), and merges the delta into the old MV with one
  *     keyed full-outer join. Keys whose count reaches zero leave the
  *     view. Work ∝ |changes| + |view|, never ∝ |table|.
  *
  * EXACTNESS: counts and sums of integral/decimal columns maintain
  * bit-identically to a full recompute (the io26 gate proves refresh ≡
  * rebuild under a DuckDB oracle). Float sums are order-sensitive —
  * cast to decimal first (the FeatureScaler moment-artifact rule).
  * Non-subtractable aggregates (min/max) use the second canonical IVM
  * strategy instead — affected-group re-aggregation
  * ([[buildMinMax]]/[[refreshMinMax]]).
  *
  * CONCURRENCY: one refresher per MV (the scheduler's contract —
  * Delta's OPTIMIZE has the same shape). The MV commit itself is an
  * overwrite through the CAS protocol, so a racing second refresher
  * fails loudly at the commit point instead of corrupting the view.
  *
  * At 100 TB: the CDF join touches two pinned snapshot scans of the
  * base table — at production commit cadence `fromVersion` is recent,
  * and with range-clustered ingest (io11/io18) both scans prune to
  * the commits the versions don't share; the delta agg is map-side
  * combined on the view's keys; the merge shuffles |view| + |delta|
  * rows only. */
object MaterializedView {

  import graft.plans.MvRewrite
  import Sources.ManifestRow

  /** Aggregate spec shared by build and refresh: per-key row count
    * plus one sum per `sumCols` entry, aliased `mv_count` /
    * `sum_<col>` (the oracle-name contract). With `withAvg`, a
    * per-column NON-NULL count (`cnt_<col>`) rides along — the
    * denominator avg() needs (avg ignores nulls, mv_count does not),
    * which is what lets [[graft.plans.MvRewrite]] answer avg queries
    * from the view (io33). Also abelian, so both refresh paths
    * maintain it exactly. */
  private def aggOf(df: DataFrame, keyCols: Seq[String],
      sumCols: Seq[String], withAvg: Boolean = false): DataFrame = {
    val sums = sumCols.map(c => sum(col(c)).as(s"sum_$c"))
    val cnts = if (withAvg) sumCols.map(c => count(col(c)).as(s"cnt_$c"))
      else Nil
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("mv_count"), (sums ++ cnts): _*)
  }

  /** A view's persisted state: the base-table version it reflects, its
    * group keys, its measure columns (the sketched column of a distinct
    * view, the value column of a min/max view), the base row key the
    * change feed diffs on, the sketch width `lgK` (None in a state
    * written before r13), and a join-aggregate view's fact join key and
    * frozen dimension path. Join-aggregate views keep it in
    * `join_state`, every other view in `mv_state`. */
  private case class MvState(baseVersion: Int, keyCols: Seq[String],
      sumCols: Seq[String], rowKey: String, lgK: Option[Int] = None,
      join: Option[(String, String)] = None)

  private def stateDir(mvPath: String, joinAgg: Boolean): String =
    s"$mvPath/${if (joinAgg) "join_state" else "mv_state"}"

  /** The view's state: one footer read on the driver and one row. */
  private def readState(spark: SparkSession, mvPath: String,
      joinAgg: Boolean = false): MvState = {
    val st = graft.Fs.readParquet(spark, stateDir(mvPath, joinAgg)).head
    def has(c: String) = st.schema.fieldNames.contains(c)
    def str(c: String) = st.getAs[String](c)
    MvState(st.getAs[Int]("base_version"), str("key_cols").split(",").toSeq,
      str("sum_cols").split(",").toSeq.filter(_.nonEmpty), str("row_key"),
      if (has("lg_k")) Some(st.getAs[Int]("lg_k")) else None,
      if (has("join_key")) Some((str("join_key"), str("dim_path"))) else None)
  }

  private def writeState(spark: SparkSession, mvPath: String,
      st: MvState): Unit = {
    import spark.implicits._
    val (v, k, s, r) = (st.baseVersion, st.keyCols.mkString(","),
      st.sumCols.mkString(","), st.rowKey)
    val cols = Seq("base_version", "key_cols", "sum_cols", "row_key")
    (st.join match {
      case Some((joinKey, dimPath)) => Seq((v, k, s, r, joinKey, dimPath))
        .toDF(cols :+ "join_key" :+ "dim_path": _*)
      // lg_k is 0 for non-distinct views; distinct views persist their
      // sketch width so refresh can never union mismatched lgConfigK
      // registers (hll_union rejects them) — the build's lgK is part of
      // the view's identity, not a refresh-time knob
      case None => Seq((v, k, s, r, st.lgK.getOrElse(0)))
        .toDF(cols :+ "lg_k": _*)
    }).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(stateDir(mvPath, st.join.isDefined))
  }

  /** The base-table version the MV currently reflects. */
  def baseVersion(spark: SparkSession, mvPath: String): Int =
    readState(spark, mvPath).baseVersion

  /** Full-compute a view with `agg` over the base table's latest
    * snapshot, publish it as the view's next (overwrite) version and
    * record `state` at that base version (build = the only full scan
    * a view ever does). Returns the MV's snapshot version. */
  private def buildWith(spark: SparkSession, tablePath: String,
      mvPath: String, state: Int => MvState)(
      agg: DataFrame => DataFrame): Int = {
    val rows = Sources.manifestRows(spark, tablePath)
    val v = Sources.latestOf(rows)
    require(v > 0, s"no snapshot table at $tablePath")
    val mvv = Sources.snapshotCommit(
      agg(Sources.readCommits(spark, tablePath, Sources.commitsAt(rows, v))),
      mvPath, overwrite = true)
    writeState(spark, mvPath, state(v))
    mvv
  }

  /** One refresh's reads, each made once: the view's state and the
    * base table's and the view's manifests, from which both latest
    * versions and every commit set derive. */
  private class Refresh(spark: SparkSession, tablePath: String,
      mvPath: String, joinAgg: Boolean = false) {
    val st = readState(spark, mvPath, joinAgg)
    private val base = Sources.manifestRows(spark, tablePath)
    private val view = Sources.manifestRows(spark, mvPath)
    val toV = Sources.latestOf(base)
    val mvV = Sources.latestOf(view)

    /** The view's current rows. */
    def old: DataFrame =
      Sources.readCommits(spark, mvPath, Sources.commitsAt(view, mvV))

    /** The base table's change feed since the state's version. */
    def cdf: DataFrame = Sources.changesCdf(spark, tablePath, base,
      st.rowKey, st.baseVersion, toV)

    /** The base table's change since the state's version, as rows plus
      * the sign each row carries. APPEND-ONLY fast path: when `toV`'s
      * commit set carries the state version's whole set (the
      * streaming-ingest norm — sw37), the change is exactly the NEW
      * commit dirs' rows, all inserts (no sign), so the refresh reads
      * |appended rows| and runs NO diff join. Otherwise the CDF, whose
      * post-images add (+1) and pre-images/deletes subtract (−1). None
      * when nothing was appended (same content re-published, e.g. a
      * restore). */
    def delta: Option[(DataFrame, Option[Column])] = {
      val from = Sources.commitsAt(base, st.baseVersion).toSet
      val to = Sources.commitsAt(base, toV).toSet
      if (!from.subsetOf(to))
        Some((cdf, Some(when(col("change").isin("insert", "update_postimage"),
          lit(1L)).otherwise(lit(-1L)))))
      else Option((to -- from).toSeq.sorted).filter(_.nonEmpty)
        .map(added => (Sources.readCommits(spark, tablePath, added), None))
    }

    /** Affected-group re-aggregation: re-aggregate with `agg` exactly
      * the groups `changes` touched (one semi-join restricts the base
      * scan to them), and carry every untouched view row over (an
      * anti-join). */
    def reaggregate(changes: DataFrame,
        agg: DataFrame => DataFrame): DataFrame = {
      val keys = st.keyCols.map(col)
      val affected = graft.Caches.cached(changes.select(keys: _*).distinct())
      val now = Sources.readCommits(spark, tablePath,
        Sources.commitsAt(base, toV))
      old.join(affected, st.keyCols, "left_anti")
        .unionByName(agg(now.join(affected, st.keyCols, "left_semi")))
    }

    /** Commit `rows` as the view's next version against the view
      * manifest read here (None keeps the current version), then move
      * `state` to the base's latest version. Returns the view version. */
    def publish(rows: Option[DataFrame], state: MvState = st): Int = {
      val v = rows.fold(mvV)(Sources.commitAfter(_, mvPath, overwrite = true,
        Nil, None, view))
      writeState(spark, mvPath, state.copy(baseVersion = toV))
      v
    }
  }

  /** Per-key count and sum deltas of changed rows: plain counts and
    * sums over appended rows, signed sums over change-feed rows. */
  private def deltaAgg(rows: DataFrame, keyCols: Seq[String],
      sumCols: Seq[String], sign: Option[Column],
      more: Seq[Column] = Nil): DataFrame =
    rows.groupBy(keyCols.map(col): _*)
      .agg(sign.fold(count(lit(1)))(sum(_)).as("__d_count"),
        (sumCols.map(c => sign.fold(sum(col(c)))(s => sum(s * col(c)))
          .as(s"__d_$c")) ++ more): _*)

  /** Merge abelian deltas into the old view with one keyed full-outer
    * join; keys whose count reaches zero leave the view. */
  private def mergeAbelian(old: DataFrame, delta: DataFrame,
      keyCols: Seq[String], sumCols: Seq[String],
      withAvg: Boolean): DataFrame = {
    def plus(c: String, d: String) =
      (coalesce(col(c), lit(0L)) + coalesce(col(d), lit(0L))).as(c)
    val cnts = if (withAvg) sumCols.map(c => plus(s"cnt_$c", s"__dc_$c"))
      else Nil
    old.join(delta, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(plus("mv_count", "__d_count")) ++
        sumCols.map(c => plus(s"sum_$c", s"__d_$c")) ++ cnts: _*)
      .filter(col("mv_count") > 0)
  }

  /** Full-compute the view at the base table's latest version and
    * publish it (build = the only full scan this MV ever does).
    * `rowKey` is the base table's row-identity column the CDF diffs
    * on during refresh. Returns the MV's snapshot version. */
  def build(spark: SparkSession, tablePath: String, mvPath: String,
      rowKey: String, keyCols: Seq[String], sumCols: Seq[String],
      withAvg: Boolean = false): Int =
    buildWith(spark, tablePath, mvPath, MvState(_, keyCols, sumCols, rowKey))(
      aggOf(_, keyCols, sumCols, withAvg))

  /** Fold the base table's changes since the last build/refresh into
    * the view. No-op (returns the current MV version) when the base
    * hasn't moved. Returns the MV's new snapshot version. */
  def refresh(spark: SparkSession, tablePath: String,
      mvPath: String): Int = {
    val r = new Refresh(spark, tablePath, mvPath)
    if (r.toV == r.st.baseVersion) return r.mvV
    val (keyCols, sumCols) = (r.st.keyCols, r.st.sumCols)
    val old = r.old
    // avg-capable views (build(withAvg = true)) carry per-column
    // non-null counts; detect by presence so plain views are untouched
    val withAvg = sumCols.nonEmpty && old.columns.contains(s"cnt_${sumCols.head}")
    r.publish(r.delta.map { case (rows, sign) =>
      val dCnts = if (!withAvg) Nil else sumCols.map(c =>
        sign.fold(count(col(c)))(s =>
          sum(when(col(c).isNotNull, s).otherwise(lit(0L)))).as(s"__dc_$c"))
      mergeAbelian(old, deltaAgg(rows, keyCols, sumCols, sign, dCnts),
        keyCols, sumCols, withAvg)
    })
  }

  /** Register a view for transparent rewrite: `entry` turns the base
    * version's qualified data dirs, the view's latest ones and the
    * state into the registry entry. */
  private def register(spark: SparkSession, tablePath: String,
      mvPath: String)(
      entry: (Set[String], Seq[String], MvState) => MvRewrite.Entry): Unit = {
    val st = readState(spark, mvPath)
    def dirsOf(path: String, version: Seq[ManifestRow] => Int): Seq[String] = {
      val rows = Sources.manifestRows(spark, path)
      Sources.commitsAt(rows, version(rows)).sorted
        .map(c => graft.Fs.qualify(spark, Sources.commitDir(path, c)))
    }
    MvRewrite.enable(spark)
    MvRewrite.register(spark, entry(dirsOf(tablePath, _ => st.baseVersion).toSet,
      dirsOf(mvPath, Sources.latestOf), st))
  }

  /** Register this view for TRANSPARENT aggregate rewrite
    * ([[graft.plans.MvRewrite]], io28): queries written against the
    * base table's CURRENT snapshot answer from the view instead. The
    * registration snapshots both dir sets — the base version's data
    * dirs (so the rule matches only reads of exactly the version the
    * view reflects: staleness = structural non-match) and the view's
    * own dirs to scan in its place. Re-register after every
    * build/refresh. */
  def registerForRewrite(spark: SparkSession, tablePath: String,
      mvPath: String): Unit =
    register(spark, tablePath, mvPath)((base, mv, st) =>
      MvRewrite.Entry(base, mv, st.keyCols, st.sumCols.toSet))

  /** Register a [[buildDistinct]] view for TRANSPARENT
    * approx_count_distinct rewrite (io34): queries asking
    * `approx_count_distinct(<distinctCol>)` against the base table's
    * current snapshot answer from the view's HLL registers instead.
    * EXPLICIT OPT-IN: the rewrite swaps HLL++ for Datasketches — the
    * value changes within the approximate contract, which is the
    * caller's to accept (BigQuery/Snowflake sketch-MV semantics);
    * exact count(DISTINCT) never rewrites. Staleness is structural,
    * as in [[registerForRewrite]]. */
  def registerDistinctForRewrite(spark: SparkSession, tablePath: String,
      mvPath: String): Unit =
    register(spark, tablePath, mvPath)((base, mv, st) =>
      MvRewrite.Entry(base, mv, st.keyCols, Set.empty, st.sumCols.toSet))

  /** Register a [[buildMinMax]] view for TRANSPARENT min/max rewrite
    * (io35): `min(<valCol>)`/`max(<valCol>)` against the base table's
    * current snapshot answer from the view's min_/max_ columns —
    * exact projections at the view's keys, exact re-aggregation (min
    * of mins / max of maxes) for rollups. count(*) rides on mv_count
    * as in every view class. Staleness structural, as in
    * [[registerForRewrite]]. */
  def registerMinMaxForRewrite(spark: SparkSession, tablePath: String,
      mvPath: String): Unit =
    register(spark, tablePath, mvPath)((base, mv, st) =>
      MvRewrite.Entry(base, mv, st.keyCols, Set.empty,
        minMaxCols = st.sumCols.toSet))

  // ---- non-subtractable aggregates: affected-group re-aggregation --
  //
  // min/max (and distinct counts) are NOT abelian — a deleted row can
  // be the current minimum, and no delta arithmetic recovers the
  // runner-up. The canonical IVM strategy (Gupta–Mumick's "not
  // self-maintainable" case) is to RE-AGGREGATE exactly the groups the
  // change feed touched: one semi-join restricts the base scan to
  // affected groups (partition/zone pruning applies when the table is
  // clustered by the group key — io18's layout), every untouched group
  // row is carried over by an anti-join. Work ∝ rows-in-affected-groups
  // + |view|, never ∝ |table|.

  /** Full-compute a min/max-bearing view ((count, min, max) per key —
    * the zone-map-shaped MV) and publish it. */
  def buildMinMax(spark: SparkSession, tablePath: String, mvPath: String,
      rowKey: String, keyCols: Seq[String], valCol: String): Int =
    buildWith(spark, tablePath, mvPath,
      MvState(_, keyCols, Seq(valCol), rowKey))(minMaxAgg(_, keyCols, valCol))

  private def minMaxAgg(df: DataFrame, keyCols: Seq[String],
      valCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("mv_count"),
        min(col(valCol)).as(s"min_$valCol"),
        max(col(valCol)).as(s"max_$valCol"))

  // ---- join-aggregate views over a stable dimension ----------------
  //
  // The star-schema MV (Gupta–Mumick's SPJ+aggregate class): the view
  // is `fact ⋈ dim GROUP BY dim keys → (count, sums of fact cols)`.
  // Because every fact row reaches the view through its OWN dim match,
  // fact-side changes stay abelian — insert adds, delete subtracts,
  // update moves mass — each CDF row just re-joins the (broadcast-
  // sized) dimension to find its group. The DIMENSION is the stated
  // stability contract: it is assumed unchanged between build and
  // refresh (the slowly-changing-dimension norm — rebuild, or version
  // the dim and re-register, when it moves); the refresh re-reads it
  // from `dimPath`, so a changed dim mis-attributes deltas — document,
  // don't guess.

  /** Full-compute `fact ⋈ dim GROUP BY keyCols` (count + sums of fact
    * columns) over the fact table's latest snapshot and publish it.
    * `dim` must carry `joinKey` and `keyCols`; `factPath` rows carry
    * `joinKey`, `rowKey`, and `sumCols`. */
  def buildJoinAgg(spark: SparkSession, factPath: String, dim: DataFrame,
      dimPath: String, mvPath: String, rowKey: String, joinKey: String,
      keyCols: Seq[String], sumCols: Seq[String]): Int =
    buildWith(spark, factPath, mvPath, MvState(_, keyCols, sumCols, rowKey,
      join = Some((joinKey, dimPath)))) { fact =>
      dim.write.mode(SaveMode.Overwrite).parquet(dimPath)
      aggOf(fact.join(broadcast(graft.Fs.readParquet(spark, dimPath)), joinKey),
        keyCols, sumCols)
    }

  /** Fold fact-side changes into a [[buildJoinAgg]] view: the signed
    * CDF delta (append-only fast path: just the new dirs) re-joins the
    * frozen dimension, aggregates per key, and merges — work ∝
    * |changes| ⋈ broadcast(dim) + |view|, never ∝ |fact|. */
  def refreshJoinAgg(spark: SparkSession, factPath: String,
      mvPath: String): Int = {
    val r = new Refresh(spark, factPath, mvPath, joinAgg = true)
    if (r.toV == r.st.baseVersion) return r.mvV
    val (joinKey, dimPath) = r.st.join.get
    val dim = broadcast(graft.Fs.readParquet(spark, dimPath))
    r.publish(r.delta.map { case (rows, sign) =>
      mergeAbelian(r.old, deltaAgg(rows.join(dim, joinKey), r.st.keyCols,
        r.st.sumCols, sign), r.st.keyCols, r.st.sumCols, withAvg = false)
    })
  }

  // ---- approximate distinct counts: union-closed sketches ----------
  //
  // count(DISTINCT x) is the third canonical MV aggregate class:
  // not abelian (no subtraction), but union-CLOSED — Datasketches HLL
  // registers merge by elementwise max, so APPENDS maintain the view
  // by sketch union over just the new rows (work ∝ appended rows,
  // the streaming-ingest norm). Deletes/updates fall back to
  // affected-group re-aggregation, exactly like min/max. The exact
  // row count rides along abelian (as mv_count) so the view serves
  // both "how many rows" and "how many distinct" per key.

  /** Full-compute a distinct-count-bearing view ((count, HLL sketch of
    * `distinctCol`) per key) and publish it. lgK = 12 → ~1.6% relative
    * standard error, exact below ~2^12 distinct values. */
  def buildDistinct(spark: SparkSession, tablePath: String, mvPath: String,
      rowKey: String, keyCols: Seq[String], distinctCol: String,
      lgK: Int = 12): Int =
    buildWith(spark, tablePath, mvPath,
      MvState(_, keyCols, Seq(distinctCol), rowKey, Some(lgK)))(
      distinctAgg(_, keyCols, distinctCol, lgK))

  private def distinctAgg(df: DataFrame, keyCols: Seq[String],
      distinctCol: String, lgK: Int): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("mv_count"),
        hll_sketch_agg(col(distinctCol), lit(lgK)).as(s"hll_$distinctCol"))

  /** Refresh a [[buildDistinct]] view. Append-only base history since
    * the last refresh → per-key sketch UNION of the old registers with
    * the new rows' sketch (no base rescan, no diff join); anything
    * else → affected-group re-aggregation (the [[refreshMinMax]]
    * fallback: deletions can remove a distinct value no sketch
    * arithmetic recovers). The sketch width (lgK) is read from the
    * state the build persisted — never a refresh argument, because a
    * mismatched lgConfigK either fails hll_union (append path) or
    * leaves mixed-width registers that break later rollup unions
    * (re-aggregation path). */
  def refreshDistinct(spark: SparkSession, tablePath: String,
      mvPath: String): Int = {
    val r = new Refresh(spark, tablePath, mvPath)
    if (r.toV == r.st.baseVersion) return r.mvV
    val keyCols = r.st.keyCols
    val distinctCol = r.st.sumCols.head
    val hllCol = s"hll_$distinctCol"
    // state files written before r13 carry no lg_k column. 12 was
    // only the DEFAULT then — buildDistinct always took a
    // caller-supplied lgK — so blindly assuming 12 would hand a
    // legacy non-default-width view mismatched registers that
    // hll_union REJECTS at refresh time (differing lgConfigK).
    // Recover the TRUE width from the view's own persisted registers
    // instead: the DataSketches serialization carries lgConfigK in
    // its preamble, so any one stored blob is authoritative. Only an
    // EMPTY legacy view (no groups → no blob to inspect) falls back
    // to the old default, with a logged statement of the assumption.
    val lgK = r.st.lgK.getOrElse {
      val blob = r.old.select(hllCol).filter(col(hllCol).isNotNull)
        .limit(1).collect()
      if (blob.nonEmpty)
        org.apache.datasketches.hll.HllSketch
          .heapify(blob(0).getAs[Array[Byte]](0)).getLgConfigK
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"pre-r13 MV state at $mvPath has no lg_k and no stored " +
            "sketch to read the width from (empty view); assuming " +
            "the legacy default lgK=12")
        12
      }
    }
    r.publish(r.delta.map {
      case (appended, None) =>
        val delta = appended.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__d_count"),
            hll_sketch_agg(col(distinctCol), lit(lgK)).as("__d_hll"))
        r.old.join(delta, keyCols, "full_outer")
          .select(keyCols.map(col) ++ Seq(
            (coalesce(col("mv_count"), lit(0L)) +
              coalesce(col("__d_count"), lit(0L))).as("mv_count"),
            when(col("__d_hll").isNull, col(hllCol))
              .when(col(hllCol).isNull, col("__d_hll"))
              .otherwise(hll_union(col(hllCol), col("__d_hll"))).as(hllCol)): _*)
      case (cdf, Some(_)) =>
        r.reaggregate(cdf, distinctAgg(_, keyCols, distinctCol, lgK))
    }, r.st.copy(lgK = Some(lgK)))
  }

  /** Refresh a [[buildMinMax]] view: re-aggregate ONLY the groups the
    * CDF touched, carry everything else over. Groups whose rows all
    * left the table leave the view (the re-aggregation simply returns
    * no row for them). */
  def refreshMinMax(spark: SparkSession, tablePath: String,
      mvPath: String): Int = {
    val r = new Refresh(spark, tablePath, mvPath)
    if (r.toV == r.st.baseVersion) return r.mvV
    r.publish(Some(r.reaggregate(r.cdf,
      minMaxAgg(_, r.st.keyCols, r.st.sumCols.head))))
  }
}

package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftExpressionBridge.localCheckpointPartitioned
import org.apache.spark.sql.functions._

/** Deterministic fixed-iteration graph algorithms as pure DataFrame
  * loops — the declarative sibling of the GraphX adapters in
  * PropertyGraph.
  *
  * Why both? GraphX's Pregel versions (PropertyGraph.pageRank etc.) are
  * the convergence-driven classics, but their RDD internals are opaque
  * to Catalyst and their tol-based stopping makes outputs
  * platform-sensitive. A FIXED iteration count over DataFrame joins is
  * (a) bit-deterministic → DuckDB-oracle-checkable, and (b) fully
  * visible to Catalyst/AQE — each superstep is a keyed equi-join +
  * aggregate that inherits skew handling and broadcast decisions.
  * `localCheckpoint` per superstep cuts the exponential lineage.
  *
  * SUPERSTEP SHAPE. Every vertex-state loop here — PageRank (plain and
  * weighted), BFS/SSSP, landmark distances, personalized PageRank,
  * min-label components (fixed and converged), label propagation,
  * power smoothing and HyperBall — runs on ONE private driver,
  * [[superstep]], which iterates a [[Step]]: GraphFrames' Pregel
  * superstep (`aggregateMessages`). The graph side is an artifact built
  * ONCE per session where the edge frame's content has a key, else once
  * per call ([[bySrc]]), and hash-partitioned by `src` into the
  * session's shuffle-partition count; it never moves again. The
  * state stays partitioned by vertex id into the same count, so the
  * state ⋈ graph join is narrow (a `shuffle_hash` hint over
  * co-partitioned sides — no exchange, no broadcast of the edge side).
  * The messages and every vertex's own state row meet in ONE aggregate
  * after ONE exchange (`repartition(n, id)`), so no superstep joins
  * back to the vertex set, and one checkpoint keeps that partitioning
  * (`localCheckpointPartitioned`; plain `localCheckpoint` forgets it
  * under AQE). Under AQE every exchange and every broadcast is its own
  * job, and on small stages the per-job overhead, not compute, is the
  * superstep's cost — so the job count per superstep is the figure
  * this shape minimizes. An explicit `repartition(n, key)` is never
  * coalesced by AQE, which is what keeps the two sides' partitionings
  * equal from superstep to superstep.
  *
  * Off the driver, because their shapes differ: HITS (two normalized
  * half-steps per superstep), k-core peeling and large-star/small-star
  * (each round rewrites the edge set, not a vertex state), and the
  * walks (a frontier with no vertex key — its one exchange per hop
  * moves it to its current node).
  */
object IterativeGraph {

  /** Symmetrized (bidirectional) src/dst edge view — the one
    * definition shared by the undirected loops off the driver and by
    * the queries that hand a directed loop undirected edges. Cached per
    * call (released via graft.Caches.clear). */
  private[graft] def symmetrize(edges: DataFrame): DataFrame =
    graft.Caches.cached(edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"))))

  /** The partition count of every superstep artifact and state frame:
    * the session's shuffle-partition count. Co-partitioned sides join
    * without an exchange only when both use the same count. */
  private def parts(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** The graph artifact `kind` that `build` derives from the edge
    * frame, persisted once per session under the edge frame's
    * [[graft.Memo.contentKey]], so an equivalent edge frame built by
    * another query reuses the artifact instead of persisting a second
    * one; an edge frame without a content key (checkpointed,
    * RDD-backed) gets one per call (released by graft.Caches.clear).
    * Memoized entries are released at Memo family boundaries like
    * every non-table entry. */
  private def artifact(edges: DataFrame, kind: String)(
      build: => DataFrame): DataFrame = {
    val spark = edges.sparkSession
    graft.Memo.contentKey(edges) match {
      case Some(k) => graft.Memo.df(spark, s"$kind|$k|${parts(spark)}")(build)
      case None => graft.Caches.cached(build)
    }
  }

  /** An [[artifact]] hash-partitioned by `src` into [[parts]]
    * partitions. */
  private def bySrc(edges: DataFrame, kind: String)(
      build: => DataFrame): DataFrame =
    artifact(edges, kind)(build.repartition(parts(edges.sparkSession), col("src")))

  /** Both directions of every edge as (src, dst, w). */
  private def bothWays(edges: DataFrame, w: Column): DataFrame =
    edges.select(col("src"), col("dst"), w.as("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        w.as("w")))

  /** [[bothWays]] as a [[bySrc]] artifact. */
  private def symmetrizedCosts(edges: DataFrame, kind: String,
      w: Column): DataFrame =
    bySrc(edges, kind)(bothWays(edges, w))

  /** The undirected unit-cost artifact: BFS, label propagation,
    * min-label components and HyperBall share it. */
  private[graft] def undirected(edges: DataFrame): DataFrame =
    symmetrizedCosts(edges, "undirected", lit(1L))

  /** One superstep of a vertex-state loop, before its checkpoint — the
    * program [[superstep]] iterates. A state row holds `id`, the extra
    * `keys` (each key value runs its own loop in the same jobs, e.g.
    * one per PPR source) and the loop's own columns. The `active` state
    * rows join their out-edges in the src-partitioned artifact `e`
    * narrowly and send `message`, over the edge's and the source's
    * columns, to `dst` as `m`. Every state row joins the messages as
    * its own row, `m` null and `__own` true; the messages carry null
    * state columns. After ONE exchange (`repartition(n, id)`) the
    * `combine` aggregates run per (id, keys) over both, beside
    * `__own` = whether the vertex had a state row. `keep` picks the
    * rows that stay — `col("__own")` holds the vertex set fixed, the
    * default lets it grow to every vertex a message reached — and
    * `update` projects the new state columns. */
  private[graft] final case class Step(message: Column, combine: Seq[Column],
      update: Seq[Column], keys: Seq[String] = Nil,
      active: Column = lit(true), keep: Column = lit(true)) {
    def apply(e: DataFrame, state: DataFrame): DataFrame = {
      val key = col("id") +: keys.map(col)
      e.join(state.filter(active).withColumnRenamed("id", "src")
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("id") +: keys.map(col) :+ message.as("m"): _*)
        .unionByName(state.withColumn("__own", lit(true)),
          allowMissingColumns = true)
        .repartition(parts(e.sparkSession), col("id"))
        .groupBy(key: _*).agg(max("__own").as("__own"), combine: _*)
        .filter(keep)
        .select(key ++ update: _*)
    }
  }

  /** The superstep driver: `iters` checkpointed rounds of `step` from
    * `init` over the src-partitioned artifact `e`. `init` is repartitioned
    * by id; each new state is checkpointed keeping that partitioning.
    * With `changed`, the loop also ends after a superstep whose new
    * state has no `changed` row. Holds nothing outside its locals, so
    * two loops can run at once (g34/g35 overlap theirs). Returns the
    * last state. */
  private def superstep(init: DataFrame, e: DataFrame, iters: Int,
      step: Step, changed: Option[Column] = None): DataFrame =
    supersteps(init, e, iters, step, changed).reduceLeft((_, s) => s)

  /** [[superstep]]'s states as they are computed: the state before the
    * first superstep, then the state after each one. Each superstep
    * runs when its state is asked for, and the iterator holds only the
    * latest, so a caller that keeps one state at a time lets the
    * earlier checkpoints be reclaimed. */
  private def supersteps(init: DataFrame, e: DataFrame, iters: Int,
      step: Step, changed: Option[Column] = None): Iterator[DataFrame] =
    new Iterator[DataFrame] {
      private var state: DataFrame = null
      private var done = 0
      private var moving = true
      def hasNext: Boolean = state == null || (moving && done < iters)
      def next(): DataFrame = {
        state =
          if (state == null) init.repartition(parts(e.sparkSession), col("id"))
          else {
            val s = localCheckpointPartitioned(step(e, state))
            done += 1
            moving = changed.forall(c => s.filter(c).limit(1).count() > 0)
            s
          }
        state
      }
    }

  /** PageRank, `iters` synchronous supersteps:
    * r₀ = 1; r₊(v) = resetProb + (1−resetProb)·Σ_{u→v} r(u)/outdeg(u).
    * Unnormalized (GraphFrames/GraphX convention — scores sum ≈ N);
    * dangling mass is dropped, isolated vertices stay at resetProb.
    * Runs on [[superstep]] over the (src, dst, outdeg) artifact. Only
    * vertex ids keep a row, and a vertex with no in-edges still gets
    * its row from its own state row, without a join back to
    * `vertices`. Output: (id, rank). */
  def pageRankFixed(vertices: DataFrame, edges: DataFrame, iters: Int,
      resetProb: Double = 0.15): DataFrame =
    pageRankLoop(vertices, pageRankEdges(edges),
      col("rank") / col("outdeg"), iters, resetProb)

  /** The (src, dst, outdeg) artifact [[pageRankFixed]] and
    * [[personalizedPageRankFixed]] iterate over. */
  private[graft] def pageRankEdges(edges: DataFrame): DataFrame =
    bySrc(edges, "pageRankEdges") {
      val out = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      edges.select("src", "dst").join(out, "src")
    }

  private def pageRankLoop(vertices: DataFrame, e: DataFrame, msg: Column,
      iters: Int, resetProb: Double): DataFrame =
    superstep(vertices.select(col("id"), lit(1.0).as("rank")), e, iters,
      pageRankStep(msg, resetProb))

  /** The PageRank superstep; `msg` is the mass one edge carries, over
    * the artifact's columns and the source's `rank`. */
  private[graft] def pageRankStep(msg: Column, resetProb: Double): Step =
    Step(msg, Seq(sum("m").as("in_sum")),
      Seq((lit(resetProb) + lit(1 - resetProb) *
        coalesce(col("in_sum"), lit(0.0))).as("rank")),
      keep = col("__own"))

  /** Synchronous label propagation, `iters` supersteps, DETERMINISTIC:
    * label₀ = id; label₊(v) = the most frequent label among v's
    * neighbours (symmetrized edges), ties → smallest label; isolated
    * vertices keep their label. GraphX's LabelPropagation breaks ties
    * by map-iteration order — this fixed variant pins them, making the
    * whole algorithm SQL-oracle-checkable. The pick is one `mode`
    * aggregate in its deterministic form (ties → the smallest value)
    * over the neighbours' labels, so it needs no per-(vertex, label)
    * count aggregate and no window. Output: (id, label). */
  def labelPropagationFixed(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    superstep(vertices.select(col("id"), col("id").as("label")),
      undirected(edges), iters,
      Step(col("label"),
        Seq(mode(col("m"), deterministic = true).as("nb"), max("label").as("label")),
        Seq(coalesce(col("nb"), col("label")).as("label")),
        keep = col("__own")))

  /** WEIGHTED PageRank, `iters` synchronous supersteps — the mass a
    * vertex passes along an edge is proportional to the edge's weight
    * share of its total out-weight:
    *   r₊(v) = resetProb + (1−resetProb)·Σ_{u→v} r(u)·w(u,v)/W(u),
    *   W(u) = Σ_out w(u,·).
    * The GraphFrames/GraphX convention carried over from
    * [[pageRankFixed]] (unnormalized, dangling mass dropped); on the
    * customer→part graph the weight is the average order quantity, so
    * rank flows toward heavily-bought parts rather than merely
    * often-bought ones. Same superstep as the unweighted form
    * (its (src, dst, weight, outw) artifact memoizes the same way);
    * output rounds at the caller (the g15 weighted-sum
    * precedent: iterated double sums order-differ in the last ulp
    * across engines). Output: (id, rank). */
  def pageRankWeightedFixed(vertices: DataFrame, edges: DataFrame,
      iters: Int, resetProb: Double = 0.15): DataFrame = {
    val e = bySrc(edges, "pageRankWeightedEdges") {
      val outW = edges.groupBy("src").agg(sum("weight").as("outw"))
      edges.select("src", "dst", "weight").join(outW, "src")
    }
    pageRankLoop(vertices, e, col("rank") * col("weight") / col("outw"),
      iters, resetProb)
  }

  /** HITS (hubs & authorities), `iters` synchronous supersteps with L2
    * normalization after each half-step — Kleinberg's algorithm in its
    * standard normalized form:
    *   auth₊(v) = Σ_{u→v} hub(u)   / ‖·‖₂
    *   hub₊(u)  = Σ_{u→v} auth₊(v) / ‖·‖₂
    * On the bipartite customer→part graph authorities live on parts
    * (what well-connected buyers co-purchase) and hubs on customers —
    * the "influential reviewers / canonical books" question HITS was
    * built for. Neither GraphX nor GraphFrames ships it.
    *
    * Deterministic fixed iterations → DuckDB-oracle-checkable (g24,
    * unrolled CTEs, the g10 pattern). Scale shape per superstep: one
    * dst-keyed join+agg (auth), one src-keyed join+agg (hub) — the
    * aggregateMessages shuffle both ways — plus two 1-ROW norm
    * aggregates broadcast back; `localCheckpoint` cuts lineage.
    * Output: (id, hub, auth). */
  def hitsFixed(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val v = vertices.select("id")
    val e = graft.Caches.cached(edges.select("src", "dst"))
    // Each half-step CHECKPOINTS its unnormalized sums, then divides by
    // the 1-row norm of the checkpointed frame scan-stage: the norm agg
    // and every downstream reference read the materialized blocks, so
    // nothing in the chain evaluates twice and lineage resets per
    // half-step. (The naive form — normalize inline, join hub⋈auth per
    // superstep — re-evaluated the chain per reference: 16 s vs ~4 s
    // at sf0.1.)
    def normalized(df: DataFrame, c: String): DataFrame = {
      val m = df.localCheckpoint()
      m.crossJoin(broadcast(m.agg(sqrt(sum(col(c) * col(c))).as("__n"))))
        .select(col("id"),
          when(col("__n") > 0, col(c) / col("__n")).otherwise(0.0).as(c))
    }
    var hub = v.select(col("id"), lit(1.0).as("hub"))
    var auth = v.select(col("id"), lit(1.0).as("a"))
    for (_ <- 1 to iters) {
      auth = normalized(
        v.join(e.join(hub.select(col("id").as("src"), col("hub")), "src")
            .groupBy(col("dst").as("id")).agg(sum("hub").as("a")),
          Seq("id"), "left")
          .select(col("id"), coalesce(col("a"), lit(0.0)).as("a")), "a")
      hub = normalized(
        v.join(e.join(auth.select(col("id").as("dst"), col("a")), "dst")
            .groupBy(col("src").as("id")).agg(sum("a").as("h")),
          Seq("id"), "left")
          .select(col("id"), coalesce(col("h"), lit(0.0)).as("h")), "h")
        .withColumnRenamed("h", "hub")
    }
    hub.join(auth, "id")
      .select(col("id"), col("hub"), col("a").as("auth"))
  }

  /** Single-source unweighted shortest distances by `iters` rounds of
    * frontier relaxation over symmetrized edges: dist₀(src)=0;
    * dist₊(v) = min(dist(v), min over neighbours + 1). Deterministic
    * integer math → SQL-oracle-checkable (g13); the distance-only twin
    * of PropertyGraph.bfs (which materializes paths). The unit-cost
    * case of [[ssspWeighted]]'s rounds: with unit costs the improved
    * frontier of a round is exactly the newly reached BFS level.
    * Output: (id, dist) for vertices reached within `iters` hops. */
  def bfsDistances(edges: DataFrame, sourceId: Long, iters: Int): DataFrame =
    relaxRounds(undirected(edges), sourceSeed(edges, sourceId), Nil, iters)
      .select(col("id"), col("dist").cast("int").as("dist"))

  /** Single-source WEIGHTED shortest distances: `iters` synchronous
    * Bellman–Ford rounds over symmetrized positive-integer-cost edges —
    * dist₀(src)=0; dist₊(v) = min(dist(v), min over edges (u,v) of
    * dist(u) + cost(u,v)). All-integer min-plus math, so the unrolled
    * CTE oracle (g33) matches bit-for-bit. The fixed-round contract is
    * the same as [[bfsDistances]]: d_k(v) = cheapest path using ≤ k
    * edges, whatever the graph diameter.
    *
    * Each round relaxes only the IMPROVED frontier (rows whose dist
    * changed last round): a vertex whose dist did not change already
    * contributed that same dist+cost the round it was set, and the
    * min-merge keeps the contribution — identical output to full
    * relaxation, one frontier-sized join per superstep instead of an
    * all-reached one. The symmetrized (src, dst, w) artifact builds once
    * per session; the improved flag comes out of the superstep's own
    * aggregate (the new min against the own row's old distance), and
    * the next frontier is the `active` filter on the checkpoint. */
  def ssspWeighted(edges: DataFrame, sourceId: Long, iters: Int,
      costCol: String): DataFrame =
    relaxRounds(symmetrizedCosts(edges, s"ssspEdges|$costCol",
      col(costCol).cast("long")), sourceSeed(edges, sourceId), Nil, iters)
      .select("id", "dist")

  private def sourceSeed(edges: DataFrame, sourceId: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((sourceId, 0L)).toDF("id", "dist")
  }

  /** `iters` improved-frontier Bellman–Ford rounds from the (id, keys,
    * dist) `seeds` over a [[bySrc]] (src, dst, w) artifact. Output: (id,
    * keys, dist). */
  private def relaxRounds(e: DataFrame, seeds: DataFrame, keys: Seq[String],
      iters: Int): DataFrame =
    superstep(seeds.withColumn("improved", lit(true)), e, iters,
      relaxStep(keys)).drop("improved")

  /** The relaxation superstep of [[relaxRounds]]. */
  private[graft] def relaxStep(keys: Seq[String]): Step =
    Step(col("dist") + col("w"), Seq(min("m").as("nb"), min("dist").as("old")),
      Seq(least(col("old"), col("nb")).as("dist"),
        coalesce(col("nb") < col("old"), col("old").isNull).as("improved")),
      keys, active = col("improved"))

  /** HyperBall / ANF sketches (Boldi & Vigna 2013; Palmer et al.'s
    * ANF): per-vertex HLL sketches of the ≤-t-hop ball, grown by t
    * synchronous supersteps of neighbor-sketch UNION over symmetrized
    * edges — sk₀(v) = {v}; sk₊(v) = sk(v) ∪ ⋃_{(u,v)∈E} sk(u). The
    * registers are union-closed and constant-size, so the whole
    * neighborhood-function / effective-diameter computation costs
    * O(t) edge-keyed shuffles of ≤ 2^lgK-byte values — the ONLY known
    * way to ask "how big is the 3-hop ball of every vertex" on a
    * 100 TB graph (exact balls are quadratic). Estimates are
    * deterministic (the register hash is a fixed splitmix64 mix), so a
    * tolerance-bound audit against exact sampled balls is a stable
    * gate, not a flaky one (g34). Output: (id, sk) after `iters`
    * supersteps — sk is a [[graft.functions.PackedHll]] register file;
    * estimate with PackedHll.hll5Estimate.
    *
    * Deployment note (measured, PERF.md round-14): the superstep is
    * byte-bound on the register wire, so the shuffle codec is a
    * first-order knob — `spark.io.compression.codec=zstd` ran the
    * 30-replica lgK=10 probe 1.75× faster than the lz4 default
    * (335 s vs 585.5 s) and roughly halves the scratch-disk envelope.
    * It is a SparkContext-level setting; submit ANF jobs with it. */
  def hyperBallSketches(edges: DataFrame, iters: Int,
      lgK: Int = 10): DataFrame =
    hyperBallSteps(edges, iters, lgK).last

  /** [[hyperBallSketches]] keeping every superstep's sketch frame —
    * index t-1 holds the ≤-t-hop ball sketches. The per-step frames
    * are what the NEIGHBORHOOD FUNCTION N(t) (and the effective
    * diameter read off it) needs: each step is already materialized
    * by the superstep checkpoint, so returning them all costs
    * nothing beyond [[hyperBallSketches]]. */
  def hyperBallSteps(edges: DataFrame, iters: Int,
      lgK: Int = 10): Seq[DataFrame] = {
    import graft.functions.PackedHll
    // 5-bit PACKED register files throughout (PackedHll — Boldi &
    // Vigna's own counter layout): the superstep merges one sketch
    // per edge message, so the union must be a primitive max-loop
    // with identity (de)serialization, not a library-object decode —
    // measured at 100×, a Datasketches merge path (heapify + Union +
    // re-serialize per row) was CPU-bound at 1226–1506 s, the packed
    // path cuts both the per-row CPU and the wire bytes (5 bits per
    // register vs 8). The seed is a SCALAR singleton register file —
    // sk₀(v) = {v} needs no aggregate at all. Estimate with
    // [[graft.functions.PackedHll.hll5Estimate]] (Ertl's estimator).
    val spark = edges.sparkSession
    val e = undirected(edges)
    // SHUFFLE SHAPE (the measured 100× cliff and its fix): the union
    // aggregate's groups are VERTICES, so the messages must reach it
    // id-clustered — the superstep's repartition by id moves raw rows
    // (no sort, no buffers), and both aggregation passes run over
    // |V|/partitions groups per task, pure hash aggregation over
    // fixed-size (1 + ⌈5m/8⌉ B) buffers. ObjectHashAggregate's
    // sort-based fallback (default: 128 groups/task, sized for
    // arbitrary buffers) would otherwise externally sort every message
    // WITH its register payload; the raised threshold (256k × 641 B ≈
    // 168 MB/task at lgK = 10) is arithmetic, not hope, because the
    // buffers are fixed-size. Restored after the loop.
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prevFallback = spark.conf.getOption(fallbackKey)
    try {
      spark.conf.set(fallbackKey, (256 * 1024).toString)
      supersteps(
        e.select(col("src").as("id")).distinct()
          .select(col("id"), PackedHll.hll5Singleton(col("id"), lgK).as("sk")),
        e, iters,
        Step(col("sk"),
          Seq(PackedHll.hll5UnionAgg(coalesce(col("m"), col("sk")), lgK).as("sk")),
          Seq(col("sk")))).drop(1).toVector
    } finally prevFallback match {
      case Some(v) => spark.conf.set(fallbackKey, v)
      case None => spark.conf.unset(fallbackKey)
    }
  }

  /** Parallel personalized PageRank, fixed supersteps — GraphFrames'
    * `parallelPersonalizedPageRank`: one rank vector per source
    * vertex, reset mass returning to THAT source only (r₀ = 1 at the
    * source, 0 elsewhere; r₊(v) = resetProb·1{v=src} +
    * (1−resetProb)·Σ_{u→v} r(u)/outdeg(u)). ALL sources iterate in
    * the SAME superstep jobs — state keyed by (source, id), exactly
    * like [[shortestPathsLandmarks]] — so k sources cost one extra
    * key column, not k sequential PageRank loops. Deterministic →
    * SQL-oracle-checkable (g19). Output: (source, id, rank) for
    * vertices with nonzero mass within `iters` hops (plus every
    * source's own row): frontier-sparse, the (source × |V|) dense
    * frame never materializes. A row, once it has mass, keeps it —
    * every vertex that held mass still has an in-neighbour that does —
    * so the state grows by the vertices the messages reach. */
  def personalizedPageRankFixed(edges: DataFrame, sources: Seq[Long],
      iters: Int, resetProb: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    superstep(sources.map(s => (s, s, 1.0)).toDF("source", "id", "rank"),
      pageRankEdges(edges), iters,
      Step(col("rank") / col("outdeg"), Seq(sum("m").as("in_sum")),
        Seq((when(col("id") === col("source"), lit(resetProb))
          .otherwise(lit(0.0)) +
          lit(1 - resetProb) * coalesce(col("in_sum"), lit(0.0))).as("rank")),
        keys = Seq("source")))
      .select("source", "id", "rank")
  }

  /** Multi-landmark unweighted shortest distances — the long-form core
    * of GraphFrames' `shortestPaths(landmarks)` (PropertyGraph wraps it
    * into the map-column shape). Follows edge direction as given;
    * symmetrize first for undirected semantics. ALL landmarks relax in
    * the SAME superstep jobs — the frontier state is keyed by
    * (landmark, id), so k landmarks cost one extra key column, not k
    * sequential BFS loops: [[relaxRounds]] at unit cost, whose improved
    * frontier is exactly the newly reached level. Deterministic integer
    * math → SQL-oracle-checkable (g18). Output: (landmark, id, dist)
    * for vertices reached within `iters` hops. */
  def shortestPathsLandmarks(edges: DataFrame, landmarks: Seq[Long],
      iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = bySrc(edges, "landmarkEdges") {
      edges.select(col("src"), col("dst"), lit(1L).as("w"))
    }
    relaxRounds(e, landmarks.map(l => (l, l, 0L)).toDF("landmark", "id", "dist"),
      Seq("landmark"), iters)
      .select(col("landmark"), col("id"), col("dist").cast("int").as("dist"))
  }

  /** Fixed-iteration power smoothing — the deterministic core of
    * Power Iteration Clustering (the linear iteration v₊ = D⁻¹·W·v
    * over the symmetrized affinity graph) WITHOUT the trailing k-means
    * step, so it is bit-deterministic and SQL-oracle-checkable (the
    * m08 family's twin, like g10 is g05's). v₀ = deg·n/Σdeg (mean 1);
    * D⁻¹W is row-stochastic, so each step is a weighted average of
    * neighbour values — no per-step normalization needed, values stay
    * O(1). Isolated vertices (no edges) are out of scope, as in PIC's
    * affinity matrix. The degree rides in the state, so no superstep
    * joins back to it. Output: (id, v) after `iters` supersteps. */
  def powerSmoothingFixed(edges: DataFrame, weightCol: String, iters: Int): DataFrame = {
    val e = symmetrizedCosts(edges, s"smoothEdges|$weightCol", col(weightCol))
    val deg = e.groupBy(col("src").as("id")).agg(sum("w").as("deg"))
    val stats = deg.agg(count(lit(1)).as("n"), sum("deg").as("sumdeg"))
    superstep(deg.crossJoin(broadcast(stats)).select(col("id"),
        (col("deg") * col("n") / col("sumdeg")).as("v"), col("deg")),
      e, iters,
      Step(col("w") * col("v"), Seq(sum("m").as("s"), max("deg").as("deg")),
        Seq((coalesce(col("s"), lit(0.0)) / col("deg")).as("v"), col("deg"))))
      .select("id", "v")
  }

  /** Deterministic Power Iteration Clustering — the MEASURED path of
    * the M20 surface (m08) over a PRECOMPUTED raw
    * [[powerSmoothingFixed]] embedding (id, v), the seam that lets m08
    * and g15 share one memoized smoothing run per (session, input):
    * rounded HERE to 4dp (cross-engine double-sum pinning, as g15), so
    * the shared frame stays raw and both consumers round identically,
    * then k EQUAL-WIDTH histogram bins over [min(v), max(v)] as the
    * cluster assignment. 1-D k-means on a power-smoothed embedding
    * converges to contiguous segments; equal-width binning is its
    * deterministic, single-pass stand-in — no RDD handoff, no
    * iterative re-seeding, and every step (smoothing, rounding,
    * binning) is SQL-oracle-checkable. spark.ml's PIC
    * (graft.ml.Clustering.pic) stays as the reference-parity API; its
    * RDD-internal power iterations measured a 6× run-to-run spread on
    * identical inputs (PERF.md round 6), which is a scheduling hazard
    * this path removes. The binning adds ONE broadcast min/max agg + a
    * scan-stage projection. Output: (id, cluster 0..k−1). */
  def picClustersFromEmbedding(embedding: DataFrame, k: Int): DataFrame = {
    val v = embedding.select(col("id"), round(col("v"), 4).as("v"))
    val bounds = v.agg(min("v").as("lo"), max("v").as("hi"))
    v.crossJoin(broadcast(bounds))
      .select(col("id"),
        // degenerate all-equal embedding → one cluster; the boundary
        // point v = hi clamps into bin k−1
        when(col("hi") <= col("lo"), lit(0)).otherwise(
          least(floor((col("v") - col("lo")) / (col("hi") - col("lo")) * k),
            lit(k - 1)).cast("int")).as("cluster"))
  }

  /** Connected components by min-label propagation over symmetrized
    * edges: label₀ = id; label₊(v) = min(label(v), min over
    * neighbours). With `iters` ≥ 0, that many synchronous supersteps:
    * after enough (≥ graph diameter) labels equal the component
    * minimum; with fewer, a deterministic partial labelling. With
    * `iters` < 0, supersteps run to a FIXPOINT — until no vertex's
    * label improves, at most 64 (min-label propagation needs ≤ diameter
    * supersteps; 64 covers any plausible near-dup chain). Use that
    * when the near-dup graph's cluster diameter isn't known a priori —
    * a chain of near-dups longer than a fixed `iters` would otherwise
    * stay split across several survivors. The change flag `chg` comes
    * out of the superstep's own aggregate and rides its checkpoint, so
    * detection costs one `limit(1)`-early-exit scan of the
    * just-materialized blocks. Output: (id, label). */
  def minLabelComponents(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    superstep(vertices.select(col("id"), col("id").as("label")),
      undirected(edges), if (iters < 0) 64 else iters, minLabelStep,
      changed = if (iters < 0) Some(col("chg")) else None)
      .select("id", "label")

  /** The min-label superstep of [[minLabelComponents]]. */
  private[graft] def minLabelStep: Step =
    Step(col("label"), Seq(min("m").as("nb"), max("label").as("label")),
      Seq(least(col("label"), col("nb")).as("label"),
        coalesce(col("nb") < col("label"), lit(false)).as("chg")),
      keep = col("__own"))

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014) — the published O(log n)-round CC algorithm, vs
    * min-label propagation's O(diameter) supersteps: each round
    * REWRITES the edge set toward stars rooted at the component
    * minimum instead of propagating labels over a fixed topology.
    * On a 100 TB graph this is the difference between ~log₂(n) and
    * ~diameter shuffles — the reason the paper's shape is the
    * production default for web-scale CC.
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its closed neighborhood — per canonical pair
    *    (a < b), b re-attaches to m(a) = min(a, min N(a));
    *  - small-star: every node connects its SMALLER neighbors (and
    *    itself) to their minimum — per group of pairs sharing the
    *    larger endpoint b, all smaller endpoints and b itself attach
    *    to min(N<(b)).
    *
    * Each phase is ONE keyed aggregation + ONE keyed join on the
    * current pair set (both map-side-combining; the pair set only
    * ever references ids, never payloads), localCheckpoint-ed per
    * round (the superstep pattern). Convergence = the canonical pair
    * set is unchanged by a full round, detected by ONE 1-row agg per
    * round (count + order-independent xxhash64 sum — no frame diff
    * join). At the fixpoint the pair set IS the component star: every
    * node's single neighbor is its component minimum. Output:
    * (id, label) over ALL vertices (isolated vertices label
    * themselves), exact converged components — deterministic, so the
    * recursive-CTE oracle replays it (g22). */
  def largeStarSmallStar(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 32): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    def checksum(pairs: DataFrame): (Long, Long) = {
      // bit_xor: order-independent, overflow-free 64-bit set digest
      val r = pairs.agg(count(lit(1)),
        bit_xor(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var pairs = canon(edges.select("src", "dst")).localCheckpoint()
    var sig = checksum(pairs)
    var converged = false
    var step = 0
    while (!converged && step < maxIters) {
      // large-star: m(a) over the SYMMETRIC neighborhood of the
      // smaller endpoint; each pair re-emits as (m(a), b)
      val sym = pairs.select(col("a").as("u"), col("b").as("v"))
        .unionAll(pairs.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val afterLarge = pairs
        .join(mins.withColumnRenamed("u", "a"), "a")
        .select(col("m").as("a"), col("b")).distinct()
      // small-star: group by the larger endpoint; all smaller
      // endpoints AND the larger endpoint attach to the group min
      val smallMins = afterLarge.groupBy("b").agg(min("a").as("m"))
      // LAZY checkpoint: the round's ONE action is the checksum agg,
      // which materializes the checkpoint blocks in the same job (the
      // g21 stats-fusion lesson — an eager checkpoint would pay a
      // second job per round just to warm the cache the digest then
      // reads)
      val next = afterLarge.join(smallMins, "b")
        .filter(col("a") =!= col("m"))
        .select(col("m").as("a"), col("a").as("b"))
        .unionAll(smallMins.select(col("m").as("a"), col("b")))
        .distinct()
        .localCheckpoint(eager = false)
      val nextSig = checksum(next)
      converged = nextSig == sig
      pairs = next
      sig = nextSig
      step += 1
    }
    vertices.select("id")
      .join(pairs.select(col("b").as("id"), col("a").as("nb_min")), Seq("id"), "left")
      .groupBy("id").agg(min("nb_min").as("nb_min"))
      .select(col("id"), coalesce(col("nb_min"), col("id")).as("label"))
  }

  /** k-core peeling, `rounds` synchronous rounds: repeatedly drop
    * every vertex whose (undirected) degree is below `k`, keeping an
    * edge only while BOTH endpoints survive. The classic "dense
    * backbone" extraction — in a corpus graph it isolates the heavily
    * cross-linked cluster a near-dup or citation analysis should focus
    * on; on customer–part it finds the high-interaction core. The
    * synchronous fixed-round form (all sub-k vertices drop together
    * each round) is deterministic integer math → SQL-oracle-checkable
    * by unrolled CTEs (g21), unlike degeneracy-order peeling, which is
    * inherently sequential. Converged after at most |V| rounds;
    * per-round survivor counts expose the convergence profile.
    *
    * Scale shape per round: one degree aggregation keyed by endpoint
    * (map-side partial) plus two anti-joins against that round's
    * DYING vertex set — the set that shrinks to the peel delta, so at
    * scale it broadcasts where a semi-join against the vertex-sized
    * ALIVE set would shuffle both sides. Driver traffic is ONE fused
    * 1-row agg per round (the g08 fusion, VERDICT r7 item 2): each
    * degree table is read once for BOTH numbers — its Σdeg/2 is this
    * round's n_edges and its count(deg ≥ k) is the NEXT round's
    * n_vertices (survivors entering that round), so the old
    * count()+first() pair per round collapses into the single agg
    * that also materializes the degree cache. The shrinking edge
    * list is `localCheckpoint`-ed per round — EAGER on purpose: both
    * fully-lazy formulations (per-round persist with a single
    * stats action; the whole peel as one unioned plan) degenerate
    * pathologically at sf0.1 under AQE with nested InMemoryRelations
    * (measured minutes vs 5 s), so the per-round materialization
    * stays. The vertex-sized degree table is persisted lazily via
    * [[Caches]] (its lineage is one keyed agg over the checkpointed
    * edges — an eager second checkpoint job per round bought
    * nothing). Output: (round, n_vertices, n_edges) with rounds
    * 1..`rounds`, n_edges counting undirected edges. */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // ALIVE-SET formulation (r10, measured at 100× edges): the r1–r9
    // form re-materialized the SHRINKING EDGE LIST every round
    // (anti-join + localCheckpoint), which is fine at sf0.1 but at
    // 110 M edges each round block-stored a fresh ~full-size edge
    // copy — 398 s at 100×, the one super-linear reading in the r10
    // scale table (an explicit-broadcast variant of the anti-joins
    // measured the same 346–478 s: the cost was the materialization,
    // not the join strategy). The peel's alive sets are NESTED, so an
    // original edge has survived to round r iff BOTH endpoints are in
    // the CURRENT alive set — the per-round state that actually needs
    // persisting is the VERTEX-sized alive table, and the edge list
    // can stay ONE cached symmetrized table semi-joined against it
    // (broadcast: vertices ≪ edges; ~28 MB at 100×). Per round: one
    // scan of the cached edges + a keyed degree agg — no edge
    // checkpoint, no edge copy. Measured 398 → 61 s at 100× (10.3×
    // time at 100× data — sublinear, in family with the other
    // supersteps); sf0.1 unchanged at ~5.9 s. The r9-prescribed
    // incremental-degree lever stays rejected (PERF.md item 6).
    val sym0 = graft.Caches.cached(symmetrize(edges))
    def degreesOf(alive: Option[DataFrame]): DataFrame = {
      val filtered = alive match {
        case None => sym0
        case Some(a) => sym0
          .join(broadcast(a.withColumnRenamed("id", "src")), Seq("src"), "left_semi")
          .join(broadcast(a.withColumnRenamed("id", "dst")), Seq("dst"), "left_semi")
      }
      graft.Caches.cached(
        filtered.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    }
    // (survivors entering next round, undirected edges of THIS table)
    def statsOf(deg: DataFrame): (Long, Long) = {
      val row = deg.agg(
        count(when(col("deg") >= k, lit(1))).as("nv"),
        coalesce(sum("deg"), lit(0L)).as("sd")).first()
      (row.getLong(0), row.getLong(1) / 2)
    }
    var deg = degreesOf(None)
    var nvNext = statsOf(deg)._1
    val out = Seq.newBuilder[(Long, Long, Long)]
    for (r <- 1 to rounds) {
      val nVerts = nvNext
      // keeping every vertex with deg ≥ k ≡ dropping the dying set:
      // the degree table's id set IS the current edge endpoint set,
      // and vertices that lost their last edge left it already
      val alive = deg.filter(col("deg") >= k).select("id").localCheckpoint()
      deg = degreesOf(Some(alive))
      val (nv, nEdges) = statsOf(deg)
      nvNext = nv
      out += ((r.toLong, nVerts, nEdges))
    }
    out.result().toDF("round", "n_vertices", "n_edges")
  }

  /** Deterministic random-WALK corpus (g26) — the data-generation step
    * of DeepWalk/node2vec: fixed-length walks over the symmetrized
    * graph, emitted as node-id sequences for sequence-model training.
    * The "random" next hop is a content-hashed index into the
    * neighbor list SORTED by dst — md5(salt|walk_id|step) mod degree —
    * so the corpus is a pure function of (graph, starts, salt): no
    * RNG, reproducible across engines/runs/partitionings, and a fresh
    * salt yields a fresh epoch of walks (the epochShuffle convention).
    *
    * Scale shape: the [[adjacencyLists]] artifact builds once per
    * session; each of the `steps` supersteps is ONE keyed lookup of the
    * |starts|-sized frontier against it (the frontier's exchange by its
    * current node is the superstep's only data movement) — the
    * frontier never grows, and the edge list never re-materializes
    * (the g21 lesson). Starts with no edges emit nothing (a walk needs
    * a first hop).
    * Output: (walk_id, seq) — seq the space-joined node-id path of
    * `steps`+1 nodes. */
  def walkCorpus(edges: DataFrame, starts: DataFrame, steps: Int,
      salt: String): DataFrame = {
    require(steps > 0, "steps must be positive")
    val adj = adjacencyLists(edges)
    var state = walkStarts(starts)
    for (i <- 1 to steps)
      state = withNeighbours(state, adj)
        .withColumn("__next", uniformPick(salt, i))
        .select(col("walk_id"), col("__next").as("cur"), extendSeq)
    state.select("walk_id", "seq")
  }

  /** Every vertex's neighbours in the symmetrized graph as one
    * ascending, duplicate-free array — (src, nb), an [[artifact]]
    * partitioned by src like a [[bySrc]] one (the grouping runs over
    * the src-partitioned pairs, so the build shuffles once). The walk
    * family's serving artifact: a pure function of the edge list, built
    * by every g26–g31 query, so it memoizes at session scope like the
    * edge list itself, and a hop reads a neighbour's rank as its
    * array index instead of through a per-vertex window. */
  private def adjacencyLists(edges: DataFrame): DataFrame =
    artifact(edges, "walkAdj") {
      edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(parts(edges.sparkSession), col("src"))
        .groupBy("src").agg(array_sort(collect_set(col("dst"))).as("nb"))
    }

  private def walkStarts(starts: DataFrame): DataFrame =
    starts.select(col("id").cast("long").as("walk_id"))
      .select(col("walk_id"), col("walk_id").as("cur"),
        col("walk_id").cast("string").as("seq"))

  /** The frontier joined to its current node's neighbour list: `cur`
    * becomes `src`, and `nb` is added. Walks at a node with no list
    * drop. */
  private def withNeighbours(state: DataFrame, adj: DataFrame): DataFrame =
    state.withColumnRenamed("cur", "src").hint("shuffle_hash").join(adj, "src")

  private def hashBits(salt: String, step: Int): Column =
    conv(substring(md5(concat_ws("|", lit(salt), col("walk_id"),
      lit(step))), 1, 8), 16, 10).cast("long")

  /** The 1-based `(md5 mod degree) + 1`-th neighbour of `nb`. */
  private def uniformPick(salt: String, step: Int): Column =
    element_at(col("nb"),
      ((hashBits(salt, step) % size(col("nb"))) + 1).cast("int"))

  private val extendSeq: Column =
    concat_ws(" ", col("seq"), col("__next").cast("string")).as("seq")

  /** node2vec-BIASED deterministic walk corpus (g28) — the
    * second-order extension of [[walkCorpus]] (Grover & Leskovec
    * 2016): at each hop after the first, a neighbor x of `cur` is
    * weighted `returnWeight` (= 1/p) when x is the PREVIOUS node,
    * 1 when x also neighbors the previous node (distance 1), and
    * `outWeight` (= 1/q) otherwise (distance 2); the hop picks the
    * first dst-ranked neighbor whose cumulative weight exceeds
    * u·total, with u = md5(salt|walk_id|step)/2³² — so like g26 the
    * corpus is a pure function of (graph, starts, p, q, salt), no
    * RNG. The first hop is uniform (no previous node) and shares
    * walkCorpus's exact pick arithmetic.
    *
    * ORACLE-EXACTNESS BOUND: keep returnWeight/outWeight dyadic
    * (0.5, 0.25, …) — then u, every cumulative sum, and u·total are
    * exact in both engines' doubles (u has ≤32 significand bits;
    * weights are multiples of 2⁻ᵏ), and the > comparison can never
    * split across engines while 32 + log₂(2ᵏ·deg) < 53. Both the total
    * and the running sums are folded in rank order.
    *
    * Scale shape: the same [[adjacencyLists]] artifact and one keyed
    * lookup per hop as walkCorpus; the previous node's list rides in
    * the frontier row (it was the current list one hop earlier), so a
    * hop needs no second lookup. The pick is two folds over the sorted
    * current list: one for the total weight, one for the running sum
    * and the first rank past u·total. The distance-1 test is a hash
    * intersection of the two lists, walked in step with the fold —
    * linear in deg(cur) + deg(prev), with no window and no
    * per-candidate row. */
  def node2vecWalks(edges: DataFrame, starts: DataFrame, steps: Int,
      returnWeight: Double, outWeight: Double, salt: String): DataFrame = {
    require(steps > 0, "steps must be positive")
    require(returnWeight > 0 && outWeight > 0, "weights must be positive")
    val adj = adjacencyLists(edges)
    // hop 1: uniform over cur's neighbors — walkCorpus's arithmetic
    var state = withNeighbours(walkStarts(starts), adj)
      .withColumn("__next", uniformPick(salt, 1))
      .select(col("walk_id"), col("src").as("prev"), col("nb").as("pnb"),
        col("__next").as("cur"), extendSeq)
    for (i <- 2 to steps)
      state = node2vecHop(state, adj, i, returnWeight, outWeight, salt)
    state.select("walk_id", "seq")
  }

  /** One biased node2vec hop (step `i` ≥ 2) of a (walk_id, prev, pnb,
    * cur, seq) frontier, `pnb` being prev's neighbour list. The lists
    * and thresholds enter each fold through its start value, so they
    * are evaluated once per walk, never per candidate. */
  private def node2vecHop(state: DataFrame, adj: DataFrame, i: Int,
      returnWeight: Double, outWeight: Double, salt: String): DataFrame = {
    // the common neighbours of cur and prev, in nb's (ascending) order;
    // `j` walks it in step with the fold over nb
    def weighed(acc: Column, x: Column): (Column, Column) = {
      val hit = coalesce(get(acc.getField("c"), acc.getField("j")) === x,
        lit(false))
      (acc.getField("j") + hit.cast("int"),
        when(x === col("prev"), lit(returnWeight))
          .when(hit, lit(1.0)).otherwise(lit(outWeight)))
    }
    val total = aggregate(col("nb"),
      struct(lit(0).as("j"), lit(0.0).as("s"),
        array_intersect(col("nb"), col("pnb")).as("c")),
      (acc, x) => {
        val (j, w) = weighed(acc, x)
        struct(j.as("j"), (acc.getField("s") + w).as("s"),
          acc.getField("c").as("c"))
      })
    val u = hashBits(salt, i).cast("double") / lit(4294967296.0)
    val pick = aggregate(col("nb"),
      struct(lit(0).as("j"), lit(0.0).as("cum"),
        lit(null).cast("long").as("pick"), col("__t.c").as("c"),
        (u * col("__t.s")).as("thr")),
      (acc, x) => {
        val (j, w) = weighed(acc, x)
        val cum = acc.getField("cum") + w
        struct(j.as("j"), cum.as("cum"),
          when(acc.getField("pick").isNull && cum > acc.getField("thr"), x)
            .otherwise(acc.getField("pick")).as("pick"),
          acc.getField("c").as("c"), acc.getField("thr").as("thr"))
      },
      acc => acc.getField("pick"))
    withNeighbours(state, adj)
      .withColumn("__t", total)
      .withColumn("__next", pick)
      .select(col("walk_id"), col("src").as("prev"), col("nb").as("pnb"),
        col("__next").as("cur"), extendSeq)
  }

  /** Skip-gram (center, context) pair counts from a walk corpus
    * ([[walkCorpus]] output) — the step that turns walks into the
    * word2vec-style training set DeepWalk actually optimizes on.
    * JOIN-FREE: each walk position explodes over the ≤2·window
    * context OFFSETS and indexes back into its own node array, so the
    * whole extraction is scan-stage (bounded fan-out, no per-walk
    * self-join); the only shuffle is the final (center, context)
    * count agg. Output: (center, context, cnt). */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    val offsets = ((-window to window).filter(_ != 0)).map(lit(_))
    walks
      .select(split(col("seq"), " ").as("__ns"))
      .select(col("__ns"), posexplode(col("__ns")).as(Seq("__pos", "__node")))
      .withColumn("__d", explode(array(offsets: _*)))
      .withColumn("__cpos", col("__pos") + col("__d"))
      .filter(col("__cpos") >= 0 && col("__cpos") < size(col("__ns")))
      .select(col("__node").cast("long").as("center"),
        element_at(col("__ns"), col("__cpos") + 1).cast("long").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
  }

  /** PPMI co-occurrence matrix from the walk corpus (g30) — the
    * closed-form alternative to SGNS training (Levy & Goldberg 2014:
    * SGNS implicitly factorizes the shifted PMI matrix): for every
    * [[skipGramPairs]] (center, context) pair,
    * ppmi = max(0, ln(cnt·total / (c_center · c_context))), the
    * positive part of pointwise mutual information over the windowed
    * co-occurrence counts. Rows with ppmi = 0 drop (the sparsity
    * that makes the matrix factorizable at scale).
    *
    * Scale shape: the pair table shuffles twice more (center- and
    * context-keyed marginal joins) and the total is a 1-row fetch —
    * all counts integral; only the final ln is floating (rounded
    * 6 dp, the house oracle convention). */
  def ppmiPairs(walks: DataFrame, window: Int): DataFrame = {
    val pairs = graft.Caches.cached(skipGramPairs(walks, window))
    val total = pairs.agg(sum("cnt")).head.getLong(0)
    val cc = pairs.groupBy("center").agg(sum("cnt").as("__cc"))
    val cx = pairs.groupBy("context").agg(sum("cnt").as("__cx"))
    pairs.join(cc, "center").join(cx, "context")
      .withColumn("ppmi", round(log(col("cnt") * lit(total) /
        (col("__cc") * col("__cx"))), 6))
      .filter(col("ppmi") > 0)
      .select("center", "context", "ppmi")
  }

  /** PPMI TOP-K NODE SIMILARITY (g31) — serving Levy & Goldberg's
    * EXPLICIT representation: each node's sparse PPMI context vector
    * (clipped to its top-`sparsify` contexts, the standard
    * sparsification) IS its embedding, and cosine over shared
    * contexts gives distributional node similarity with no trained
    * model at all — the count-based serving twin of the g26→g29 SGNS
    * feed. Output: (center, neighbor, sim, rnk) for each center's
    * top-`k` most-similar nodes (ties broken by neighbor id).
    *
    * Scale shape: the cosine is a CONTEXT-KEYED sparse self-join —
    * never all-pairs in the node space. Per-context fan-out is
    * bounded by how many centers keep that context in their top-m
    * vector; a production corpus additionally caps hub contexts
    * (drop contexts kept by > C centers — the stopword cut), the
    * same bound SemDeDup puts on cell sizes. The per-center norm
    * rides the SAME center partitioning as the sparsify window (a
    * second WindowExec, zero extra shuffle — measured 2.5 s off the
    * sf0.1 serve vs the norms-as-joins first form), so each side of
    * the context join carries its norm and the cosine falls out of
    * the pair agg directly: sum(pa·pb)/(na·nb) with first(na·nb),
    * no post-join norm lookups. The 6-dp PPMI inputs are identical
    * in both engines; only the final sim (an order-sensitive double
    * sum) rounds, to 4 dp like g10/g24. */
  def ppmiTopSimilar(walks: DataFrame, window: Int, sparsify: Int,
      k: Int): DataFrame = {
    val top = graft.Caches.cached(ppmiVectors(walks, window, sparsify))
    cosineTopK(top, top, k)
  }

  /** Sparse PPMI node vectors: each center's top-`sparsify` PPMI
    * contexts with the center's L2 norm attached — (center, context,
    * ppmi, nrm). The norm rides the sparsify window's own center
    * partitioning (second WindowExec, zero extra shuffle). This IS
    * the explicit-representation embedding table; [[writeNodeVectors]]
    * persists it as the serving artifact. */
  private def ppmiVectors(walks: DataFrame, window: Int,
      sparsify: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCenter = Window.partitionBy("center")
      .orderBy(col("ppmi").desc, col("context"))
    val centerAll = Window.partitionBy("center")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ppmiPairs(walks, window)
      .withColumn("__r", row_number().over(byCenter))
      .filter(col("__r") <= sparsify).drop("__r")
      .withColumn("nrm", sqrt(sum(col("ppmi") * col("ppmi")).over(centerAll)))
  }

  /** Context-keyed sparse cosine top-k: each `query` center against
    * every `index` center sharing a context — never all-pairs. Both
    * sides carry their norms, so the cosine falls out of the (ca,cb)
    * agg directly. */
  private def cosineTopK(query: DataFrame, index: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = query.select(col("context"), col("center").as("__ca"),
      col("ppmi").as("__pa"), col("nrm").as("__na"))
    val b = index.select(col("context"), col("center").as("__cb"),
      col("ppmi").as("__pb"), col("nrm").as("__nb"))
    val sims = a.join(b, "context").filter(col("__ca") =!= col("__cb"))
      .groupBy("__ca", "__cb")
      .agg(round((sum(col("__pa") * col("__pb")) /
        (first(col("__na")) * first(col("__nb")))), 4).as("sim"))
    val rankW = Window.partitionBy("__ca").orderBy(col("sim").desc, col("__cb"))
    sims.withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= k)
      .select(col("__ca").as("center"), col("__cb").as("neighbor"),
        col("sim"), col("rnk").cast("int").as("rnk"))
  }

  /** PERSIST the PPMI node-vector table (g32) — the build half of the
    * graph-embedding serving lifecycle: the [[ppmiVectors]] output
    * written as a plain parquet artifact, exactly how the postings
    * (s30) and IVF (s16) families persist their indexes. PPMI is a
    * GLOBAL statistic (marginals couple every pair), so unlike the
    * hash/gram indexes this artifact is batch-rebuilt per corpus
    * release, not incrementally appended — the same contract as the
    * trained PQ codebooks (m16). */
  def writeNodeVectors(walks: DataFrame, window: Int, sparsify: Int,
      path: String): Unit =
    ppmiVectors(walks, window, sparsify)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** SERVE top-k similar nodes from a persisted vector artifact (g32):
    * the query side restricts the artifact to `queryNodes` ids (a
    * broadcast semi-side — query batches are small), the index side
    * is the full artifact, and the cosine/rank plan is byte-identical
    * to [[ppmiTopSimilar]]'s. A query id with no vector (never walked)
    * serves nothing, by construction. */
  def similarFromArtifact(spark: org.apache.spark.sql.SparkSession,
      path: String, queryNodes: DataFrame, k: Int): DataFrame = {
    val idx = graft.Caches.cached(graft.Fs.readParquet(spark, path))
    val q = idx.join(broadcast(queryNodes.select(col("id").as("center"))),
      Seq("center"))
    cosineTopK(q, idx, k)
  }

  /** PERSIST a walk corpus as a serving artifact keyed by (epoch
    * salt, walk length): the g26 walks written once per epoch and
    * read by every downstream consumer (skip-gram, SGNS, PPMI
    * vectors) instead of each re-deriving `steps` supersteps per
    * session. A key table pins (salt, steps) so a reader asking for
    * a different epoch or length fails loudly instead of silently
    * training on the wrong corpus. Epochs REBUILD (a fresh salt is a
    * fresh corpus), never append — walk rows are start-keyed and
    * independent, and the artifact is immutable once published (the
    * m16 codebook contract). At 100 TB the walks are the expensive
    * half (steps × frontier joins over the full adjacency); every
    * consumer after this is a scan of |starts| rows. */
  def writeWalkCorpus(edges: DataFrame, starts: DataFrame, steps: Int,
      salt: String, path: String): Unit = {
    val s = edges.sparkSession
    walkCorpus(edges, starts, steps, salt)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/walks")
    import s.implicits._
    Seq((salt, steps)).toDF("salt", "steps").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/key")
  }

  /** Read a persisted walk corpus, asserting its (salt, steps) key
    * matches what the caller expects — an epoch/length mismatch is a
    * training-corpus bug, so it throws rather than serving stale
    * walks. The key table is one row; the walks frame is cached for
    * the downstream consumer (it is scanned twice by skip-gram+noise
    * shapes). */
  def readWalkCorpus(spark: org.apache.spark.sql.SparkSession,
      path: String, salt: String, steps: Int): DataFrame = {
    val key = graft.Fs.readParquet(spark, s"$path/key").collect()
    require(key.length == 1 &&
      key(0).getAs[String]("salt") == salt &&
      key(0).getAs[Int]("steps") == steps,
      s"walk-corpus key mismatch at $path: wanted (salt=$salt, " +
        s"steps=$steps), found " +
        key.map(r => (r.get(0), r.get(1))).mkString(","))
    graft.Caches.cached(graft.Fs.readParquet(spark, s"$path/walks"))
  }

  /** SGNS NEGATIVE sampling (g29) — the last data step of the
    * word2vec/DeepWalk recipe: `negPerPair` negatives per distinct
    * [[skipGramPairs]] (center, context) pair, drawn from the walk
    * corpus's unigram occurrence mass (Mikolov et al.'s U(w)^α noise
    * family at α = 1, which keeps every weight integral so the
    * inverse-CDF pick is EXACT integer arithmetic in both engines —
    * α = 0.75 would need scaled-integer weights). The draw is
    * md5(salt|center|context|j) mod total occurrences, mapped through
    * the node-ordered cumulative mass — no RNG, reproducible across
    * engines/runs/partitionings.
    *
    * Scale shape: the noise distribution is VOCABULARY-sized (its
    * node-order cumsum is two-level: node-range blocks summed by a
    * block-keyed window plus the prefix of the few block totals), and
    * the interval probe is a BUCKETED EQUI-join: interval rows
    * explode over the ~1 bucket of mass-width total/|vocab| they
    * span (≈2 rows per node), draws hash-join on
    * floor(idx/bucketWidth) and range-filter the handful of
    * intervals sharing their bucket. A broadcast nested-loop range
    * join measured 12.8 s at sf0.1 / 154 s at 30× (pairs × vocab
    * comparisons); the bucketed form took the same inputs to 1.5 s /
    * 4.2 s — the difference between vocab-bounded and
    * pairs×vocab-bounded work, which is what survives at
    * billion-pair scale. Output: (center, context, neg_rank,
    * negative). */
  def sgnsNegatives(walks: DataFrame, window: Int, negPerPair: Int,
      salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(negPerPair > 0, "negPerPair must be positive")
    // the walk chain feeds three consumers (node counts, the pair
    // extraction, and through them the final probe) and `counts`
    // feeds two (the stats fetch and the cumulative table) — pin
    // both or the superstep joins re-execute per consumer (measured:
    // 11.5 → 4.4 s at sf0.1 on the g29 shape)
    val w = graft.Caches.cached(walks)
    val counts = graft.Caches.cached(w
      .select(explode(split(col("seq"), " ")).as("__n"))
      .select(col("__n").cast("long").as("node"))
      .groupBy("node").agg(count(lit(1)).as("c")))
    val stats = counts.agg(sum("c"), count(lit(1)), min("node"), max("node")).head
    val total = stats.getLong(0)
    val width = math.max(1L, total / math.max(1L, stats.getLong(1)))
    // cum = the inclusive running mass in node order, built two-level
    // (the io11 offset construction): node-range blocks, monotone in
    // node, each summed by a block-keyed window, plus the exclusive
    // prefix of the block totals — a blocks×blocks join of a table
    // with at most parts(spark) rows, so no window ever runs over one
    // global partition
    val lo = stats.getLong(2)
    val nBlocks = parts(walks.sparkSession).toLong
    val blockW = (stats.getLong(3) - lo) / nBlocks + 1
    val blocked = counts.withColumn("__k", expr(s"(node - $lo) div $blockW"))
    val blockMass = blocked.groupBy("__k").agg(sum("c").as("__m"))
    val offsets = blockMass
      .join(blockMass.select(col("__k").as("__k2"), col("__m").as("__m2")),
        col("__k2") < col("__k"), "left")
      .groupBy("__k").agg(coalesce(sum("__m2"), lit(0L)).as("__off"))
    val dist = blocked
      .withColumn("__in", sum("c").over(Window.partitionBy("__k").orderBy("node")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), "__k")
      .select(col("node"), col("c"), (col("__off") + col("__in")).as("cum"))
    val distBucketed = dist.withColumn("__b", explode(sequence(
      ((col("cum") - col("c")) / lit(width)).cast("long"),
      ((col("cum") - 1) / lit(width)).cast("long"))))
    val pairs = skipGramPairs(w, window).select("center", "context")
    pairs
      .withColumn("neg_rank",
        explode(array((1 to negPerPair).map(lit(_)): _*)))
      .withColumn("__idx",
        conv(substring(md5(concat_ws("|", lit(salt), col("center"),
          col("context"), col("neg_rank"))), 1, 8), 16, 10).cast("long")
          % lit(total))
      .withColumn("__b", (col("__idx") / lit(width)).cast("long"))
      .join(broadcast(distBucketed), Seq("__b"))
      .filter(col("__idx") >= col("cum") - col("c") &&
        col("__idx") < col("cum"))
      .select(col("center"), col("context"),
        col("neg_rank").cast("int").as("neg_rank"),
        col("node").as("negative"))
  }
}

package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Property graph over a pair of DataFrames — the reference's
  * GraphFrame surface (goodreads.py:463–683) rebuilt on vanilla Spark:
  * degree/subgraph ops stay declarative DataFrame code (one shuffle,
  * Catalyst-visible), iterative algorithms adapt to GraphX (which ships
  * with Spark; GraphFrames does not).
  *
  * `vertices` must have a Long `id` column; `edges` must have Long
  * `src`/`dst` columns. Extra columns are vertex/edge attributes.
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {

  /** G5 (goodreads.py:552): out-degree per vertex = edges.groupBy(src). */
  def outDegrees: DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("outDegree"))

  /** G5 (goodreads.py:563): in-degree per vertex. */
  def inDegrees: DataFrame =
    edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("inDegree"))

  def degrees: DataFrame =
    edges.select(col("src").as("id")).unionAll(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  /** Pairwise IN-neighborhood Jaccard similarity between destination
    * vertices — "items bought by the same people": two dst vertices
    * are similar when their SOURCE sets overlap (the reference's
    * book-similarity-by-common-readers use case, goodreads.py's
    * user→book graph). Same plan shape as the n-gram Jaccard dedup
    * (dedup.Dedup.ngramJaccardPairs — an inverted index on the
    * shared source, the d02 shape on a graph): pair work is
    * Σ_src C(outdeg, 2), bounded by `maxSrcOutDeg` which drops hub
    * sources before pairing (both the candidate set AND the
    * similarity definition are over the capped edge set, exactly
    * like d02's df cap) — the knob that keeps the self-join from
    * going quadratic under hub skew at any scale. Distinct edges
    * assumed (graft-built graphs aggregate per (src, dst)). Output:
    * (id_a, id_b, common, deg_a, deg_b, jaccard) with id_a < id_b
    * and jaccard ≥ `minJaccard`, rounded for oracle portability. */
  def inNeighborhoodJaccard(maxSrcOutDeg: Int, minJaccard: Double): DataFrame = {
    val capped = graft.Caches.cached(
      edges.select("src", "dst")
        .join(edges.groupBy("src").agg(count(lit(1)).as("__od"))
          .filter(col("__od") <= maxSrcOutDeg), Seq("src"))
        .select("src", "dst"))
    val sizes = capped.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("sz"))
    capped.toDF("src", "id_a")
      .join(capped.toDF("src", "id_b"),
        Seq("src"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(sizes.toDF("id_a", "deg_a"), "id_a")
      .join(sizes.toDF("id_b", "deg_b"), "id_b")
      .withColumn("jaccard",
        round(col("common") / (col("deg_a") + col("deg_b") - col("common")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "common", "deg_a", "deg_b", "jaccard")
  }

  /** G3 (goodreads.py:569): keep vertices satisfying `cond`; edges are
    * restricted to those with BOTH endpoints surviving (two semi-joins —
    * each broadcastable when the surviving vertex set is small). */
  def filterVertices(cond: Column): PropertyGraph = {
    val v = vertices.filter(cond)
    val ids = v.select("id")
    val e = edges
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    PropertyGraph(v, e)
  }

  /** G4 (goodreads.py:541,575): keep edges satisfying `cond` (vertex
    * set unchanged — GraphFrames semantics). */
  def filterEdges(cond: Column): PropertyGraph =
    PropertyGraph(vertices, edges.filter(cond))

  /** Shared unweighted GraphX view — built (and cached) once per
    * PropertyGraph instance so PageRank / label propagation / connected
    * components on the same memoized graph reuse one RDD lineage. */
  lazy val graphX: Graph[Int, Double] = toGraphX(None)

  /** One edge per (src, dst), materialized ONCE per PropertyGraph
    * instance (graph instances are themselves memoized per session, so
    * repeated bfs calls share this — the ADVICE r8 fix for paying the
    * canonicalization shuffle per call). bfs is public API over
    * ARBITRARY graphs: a multigraph input duplicates the hop-join rows
    * and makes the shapePaths pivot nondeterministic, so bfs must see
    * one canonical edge per pair — min over the full-row struct is a
    * deterministic pick (struct ordering is field-by-field).
    * Precondition this inherits: edge property columns must be
    * ORDERABLE (min over a struct rejects map-typed fields with an
    * analysis error — loudly, vs the silent nondeterminism it
    * replaced). */
  private lazy val canonicalEdges: DataFrame = edges
    .groupBy(col("src").as("__s"), col("dst").as("__d"))
    .agg(min(struct(edges.columns.map(col): _*)).as("__e"))
    .select(col("__e.*"))
    .localCheckpoint()

  /** Partitioning for Pregel supersteps: iterative message passing
    * wants FEWER, chunkier partitions than SQL shuffles — per-superstep
    * task scheduling plus per-partition message maps dominate at high
    * partition counts (measured at sf0.1/local[32]: label propagation
    * 27.5 s on 32 partitions vs 12.2 s on 8). Scales with cluster
    * parallelism; floor of 4 keeps small boxes busy. */
  private def graphParts: Int =
    math.max(4, spark.sparkContext.defaultParallelism / 4)

  /** Dataset ⇄ GraphX adapter. Vertex attribute = unit (algorithms
    * below don't need attributes); edge attribute = optional numeric
    * weight column. */
  def toGraphX(weightCol: Option[String] = None,
      parts: Option[Int] = None,
      strategy: Option[org.apache.spark.graphx.PartitionStrategy] =
        Some(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D))
      : Graph[Int, Double] = {
    val p = parts.getOrElse(graphParts)
    val raw = weightCol match {
      case Some(w) => edges.select(col("src").cast("long"), col("dst").cast("long"),
          col(w).cast("double"))
        .coalesce(p).rdd.map((r: Row) => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
      case None => edges.select(col("src").cast("long"), col("dst").cast("long"))
        .coalesce(p).rdd.map((r: Row) => Edge(r.getLong(0), r.getLong(1), 1.0))
    }
    // EdgePartition2D (default): √p-grid vertex-cut partitioning
    // bounds each vertex's replication across edge partitions by 2√p,
    // which is what every Pregel superstep ships — measured (PERF.md
    // "Round 6: bench reproducibility", sf0.1) label propagation
    // 10.8→6.3 s at p=8 vs the arrival-order layout; the win grows
    // with p (16.8→6.9 s at p=16), i.e. with cluster scale. Applied to the RAW edge RDD
    // BEFORE Graph construction — Graph(...).partitionBy(...) would
    // cache BOTH the arrival-order and the re-partitioned EdgeRDD at
    // MEMORY_AND_DISK for the session (2× edge storage).
    val eRdd = strategy.fold(raw) { s =>
      raw.map(e => (s.getPartition(e.srcId, e.dstId, p), e))
        .partitionBy(new org.apache.spark.HashPartitioner(p))
        .map(_._2)
    }
    val vRdd = vertices.select(col("id").cast("long"))
      .coalesce(p).rdd.map((r: Row) => (r.getLong(0): VertexId, 1))
    Graph(vRdd, eRdd, defaultVertexAttr = 1,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
  }

  private def spark: SparkSession = vertices.sparkSession

  /** G9 (goodreads.py:618): PageRank until convergence — GraphX Pregel
    * under the hood, same semantics as GraphFrames' resetProbability/tol
    * form (scores sum ≈ N, matching the reference's magnitudes). */
  def pageRank(tol: Double = 0.01, resetProb: Double = 0.15): DataFrame = {
    val ranks = graphX.pageRank(tol, resetProb).vertices
    spark.createDataFrame(ranks.map { case (id, r) => (id, r) })
      .toDF("id", "pagerank")
  }

  /** G8 (goodreads.py:594): synchronous label propagation, maxIter
    * supersteps (GraphX lib — deterministic given the graph). */
  def labelPropagation(maxIter: Int): DataFrame = {
    val labels = org.apache.spark.graphx.lib.LabelPropagation
      .run(graphX, maxIter).vertices
    spark.createDataFrame(labels.map { case (id, l) => (id, l) })
      .toDF("id", "label")
  }

  /** Connected components (undirected) via GraphX. */
  def connectedComponents(): DataFrame = {
    val cc = graphX.connectedComponents().vertices
    spark.createDataFrame(cc.map { case (id, c) => (id, c) })
      .toDF("id", "component")
  }

  /** Strongly connected components (directed mutual reachability) via
    * GraphX — the last GraphFrames/GraphX library algorithm in the
    * surface. Deterministic: labels are the minimum vertex id of each
    * SCC (GraphX's coloring converges to the min id), so results are
    * platform-stable; semantics pinned by GraphSpec on a hand digraph
    * (not SQL-expressible — unbounded mutual reachability — so no
    * oracle query; the operator is spec-covered like
    * sessionizeWithState). `numIter` bounds the outer peeling loop
    * (≥ the longest chain of nested SCC discoveries, NOT the cycle
    * length; GraphX peels converged SCCs each round). */
  def stronglyConnectedComponents(numIter: Int): DataFrame = {
    val scc = org.apache.spark.graphx.lib.StronglyConnectedComponents
      .run(graphX, numIter).vertices
    spark.createDataFrame(scc.map { case (id, c) => (id, c) })
      .toDF("id", "scc")
  }

  /** G6 (goodreads.py:588): BFS shortest paths from vertices matching
    * `fromCond` to vertices matching `toCond`, following edge
    * direction, up to `maxPathLength` hops. Returns the GraphFrames
    * result shape (ipynb cell 78): struct columns
    * (from, e0, v1, e1, …, to) — full vertex/edge attribute structs —
    * for the FIRST depth at which any target is reached (shortest).
    *
    * Scale posture (unlike GraphFrames, which enumerates EVERY
    * shortest path — combinatorial on dense graphs):
    *  - one canonical (lexicographically least) path is kept per
    *    (start, reached-vertex) each superstep, bounding the frontier
    *    by |starts| × |V|;
    *  - vertices reached at an earlier depth are anti-joined out, so
    *    each vertex is expanded once per start;
    *  - each superstep is one equi-join + anti-join + hash aggregate
    *    (`min` over the path array picks the same lexicographically
    *    least canonical path a sort would, but as a partial+final
    *    agg — no frontier-wide sort), `localCheckpoint`ed to cut
    *    lineage;
    *  - targets are left-joined into the same checkpointed frame, so
    *    ONE small driver action per superstep answers both "reached a
    *    target?" and "frontier exhausted?" (previously two jobs).
    * Result: one deterministic shortest path per (start, end) pair.
    */
  def bfs(fromCond: Column, toCond: Column, maxPathLength: Int): DataFrame = {
    // Materialize the graph ONCE (the GraphX-cache analog): without
    // this, the vertex/edge build pipelines re-execute every
    // superstep and again per shapePaths join — measured 7.0 s → 3.5 s
    // on the sf0.1 customer-part graph (PERF.md "Round-7 changes").
    val vtx = vertices.localCheckpoint()
    val edg = canonicalEdges
    val targets = vtx.filter(toCond).select(col("id").as("__end"))
    val e = edg.select(col("src"), col("dst"))

    var frontier = vtx.filter(fromCond)
      .select(col("id").as("__start"), col("id").as("__cur"),
        array(col("id")).as("__path"))
      .localCheckpoint()

    // depth 0: source already matches target
    val hit0 = frontier.join(targets, frontier("__cur") === targets("__end"))
      .select(col("__start"), col("__path"))
    if (!hit0.isEmpty) return shapePaths(hit0, 0, vtx, edg)

    var seen = frontier.select("__start", "__cur").localCheckpoint()
    var depth = 0
    var exhausted = false
    while (depth < maxPathLength && !exhausted) {
      depth += 1
      val expanded = frontier.join(e, frontier("__cur") === e("src"))
        .select(col("__start"), col("dst").as("__cur"),
          concat(col("__path"), array(col("dst"))).as("__path"))
        // min-length: never re-reach a vertex this start already owns
        .join(seen, Seq("__start", "__cur"), "left_anti")
        // one canonical path per (start, cur) — frontier ≤ |starts|×|V|
        .groupBy("__start", "__cur").agg(min("__path").as("__path"))
      frontier = expanded
        .join(targets, expanded("__cur") === targets("__end"), "left")
        .localCheckpoint() // cut lineage per superstep (eager)
      // one driver action: frontier size + hit count over the
      // already-materialized checkpoint
      val counts = frontier
        .agg(count(lit(1)).as("__n"), count(col("__end")).as("__h")).first()
      if (counts.getLong(1) > 0L)
        return shapePaths(frontier.filter(col("__end").isNotNull)
          .select(col("__start"), col("__path")), depth, vtx, edg)
      if (counts.getLong(0) == 0L) exhausted = true
      else seen = seen.unionAll(frontier.select("__start", "__cur"))
        .localCheckpoint()
    }
    val vSchema = org.apache.spark.sql.types.StructType(vertices.schema.fields)
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      new org.apache.spark.sql.types.StructType()
        .add("from", vSchema).add("to", vSchema))
  }

  /** Expand (start, path[array]) rows into the GraphFrames BFS result
    * shape: from, e0, v1, e1, …, to. ONE vertex scan and ONE edge scan
    * regardless of depth: path positions (and hop pairs) are exploded,
    * joined once, and pivoted back into position columns with
    * `first(when(pos = i, …), ignoreNulls)` — deterministic because
    * vertex ids are unique and graft graphs are simple (edges are
    * groupBy-built, one per (src, dst)); the previous per-position
    * join chain ran depth+1 vertex joins + depth edge joins as 2·depth
    * sequential stages (measured 2.2 s of g08's 5.3 s at sf0.1). */
  private def shapePaths(hits: DataFrame, depth: Int,
      vtx: DataFrame, edg: DataFrame): DataFrame = {
    val vCols = struct(vtx.columns.map(col): _*)
    val eCols = struct(edg.columns.map(col): _*)
    if (depth == 0) {
      val vs = vtx.select(col("id").as("__vid"), vCols.as("from"))
      return hits.join(vs, element_at(col("__path"), 1) === col("__vid"))
        .select(col("from"), col("from").as("to"))
    }
    val vName = (i: Int) => if (i == 0) "from" else if (i == depth) "to" else s"v$i"
    val vPos = hits
      .select(col("__start"), col("__path"),
        posexplode(col("__path")).as(Seq("__pos", "__vid")))
      .join(vtx.select(col("id").as("__vid"), vCols.as("__v")), Seq("__vid"))
    val vAggs = (0 to depth).map(i =>
      first(when(col("__pos") === i, col("__v")), ignoreNulls = true)
        .as(vName(i)))
    val vWide = vPos.groupBy("__start", "__path").agg(vAggs.head, vAggs.tail: _*)
    val ePos = hits
      .select(col("__start"), col("__path"),
        explode(sequence(lit(0), size(col("__path")) - 2)).as("__hop"))
      .select(col("__start"), col("__path"), col("__hop"),
        element_at(col("__path"), col("__hop") + 1).as("__hsrc"),
        element_at(col("__path"), col("__hop") + 2).as("__hdst"))
      .join(edg.select(col("src").as("__hsrc"), col("dst").as("__hdst"),
        eCols.as("__e")), Seq("__hsrc", "__hdst"))
    val eAggs = (0 until depth).map(i =>
      first(when(col("__hop") === i, col("__e")), ignoreNulls = true)
        .as(s"e$i"))
    val eWide = ePos.groupBy("__start", "__path").agg(eAggs.head, eAggs.tail: _*)
    val order = Seq("from") ++
      (0 until depth).flatMap(i => Seq(s"e$i") ++ (if (i + 1 < depth) Seq(vName(i + 1)) else Nil)) ++
      Seq("to")
    vWide.join(eWide, Seq("__start", "__path")).select(order.map(col): _*)
  }

  /** G10 (goodreads.py:500–541): the reference's graph-visualization
    * cell is driver-side matplotlib — out of engine scope; the engine
    * provides the data half: a bounded edge sample for a plotting
    * client (`take(1000)` equivalent, deterministic order). */
  def sampleEdges(n: Int): DataFrame =
    edges.orderBy("src", "dst").limit(n)

  /** G10 (goodreads.py:500–541), layout half: deterministic
    * coordinate assignment for the [[sampleEdges]] subgraph — the
    * engine-side counterpart of the reference's networkx spring
    * layout. Vertices touched by the sample are placed on a
    * ⌈√n⌉-wide grid in (in-sample degree DESC, id) order, so hubs
    * cluster at the origin row and the whole layout is integer math —
    * reproducible across engines (a seeded force simulation is
    * platform-float-sensitive; a plotting client that wants physics
    * can still run it on this export). The ordering is bounded by
    * 2·sampleN rows BY CONSTRUCTION (sample-bounded, like MMR's
    * k-bound) — it never sees the full graph — and is computed as a
    * degree-keyed rank plus per-degree offsets, never as one global
    * window. Output:
    * (id, degree, x, y), one row per sampled vertex. */
  def layoutGrid(sampleN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = sampleEdges(sampleN)
    // cached: the width count() below and the returned frame would
    // otherwise each run the sample sort + degree aggregation
    val deg = graft.Caches.cached(
      e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree")))
    val n = deg.count() // bounded by 2·sampleN — one cheap action
    val w = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    // position in (degree DESC, id) order, two-level (the io11 offset
    // construction): the rank within the vertex's degree, keyed by
    // degree, plus the count of vertices with a higher degree — a
    // join of the per-degree counts with themselves, so no window
    // runs over one global partition
    val perDegree = deg.groupBy("degree").agg(count(lit(1)).as("__n"))
    val offsets = perDegree
      .join(perDegree.select(col("degree").as("__d2"), col("__n").as("__n2")),
        col("__d2") > col("degree"), "left")
      .groupBy("degree").agg(coalesce(sum("__n2"), lit(0L)).as("__off"))
    deg
      .withColumn("__rn",
        row_number().over(Window.partitionBy("degree").orderBy(col("id"))))
      .join(broadcast(offsets), "degree")
      .withColumn("__pos", (col("__off") + col("__rn") - 1).cast("long"))
      .select(col("id"), col("degree"),
        (col("__pos") % w).as("x"), expr(s"__pos div $w").as("y"))
  }

  /** G6 (goodreads.py:588): the reference's call shape — SQL-string
    * vertex conditions ("id = 1"). */
  def bfs(fromExpr: String, toExpr: String, maxPathLength: Int): DataFrame =
    bfs(expr(fromExpr), expr(toExpr), maxPathLength)

  /** General motif finding — the reference's `graph.find` surface
    * (goodreads.py:582) compiled to equi-joins, one per pattern term:
    *
    *   find("(u1)-[r1]->(b); (u2)-[r2]->(b)")
    *     .filter("r1.rating = r2.rating")
    *
    * Output: one struct column per NAMED vertex (full vertex row) and
    * per named edge, in first-appearance order — GraphFrames' result
    * shape, so reference filters like `u1.id < u2.id` work verbatim.
    * Anonymous `()` / `[]` elements match without binding. Repeated
    * vertex names unify via join conditions on the id; `!(a)-[]->(b)`
    * terms compile to anti-joins (no such edge may exist). Each named
    * vertex is inner-joined against the vertex table, so matches are
    * restricted to the graph's vertex set.
    *
    * Scale: every term join keys on shared vertex ids — shuffled
    * equi-joins, broadcastable when a side is small; terms sharing no
    * name with what's been matched so far cross-join (inherent to the
    * semantics — GraphFrames does the same). Morphisms on a hot hub
    * are combinatorial BY CONTRACT; for counting queries prefer the
    * closed forms ([[threeStarCounts]]). */
  def find(pattern: String): DataFrame = {
    val terms = Motif.parse(pattern)
    val (neg, pos) = terms.partition(_.negated)
    require(pos.nonEmpty, "motif pattern needs at least one positive term")

    val eStruct = struct(edges.columns.map(col): _*)
    val vStruct = struct(vertices.columns.map(col): _*)
    // vertex name -> bound id column; names in first-appearance order
    val vertexId = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val outOrder = scala.collection.mutable.ArrayBuffer.empty[String]
    var df: DataFrame = null

    // vertex and edge name spaces must be disjoint, and edge names
    // unique — a shared name would emit duplicate output columns
    val vNames = pos.flatMap(t => t.src ++ t.dst).toSet
    val eNames = pos.flatMap(t => t.edge)
    require(eNames.distinct == eNames,
      s"duplicate edge name in motif pattern: ${eNames.diff(eNames.distinct).head}")
    eNames.find(vNames.contains).foreach(n =>
      throw new IllegalArgumentException(
        s"name '$n' used for both a vertex and an edge in motif pattern"))

    pos.zipWithIndex.foreach { case (t, i) =>
      val srcCol = s"__src_$i"
      val dstCol = s"__dst_$i"
      val e = edges.select(Seq(col("src").as(srcCol), col("dst").as(dstCol)) ++
        t.edge.map(en => eStruct.as(s"__e_$en")).toSeq: _*)
      // unification constraints against names bound by EARLIER terms
      // (or, for (a)-[]->(a), within this term)
      var conds = Seq.empty[Column]
      t.src.foreach { n =>
        vertexId.get(n).foreach(bound => conds :+= (col(bound) === col(srcCol))) }
      t.dst.foreach { n =>
        vertexId.get(n).foreach(bound => conds :+= (col(bound) === col(dstCol))) }
      if (t.src.nonEmpty && t.src == t.dst && !vertexId.contains(t.src.get))
        conds :+= (col(srcCol) === col(dstCol))
      df =
        if (df == null) conds.foldLeft(e)(_ filter _)
        else if (conds.nonEmpty) df.join(e, conds.reduce(_ && _))
        else df.crossJoin(e)
      t.src.foreach { n =>
        if (!vertexId.contains(n)) { vertexId(n) = srcCol; outOrder += n } }
      t.edge.foreach { en => outOrder += en }
      t.dst.foreach { n =>
        if (!vertexId.contains(n)) { vertexId(n) = dstCol; outOrder += n } }
    }

    neg.foreach { t =>
      require(vertexId.contains(t.src.get) && vertexId.contains(t.dst.get),
        s"negated term references unbound vertex names: ${t.src.get}, ${t.dst.get}")
      val ne = edges.select(col("src").as("__nsrc"), col("dst").as("__ndst"))
      df = df.join(ne,
        col(vertexId(t.src.get)) === col("__nsrc") &&
          col(vertexId(t.dst.get)) === col("__ndst"), "left_anti")
    }

    vertexId.foreach { case (name, idCol) =>
      val vs = vertices.select(col("id").as(s"__vid_$name"), vStruct.as(name))
      df = df.join(vs, col(idCol) === col(s"__vid_$name")).drop(s"__vid_$name")
    }
    df.select(outOrder.toSeq.map(n =>
      (if (vertexId.contains(n)) col(n) else col(s"__e_$n")).as(n)): _*)
  }

  /** GraphFrames' triplet view: one row per edge with full `src`
    * vertex, `edge`, and `dst` vertex structs — the join primitive
    * aggregateMessages and custom message-passing code build on. Two
    * keyed equi-joins; Catalyst broadcasts the vertex side when small
    * enough, otherwise both shuffles key on the vertex id. */
  def triplets: DataFrame = {
    val vS = struct(vertices.columns.map(col): _*)
    val eS = struct(edges.columns.map(col): _*)
    edges.select(col("src").as("__s"), col("dst").as("__d"), eS.as("edge"))
      .join(vertices.select(col("id").as("__s"), vS.as("src")), "__s")
      .join(vertices.select(col("id").as("__d"), vS.as("dst")), "__d")
      .select("src", "edge", "dst")
  }

  /** GraphFrames' `aggregateMessages` primitive: evaluate an optional
    * message expression toward each edge's source and/or destination
    * vertex (expressions reference the [[triplets]] struct columns —
    * `src.*`, `edge.*`, `dst.*`), then aggregate all messages arriving
    * at each vertex with `aggExprs` over `col("msg")`. Output:
    * (id, <one column per agg>).
    *
    * This is the exact Pregel superstep shape: triplet joins + ONE
    * shuffle keyed by vertex id with map-side partial aggregation —
    * what GraphX's aggregateMessages does in RDD land, kept here as a
    * Catalyst-visible DataFrame plan (AQE skew handling and broadcast
    * selection apply per superstep). */
  def aggregateMessages(msgToSrc: Option[Column], msgToDst: Option[Column],
      aggExprs: Column*): DataFrame = {
    require(msgToSrc.nonEmpty || msgToDst.nonEmpty,
      "aggregateMessages needs at least one of msgToSrc / msgToDst")
    require(aggExprs.nonEmpty, "aggregateMessages needs at least one aggregate")
    val t = graft.Caches.cached(triplets)
    val parts =
      msgToSrc.map(m => t.select(col("src.id").as("id"), m.as("msg"))).toSeq ++
        msgToDst.map(m => t.select(col("dst.id").as("id"), m.as("msg"))).toSeq
    parts.reduce(_ unionAll _)
      .groupBy("id").agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** GraphFrames' per-vertex triangle counts, skew-aware: edges are
    * canonicalized to undirected (a < b, self-loops and parallel edges
    * dropped), then ORIENTED from the lower- to the higher-(degree, id)
    * endpoint before the wedge join. Orientation bounds every vertex's
    * out-degree by O(√2m) regardless of hub skew — the classic fix for
    * the naive wedge enumeration, whose hottest vertex would otherwise
    * emit C(d, 2) wedge rows (2.6×10⁸ from one 23k-degree hub). Each
    * triangle {u,v,w} is generated exactly once (as the wedge at its
    * orientation-minimal corner, closed by the oriented v→w edge), then
    * credited to all three corners. Output: (id, triangles) for EVERY
    * vertex, zero-filled — the GraphFrames result shape. */
  def triangleCounts(): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // oriented edge (u → v) with v's (degree, id) kept for the wedge
    // ordering below — the orientation key must be reusable there
    val oriented = graft.Caches.cached(und
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    val e1 = oriented.toDF("u", "v", "dv")
    val e2 = oriented.toDF("u", "w", "dw")
    // wedge (v, w) ordered by the SAME (degree, id) key as the
    // orientation, so the closing edge — if present — is oriented v→w
    val tris = e1.join(e2, Seq("u"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"), "left_semi")
      .select("u", "v", "w")
    val corners = tris.select(col("u").as("id"))
      .unionAll(tris.select(col("v").as("id")))
      .unionAll(tris.select(col("w").as("id")))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    vertices.select("id").join(corners, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** GraphFrames' `shortestPaths(landmarks)`: unweighted distances from
    * every vertex TO each reachable landmark, returned in the
    * GraphFrames shape — the vertex row plus a `distances`
    * map<landmark, dist> (absent landmarks omitted from the map).
    * Distances follow edge direction over the graph as constructed;
    * symmetrize the edges first for undirected semantics. The long-form
    * core ([[IterativeGraph.shortestPathsLandmarks]]) is the
    * oracle-checked path (g18); this wrapper adds the map assembly —
    * one groupBy(id) over the (id, landmark, dist) rows. */
  def shortestPaths(landmarks: Seq[Long], maxIter: Int): DataFrame = {
    val dists = IterativeGraph.shortestPathsLandmarks(
      edges.select(col("dst").as("src"), col("src").as("dst")), landmarks, maxIter)
    val maps = dists.groupBy("id")
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("landmark"), col("dist"))))).as("distances"))
    vertices.join(maps, Seq("id"), "left")
      // GraphFrames parity: a vertex reaching NO landmark carries an
      // EMPTY map, not NULL (size()/map_keys() written against the
      // GraphFrames shape must see 0/[], not null)
      .withColumn("distances", coalesce(col("distances"),
        map_from_entries(array().cast("array<struct<landmark:bigint,dist:int>>"))))
  }

  /** GraphFrames' `parallelPersonalizedPageRank`: per-source rank
    * vectors over the graph's directed edges, every source iterated in
    * the same supersteps. Thin wrapper over the oracle-checked core
    * ([[IterativeGraph.personalizedPageRankFixed]], g19). */
  def parallelPersonalizedPageRank(sources: Seq[Long], maxIter: Int,
      resetProb: Double = 0.15): DataFrame =
    IterativeGraph.personalizedPageRankFixed(edges, sources, maxIter, resetProb)

  /** G7 (goodreads.py:582) COUNTING form: per-hub 3-star triple counts
    * computed closed-form from the in-degree table — n_triples =
    * C(d, 3) = d(d−1)(d−2)/6 over distinct spokes. One aggregation, no
    * motif materialization: on a skewed hub (the reference's book
    * 100001 has 22 806 in-edges) the join form would emit C(d,3) ≈
    * 2×10¹² rows from a single key; this computes the same number with
    * arithmetic. Long math is exact while C(d,3) < 2⁶³ (d ≲ 2.4M
    * in-degree — beyond that the count itself needs a decimal column).
    * Returns (hub, n_triples) for hubs with ≥3 spokes.
    *
    * Degrees are taken over DISTINCT (src, dst) edges: `inDegrees`
    * counts edge rows, so on a multigraph C(rowCount, 3) would
    * overcount relative to the distinct-spoke triples the
    * materializing form enumerates. */
  def threeStarCounts(): DataFrame =
    edges.select("src", "dst").distinct()
      .groupBy(col("dst").as("hub")).agg(count("*").as("__d"))
      .filter(col("__d") >= 3)
      .select(col("hub"),
        expr("(__d * (__d - 1) * (__d - 2)) div 6").as("n_triples"))

  /** G7 materializing form — (a)-[]->(b); (c)-[]->(b); (d)-[]->(b)
    * with distinct spokes — compiled to self-equi-joins on dst, spokes
    * ordered a<c<d so each triple appears once. Returns
    * (hub, s1, s2, s3) ROWS, so output is Σ C(d,3): pass `maxHubDegree`
    * to cap the per-hub blowup (a 23k-degree hub alone would emit
    * 2×10¹² rows). The default enumerates EVERYTHING — capping is an
    * explicit opt-in, never silent truncation. Counting queries should
    * use [[threeStarCounts]] instead. Edges are deduplicated to
    * (src, dst) first so a multigraph's parallel edges don't emit
    * duplicate triple rows — keeps Σ rows = [[threeStarCounts]]. */
  def threeStarMotif(maxHubDegree: Int = Int.MaxValue): DataFrame = {
    val distinctEdges = edges.select("src", "dst").distinct()
    val tame = distinctEdges.join(
      distinctEdges.groupBy(col("dst")).agg(count("*").as("__d"))
        .filter(col("__d") <= maxHubDegree).select("dst"),
      Seq("dst"), "left_semi")
    val e1 = tame.select(col("dst").as("hub"), col("src").as("s1"))
    val e2 = tame.select(col("dst").as("hub"), col("src").as("s2"))
    val e3 = tame.select(col("dst").as("hub"), col("src").as("s3"))
    e1.join(e2, Seq("hub")).filter(col("s1") < col("s2"))
      .join(e3, Seq("hub")).filter(col("s2") < col("s3"))
      .select("hub", "s1", "s2", "s3")
  }
}

object PropertyGraph {
  /** Part vertex-id shift out of the customer id space (the
    * reference's book_id + 100000, goodreads.py:105, widened). 1e8 —
    * not the literal 1e6 rounds 1–9 used — so ScaleUp's 100× replica
    * dirs stay collision-free: at 100 copies customer ids reach ~2e6
    * and part keys ~1e7, and a 1e6 shift would silently merge
    * customers into the part-vertex range past ~50 copies (the r9
    * graph-scale ceiling). With 1e8 both families clear each other to
    * ≫100 copies. The graph oracles inline the same literal. */
  val PartIdShift = 100000000L

  /** Bipartite customer→part graph from the star schema (the testdata
    * analog of the reference's user→book ratings graph,
    * goodreads.py:473–489): one edge per (customer, part) with
    * avg-quantity weight. Vertices = customers ∪ parts, tagged. */
  def customerPartGraph(spark: SparkSession, dir: String): PropertyGraph =
    graft.Memo.obj(spark, s"customerPartGraph|$dir") {
      import graft.Tables
      val orders = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey", "l_quantity")
      // part ids shifted out of the customer id space, like the
      // reference's book_id + 100000 (goodreads.py:105)
      val edges = graft.Memo.df(spark, s"customerPartEdges|$dir") {
        li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("src"),
            (col("l_partkey") + PartIdShift).as("dst"))
          .agg(round(avg("l_quantity"), 6).as("weight"), count(lit(1)).as("n_lines"))
      }
      val customers = Tables.customer(spark, dir)
        .select(col("c_custkey").cast("long").as("id"), col("c_name").as("name"),
          lit("Customer").as("type"), col("c_acctbal").as("balance"))
      val parts = Tables.part(spark, dir)
        .select((col("p_partkey") + PartIdShift).as("id"), col("p_name").as("name"),
          lit("Part").as("type"), col("p_retailprice").as("balance"))
      PropertyGraph(customers.unionByName(parts), edges)
    }

  /** Unipartite part↔part co-purchase graph — parts are adjacent when
    * some order contains both (the "customers also bought" projection
    * of the bipartite ratings graph; the reference's user→book graph
    * projects the same way for book-book similarity). Edges are
    * canonical (src < dst) and carry `n_orders` = distinct supporting
    * orders — the market-basket SUPPORT, the knob every projection
    * graph at scale filters on: support-1 projections are quadratic
    * noise (1.2M edges / 1.9M triangles from random co-occurrence at
    * sf0.1), support ≥ 2 keeps the signal graph. The pair generation
    * is a basket self-join keyed by order — Σ C(|basket|, 2) pairs,
    * bounded by the max basket size, never corpus × corpus — and the
    * input for triangle counting (g16), whose degree-ordered
    * orientation handles hub skew downstream. */
  /** The co-purchase artifact's scratch path for `dir`. The name
    * carries a hash of the RAW dir besides its sanitized form: two
    * dirs whose non-alphanumerics collapse to the same string must
    * not share an artifact (the marker check in the builder would
    * otherwise fail permanently for whichever dir arrives second —
    * an artifact that can never rebuild). */
  private[graft] def coPurchaseScratch(dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    graft.ScratchDirs.scratch(s"copurchase_$safe")
  }

  def partCoPurchaseGraph(spark: SparkSession, dir: String): PropertyGraph =
    graft.Memo.obj(spark, s"partCoPurchaseGraph|$dir") {
      import graft.Tables
      // The basket self-join + groupBy is the projection's entire cost
      // and a pure function of `dir` — persist it ONCE per process as a
      // parquet artifact (the g26 walk-corpus pattern) and read it back
      // on every later build, INCLUDING after a memo flush: an isolated
      // re-measure then pays an artifact-sized scan, not the projection
      // rebuild. The marker is written after the edges, so a crashed
      // half-write is rebuilt, never served.
      val path = coPurchaseScratch(dir)
      val marker = s"$path/key"
      // defense in depth: rebuild unless the marker is EXACTLY one
      // row equal to dir. The r14 shape (rebuild only when ALL rows
      // differ) let a corrupt multi-row marker that happened to
      // contain dir skip the rebuild and then permanently fail the
      // single-row require below on every run — the wedged-artifact
      // mode this check exists to heal. Any malformed marker (other
      // dir, extra rows, null) is deleted and rebuilt, never served
      // and never fatal.
      if (graft.Fs.exists(spark, marker)) {
        val rows = graft.Fs.readParquet(spark, marker).collect()
        if (!(rows.length == 1 && dir == rows(0).getString(0)))
          graft.Fs.deleteRecursive(spark, path)
      }
      if (!graft.Fs.exists(spark, marker)) {
        val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
        val a = li.toDF("ok", "src")
        val b = li.toDF("ok", "dst")
        a.join(b, Seq("ok")).filter(col("src") < col("dst"))
          .groupBy("src", "dst")
          .agg(countDistinct(col("ok")).as("n_orders"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/edges")
        import spark.implicits._
        Seq(dir).toDF("dir").coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(marker)
      }
      val key = graft.Fs.readParquet(spark, marker).collect()
      require(key.length == 1 && key(0).getString(0) == dir,
        s"co-purchase artifact key mismatch at $path after rebuild: " +
          s"wanted $dir, found ${key.map(_.get(0)).mkString(",")}")
      val edges = graft.Caches.cached(graft.Fs.readParquet(spark, s"$path/edges"))
      val parts = Tables.part(spark, dir)
        .select(col("p_partkey").cast("long").as("id"), col("p_name").as("name"),
          col("p_retailprice").as("balance"))
      PropertyGraph(parts, edges)
    }
}

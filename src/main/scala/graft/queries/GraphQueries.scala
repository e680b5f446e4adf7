package graft.queries

import org.apache.spark.sql.functions._

import graft.graph.{IterativeGraph, PropertyGraph}

/** Graph query pack (SURVEY §2.10, §2.13 Q11–Q16 analogs) over the
  * bipartite customer→part graph (the testdata analog of the
  * reference's user→book ratings graph).
  *
  * Degree/subgraph/motif queries are declarative DataFrame ops with
  * DuckDB oracles; iterative algorithms (PageRank, label propagation,
  * connected components, BFS) run on GraphX / iterative joins and get
  * rows-only checks (not SQL-expressible), with semantics covered by
  * GraphSpec on a known tiny graph.
  */
object GraphQueries {

  /** Shared oracle CTE mirroring PropertyGraph.customerPartGraph. */
  private val edgesCte =
    """WITH edges AS (
      |  SELECT o_custkey AS src, l_partkey + 100000000 AS dst,
      |         round(avg(l_quantity), 6) AS weight, count(*) AS n_lines
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)""".stripMargin

  val all: Seq[NamedQuery] = Seq(

    // ---- Q11 analog (goodreads.py:547,552): top reviewers = out-degrees.
    NamedQuery("g01_top_customers_outdegree",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        g.outDegrees.orderBy(col("outDegree").desc, col("id")).limit(20)
      },
      Some(s"""$edgesCte
             |SELECT src AS id, count(*) AS outDegree FROM edges
             |GROUP BY src ORDER BY outDegree DESC, id LIMIT 20""".stripMargin)),

    // ---- Q12 analog (goodreads.py:558,563): top parts = in-degrees.
    NamedQuery("g02_top_parts_indegree",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        g.inDegrees.orderBy(col("inDegree").desc, col("id")).limit(20)
      },
      Some(s"""$edgesCte
             |SELECT dst AS id, count(*) AS inDegree FROM edges
             |GROUP BY dst ORDER BY inDegree DESC, id LIMIT 20""".stripMargin)),

    // ---- Q13 analog (goodreads.py:569 filterVertices): subgraph of
    // high-balance customers (+ all parts), top parts by in-degree.
    NamedQuery("g03_subgraph_rich_customers",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
          .filterVertices(col("type") === "Part" ||
            (col("type") === "Customer" && col("balance") > 5000))
        g.inDegrees.orderBy(col("inDegree").desc, col("id")).limit(20)
      },
      Some(s"""$edgesCte
             |SELECT dst AS id, count(*) AS inDegree FROM edges
             |JOIN customer ON src = c_custkey
             |WHERE c_acctbal > 5000
             |GROUP BY dst ORDER BY inDegree DESC, id LIMIT 20""".stripMargin)),

    // ---- Q14 analog (goodreads.py:575 filterEdges): heavy edges only,
    // out-degrees of the surviving subgraph.
    NamedQuery("g04_heavy_edge_outdegree",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
          .filterEdges(col("weight") >= 45.0)
        g.outDegrees.orderBy(col("outDegree").desc, col("id")).limit(20)
      },
      Some(s"""$edgesCte
             |SELECT src AS id, count(*) AS outDegree FROM edges
             |WHERE weight >= 45.0
             |GROUP BY src ORDER BY outDegree DESC, id LIMIT 20""".stripMargin)),

    // ---- G9 (goodreads.py:618 PageRank): GraphX runUntilConvergence.
    NamedQuery("g05_pagerank_top20", (s, dir) => {
      val g = PropertyGraph.customerPartGraph(s, dir)
      g.pageRank(tol = 0.01, resetProb = 0.15)
        .select(col("id"), round(col("pagerank"), 6).as("pagerank"))
        .orderBy(col("pagerank").desc, col("id")).limit(20)
    }),

    // ---- G8 (goodreads.py:594 label propagation): community sizes.
    // DEMOTED to a bounded spot check in r8 per the r7 verdict's own
    // clause ("if the LP floor reads > 8 s again … demote g06"): the
    // full-graph GraphX LabelPropagation.run floor drifted 6.4 → 7.9
    // → 8.1 s across rounds with no code change (map-message Pregel +
    // adapter floor, 5.4% of the sweep). The GraphX surface stays
    // exercised end-to-end, but on the heavy-edge subgraph (the m13
    // pattern: same ≥40 weight threshold) so the known floor is a
    // small absolute cost. The FULL-graph declarative twin g12 keeps
    // pinning full-scale label-propagation semantics under its
    // DuckDB oracle.
    NamedQuery("g06_label_propagation_sizes", (s, dir) => {
      val g = PropertyGraph.customerPartGraph(s, dir)
        .filterEdges(col("weight") >= 40.0)
      g.labelPropagation(maxIter = 4)
        .groupBy("label").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("label")).limit(20)
    }),

    // ---- connected components: component count + sizes.
    NamedQuery("g07_connected_components", (s, dir) => {
      val g = PropertyGraph.customerPartGraph(s, dir)
      g.connectedComponents()
        .groupBy("component").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("component")).limit(20)
    }),

    // ---- G6 (goodreads.py:588 BFS): shortest path customer 1 → part
    // over the symmetrized graph (bipartite edges are directed
    // customer→part; reverse edges enable multi-hop traversal).
    // GraphFrames result contract (ipynb cell 78): struct columns
    // (from, e0, v1, …, to); one canonical shortest path per
    // (start, end) — flattened to id columns for the rows-only dump.
    NamedQuery("g08_bfs_customer_to_part", (s, dir) => {
      val g = PropertyGraph.customerPartGraph(s, dir)
      val sym = PropertyGraph(g.vertices, IterativeGraph.symmetrize(g.edges))
      val res = sym.bfs(col("id") === 1L,
        col("id") === PropertyGraph.PartIdShift + 7L, maxPathLength = 4)
      // vertex-position columns in path order (from, v1, …, to)
      val vPos = res.columns.filter(c => !c.startsWith("e"))
      res.select(vPos.map(c => col(s"$c.id").as(s"${c}_id")): _*)
        .orderBy(vPos.map(c => col(s"${c}_id")): _*)
    }),

    // ---- G7 (goodreads.py:582 motif): 3 customers sharing a part,
    // restricted to heavy edges; triple counts per hub part. The
    // engine computes C(d,3) closed-form from in-degrees (no motif
    // materialization — skew-safe); the oracle MATERIALIZES the 3-way
    // self-join and counts, so the combinatorial identity itself is
    // cross-checked.
    NamedQuery("g09_three_star_motif",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
          .filterEdges(col("weight") >= 40.0)
        g.threeStarCounts()
          .orderBy(col("n_triples").desc, col("hub")).limit(20)
      },
      Some(s"""$edgesCte, heavy AS (SELECT src, dst FROM edges WHERE weight >= 40.0)
             |SELECT e1.dst AS hub, count(*) AS n_triples
             |FROM heavy e1 JOIN heavy e2 ON e1.dst = e2.dst AND e1.src < e2.src
             |              JOIN heavy e3 ON e2.dst = e3.dst AND e2.src < e3.src
             |GROUP BY e1.dst ORDER BY n_triples DESC, hub LIMIT 20""".stripMargin)),

    // ---- general motif DSL (goodreads.py:582 verbatim shape): the
    // reference's "3 users who read the same book" pattern via
    // find(...), compiled to equi-joins; struct-column filters exactly
    // as a GraphFrames user would write them. Heavy-edge subgraph
    // keeps the morphism count bounded; ordering filter (u1<u2<u3)
    // canonicalizes each triple. Full DuckDB oracle (3-way self-join).
    NamedQuery("g14_motif_find_shared_part",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
          .filterEdges(col("weight") >= 45.0)
        g.find("(u1)-[r1]->(b); (u2)-[r2]->(b); (u3)-[r3]->(b)")
          .filter(col("u1.id") < col("u2.id") && col("u2.id") < col("u3.id"))
          .select(col("b.id").as("hub"), col("u1.id").as("s1"),
            col("u2.id").as("s2"), col("u3.id").as("s3"))
          .orderBy("hub", "s1", "s2", "s3")
      },
      Some(s"""$edgesCte, heavy AS (SELECT src, dst FROM edges WHERE weight >= 45.0)
             |SELECT e1.dst AS hub, e1.src AS s1, e2.src AS s2, e3.src AS s3
             |FROM heavy e1 JOIN heavy e2 ON e1.dst = e2.dst AND e1.src < e2.src
             |              JOIN heavy e3 ON e2.dst = e3.dst AND e2.src < e3.src
             |ORDER BY hub, s1, s2, s3""".stripMargin)),

    // ---- fixed-iteration PageRank (IterativeGraph): deterministic →
    // full DuckDB oracle via an unrolled CTE chain, unlike the
    // tol-driven GraphX g05. 5 supersteps, top-20 by rounded rank.
    NamedQuery("g10_pagerank_fixed",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.pageRankFixed(g.vertices, g.edges, iters = PrIters)
          .select(col("id"), round(col("rank"), 4).as("pagerank"))
          .orderBy(col("pagerank").desc, col("id")).limit(20)
      },
      Some(pageRankFixedOracle(PrIters))),

    // ---- fixed-iteration deterministic label propagation (the
    // oracle-checkable twin of GraphX g06): community sizes after 4
    // supersteps, majority label with min-label tie-break.
    NamedQuery("g12_labelprop_fixed",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.labelPropagationFixed(g.vertices, g.edges, iters = LpIters)
          .groupBy("label").agg(count(lit(1)).as("size"))
          .orderBy(col("size").desc, col("label")).limit(20)
      },
      Some(labelPropOracle(LpIters))),

    // ---- WEIGHTED fixed-iteration PageRank: mass flows by each
    // edge's share of its source's total out-weight (weight = avg
    // order quantity), so rank rewards heavily-bought parts over
    // merely often-bought ones — g10's mechanics with w/W(u) in the
    // contribution. round(4) like g10/g15.
    // ---- deterministic random-walk corpus (g26): DeepWalk/node2vec's
    // DATA step — fixed-length walks over the symmetrized co-purchase
    // graph emitted as node-id sequences (the training corpus a graph-
    // embedding run consumes). Next hop = md5(salt|walk_id|step) mod
    // degree into the dst-ranked neighbor list, so the walks are a
    // pure function of (graph, starts, salt) and the oracle unrolls
    // the same four hops with identical hash arithmetic. Starts: every
    // 50th customer (with edges). Each superstep joins only the
    // |starts|-sized frontier against the cached ranked adjacency.
    NamedQuery("g26_walk_corpus",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        val starts = g.vertices
          .filter(col("type") === "Customer" && col("id") % 50 === 7)
          .select("id")
        IterativeGraph.walkCorpus(g.edges, starts, steps = WalkSteps,
            salt = "walk")
          .orderBy("walk_id")
      },
      Some(walkCorpusOracle(WalkSteps))),

    // ---- skip-gram pairs from the walk corpus (g27): the step that
    // turns g26's walks into the word2vec-style (center, context)
    // training set DeepWalk optimizes on — window ±2, pair counts.
    // Join-free on the engine side (offset explode + array index);
    // the oracle replays the walks and the windowed pairing. Reads
    // the PERSISTED epoch corpus (sharedWalkPath) — the oracle
    // replaying the walks from scratch is the artifact≡from-scratch
    // round-trip proof.
    NamedQuery("g27_skipgram_pairs",
      (s, dir) => IterativeGraph.skipGramPairs(
          sharedWalks(s, dir), window = 2)
        .orderBy("center", "context"),
      Some(skipGramOracle(WalkSteps, window = 2))),

    // ---- PPMI co-occurrence matrix (g30): the closed-form twin of
    // the g27→g29 SGNS feed — Levy & Goldberg 2014's result that
    // SGNS implicitly factorizes shifted PMI makes this the matrix a
    // count-based embedding pipeline materializes instead. All
    // counts integral; the single ln rounds to 6 dp both sides.
    NamedQuery("g30_ppmi_pairs",
      (s, dir) => IterativeGraph.ppmiPairs(
          sharedWalks(s, dir), window = 2)
        .orderBy("center", "context"),
      Some(ppmiOracle(WalkSteps, window = 2))),

    // ---- PPMI top-k similar nodes (g31): SERVE the g30 matrix —
    // each node's top-8 PPMI contexts form its sparse embedding,
    // cosine over shared contexts ranks its 3 nearest nodes. The
    // count-based answer to "which parts/customers behave alike"
    // that SGNS training would approximate; context-keyed sparse
    // self-join, never all-pairs. Oracle chains g30's CTEs through
    // the sparsify/norm/dot/rank stages.
    NamedQuery("g31_ppmi_similar_nodes",
      (s, dir) => IterativeGraph.ppmiTopSimilar(
          sharedWalks(s, dir), window = 2, sparsify = 8, k = 3)
        .orderBy("center", "rnk"),
      Some(ppmiSimilarOracle(WalkSteps, window = 2, sparsify = 8, k = 3))),

    // ---- PERSISTED node-vector serve (g32): the graph-embedding
    // family's index lifecycle — g31's sparse PPMI vectors written
    // once as a parquet artifact (build), then a small query batch
    // (customers id%200=7) served against it: broadcast-restrict the
    // query side, the same context-keyed cosine/rank plan as g31.
    // PPMI marginals are global, so the artifact batch-rebuilds per
    // corpus release (the m16 codebook contract), not via append.
    // Oracle = g31's CTE chain with the final select filtered to the
    // query ids (bounded below PartIdShift so shifted part vertices
    // can't alias the modulus).
    NamedQuery("g32_ppmi_vectors_persisted",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        val path = graft.ScratchDirs.scratch("ppmi_vectors")
        graft.Fs.deleteRecursive(s, path)
        IterativeGraph.writeNodeVectors(
          sharedWalks(s, dir), window = 2, sparsify = 8, path)
        val queryNodes = g.vertices
          .filter(col("type") === "Customer" && col("id") % 200 === 7)
          .select("id")
        IterativeGraph.similarFromArtifact(s, path, queryNodes, k = 3)
          .orderBy("center", "rnk")
      },
      Some(ppmiServeOracle(WalkSteps, window = 2, sparsify = 8, k = 3,
        queryMod = 200, queryRem = 7))),

    // ---- SGNS negative samples (g29): completes the word2vec feed
    // g26/g27 opened — 2 deterministic negatives per distinct
    // skip-gram pair, drawn from the walk corpus's unigram mass by
    // md5-mod inverse-CDF (integral weights ⇒ exact in both
    // engines). The noise distribution is vocabulary-sized and
    // broadcast; pairs never shuffle. The oracle replays walks,
    // pairing, the cumulative mass, and every modular draw.
    NamedQuery("g29_sgns_negatives",
      (s, dir) => IterativeGraph.sgnsNegatives(
          sharedWalks(s, dir), window = 2, negPerPair = 2, salt = "neg")
        .orderBy("center", "context", "neg_rank"),
      Some(sgnsOracle(WalkSteps, window = 2, negPerPair = 2))),

    // ---- node2vec-biased walk corpus (g28): g26's second-order
    // sibling — hops after the first re-weight each neighbor by its
    // distance to the PREVIOUS node (1/p return, 1 common-neighbor,
    // 1/q outward; p=2, q=4 here, dyadic so both engines' double
    // arithmetic is exact), picked by cumulative-weight inversion of
    // the same md5 u. The oracle replays every hop: candidate
    // weights via an EXISTS distance-1 test, running/total weight
    // windows, and the first rank past u*total.
    NamedQuery("g28_node2vec_walks",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        val starts = g.vertices
          .filter(col("type") === "Customer" && col("id") % 50 === 7)
          .select("id")
        IterativeGraph.node2vecWalks(g.edges, starts, steps = WalkSteps,
            returnWeight = 0.5, outWeight = 0.25, salt = "walk")
          .orderBy("walk_id")
      },
      Some(node2vecOracle(WalkSteps, returnW = "0.5", outW = "0.25"))),

    NamedQuery("g25_pagerank_weighted",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.pageRankWeightedFixed(g.vertices, g.edges,
            iters = PrIters)
          .select(col("id"), round(col("rank"), 4).as("pagerank"))
          .orderBy(col("pagerank").desc, col("id")).limit(20)
      },
      Some(pageRankWeightedOracle(PrIters))),

    // ---- fixed-iteration HITS hubs & authorities (Kleinberg) — the
    // link-analysis sibling of g10 neither GraphX nor GraphFrames
    // ships: on the bipartite customer→part graph, authority parts are
    // what well-connected buyers co-purchase, hub customers are the
    // broad buyers. L2-normalized per half-step; deterministic fixed
    // supersteps → unrolled-CTE oracle. round(4) like g10/g15: the two
    // engines sum doubles in different orders.
    NamedQuery("g24_hits_fixed",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.hitsFixed(g.vertices, g.edges, iters = HitsIters)
          .select(col("id"), round(col("auth"), 4).as("authority"),
            round(col("hub"), 4).as("hub"))
          .orderBy(col("authority").desc, col("id")).limit(20)
      },
      Some(hitsFixedOracle(HitsIters))),

    // ---- BFS distances from customer 1 (3 hops, symmetrized):
    // distance histogram — integer math, unrolled-CTE oracle. The
    // path-materializing variant is g08 (GraphFrames-shaped output).
    NamedQuery("g13_bfs_distances",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.bfsDistances(g.edges, sourceId = 1L, iters = BfsIters)
          .groupBy("dist").agg(count(lit(1)).as("n_vertices"))
          .orderBy("dist")
      },
      Some(bfsDistOracle(BfsIters))),

    // ---- fixed-iteration power smoothing (deterministic PIC core):
    // the oracle-checkable twin of m08 — v₊ = D⁻¹Wv over the weighted
    // symmetrized rating graph, unrolled-CTE oracle like g10.
    NamedQuery("g15_power_smoothing",
      (s, dir) =>
        // round(4), not (6): iterated double sums accumulate in
        // different orders on the two engines (same reasoning as g10)
        smoothedEmbedding(s, dir)
          .select(col("id"), round(col("v"), 4).as("v"))
          .orderBy(col("v").desc, col("id")).limit(20),
      Some(powerSmoothingOracle(PsIters))),

    // ---- GraphFrames triangleCount surface: per-part triangle counts
    // over the part-part co-purchase projection. The engine runs the
    // degree-ORIENTED wedge algorithm (out-degree bounded by O(√2m) —
    // skew-safe); the oracle enumerates u<v<w triangles by a plain
    // 3-way join, so the orientation trick is cross-checked against
    // the definitional count.
    NamedQuery("g16_triangle_counts",
      (s, dir) => {
        // support ≥ 2 (G4 filterEdges): repeated co-occurrence only —
        // the support-1 projection is quadratic random noise (1.9M
        // triangles at sf0.1) that no market-basket pipeline keeps
        val g = PropertyGraph.partCoPurchaseGraph(s, dir)
          .filterEdges(col("n_orders") >= 2)
        g.triangleCounts()
          .orderBy(col("triangles").desc, col("id")).limit(20)
      },
      Some(s"""$coPurchaseCte,
             |tri AS (
             |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
             |  FROM cedges e1
             |  JOIN cedges e2 ON e2.src = e1.src AND e2.dst > e1.dst
             |  JOIN cedges e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
             |corners AS (
             |  SELECT u AS id FROM tri
             |  UNION ALL SELECT v FROM tri
             |  UNION ALL SELECT w FROM tri),
             |cnt AS (SELECT id, count(*) AS triangles FROM corners GROUP BY id)
             |SELECT p_partkey AS id, COALESCE(triangles, 0) AS triangles
             |FROM part LEFT JOIN cnt ON p_partkey = cnt.id
             |ORDER BY triangles DESC, id LIMIT 20""".stripMargin)),

    // ---- GraphFrames aggregateMessages surface: one superstep of
    // message passing over the bipartite ratings graph — every vertex
    // receives its neighbours' balance weighted by the edge's line
    // count, aggregated map-side by vertex id (the Pregel shuffle
    // shape). Messages flow BOTH directions in the same pass.
    NamedQuery("g17_aggregate_messages",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        g.aggregateMessages(
            msgToSrc = Some(struct(
              (col("dst.balance") * col("edge.n_lines")).as("x"),
              col("edge.n_lines").as("w"))),
            msgToDst = Some(struct(
              (col("src.balance") * col("edge.n_lines")).as("x"),
              col("edge.n_lines").as("w"))),
            round(sum(col("msg.x")) / sum(col("msg.w")), 4).as("wavg_balance"),
            count(lit(1)).as("n_msgs"))
          .orderBy(col("wavg_balance").desc, col("id")).limit(20)
      },
      Some(s"""$edgesCte, m AS (
             |  SELECT e.src AS id, p.p_retailprice * e.n_lines AS x, e.n_lines AS w
             |  FROM edges e JOIN part p ON e.dst = p.p_partkey + 100000000
             |  UNION ALL
             |  SELECT e.dst, c.c_acctbal * e.n_lines, e.n_lines
             |  FROM edges e JOIN customer c ON e.src = c.c_custkey)
             |SELECT id, round(sum(x) / sum(w), 4) AS wavg_balance,
             |       count(*) AS n_msgs
             |FROM m GROUP BY id
             |ORDER BY wavg_balance DESC, id LIMIT 20""".stripMargin)),

    // ---- GraphFrames shortestPaths surface: distances from THREE
    // landmarks over the symmetrized graph, all landmarks relaxed in
    // the same supersteps ((landmark, id)-keyed state — one BFS loop,
    // not one per landmark). Distance histogram per landmark,
    // unrolled-CTE oracle like g13.
    NamedQuery("g18_landmark_distances",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.shortestPathsLandmarks(
            IterativeGraph.symmetrize(g.edges), Landmarks, iters = SpIters)
          .groupBy("landmark", "dist").agg(count(lit(1)).as("n_vertices"))
          .orderBy("landmark", "dist")
      },
      Some(landmarkDistOracle(Landmarks, SpIters))),

    // ---- GraphFrames parallelPersonalizedPageRank surface: one rank
    // vector per source, reset mass pinned to its own source, ALL
    // sources iterating in the same supersteps ((source, id)-keyed
    // state — one loop, not one per source). Top-10 per source,
    // unrolled-CTE oracle like g10.
    NamedQuery("g19_personalized_pagerank",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val g = PropertyGraph.customerPartGraph(s, dir)
        val w = Window.partitionBy("source")
          .orderBy(col("pr").desc, col("id"))
        IterativeGraph.personalizedPageRankFixed(
            IterativeGraph.symmetrize(g.edges), Landmarks, iters = PprIters)
          .select(col("source"), col("id"), round(col("rank"), 4).as("pr"))
          .withColumn("pos", row_number().over(w).cast("int"))
          .filter(col("pos") <= 10)
          .orderBy("source", "pos")
      },
      Some(pprOracle(Landmarks, PprIters))),

    // ---- G10 layout export (goodreads.py:500–541): deterministic
    // grid coordinates for the 1000-edge sample subgraph, joined with
    // the vertex type (the reference's color-by-type) — the full data
    // half of the visualization cell, integer-math oracle-checked.
    NamedQuery("g20_layout_export",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        g.layoutGrid(sampleN = 1000)
          .join(g.vertices.select(col("id"), col("type")), Seq("id"))
          .select(col("id"), col("type"), col("degree"), col("x"), col("y"))
          .orderBy("id")
      },
      Some(s"""$edgesCte,
             |se AS (SELECT src, dst FROM edges ORDER BY src, dst LIMIT 1000),
             |deg AS (SELECT id, count(*) AS degree FROM (
             |    SELECT src AS id FROM se UNION ALL SELECT dst FROM se) t
             |  GROUP BY id),
             |w AS (SELECT GREATEST(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS w
             |      FROM deg),
             |p AS (SELECT id, degree,
             |    CAST(row_number() OVER (ORDER BY degree DESC, id) - 1 AS BIGINT)
             |      AS pos
             |  FROM deg),
             |vt AS (SELECT c_custkey AS id, 'Customer' AS type FROM customer
             |       UNION ALL SELECT p_partkey + 100000000, 'Part' FROM part)
             |SELECT p.id AS id, vt.type AS type, p.degree AS degree,
             |  p.pos % w.w AS x, p.pos // w.w AS y
             |FROM p CROSS JOIN w JOIN vt ON p.id = vt.id
             |ORDER BY id""".stripMargin)),

    // ---- k-core peeling (k = 25, 5 synchronous rounds): per-round
    // survivor counts of the dense customer–part backbone. Sub-k
    // vertices drop together each round — deterministic integer math,
    // oracle = the same rounds unrolled (the g10/g12/g13 pattern). At
    // sf0.01 the 25-core peels 2948 → 1119 vertices over the 5 rounds,
    // so every round's HAVING clause is exercised, not just the first.
    NamedQuery("g21_kcore_peel",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.kcorePeel(g.edges, k = 25, rounds = 5)
          .orderBy("round")
      },
      Some(kcoreOracle(k = 25, rounds = 5))),

    // ---- fixed-iteration min-label connected components: integer
    // labels → exact oracle match; component sizes after 6 supersteps.
    NamedQuery("g11_minlabel_components",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.minLabelComponents(g.vertices, g.edges, iters = CcIters)
          .groupBy(col("label").as("component")).agg(count(lit(1)).as("size"))
          .orderBy(col("size").desc, col("component")).limit(50)
      },
      Some(minLabelOracle(CcIters))),

    // ---- large-star/small-star connected components (Kiveris et al.
    // 2014 — the O(log n)-round MapReduce CC algorithm): unlike g11's
    // fixed-superstep min-label propagation, this CONVERGES (the edge
    // set is rewritten toward component-min stars until a full round
    // changes nothing), so the oracle can be the EXACT components — a
    // recursive label-reachability CTE, min label per vertex. The
    // family's first exact-converged-CC gate query.
    NamedQuery("g22_star_components",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        IterativeGraph.largeStarSmallStar(g.vertices, g.edges)
          .groupBy(col("label").as("component")).agg(count(lit(1)).as("size"))
          .orderBy(col("size").desc, col("component")).limit(50)
      },
      Some(starComponentsOracle)),

    // ---- single-source WEIGHTED shortest paths (g33): fixed-round
    // Bellman–Ford from customer 1 over the symmetrized graph with
    // integer edge costs floor(weight) (avg line quantity, 1–50) —
    // the weighted sibling of g13's BFS, answering "cheapest
    // multi-hop route" instead of "fewest hops". All-integer min-plus
    // math, unrolled-CTE oracle; the 25 nearest vertices by (cost,
    // id). 4 rounds = cheapest path using ≤ 4 edges, the same fixed-
    // superstep contract as g13/g18.
    NamedQuery("g33_sssp_weighted",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        val e = g.edges.select(col("src"), col("dst"),
          floor(col("weight")).cast("long").as("cost"))
        IterativeGraph.ssspWeighted(e, sourceId = 1L, iters = SsspIters,
            costCol = "cost")
          .orderBy("dist", "id").limit(25)
      },
      Some(ssspOracle(SsspIters))),

    // ---- HyperBall / ANF neighborhood function (g34): per-vertex
    // HLL sketches of the ≤3-hop ball, grown by neighbor-sketch UNION
    // supersteps (Boldi–Vigna 2013 — the effective-diameter/ANF
    // primitive; exact balls are quadratic, the sketch path is O(t)
    // edge shuffles of constant-size registers). AUDIT on the d37
    // pattern: exact ball sizes for a FIXED 100-customer sample via
    // the multi-landmark BFS (the quadratic side stays sample-sized),
    // each estimate tolerance-bound within 10% (Datasketches hashing
    // is seedless-deterministic, so the flag is stable, not flaky —
    // lgK=10 ⇒ ~3.3% RSE). The oracle replays the exact balls and
    // pins the flags TRUE; customers without orders have no vertex,
    // so both sides restrict to edge-bearing landmarks.
    NamedQuery("g34_hyperball_anf",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        // The sketch supersteps and the exact landmark BFS are
        // INDEPENDENT eager loops (each localCheckpoints per
        // superstep, so each is a chain of driver-synchronous jobs
        // with idle gaps); overlap them from two threads so the BFS
        // back-fills the sketch loop's gaps (guide §2.6). Output is
        // unchanged: both sides are deterministic and only meet in
        // the join below. symmetrize() is Caches-registered
        // thread-safely; the CacheManager dedups the shared plan.
        val (sk, exact) = GraphQueries.par2(
          () => IterativeGraph.hyperBallSketches(g.edges, iters = AnfIters,
            lgK = AnfLgK),
          () => IterativeGraph.shortestPathsLandmarks(
              IterativeGraph.symmetrize(g.edges), AnfSample, iters = AnfIters)
            .groupBy(col("landmark").as("id"))
            .agg(count(lit(1)).as("exact_ball"))
            .localCheckpoint())
        exact.join(sk, "id")
          .select(col("id"), col("exact_ball"),
            (abs(graft.functions.PackedHll.hll5Estimate(col("sk"))
              - col("exact_ball"))
              / col("exact_ball") <= 0.1).as("within_10pct"))
          .orderBy("id")
      },
      Some(anfOracle(AnfSample, AnfIters))),

    // ---- sampled NEIGHBORHOOD FUNCTION N(t) (g35): the ANF
    // aggregate g34's sketches exist FOR — pairs-within-t-hops per
    // hop count, the curve whose 90% knee is the effective diameter
    // (Palmer et al.'s ANF; Boldi–Vigna's HyperBall runs exactly
    // this). Estimated per t by summing the fixed 100-vertex
    // sample's ball estimates (per-step frames are free — each
    // superstep is already materialized); exact side = ONE
    // multi-landmark BFS filtered per t. Summing 100 deterministic
    // estimates tightens the bound vs g34's per-vertex worst case;
    // the oracle replays the exact counts and pins the 10% flags.
    NamedQuery("g35_anf_function",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        // overlap the two independent eager loops (guide §2.6), as in
        // g34: the sketch supersteps and the exact landmark BFS only
        // meet in the per-t arithmetic below
        val (steps, exact) = GraphQueries.par2(
          () => IterativeGraph.hyperBallSteps(g.edges, iters = AnfIters,
            lgK = AnfLgK),
          () => graft.Caches.cached(IterativeGraph.shortestPathsLandmarks(
            IterativeGraph.symmetrize(g.edges), AnfSample, iters = AnfIters)))
        val spark = s
        import spark.implicits._
        val sampleDf = graft.Caches.cached(AnfSample.toDF("id"))
        // isolated sample vertices bear no edges → absent from the
        // sketch frames; restrict BOTH sides to edge-bearing ids so
        // the estimate and exact sums cover the same universe
        val present = graft.Caches.cached(
          steps.head.join(sampleDf, "id").select("id"))
        // ONE action per side instead of two per t (guide §2.4 — the
        // old loop ran 2·AnfIters driver-synchronous jobs over the
        // same cached frames): the per-step estimate aggs union into
        // a single job, and the exact side collapses to one
        // count-per-dist agg whose ≤t prefix sums fold in the driver
        // (integer counting — identical values to the per-t filters).
        val estRows = steps.zipWithIndex.map { case (st, i) =>
          st.join(present, "id")
            .agg(sum(graft.functions.PackedHll.hll5Estimate(col("sk")))
              .cast("long").as("est"))
            .select(lit(i + 1).as("t"), col("est"))
        }.reduce(_.unionAll(_)).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val byDist = exact.join(
            present.withColumnRenamed("id", "landmark"), "landmark")
          .groupBy("dist").agg(count(lit(1)).as("c")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val rows = (1 to AnfIters).map { t =>
          val est = estRows(t)
          val ex = (0 to t).map(d => byDist.getOrElse(d, 0L)).sum
          (t, ex, math.abs(est - ex).toDouble / ex <= 0.1)
        }
        rows.toDF("t", "exact_pairs", "within_10pct").orderBy("t")
      },
      Some(anfFunctionOracle(AnfSample, AnfIters))),

    // ---- "customers also bought": pairwise part similarity by BUYER
    // overlap (in-neighborhood Jaccard — the reference's
    // book-similarity-by-common-readers question on the user→book
    // graph, answered with the d02 inverted-index plan shape on the
    // graph). Hub customers above the out-degree cap are dropped
    // before pairing — the skew bound AND part of the similarity
    // definition, replayed by the oracle.
    NamedQuery("g23_part_buyer_jaccard",
      (s, dir) => {
        val g = PropertyGraph.customerPartGraph(s, dir)
        g.inNeighborhoodJaccard(maxSrcOutDeg = JaccardCap, minJaccard = 0.2)
          .orderBy(col("jaccard").desc, col("id_a"), col("id_b")).limit(20)
      },
      Some(s"""$edgesCte,
             |cap AS (SELECT src, dst FROM edges WHERE src IN (
             |    SELECT src FROM edges GROUP BY src HAVING count(*) <= $JaccardCap)),
             |sz AS (SELECT dst AS id, count(*) AS sz FROM cap GROUP BY dst),
             |pr AS (SELECT a.dst AS id_a, b.dst AS id_b, count(*) AS common
             |  FROM cap a JOIN cap b ON a.src = b.src AND a.dst < b.dst
             |  GROUP BY 1, 2),
             |j AS (SELECT id_a, id_b, common, sa.sz AS deg_a, sb.sz AS deg_b,
             |    round(common / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
             |  FROM pr JOIN sz sa ON id_a = sa.id JOIN sz sb ON id_b = sb.id)
             |SELECT id_a, id_b, common, deg_a, deg_b, jaccard FROM j
             |WHERE jaccard >= 0.2
             |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // ---- strongly connected components (g36): GraphX SCC through the
    // PropertyGraph facade over a PLANTED bounded-diameter digraph —
    // directed 8-rings of consecutive custkeys (each ring one SCC,
    // min-id label analytic from the construction: the m10/g22 planted-
    // fixture convention) plus ONE-WAY bridges from each odd ring's
    // min to the next ring's min. The bridges are the point: a CC or
    // min-ancestor propagation would leak labels across them (they
    // span half the rings), so the gate fails unless the engine
    // distinguishes mutual from one-way reachability. Bridging only
    // odd→even keeps GraphX SCC's outer loop at depth 2 (each outer
    // iteration finalizes the current color roots — a full bridge
    // CHAIN would need one iteration per ring). Oracle: labels are
    // ring minima by construction; sizes are ring sizes.
    NamedQuery("g36_scc_rings",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val verts = graft.Tables.customer(s, dir)
          .select(col("c_custkey").cast("long").as("id"))
          .withColumn("ring", floor(col("id") / lit(8)).cast("long"))
        val w = Window.partitionBy("ring").orderBy("id")
        val ringMin = Window.partitionBy("ring")
        // ring cycle: each member → next-by-id, last wraps to the min
        val cycle = verts
          .withColumn("nxt", lead("id", 1).over(w))
          .withColumn("mn", min("id").over(ringMin))
          .select(col("id").as("src"),
            coalesce(col("nxt"), col("mn")).as("dst"))
        // next-ring lookup as a SELF-JOIN on ring+1, not a global
        // lead() window: an unpartitioned orderBy("ring") pulls every
        // ring minimum into ONE partition (rings are consecutive, so
        // "next ring exists" ≡ the inner join matches — identical
        // semantics, no single-partition exchange)
        val mins = verts.groupBy("ring").agg(min("id").as("mn"))
        val bridges = mins.filter(col("ring") % 2 === 1).as("a")
          .join(mins.as("b"), col("a.ring") + 1 === col("b.ring"))
          .select(col("a.mn").as("src"), col("b.mn").as("dst"))
        val g = PropertyGraph(verts.select("id"),
          cycle.unionByName(bridges))
        g.stronglyConnectedComponents(numIter = 8)
          .groupBy(col("scc").as("component")).agg(count(lit(1)).as("size"))
          .orderBy("component")
      },
      Some("""SELECT min_id AS component, count(*) AS size FROM (
             |  SELECT c_custkey,
             |    min(c_custkey) OVER (PARTITION BY c_custkey // 8) AS min_id
             |  FROM customer)
             |GROUP BY min_id ORDER BY component""".stripMargin))
  )

  // defs, not vals: `all` above evaluates at object init, BEFORE any
  // val declared below it would be assigned (null/0 otherwise)
  private def PrIters = 5
  private def CcIters = 6
  private def JaccardCap = 40
  private def LpIters = 4
  private def BfsIters = 3
  private def SsspIters = 4
  private def AnfIters = 3
  // lgK sized by MEASUREMENT (PERF.md "Round-14: the g34 100× bar")
  // against the 5-bit PACKED register kit (graft.functions.PackedHll — r13 replaced the
  // Datasketches superstep after the 100× probe showed the
  // heapify+Union merge path CPU-bound). The estimate error is
  // DETERMINISTIC (fixed splitmix64 register hash + Ertl estimator),
  // so the audit bound is a measured fact, not a probability: max
  // |err| over the fixed 100-vertex sample at lgK=10 is 2.5%
  // (sf0.001), 4.4% (sf0.01), 6.5% (sf0.1) — inside the 10% bound at
  // every scale; lgK=9 measured 10.6% at sf0.01 and is out. The wire
  // cost is 5 bits/register (640 B at lgK=10 — level with the old
  // lgK=9 HLL_8 wire at a full extra bit of precision), and the
  // merge is a shift-mask-max loop, so the superstep is no longer
  // CPU-bound on sketch codecs.
  private def AnfLgK = 10
  private def AnfSample: Seq[Long] = (1L to 100L)

  /** Run two independent EAGER frame builders concurrently and return
    * both (guide §2.6 — overlap independent jobs): the iterative
    * loops here are chains of driver-synchronous jobs whose scheduling
    * gaps the other loop's tasks back-fill. Only for builders with no
    * data dependency; determinism is untouched (each side is a seeded/
    * integer-exact loop, and they only meet after both complete).
    * Delegates to [[graft.Par.par2]] — finite await, named failure
    * (VERDICT r15 item 6: a wedged side must not hang the query
    * forever with no attribution). */
  private[queries] def par2[A, B](fa: () => A, fb: () => B): (A, B) =
    graft.Par.par2("GraphQueries.par2")(fa, fb)
  private def HitsIters = 3
  private[queries] def PsIters = 4
  private def SpIters = 3

  /** RAW power-smoothing embedding, memoized per (session, dir): g15
    * and m08 both consume the same 4-superstep run — one build per
    * sweep instead of two (the materialized-view move, like the graph
    * objects above). Rounding stays in the consumers. */
  private[queries] def smoothedEmbedding(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.Memo.df(s, s"powerSmoothing|$dir|$PsIters") {
      val g = PropertyGraph.customerPartGraph(s, dir)
      IterativeGraph.powerSmoothingFixed(g.edges, "weight", iters = PsIters)
    }
  private def PprIters = 4
  private def Landmarks = Seq(1L, 42L, PropertyGraph.PartIdShift + 7L)

  /** Unrolled-CTE parallel personalized PageRank (g19) — frontier-
    * sparse: each step is the contribution aggregate FULL OUTER JOINed
    * with the seed rows, mirroring personalizedPageRankFixed. */
  private def pprOracle(sources: Seq[Long], iters: Int): String = {
    val values = sources.map(l => s"($l)").mkString(", ")
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT r.source, e.dst AS id, sum(r.rank / e.outdeg) AS in_sum
         |  FROM e JOIN r${i - 1} r ON e.src = r.id GROUP BY r.source, e.dst),
         |r$i AS (SELECT COALESCE(c.source, s.source) AS source,
         |    COALESCE(c.id, s.id) AS id,
         |    (CASE WHEN s.id IS NOT NULL THEN 0.15 ELSE 0.0 END)
         |      + 0.85 * COALESCE(c.in_sum, 0) AS rank
         |  FROM c$i c FULL OUTER JOIN seeds s
         |    ON c.source = s.source AND c.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |outd AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
       |e AS (SELECT sym.src, sym.dst, outd.outdeg
       |      FROM sym JOIN outd ON sym.src = outd.src),
       |seeds AS (SELECT CAST(x AS BIGINT) AS source, CAST(x AS BIGINT) AS id
       |          FROM (VALUES $values) AS t(x)),
       |r0 AS (SELECT source, id, CAST(1.0 AS DOUBLE) AS rank FROM seeds),
       |$steps,
       |ranked AS (SELECT source, id, round(rank, 4) AS pr, row_number() OVER (
       |    PARTITION BY source ORDER BY round(rank, 4) DESC, id) AS pos
       |  FROM r$iters)
       |SELECT source, id, pr, CAST(pos AS INT) AS pos
       |FROM ranked WHERE pos <= 10 ORDER BY source, pos""".stripMargin
  }

  /** Canonical (src < dst) distinct part-part co-purchase edges —
    * the oracle rendering of PropertyGraph.partCoPurchaseGraph. */
  private def coPurchaseCte =
    """WITH cedges AS (
      |  SELECT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |  GROUP BY 1, 2 HAVING count(DISTINCT l1.l_orderkey) >= 2)""".stripMargin

  /** Unrolled-CTE multi-landmark BFS relaxation (g18). */
  private def landmarkDistOracle(landmarks: Seq[Long], iters: Int): String = {
    val values = landmarks.map(l => s"($l)").mkString(", ")
    val steps = (1 to iters).map { i =>
      s"""d$i AS (SELECT landmark, id, min(dist) AS dist FROM (
         |    SELECT landmark, id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT d.landmark, sym.dst AS id, d.dist + 1 AS dist
         |    FROM sym JOIN d${i - 1} d ON sym.src = d.id)
         |  GROUP BY landmark, id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |d0 AS (SELECT CAST(x AS BIGINT) AS landmark, CAST(x AS BIGINT) AS id,
       |              0 AS dist
       |       FROM (VALUES $values) AS t(x)),
       |$steps
       |SELECT landmark, dist, count(*) AS n_vertices FROM d$iters
       |GROUP BY landmark, dist ORDER BY landmark, dist""".stripMargin
  }

  /** Unrolled-CTE power smoothing (v₊ = D⁻¹Wv, v₀ = deg·n/Σdeg) —
    * the portable-SQL rendering of IterativeGraph.powerSmoothingFixed. */
  private def powerSmoothingOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""s$i AS (SELECT sym.dst AS id, sum(sym.w * v${i - 1}.v) AS s
         |  FROM sym JOIN v${i - 1} ON sym.src = v${i - 1}.id GROUP BY sym.dst),
         |v$i AS (SELECT deg.id, COALESCE(s$i.s, 0) / deg.deg AS v
         |  FROM deg LEFT JOIN s$i ON deg.id = s$i.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |sym AS (SELECT src, dst, weight AS w FROM edges
       |        UNION ALL SELECT dst, src, weight FROM edges),
       |deg AS (SELECT src AS id, sum(w) AS deg FROM sym GROUP BY src),
       |st AS (SELECT count(*) AS n, sum(deg) AS sumdeg FROM deg),
       |v0 AS (SELECT id, deg * n / sumdeg AS v FROM deg CROSS JOIN st),
       |$steps
       |SELECT id, round(v, 4) AS v FROM v$iters
       |ORDER BY v DESC, id LIMIT 20""".stripMargin
  }

  /** Unrolled-CTE deterministic PIC cluster sizes (m08) — the power-
    * smoothing CTEs of [[powerSmoothingOracle]] plus 4dp rounding,
    * equal-width binning over [min, max], and the size histogram;
    * mirrors IterativeGraph.powerSmoothingFixed followed by
    * IterativeGraph.picClustersFromEmbedding expression-for-expression
    * (identical rounded inputs + identical IEEE arithmetic → identical
    * bins on both engines). */
  private[queries] def picClusterSizesOracle(iters: Int, k: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""s$i AS (SELECT sym.dst AS id, sum(sym.w * v${i - 1}.v) AS s
         |  FROM sym JOIN v${i - 1} ON sym.src = v${i - 1}.id GROUP BY sym.dst),
         |v$i AS (SELECT deg.id, COALESCE(s$i.s, 0) / deg.deg AS v
         |  FROM deg LEFT JOIN s$i ON deg.id = s$i.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |sym AS (SELECT src, dst, weight AS w FROM edges
       |        UNION ALL SELECT dst, src, weight FROM edges),
       |deg AS (SELECT src AS id, sum(w) AS deg FROM sym GROUP BY src),
       |st AS (SELECT count(*) AS n, sum(deg) AS sumdeg FROM deg),
       |v0 AS (SELECT id, deg * n / sumdeg AS v FROM deg CROSS JOIN st),
       |$steps,
       |rv AS (SELECT id, round(v, 4) AS v FROM v$iters),
       |b AS (SELECT min(v) AS lo, max(v) AS hi FROM rv),
       |cl AS (SELECT id, CASE WHEN hi <= lo THEN 0
       |    ELSE CAST(least(floor((v - lo) / (hi - lo) * $k), $k - 1) AS INTEGER)
       |  END AS cluster FROM rv CROSS JOIN b)
       |SELECT cluster, count(*) AS size FROM cl
       |GROUP BY cluster ORDER BY size DESC, cluster""".stripMargin
  }

  /** Vertex set shared by the fixed-iteration oracles — ALL customers
    * and parts, matching PropertyGraph.customerPartGraph (isolated
    * vertices included). */
  private def vertexCte =
    """v AS (SELECT c_custkey AS id FROM customer
      |      UNION ALL SELECT p_partkey + 100000000 FROM part)""".stripMargin

  /** Unrolled-CTE PageRank: r0..rN chained CTEs, one per superstep —
    * the portable-SQL rendering of IterativeGraph.pageRankFixed. */
  private def pageRankFixedOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT v.id, 0.15 + 0.85 * COALESCE(s.x, 0) AS rank
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, sum(r${i - 1}.rank / e.outdeg) AS x
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id GROUP BY e.dst) s
         |  ON v.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |$vertexCte,
       |outd AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |e AS (SELECT edges.src, edges.dst, outd.outdeg
       |      FROM edges JOIN outd ON edges.src = outd.src),
       |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v),
       |$steps
       |SELECT id, round(rank, 4) AS pagerank FROM r$iters
       |ORDER BY pagerank DESC, id LIMIT 20""".stripMargin
  }

  /** Unrolled-CTE weighted PageRank: [[pageRankFixedOracle]] with each
    * contribution scaled by weight/out-weight. */
  private def pageRankWeightedOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT v.id, 0.15 + 0.85 * COALESCE(s.x, 0) AS rank
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, sum(r${i - 1}.rank * e.weight / e.outw) AS x
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id GROUP BY e.dst) s
         |  ON v.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |$vertexCte,
       |outw AS (SELECT src, sum(weight) AS outw FROM edges GROUP BY src),
       |e AS (SELECT edges.src, edges.dst, edges.weight, outw.outw
       |      FROM edges JOIN outw ON edges.src = outw.src),
       |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v),
       |$steps
       |SELECT id, round(rank, 4) AS pagerank FROM r$iters
       |ORDER BY pagerank DESC, id LIMIT 20""".stripMargin
  }

  /** Unrolled-CTE HITS: per superstep an auth half-step (dst-keyed sum
    * of hubs, L2-normalized via a scalar subquery) then a hub half-step
    * (src-keyed sum of auths, normalized) — the portable-SQL rendering
    * of IterativeGraph.hitsFixed. */
  private def hitsFixedOracle(iters: Int): String = {
    // norms via `sum(..) OVER ()` — one pass per CTE reference. A
    // scalar subquery here re-evaluates the whole upstream chain PER
    // ROW in DuckDB (CTEs are not materialized); measured as a hang.
    val steps = (1 to iters).map { i =>
      s"""ar$i AS (SELECT e.dst AS id, sum(h${i - 1}.hub) AS a
         |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.id GROUP BY e.dst),
         |af$i AS (SELECT v.id, COALESCE(ar.a, 0) AS a
         |  FROM v LEFT JOIN ar$i ar ON v.id = ar.id),
         |an$i AS (SELECT id, CASE WHEN sqrt(sum(a*a) OVER ()) > 0
         |    THEN a / sqrt(sum(a*a) OVER ()) ELSE 0 END AS a
         |  FROM af$i),
         |hr$i AS (SELECT e.src AS id, sum(an.a) AS h
         |  FROM e JOIN an$i an ON e.dst = an.id GROUP BY e.src),
         |hf$i AS (SELECT v.id, COALESCE(hr.h, 0) AS h
         |  FROM v LEFT JOIN hr$i hr ON v.id = hr.id),
         |h$i AS (SELECT hf.id, CASE WHEN sqrt(sum(hf.h*hf.h) OVER ()) > 0
         |    THEN hf.h / sqrt(sum(hf.h*hf.h) OVER ()) ELSE 0 END AS hub,
         |    an.a AS auth
         |  FROM hf$i hf JOIN an$i an ON hf.id = an.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |$vertexCte,
       |e AS (SELECT src, dst FROM edges),
       |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub,
       |       CAST(1.0 AS DOUBLE) AS auth FROM v),
       |$steps
       |SELECT id, round(auth, 4) AS authority, round(hub, 4) AS hub
       |FROM h$iters ORDER BY authority DESC, id LIMIT 20""".stripMargin
  }

  /** Unrolled-CTE deterministic label propagation: per superstep, each
    * vertex takes its neighbours' majority label (ties → min label). */
  private def labelPropOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""b$i AS (SELECT id, label FROM (
         |    SELECT sym.dst AS id, l.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY sym.dst
         |        ORDER BY count(*) DESC, l.label) AS rn
         |    FROM sym JOIN l${i - 1} l ON sym.src = l.id
         |    GROUP BY sym.dst, l.label) WHERE rn = 1),
         |l$i AS (SELECT l.id, COALESCE(b.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN b$i b ON l.id = b.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |$vertexCte,
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |l0 AS (SELECT id, id AS label FROM v),
       |$steps
       |SELECT label, count(*) AS size FROM l$iters
       |GROUP BY label ORDER BY size DESC, label LIMIT 20""".stripMargin
  }

  /** Unrolled-CTE BFS distance relaxation from vertex 1. */
  private def bfsDistOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""d$i AS (SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT sym.dst AS id, d.dist + 1 AS dist
         |    FROM sym JOIN d${i - 1} d ON sym.src = d.id) GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |d0 AS (SELECT CAST(1 AS BIGINT) AS id, 0 AS dist),
       |$steps
       |SELECT dist, count(*) AS n_vertices FROM d$iters
       |GROUP BY dist ORDER BY dist""".stripMargin
  }

  /** Unrolled-CTE weighted Bellman–Ford relaxation from vertex 1
    * (g33) — integer costs floor(weight), full relaxation per round
    * (the engine's improved-only frontier provably computes the same
    * d_k; see IterativeGraph.ssspWeighted). */
  private def ssspOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""d$i AS (SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT wsym.dst AS id, d.dist + wsym.w AS dist
         |    FROM wsym JOIN d${i - 1} d ON wsym.src = d.id) GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |wsym AS (SELECT src, dst, CAST(floor(weight) AS BIGINT) AS w FROM edges
       |         UNION ALL
       |         SELECT dst, src, CAST(floor(weight) AS BIGINT) FROM edges),
       |d0 AS (SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist),
       |$steps
       |SELECT id, dist FROM d$iters
       |ORDER BY dist, id LIMIT 25""".stripMargin
  }

  /** Unrolled-CTE exact ≤-iters-hop ball sizes for the fixed ANF
    * sample (g34): the landmark-BFS steps of [[landmarkDistOracle]],
    * counted per landmark (self included at dist 0), restricted to
    * landmarks that actually bear edges; the within flag is pinned
    * TRUE — the engine's deterministic sketch estimate must land
    * inside the declared tolerance. */
  private def anfOracle(landmarks: Seq[Long], iters: Int): String = {
    val values = landmarks.map(l => s"($l)").mkString(", ")
    val steps = (1 to iters).map { i =>
      s"""d$i AS (SELECT landmark, id, min(dist) AS dist FROM (
         |    SELECT landmark, id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT d.landmark, sym.dst AS id, d.dist + 1 AS dist
         |    FROM sym JOIN d${i - 1} d ON sym.src = d.id)
         |  GROUP BY landmark, id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |d0 AS (SELECT CAST(x AS BIGINT) AS landmark, CAST(x AS BIGINT) AS id,
       |              0 AS dist
       |       FROM (VALUES $values) AS t(x)
       |       WHERE x IN (SELECT src FROM sym)),
       |$steps
       |SELECT landmark AS id, count(*) AS exact_ball, TRUE AS within_10pct
       |FROM d$iters GROUP BY landmark ORDER BY id""".stripMargin
  }

  /** Unrolled-CTE sampled neighborhood function (g35): the
    * [[anfOracle]] landmark steps, counted per hop bound t (min-dist
    * after the full unroll, filtered dist ≤ t — identical to counting
    * after t steps because BFS level order never shrinks a min). */
  private def anfFunctionOracle(landmarks: Seq[Long], iters: Int): String = {
    val values = landmarks.map(l => s"($l)").mkString(", ")
    val steps = (1 to iters).map { i =>
      s"""d$i AS (SELECT landmark, id, min(dist) AS dist FROM (
         |    SELECT landmark, id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT d.landmark, sym.dst AS id, d.dist + 1 AS dist
         |    FROM sym JOIN d${i - 1} d ON sym.src = d.id)
         |  GROUP BY landmark, id)""".stripMargin
    }.mkString(",\n")
    val perT = (1 to iters).map { t =>
      s"""SELECT CAST($t AS INT) AS t, count(*) AS exact_pairs,
         |  TRUE AS within_10pct FROM d$iters WHERE dist <= $t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$edgesCte,
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |d0 AS (SELECT CAST(x AS BIGINT) AS landmark, CAST(x AS BIGINT) AS id,
       |              0 AS dist
       |       FROM (VALUES $values) AS t(x)
       |       WHERE x IN (SELECT src FROM sym)),
       |$steps
       |SELECT t, exact_pairs, within_10pct FROM ($perT)
       |ORDER BY t""".stripMargin
  }

  /** Unrolled-CTE k-core peeling: each round keeps vertices with
    * degree ≥ k over the previous round's edges, then edges between
    * survivors — mirroring IterativeGraph.kcorePeel exactly. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""v$i AS (SELECT a AS id FROM sym${i - 1} GROUP BY a
         |  HAVING count(*) >= $k),
         |sym$i AS (SELECT s.a, s.b FROM sym${i - 1} s
         |  JOIN v$i x ON s.a = x.id JOIN v$i y ON s.b = y.id)""".stripMargin
    }.mkString(",\n")
    val stats = (1 to rounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  (SELECT count(*) FROM v$i) AS n_vertices,
         |  (SELECT count(*) // 2 FROM sym$i) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$edgesCte,
       |sym0 AS (SELECT src AS a, dst AS b FROM edges
       |         UNION ALL SELECT dst, src FROM edges),
       |$steps
       |SELECT round, n_vertices, n_edges FROM ($stats)
       |ORDER BY round""".stripMargin
  }

  /** Unrolled-CTE min-label propagation over symmetrized edges. */
  /** g22's exact-components oracle: recursive label reachability — a
    * label l spreads across an edge to a node x only while l < x (the
    * component minimum satisfies this along every path, so it reaches
    * every member; the restriction prunes the closure), then each
    * vertex takes its minimum reachable label. Exact at any diameter,
    * which is the point: the operator CONVERGES, so no unrolling. */
  private def starComponentsOracle: String =
    s"""${edgesCte.replace("WITH edges", "WITH RECURSIVE edges")},
       |$vertexCte,
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |cc AS (
       |  SELECT id, id AS lbl FROM v
       |  UNION
       |  SELECT sym.dst AS id, cc.lbl
       |  FROM cc JOIN sym ON sym.src = cc.id
       |  WHERE cc.lbl < sym.dst),
       |lab AS (SELECT id, min(lbl) AS component FROM cc GROUP BY id)
       |SELECT component, count(*) AS size FROM lab
       |GROUP BY component ORDER BY size DESC, component LIMIT 50""".stripMargin

  private def minLabelOracle(iters: Int): String = {
    val steps = OracleFragments.minLabelSteps("sym", iters)
    s"""$edgesCte,
       |$vertexCte,
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |l0 AS (SELECT id, id AS label FROM v),
       |$steps
       |SELECT label AS component, count(*) AS size FROM l$iters
       |GROUP BY label ORDER BY size DESC, component LIMIT 50""".stripMargin
  }

  private def WalkSteps = 4

  /** ONE persisted walk-corpus artifact per (session, dir) — the
    * graph-embedding family's shared epoch corpus (the sharedBm25Path
    * convention): built once via [[IterativeGraph.writeWalkCorpus]],
    * then g27/g29/g30/g31/g32 READ it instead of re-deriving the
    * walks. The artifact is keyed by (salt, steps); readers assert
    * the key, so serving a stale epoch fails loudly. The oracles are
    * unchanged — artifact-served ≡ from-scratch is exactly what their
    * staying green proves. */
  private def sharedWalkPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    // artifact-memo (survives family flushes): the corpus is on disk;
    // a post-flush isolated re-measure must re-READ it, not re-WALK it
    graft.Memo.artifact(s, s"walk-corpus-path|$dir") {
      val g = PropertyGraph.customerPartGraph(s, dir)
      val starts = g.vertices
        .filter(col("type") === "Customer" && col("id") % 50 === 7)
        .select("id")
      val path = graft.ScratchDirs.scratch("walk_corpus_shared")
      IterativeGraph.writeWalkCorpus(g.edges, starts, steps = WalkSteps,
        salt = "walk", path = path)
      path
    }

  /** The shared epoch corpus, read back through the key-checked
    * artifact reader. */
  private def sharedWalks(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    IterativeGraph.readWalkCorpus(s, sharedWalkPath(s, dir),
      salt = "walk", steps = WalkSteps)

  /** CTE stack shared by g26/g27: symmetrized dst-ranked adjacency,
    * then `steps` unrolled hops, each picking rnk =
    * md5('walk|'+walk_id+'|'+step) mod degree + 1 — identical hash
    * arithmetic to IterativeGraph.walkCorpus. Ends at `w$steps`
    * (walk_id, cur, seq). */
  private def walkCtes(steps: Int): String = {
    val hops = (1 to steps).map { i =>
      s"""w$i AS (SELECT w.walk_id, a.dst AS cur,
         |    w.seq || ' ' || CAST(a.dst AS VARCHAR) AS seq
         |  FROM w${i - 1} w
         |  JOIN deg d ON d.src = w.cur
         |  JOIN adj a ON a.src = w.cur AND a.rnk =
         |    (CAST('0x' || substr(md5('walk|' ||
         |       CAST(w.walk_id AS VARCHAR) || '|$i'), 1, 8) AS BIGINT)
         |     % d.deg) + 1)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |sym AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
       |adj AS (SELECT src, dst, row_number() OVER (
       |    PARTITION BY src ORDER BY dst) AS rnk FROM sym),
       |deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY src),
       |w0 AS (SELECT CAST(c_custkey AS BIGINT) AS walk_id,
       |    CAST(c_custkey AS BIGINT) AS cur,
       |    CAST(c_custkey AS VARCHAR) AS seq
       |  FROM customer WHERE c_custkey % 50 = 7
       |    AND c_custkey IN (SELECT src FROM deg)),
       |$hops""".stripMargin
  }

  private def walkCorpusOracle(steps: Int): String =
    s"""${walkCtes(steps)}
       |SELECT walk_id, seq FROM w$steps ORDER BY walk_id""".stripMargin

  /** Oracle for g30: g27's pair counts + center/context marginals +
    * the clipped ln ratio — identical arithmetic to
    * IterativeGraph.ppmiPairs. */
  private def ppmiCtes(steps: Int, window: Int): String =
    s"""${walkCtes(steps)},
       |pp AS (SELECT walk_id, unnest(list_transform(
       |    generate_series(1, len(ns)),
       |    i -> {'pos': i, 'node': ns[i]})) AS pn
       |  FROM (SELECT walk_id, string_split(seq, ' ') AS ns
       |        FROM w$steps)),
       |q AS (SELECT walk_id, (pn).pos AS pos, (pn).node AS node FROM pp),
       |pr AS (SELECT CAST(a.node AS BIGINT) AS center,
       |    CAST(b.node AS BIGINT) AS context
       |  FROM q a JOIN q b ON a.walk_id = b.walk_id
       |    AND a.pos <> b.pos AND abs(a.pos - b.pos) <= $window),
       |pc AS (SELECT center, context, count(*) AS cnt FROM pr GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM pc),
       |cc AS (SELECT center, sum(cnt) AS cc FROM pc GROUP BY center),
       |cx AS (SELECT context, sum(cnt) AS cx FROM pc GROUP BY context),
       |pm AS (SELECT p.center, p.context,
       |    round(ln(p.cnt * tot.total / (cc.cc * cx.cx)), 6) AS ppmi
       |  FROM pc p JOIN cc USING (center) JOIN cx USING (context)
       |  CROSS JOIN tot)""".stripMargin

  private def ppmiOracle(steps: Int, window: Int): String =
    s"""${ppmiCtes(steps, window)}
       |SELECT center, context, ppmi FROM pm WHERE ppmi > 0
       |ORDER BY center, context""".stripMargin

  /** Oracle for g31: chain the g30 PPMI CTEs, sparsify each center's
    * vector to its top-`sparsify` contexts, then replay the cosine
    * self-join, the per-center norms, and the top-k ranking —
    * identical arithmetic to IterativeGraph.ppmiTopSimilar (the 6-dp
    * PPMI inputs are byte-identical both sides; only the final sim
    * rounds, like every double-summing query). */
  private def ppmiSimCtes(steps: Int, window: Int, sparsify: Int): String =
    s"""${ppmiCtes(steps, window)},
       |pos AS (SELECT center, context, ppmi FROM pm WHERE ppmi > 0),
       |top AS (SELECT center, context, ppmi FROM (
       |    SELECT center, context, ppmi, row_number() OVER (
       |      PARTITION BY center ORDER BY ppmi DESC, context) AS r
       |    FROM pos) WHERE r <= $sparsify),
       |nrm AS (SELECT center, sqrt(sum(ppmi * ppmi)) AS nrm
       |  FROM top GROUP BY center),
       |dots AS (SELECT a.center AS ca, b.center AS cb,
       |    sum(a.ppmi * b.ppmi) AS dot
       |  FROM top a JOIN top b USING (context)
       |  WHERE a.center <> b.center GROUP BY 1, 2),
       |sims AS (SELECT ca, cb, round(dot / (na.nrm * nb.nrm), 4) AS sim
       |  FROM dots JOIN nrm na ON na.center = dots.ca
       |  JOIN nrm nb ON nb.center = dots.cb),
       |rk AS (SELECT ca, cb, sim, row_number() OVER (
       |    PARTITION BY ca ORDER BY sim DESC, cb) AS rnk FROM sims)""".stripMargin

  private def ppmiSimilarOracle(steps: Int, window: Int, sparsify: Int,
      k: Int): String =
    s"""${ppmiSimCtes(steps, window, sparsify)}
       |SELECT ca AS center, cb AS neighbor, sim, CAST(rnk AS INT) AS rnk
       |FROM rk WHERE rnk <= $k ORDER BY center, rnk""".stripMargin

  /** Oracle for g32: g31's CTE chain with the final select filtered
    * to the query batch — per-center ranks are unaffected by which
    * centers get served, so the serve must equal the filtered full
    * answer. The PartIdShift bound keeps shifted part vertices from
    * aliasing the customer-id modulus. */
  private def ppmiServeOracle(steps: Int, window: Int, sparsify: Int,
      k: Int, queryMod: Int, queryRem: Int): String =
    s"""${ppmiSimCtes(steps, window, sparsify)}
       |SELECT ca AS center, cb AS neighbor, sim, CAST(rnk AS INT) AS rnk
       |FROM rk WHERE rnk <= $k AND ca % $queryMod = $queryRem
       |  AND ca < ${PropertyGraph.PartIdShift}
       |ORDER BY center, rnk""".stripMargin

  /** Oracle for g29: replay the walks and the windowed pairing (g27's
    * CTEs), build the node-ordered cumulative occurrence mass, then
    * map each md5('neg|center|context|j) mod total draw through it —
    * identical integer arithmetic to IterativeGraph.sgnsNegatives. */
  private def sgnsOracle(steps: Int, window: Int, negPerPair: Int): String =
    s"""${walkCtes(steps)},
       |nodes AS (SELECT CAST(unnest(string_split(seq, ' ')) AS BIGINT) AS node
       |  FROM w$steps),
       |d AS (SELECT node, count(*) AS c FROM nodes GROUP BY node),
       |dc AS (SELECT node, c, sum(c) OVER (ORDER BY node) AS cum FROM d),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM d),
       |pp AS (SELECT walk_id, unnest(list_transform(
       |    generate_series(1, len(ns)),
       |    i -> {'pos': i, 'node': ns[i]})) AS pn
       |  FROM (SELECT walk_id, string_split(seq, ' ') AS ns
       |        FROM w$steps)),
       |q AS (SELECT walk_id, (pn).pos AS pos, (pn).node AS node FROM pp),
       |pr AS (SELECT DISTINCT CAST(a.node AS BIGINT) AS center,
       |    CAST(b.node AS BIGINT) AS context
       |  FROM q a JOIN q b ON a.walk_id = b.walk_id
       |    AND a.pos <> b.pos AND abs(a.pos - b.pos) <= $window),
       |ix AS (SELECT center, context, j,
       |    CAST('0x' || substr(md5('neg|' || CAST(center AS VARCHAR) ||
       |      '|' || CAST(context AS VARCHAR) || '|' ||
       |      CAST(j AS VARCHAR)), 1, 8) AS BIGINT) % total AS idx
       |  FROM pr, unnest(generate_series(1, $negPerPair)) AS t(j)
       |  CROSS JOIN tot)
       |SELECT ix.center, ix.context, CAST(ix.j AS INT) AS neg_rank,
       |  dc.node AS negative
       |FROM ix JOIN dc ON ix.idx >= dc.cum - dc.c AND ix.idx < dc.cum
       |ORDER BY center, context, neg_rank""".stripMargin

  /** Oracle for g28: hop 1 is walkCtes' uniform pick; each later hop
    * weights cur's neighbors by distance to prev (returnW / 1 /
    * outW), then picks the first dst-ranked candidate whose running
    * weight exceeds u·total with u = md5('walk|'+walk_id+'|'+step)
    * / 2³² — identical arithmetic to IterativeGraph.node2vecWalks. */
  private def node2vecOracle(steps: Int, returnW: String,
      outW: String): String = {
    val hops = (2 to steps).map { i =>
      s"""c$i AS (SELECT w.walk_id, w.prev, w.cur, w.seq, a.dst, a.rnk,
         |    CASE WHEN a.dst = w.prev THEN $returnW
         |         WHEN EXISTS (SELECT 1 FROM adj x
         |                      WHERE x.src = w.prev AND x.dst = a.dst)
         |           THEN 1.0
         |         ELSE $outW END AS wt
         |  FROM n${i - 1} w JOIN adj a ON a.src = w.cur),
         |s$i AS (SELECT *,
         |    sum(wt) OVER (PARTITION BY walk_id ORDER BY rnk) AS cum,
         |    sum(wt) OVER (PARTITION BY walk_id) AS tot,
         |    CAST('0x' || substr(md5('walk|' ||
         |      CAST(walk_id AS VARCHAR) || '|$i'), 1, 8) AS BIGINT)
         |      / 4294967296.0 AS u
         |  FROM c$i),
         |n$i AS (SELECT walk_id, cur AS prev, dst AS cur,
         |    seq || ' ' || CAST(dst AS VARCHAR) AS seq
         |  FROM (SELECT *, row_number() OVER (
         |      PARTITION BY walk_id ORDER BY rnk) AS rn
         |    FROM s$i WHERE cum > u * tot) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |sym AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
       |adj AS (SELECT src, dst, row_number() OVER (
       |    PARTITION BY src ORDER BY dst) AS rnk FROM sym),
       |deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY src),
       |n1 AS (SELECT w.walk_id, w.walk_id AS prev, a.dst AS cur,
       |    CAST(w.walk_id AS VARCHAR) || ' ' || CAST(a.dst AS VARCHAR) AS seq
       |  FROM (SELECT CAST(c_custkey AS BIGINT) AS walk_id
       |      FROM customer WHERE c_custkey % 50 = 7
       |        AND c_custkey IN (SELECT src FROM deg)) w
       |  JOIN deg d ON d.src = w.walk_id
       |  JOIN adj a ON a.src = w.walk_id AND a.rnk =
       |    (CAST('0x' || substr(md5('walk|' ||
       |       CAST(w.walk_id AS VARCHAR) || '|1'), 1, 8) AS BIGINT)
       |     % d.deg) + 1),
       |$hops
       |SELECT walk_id, seq FROM n$steps ORDER BY walk_id""".stripMargin
  }

  /** Oracle for g27: replay the walks, index every position, pair
    * each with in-window neighbors, count. */
  private def skipGramOracle(steps: Int, window: Int): String =
    s"""${walkCtes(steps)},
       |pp AS (SELECT walk_id, unnest(list_transform(
       |    generate_series(1, len(ns)),
       |    i -> {'pos': i, 'node': ns[i]})) AS pn
       |  FROM (SELECT walk_id, string_split(seq, ' ') AS ns
       |        FROM w$steps)),
       |q AS (SELECT walk_id, (pn).pos AS pos, (pn).node AS node FROM pp),
       |pr AS (SELECT CAST(a.node AS BIGINT) AS center,
       |    CAST(b.node AS BIGINT) AS context
       |  FROM q a JOIN q b ON a.walk_id = b.walk_id
       |    AND a.pos <> b.pos AND abs(a.pos - b.pos) <= $window)
       |SELECT center, context, count(*) AS cnt FROM pr
       |GROUP BY 1, 2 ORDER BY center, context""".stripMargin
}

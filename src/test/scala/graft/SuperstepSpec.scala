package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.PackedHll
import graft.graph.IterativeGraph

/** The partitioned superstep loops of [[IterativeGraph]] against the
  * plain loops they replaced, kept here as references: every
  * superstep re-joins its full inputs, shuffled however the planner
  * likes. Random small graphs carry the awkward cases — isolated
  * vertices, edge endpoints absent from `vertices`, duplicate edges and
  * self-loops. */
class SuperstepSpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, cases: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- reference forms ----

  private def refPageRank(vertices: DataFrame, e: DataFrame, msg: Column,
      iters: Int): DataFrame = {
    val v = vertices.select("id")
    var ranks = v.select(col("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum(msg).as("in_sum"))
      ranks = v.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  private def refSssp(edges: DataFrame, source: Long, iters: Int): DataFrame = {
    val sym = edges.select(col("src"), col("dst"), col("cost").cast("long").as("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("cost").cast("long").as("w")))
    var dist = Seq((source, 0L)).toDF("id", "dist")
    var frontier = dist
    for (_ <- 1 to iters) {
      val relaxed = sym.join(frontier.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      val merged = dist.unionAll(relaxed)
        .groupBy("id").agg(min("dist").as("dist")).localCheckpoint()
      frontier = merged
        .join(dist.select(col("id"), col("dist").as("__old")), Seq("id"), "left")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .select("id", "dist").localCheckpoint()
      dist = merged
    }
    dist
  }

  private def refBfs(edges: DataFrame, source: Long, iters: Int): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    var dist = Seq((source, 0)).toDF("id", "dist")
    for (i <- 1 to iters) {
      val relaxed = sym
        .join(dist.filter(col("dist") === i - 1).withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("dist") + 1).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("id").agg(min("dist").as("dist")).localCheckpoint()
    }
    dist
  }

  private def sym(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** One plain min-label superstep: (id, label, chg). */
  private def refMinLabelStep(labels: DataFrame, edges: DataFrame): DataFrame = {
    val nb = sym(edges).join(labels.withColumnRenamed("id", "src"), "src")
      .groupBy(col("dst").as("id")).agg(min("label").as("nb_min"))
    labels.join(nb, Seq("id"), "left")
      .select(col("id"),
        least(col("label"), coalesce(col("nb_min"), col("label"))).as("label"),
        (coalesce(col("nb_min"), col("label")) < col("label")).as("chg"))
      .localCheckpoint()
  }

  private def refMinLabel(vertices: DataFrame, edges: DataFrame,
      iters: Int): DataFrame =
    (1 to iters).foldLeft(vertices.select(col("id"), col("id").as("label"))) {
      (labels, _) => refMinLabelStep(labels, edges).select("id", "label")
    }

  private def refMinLabelConverged(vertices: DataFrame,
      edges: DataFrame): DataFrame = {
    var labels = vertices.select(col("id"), col("id").as("label"))
    var converged = false
    while (!converged) {
      val next = refMinLabelStep(labels, edges)
      converged = next.filter(col("chg")).count() == 0L
      labels = next.select("id", "label")
    }
    labels
  }

  private def refLabelProp(vertices: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    var labels = vertices.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iters) {
      val counts = sym(edges).join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("label")).agg(count(lit(1)).as("c"))
      val best = counts.withColumn("__r", row_number().over(
          Window.partitionBy("id").orderBy(col("c").desc, col("label"))))
        .filter(col("__r") === 1).select(col("id"), col("label").as("nb_label"))
      labels = labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("nb_label"), col("label")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  private def refLandmarks(edges: DataFrame, landmarks: Seq[Long],
      iters: Int): DataFrame = {
    var dist = landmarks.map(l => (l, l, 0)).toDF("landmark", "id", "dist")
    for (i <- 1 to iters) {
      val relaxed = edges.select("src", "dst")
        .join(dist.filter(col("dist") === i - 1).withColumnRenamed("id", "src"), "src")
        .select(col("landmark"), col("dst").as("id"), (col("dist") + 1).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("landmark", "id").agg(min("dist").as("dist")).localCheckpoint()
    }
    dist
  }

  private def refPpr(edges: DataFrame, sources: Seq[Long],
      iters: Int): DataFrame = {
    val out = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = edges.select("src", "dst").join(out, "src")
    val seeds = sources.map(s => (s, s)).toDF("source", "id")
    var ranks = seeds.select(col("source"), col("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy(col("source"), col("dst").as("id"))
        .agg(sum(col("rank") / col("outdeg")).as("in_sum"))
      ranks = contrib
        .join(seeds.withColumn("__seed", lit(1)), Seq("source", "id"), "full_outer")
        .select(col("source"), col("id"),
          (when(col("__seed").isNotNull, lit(0.15)).otherwise(lit(0.0)) +
            lit(0.85) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  private def refSmoothing(edges: DataFrame, iters: Int): DataFrame = {
    val symW = edges.select(col("src"), col("dst"), col("weight").as("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight").as("w")))
    val deg = symW.groupBy(col("src").as("id")).agg(sum("w").as("deg"))
      .localCheckpoint()
    val stats = deg.agg(count(lit(1)).as("n"), sum("deg").as("sumdeg"))
    var v = deg.crossJoin(stats)
      .select(col("id"), (col("deg") * col("n") / col("sumdeg")).as("v"))
    for (_ <- 1 to iters) {
      val s = symW.join(v.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("w") * col("v")).as("s"))
      v = deg.join(s, Seq("id"), "left")
        .select(col("id"), (coalesce(col("s"), lit(0.0)) / col("deg")).as("v"))
        .localCheckpoint()
    }
    v
  }

  /** Exact ≤-t-hop ball sizes over the symmetrized edges, on the driver:
    * every edge endpoint's ball, itself included. */
  private def exactBalls(edges: Seq[(Long, Long, Double, Long)],
      t: Int): Map[Long, Long] = {
    val adj = edges.flatMap { case (s, d, _, _) => Seq(s -> d, d -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    adj.keys.map { v =>
      val ball = (1 to t).foldLeft(Set(v)) { (b, _) => b ++ b.flatMap(adj) }
      v -> ball.size.toLong
    }.toMap
  }

  private def rankedAdjacency(edges: DataFrame): (DataFrame, DataFrame) = {
    val adj = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().withColumn("rnk",
        row_number().over(Window.partitionBy("src").orderBy("dst")))
    (adj, adj.groupBy("src").agg(count(lit(1)).as("deg")))
  }

  private def hashBits(salt: String, step: Int) =
    conv(substring(md5(concat_ws("|", lit(salt), col("walk_id"),
      lit(step))), 1, 8), 16, 10).cast("long")

  private def refWalks(edges: DataFrame, starts: DataFrame, steps: Int,
      salt: String): DataFrame = {
    val (adj, deg) = rankedAdjacency(edges)
    var state = starts.select(col("id").cast("long").as("walk_id"))
      .join(deg.select(col("src").as("walk_id")), Seq("walk_id"), "left_semi")
      .select(col("walk_id"), col("walk_id").as("cur"),
        col("walk_id").cast("string").as("seq"))
    for (i <- 1 to steps) {
      state = state
        .join(deg.withColumnRenamed("src", "cur"), Seq("cur"))
        .withColumn("__pick", (hashBits(salt, i) % col("deg")) + 1)
        .join(adj.select(col("src").as("cur"), col("dst"),
          col("rnk").as("__pick")), Seq("cur", "__pick"))
        .select(col("walk_id"), col("dst").as("cur"),
          concat_ws(" ", col("seq"), col("dst").cast("string")).as("seq"))
    }
    state.select("walk_id", "seq")
  }

  private def refNode2vec(edges: DataFrame, starts: DataFrame, steps: Int,
      rw: Double, ow: Double, salt: String): DataFrame = {
    val (adj, deg) = rankedAdjacency(edges)
    var state = starts.select(col("id").cast("long").as("walk_id"))
      .join(deg.select(col("src").as("walk_id")), Seq("walk_id"), "left_semi")
      .select(col("walk_id"), col("walk_id").as("cur"),
        col("walk_id").cast("string").as("seq"))
      .join(deg.withColumnRenamed("src", "cur"), Seq("cur"))
      .withColumn("__pick", (hashBits(salt, 1) % col("deg")) + 1)
      .join(adj.select(col("src").as("cur"), col("dst"),
        col("rnk").as("__pick")), Seq("cur", "__pick"))
      .select(col("walk_id"), col("cur").as("prev"), col("dst").as("cur"),
        concat_ws(" ", col("seq"), col("dst").cast("string")).as("seq"))
    val isNbr = adj.select(col("src").as("prev"), col("dst"), lit(1).as("__nb"))
    for (i <- 2 to steps) {
      val cand = state
        .join(adj.withColumnRenamed("src", "cur"), Seq("cur"))
        .join(isNbr, Seq("prev", "dst"), "left")
        .withColumn("__w", when(col("dst") === col("prev"), lit(rw))
          .when(col("__nb").isNotNull, lit(1.0)).otherwise(lit(ow)))
      val byWalk = Window.partitionBy("walk_id")
      val byRnk = byWalk.orderBy("rnk")
      state = cand
        .withColumn("__cum", sum("__w").over(byRnk))
        .withColumn("__tot", sum("__w").over(byWalk))
        .withColumn("__u", hashBits(salt, i).cast("double") / lit(4294967296.0))
        .filter(col("__cum") > col("__u") * col("__tot"))
        .withColumn("__rn", row_number().over(byRnk))
        .filter(col("__rn") === 1)
        .select(col("walk_id"), col("cur").as("prev"), col("dst").as("cur"),
          concat_ws(" ", col("seq"), col("dst").cast("string")).as("seq"))
    }
    state.select("walk_id", "seq")
  }

  // ---- random graphs ----

  /** Vertices are a subset of 1..10; edge endpoints range over 1..13,
    * so some are absent from `vertices`; pairs repeat and may be
    * self-loops; weights are dyadic, costs positive integers. */
  private final case class G(vertices: Seq[Long],
      edges: Seq[(Long, Long, Double, Long)])
  private val graphGen: Gen[G] = for {
    vs <- Gen.someOf(1L to 10L).map(_.toSeq.sorted)
    n <- Gen.choose(1, 24)
    es <- Gen.listOfN(n, for {
      s <- Gen.choose(1L, 13L)
      d <- Gen.frequency(1 -> Gen.const(s), 6 -> Gen.choose(1L, 13L))
      w <- Gen.choose(1, 8).map(_ * 0.25)
      c <- Gen.choose(1L, 9L)
    } yield (s, d, w, c))
  } yield G(vs, es)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
  private def ranks(df: DataFrame): Map[Long, Double] =
    df.as[(Long, Double)].collect().toMap
  private def keyedRanks(df: DataFrame): Map[(Long, Long), Double] =
    df.as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
  private def close[K](a: Map[K, Double], b: Map[K, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) =>
      math.abs(v - b(k)) <= 1e-12 * math.max(1.0, math.abs(v)) }

  test("partitioned supersteps equal the plain loops on random graphs") {
    check(Prop.forAll(graphGen, Gen.choose(1L, 13L)) { (g, source) =>
      val vs = g.vertices.toDF("id")
      val es = g.edges.toDF("src", "dst", "weight", "cost")
      val starts = (g.vertices :+ 12L).toDF("id")
      val pr = close(
        ranks(IterativeGraph.pageRankFixed(vs, es, iters = 3)),
        ranks(refPageRank(vs, es.select("src", "dst")
          .join(es.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"),
          col("rank") / col("outdeg"), 3)))
      val prw = close(
        ranks(IterativeGraph.pageRankWeightedFixed(vs, es, iters = 3)),
        ranks(refPageRank(vs, es.select("src", "dst", "weight")
          .join(es.groupBy("src").agg(sum("weight").as("outw")), "src"),
          col("rank") * col("weight") / col("outw"), 3)))
      val sssp = rows(IterativeGraph.ssspWeighted(es, source, 3, "cost")) ==
        rows(refSssp(es, source, 3))
      val bfs = rows(IterativeGraph.bfsDistances(es, source, 3)) ==
        rows(refBfs(es, source, 3))
      val walks = rows(IterativeGraph.walkCorpus(es, starts, 4, "s")) ==
        rows(refWalks(es, starts, 4, "s"))
      val n2v = rows(IterativeGraph.node2vecWalks(es, starts, 4, 0.5, 0.25, "s")) ==
        rows(refNode2vec(es, starts, 4, 0.5, 0.25, "s"))
      val verdicts = Seq("pageRankFixed" -> pr, "pageRankWeightedFixed" -> prw,
        "ssspWeighted" -> sssp, "bfsDistances" -> bfs,
        "walkCorpus" -> walks, "node2vecWalks" -> n2v)
      Prop(verdicts.forall(_._2)) :|
        s"differs: ${verdicts.filterNot(_._2).map(_._1).mkString(", ")}"
    }, cases = 8)
  }

  test("bfsDistances keeps its integer dist column") {
    val es = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = IterativeGraph.bfsDistances(es, 1L, 2)
    assert(got.schema("dist").dataType == org.apache.spark.sql.types.IntegerType)
    assert(got.as[(Long, Int)].collect().toMap == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("driver loops equal their plain loops on random graphs") {
    check(Prop.forAll(graphGen, Gen.choose(1L, 13L)) { (g, source) =>
      val vs = g.vertices.toDF("id")
      val es = g.edges.toDF("src", "dst", "weight", "cost")
      val marks = Seq(source, 3L).distinct
      val cc = rows(IterativeGraph.minLabelComponents(vs, es, iters = 2)) ==
        rows(refMinLabel(vs, es, 2))
      val ccFix = rows(IterativeGraph.minLabelComponents(vs, es, iters = -1)) ==
        rows(refMinLabelConverged(vs, es))
      val lp = rows(IterativeGraph.labelPropagationFixed(vs, es, iters = 3)) ==
        rows(refLabelProp(vs, es, 3))
      val lm = rows(IterativeGraph.shortestPathsLandmarks(es, marks, iters = 3)) ==
        rows(refLandmarks(es, marks, 3))
      val ppr = close(
        keyedRanks(IterativeGraph.personalizedPageRankFixed(es, marks, iters = 3)),
        keyedRanks(refPpr(es, marks, 3)))
      val ps = close(
        ranks(IterativeGraph.powerSmoothingFixed(es, "weight", iters = 3)),
        ranks(refSmoothing(es, 3)))
      // at ≤ 13 elements the 1024-register sketches count exactly
      val hb = IterativeGraph.hyperBallSketches(es, iters = 2)
        .select(col("id"), round(PackedHll.hll5Estimate(col("sk"))).cast("long"))
        .as[(Long, Long)].collect().toMap == exactBalls(g.edges, 2)
      val verdicts = Seq("minLabelComponents" -> cc,
        "minLabelComponents converged" -> ccFix, "labelPropagationFixed" -> lp,
        "shortestPathsLandmarks" -> lm, "personalizedPageRankFixed" -> ppr,
        "powerSmoothingFixed" -> ps, "hyperBallSketches" -> hb)
      Prop(verdicts.forall(_._2)) :|
        s"differs: ${verdicts.filterNot(_._2).map(_._1).mkString(", ")}"
    }, cases = 8)
  }

  test("edge frames of one schema never share a superstep artifact") {
    val dir = ScratchDirs.scratch("superstep_edges")
    val a = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val b = Seq((1L, 3L), (3L, 5L), (6L, 1L), (2L, 2L)).toDF("src", "dst")
    a.write.parquet(s"$dir/a")
    b.write.parquet(s"$dir/b")
    a.write.parquet(s"$dir/c")
    val vs = (1L to 7L).toDF("id")
    val marks = Seq(1L, 6L)
    val starts = Seq(1L, 3L).toDF("id")
    /** Every loop that builds an edge artifact, run on `es` and on its
      * plain loop; returns the loops whose answers differ. */
    def wrong(es: DataFrame): Seq[String] = {
      val outdeg = es.groupBy("src").agg(count(lit(1)).as("outdeg"))
      Seq(
        "pageRankFixed" -> close(ranks(IterativeGraph.pageRankFixed(vs, es, 3)),
          ranks(refPageRank(vs, es.join(outdeg, "src"), col("rank") / col("outdeg"), 3))),
        "bfsDistances" -> (rows(IterativeGraph.bfsDistances(es, 1L, 3)) ==
          rows(refBfs(es, 1L, 3))),
        "minLabelComponents" -> (rows(IterativeGraph.minLabelComponents(vs, es, -1)) ==
          rows(refMinLabelConverged(vs, es))),
        "labelPropagationFixed" -> (rows(IterativeGraph.labelPropagationFixed(vs, es, 3)) ==
          rows(refLabelProp(vs, es, 3))),
        "shortestPathsLandmarks" -> (rows(IterativeGraph.shortestPathsLandmarks(es, marks, 3)) ==
          rows(refLandmarks(es, marks, 3))),
        "personalizedPageRankFixed" -> close(
          keyedRanks(IterativeGraph.personalizedPageRankFixed(es, marks, 3)),
          keyedRanks(refPpr(es, marks, 3))),
        "walkCorpus" -> (rows(IterativeGraph.walkCorpus(es, starts, 3, "s")) ==
          rows(refWalks(es, starts, 3, "s"))))
        .filterNot(_._2).map(_._1)
    }
    def both(name: String, first: => DataFrame, second: => DataFrame): Unit = {
      val w = wrong(first) ++ wrong(second)
      assert(w.isEmpty, s"$name: ${w.mkString(", ")}")
    }
    both("checkpointed", a.localCheckpoint(), b.localCheckpoint())
    both("parquet paths", spark.read.parquet(s"$dir/a"), spark.read.parquet(s"$dir/b"))
    both("rewritten path", spark.read.parquet(s"$dir/c"), {
      b.write.mode("overwrite").parquet(s"$dir/c")
      spark.read.parquet(s"$dir/c")
    })
  }

  test("a loop leaves every session conf as it found it; two loops under par2 return what each returns alone") {
    val vs = (1L to 9L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 6L), (6L, 7L),
      (8L, 8L)).toDF("src", "dst")
    val starts = Seq(1L, 5L, 6L).toDF("id")
    val before = spark.conf.getAll
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    def pr = ranks(IterativeGraph.pageRankFixed(vs, es, iters = 4))
    def cc = rows(IterativeGraph.minLabelComponents(vs, es, iters = -1))
    def n2v = rows(IterativeGraph.node2vecWalks(es, starts, 3, 0.5, 0.25, "s"))
    def hb = rows(IterativeGraph.hyperBallSketches(es, iters = 2)
      .select(col("id"), hex(col("sk"))))
    val (pr1, cc1, n2v1, hb1) = (pr, cc, n2v, hb)
    assert(spark.conf.getAll == before)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
    val (pr2, cc2) = Par.par2("superstep-spec-a")(() => pr, () => cc)
    val (hb2, n2v2) = Par.par2("superstep-spec-b")(() => hb, () => n2v)
    assert(close(pr1, pr2) && cc1 == cc2 && n2v1 == n2v2 && hb1 == hb2)
    assert(spark.conf.getAll == before)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
  }

  /** Spark jobs of a query's second run at sf0.01 — the first builds
    * the graph and the superstep artifacts. */
  private def warmJobs(name: String): Int = {
    val dir = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val q = SparkEntry.queries(name)
    val group = s"superstep-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    q(spark, dir).collect()
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, s"$name job-count pin")
      try q(spark, dir).collect()
      finally spark.sparkContext.clearJobGroup()
      // the listener bus is asynchronous: wait until the count settles
      var last = -1
      while (last != jobs.get) { last = jobs.get; Thread.sleep(500) }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("g10 at sf0.01 runs at most 6 Spark jobs once its artifacts are built") {
    val n = warmJobs("g10_pagerank_fixed")
    assert(n > 0 && n <= 6, s"g10 ran $n jobs")
  }

  test("g11 at sf0.01 runs at most 8 Spark jobs once its artifacts are built") {
    val n = warmJobs("g11_minlabel_components")
    assert(n > 0 && n <= 8, s"g11 ran $n jobs")
  }

  test("g33 at sf0.01 runs at most 5 Spark jobs once its artifacts are built") {
    val n = warmJobs("g33_sssp_weighted")
    assert(n > 0 && n <= 5, s"g33 ran $n jobs")
  }

  test("g28 at sf0.01 runs at most 4 Spark jobs once its artifacts are built") {
    val n = warmJobs("g28_node2vec_walks")
    assert(n > 0 && n <= 4, s"g28 ran $n jobs")
  }

  test("g18 at sf0.01 runs at most 11 Spark jobs once its artifacts are built") {
    val n = warmJobs("g18_landmark_distances")
    assert(n > 0 && n <= 11, s"g18 ran $n jobs")
  }
}

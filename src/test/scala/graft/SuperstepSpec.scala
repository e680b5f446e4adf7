package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

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
  private def close(a: Map[Long, Double], b: Map[Long, Double]): Boolean =
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

  test("g10 at sf0.01 runs at most 13 Spark jobs once its artifacts are built") {
    val dir = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val g10 = SparkEntry.queries("g10_pagerank_fixed")
    val group = s"superstep-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    g10(spark, dir).collect() // builds the graph and the edge artifact
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "g10 job-count pin")
      try g10(spark, dir).collect()
      finally spark.sparkContext.clearJobGroup()
      // the listener bus is asynchronous: wait until the count settles
      var last = -1
      while (last != jobs.get) { last = jobs.get; Thread.sleep(500) }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get > 0 && jobs.get <= 13, s"g10 ran ${jobs.get} jobs")
  }
}

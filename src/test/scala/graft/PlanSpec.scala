package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{AdvancedQueries, RelationalQueries}
import graft.similarity.Similarity

/** Plan-shape goldens (SURVEY §5 layer 5): the claims in §4 about what
  * Catalyst does for us, asserted against actual physical plans — a
  * wrong plan at sf0.001 is a catastrophe at 100 TB. */
class PlanSpec extends SparkSpec {

  /** Final (post-AQE) physical plan string. */
  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def packPlan(pack: Seq[graft.queries.NamedQuery], name: String): String =
    planOf(pack.find(_.name == name).get.run(spark, sf))

  test("filters and column pruning reach the parquet scan") {
    // copy the file: the cache manager substitutes ANY plan matching a
    // cached one (Tables.load persists this path), hiding the scan node
    val copied = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "planspec").resolve("part.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/part.parquet"), copied)
    val df = spark.read.parquet(copied.toString)
      .filter(col("p_size") === 5)
      .select("p_partkey", "p_name")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(p_size,5)"),
      s"expected p_size pushdown in:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("p_retailprice"),
      "projection must prune unreferenced columns from the scan")
  }

  test("partitionBy sink prunes partitions on read (PartitionFilters)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "part-prune").resolve("t").toString
    (1 to 300).map(i => (i, s"lang${i % 3}", s"doc $i")).toDF("id", "lang", "text")
      .write.partitionBy("lang").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("lang") === "lang1").select("id")
    val plan = planOf(df)
    // the partition filter must hit the directory layout, not the rows
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"),
      s"expected lang partition pruning in:\n$plan")
    assert(df.count() === 100)
  }

  test("fixed-size dimension joins broadcast; star join has no cartesian") {
    val plan = packPlan(RelationalQueries.all, "q04_revenue_by_nation")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("order-by + limit plans as TakeOrderedAndProject (no global sort)") {
    val plan = packPlan(RelationalQueries.all, "q02_top_users_by_events")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("semi/anti restrictions plan as LeftSemi/LeftAnti joins") {
    assert(packPlan(RelationalQueries.all, "q10_customers_with_big_orders")
      .contains("LeftSemi"))
    assert(packPlan(RelationalQueries.all, "q11_parts_no_big_shipments")
      .contains("LeftAnti"))
  }

  test("range join keys on the equi column (shuffled equi-join, not cartesian)") {
    val plan = packPlan(AdvancedQueries.all, "q19_event_pairs_10min")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"range join must use the user_id equi key:\n$plan")
  }

  test("as-of join is union + running-last — no join node, no pair blowup") {
    val plan = packPlan(AdvancedQueries.all, "q20_purchase_attribution")
    // the scale property: each input row shuffles ONCE on the key; a
    // join-then-rank form would materialize purchases × earlier clicks
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(plan.contains("Union") &&
        (plan.contains("RunningWindowFunction") || plan.contains("Window")),
      s"expected union + window running-last shape:\n$plan")
  }

  test("registered embedding near-dup has no all-pairs join (LSH banding)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d06_embedding_neardup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"near-dup candidates must come from the band equi-join, not all-pairs:\n$plan")
  }

  test("persisted minhash-index ingest stays banded/keyed (no all-pairs)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d27_incremental_neardup_index")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"both the within-batch pairing and the index probe must be (band, bh) equi-joins:\n$plan")
  }

  test("buyer-overlap jaccard is an inverted-index equi-join (no all-pairs)") {
    import graft.queries.GraphQueries
    val plan = packPlan(GraphQueries.all, "g23_part_buyer_jaccard")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"part pairs must come from the shared-buyer equi-join:\n$plan")
  }

  test("CDC chunk dedup is scan-stage chunking + one content-keyed window") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d28_cdc_chunk_dedup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    assert(plan.contains("Window") && plan.contains("chunk"),
      s"first-occurrence rule should be one window partitioned by chunk content:\n$plan")
  }

  test("repeated-substring spans use keyed gram joins (no all-pairs)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d23_repeated_substrings")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"duplicated-gram marking must be a keyed semi-join, not all-pairs:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"gram marking should plan as a semi-join:\n$plan")
  }

  test("frozen quality scorer is pure scan-stage (no exchange, no aggregate)") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.ml.QualityModel.scoreFixed(docs, "doc_id", "text",
        graft.text.TextOps.langMarkers.head._2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"),
      s"the frozen scorer must run inside the ingest scan at 100 TB:\n$plan")
  }

  test("span-cut emission stays keyed end-to-end (no all-pairs)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d24_span_cut_emission")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"span content grouping and position cuts must stay keyed:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"the inherited duplicated-gram marking should still plan as a semi-join:\n$plan")
  }

  test("SemDeDup pair stage is a salted equi-join with in-condition cosine (no all-pairs)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d25_semdedup_kept")
    // the cosine predicate is a join-condition EXTRA over the
    // (cluster, bkt) equi keys — if a rewrite ever loses the equi
    // part, this degrades to a nested-loop over the pair product
    // (the 27-minute 30x DNF documented in PERF.md round 9)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"within-cell pairs must come from the salted (cluster, bkt) equi-join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"survivors must be the anti-join of dropped ids:\n$plan")
  }

  test("filtered ANN keeps the s04 probe shape (broadcast probes, no all-pairs)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "s23_filtered_ann")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"filtered serve must still be the probe equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the probe side must broadcast onto the filtered lists:\n$plan")
  }

  test("semantic decontam is a banded broadcast join (no all-pairs, no corpus shuffle)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d18_semantic_decontam_kept")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"cross-set candidates must come from the band equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side (signatures + vectors) must broadcast:\n$plan")
  }

  test("two-stage rerank broadcasts the shortlist (corpus vectors never sort-merge)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "s10_two_stage_rerank")
    assert(!plan.contains("SortMergeJoin"),
      s"rerank stage must broadcast the id-only shortlist, not shuffle corpus vectors:\n$plan")
  }

  test("brute-force ANN top-k combines map-side (no scored-pair window shuffle)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "s01_ann_brute_topk")
    assert(!plan.contains("Window"),
      s"top-k must aggregate, not window-shuffle every scored pair:\n$plan")
    // partial (map-side) + final phases of the TopK Aggregator
    assert("Aggregate".r.findAllIn(plan).size >= 2 && plan.contains("topkagg"),
      s"expected two-phase topkagg in:\n$plan")
  }

  test("trained-IVF serve (m07) ranks probed candidates map-side: no Window") {
    import graft.queries.MlQueries
    val plan = packPlan(MlQueries.all, "m07_ivf_ann_topk")
    assert(!plan.contains("Window"),
      s"top-k must aggregate, not window-shuffle every probed candidate:\n$plan")
    assert(plan.contains("topkagg"), s"expected the TopK aggregate in:\n$plan")
  }

  test("LSH ANN top-k dedups id pairs (no payload distinct) and combines map-side") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "s02_ann_lsh_topk")
    assert(!plan.contains("Window"),
      s"top-k must aggregate, not window-shuffle every scored candidate:\n$plan")
    assert("Aggregate".r.findAllIn(plan).size >= 2 && plan.contains("topkagg"),
      s"expected two-phase topkagg in:\n$plan")
    // the candidate-dedup aggregate must key on ids only — an embedding
    // payload in the distinct keys means vectors ride the dedup shuffle
    assert(!"HashAggregate\\(keys=\\[[^\\]]*(qv|cv)#".r.findFirstIn(plan).isDefined,
      s"candidate distinct must carry only (query_id, neighbor_id):\n$plan")
  }

  test("FloatDot stays inside whole-stage codegen") {
    // parquet-backed input (a literal LocalTableScan plan has no
    // codegen stages to inspect)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(50)
    val df = Similarity.cosineNearDupPairs(emb, minCos = 0.0)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("float_dot"), s"expected the custom expression in:\n$plan")
    // formatted explain tags codegen'd operators with [codegen id : N]
    assert(plan.contains("codegen id"), s"expression must not break codegen:\n$plan")
  }

  test("text kernels (shingles/nfc StaticInvoke) stay inside whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val df = docs.select(col("doc_id"),
      graft.dedup.Dedup.shingles(col("text"), 3).as("sh"),
      graft.text.TextOps.nfc(col("text")).as("norm"))
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("static_invoke") || plan.contains("staticinvoke"),
      s"expected the kernel calls in:\n$plan")
    assert(plan.contains("codegen id"),
      s"kernel projection must not break whole-stage codegen:\n$plan")
  }

  test("bucketed tables co-locate their join (no shuffle exchange)") {
    import spark.implicits._
    val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 100).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    graft.sources.Sources.saveBucketed(a, "planspec_a", "k", 8)
    graft.sources.Sources.saveBucketed(b, "planspec_b", "k", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the planner must pick the sort-merge path,
      // where bucketing is what saves the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("planspec_a").join(spark.table("planspec_b"), "k")
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE planspec_a")
      spark.sql("DROP TABLE planspec_b")
    }
  }

  test("compaction is the no-shuffle coalesce path (no exchange in the rewrite)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "compact").toString
    (1 to 1000).map(i => (i, s"doc $i")).toDF("id", "text")
      .repartition(16).write.parquet(s"$dir/frag")
    // the frame compact() writes: scan → coalesce, nothing else — a
    // repartition here would shuffle the whole corpus to fix file sizes
    val df = spark.read.parquet(s"$dir/frag").coalesce(4)
    val plan = planOf(df)
    assert(plan.contains("Coalesce"), s"expected coalesce in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"compaction must not shuffle:\n$plan")
    graft.sources.Sources.compact(spark.read.parquet(s"$dir/frag"), s"$dir/out", 4)
    assert(spark.read.parquet(s"$dir/out").count() === 1000)
  }

  test("AQE splits a deliberately skewed join (hot-key skew posture)") {
    import spark.implicits._
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // thresholds scaled down so a ~MB hot partition counts as skewed
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carrying ~100k wide rows vs 3 singleton keys
      val hot = spark.range(0, 100000)
        .select(lit(0L).as("k"), concat(lit("x" * 64), $"id").as("va"))
      val left = hot.unionAll(
        spark.range(1, 4).select($"id".as("k"), $"id".cast("string").as("va")))
      val right = spark.range(0, 4).select($"id".as("k"), $"id".as("vb"))
      val joined = left.join(right, "k")
      val plan = planOf(joined)
      assert(plan.toLowerCase.contains("skew"),
        s"expected AQE to mark/split the skewed partition in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted aggregation matches the plain groupBy exactly on counts") {
    val plain = Tables.lineitem(spark, sf)
      .groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
      .orderBy("l_suppkey").select("l_suppkey", "cnt").collect().toSeq
    val salted = graft.operators.Relational
      .saltedAggregate(Tables.lineitem(spark, sf), Seq("l_suppkey"), "l_quantity")
      .orderBy("l_suppkey").select("l_suppkey", "cnt").collect().toSeq
    assert(salted === plain)
  }

  test("salted join matches the plain join exactly; plan replicates via explode on (key, salt)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(o, "l_orderkey")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("o_orderpriority").collect().toSeq
    val saltedDf = graft.operators.Relational.saltedJoin(li, o, Seq("l_orderkey"))
    val salted = saltedDf
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(salted === plain)
    // physical shape: the small side replicates through a Generate
    // (explode) and the join condition carries the salt column
    val plan = planOf(saltedDf)
    assert(plan.contains("Generate explode"), s"expected explode replication in:\n$plan")
    assert(plan.contains("__salt"), s"expected salted join keys in:\n$plan")
  }

  test("triangle counting joins stay keyed (no cartesian) and TopK samplers combine map-side") {
    import graft.graph.PropertyGraph
    val g = PropertyGraph.partCoPurchaseGraph(spark, sf)
      .filterEdges(col("n_orders") >= 2)
    val plan = planOf(g.triangleCounts())
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle plan must stay keyed:\n$plan")
    // p11's per-group sampler: the TopK udaf aggregates in two phases
    // (partial map-side, final) — never a per-group window or sort
    val sample = graft.text.Sampling.sampleKPerGroup(
      Tables.documents(spark, sf), "source", "doc_id", 5)
    val sPlan = planOf(sample)
    assert(!sPlan.contains("Window"), s"sampler must not window:\n$sPlan")
    assert("ObjectHashAggregate".r.findAllIn(sPlan).size >= 2,
      s"expected partial+final TopK aggregate in:\n$sPlan")
  }

  test("approx_count_distinct stays within 5% of exact (scale variant of A5)") {
    val e = Tables.events(spark, sf)
    val exact = e.select(countDistinct("user_id")).head().getLong(0).toDouble
    val approx = e.select(approx_count_distinct("user_id")).head().getLong(0).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("partial (map-side) aggregation precedes the exchange") {
    val df = Tables.lineitem(spark, sf).groupBy("l_returnflag").agg(sum("l_quantity"))
    val plan = planOf(df)
    // two HashAggregate phases around one shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"expected partial+final agg in:\n$plan")
  }

  test("chunkDedup shuffles once, keyed by chunk content — no join, no cartesian") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"alpha beta g$i d$i e$i f$i"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.dedup.Dedup.chunkDedup(docs, "doc_id", "text", 3))
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"chunk dedup must not join:\n$plan")
    // exactly one exchange, keyed by chunk content (the AQE plan string
    // repeats the tree under "== Initial Plan ==" — count the final only)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning\\(chunk".r.findAllIn(finalPlan).size == 1,
      s"expected a single content-keyed exchange in:\n$finalPlan")
  }

  test("budgetSelect: per-score table broadcasts back; only the tiny histogram sorts globally") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (i, i % 5, 10L + i % 7)).toDF("id", "s", "w")
    val plan = planOf(graft.text.Sampling.budgetSelect(
      rows, "id", col("s"), col("w"), budget = 500L))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"expected the per-score prefix table broadcast back in:\n$finalPlan")
    // the ONLY single-partition exchange allowed is the score-histogram
    // cumsum (score-cardinality rows); the corpus-sized boundary window
    // must stay keyed by score
    assert("Exchange SinglePartition".r.findAllIn(finalPlan).size <= 1,
      s"corpus rows must never serialize through one partition in:\n$finalPlan")
    assert(finalPlan.contains("hashpartitioning(score") ||
      finalPlan.contains("hashpartitioning(s#"),
      s"expected the boundary window keyed by score in:\n$finalPlan")
  }

  test("bigramSurprisal broadcasts the unigram table and V; no cartesian blowup") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, s"w$i the quick brown fox w${i % 7} end"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.text.TextOps.bigramSurprisal(docs, "doc_id", "text"))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), s"no cartesian in:\n$finalPlan")
    // unigram counts and the scalar V are explicit broadcasts; the
    // bigram-count join is deliberately UNHINTED (Catalyst/AQE keep it
    // a keyed shuffle once the bigram vocabulary outgrows the
    // broadcast threshold)
    assert("BroadcastExchange".r.findAllIn(finalPlan).size >= 2,
      s"expected unigram + V broadcast in:\n$finalPlan")
  }

  test("q44 SCD2 window is keyed by customer — never a single global partition") {
    val plan = packPlan(AdvancedQueries.all, "q44_scd2_order_history")
    val finalPlan = plan.split("== Initial Plan ==").head
    // the final presentation ORDER BY may sort, but the lead() window
    // itself must run keyed (a global window would serialize the
    // dimension history through one task)
    assert(finalPlan.contains("hashpartitioning(o_custkey"),
      s"expected the lead window partitioned by o_custkey in:\n$finalPlan")
  }

  test("p05 token-shard window is keyed by source — never a single global partition") {
    val plan = packPlan(graft.queries.PipelineQueries.all, "p05_token_shards")
    // a global ORDER BY window would plan Exchange SinglePartition and
    // serialize the whole corpus through one task at scale
    assert(!plan.contains("SinglePartition"),
      s"expected the running-count window partitioned by source in:\n$plan")
  }

  test("decontamination broadcasts the benchmark n-gram set (corpus-side flagging is scan-stage)") {
    val plan = packPlan(graft.queries.PipelineQueries.all, "d14_decontam_report")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the benchmark gram set broadcast to the corpus scan in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"corpus n-grams must never shuffle for the contamination probe:\n$plan")
  }

  test("graded contamination overlap broadcasts the gram set; corpus side stays scan-stage") {
    val plan = packPlan(graft.queries.PipelineQueries.all, "d22_contam_overlap")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the benchmark gram set broadcast to the corpus scan in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"corpus n-grams must never shuffle for the overlap grading:\n$plan")
  }

  test("oovRate broadcasts the top-K vocab; per-doc verdict aggregates map-side") {
    val plan = packPlan(graft.queries.PipelineQueries.all, "t15_oov_rate")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the K-row vocab broadcast onto the token stream in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"vocab membership must be a keyed broadcast probe:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"expected map-side partial aggregation before the id exchange:\n$plan")
  }

  test("p06 shuffle-shard window is keyed by shard — never a single global sort") {
    val plan = packPlan(graft.queries.PipelineQueries.all, "p06_shuffle_shards")
    assert(!plan.contains("SinglePartition"),
      s"expected the position window partitioned by shard in:\n$plan")
  }

  test("p21/p22: cell offsets broadcast back; corpus windows stay keyed") {
    for (name <- Seq("p21_curriculum_order", "p22_length_bucket_batches")) {
      val plan = packPlan(graft.queries.PipelineQueries.all, name)
      assert(!plan.contains("CartesianProduct"),
        s"$name: no unkeyed join belongs in a sampler plan:\n$plan")
      if (name.startsWith("p21"))
        assert(plan.contains("BroadcastHashJoin"),
          s"$name: the (stage, shard) offset frame must broadcast back:\n$plan")
    }
  }

  test("s26 filtered IVF-PQ: probe join stays keyed (no cartesian/BNLJ)") {
    val plan = packPlan(graft.queries.PipelineQueries.all, "s26_filtered_ivf_pq")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"filtered ADC serve must stay a cluster-keyed probe join:\n$plan")
  }

  test("IVF, IVF-PQ and residual IVF-PQ serves probe without a window and stay cluster-keyed") {
    for (name <- Seq("s04_ann_ivf_fixed", "s18_ivf_pq_topk",
        "s22_ivf_pq_residual_topk")) {
      val plan = packPlan(graft.queries.PipelineQueries.all, name)
      assert(!plan.contains("Window"),
        s"$name: the probe set is a scan-stage expression, not a window:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: the serve must stay a cluster-keyed probe join:\n$plan")
    }
  }

  test("incremental near-dup joins batch bands to corpus bands (keyed equi-join, no cartesian)") {
    val plan = packPlan(graft.queries.PipelineQueries.all, "d16_incremental_neardup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay a (band, bh)-keyed equi-join:\n$plan")
  }

  test("s27 BM25: query side broadcasts onto the posting table (no cartesian, no all-pairs)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "s27_bm25_topk")
    // the (query_id, tok, df, stats) side is query-sized and must
    // broadcast; the corpus postings are the only shuffled table
    assert(plan.contains("BroadcastHashJoin"),
      s"s27: expected the query-term side to broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"s27: corpus must never cross-join the queries:\n$plan")
  }

  test("p34 phased materialization: thresholds broadcast onto ONE corpus scan (no cartesian)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "p34_phased_materialize")
    // the (phase, source, thr) table is phases×sources rows and must
    // broadcast; the corpus is scanned once, never cross-joined
    assert(plan.contains("BroadcastHashJoin"),
      s"p34: expected the threshold fan-out to broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"p34: corpus must never cross-join the schedule:\n$plan")
  }

  test("g31/g32 PPMI similarity: context-keyed sparse join, no cartesian, query side broadcast on the serve") {
    import graft.queries.GraphQueries
    for (name <- Seq("g31_ppmi_similar_nodes", "g32_ppmi_vectors_persisted")) {
      val plan = packPlan(GraphQueries.all, name)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: the cosine must stay a context-keyed equi-join:\n$plan")
    }
  }

  test("surprisal/tf-idf joins broadcast their vocabulary-sized sides") {
    import graft.queries.PipelineQueries
    // t06: freq + 1-row total joined back to the corpus token stream;
    // t07: cat_df + 1-row n_cats joined back to the tf table — all four
    // are vocabulary-sized and must broadcast, never BNLJ/shuffle the
    // corpus-derived side
    for (name <- Seq("t06_unigram_surprisal", "t07_category_terms")) {
      val plan = packPlan(PipelineQueries.all, name)
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$name: expected broadcast joins in:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name: 1-row total must broadcast, not cartesian:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name: vocabulary join must broadcast, not shuffle both sides:\n$plan")
    }
  }

  test("centroidAssign broadcasts the centroid table (corpus never shuffles)") {
    val e = Tables.embeddings(spark, sf)
    val plan = planOf(Similarity.centroidAssign(e, "vec_id", "embedding", "label"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected the labels×dim centroid table broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"centroid scoring must broadcast, not cartesian-shuffle:\n$plan")
  }

  test("boilerplate gram set broadcasts back; occurrence stream never re-shuffles onto it") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d20_boilerplate_ngrams")
    assert(plan.contains("BroadcastHashJoin"),
      s"d20: bounded boilerplate set must broadcast-join the stream:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("normOutliers: quartile table broadcasts; windows stay label-keyed") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "s12_norm_outliers")
    assert(plan.contains("BroadcastHashJoin"),
      s"s12: the per-label quartile table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"s12: rejoining quartiles must not shuffle the norm stream:\n$plan")
  }

  test("cross-source dup attribution joins only on the content hash (no all-pairs)") {
    import graft.queries.PipelineQueries
    val plan = packPlan(PipelineQueries.all, "d21_cross_source_dups")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"d21: the self-join must stay keyed by md5(text):\n$plan")
  }

  test("q48 point-in-time assembly keeps the union+window as-of shape (no join node at all)") {
    val plan = packPlan(AdvancedQueries.all, "q48_pit_training_features")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastHashJoin") && !plan.contains("ShuffledHashJoin"),
      s"q48: asof must stay a union + keyed window, never a join:\n$plan")
  }

  test("m20 scaler serve is one constant-folded projection over the scan (no join)") {
    import graft.queries.MlQueries
    val plan = packPlan(MlQueries.all, "m20_scaler_artifact_serve")
    assert(!plan.contains("Join"),
      s"m20: the frozen constants must fold into the projection:\n$plan")
  }

  test("mm06 admission probes band buckets — equi-join, never all-pairs") {
    import graft.queries.MultimodalQueries
    val plan = packPlan(MultimodalQueries.all, "mm06_phash_index_admission")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"mm06: the batch×index probe must stay (band, bits)-keyed:\n$plan")
  }

  test("Memo.planKey: semantic twins share, different local data must not") {
    import spark.implicits._
    // two in-memory frames, one schema, different rows: LocalRelation
    // canonicalizes without its data, so the key must fold the rows in
    val a = Seq((1L, 2L)).toDF("src", "dst")
    val b = Seq((1L, 3L)).toDF("src", "dst")
    assert(Memo.planKey(a) != Memo.planKey(b))
    // true semantic twins (same data, fresh attribute ids) DO share
    assert(Memo.planKey(a) == Memo.planKey(Seq((1L, 2L)).toDF("src", "dst")))
    // scan-based twins share; a different filter splits the key
    val s1 = spark.read.parquet(s"$sf/nation.parquet").filter(col("n_regionkey") === 1)
    val s2 = spark.read.parquet(s"$sf/nation.parquet").filter(col("n_regionkey") === 1)
    val s3 = spark.read.parquet(s"$sf/nation.parquet").filter(col("n_regionkey") === 2)
    assert(Memo.planKey(s1) == Memo.planKey(s2))
    assert(Memo.planKey(s1) != Memo.planKey(s3))
  }

  test("Memo.contentKey: None for checkpointed and RDD-backed leaves, Some for local and scan leaves") {
    import spark.implicits._
    val local = Seq((1L, 2L)).toDF("src", "dst")
    val scan = spark.read.parquet(s"$sf/nation.parquet").filter(col("n_regionkey") === 1)
    assert(Memo.contentKey(local).isDefined)
    assert(Memo.contentKey(scan).isDefined)
    assert(Memo.contentKey(scan.crossJoin(local)).isDefined)
    assert(Memo.contentKey(local.localCheckpoint()).isEmpty)
    assert(Memo.contentKey(spark.sparkContext.parallelize(Seq((1L, 2L))).toDF("src", "dst"))
      .isEmpty)
    assert(Memo.contentKey(scan.crossJoin(local.localCheckpoint())).isEmpty)
  }

  /** Two parquet dirs of one (id, text) schema under a fresh scratch
    * dir: `a` holds `as`' rows, `b` holds `bs`'. */
  private def twoDirs(name: String, as: Seq[(Long, String)],
      bs: Seq[(Long, String)]): (String, String) = {
    import spark.implicits._
    val dir = ScratchDirs.scratch(name)
    Fs.deleteRecursive(spark, dir)
    as.toDF("id", "text").write.parquet(s"$dir/a")
    bs.toDF("id", "text").write.parquet(s"$dir/b")
    (s"$dir/a", s"$dir/b")
  }

  test("Memo.contentKey: two parquet dirs of one schema differ, and one dir after an in-place overwrite") {
    import spark.implicits._
    val (a, b) = twoDirs("planspec_content_key", Seq((1L, "x")), Seq((2L, "y")))
    def key(p: String) = Memo.contentKey(spark.read.parquet(p))
    val ka = key(a)
    assert(ka.isDefined && ka == key(a))
    assert(Memo.planKey(spark.read.parquet(a)) == Memo.planKey(spark.read.parquet(b)))
    assert(ka != key(b))
    // a subquery's scan is not a leaf of the plan: its files cannot
    // enter the key, so a frame with a subquery has none
    def withMaxOf(p: String) = spark.read.parquet(b)
      .select(col("id"), spark.read.parquet(p).select(max("id")).scalar().as("m"))
    assert(Memo.planKey(withMaxOf(a)) == Memo.planKey(withMaxOf(b)))
    assert(Memo.contentKey(withMaxOf(a)).isEmpty)
    Seq((3L, "z")).toDF("id", "text").write.mode("overwrite").parquet(a)
    assert(ka != key(a))
  }

  test("bpeTrain over two corpus dirs of one schema returns each corpus's own merges") {
    import spark.implicits._
    val ra = Seq((1L, "abab abab abcd"), (2L, "abab cdcd"))
    val rb = Seq((1L, "xyxy xyxy xyzw"), (2L, "zwzw xyxy"))
    val (a, b) = twoDirs("planspec_bpe_dirs", ra, rb)
    def merges(df: DataFrame) =
      graft.text.TextOps.bpeTrain(df, "text", merges = 3).collect().toSeq
    val (ma, mb) = (merges(spark.read.parquet(a)), merges(spark.read.parquet(b)))
    assert(ma == merges(ra.toDF("id", "text")))
    assert(mb == merges(rb.toDF("id", "text")))
    assert(ma != mb)
  }

  test("runAvailableNow under one name over two parquet dirs of one schema returns each input's rows") {
    import spark.implicits._
    val (a, b) = twoDirs("planspec_stage_dirs", Seq((1L, "x"), (2L, "y")), Seq((3L, "z")))
    def run(p: String) = graft.streaming.StreamRunner.runAvailableNow(spark,
      spark.read.parquet(p), "planspec_stage", "append")(identity)
      .collect().map(_.toString).sorted.toSeq
    assert(run(a) == Seq("[1,x]", "[2,y]"))
    assert(run(b) == Seq("[3,z]"))
    assert(run(a) == Seq("[1,x]", "[2,y]"))
    Seq((4L, "w")).toDF("id", "text").write.mode("overwrite").parquet(a)
    assert(run(a) == Seq("[4,w]"))
  }

  test("pitEnrich: the broadcast gate switches the join strategy, results identical") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val hist = Seq(
      (1L, Seq((10L, 5.0), (20L, 9.0))),
      (2L, Seq((15L, 2.0))))
      .toDF("k", "raw")
      .select(col("k"), transform(col("raw"),
        r => struct(r("_1").as("day"), r("_2").as("ltv"))).as("hist"))
    val src = Seq((100L, 1L, 25L), (101L, 2L, 16L), (102L, 2L, 3L))
      .toDF("id", "k", "asof")
    def run(maxEntities: Long) = EventStreams.pitEnrich(
      src, hist, "k", "hist", "day", asof = col("asof"),
      entityCount = 2L, broadcastMaxEntities = maxEntities)
      .select(col("id"), col("__m")("ltv").as("ltv"))
    val small = run(1000L)
    val big = run(0L)
    // below the gate: the store broadcasts (zero stream-side shuffle)
    assert(planOf(small).contains("BroadcastHashJoin"),
      s"expected broadcast under the gate:\n${planOf(small)}")
    // above it: a keyed shuffle join — a hardcoded broadcast hint
    // would OOM executors at 100 TB entity cardinality
    val bigPlan = planOf(big)
    assert(!bigPlan.contains("BroadcastHashJoin") &&
      (bigPlan.contains("SortMergeJoin") ||
        bigPlan.contains("ShuffledHashJoin")),
      s"expected keyed shuffle above the gate:\n$bigPlan")
    // the strategy switch is invisible to the result
    val a = small.as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = big.as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b && a == Seq((100L, 9.0), (101L, 2.0)),
      s"results diverged: $a vs $b")
  }

  test("catalog round-trip: spark.table read plans the same pushed-filter parquet scan as a path read") {
    // the q50 path: saveAsTable → session catalog → SQL/table reads.
    // The catalog must be a NAME layer only — the physical plan under
    // it is the identical FileScan parquet with pushdown and pruning,
    // not a different (or worse) execution path.
    // fresh-session catalogs don't know tables whose warehouse dirs a
    // prior JVM left behind — clear both sides (the q50 gate does the
    // same) or saveAsTable fails with LOCATION_ALREADY_EXISTS
    spark.sql("DROP TABLE IF EXISTS graft_planspec_part")
    graft.Fs.deleteRecursive(spark,
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_planspec_part")
    graft.sources.Sources.saveTable(
      Tables.part(spark, sf), "graft_planspec_part")
    val viaCatalog = spark.table("graft_planspec_part")
      .filter(col("p_size") === 5)
      .select("p_partkey", "p_name")
    val plan = planOf(viaCatalog)
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"catalog read must scan parquet:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(p_size,5)"),
      s"expected p_size pushdown through the catalog relation:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("p_retailprice"),
      "projection must prune unreferenced columns through the catalog")
    // and the names round-trip: the table is listed and re-readable
    assert(spark.catalog.tableExists("graft_planspec_part"))
  }

  /** Shuffle and broadcast exchanges of a plan the superstep driver
    * runs as it is (no adaptive wrapper, no query stages). */
  private def exchangesIn(plan: org.apache.spark.sql.execution.SparkPlan): (Int, Int) = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    (plan.collect { case s: ShuffleExchangeLike => s }.size,
      plan.collect { case b: BroadcastExchangeLike => b }.size)
  }

  /** A checkpointed, id-partitioned superstep state over the
    * customer-part graph's vertices, as the superstep driver keeps it. */
  private def superstepState(g: graft.graph.PropertyGraph,
      cols: org.apache.spark.sql.Column*): DataFrame =
    org.apache.spark.sql.GraftExpressionBridge.checkpoint(
      g.vertices.select(col("id") +: cols: _*)
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("id")))._1

  /** The plan the superstep driver runs for `step` over `state` from
    * its second superstep on. */
  private def stepPlan(step: DataFrame => DataFrame,
      state: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    org.apache.spark.sql.GraftExpressionBridge.plan(step, state).executedPlan

  /** Whether the cached frame `df` scans has been built. */
  private def built(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.isCachedColumnBuffersLoaded
    }.get

  test("a PageRank superstep plans one exchange and no broadcast: the state join is narrow") {
    import graft.graph.{IterativeGraph, PropertyGraph}
    val g = PropertyGraph.customerPartGraph(spark, sf)
    val e = IterativeGraph.pageRankEdges(g.edges)
    val step = stepPlan(IterativeGraph.pageRankStep(col("rank") / col("outdeg"), 0.15)(
      e, _), superstepState(g, lit(1.0).as("rank")))
    assert(exchangesIn(step) == ((1, 0)), s"expected only the message exchange:\n$step")
  }

  test("a superstep planned before its graph artifact has run still plans one exchange") {
    import graft.graph.{IterativeGraph, PropertyGraph}
    val g = PropertyGraph.customerPartGraph(spark, sf)
    // edges without a content key get a fresh artifact per call
    val e = IterativeGraph.pageRankEdges(g.edges.localCheckpoint())
    assert(!built(e))
    val step = stepPlan(IterativeGraph.pageRankStep(col("rank") / col("outdeg"), 0.15)(
      e, _), superstepState(g, lit(1.0).as("rank")))
    assert(exchangesIn(step) == ((1, 0)), s"expected only the message exchange:\n$step")
    assert(built(e))
  }

  test("min-label and keyed landmark supersteps plan one exchange and no broadcast") {
    import graft.graph.{IterativeGraph, PropertyGraph}
    val g = PropertyGraph.customerPartGraph(spark, sf)
    val e = IterativeGraph.undirected(g.edges)
    val steps = Seq(
      "min-label" -> stepPlan(IterativeGraph.minLabelStep(e, _),
        superstepState(g, col("id").as("label"), lit(false).as("chg"))),
      // a key column and an active frontier: still the one exchange
      "landmarks" -> stepPlan(IterativeGraph.relaxStep(Seq("landmark"))(e, _),
        superstepState(g, (col("id") % 3).as("landmark"), lit(0L).as("dist"),
          (col("id") % 2 === 0).as("improved"))))
    steps.foreach { case (name, step) =>
      assert(exchangesIn(step) == ((1, 0)),
        s"$name: expected only the message exchange:\n$step")
    }
  }

  /** The Spark jobs `body` starts, in order, each as the operator
    * scopes of every stage it ran (a stage whose shuffle output
    * already exists is skipped, not run) and whether it builds a
    * broadcast. Every job is counted, whatever its thread: a broadcast
    * runs its job from one of its own. */
  private def jobsRun(body: => Unit): Seq[(Seq[Set[String]], Boolean)] = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val ran = new java.util.concurrent.ConcurrentHashMap[Int, Set[String]]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j)
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        ran.put(s.stageInfo.stageId,
          s.stageInfo.rddInfos.flatMap(_.scope).map(_.name).toSet)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is asynchronous: wait until the counts settle
      var last = -1
      while (last != jobs.size + ran.size) {
        last = jobs.size + ran.size; Thread.sleep(500)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq.sortBy(_.jobId).map { j =>
      (j.stageIds.sorted.flatMap(id => Option(ran.get(id))),
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .exists(_.contains("broadcast exchange")))
    }
  }

  test("node2vec hops plan one exchange each: no window, no broadcast") {
    import graft.graph.{IterativeGraph, PropertyGraph}
    val g = PropertyGraph.customerPartGraph(spark, sf)
    val starts = g.vertices.filter(col("id") % 50 === 7).select("id")
    // edges without a content key get a fresh adjacency artifact, so
    // the walk builds it before its own job, the call's last
    val edges = g.edges.localCheckpoint()
    val jobs = jobsRun(IterativeGraph.node2vecWalks(edges, starts, steps = 3,
      returnWeight = 0.5, outWeight = 0.25, salt = "walk"))
    val walk = jobs.last._1
    assert(jobs.size > 1 && walk.size == 4 && !jobs.exists(_._2) &&
      !jobs.exists(_._1.exists(_.contains("Window"))),
      s"expected one frontier exchange per hop and a result stage:\n${jobs.mkString("\n")}")
  }
}

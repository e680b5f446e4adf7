package graft.perfbench

import scala.jdk.CollectionConverters._

/** Folds a run into its metrics and renders the result JSON:
  * `{"correct", "attempted", "failed", "metrics", "detail"}`. */
object Report {

  /** Every per-layer metric, reported on every workload (0 where the
    * layer does no work), with its unit. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.tasks_failed" -> "count", "spark.jobs_unattributed" -> "count",
    "spark.driver_gap_s" -> "s", "spark.slot_busy_frac" -> "ratio",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_disk_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "core.persisted_mb" -> "MB", "core.blocks_dropped" -> "count",
    "core.cache_release_s" -> "s",
    "queries.build_s" -> "s", "queries.action_s" -> "s",
    "sources.table_load_s" -> "s", "sources.snapshotCommit_s" -> "s",
    "sources.snapshotMerge_s" -> "s", "sources.snapshotOptimize_s" -> "s",
    "sources.snapshotRead_s" -> "s",
    "graph.customerPartGraph_s" -> "s") ++
    Workloads.graphQueries.map { case (_, fn) => s"graph.${fn}_s" -> "s" } ++ Seq(
    "graph.s_per_superstep" -> "s",
    "text.writePostingsIndex_s" -> "s", "text.appendToPostingsIndex_s" -> "s",
    "text.tombstonePostingsIndex_s" -> "s", "text.compactPostingsIndex_s" -> "s",
    "text.bm25TopKFromIndex_s" -> "s", "text.liveDoclens_s" -> "s",
    "dedup.writeMinhashIndex_s" -> "s", "dedup.ingestAgainstLiveMinhashIndex_s" -> "s",
    "dedup.tombstoneMinhashIndex_s" -> "s", "dedup.compactMinhashIndex_s" -> "s",
    "dedup.readMinhashSignatures_s" -> "s",
    "ml.writeIvfIndex_s" -> "s", "ml.appendToIvfIndex_s" -> "s",
    "ml.tombstoneIvfIndex_s" -> "s", "ml.compactIvfIndex_s" -> "s", "ml.ivfServe_s" -> "s",
    "ml.readLiveIvfAssignments_s" -> "s",
    "fs.index_mb" -> "MB", "fs.index_files" -> "count",
    "streaming.runForeachBatch_s" -> "s", "streaming.runAvailableNowOrdered_s" -> "s",
    "streaming.batches" -> "count", "streaming.addBatch_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms", "streaming.walCommit_ms" -> "ms",
    "streaming.commitOffsets_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB",
    "ingest.s_per_mrow" -> "s", "ingest.serve_p50_s" -> "s", "ingest.serve_tail_s" -> "s",
    "ingest.microbatch_p50_ms" -> "ms", "ingest.microbatch_tail_ms" -> "ms",
    "ingest.index_bytes_per_input_byte" -> "ratio",
    "trace_overhead" -> "ratio")

  /** The per-layer metrics that are the benchmark's own timed calls:
    * metric `x_s` is the seconds spent in `ctx.timed("x")`. */
  private val timedLayers: Seq[String] = perLayer.map(_._1)
    .filter(n => n.endsWith("_s") && !n.startsWith("spark.") && !n.startsWith("ingest.") &&
      n != "graph.s_per_superstep" && n != "sources.table_load_s")
    .map(_.stripSuffix("_s"))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: p = max(0.5, 1 - 10/n). */
  def tailP(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)

  def vmHwmMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def metric(value: Double, unit: String): String =
    obj(Seq("value" -> num(value), "unit" -> str(unit)))

  def render(workload: String, seed: Long, traced: Boolean, cores: Int,
      setupTimes: Seq[Double], tableLoad: Double, passes: Seq[PassRun],
      ops: Seq[OpRun], ctx: Ctx, tracer: Option[Tracer],
      extra: Map[String, Double], rssMb: Double): String = {
    val failed = ops.filter(_.out.error.isDefined)
    // end-to-end figures come from passes run without the listeners
    val plainWarm = passes.filter(p => p.pass > 1 && !p.traced).map(_.pass).toSet
    val warmOps = ops.filter(o => plainWarm(o.pass) && o.out.error.isEmpty &&
      Set("query", "write", "serve").contains(o.out.kind)).map(_.seconds)
    val serveOps = ops.filter(o => plainWarm(o.pass) && o.out.error.isEmpty &&
      o.out.kind == "serve").map(_.seconds)
    val wall = median(passes.filter(p => plainWarm(p.pass)).map(_.wall))
    val endToEnd = Seq(
      "setup_s" -> (median(setupTimes), "s"),
      "wall_s" -> (wall, "s"),
      "cold_wall_s" -> (passes.head.wall, "s"),
      "op_p50_s" -> (median(warmOps), "s"),
      "op_tail_s" -> (quantile(warmOps, tailP(warmOps.size)), "s"),
      "rss_peak_mb" -> (rssMb, "MB"))

    val (layerValues, checks, jobsByLayer) = tracer match {
      case Some(t) => perLayerValues(workload, cores, tableLoad, passes, ops, ctx, t, extra, wall)
      case None => (Map.empty[String, Double], Seq.empty[String], Map.empty[String, Int])
    }
    val metrics =
      if (traced) perLayer.map { case (n, u) => n -> metric(layerValues(n), u) }
      else endToEnd.map { case (n, (v, u)) => n -> metric(v, u) }

    val detail = Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "cores" -> cores.toString,
      "passes" -> passes.size.toString,
      "pass_walls_s" -> passes.map(p => num(p.wall)).mkString("[", ",", "]"),
      "setup_runs_s" -> setupTimes.map(num).mkString("[", ",", "]"),
      "op_samples" -> warmOps.size.toString,
      "op_tail_p" -> num(tailP(warmOps.size)),
      "serve_samples" -> serveOps.size.toString,
      "serve_p50_s" -> num(median(serveOps)),
      "serve_tail_s" -> num(quantile(serveOps, tailP(serveOps.size))),
      "failed_frac" -> num(failed.size.toDouble / ops.size),
      "op_s_by_pass" -> obj(ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
        n -> rs.sortBy(_.pass).map(r => num(r.seconds)).mkString("[", ",", "]") }),
      "failures" -> failed.map(f => str(s"pass ${f.pass} ${f.name}: ${f.out.error.get}"))
        .mkString("[", ",", "]"),
      "jobs_by_layer" -> obj(jobsByLayer.toSeq.sorted.map { case (l, c) => l -> c.toString }),
      "attribution_failures" -> checks.map(str).mkString("[", ",", "]")) ++
      extra.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }

    if (traced) writeSpans(ctx)
    obj(Seq(
      "correct" -> (failed.isEmpty && checks.isEmpty).toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.size.toString,
      "metrics" -> obj(metrics),
      "detail" -> obj(detail)))
  }

  private def writeSpans(ctx: Ctx): Unit = {
    val lines = ctx.spans.zipWithIndex.map { case (s, i) =>
      obj(Seq("id" -> i.toString, "workload" -> str(s.workload), "pass" -> s.pass.toString,
        "op" -> str(s.op), "call" -> str(s.call), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "parent" -> s.parent.toString))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${ctx.workDir}/spans.jsonl"),
      lines.asJava)
  }

  /** Union length of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    c.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private def perLayerValues(workload: String, cores: Int, tableLoad: Double,
      passes: Seq[PassRun], ops: Seq[OpRun], ctx: Ctx, t: Tracer,
      extra: Map[String, Double], plainWall: Double)
      : (Map[String, Double], Seq[String], Map[String, Int]) = {
    val traced = passes.filter(_.traced)
    val tracedIds = traced.map(_.pass).toSet
    val n = traced.size.toDouble
    val jobs = t.jobs.values.asScala.toSeq.filterNot(t.isMarker).sortBy(_.id)
    val unattributed = jobs.count(j => t.groupOf(j).isEmpty)
    val jobsByPass = jobs.filter(j => t.groupOf(j).nonEmpty)
      .groupBy(j => Groups.pass(t.groupOf(j)))
    val stageOwner = jobs.flatMap(j => j.stages.map(_ -> j)).groupBy(_._1)
      .map { case (s, js) => s -> js.map(_._2).minBy(_.id) }
    val stagesOf = traced.map { p =>
      val own = jobsByPass.getOrElse(p.pass, Nil).map(_.id).toSet
      p.pass -> stageOwner.collect {
        case (s, j) if own(j.id) && t.stages.containsKey(s) => t.stages.get(s)
      }.toSeq
    }.toMap
    def stageSum(f: StageAgg => Double): Double =
      traced.map(p => stagesOf(p.pass).map(f).sum).sum / n
    val gap = traced.map { p =>
      val iv = stagesOf(p.pass).filter(s => s.startMs >= 0 && s.endMs >= 0)
        .map(s => (s.startMs, s.endMs))
      p.wall - covered(iv, p.startMs, p.endMs) / 1000.0
    }.sum / n
    val busy = traced.map(p => stagesOf(p.pass).map(_.taskMs).sum / 1000.0 /
      (p.wall * cores)).sum / n
    def layer(call: String): Double =
      traced.map(p => ctx.layer((p.pass, call))).sum / n

    // supersteps: jobs submitted inside the graph.<fn> spans
    val fnSpans = ctx.spans.filter(s => s.call.startsWith("graph.") &&
      s.call != "graph.customerPartGraph")
    val fnJobs = jobs.count(j => fnSpans.exists(s => j.submitMs >= s.startMs && j.submitMs <= s.endMs))
    val fnSeconds = fnSpans.map(s => (s.endMs - s.startMs) / 1000.0).sum

    val progress = t.progress.asScala.toSeq.filter { p =>
      Option(t.streamOwner.get(p.runId)).exists(g => g.nonEmpty && tracedIds(Groups.pass(g)))
    }
    def phase(k: String): Double = progress.map(_.phases.getOrElse(k, 0L).toDouble).sum / n
    val lastByRun = progress.groupBy(_.runId).values.map(_.last).toSeq
    val batchMs = progress.map(_.batchMs.toDouble)
    val tracedWarm = traced.filter(_.pass > 1).map(_.wall)
    val serveOps = ops.filter(o => tracedIds(o.pass) && o.pass > 1 && o.out.error.isEmpty &&
      o.out.kind == "serve").map(_.seconds)
    val ingest = workload == "ingest_serve"
    def orZero(d: Double): Double = if (d.isNaN) 0.0 else d

    val values: Map[String, Double] = timedLayers.map(l => s"${l}_s" -> layer(l)).toMap ++ Map(
      "spark.jobs" -> jobsByPass.filter(e => tracedIds(e._1)).values.map(_.size).sum / n,
      "spark.stages" -> stageSum(s => if (s.endMs >= 0) 1.0 else 0.0),
      "spark.tasks" -> stageSum(_.tasks.toDouble),
      "spark.tasks_failed" -> stageSum(_.failed.toDouble),
      "spark.jobs_unattributed" -> unattributed.toDouble,
      "spark.driver_gap_s" -> gap,
      "spark.slot_busy_frac" -> busy,
      "spark.executor_run_s" -> stageSum(_.runMs / 1000.0),
      "spark.executor_cpu_s" -> stageSum(_.cpuNs / 1e9),
      "spark.gc_s" -> stageSum(_.gcMs / 1000.0),
      "spark.shuffle_read_mb" -> stageSum(_.shuffleRead / 1e6),
      "spark.shuffle_write_mb" -> stageSum(_.shuffleWrite / 1e6),
      "spark.spill_disk_mb" -> stageSum(_.spillDisk / 1e6),
      "spark.input_mb" -> stageSum(_.input / 1e6),
      "spark.output_mb" -> stageSum(_.output / 1e6),
      "core.persisted_mb" -> traced.map(_.persistedBytes / 1e6).sum / n,
      "core.blocks_dropped" -> traced.map(_.blocksDropped.toDouble).sum / n,
      "sources.table_load_s" -> tableLoad,
      "graph.s_per_superstep" -> (if (fnJobs == 0) 0.0 else fnSeconds / fnJobs),
      "fs.index_mb" -> extra.getOrElse("fs.index_mb", 0.0),
      "fs.index_files" -> extra.getOrElse("fs.index_files", 0.0),
      "streaming.batches" -> progress.size / n,
      "streaming.addBatch_ms" -> phase("addBatch"),
      "streaming.queryPlanning_ms" -> phase("queryPlanning"),
      "streaming.walCommit_ms" -> phase("walCommit"),
      "streaming.commitOffsets_ms" -> phase("commitOffsets"),
      "streaming.state_rows" -> lastByRun.map(_.stateRows.toDouble).sum / n,
      "streaming.state_mb" -> lastByRun.map(_.stateBytes / 1e6).sum / n,
      "ingest.s_per_mrow" -> (if (!ingest) 0.0
        else extra("ingest.write_s") / extra("ingest.rows") * 1e6),
      "ingest.serve_p50_s" -> orZero(median(serveOps)),
      "ingest.serve_tail_s" -> orZero(quantile(serveOps, tailP(serveOps.size))),
      "ingest.microbatch_p50_ms" -> orZero(median(batchMs)),
      "ingest.microbatch_tail_ms" -> orZero(quantile(batchMs, tailP(batchMs.size))),
      "ingest.index_bytes_per_input_byte" ->
        extra.getOrElse("ingest.index_bytes_per_input_byte", 0.0),
      "trace_overhead" -> median(tracedWarm) / plainWall)

    // Which layers ran is taken from what the listener saw, not from the
    // benchmark's own timers: the engine packages on the call sites of
    // the traced jobs. Each workload must run its own layers' code and
    // none of the layers it bypasses.
    val jobsByLayer = jobs.flatMap(_.layers).groupBy(identity).map { case (l, js) => l -> js.size }
    val ingestLayers = Seq("text", "dedup", "ml", "sources", "streaming")
    val (own, bypassed) =
      if (workload == "graph_iterative") (Seq("graph"), ingestLayers) else (ingestLayers, Seq("graph"))
    val checks = Seq.newBuilder[String]
    if (unattributed > 0) checks += s"$unattributed Spark jobs ran outside any operation"
    bypassed.filter(jobsByLayer.contains).foreach(l =>
      checks += s"${jobsByLayer(l)} Spark jobs ran graft.$l code on $workload, expected none")
    own.filterNot(jobsByLayer.contains).foreach(l =>
      checks += s"no Spark job ran graft.$l code on $workload")
    (values, checks.result(), jobsByLayer)
  }
}

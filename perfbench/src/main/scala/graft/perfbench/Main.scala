package graft.perfbench

import graft.{Caches, Sessions, SparkEntry}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-run state shared by the workloads: the session, the inputs, the
  * current pass and operation, the layer timers and the spans. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
    val seed: Long, val workload: String, val reference: Map[String, String],
    val recordOnly: Boolean) {
  val recorded = mutable.LinkedHashMap.empty[String, String]
  /** seconds per (pass, layer call) */
  val layer = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[Span]
  var tracing = false
  var tracer: Option[Tracer] = None
  var pass = 0
  var op = ""
  private var stack = List.empty[Int]

  def timed[T](call: String)(body: => T): T = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val idx = if (tracing) {
      spans += Span(workload, pass, op, call, startMs, -1L, stack.headOption.getOrElse(-1))
      stack = (spans.size - 1) :: stack
      spans.size - 1
    } else -1
    try body
    finally {
      layer((pass, call)) += (System.nanoTime() - t0) / 1e9
      if (idx >= 0) {
        spans(idx) = spans(idx).copy(endMs = System.currentTimeMillis())
        stack = stack.tail
      }
    }
  }
}

/** One operation as run: pass, name, latency, outcome. */
final case class OpRun(pass: Int, name: String, seconds: Double, out: Outcome)

final case class PassRun(pass: Int, traced: Boolean, startMs: Long, endMs: Long,
    wall: Double, persistedBytes: Long, blocksDropped: Long)

/** The benchmark's JVM side. `perfbench/run.py` builds it and launches
  * it; see `perfbench/README.md`.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *      --data DIR --work DIR --out FILE [--reference FILE] [--record FILE]
  * }}}
  *
  * It sets up `Setups` times and keeps the last session, runs one cold
  * pass, then warm passes until `seconds` have passed since the cold
  * pass ended (at least two, so that `wall_s` is always a median of
  * several passes). With `--trace 1` the cold pass
  * and the odd warm passes (3, 5, ...) run with the listeners installed;
  * the even ones run without, for `trace_overhead`. The result is
  * written as JSON to `--out`; `--record` runs one pass of the
  * graph_iterative queries and writes their fingerprints instead. */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val out = a("out")
    try {
      val json = if (a.contains("record")) record(a) else run(a)
      Files.writeString(Paths.get(out), json + "\n")
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        sys.exit(1)
    }
  }

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"arguments must be --key value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k"); k.drop(2) -> v
    }.toMap
    Seq("out", "data", "work", "cores").foreach(k => require(m.contains(k), s"missing --$k"))
    m
  }

  private def intArg(a: Map[String, String], k: String): Int =
    a.get(k).flatMap(_.toIntOption).getOrElse(
      throw new IllegalArgumentException(s"--$k must be an integer, got ${a.get(k)}"))

  private def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "graph_iterative" => new GraphIterative(ctx)
    case "ingest_serve" => new IngestServe(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; known: ${Workloads.names.mkString(", ")}")
  }

  /** Builds a session, loads the tables and warms up; returns the
    * session and the table-load seconds. */
  private def setUp(cores: Int, dataDir: String, tables: Seq[String]): (SparkSession, Double) = {
    val spark = Sessions.local(cores.toString)
    val t0 = System.nanoTime()
    Setup.loadTables(spark, dataDir, tables)
    val load = (System.nanoTime() - t0) / 1e9
    Setup.warmUp(spark, dataDir)
    (spark, load)
  }

  private def tablesOf(workload: String): Seq[String] = workload match {
    case "graph_iterative" => Seq("customer", "part", "orders", "lineitem")
    case "ingest_serve" => Seq("lineitem", "events", "documents", "embeddings")
  }

  private def tearDown(spark: SparkSession): Unit = {
    Sessions.quiesceStreaming(spark)
    spark.stop()
  }

  private def readReference(path: Option[String]): Map[String, String] =
    path.map { p =>
      "\"([^\"]+)\"\\s*:\\s*\"([0-9]+:[0-9a-f]+)\"".r
        .findAllMatchIn(Files.readString(Paths.get(p)))
        .map(m => m.group(1) -> m.group(2)).toMap
    }.getOrElse(Map.empty)

  private def runOps(ctx: Ctx, ops: Seq[Op], runs: mutable.ArrayBuffer[OpRun]): Unit = {
    val sc = ctx.spark.sparkContext
    ops.foreach { op =>
      ctx.op = op.name
      val group = Groups.of(ctx.pass, op.name)
      sc.setJobGroup(group, op.name, interruptOnCancel = false)
      ctx.tracer.foreach(_.currentGroup = group)
      val t0 = System.nanoTime()
      val out = try ctx.timed("op")(op.run()) catch {
        case NonFatal(e) => Outcome(error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      // per-call intermediates of this operation; session memos stay
      ctx.timed("core.cache_release")(Caches.clear(ctx.spark))
      out.error.foreach(e => System.err.println(s"perfbench: ${ctx.workload} pass ${ctx.pass} ${op.name} FAILED: $e"))
      runs += OpRun(ctx.pass, op.name, dt, out)
    }
  }

  private def persistedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def run(a: Map[String, String]): String = {
    val workload = a.getOrElse("workload", "")
    require(Workloads.names.contains(workload),
      s"unknown workload '$workload'; known: ${Workloads.names.mkString(", ")}")
    val seed = a.get("seed").flatMap(_.toLongOption)
      .getOrElse(throw new IllegalArgumentException(s"--seed must be an integer, got ${a.get("seed")}"))
    val seconds = intArg(a, "seconds")
    val cores = intArg(a, "cores")
    val traced = a.get("trace").contains("1")
    val reference = readReference(a.get("reference"))
    val dataDir = a("data")
    val workDir = a("work")

    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tableLoad = 0.0
    var ctx: Ctx = null
    var wl: Workload = null
    for (i <- 1 to Setups) {
      if (spark != null) tearDown(spark)
      val t0 = System.nanoTime()
      val (s, load) = setUp(cores, dataDir, tablesOf(workload))
      spark = s
      ctx = new Ctx(spark, dataDir, workDir, seed, workload, reference, recordOnly = false)
      wl = workloadOf(workload, ctx)
      wl.stage()
      setupTimes += (System.nanoTime() - t0) / 1e9
      tableLoad = load
    }

    val tracer = if (traced) Some(new Tracer(spark)) else None
    ctx.tracer = tracer
    val opRuns = mutable.ArrayBuffer.empty[OpRun]
    val passes = mutable.ArrayBuffer.empty[PassRun]
    // the warm passes fill `seconds`, whatever the cold pass took
    var warmStart = 0L
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    var pass = 0
    def warmDone = passes.count(_.pass > 1)
    def warmTraced = passes.count(p => p.pass > 1 && p.traced)
    def warmPlain = passes.count(p => p.pass > 1 && !p.traced)
    def more: Boolean =
      if (pass == 0) true
      // traced: end on an untraced pass, so the untraced passes bracket
      // the traced ones and the warm-up trend cancels in the ratio
      else if (traced) elapsed < seconds || warmTraced < 1 || warmPlain < 2 || pass % 2 == 1
      else elapsed < seconds || warmDone < 2
    while (more) {
      pass += 1
      ctx.pass = pass
      // traced: the cold pass and the odd warm passes
      val traceThis = tracer.isDefined && pass % 2 == 1
      tracer.foreach { t =>
        if (traceThis) { t.install(); ctx.tracing = true }
      }
      val ops = wl.pass(pass)
      val droppedBefore = tracer.map(_.blocksDropped.get).getOrElse(0L)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      runOps(ctx, ops, opRuns)
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val persisted = if (traceThis) persistedBytes(spark) else 0L
      if (traceThis) tracer.foreach { t => t.uninstall(); ctx.tracing = false }
      val dropped = tracer.map(_.blocksDropped.get - droppedBefore).getOrElse(0L)
      passes += PassRun(pass, traceThis, startMs, endMs, wall, persisted, dropped)
      if (workload == "ingest_serve" && pass > 1) Disk.delete(s"$workDir/ingest/p${pass - 1}")
      if (pass == 1) warmStart = System.nanoTime()
    }
    val extra = wl.extra()
    val rssMb = Report.vmHwmMb()
    tearDown(spark)

    Report.render(workload, seed, traced, cores, setupTimes.toSeq, tableLoad,
      passes.toSeq, opRuns.toSeq, ctx, tracer, extra, rssMb)
  }

  /** One pass of the graph_iterative queries, in sorted
    * order; writes `{"query": "rows:hash", ...}`. With `--dump DIR` each
    * result is also written as parquet under DIR for the oracle check. */
  def record(a: Map[String, String]): String = {
    val (spark, _) = setUp(intArg(a, "cores"), a("data"), tablesOf("graph_iterative"))
    val ctx = new Ctx(spark, a("data"), a("work"), 0L, "record", Map.empty, recordOnly = true)
    val names = Workloads.graphQueries.map(_._1)
    val q = new QueryOps(ctx)
    val runs = mutable.ArrayBuffer.empty[OpRun]
    ctx.pass = 1
    runOps(ctx, names.map(q.op(_)), runs)
    if (a.contains("repeat")) {
      // a second pass in the same session: a fingerprint that differs
      // between passes marks a nondeterministic query
      val first = ctx.recorded.toMap
      ctx.pass = 2
      runOps(ctx, names.map(q.op(_)), runs)
      names.filter(n => first.get(n) != ctx.recorded.get(n)).foreach(n =>
        System.err.println(s"perfbench: $n is not deterministic: ${first.get(n)} vs ${ctx.recorded.get(n)}"))
    }
    a.get("dump").foreach { dir =>
      names.foreach { n =>
        SparkEntry.queries(n)(spark, a("data")).write.mode("overwrite").parquet(s"$dir/$n")
      }
      val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Report.obj(oracle.toSeq.sorted.map {
        case (n, sql) => n -> Report.str(sql) }))
    }
    val failed = runs.filter(_.out.error.isDefined)
    failed.foreach(r => System.err.println(s"perfbench: ${r.name} failed: ${r.out.error.get}"))
    tearDown(spark)
    require(failed.isEmpty, s"${failed.size} queries failed")
    Report.obj(ctx.recorded.toSeq.sortBy(_._1).map { case (n, fp) => n -> Report.str(fp) })
  }
}

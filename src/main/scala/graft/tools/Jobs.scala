package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Job/stage/task-count probe for imperative or driver-loop queries
  * whose returned frame's plan is vacuous (a LocalTableScan over
  * driver-folded results): `runMain graft.tools.Jobs <query>...` runs
  * each named query once (after the shared warmup) and reports how
  * many Spark jobs, stages and tasks it drove — the §2.4 metric an
  * action-count collapse actually moves, and the evidence artifact
  * the optimization rounds commit where an explain dump says nothing
  * (VERDICT r15 item 4) — and how many generated classes Janino
  * compiled for it and in how many milliseconds (0 when every class
  * came from the JVM's compiled-class cache). Read `stages=` beside
  * `jobs=`: a job of an adaptive plan runs one stage, but a superstep
  * or walk job (`GraftExpressionBridge.checkpoint`) runs every
  * exchange of its plan as a stage of the one job, so a job count
  * alone no longer tracks the shuffles. */
object Jobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Sessions.local(cpus)
    try graft.SparkEntry.entry(spark).count()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"warm-up query failed: $e") }
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // settle the async listener bus so counts attribute to THIS query
      Thread.sleep(1000)
      jobs.set(0); stages.set(0); tasks.set(0)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      graft.Caches.clear(spark)
      Thread.sleep(1000)
      println(f"JOBS $name%-34s jobs=${jobs.get}%-4d stages=${stages.get}%-5d " +
        f"tasks=${tasks.get}%-6d compiles=$compiles%-4d " +
        f"compile_ms=$compileMs%-7.0f sec=$sec%.2f")
    }
    graft.Sessions.quiesceStreaming(spark)
    spark.stop()
  }
}

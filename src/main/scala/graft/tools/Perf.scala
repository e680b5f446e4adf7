package graft.tools

/** Per-query timing harness: `runMain graft.tools.Perf <query>...`
  * times each named SparkEntry query (3 runs after the shared warmup)
  * at SPARK_GRAFT_SF_DIR — the measure-first loop for optimizing a
  * single operator without a full bench sweep. */
object Perf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Sessions.local(cpus)
    try graft.SparkEntry.entry(spark).count()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"warm-up query failed: $e") }
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // SPARK_GRAFT_PERF_NOCLEAR=1 reproduces the Bench min-of-2 shape
      // (caches persist between a query's runs, cleared after the set)
      val noClear = sys.env.get("SPARK_GRAFT_PERF_NOCLEAR").contains("1")
      // SPARK_GRAFT_PERF_RUNS=1 for train-dominated probes (m27's 100x
      // ALS fit) where one recorded number is the deliverable and
      // three runs would triple a multi-minute measurement
      val nRuns = sys.env.getOrElse("SPARK_GRAFT_PERF_RUNS", "3").toInt
      val times = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        if (!noClear) graft.Caches.clear(spark)
        t
      }
      if (noClear) graft.Caches.clear(spark)
      println(f"PERF $name%-34s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    // probe hygiene (VERDICT r14 item 5): probing an sw query leaves
    // streaming machinery (state-store maintenance thread) that races
    // SparkContext teardown and floods the probe log with an
    // RpcEnvStoppedException wall — quiesce it first, like Bench
    graft.Sessions.quiesceStreaming(spark)
    spark.stop()
  }
}

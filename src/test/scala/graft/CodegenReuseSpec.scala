package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.streaming.StreamRunner

/** The JVM's compiled-class cache serves every repeat of a generated
  * class: a plan run again compiles nothing, however many other
  * classes were compiled in between, and a stream of a shape that has
  * run before compiles nothing under a new query name. The cache is
  * one per JVM, sized by the first session, so these pin what the
  * engine sees rather than the conf value. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the number of classes compiled while it ran. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("a batch plan run again after more than 100 other classes compiled compiles nothing") {
    val fixed = () => spark.range(0, 2000, 1, 4)
      .select((col("id") % 7).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    val expected = fixed().toSeq
    assert(compiles(fixed())._2 === 0)
    // each literal is inlined into the generated code, so each plan
    // compiles classes of its own
    val (_, others) = compiles {
      (1 to 120).foreach(i =>
        spark.range(0, 10, 1, 1).select((col("id") * i + i).as("x")).collect())
    }
    assert(others > 100)
    val (again, n) = compiles(fixed().toSeq)
    assert(n === 0)
    assert(again === expected)
  }

  test("a foreachBatch stream run again under another query name compiles nothing") {
    val rows = (0 until 300).map(i => (i.toLong, i % 5)).toDF("id", "k")
    val sink = Files.createTempDirectory("codegen-reuse").toString
    def run(name: String): Unit =
      StreamRunner.runForeachBatch(spark, rows, name) { b =>
        b.groupBy("k").agg(sum("id").as("s"))
          .write.mode("append").parquet(s"$sink/$name")
      }
    run("codegen_reuse_a")
    assert(compiles(run("codegen_reuse_b"))._2 === 0)
    val sums = Seq("codegen_reuse_a", "codegen_reuse_b").map(n =>
      spark.read.parquet(s"$sink/$n").agg(sum("s")).head().getLong(0))
    assert(sums === Seq.fill(2)((0 until 300).map(_.toLong).sum))
    ScratchDirs.deleteDir(sink)
  }
}

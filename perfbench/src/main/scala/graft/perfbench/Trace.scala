package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One timed call of the benchmark into the program: the workload, the
  * pass, the operation, the layer call (`layer.function`, or `op` for
  * the whole operation), its wall interval in epoch milliseconds and
  * the index of the enclosing span (-1 for none). */
final case class Span(workload: String, pass: Int, op: String, call: String,
    startMs: Long, endMs: Long, parent: Int)

/** Listener-side records, kept in memory and folded at the end. A
  * job's `layers` are the engine packages (`graft.<layer>.`) in its
  * stages' call sites, plus `streaming` for a micro-batch job. */
final case class JobRec(id: Int, group: String, submitMs: Long, stages: Seq[Int],
    layers: Set[String]) {
  @volatile var endMs: Long = -1L
}
final case class StageAgg(var startMs: Long = -1L, var endMs: Long = -1L,
    var tasks: Long = 0L, var failed: Long = 0L, var taskMs: Long = 0L,
    var runMs: Long = 0L, var cpuNs: Long = 0L, var gcMs: Long = 0L,
    var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
    var spillDisk: Long = 0L, var input: Long = 0L, var output: Long = 0L)
final case class Progress(runId: String, batchMs: Long, phases: Map[String, Long],
    stateRows: Long, stateBytes: Long)

/** The traced run's instruments. The Spark listener charges every job
  * to the operation whose job group was set when it was submitted; a
  * streaming query runs its micro-batches under its own run id as job
  * group, which [[Tracer]] maps back to the operation that started the
  * query. Nothing here is installed on an untraced run. */
final class Tracer(spark: SparkSession) {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  val streamOwner = new java.util.concurrent.ConcurrentHashMap[String, String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  val blocksDropped = new java.util.concurrent.atomic.AtomicLong()
  @volatile var currentGroup: String = ""
  private val Marker = "perfbench-drain-marker"
  private var drains = 0

  private def stage(id: Int): StageAgg = stages.computeIfAbsent(id, _ => StageAgg())

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val frames = e.stageInfos.flatMap(i => Tracer.layersIn(i.details)).toSet
      val layers = if (prop("sql.streaming.queryId").isDefined) frames + "streaming" else frames
      jobs.put(e.jobId, JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), e.time,
        e.stageIds, layers))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.synchronized {
        i.submissionTime.foreach(t => s.startMs = t)
        i.completionTime.foreach(t => s.endMs = t)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
        s.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spillDisk += m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.output += m.outputMetrics.bytesWritten
        }
      }
    }
    // an unpersist removes blocks without reporting them; an RDD block
    // reported without memory has been dropped (or spilled) from memory
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && !b.storageLevel.useMemory) blocksDropped.incrementAndGet()
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamOwner.put(e.runId.toString, currentGroup)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val phases = Option(p.durationMs).map { m =>
        import scala.jdk.CollectionConverters._
        m.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }.getOrElse(Map.empty)
      progress.add(Progress(p.runId.toString, p.batchDuration, phases,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    // the call site Spark records per job keeps 20 frames by default,
    // which can end above the engine frame that started the job
    System.setProperty(Tracer.DepthKey, "64")
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
    System.clearProperty(Tracer.DepthKey)
  }

  /** Wait until the listener bus has delivered every earlier event: the
    * bus is ordered, so once a marker job's end arrives all jobs before
    * it have been recorded. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    drains += 1
    val marker = s"$Marker-$drains"
    sc.setJobGroup(marker, marker, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    import scala.jdk.CollectionConverters._
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!jobs.values.asScala.exists(j => j.group == marker && j.endMs >= 0)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("listener bus did not drain within 60 s")
      Thread.sleep(5)
    }
  }

  /** The operation group a job is charged to, or "" when none. */
  def groupOf(j: JobRec): String =
    if (j.group.startsWith(Groups.Prefix)) j.group
    else Option(streamOwner.get(j.group)).getOrElse("")

  def isMarker(j: JobRec): Boolean = j.group.startsWith(Marker)
}

object Tracer {
  val DepthKey = "spark.callstack.depth"
  private val EngineFrame = """\bgraft\.([a-z]+)\.""".r
  private val NotLayers = Set("perfbench", "tools")

  /** The engine packages with a frame in a call-site stack trace. */
  def layersIn(stack: String): Set[String] =
    EngineFrame.findAllMatchIn(stack).map(_.group(1)).filterNot(NotLayers).toSet
}

/** Job-group names: `pb|<pass>|<op>`. */
object Groups {
  val Prefix = "pb|"
  def of(pass: Int, op: String): String = s"$Prefix$pass|$op"
  def pass(g: String): Int = g.split('|')(1).toInt
}

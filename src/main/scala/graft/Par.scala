package graft

/** Run two independent EAGER builders concurrently and return both
  * (optimization guide §2.6 — overlap independent jobs): an iterative
  * loop or an artifact write is a chain of driver-synchronous jobs
  * whose scheduling gaps the other side's tasks back-fill. Only for
  * builders with no data dependency; determinism is untouched (each
  * side is a self-contained deterministic computation, and they only
  * meet after both complete).
  *
  * The await is FINITE and the failure NAMED (VERDICT r15 item 6): a
  * wedged side must surface as an attributed error, never an eternal
  * hang. The bound is generous — hours, far beyond any legitimate run
  * of the callers — because its job is attribution, not pacing.
  *
  * What a failure abandons is cancelled: when either side throws, or
  * the bound runs out, the call's pool is shut down with `shutdownNow`
  * (interrupting the side still running) and the Spark jobs both sides
  * started are cancelled by their job tag, before the failure is
  * rethrown — an orphaned side must not keep writing artifacts or
  * holding executor slots after its caller has seen the error. The
  * sides run on two named DAEMON threads, so even a side that ignores
  * the interrupt cannot keep the JVM alive. Calls are serialized, so at
  * most two par2 threads run at a time, and a call from inside a side
  * fails: nested overlaps oversubscribe the scheduler (the reverted
  * r16 slot-starvation blowups).
  *
  * The threads are made per call, by the calling thread, so each side
  * inherits the caller's Spark local properties (job group, job tags,
  * SQL execution id) as Spark expects of a child thread; threads kept
  * from an earlier call would carry that call's properties instead.
  */
object Par {
  import java.util.concurrent.{Callable, ExecutionException,
    ExecutorCompletionService, Executors, TimeUnit}
  import scala.concurrent.duration._

  private[graft] val MaxWait: FiniteDuration = 2.hours

  private val threadIds = new java.util.concurrent.atomic.AtomicInteger
  private val inSide = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  def par2[A, B](name: String)(fa: () => A, fb: () => B): (A, B) = {
    if (inSide.get)
      throw new IllegalStateException(s"$name: par2 called inside a par2 side")
    synchronized {
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext).filterNot(_.isStopped)
      val tag = s"graft-par2-${java.util.UUID.randomUUID()}"
      def side(f: () => Any): Callable[Any] = () => {
        inSide.set(true)
        sc.foreach(_.addJobTag(tag))
        f()
      }
      val pool = Executors.newFixedThreadPool(2, (r: Runnable) => {
        val t = new Thread(r, s"graft-par2-${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
      val done = new ExecutorCompletionService[Any](pool)
      val a = done.submit(side(fa))
      val b = done.submit(side(fb))
      val deadline = MaxWait.fromNow
      try {
        for (_ <- 1 to 2) {
          val next = done.poll(math.max(0L, deadline.timeLeft.toMillis),
            TimeUnit.MILLISECONDS)
          if (next == null) throw new RuntimeException(
            s"$name: ${if (a.isDone) "second" else "first"} side produced " +
              s"no result within $MaxWait")
          next.get()
        }
        (a.get().asInstanceOf[A], b.get().asInstanceOf[B])
      } catch {
        case t: Throwable =>
          pool.shutdownNow()
          sc.foreach(_.cancelJobsWithTag(tag))
          t match {
            case e: ExecutionException if e.getCause != null => throw e.getCause
            case other => throw other
          }
      } finally pool.shutdown()
    }
  }
}

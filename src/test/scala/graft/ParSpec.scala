package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Par.par2 — the bounded §2.6 overlap helper every
  * independent-jobs optimization routes through (VERDICT r15 item 6:
  * finite await, named failure). */
class ParSpec extends AnyFunSuite {

  test("par2 returns both sides' results") {
    val (a, b) = Par.par2("spec")(() => 1 + 1, () => "x" * 3)
    assert(a == 2 && b == "xxx")
  }

  test("par2 really overlaps: both sides enter before either returns") {
    val gate = new java.util.concurrent.CountDownLatch(2)
    // each side blocks until BOTH have started — only possible when
    // the two builders run concurrently (a sequential runner deadlocks
    // here; the await bound would surface it as a named failure)
    def side(v: Int): Int = {
      gate.countDown()
      assert(gate.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the other side never started — par2 ran sequentially")
      v
    }
    assert(Par.par2("spec-overlap")(() => side(1), () => side(2)) == ((1, 2)))
  }

  test("a throwing side propagates its failure instead of hanging") {
    val boom = intercept[Exception] {
      Par.par2("spec-fail")(
        () => throw new IllegalStateException("left side broke"),
        () => 42)
    }
    // the builder's own exception (possibly wrapped by the await)
    // must surface — never a silent hang or a swallowed error
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(5).toSeq
    assert(chain(boom).exists(_.getMessage == "left side broke"))
  }

  test("the await bound is finite and generous") {
    assert(Par.MaxWait.toMinutes >= 30,
      "bound must never fire on a legitimately slow run")
    assert(Par.MaxWait.isFinite,
      "an infinite await hangs a wedged side forever with no attribution")
  }

  test("a failed side interrupts the other: no par2 thread is left running") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val other = new java.util.concurrent.atomic.AtomicReference[Thread]
    intercept[IllegalStateException] {
      Par.par2("spec-cancel")(
        () => {
          assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException("left side broke")
        },
        () => {
          other.set(Thread.currentThread())
          started.countDown()
          Thread.sleep(600000) // interrupted by the cancellation
        })
    }
    other.get.join(10000)
    assert(!other.get.isAlive, "the abandoned side is still running")
    // and the next call runs normally
    assert(Par.par2("spec-after")(() => 1, () => 2) == ((1, 2)))
  }

  test("par2 inside a par2 side fails instead of nesting") {
    val boom = intercept[IllegalStateException] {
      Par.par2("spec-outer")(
        () => Par.par2("spec-inner")(() => 1, () => 2),
        () => 3)
    }
    assert(boom.getMessage.contains("spec-inner"))
  }

  test("a wedged side does not block JVM exit") {
    // a child JVM whose par2 abandons a side that ignores interrupts;
    // it exits only if that side runs on a daemon thread
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    val child = new ProcessBuilder(javaBin.toString, "-cp",
        System.getProperty("java.class.path"), "graft.ParWedgedSide")
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .start()
    val exited = child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) child.destroyForcibly()
    assert(exited && child.exitValue == 0, "the JVM was held open by a par2 side")
  }
}

/** Main of the JVM-exit case: one side fails, the other never returns
  * and swallows every interrupt. */
object ParWedgedSide {
  def main(args: Array[String]): Unit =
    try Par.par2("wedged")(
      () => { Thread.sleep(200); throw new IllegalStateException("boom") },
      () => while (true) try Thread.sleep(1000) catch { case _: InterruptedException => () })
    catch { case _: IllegalStateException => () }
}

package graft

/** Per-process scratch directories for index/staging artifacts the
  * registered queries write as part of their own semantics (the s16/s17
  * persisted IVF indexes, the s19 IVF-PQ index). Paths are keyed by
  * (name, pid) — stable within a JVM, so repeated sweeps in one session
  * overwrite ONE directory instead of accumulating orphans — and every
  * handed-out path is removed by a JVM shutdown hook, so repeated
  * sweeps across processes don't fill the tmp volume either (the
  * ADVICE r8 leak: tmpdir dirs keyed by pid and never deleted).
  */
object ScratchDirs {

  private val registered = scala.collection.mutable.Set[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    registered.synchronized { registered.foreach(deleteDir) }))

  /** A pid-scoped scratch path under java.io.tmpdir, registered for
    * deletion at JVM exit. Same `name` → same path for this process. */
  def scratch(name: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_scratch/" +
      s"${name}_p${ProcessHandle.current().pid()}"
    registered.synchronized { registered += dir }
    dir
  }

  /** Remove `dir` and everything under it, best-effort (a missing dir
    * or a failed delete is not an error): the one local walk-and-delete
    * for scratch, staging and checkpoint dirs. */
  private[graft] def deleteDir(dir: String): Unit =
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(dir)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.iterator().asScala.toSeq.reverseIterator
          .foreach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}

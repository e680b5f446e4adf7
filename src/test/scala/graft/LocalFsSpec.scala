package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.Sources
import graft.streaming.StreamRunner

/** The `file:` filesystem every engine session runs on
  * (`Sessions.local`): resolved for both Hadoop APIs, equivalent to
  * Hadoop's `RawLocalFileSystem` on the two calls it overrides, and
  * forking no child process for the engine's writes, commits and
  * streaming checkpoints. */
class LocalFsSpec extends SparkSpec {

  private def tmpDir(name: String): NioPath = {
    val d = Paths.get(ScratchDirs.scratch(s"localfs_$name"))
    ScratchDirs.deleteDir(d.toString)
    Files.createDirectories(d)
  }

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Process starts recorded by JFR while `body` runs that have an
    * `org.apache.hadoop` frame on their stack — a child JVM another
    * suite starts at the same time has none. */
  private def hadoopForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("localfs-forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop"))))
        .map(e => e.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("engine sessions resolve file: paths to the in-process filesystem, for FileSystem and FileContext") {
    val dir = tmpDir("resolve")
    val uri = URI.create(s"file:$dir")
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
        spark.sessionState.newHadoopConf())) {
      // Hadoop caches FileSystem instances per scheme and user, not per
      // conf: a stock LocalFileSystem cached before the session set the
      // key would be served here
      assert(new Path(uri).getFileSystem(conf).getClass === classOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(uri, conf).getDefaultFileSystem.getClass ===
        classOf[NioLocalFs])
    }
  }

  test("getFileLinkStatus agrees with RawLocalFileSystem on files, dirs and symlinks; a missing path throws") {
    val dir = tmpDir("link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dl"), dir.resolve("gone"))
    val stock = rawFs(new RawLocalFileSystem)
    val nio = rawFs(new NioRawLocalFileSystem)
    def fields(s: FileStatus) = (s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      if (s.isSymlink) Some(s.getSymlink) else None)
    for (p <- Seq(file, sub, link, dangling)) {
      val hp = new Path(p.toString)
      assert(fields(nio.getFileLinkStatus(hp)) === fields(stock.getFileLinkStatus(hp)), p)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(file.toString)).getLen === 3)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("setPermission sets the same bits as RawLocalFileSystem; a sticky bit takes Hadoop's path") {
    val dir = tmpDir("perm")
    val stock = rawFs(new RawLocalFileSystem)
    val nio = rawFs(new NioRawLocalFileSystem)
    for (mode <- Seq("644", "755", "700", "777"); isDir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val Seq(a, b) = Seq("stock", "nio").map { side =>
        val p = dir.resolve(s"$side-$mode-$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("---------"))
        p
      }
      stock.setPermission(new Path(a.toString), perm)
      nio.setPermission(new Path(b.toString), perm)
      assert(Files.getPosixFilePermissions(b) === Files.getPosixFilePermissions(a))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(b)) ===
        perm.toString)
    }
    // NIO cannot set a sticky bit; the mode carrying it is Hadoop's chmod
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    nio.setPermission(new Path(sticky.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert((Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & 0x3ff) ===
      Integer.parseInt("1777", 8))
  }

  test("engine writes, stream checkpoints and snapshot commits fork no process from Hadoop") {
    import spark.implicits._
    val dir = tmpDir("forks")
    // the recording does see Hadoop's forks: the stock chmod is one
    val stock = rawFs(new RawLocalFileSystem)
    val probe = Files.createFile(dir.resolve("probe"))
    assert(hadoopForks(stock.setPermission(new Path(probe.toString),
      new FsPermission(Integer.parseInt("644", 8).toShort))).nonEmpty)

    val rows = (0 until 200).map(i => (i.toLong, i % 4, s"t$i")).toDF("id", "k", "s")
    val table = dir.resolve("table").toString
    val sink = dir.resolve("sink").toString
    val snap = dir.resolve("snap").toString
    val forks = hadoopForks {
      rows.write.partitionBy("k").mode("overwrite").parquet(table)
      rows.write.partitionBy("k").mode("append").parquet(table)
      StreamRunner.runForeachBatch(spark, rows, "localfs_fork_pin") { b =>
        b.write.mode("append").parquet(sink)
      }
      Sources.snapshotCommit(rows, snap)
      Sources.snapshotCommit(rows, snap)
    }
    assert(forks.isEmpty, s"forks from Hadoop frames: ${forks.distinct.mkString("; ")}")
    assert(spark.read.parquet(table).count() === 400)
    assert(spark.read.parquet(sink).count() === 200)
    assert(Sources.snapshotRead(spark, snap, 2).count() === 400)
    // checksums are still written beside the data
    val crcs = Files.walk(Paths.get(table))
    try assert(crcs.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet.crc")))
    finally crcs.close()
  }

  test("a FileContext rename onto an existing manifest file still fails with FileAlreadyExistsException") {
    val dir = tmpDir("cas")
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(s"file:$dir/manifest/v000000001.parquet")
    val fc = FileContext.getFileContext(dst.toUri, conf)
    def write(p: Path, body: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        org.apache.hadoop.fs.Options.CreateOpts.createParent())
      try out.write(body.getBytes) finally out.close()
    }
    val first = new Path(s"file:$dir/tmp-a")
    val second = new Path(s"file:$dir/tmp-b")
    write(first, "first")
    write(second, "second")
    fc.mkdir(dst.getParent, FsPermission.getDirDefault, true)
    fc.rename(first, dst)
    intercept[FileAlreadyExistsException](fc.rename(second, dst))
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/manifest/v000000001.parquet"))) ===
      "first")
    assert(Files.exists(Paths.get(s"$dir/manifest/.v000000001.parquet.crc")))
  }
}

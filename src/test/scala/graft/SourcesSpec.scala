package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sources

/** CSV/JSON explicit-schema readers + parquet sinks roundtrip. */
class SourcesSpec extends SparkSpec {

  private val tmp = Files.createTempDirectory(
    Paths.get("target"), "sources-spec").toString

  test("csv with explicit schema pins quirky types (no inference pass)") {
    val p = s"$tmp/books.csv"
    Files.writeString(Paths.get(p),
      "book_id,isbn13,original_publication_year\n1,9780439023480,2008\n2,,1999\n")
    val schema = StructType(Seq(
      StructField("book_id", IntegerType),
      StructField("isbn13", DoubleType),          // the reference's inference quirk, pinned
      StructField("original_publication_year", DoubleType)))
    val df = Sources.csv(spark, p, Some(schema))
    assert(df.schema === schema)
    val r = df.orderBy("book_id").collect()
    assert(r(0).getDouble(1) === 9.78043902348e12)
    assert(r(1).isNullAt(1))
  }

  test("json reader handles nested arrays of structs (UCSD shape)") {
    val p = s"$tmp/books.json"
    Files.writeString(Paths.get(p),
      """{"book_id":"1","popular_shelves":[{"count":"3","name":"to-read"}],"similar_books":["2","3"]}""" + "\n")
    val df = Sources.json(spark, p)
    val row = df.head()
    assert(row.getAs[Seq[org.apache.spark.sql.Row]]("popular_shelves").head.getString(1) === "to-read")
    assert(row.getAs[Seq[String]]("similar_books") === Seq("2", "3"))
  }

  test("jsonWithQuarantine splits good rows from malformed lines, loses nothing") {
    import spark.implicits._
    val p = s"$tmp/dirty.json"
    Files.writeString(Paths.get(p),
      """{"id":1,"text":"ok one"}
        |{"id":2 "text":"missing comma"}
        |{"id":3,"text":"ok two"}
        |not json at all
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val (good, bad) = Sources.jsonWithQuarantine(spark, p, schema)
    assert(good.columns.toSeq === Seq("id", "text"))
    assert(good.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    val quarantined = bad.as[String].collect()
    assert(quarantined.length === 2) // every malformed line kept, verbatim
    assert(quarantined.exists(_.contains("missing comma")))
    assert(quarantined.contains("not json at all"))
  }

  test("snapshot table: appends accumulate, overwrite replaces, old versions stay readable") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot")
    val v1 = Sources.snapshotCommit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    val v2 = Sources.snapshotCommit(Seq((3L, "c")).toDF("id", "s"), path)
    val v3 = Sources.snapshotCommit(Seq((9L, "z")).toDF("id", "s"), path,
      overwrite = true)
    assert((v1, v2, v3) == ((1, 2, 3)))
    assert(Sources.snapshotLatestVersion(spark, path) == 3)
    def ids(v: Int) = Sources.snapshotRead(spark, path, v)
      .select("id").as[Long].collect().sorted.toSeq
    // snapshot isolation: v1/v2 unchanged by the later overwrite
    assert(ids(1) == Seq(1L, 2L))
    assert(ids(2) == Seq(1L, 2L, 3L))
    assert(ids(3) == Seq(9L))
    // a fourth append builds on the overwritten set, not the old one
    val v4 = Sources.snapshotCommit(Seq((10L, "y")).toDF("id", "s"), path)
    assert(ids(v4) == Seq(9L, 10L))
    intercept[IllegalArgumentException](Sources.snapshotRead(spark, path, 99))
  }

  test("snapshot vacuum: expired versions fail, surviving reads intact, commits continue") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_vacuum")
    val v1 = Sources.snapshotCommit(Seq((1L, "a")).toDF("id", "s"), path)
    val v2 = Sources.snapshotCommit(Seq((2L, "b")).toDF("id", "s"), path)
    val v3 = Sources.snapshotCommit(Seq((9L, "z")).toDF("id", "s"), path,
      overwrite = true)
    assert(Sources.snapshotVacuum(spark, path, keepFrom = v3) == ((1, 2)))
    // v3 reads byte-identically; expired versions fail loudly
    assert(Sources.snapshotRead(spark, path, v3)
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    intercept[IllegalArgumentException](Sources.snapshotRead(spark, path, v1))
    intercept[IllegalArgumentException](Sources.snapshotRead(spark, path, v2))
    // the unreferenced commit dirs are physically gone; only v3's
    // (uniquely-named) dir remains under data/
    val survivor = spark.read.parquet(s"$path/manifest")
      .filter(col("version") === v3)
      .select("commit").as[String].collect().toSeq
    assert(Fs.listDirNames(spark, s"$path/data").sorted == survivor.sorted)
    // the table stays writable: a post-vacuum append builds on v3
    val v4 = Sources.snapshotCommit(Seq((10L, "y")).toDF("id", "s"), path)
    assert(Sources.snapshotRead(spark, path, v4)
      .as[(Long, String)].collect().toSeq.sorted == Seq((9L, "z"), (10L, "y")))
    // vacuuming away every version is refused
    intercept[IllegalArgumentException](
      Sources.snapshotVacuum(spark, path, keepFrom = v4 + 1))
  }

  test("snapshot zone maps: range reads prune commits, fallbacks never filter") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_stats")
    Fs.deleteRecursive(spark, path)
    // three range-clustered commits with stats + one stats-less commit
    Sources.snapshotCommit(Seq((1L, 10L), (2L, 19L)).toDF("id", "v"), path,
      statsCols = Seq("v"))
    Sources.snapshotCommit(Seq((3L, 20L), (4L, 29L)).toDF("id", "v"), path,
      statsCols = Seq("v"))
    Sources.snapshotCommit(Seq((5L, 30L), (6L, 39L)).toDF("id", "v"), path,
      statsCols = Seq("v"))
    val v4 = Sources.snapshotCommit(Seq((7L, 5L)).toDF("id", "v"), path)
    // probe inside c2's zone: scans c2 plus the stats-less c4
    val (df, scanned, total) =
      Sources.snapshotReadPruned(spark, path, v4, "v", 20, 29)
    assert((scanned, total) == ((2, 4)))
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // probe matching no zone: only the unprunable c4 is scanned, and
    // the predicate still applies (skipping is never a filter)
    val (e, s2, _) = Sources.snapshotReadPruned(spark, path, v4, "v", 1000, 2000)
    assert(s2 == 1 && e.count() == 0)
    // pinned old version: pruning respects the asOf commit set
    val (o, s3, t3) = Sources.snapshotReadPruned(spark, path, 1, "v", 0, 100)
    assert((s3, t3) == ((1, 1)) && o.count() == 2)
    // vacuum deletes the dropped commits' stats rows with the dirs
    val v5 = Sources.snapshotCommit(Seq((8L, 50L)).toDF("id", "v"), path,
      overwrite = true, statsCols = Seq("v"))
    Sources.snapshotVacuum(spark, path, keepFrom = v5)
    val liveStats = spark.read.parquet(s"$path/stats")
      .select("commit").as[String].collect().toSeq
    assert(liveStats.size == 1 && liveStats.head.startsWith("c5-"))
    // every dir pruned: empty result, schema preserved
    val (p5, s5, t5) = Sources.snapshotReadPruned(spark, path, v5, "v", 0, 10)
    assert((s5, t5) == ((0, 1)) && p5.count() == 0)
    assert(p5.columns.toSeq == Seq("id", "v"))
  }

  test("snapshot optimize: one compacted commit, content identical, history intact") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_opt")
    Fs.deleteRecursive(spark, path)
    val v1 = Sources.snapshotCommit(
      Seq((1L, 10L)).toDF("id", "v").repartition(4), path,
      statsCols = Seq("v"))
    Sources.snapshotCommit(
      Seq((2L, 20L)).toDF("id", "v").repartition(4), path,
      statsCols = Seq("v"))
    val v3 = Sources.snapshotOptimize(spark, path, targetFiles = 1,
      statsCols = Seq("v"))
    assert(v3 == 3)
    // content identical, one commit dir, one data file
    assert(Sources.snapshotRead(spark, path, v3)
      .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 10L), (2L, 20L)))
    val commits = spark.read.parquet(s"$path/manifest")
      .filter(col("version") === v3).count()
    assert(commits == 1)
    val v3dir = spark.read.parquet(s"$path/manifest")
      .filter(col("version") === v3)
      .select("commit").as[String].head()
    val files = new java.io.File(s"$path/data/$v3dir").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 1)
    // old versions untouched; compacted stats span the merged zone
    assert(Sources.snapshotRead(spark, path, v1)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L)))
    val (pruned, s1, t1) = Sources.snapshotReadPruned(spark, path, v3,
      "v", 15, 25)
    assert((s1, t1) == ((1, 1)))
    assert(pruned.as[(Long, Long)].collect().toSeq == Seq((2L, 20L)))
  }

  test("clustered optimize: per-cluster commits prune, content identical, empty clusters absent") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_opt_cl")
    Fs.deleteRecursive(spark, path)
    Sources.snapshotCommit(Seq((1L, 10L)).toDF("id", "v"), path,
      statsCols = Seq("v"))
    Sources.snapshotCommit(Seq((2L, 20L), (3L, 30L)).toDF("id", "v"), path,
      statsCols = Seq("v"))
    val v3 = Sources.snapshotOptimizeClustered(spark, path, "v",
      bounds = Seq(15d, 25d), statsCols = Seq("v"))
    assert(v3 == 3)
    // one version, three cluster dirs (one row each band)
    assert(Sources.snapshotCommitDirs(spark, path, v3) == 3)
    assert(Sources.snapshotRead(spark, path, v3)
      .as[(Long, Long)].collect().toSeq.sorted ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // the probe overlapping one band scans 1 of 3; two bands scan 2
    val (r1, s1, t1) = Sources.snapshotReadPruned(spark, path, v3, "v", 15, 25)
    assert((s1, t1) == ((1, 3)))
    assert(r1.as[(Long, Long)].collect().toSeq == Seq((2L, 20L)))
    val (r2, s2, _) = Sources.snapshotReadPruned(spark, path, v3, "v", 5, 22)
    assert(s2 == 2)
    assert(r2.as[(Long, Long)].collect().toSeq.sorted ==
      Seq((1L, 10L), (2L, 20L)))
    // an empty band writes no dir and gets no manifest row
    val v4 = Sources.snapshotOptimizeClustered(spark, path, "v",
      bounds = Seq(15d, 1000d), statsCols = Seq("v"))
    assert(Sources.snapshotCommitDirs(spark, path, v4) == 2)
    assert(Sources.snapshotRead(spark, path, v4).count() == 3)
    // pre-optimize versions still read their own snapshots
    assert(Sources.snapshotRead(spark, path, 1)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L)))
    // vacuum to the clustered version reclaims the superseded dirs
    // and the pruned read still works against the surviving stats
    Sources.snapshotVacuum(spark, path, keepFrom = v4)
    val (r3, s3, t3) = Sources.snapshotReadPruned(spark, path, v4, "v", 15, 25)
    assert((s3, t3) == ((1, 2)))
    // the scanned cluster holds (2,20) and (3,30); the predicate
    // still applies after pruning, so only (2,20) survives
    assert(r3.as[(Long, Long)].collect().toSeq == Seq((2L, 20L)))
  }

  test("auto-compaction trigger: commit-dir count drives optimize, content survives") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_auto_compact")
    Fs.deleteRecursive(spark, path)
    (1 to 5).foreach { i =>
      Sources.snapshotCommit(Seq((i.toLong, i * 10L)).toDF("id", "v"), path)
      val v = Sources.snapshotLatestVersion(spark, path)
      if (Sources.snapshotCommitDirs(spark, path, v) >= 4)
        Sources.snapshotOptimize(spark, path)
    }
    val v = Sources.snapshotLatestVersion(spark, path)
    // 4 appends -> dirs hit 4 -> optimize (v5, 1 dir) -> append 5 (2 dirs)
    assert(v == 6)
    assert(Sources.snapshotCommitDirs(spark, path, v) == 2)
    assert(Sources.snapshotRead(spark, path, v)
      .as[(Long, Long)].collect().toSeq.sorted ==
      (1 to 5).map(i => (i.toLong, i * 10L)))
  }

  test("snapshot merge: update/insert/delete in one commit, pre-merge version intact") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_merge")
    Fs.deleteRecursive(spark, path)
    val v1 = Sources.snapshotCommit(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), path)
    val changes = Seq((2L, 99L, false), (3L, 0L, true), (4L, 40L, false))
      .toDF("id", "v", "del")
    val v2 = Sources.snapshotMerge(spark, path, changes, "id", "del")
    assert(v2 == 2)
    assert(Sources.snapshotRead(spark, path, v2)
      .as[(Long, Long)].collect().toSeq.sorted ==
      Seq((1L, 10L), (2L, 99L), (4L, 40L)))
    // the pre-merge snapshot still reads the original rows
    assert(Sources.snapshotRead(spark, path, v1)
      .as[(Long, Long)].collect().toSeq.sorted ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("snapshot mergeSchema read: evolved commits null-fill both directions") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_evolve")
    Fs.deleteRecursive(spark, path)
    Sources.snapshotCommit(Seq((1L, 10L)).toDF("id", "a"), path)
    val v2 = Sources.snapshotCommit(Seq((2L, 7L)).toDF("id", "b"), path)
    val r = Sources.snapshotRead(spark, path, v2, mergeSchema = true)
    assert(r.columns.toSet == Set("id", "a", "b"))
    val rows = r.select("id", "a", "b")
      .as[(Long, Option[Long], Option[Long])].collect().toSeq.sortBy(_._1)
    assert(rows == Seq((1L, Some(10L), None), (2L, None, Some(7L))))
  }

  test("txn commits: retries no-op per (app, batch), apps are independent, markers survive vacuum") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_txn")
    Fs.deleteRecursive(spark, path)
    val b1 = Seq((1L, 10L)).toDF("id", "v")
    val v1 = Sources.snapshotCommit(b1, path, txn = Some(("a", 1L)))
    assert(v1 == 1)
    // same (app, batch) retries: no new version, content unchanged
    assert(Sources.snapshotCommit(b1, path, txn = Some(("a", 1L))) == 1)
    assert(Sources.snapshotLatestVersion(spark, path) == 1)
    assert(Sources.snapshotRead(spark, path, 1).count() == 1)
    // a different app may reuse the batch id
    val v2 = Sources.snapshotCommit(Seq((2L, 20L)).toDF("id", "v"), path,
      txn = Some(("b", 1L)))
    assert(v2 == 2)
    val v3 = Sources.snapshotCommit(Seq((3L, 30L)).toDF("id", "v"), path,
      txn = Some(("a", 2L)))
    assert(v3 == 3)
    // markers ride the manifest through vacuum: (a,2) still no-ops
    Sources.snapshotVacuum(spark, path, keepFrom = 2)
    assert(Sources.snapshotCommit(Seq((9L, 90L)).toDF("id", "v"), path,
      txn = Some(("a", 2L))) == 3)
    assert(Sources.snapshotRead(spark, path, 3)
      .as[(Long, Long)].collect().toSeq.sorted ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("check constraints: violations reject the whole commit loudly, table untouched, nulls violate") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_check")
    Fs.deleteRecursive(spark, path)
    Sources.snapshotAddConstraint(spark, path, "v_positive", "v > 0")
    assert(Sources.snapshotCommitChecked(
      Seq((1L, 10L)).toDF("id", "v"), path) == 1)
    val e = intercept[IllegalArgumentException] {
      Sources.snapshotCommitChecked(
        Seq((2L, 20L), (3L, -5L), (4L, -6L)).toDF("id", "v"), path)
    }
    assert(e.getMessage.contains("v_positive") && e.getMessage.contains("2 row(s)"))
    // all-or-nothing: nothing from the bad batch landed, no version burned
    assert(Sources.snapshotLatestVersion(spark, path) == 1)
    assert(Sources.snapshotRead(spark, path, 1).count() == 1)
    // a NULL check result is a violation, not a pass
    val n = intercept[IllegalArgumentException] {
      Sources.snapshotCommitChecked(
        Seq((5L, Option.empty[Long])).toDF("id", "v"), path)
    }
    assert(n.getMessage.contains("v_positive"))
    // clean batch commits fine afterwards
    assert(Sources.snapshotCommitChecked(
      Seq((6L, 60L)).toDF("id", "v"), path) == 2)
    // an EMPTY micro-batch passes the check (sum over zero rows is
    // null, coalesced to 0) and commits as a no-op version, not an NPE
    assert(Sources.snapshotCommitChecked(
      Seq.empty[(Long, Long)].toDF("id", "v"), path) == 3)
    // the no-op version carries the prior rows forward, adds none
    assert(Sources.snapshotRead(spark, path, 3)
      .as[(Long, Long)].collect().toSeq.sorted ==
      Sources.snapshotRead(spark, path, 2)
        .as[(Long, Long)].collect().toSeq.sorted)
  }

  test("pre-txn 2-column manifests stay readable: txn commit degrades to not-committed, mixed footers merge") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_legacy_manifest")
    Fs.deleteRecursive(spark, path)
    // hand-build the legacy layout: data/c1 + a manifest whose only
    // columns are (version, commit) — the pre-io21 on-disk format
    Seq((1L, 10L)).toDF("id", "v")
      .write.parquet(s"$path/data/c1")
    Seq((1, "c1")).toDF("version", "commit")
      .coalesce(1).write.parquet(s"$path/manifest")
    assert(Sources.snapshotLatestVersion(spark, path) == 1)
    // a txn commit on the upgraded engine: the app/batch filter is
    // guarded on column presence, so it degrades to "not committed"
    val v2 = Sources.snapshotCommit(
      Seq((2L, 20L)).toDF("id", "v"), path, txn = Some(("app", 7L)))
    assert(v2 == 2)
    // manifest now mixes 2-col and 4-col footers; mergeSchema keeps
    // every read working, and the retry no-ops off the new marker
    assert(Sources.snapshotCommit(
      Seq((2L, 20L)).toDF("id", "v"), path, txn = Some(("app", 7L))) == 2)
    assert(Sources.snapshotRead(spark, path, 2)
      .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 10L), (2L, 20L)))
  }

  test("snapshotRestore: rollback is a NEW audited commit; the bad version stays readable") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_restore")
    Fs.deleteRecursive(spark, path)
    val v1 = Sources.snapshotCommit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    val v2 = Sources.snapshotCommit(Seq((9L, 90L)).toDF("id", "v"), path,
      overwrite = true)
    val v3 = Sources.snapshotRestore(spark, path, v1)
    assert(v3 == 3)
    // restored content ≡ v1, as a new version (history grew, not rewrote)
    assert(Sources.snapshotRead(spark, path, v3)
      .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 10L), (2L, 20L)))
    // the rolled-back version is still readable for forensics
    assert(Sources.snapshotRead(spark, path, v2)
      .as[(Long, Long)].collect().toSeq == Seq((9L, 90L)))
    intercept[IllegalArgumentException](
      Sources.snapshotRestore(spark, path, 99))
  }

  test("snapshotClone: zero-copy, independent evolution, vacuum never deletes borrowed dirs") {
    import spark.implicits._
    val src = ScratchDirs.scratch("t_clone_src")
    val dst = ScratchDirs.scratch("t_clone_dst")
    Fs.deleteRecursive(spark, src); Fs.deleteRecursive(spark, dst)
    Sources.snapshotCommit(Seq((1L, 10L)).toDF("id", "v"), src)
    Sources.snapshotCommit(Seq((2L, 20L)).toDF("id", "v"), src)
    assert(Sources.snapshotClone(spark, src, dst) == 1)
    // ZERO-COPY: the clone has a manifest but no data dir of its own
    assert(!Fs.exists(spark, s"$dst/data"))
    assert(Sources.snapshotRead(spark, dst, 1)
      .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 10L), (2L, 20L)))
    // independent evolution: clone's own OVERWRITE commit, src untouched
    val v2 = Sources.snapshotCommit(Seq((9L, 90L)).toDF("id", "v"), dst,
      overwrite = true)
    assert(Sources.snapshotRead(spark, dst, v2)
      .as[(Long, Long)].collect().toSeq == Seq((9L, 90L)))
    assert(Sources.snapshotRead(spark, src, 2)
      .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 10L), (2L, 20L)))
    // vacuuming the CLONE drops the borrowed entries from its manifest
    // but must never delete the source's dirs
    Sources.snapshotVacuum(spark, dst, keepFrom = v2)
    assert(Sources.snapshotRead(spark, src, 2)
      .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 10L), (2L, 20L)))
    intercept[IllegalArgumentException](
      Sources.snapshotRead(spark, dst, 1))
    // cloning onto an existing table is refused
    intercept[IllegalArgumentException](
      Sources.snapshotClone(spark, src, dst))
  }

  test("snapshot change feed: keyed insert/update/delete diff, unchanged rows silent") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_cdc")
    val v1 = Sources.snapshotCommit(
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "s", "n"), path)
    val v2 = Sources.snapshotCommit(
      Seq((2L, "b", 20), (3L, "C", 30), (4L, "d", 40)).toDF("id", "s", "n"), path,
      overwrite = true)
    val got = Sources.snapshotChanges(spark, path, "id", v1, v2)
      .as[(String, Long, String, Int)].collect().sortBy(_._2)
    // 1 deleted (pre-image), 2 unchanged (silent), 3 updated (post-image), 4 inserted
    assert(got.toSeq == Seq(
      ("delete", 1L, "a", 10), ("update", 3L, "C", 30), ("insert", 4L, "d", 40)))
    // self-diff is empty; reversed diff swaps insert/delete and keeps update
    assert(Sources.snapshotChanges(spark, path, "id", v1, v1).count() == 0)
    val rev = Sources.snapshotChanges(spark, path, "id", v2, v1)
      .as[(String, Long, String, Int)].collect().sortBy(_._2)
    assert(rev.toSeq == Seq(
      ("insert", 1L, "a", 10), ("update", 3L, "c", 30), ("delete", 4L, "d", 40)))
  }

  test("partitioned parquet sink roundtrips and prunes by partition column") {
    import spark.implicits._
    val df = Seq((1, "a", 2001), (2, "b", 2001), (3, "c", 2002))
      .toDF("id", "v", "year")
    val p = s"$tmp/part-out"
    Sources.writeParquet(df, p, partitionBy = Seq("year"))
    val back = Sources.parquet(spark, p)
    assert(back.count() === 3)
    assert(back.filter(col("year") === 2002).select("id").as[Int].collect().toSeq === Seq(3))
    // partition dirs exist → scans of year=2002 never touch year=2001 files
    assert(Files.exists(Paths.get(s"$p/year=2001")))
  }

  test("saveTable registers a catalog relation visible to spark.sql") {
    import spark.implicits._
    Sources.saveTable(Seq((1, "x")).toDF("id", "v"), "sources_spec_t")
    assert(spark.sql("SELECT v FROM sources_spec_t WHERE id = 1").head().getString(0) === "x")
    spark.sql("DROP TABLE sources_spec_t")
  }

  test("zValue interleaves bits; zOrderWrite clusters BOTH dimensions per bucket") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hand value: a=0b101, b=0b011 → z = 0b011011 = 27
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(Sources.zValue($"a", $"b", 3).as("z")).as[Long].head()
    assert(z == 27L)
    // quantize: exact integer floor division
    val qs = Seq((0L, 999L), (500L, 999L), (999L, 999L)).toDF("v", "m")
      .select(Sources.zQuantize($"v", $"m", 8).as("q")).as[Long].collect().toSeq
    assert(qs == Seq(0L, 128L, 255L)) // v*256 div 1000
    // layout: a 64×64 grid of (x, y) keys → per-bucket bounding boxes
    // must be tight in BOTH dims (the data-skipping property a
    // single-column sort cannot give)
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zorder_spec").toString
    Sources.zOrderWrite(grid, "x", "y", dir, bits = 6, bucketBits = 4)
    val boxes = spark.read.parquet(dir)
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n"),
        (max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
      .collect()
    assert(boxes.length == 16)
    boxes.foreach { r =>
      assert(r.getAs[Long]("n") == 256L) // uniform grid → equal buckets
      // each z-prefix bucket covers a 32×8 or 8×32 tile of the 64×64
      // grid: both ranges bounded far below the global 63
      assert(r.getAs[Long]("xr") <= 31 && r.getAs[Long]("yr") <= 31,
        s"bucket ${r.get(0)}: xr=${r.get(2)} yr=${r.get(3)}")
    }
  }

  test("rangeShardWrite: disjoint ascending shard ranges, nothing lost, sorted files") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 0..999 uniform → quartile boundaries at histogram granularity
    val rows = (0L until 1000L).map(v => (v, v)).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("range_spec").toString
    Sources.rangeShardWrite(rows, "v", dir, width = 10, qs = Seq(0.25, 0.5, 0.75))
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000L) // bijection: nothing lost or duplicated
    assert(back.select("id").distinct().count() == 1000L)
    val ranges = back.groupBy("shard")
      .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
      .orderBy("shard")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(ranges.map(_._1) == ranges.indices.map(identity))
    // consecutive shards: strictly increasing, non-overlapping ranges
    ranges.sliding(2).foreach {
      case Seq((_, _, hiA, _), (_, loB, _, _)) => assert(hiA < loB)
      case _ =>
    }
    // ~quartile-sized shards (boundary granularity = bucket width 10)
    ranges.foreach { case (s, _, _, n) =>
      assert(n >= 200 && n <= 300, s"shard $s size $n") }
    // within-file sort: each parquet file's v column is nondecreasing
    val sortedOk = back
      .select(col("shard"), col("v"),
        input_file_name().as("f"))
      .withColumn("prev", lag("v", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f").orderBy(
          monotonically_increasing_id())))
      .filter(col("prev").isNotNull && col("prev") > col("v"))
    assert(sortedOk.isEmpty, "rows out of order within a shard file")
  }

  test("snapshotCommit: an orphaned data dir (crash before manifest publish) never leaks and vacuum reclaims it") {
    import spark.implicits._
    val path = ScratchDirs.scratch("t_snapshot_orphan")
    val v1 = Sources.snapshotCommit(Seq((1L, "a")).toDF("id", "s"), path)
    // simulate a commit that died between data write and manifest
    // publish: an unreferenced uniquely-named dir under data/
    Seq((99L, "junk")).toDF("id", "s")
      .write.parquet(s"$path/data/c2-deadbeef")
    assert(Sources.snapshotLatestVersion(spark, path) == v1)
    // the next commit takes version v1+1 cleanly; no reader ever sees
    // the orphan rows (readers union only manifest-listed dirs)
    val v2 = Sources.snapshotCommit(Seq((2L, "b")).toDF("id", "s"), path)
    assert(v2 == v1 + 1)
    val got = Sources.snapshotRead(spark, path, v2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L), s"orphan rows leaked into v2: $got")
    // vacuum with a zero grace window garbage-collects the orphan;
    // referenced dirs stay
    assert(Files.exists(Paths.get(s"$path/data/c2-deadbeef")))
    Sources.snapshotVacuum(spark, path, keepFrom = 1, orphanGraceMs = 0L)
    assert(!Files.exists(Paths.get(s"$path/data/c2-deadbeef")))
    assert(Sources.snapshotRead(spark, path, v2)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("snapshotCommit: two interleaved committers never lose or double a version (CAS)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = ScratchDirs.scratch("t_snapshot_cas")
    Fs.deleteRecursive(spark, path)
    val perWriter = 6
    // two committers race raw appends with no external coordination;
    // each id set is writer-disjoint so content attributes lost rows
    def run(writer: Int) = Future {
      (1 to perWriter).map { i =>
        Sources.snapshotCommit(
          Seq((writer * 1000L + i, s"w$writer-$i")).toDF("id", "s"), path)
      }
    }
    val (a, b) = (run(1), run(2))
    val versions = Await.result(a, 120.seconds) ++
      Await.result(b, 120.seconds)
    // every version won by exactly one committer, none skipped
    assert(versions.sorted == (1 to 2 * perWriter),
      s"versions lost or doubled: ${versions.sorted}")
    // the final snapshot carries every committed row exactly once
    val ids = Sources.snapshotRead(spark, path, 2 * perWriter)
      .select("id").as[Long].collect().sorted.toSeq
    val expected = ((1 to perWriter).map(1000L + _) ++
      (1 to perWriter).map(2000L + _)).sorted
    assert(ids == expected, s"rows lost or doubled: $ids")
    // each intermediate version is a strict superset chain: version v
    // unions exactly v commit dirs
    (1 to 2 * perWriter).foreach { v =>
      assert(Sources.snapshotCommitDirs(spark, path, v) == v,
        s"version $v lists the wrong commit set")
    }
    // the idempotence contract survives concurrency: replaying a txn
    // marker that a racing twin already committed is a no-op
    val tv = Sources.snapshotCommit(Seq((9L, "t")).toDF("id", "s"), path,
      txn = Some(("app", 1L)))
    assert(Sources.snapshotCommit(Seq((9L, "t")).toDF("id", "s"), path,
      txn = Some(("app", 1L))) == tv)
  }

  test("parquetMergeSchema unions evolved footers and null-fills both directions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evolve_spec").toString
    Sources.writeParquet(Seq((1L, "en")).toDF("id", "lang"), s"$dir/batch=1")
    Sources.writeParquet(Seq((2L, 0.5)).toDF("id", "score"), s"$dir/batch=2")
    val merged = Sources.parquetMergeSchema(spark, dir)
    assert(merged.columns.toSet == Set("id", "lang", "score", "batch"))
    val rows = merged.select("id", "lang", "score")
      .as[(Long, Option[String], Option[Double])].collect().sortBy(_._1)
    assert(rows(0) == ((1L, Some("en"), None)))
    assert(rows(1) == ((2L, None, Some(0.5))))
    // the plain read keeps one footer's schema — the defect mergeSchema fixes
    assert(spark.read.parquet(dir).columns.toSet != merged.columns.toSet)
  }

  test("snapshotChangesCdf: four change types, both update images") {
    import spark.implicits._
    import graft.sources.Sources
    val path = s"$tmp/cdf_table"
    val v1 = Sources.snapshotCommit(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "g", "x"), path)
    val v2 = Sources.snapshotCommit(
      Seq((2L, "a", 25L), (3L, "b", 30L), (4L, "c", 40L))
        .toDF("id", "g", "x"), path, overwrite = true)
    val got = Sources.snapshotChangesCdf(spark, path, "id", v1, v2)
      .as[(String, Long, String, Long)].collect().toSet
    assert(got == Set(
      ("delete", 1L, "a", 10L),
      ("update_preimage", 2L, "a", 20L),
      ("update_postimage", 2L, "a", 25L),
      ("insert", 4L, "c", 40L))) // unchanged id=3 emits nothing
  }

  test("materialized view: build, append fast path, update/delete diff path, zero-count keys leave, no-op refresh") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    val t = s"$tmp/mv_base"
    val mv = s"$tmp/mv_view"
    Sources.snapshotCommit(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "g", "x"), t)
    MaterializedView.build(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), sumCols = Seq("x"))
    def view(): Map[String, (Long, Long)] =
      Sources.snapshotRead(spark, mv,
          Sources.snapshotLatestVersion(spark, mv))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    assert(view() == Map("a" -> ((2L, 30L)), "b" -> ((1L, 30L))))
    // append-only refresh (the fast path: new commit dirs only)
    Sources.snapshotCommit(Seq((4L, "b", 5L), (5L, "c", 7L))
      .toDF("id", "g", "x"), t)
    val mvV2 = MaterializedView.refresh(spark, t, mv)
    assert(view() == Map("a" -> ((2L, 30L)), "b" -> ((2L, 35L)),
      "c" -> ((1L, 7L))))
    // no-op refresh: base unmoved → same MV version back
    assert(MaterializedView.refresh(spark, t, mv) == mvV2)
    // overwrite with an update (id=1 moves mass), a delete of all of
    // "c", and an insert — the CDF diff path; "c" must LEAVE the view
    Sources.snapshotCommit(
      Seq((1L, "a", 100L), (2L, "a", 20L), (3L, "b", 30L),
        (4L, "b", 5L), (6L, "d", 1L)).toDF("id", "g", "x"),
      t, overwrite = true)
    MaterializedView.refresh(spark, t, mv)
    assert(view() == Map("a" -> ((2L, 120L)), "b" -> ((2L, 35L)),
      "d" -> ((1L, 1L))))
    // refreshed view ≡ full rebuild over the final snapshot
    val rebuilt = Sources.snapshotRead(spark, t,
        Sources.snapshotLatestVersion(spark, t))
      .groupBy("g").agg(count(lit(1)).as("mv_count"), sum("x").as("sum_x"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(view() == rebuilt)
    // bookkeeping: the state reflects the base's latest version
    assert(MaterializedView.baseVersion(spark, mv) ==
      Sources.snapshotLatestVersion(spark, t))
  }

  test("min/max MV: deleting the minimum resurfaces the runner-up; untouched groups carried over") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    val t = s"$tmp/mvmm_base"
    val mv = s"$tmp/mvmm_view"
    Sources.snapshotCommit(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
        (4L, "b", 7L), (5L, "b", 9L)).toDF("id", "g", "x"), t)
    MaterializedView.buildMinMax(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), valCol = "x")
    def view(): Map[String, (Long, Long, Long)] =
      Sources.snapshotRead(spark, mv,
          Sources.snapshotLatestVersion(spark, mv))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(view() == Map("a" -> ((3L, 10L, 30L)), "b" -> ((2L, 7L, 9L))))
    // delete a's minimum AND maximum; leave b untouched — the
    // re-aggregation must resurface the runner-ups, and b's row must
    // be carried over, not recomputed from a group the CDF never saw
    Sources.snapshotCommit(
      Seq((2L, "a", 20L), (4L, "b", 7L), (5L, "b", 9L))
        .toDF("id", "g", "x"), t, overwrite = true)
    MaterializedView.refreshMinMax(spark, t, mv)
    assert(view() == Map("a" -> ((1L, 20L, 20L)), "b" -> ((2L, 7L, 9L))))
    // a group whose rows all leave must leave the view
    Sources.snapshotCommit(
      Seq((4L, "b", 7L), (5L, "b", 9L)).toDF("id", "g", "x"),
      t, overwrite = true)
    val v = MaterializedView.refreshMinMax(spark, t, mv)
    assert(view() == Map("b" -> ((2L, 7L, 9L))))
    // base unmoved → no-op
    assert(MaterializedView.refreshMinMax(spark, t, mv) == v)
  }

  test("MV query rewrite: fires on exact match, falls back on staleness, filters, and foreign aggregates") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    import graft.plans.MvRewrite
    val t = s"$tmp/mvrw_base"
    val mv = s"$tmp/mvrw_view"
    Sources.snapshotCommit(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "g", "x"), t)
    MaterializedView.build(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), sumCols = Seq("x"))
    MaterializedView.registerForRewrite(spark, t, mv)
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    def baseScan() = Sources.snapshotRead(spark, t,
      Sources.snapshotLatestVersion(spark, t))
    val q = baseScan().groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sum_x"))
    assert(scansOf(q).forall(_.contains("mvrw_view")) && scansOf(q).nonEmpty)
    assert(q.orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 30L), ("b", 1L, 30L)))
    // a filtered aggregate must NOT use the view
    val qf = baseScan().filter(col("x") > 15).groupBy("g")
      .agg(count(lit(1)).as("n"))
    assert(scansOf(qf).forall(_.contains("mvrw_base")))
    // min() is not materialized — no rewrite
    val qm = baseScan().groupBy("g").agg(min("x").as("mn"))
    assert(scansOf(qm).forall(_.contains("mvrw_base")))
    // staleness is structural: a new base commit changes the scanned
    // dirs, so the same query stops matching AND sees the new row
    Sources.snapshotCommit(Seq((4L, "b", 5L)).toDF("id", "g", "x"), t)
    val q2 = baseScan().groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sum_x"))
    assert(scansOf(q2).forall(_.contains("mvrw_base")))
    assert(q2.orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 30L), ("b", 2L, 35L)))
    // refresh + re-register → the rewrite fires again at the new version
    MaterializedView.refresh(spark, t, mv)
    MaterializedView.registerForRewrite(spark, t, mv)
    val q3 = baseScan().groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sum_x"))
    assert(scansOf(q3).forall(_.contains("mvrw_view")) && scansOf(q3).nonEmpty)
    assert(q3.orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 30L), ("b", 2L, 35L)))
    MvRewrite.clear(spark)

    // ROLLUP: a view keyed finer than the query re-aggregates itself
    val t2 = s"$tmp/mvru_base"
    val mv2 = s"$tmp/mvru_view"
    Sources.snapshotCommit(
      Seq((1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "a", "y", 5L),
        (4L, "b", "x", 7L)).toDF("id", "g", "h", "v"), t2)
    MaterializedView.build(spark, t2, mv2, rowKey = "id",
      keyCols = Seq("g", "h"), sumCols = Seq("v"))
    MaterializedView.registerForRewrite(spark, t2, mv2)
    val ru = Sources.snapshotRead(spark, t2, 1).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
    assert(scansOf(ru).forall(_.contains("mvru_view")) && scansOf(ru).nonEmpty)
    assert(ru.orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 3L, 35L), ("b", 1L, 7L)))
    // a key OUTSIDE the view's set must not rewrite
    val bad = Sources.snapshotRead(spark, t2, 1).groupBy("id")
      .agg(count(lit(1)).as("n"))
    assert(scansOf(bad).forall(_.contains("mvru_base")))
    MvRewrite.clear(spark)
  }

  test("distinct MV: append unions sketches, diff re-aggregates, mv_count stays exact") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    val t = s"$tmp/mvhll_base"
    val mv = s"$tmp/mvhll_view"
    Sources.snapshotCommit(
      Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 20L), (4L, "b", 7L))
        .toDF("id", "g", "x"), t)
    MaterializedView.buildDistinct(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), distinctCol = "x")
    def view(): Map[String, (Long, Long)] =
      Sources.snapshotRead(spark, mv,
          Sources.snapshotLatestVersion(spark, mv))
        .select(col("g"), col("mv_count"),
          hll_sketch_estimate(col("hll_x")).as("est"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    // lgK=12 is exact at these cardinalities — estimates ARE the counts
    assert(view() == Map("a" -> ((3L, 2L)), "b" -> ((1L, 1L))))
    // append-only: per-key sketch union (new value for a, new key c,
    // a REPEATED value for b that must not bump its distinct)
    Sources.snapshotCommit(
      Seq((5L, "a", 30L), (6L, "b", 7L), (7L, "c", 1L))
        .toDF("id", "g", "x"), t)
    val v2 = MaterializedView.refreshDistinct(spark, t, mv)
    assert(view() == Map("a" -> ((4L, 3L)), "b" -> ((2L, 1L)),
      "c" -> ((1L, 1L))))
    // no-op refresh
    assert(MaterializedView.refreshDistinct(spark, t, mv) == v2)
    // overwrite: delete the only row holding a's x=20 (distinct must
    // DROP — no sketch arithmetic does this; the re-agg path must),
    // drop c entirely, leave b untouched (carried over)
    Sources.snapshotCommit(
      Seq((1L, "a", 10L), (2L, "a", 10L), (5L, "a", 30L),
        (4L, "b", 7L), (6L, "b", 7L)).toDF("id", "g", "x"),
      t, overwrite = true)
    MaterializedView.refreshDistinct(spark, t, mv)
    assert(view() == Map("a" -> ((3L, 2L)), "b" -> ((2L, 1L))))
  }

  test("join-aggregate MV: fact appends and diffs fold through the frozen dim; untouched groups exact") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    val t = s"$tmp/mvja_fact"
    val dp = s"$tmp/mvja_dim"
    val mv = s"$tmp/mvja_view"
    // fact (id, k → dim, x); dim maps k to segment
    Sources.snapshotCommit(
      Seq((1L, 10L, 100L), (2L, 10L, 50L), (3L, 20L, 7L))
        .toDF("id", "k", "x"), t)
    val dim = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "seg")
    MaterializedView.buildJoinAgg(spark, t, dim, dp, mv, rowKey = "id",
      joinKey = "k", keyCols = Seq("seg"), sumCols = Seq("x"))
    def view(): Map[String, (Long, Long)] =
      Sources.snapshotRead(spark, mv,
          Sources.snapshotLatestVersion(spark, mv))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    assert(view() == Map("a" -> ((2L, 150L)), "b" -> ((1L, 7L))))
    // append: new rows join the frozen dim (new segment c appears)
    Sources.snapshotCommit(Seq((4L, 30L, 9L), (5L, 10L, 1L))
      .toDF("id", "k", "x"), t)
    val v2 = MaterializedView.refreshJoinAgg(spark, t, mv)
    assert(view() == Map("a" -> ((3L, 151L)), "b" -> ((1L, 7L)),
      "c" -> ((1L, 9L))))
    // no-op refresh
    assert(MaterializedView.refreshJoinAgg(spark, t, mv) == v2)
    // overwrite: delete all of b's mass (group leaves), move id=1 to
    // dim key 20 (mass moves a → b... k changes are fact-side updates)
    Sources.snapshotCommit(
      Seq((1L, 20L, 100L), (2L, 10L, 50L), (5L, 10L, 1L), (4L, 30L, 9L))
        .toDF("id", "k", "x"), t, overwrite = true)
    MaterializedView.refreshJoinAgg(spark, t, mv)
    assert(view() == Map("a" -> ((2L, 51L)), "b" -> ((1L, 100L)),
      "c" -> ((1L, 9L))))
    // refreshed ≡ rebuild over the final snapshot through the dim
    val rebuilt = Sources.snapshotRead(spark, t,
        Sources.snapshotLatestVersion(spark, t))
      .join(dim, "k").groupBy("seg")
      .agg(count(lit(1)).as("mv_count"), sum("x").as("sum_x"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(view() == rebuilt)
  }

  test("MV avg rewrite: sum/cnt division matches native avg incl. nulls; plain views fall back") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    import graft.plans.MvRewrite
    val t = s"$tmp/mvavg_base"
    val mv = s"$tmp/mvavg_view"
    // x has NULLs: avg divides by the NON-null count (2 for a, 1 for b)
    Sources.snapshotCommit(
      Seq((1L, "a", "x", Some(10L)), (2L, "a", "x", None),
        (3L, "a", "y", Some(20L)), (4L, "b", "x", Some(7L)),
        (5L, "b", "y", None)).toDF("id", "g", "h", "v"), t)
    MaterializedView.build(spark, t, mv, rowKey = "id",
      keyCols = Seq("g", "h"), sumCols = Seq("v"), withAvg = true)
    MaterializedView.registerForRewrite(spark, t, mv)
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    def baseScan() = Sources.snapshotRead(spark, t, 1)
    // rollup grouping: avg over merged (g) groups — cnt sums across h
    val q = baseScan().groupBy("g")
      .agg(avg("v").as("avg_v"), count(lit(1)).as("n"))
    assert(scansOf(q).forall(_.contains("mvavg_view")) && scansOf(q).nonEmpty)
    assert(q.orderBy("g").as[(String, Double, Long)].collect().toSeq ==
      Seq(("a", 15.0, 3L), ("b", 7.0, 2L)))
    // exact-key grouping
    val q2 = baseScan().groupBy("g", "h").agg(avg("v").as("avg_v"))
    assert(scansOf(q2).forall(_.contains("mvavg_view")) && scansOf(q2).nonEmpty)
    assert(q2.orderBy("g", "h")
        .as[(String, String, Option[Double])].collect().toSeq ==
      Seq(("a", "x", Some(10.0)), ("a", "y", Some(20.0)),
        ("b", "x", Some(7.0)), ("b", "y", None)))
    MvRewrite.clear(spark)
    // a view built WITHOUT withAvg has no cnt column: avg falls back
    val t2 = s"$tmp/mvavg2_base"
    val mv2 = s"$tmp/mvavg2_view"
    Sources.snapshotCommit(
      Seq((1L, "a", 10L)).toDF("id", "g", "v"), t2)
    MaterializedView.build(spark, t2, mv2, rowKey = "id",
      keyCols = Seq("g"), sumCols = Seq("v"))
    MaterializedView.registerForRewrite(spark, t2, mv2)
    val q3 = Sources.snapshotRead(spark, t2, 1).groupBy("g")
      .agg(avg("v").as("avg_v"))
    assert(scansOf(q3).forall(_.contains("mvavg2_base")))
    MvRewrite.clear(spark)
  }

  test("MV avg rewrite: refreshed all-NULL-measure group (sum_=0, cnt_=0) serves NULL, not an ANSI divide-by-zero") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    import graft.plans.MvRewrite
    val t = s"$tmp/mvavg0_base"
    val mv = s"$tmp/mvavg0_view"
    Sources.snapshotCommit(
      Seq((1L, "a", "x", Some(10L))).toDF("id", "g", "h", "v"), t)
    MaterializedView.build(spark, t, mv, rowKey = "id",
      keyCols = Seq("g", "h"), sumCols = Seq("v"), withAvg = true)
    // the refresh merge coalesces a new group's sum_ to 0 while its
    // non-null cnt_ stays 0 — every (c, *) group is exactly that shape
    Sources.snapshotCommit(
      Seq((2L, "a", "y", Some(20L)), (3L, "c", "x", Option.empty[Long]),
        (4L, "c", "y", Option.empty[Long]))
        .toDF("id", "g", "h", "v"), t, overwrite = false)
    MaterializedView.refresh(spark, t, mv)
    MaterializedView.registerForRewrite(spark, t, mv)
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    val base = Sources.snapshotRead(spark, t,
      Sources.snapshotLatestVersion(spark, t))
    // exact-key rewrite: 0.0/0.0 must come back NULL like native avg
    val q = base.groupBy("g", "h").agg(avg("v").as("avg_v"))
    assert(scansOf(q).forall(_.contains("mvavg0_view")) && scansOf(q).nonEmpty)
    assert(q.orderBy("g", "h")
        .as[(String, String, Option[Double])].collect().toSeq ==
      Seq(("a", "x", Some(10.0)), ("a", "y", Some(20.0)),
        ("c", "x", None), ("c", "y", None)))
    // rollup rewrite (subset grouping): group c's cnt SUMS to 0 across
    // its h slices — sum(0)/sum(0) must also come back NULL
    val qr = base.groupBy("g").agg(avg("v").as("avg_v"))
    assert(scansOf(qr).forall(_.contains("mvavg0_view")) &&
      scansOf(qr).nonEmpty)
    assert(qr.orderBy("g").as[(String, Option[Double])].collect().toSeq ==
      Seq(("a", Some(15.0)), ("c", None)))
    MvRewrite.clear(spark)
  }

  test("MV distinct rewrite: approx_count_distinct needs the opt-in; exact count(DISTINCT) never rewrites") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    import graft.plans.MvRewrite
    val t = s"$tmp/mvadr_base"
    val mv = s"$tmp/mvadr_view"
    Sources.snapshotCommit(
      Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 20L), (4L, "b", 7L))
        .toDF("id", "g", "x"), t)
    MaterializedView.buildDistinct(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), distinctCol = "x")
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    def baseScan() = Sources.snapshotRead(spark, t, 1)
    def approxQ() = baseScan().groupBy("g")
      .agg(approx_count_distinct("x").as("d"), count(lit(1)).as("n"))
    // the ordinary registration does NOT opt in: no rewrite
    MaterializedView.registerForRewrite(spark, t, mv)
    assert(scansOf(approxQ()).forall(_.contains("mvadr_base")))
    MvRewrite.clear(spark)
    // the distinct registration opts in: estimate serves from the view
    MaterializedView.registerDistinctForRewrite(spark, t, mv)
    val q = approxQ()
    assert(scansOf(q).forall(_.contains("mvadr_view")) && scansOf(q).nonEmpty)
    assert(q.orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 3L), ("b", 1L, 1L))) // exact at tiny cardinality
    // rollup to the global row: registers union across keys
    val q2 = baseScan().groupBy().agg(approx_count_distinct("x").as("d"))
    assert(scansOf(q2).forall(_.contains("mvadr_view")) && scansOf(q2).nonEmpty)
    assert(q2.as[Long].collect().toSeq == Seq(3L))
    // EXACT count(DISTINCT) must never serve from a sketch
    val q3 = baseScan().groupBy("g")
      .agg(countDistinct(col("x")).as("d"))
    assert(scansOf(q3).forall(_.contains("mvadr_base")))
    MvRewrite.clear(spark)
  }

  test("MV min/max rewrite: exact + rollup serve from the view; sum/avg on a minmax view fall back") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    import graft.plans.MvRewrite
    val t = s"$tmp/mvmmr_base"
    val mv = s"$tmp/mvmmr_view"
    Sources.snapshotCommit(
      Seq((1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "b", "x", 7L),
        (4L, "b", "y", 30L)).toDF("id", "g", "h", "v"), t)
    MaterializedView.buildMinMax(spark, t, mv, rowKey = "id",
      keyCols = Seq("g", "h"), valCol = "v")
    MaterializedView.registerMinMaxForRewrite(spark, t, mv)
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    def baseScan() = Sources.snapshotRead(spark, t, 1)
    // rollup: min of mins / max of maxes across the finer (g, h) keys
    val q = baseScan().groupBy("g")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("n"))
    assert(scansOf(q).forall(_.contains("mvmmr_view")) && scansOf(q).nonEmpty)
    assert(q.orderBy("g").as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 10L, 20L, 2L), ("b", 7L, 30L, 2L)))
    // exact keys: direct projection of min_/max_
    val q2 = baseScan().groupBy("g", "h").agg(max("v").as("mx"))
    assert(scansOf(q2).forall(_.contains("mvmmr_view")) && scansOf(q2).nonEmpty)
    // sum/avg are NOT materialized on a min/max view: fall back
    val q3 = baseScan().groupBy("g").agg(sum("v").as("s"))
    assert(scansOf(q3).forall(_.contains("mvmmr_base")))
    val q4 = baseScan().groupBy("g").agg(avg("v").as("a"))
    assert(scansOf(q4).forall(_.contains("mvmmr_base")))
    MvRewrite.clear(spark)
  }

  test("TableStats: one-pass ANALYZE records exact counts; broadcastIfSmall picks the join strategy from the artifact") {
    import spark.implicits._
    import graft.sources.{Sources, TableStats}
    val t = s"$tmp/stats_base"
    val sp = s"$tmp/stats_art"
    Sources.snapshotCommit(
      Seq((1L, "a", Some(10L)), (2L, "a", None), (3L, "b", Some(30L)))
        .toDF("id", "g", "x"), t)
    val v = TableStats.analyze(spark, t, sp, Seq("g", "x"))
    assert(v == 1 && TableStats.statsVersion(spark, sp) == 1)
    val st = TableStats.stats(spark, sp)
      .as[(Int, String, Long, Long, Option[String], Option[String], Long)]
      .collect().map(r => r._2 -> r).toMap
    assert(st("g") == ((1, "g", 3L, 0L, Some("a"), Some("b"), 2L)))
    assert(st("x") == ((1, "x", 3L, 1L, Some("10"), Some("30"), 2L)))
    assert(TableStats.rowCount(spark, sp) == 3L)
    // join strategy from the ARTIFACT (auto-broadcast off so the
    // recorded row count is the only signal)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = Seq((1L, 100L), (2L, 200L)).toDF("id", "v")
      val dim = Sources.snapshotRead(spark, t, 1)
      def planOf(maxRows: Long): String =
        fact.join(TableStats.broadcastIfSmall(spark, dim, sp, maxRows), "id")
          .queryExecution.sparkPlan.toString
      assert(planOf(maxRows = 100).contains("BroadcastHashJoin"))
      assert(!planOf(maxRows = 1).contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("MV rewrite registry: match cost is per-Aggregate and linear in live views; dead-dir entries evict at registration") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    import graft.plans.MvRewrite
    MvRewrite.clear(spark)
    val n = 8
    val dirs = (0 until n).map { i =>
      val t = s"$tmp/mvreg_base_$i"
      val mv = s"$tmp/mvreg_view_$i"
      Sources.snapshotCommit(
        Seq((i.toLong, "a", 1L)).toDF("id", "g", "v"), t)
      MaterializedView.build(spark, t, mv, rowKey = "id",
        keyCols = Seq("g"), sumCols = Seq("v"))
      MaterializedView.registerForRewrite(spark, t, mv)
      (t, mv)
    }
    assert(MvRewrite.registered(spark) == n)
    val other = s"$tmp/mvreg_other"
    Sources.snapshotCommit(Seq((1L, "x", 2L)).toDF("id", "g", "v"), other)
    // a non-matching AGGREGATE plan pays at most (optimizer passes ×
    // entries) match attempts — linear in the registry, and bounded
    // per Aggregate node, never per plan node
    val before = MvRewrite.matchAttempts.get()
    Sources.snapshotRead(spark, other, 1)
      .groupBy("g").agg(sum("v").as("s")).collect()
    val attempts = MvRewrite.matchAttempts.get() - before
    assert(attempts >= n && attempts <= 6L * n,
      s"1 aggregate x $n views made $attempts match attempts")
    // a plan with NO aggregate pays ZERO match attempts — N registered
    // views cannot tax scan/filter/join-only queries
    val b2 = MvRewrite.matchAttempts.get()
    Sources.snapshotRead(spark, other, 1)
      .filter(col("g") === "x").collect()
    assert(MvRewrite.matchAttempts.get() == b2,
      "non-aggregate plan must make zero match attempts")
    // dead-dir eviction: drop one registered pair's dirs; the next
    // registration sweeps the corpse out of the registry
    graft.Fs.deleteRecursive(spark, dirs.head._1)
    graft.Fs.deleteRecursive(spark, dirs.head._2)
    MaterializedView.registerForRewrite(spark, dirs(1)._1, dirs(1)._2)
    assert(MvRewrite.registered(spark) == n - 1,
      "registration must evict entries whose dirs are gone")
    MvRewrite.clear(spark)
  }

  test("TableStats: stale artifact withholds the broadcast hint; unsupported NDV types degrade to NULL ndv, not a failed ANALYZE") {
    import spark.implicits._
    import graft.sources.{Sources, TableStats}
    val t = s"$tmp/stats_stale_base"
    val sp = s"$tmp/stats_stale_art"
    Sources.snapshotCommit(Seq((1L, "a"), (2L, "b")).toDF("id", "g"), t)
    TableStats.analyze(spark, t, sp, Seq("g"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = Seq((1L, 100L)).toDF("id", "v")
      def planOf(): String = {
        val dim = Sources.snapshotRead(spark, t,
          Sources.snapshotLatestVersion(spark, t))
        fact.join(TableStats.broadcastIfSmall(spark, dim, sp,
          maxRows = 100, tablePath = Some(t)), "id")
          .queryExecution.sparkPlan.toString
      }
      // fresh artifact, 2 recorded rows ≤ 100 → broadcast
      assert(planOf().contains("BroadcastHashJoin"))
      // the table grows past ANALYZE: the recorded count no longer
      // describes the table, so the hint must be withheld even though
      // the recorded 2 ≤ 100 — a stale "small" can be a live "huge"
      Sources.snapshotCommit(
        spark.range(1000).select(col("id"), lit("z").as("g")), t,
        overwrite = false)
      assert(!planOf().contains("BroadcastHashJoin"))
      // re-ANALYZE restores freshness but now the count exceeds the cap
      TableStats.analyze(spark, t, sp, Seq("g"))
      assert(!planOf().contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // unsupported sketch type: double column gets count/null/min/max
    // but a NULL ndv_est, and the one-pass aggregate still succeeds
    val t2 = s"$tmp/stats_types_base"
    val sp2 = s"$tmp/stats_types_art"
    Sources.snapshotCommit(
      Seq((1L, 1.5, "a"), (2L, 2.5, "a"), (3L, 2.5, "b"))
        .toDF("id", "d", "g"), t2)
    TableStats.analyze(spark, t2, sp2, Seq("d", "g"))
    val st = TableStats.stats(spark, sp2)
      .select("column", "n_rows", "n_nulls", "min_s", "max_s", "ndv_est")
      .as[(String, Long, Long, Option[String], Option[String], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(st("d") == (("d", 3L, 0L, Some("1.5"), Some("2.5"), None)))
    assert(st("g") == (("g", 3L, 0L, Some("a"), Some("b"), Some(2L))))
  }

  test("MV distinct refresh: lgK persisted at build drives refresh (non-default width survives the append-path sketch union)") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    val t = s"$tmp/mvlgk_base"
    val mv = s"$tmp/mvlgk_view"
    Sources.snapshotCommit(
      Seq((1L, "a", "u1"), (2L, "a", "u2"), (3L, "b", "u1"))
        .toDF("id", "g", "u"), t)
    // non-default width: a refresh that fell back to its own default
    // (12) would produce lgConfigK=12 registers that hll_union rejects
    // against the build's 14
    MaterializedView.buildDistinct(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), distinctCol = "u", lgK = 14)
    Sources.snapshotCommit(
      Seq((4L, "a", "u3"), (5L, "b", "u2")).toDF("id", "g", "u"), t,
      overwrite = false)
    MaterializedView.refreshDistinct(spark, t, mv)
    val got = Sources.snapshotRead(spark, mv,
      Sources.snapshotLatestVersion(spark, mv))
      .select(col("g"), col("mv_count"),
        hll_sketch_estimate(col("hll_u")).as("ndv"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 3L, 3L), ("b", 2L, 2L)))
  }

  test("MV distinct refresh: pre-r13 state file without lg_k refreshes at the legacy default width") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    val t = s"$tmp/mvlgk_old_base"
    val mv = s"$tmp/mvlgk_old_view"
    Sources.snapshotCommit(
      Seq((1L, "a", "u1"), (2L, "a", "u2")).toDF("id", "g", "u"), t)
    // build at the legacy default width, then strip lg_k from the
    // persisted state — the exact on-disk shape r12 and earlier wrote
    MaterializedView.buildDistinct(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), distinctCol = "u", lgK = 12)
    val stPath = s"$mv/mv_state"
    val legacy = spark.read.parquet(stPath).drop("lg_k")
    val stage = s"$tmp/mvlgk_old_state_stage"
    legacy.coalesce(1).write.mode("overwrite").parquet(stage)
    graft.Fs.deleteRecursive(spark, stPath)
    spark.read.parquet(stage).coalesce(1)
      .write.mode("overwrite").parquet(stPath)
    // an append refresh must fall back to width 12, not throw on the
    // missing field (old views stay refreshable without a rebuild)
    Sources.snapshotCommit(
      Seq((3L, "a", "u3"), (4L, "b", "u1")).toDF("id", "g", "u"), t,
      overwrite = false)
    MaterializedView.refreshDistinct(spark, t, mv)
    val got = Sources.snapshotRead(spark, mv,
        Sources.snapshotLatestVersion(spark, mv))
      .select(col("g"), col("mv_count"),
        hll_sketch_estimate(col("hll_u")).as("ndv"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 3L, 3L), ("b", 1L, 1L)))
  }

  test("MV distinct refresh: lg_k-less state at a NON-default width recovers the true width from the stored sketch preamble") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    // ADVICE r14: 12 was only the pre-r13 DEFAULT — buildDistinct
    // always took a caller-supplied lgK, so a legacy view built at 14
    // whose refresh assumed 12 would union lgConfigK=12 deltas into
    // lgConfigK=14 registers (a runtime hll_union rejection). The
    // width must come from the persisted registers themselves: the
    // DataSketches serialization carries lgConfigK.
    val t = s"$tmp/mvlgk_old14_base"
    val mv = s"$tmp/mvlgk_old14_view"
    Sources.snapshotCommit(
      Seq((1L, "a", "u1"), (2L, "a", "u2")).toDF("id", "g", "u"), t)
    MaterializedView.buildDistinct(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), distinctCol = "u", lgK = 14)
    val stPath = s"$mv/mv_state"
    val legacy = spark.read.parquet(stPath).drop("lg_k")
    val stage = s"$tmp/mvlgk_old14_state_stage"
    legacy.coalesce(1).write.mode("overwrite").parquet(stage)
    graft.Fs.deleteRecursive(spark, stPath)
    spark.read.parquet(stage).coalesce(1)
      .write.mode("overwrite").parquet(stPath)
    Sources.snapshotCommit(
      Seq((3L, "a", "u3"), (4L, "b", "u1")).toDF("id", "g", "u"), t,
      overwrite = false)
    MaterializedView.refreshDistinct(spark, t, mv)
    val got = Sources.snapshotRead(spark, mv,
        Sources.snapshotLatestVersion(spark, mv))
      .select(col("g"), col("mv_count"),
        hll_sketch_estimate(col("hll_u")).as("ndv"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 3L, 3L), ("b", 1L, 1L)))
    // and the refreshed registers really are width 14: a further
    // lgK=14 union against them must still succeed end-to-end
    Sources.snapshotCommit(
      Seq((5L, "b", "u9")).toDF("id", "g", "u"), t, overwrite = false)
    MaterializedView.refreshDistinct(spark, t, mv)
    val got2 = Sources.snapshotRead(spark, mv,
        Sources.snapshotLatestVersion(spark, mv))
      .select(col("g"), hll_sketch_estimate(col("hll_u")).as("ndv"))
      .as[(String, Long)].collect().toSet
    assert(got2 == Set(("a", 3L), ("b", 2L)))
  }

  test("MV rewrite registry: eviction sweep is gated per session — dir probes amortize to one pass per sweepEvery registrations, and one session's cadence cannot consume another's") {
    import graft.plans.MvRewrite
    MvRewrite.clear(spark)
    (0 until 32).foreach { i =>
      MvRewrite.register(spark, MvRewrite.Entry(
        Set(s"$tmp/mvswp_none_$i"), Seq(s"$tmp/mvswp_none_mv_$i"),
        Seq("g"), Set("v")))
    }
    val delta = MvRewrite.sweepCount(spark)
    // 32 registrations may sweep at most every 8th — the r13 behavior
    // (a full live-dir stat pass on EVERY registration: 32 sweeps,
    // O(N²) filesystem metadata calls) is what this pins against
    assert(delta <= 4, s"32 registrations ran $delta sweeps (cap 4)")
    // per-session cadence (ADVICE r14): a second session registering
    // 7 dead-dir views in the same JVM must NOT inherit the first
    // session's counter — with the r14 process-global sinceSweep, the
    // 32 registrations above would push session 2 straight over the
    // threshold and its dead entries would sweep out immediately; its
    // OWN cadence (7 < sweepEvery=8, size 7 < sweepMinSize=8) says no
    // sweep yet, so all 7 entries must still be registered.
    val spark2 = spark.newSession()
    val session1Count = MvRewrite.registered(spark)
    (0 until 7).foreach { i =>
      MvRewrite.register(spark2, MvRewrite.Entry(
        Set(s"$tmp/mvswp2_none_$i"), Seq(s"$tmp/mvswp2_none_mv_$i"),
        Seq("g"), Set("v")))
    }
    assert(MvRewrite.sweepCount(spark2) == 0,
      "second session must start its own sweep cadence at zero")
    assert(MvRewrite.registered(spark2) == 7,
      "no sweep may fire below the second session's own threshold")
    // and the first session's registry was untouched by session 2
    assert(MvRewrite.registered(spark) == session1Count,
      "registries are per-session")
    MvRewrite.clear(spark2)
    MvRewrite.clear(spark)
  }

  test("MV rewrite registry: concurrent registrations on one session all land (atomic compute merge)") {
    import graft.plans.MvRewrite
    MvRewrite.clear(spark)
    // r13's get->filter->put merge could lose entries under
    // interleaving (two threads read the same list, last put wins);
    // the compute-based merge must keep every distinct entry
    val n = 24
    // entries point at the LIVE tmp dir (distinct by keyCols) so the
    // gated eviction sweep — which may fire mid-test — keeps them all
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        (0 until n / 4).foreach { i =>
          MvRewrite.register(spark, MvRewrite.Entry(
            Set(tmp), Seq(tmp), Seq("g", s"k_${t}_$i"), Set("v")))
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(MvRewrite.registered(spark) == n,
      s"concurrent registrations lost entries: ${MvRewrite.registered(spark)} of $n")
    MvRewrite.clear(spark)
  }

  test("TableStats: timestamp NDV is microsecond-precise — a sub-second burst is not one distinct value") {
    import spark.implicits._
    import graft.sources.{Sources, TableStats}
    val t = s"$tmp/stats_ts_base"
    val sp = s"$tmp/stats_ts_art"
    // 64 timestamps inside ONE second, distinct only at micros: the
    // r13 cast("long") truncated to whole seconds and reported NDV 1
    val rows = (0 until 64).map { i =>
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      ts.setNanos(i * 1000 * 1000 / 64 * 1000)
      (i.toLong, ts)
    }
    Sources.snapshotCommit(rows.toDF("id", "ts"), t)
    TableStats.analyze(spark, t, sp, Seq("ts"))
    val ndv = TableStats.stats(spark, sp)
      .filter(col("column") === "ts")
      .select("ndv_est").as[Option[Long]].head()
    assert(ndv.exists(n => n >= 60 && n <= 68),
      s"sub-second timestamp NDV collapsed: $ndv (want ~64)")
  }

  test("MV filter rewrite: key-only predicates replay on the view; non-key and non-deterministic fall back") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    import graft.plans.MvRewrite
    val t = s"$tmp/mvfr_base"
    val mv = s"$tmp/mvfr_view"
    Sources.snapshotCommit(
      Seq((1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "b", "y", 5L),
        (4L, "b", "x", 7L), (5L, "c", "x", 2L)).toDF("id", "g", "h", "v"), t)
    MaterializedView.build(spark, t, mv, rowKey = "id",
      keyCols = Seq("g", "h"), sumCols = Seq("v"))
    MaterializedView.registerForRewrite(spark, t, mv)
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    def baseScan() = Sources.snapshotRead(spark, t, 1)
    // key-filter + rollup grouping: WHERE g IN (…) GROUP BY h
    val q = baseScan().filter(col("g").isin("a", "b")).groupBy("h")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
    assert(scansOf(q).forall(_.contains("mvfr_view")) && scansOf(q).nonEmpty)
    assert(q.orderBy("h").as[(String, Long, Long)].collect().toSeq ==
      Seq(("x", 2L, 17L), ("y", 2L, 25L)))
    // key-filter + exact-key grouping
    val q2 = baseScan().filter(col("h") === "x").groupBy("g", "h")
      .agg(sum("v").as("sum_v"))
    assert(scansOf(q2).forall(_.contains("mvfr_view")) && scansOf(q2).nonEmpty)
    assert(q2.orderBy("g").as[(String, String, Long)].collect().toSeq ==
      Seq(("a", "x", 10L), ("b", "x", 7L), ("c", "x", 2L)))
    // predicate on a NON-key column: no rewrite
    val q3 = baseScan().filter(col("v") > 5).groupBy("g")
      .agg(count(lit(1)).as("n"))
    assert(scansOf(q3).forall(_.contains("mvfr_base")))
    // non-deterministic predicate: no rewrite (a trivially-true
    // rand() < 2.0 gets optimized away before the rule sees it, so
    // the sampling predicate must actually bite)
    val q4 = baseScan().filter(rand(7) < 0.5).groupBy("g")
      .agg(count(lit(1)).as("n"))
    assert(scansOf(q4).forall(_.contains("mvfr_base")))
    MvRewrite.clear(spark)
  }

  test("MV query rewrite: optimizing a rewritten query launches no Spark job") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    import graft.plans.MvRewrite
    val t = s"$tmp/mvjobs_base"
    val mv = s"$tmp/mvjobs_view"
    Sources.snapshotCommit(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "g", "x"), t)
    MaterializedView.build(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), sumCols = Seq("x"))
    MaterializedView.registerForRewrite(spark, t, mv)
    val q = Sources.snapshotRead(spark, t, 1).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sum_x"))
    // the rule resolves the view's schema from its footers on the driver
    assert(jobsIn(q.queryExecution.optimizedPlan) == 0)
    val scans = q.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains("mvjobs_view")))
    assert(q.orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 30L), ("b", 1L, 30L)))
    MvRewrite.clear(spark)
  }

  test("snapshot-table job counts: view refresh reads each manifest and the state once; a txn commit scans the manifest once") {
    import spark.implicits._
    import graft.sources.{MaterializedView, Sources}
    val t = s"$tmp/jobs_base"
    val mv = s"$tmp/jobs_view"
    def rows(r: (Long, String, Long)*) = r.toDF("id", "g", "x")
    Sources.snapshotCommit(rows((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)), t)
    MaterializedView.build(spark, t, mv, rowKey = "id",
      keyCols = Seq("g"), sumCols = Seq("x"))
    Sources.snapshotCommit(rows((4L, "b", 5L), (5L, "c", 7L)), t)
    val append = jobsIn(MaterializedView.refresh(spark, t, mv))
    Sources.snapshotCommit(rows((1L, "a", 100L), (2L, "a", 20L),
      (3L, "b", 30L), (4L, "b", 5L), (6L, "d", 1L)), t, overwrite = true)
    val diff = jobsIn(MaterializedView.refresh(spark, t, mv))
    val txn = jobsIn(Sources.snapshotCommit(rows((7L, "e", 9L)), t,
      txn = Some(("app", 1L))))
    assert((append, diff, txn) == ((8, 10, 3)))
    assert(Sources.snapshotRead(spark, mv, Sources.snapshotLatestVersion(spark, mv))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap ==
      Map("a" -> ((2L, 120L)), "b" -> ((2L, 35L)), "d" -> ((1L, 1L))))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ml.VectorSearch
import graft.similarity.Similarity
import graft.sources.Sources
import graft.text.Retrieval

/** The engine's reads of its own persisted artifacts: `Fs.readParquet`
  * must be `spark.read.parquet` minus the schema-inference job, and the
  * shared tombstone anti-join must not depend on duplicate deletes. */
class ArtifactReadSpec extends SparkSpec {

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def corpus(n: Int) = spark.range(n).selectExpr("id AS doc_id",
    "concat('w', id, 'a w', id, 'b w', id, 'c shared term', id % 7, " +
      "' word', id % 3, ' w', id, 'd w', id, 'e') AS text")

  private def embeddings =
    Tables.embeddings(spark, sf).select("vec_id", "embedding")

  private val cents = Similarity.hyperplanes(dim = 64, nBits = 8, seed = 1L)

  /** One tombstoned index of each kind plus a snapshot table whose
    * manifest mixes a legacy 2-column file with 4-column ones. Each
    * index gets an append, so its artifacts span several files. */
  private lazy val root: String = {
    import spark.implicits._
    val r = ScratchDirs.scratch("t_artifact_read")
    Fs.deleteRecursive(spark, r)
    val docs = corpus(40)
    val (base, batch) = (docs.filter($"doc_id" < 30), docs.filter($"doc_id" >= 30))
    val dead = docs.filter($"doc_id" % 4 === 0)
    Retrieval.writePostingsIndex(base, "doc_id", "text", s"$r/bm25")
    Retrieval.appendToPostingsIndex(batch, "doc_id", "text", s"$r/bm25")
    Retrieval.tombstonePostingsIndex(dead, "doc_id", s"$r/bm25")
    Dedup.writeMinhashIndex(base, "doc_id", "text", n = 3, numHashes = 16,
      bands = 4, s"$r/minhash")
    Dedup.ingestAgainstMinhashIndex(batch, "doc_id", "text", s"$r/minhash",
      n = 3, numHashes = 16, bands = 4, minJaccard = 0.5).count()
    Dedup.tombstoneMinhashIndex(dead, "doc_id", s"$r/minhash")
    Dedup.writeHashIndex(base, "doc_id", "text", s"$r/hash")
    Dedup.ingestAgainstHashIndex(batch, "doc_id", "text", s"$r/hash").count()
    Dedup.tombstoneHashIndex(dead, "text", s"$r/hash")
    val emb = embeddings
    VectorSearch.writeIvfIndex(
      Similarity.assignFixed(emb.filter($"vec_id" % 2 === 0), cents),
      "cluster", cents.zipWithIndex.map(_.swap), s"$r/ivf")
    VectorSearch.appendToIvfIndex(emb.filter($"vec_id" % 2 === 1), s"$r/ivf")
    VectorSearch.tombstoneIvfIndex(
      emb.filter($"vec_id" % 3 === 0).select("vec_id"), "vec_id", s"$r/ivf")
    Seq((1L, 10L)).toDF("id", "v").write.parquet(s"$r/snap/data/c1")
    Seq((1, "c1")).toDF("version", "commit")
      .coalesce(1).write.parquet(s"$r/snap/manifest")
    Sources.snapshotCommit(Seq((2L, 20L)).toDF("id", "v"), s"$r/snap")
    Sources.snapshotCommit(Seq((3L, 30L)).toDF("id", "v"), s"$r/snap",
      txn = Some(("app", 1L)))
    r
  }

  /** artifact → the partition column its directory layout carries */
  private val artifacts = Seq(
    "bm25/postings" -> Some("tp"), "bm25/doclens" -> None,
    "bm25/tombstones" -> None,
    "minhash/signatures" -> None, "minhash/bands" -> Some("band"),
    "minhash/tombstones" -> None,
    "hash/hashes" -> Some("hp"), "hash/tombstones" -> None,
    "ivf/assignments" -> Some("cluster"), "ivf/centroids" -> None,
    "ivf/tombstones" -> None)

  test("Fs.readParquet equals spark.read.parquet on every persisted artifact kind") {
    artifacts.foreach { case (a, part) =>
      val p = s"$root/$a"
      val mine = Fs.readParquet(spark, p)
      val spark0 = spark.read.parquet(p)
      assert(mine.schema == spark0.schema, s"$a: schema")
      assert(rowsOf(mine) == rowsOf(spark0), s"$a: rows")
      assert(part.forall(mine.columns.last == _), s"$a: partition column")
    }
    // legacy 2-column + 4-column manifest footers: merge mode resolves
    // the union, the plain mode the first footer, both as Spark does
    val m = s"$root/snap/manifest"
    val merged = Fs.readParquet(spark, Seq(m), mergeSchema = true)
    val spark0 = spark.read.option("mergeSchema", "true").parquet(m)
    assert(merged.columns.toSeq == Seq("version", "commit", "app", "batch"))
    assert(merged.schema == spark0.schema)
    assert(rowsOf(merged) == rowsOf(spark0))
    assert(Fs.readParquet(spark, m).schema == spark.read.parquet(m).schema)
    // several commit dirs in one read
    val dirs = Fs.listDirNames(spark, s"$root/snap/data").sorted
      .map(d => s"$root/snap/data/$d")
    assert(dirs.size == 3)
    assert(rowsOf(Fs.readParquet(spark, dirs)) ==
      rowsOf(spark.read.parquet(dirs: _*)))
  }

  test("Fs.readParquet resolves every artifact's schema without a Spark job") {
    val r = root
    val m = s"$r/snap/manifest"
    assert(jobsIn {
      artifacts.foreach { case (a, _) => Fs.readParquet(spark, s"$r/$a") }
      Fs.readParquet(spark, Seq(m), mergeSchema = true)
    } == 0)
    // the listener does see Spark's own inference job
    assert(jobsIn(spark.read.parquet(s"$r/ivf/centroids")) > 0)
  }

  test("Fs.readParquet fails exactly as spark.read.parquet on a dir with no data file") {
    val empty = ScratchDirs.scratch("t_artifact_read_empty")
    Fs.deleteRecursive(spark, empty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    Seq(empty, s"$empty-missing").foreach { p =>
      val theirs = intercept[Exception](spark.read.parquet(p))
      val mine = intercept[Exception](Fs.readParquet(spark, p))
      assert(mine.getClass == theirs.getClass, p)
      assert(mine.getMessage == theirs.getMessage, p)
    }
  }

  test("a tombstoned index's live rows take at most 2 Spark jobs: no inference job, no distinct") {
    val r = root
    Seq[() => Unit](
      () => Retrieval.liveDoclens(spark, s"$r/bm25").collect(),
      () => VectorSearch.readLiveIvfAssignments(spark, s"$r/ivf").collect()
    ).foreach { read =>
      val n = jobsIn(read())
      assert(n > 0 && n <= 2, s"live read ran $n jobs")
    }
  }

  /** Two identical indexes; the same deletes land once in the first
    * and twice in the second. Serving before and after compaction, and
    * the compacted artifacts, must not tell them apart. */
  private def duplicateDeletesAreInert(name: String, artifactsOf: Seq[String])(
      build: String => Unit)(delete: String => Unit)(
      serve: String => Seq[String])(compact: String => Unit): Unit = {
    val once = ScratchDirs.scratch(s"t_dup_tomb_${name}_once")
    val twice = ScratchDirs.scratch(s"t_dup_tomb_${name}_twice")
    Seq(once, twice).foreach { p =>
      Fs.deleteRecursive(spark, p); build(p); delete(p)
    }
    delete(twice)
    val ts = Seq(once, twice).map(p => rowsOf(Fs.readParquet(spark, s"$p/tombstones")))
    assert(ts(0).nonEmpty && ts(1) == (ts(0) ++ ts(0)).sorted, s"$name: tombstones")
    assert(serve(once) == serve(twice), s"$name: tombstoned serve")
    Seq(once, twice).foreach(compact)
    artifactsOf.foreach { a =>
      assert(rowsOf(Fs.readParquet(spark, s"$once/$a")) ==
        rowsOf(Fs.readParquet(spark, s"$twice/$a")), s"$name: compacted $a")
    }
    assert(serve(once) == serve(twice), s"$name: compacted serve")
  }

  test("a rebuild at a used path drops the old index's tombstones: a deleted id rebuilt in is served") {
    import spark.implicits._
    val docs = corpus(40)
    val x = docs.filter($"doc_id" === 5)
    val emb = embeddings
    val v = emb.select(min("vec_id")).head().get(0)
    /** Build at a fresh path, tombstone, build again at the same path;
      * the name when `served` does not hold of the rebuilt index. */
    def hidden(name: String)(build: String => Unit)(delete: String => Unit)(
        served: String => Boolean): Option[String] = {
      val p = ScratchDirs.scratch(s"t_rebuild_tomb_$name")
      Fs.deleteRecursive(spark, p); build(p); delete(p); build(p)
      if (served(p)) None else Some(name)
    }
    val wrong = Seq(
      hidden("bm25")(Retrieval.writePostingsIndex(docs, "doc_id", "text", _))(
        Retrieval.tombstonePostingsIndex(x, "doc_id", _))(p =>
        Retrieval.liveDoclens(spark, p).filter($"doc_id" === 5).count() == 1),
      hidden("hash")(Dedup.writeHashIndex(docs, "doc_id", "text", _))(
        Dedup.tombstoneHashIndex(x, "text", _))(p =>
        Dedup.liveHashIndex(spark, p).filter($"first_id" === 5).count() == 1),
      // a copy of x under a new id is rejected only while x is live
      hidden("minhash")(Dedup.writeMinhashIndex(docs, "doc_id", "text", n = 3,
        numHashes = 16, bands = 4, _))(Dedup.tombstoneMinhashIndex(x, "doc_id", _))(p =>
        Dedup.ingestAgainstLiveMinhashIndex(x.withColumn("doc_id", $"doc_id" + 1000),
          "doc_id", "text", p, n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
          .count() == 0),
      hidden("ivf")(p => VectorSearch.writeIvfIndex(Similarity.assignFixed(emb, cents),
        "cluster", cents.zipWithIndex.map(_.swap), p))(VectorSearch.tombstoneIvfIndex(
        emb.filter($"vec_id" === v).select("vec_id"), "vec_id", _))(p =>
        VectorSearch.readLiveIvfAssignments(spark, p)
          .filter($"neighbor_id" === v).count() == 1)
    ).flatten
    assert(wrong.isEmpty, s"rebuilt id still tombstoned: ${wrong.mkString(", ")}")
  }

  test("tombstoning the same ids twice serves and compacts like tombstoning them once") {
    import spark.implicits._
    val docs = corpus(40)
    val dead = docs.filter($"doc_id" % 3 === 0)
    val feed = docs.withColumn("doc_id", $"doc_id" + 1000)
    val qs = Seq((900L, "shared term1 word2"), (901L, "w3a w3b term4"))
      .toDF("query_id", "qtext")
    duplicateDeletesAreInert("bm25", Seq("postings", "doclens"))(
      Retrieval.writePostingsIndex(docs, "doc_id", "text", _))(
      Retrieval.tombstonePostingsIndex(dead, "doc_id", _))(p =>
      rowsOf(Retrieval.bm25TopKFromIndex(spark, p, qs, "query_id", "qtext",
        k = 5)) ++ rowsOf(Retrieval.liveDoclens(spark, p)))(
      Retrieval.compactPostingsIndex(spark, _))
    duplicateDeletesAreInert("minhash", Seq("signatures", "bands"))(
      Dedup.writeMinhashIndex(docs, "doc_id", "text", n = 3, numHashes = 16,
        bands = 4, _))(
      Dedup.tombstoneMinhashIndex(dead, "doc_id", _))(p =>
      rowsOf(Dedup.ingestAgainstLiveMinhashIndex(feed, "doc_id", "text", p,
        n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)))(
      Dedup.compactMinhashIndex(spark, _))
    duplicateDeletesAreInert("hash", Seq("hashes"))(
      Dedup.writeHashIndex(docs, "doc_id", "text", _))(
      Dedup.tombstoneHashIndex(dead, "text", _))(p =>
      rowsOf(Dedup.liveHashIndex(spark, p)) ++
        rowsOf(Dedup.ingestAgainstLiveHashIndex(feed, "doc_id", "text", p)))(
      Dedup.compactHashIndex(spark, _))
    val emb = embeddings
    val queries = emb.filter($"vec_id" < 10)
    duplicateDeletesAreInert("ivf", Seq("assignments"))(p =>
      VectorSearch.writeIvfIndex(Similarity.assignFixed(emb, cents),
        "cluster", cents.zipWithIndex.map(_.swap), p))(
      VectorSearch.tombstoneIvfIndex(
        emb.filter($"vec_id" % 3 === 0).select("vec_id"), "vec_id", _))(p =>
      rowsOf(Similarity.ivfServe(queries,
        VectorSearch.readLiveIvfAssignments(spark, p), cents, k = 5,
        nprobe = 3)))(
      VectorSearch.compactIvfIndex(spark, _))
  }
}

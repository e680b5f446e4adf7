package graft.perfbench

import graft.{Caches, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.graph.PropertyGraph
import graft.ml.VectorSearch
import graft.similarity.Similarity
import graft.sources.Sources
import graft.streaming.{EventStreams, StreamRunner}
import graft.text.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one operation did: the kind decides which latency samples it
  * joins (`query`, `write` and `serve` are operations proper; `serve`
  * also feeds the ingest serve figures), and `error` is set when it
  * failed or its output was wrong. */
final case class Outcome(kind: String = "query", error: Option[String] = None)

/** An operation of a workload pass. */
final case class Op(name: String, run: () => Outcome)

/** A workload: what set-up stages, and the operations of pass `pass` in
  * the order the seed gives them. */
trait Workload {
  def stage(): Unit = ()
  def pass(pass: Int): Seq[Op]
  /** Figures only this workload has, from its whole run. */
  def extra(): Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("graph_iterative", "ingest_serve")

  /** Driver-loop graph queries and the `IterativeGraph` function each
    * one's build runs (the build is eager: it runs the supersteps). */
  val graphQueries: Seq[(String, String)] = Seq(
    "g10_pagerank_fixed" -> "pageRankFixed",
    "g28_node2vec_walks" -> "node2vecWalks",
    "g33_sssp_weighted" -> "ssspWeighted")

  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)
}

/** Runs one named query of `SparkEntry.queries`: build (the query
  * function returning its DataFrame), then the terminal action (the
  * fingerprint collect), checked against the reference fingerprint. */
final class QueryOps(ctx: Ctx) {
  def op(name: String, layerCall: Option[String] = None): Op = Op(name, () => {
    val fn = SparkEntry.queries(name)
    val df = ctx.timed("queries.build") {
      layerCall.fold(fn(ctx.spark, ctx.dataDir))(c => ctx.timed(c)(fn(ctx.spark, ctx.dataDir)))
    }
    val fp = ctx.timed("queries.action")(Fingerprint.of(df))
    ctx.recorded.put(name, fp)
    ctx.reference.get(name) match {
      case _ if ctx.recordOnly => Outcome()
      case Some(want) if want == fp => Outcome()
      case Some(want) => Outcome(error = Some(s"fingerprint $fp != reference $want"))
      case None => Outcome(error = Some("no reference fingerprint"))
    }
  })
}

final class GraphIterative(ctx: Ctx) extends Workload {
  private val q = new QueryOps(ctx)
  def pass(pass: Int): Seq[Op] = {
    // the shared customer-part graph is built once per session (Memo)
    // by whichever query comes first; building it up front charges that
    // cost to its own layer call instead
    val graph = Op("customerPartGraph", () => {
      ctx.timed("graph.customerPartGraph") {
        PropertyGraph.customerPartGraph(ctx.spark, ctx.dataDir).edges.count()
      }
      Outcome(kind = "graph")
    })
    graph +: Workloads.shuffled(Workloads.graphQueries, ctx.seed, pass)
      .map { case (name, fn) => q.op(name, Some(s"graph.$fn")) }
  }
}

/** Writes beside reads on the persisted BM25 postings, MinHash and IVF
  * indexes, then a snapshot-table round and two streaming ingests.
  * Documents are staged as text bytes plus an 8-byte id, embeddings as
  * 64 floats plus an id, lineitem rows at [[IngestServe.SnapRowBytes]];
  * those are the input bytes of `index_bytes_per_input_byte`. Each
  * pass builds fresh indexes under its own directory. The seed chooses
  * the base split, the appended batch, the tombstoned ids and the
  * lineitem batches; the data itself is fixed. */
final class IngestServe(ctx: Ctx) extends Workload {
  import IngestServe._
  private val spark = ctx.spark
  import spark.implicits._
  private val seed = ctx.seed
  private def bucket(c: String, salt: Int, n: Int) =
    pmod(xxhash64(col(c), lit(seed), lit(salt)), lit(n.toLong))

  private var baseDocs, batchDocs, tombDocs: DataFrame = _
  private var baseEmb, batchEmb, tombEmb: DataFrame = _
  private var bm25Queries, vecQueries: DataFrame = _
  private var snapA, snapChanges: DataFrame = _
  private var sessionEvents: DataFrame = _
  private var nBase, nBatch, nTomb, nBaseEmb, nBatchEmb, nTombEmb = 0L
  private var nSnapA, nSnapDeleted, nSessionEvents, nBm25Queries = 0L
  private var inputBytes = 0L

  // run-wide tallies for the ingest figures
  private var writeSeconds = 0.0
  private var writeRows = 0L
  private var indexBytes = 0L
  private var indexFiles = 0L

  override def stage(): Unit = {
    val docs = Tables.documents(spark, ctx.dataDir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, ctx.dataDir).select("vec_id", "embedding")
    // documents: 70% base, 15% appended; 10% of the base is
    // tombstoned. Embeddings: 80% base, 20% appended.
    val d = docs.withColumn("b", bucket("doc_id", 1, 20))
      .withColumn("t", bucket("doc_id", 2, 10) === 0).localCheckpoint()
    baseDocs = d.filter(col("b") < 14).select("doc_id", "text")
    batchDocs = d.filter(col("b").between(14, 16)).select("doc_id", "text").coalesce(1)
    tombDocs = d.filter(col("b") < 14 && col("t")).select("doc_id")
    val dc = d.filter(col("b") <= 16).groupBy(when(col("b") < 14, 0).otherwise(1).as("s"))
      .agg(count(lit(1)), sum(when(col("t"), 1).otherwise(0)), sum(length(col("text")) + 8))
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    nBase = dc(0)._2; nBatch = dc(1)._2; nTomb = dc(0)._3
    val e = emb.withColumn("b", bucket("vec_id", 3, 5))
      .withColumn("t", bucket("vec_id", 4, 10) === 0).localCheckpoint()
    baseEmb = e.filter(col("b") < 4).select("vec_id", "embedding")
    batchEmb = e.filter(col("b") === 4).select("vec_id", "embedding")
    tombEmb = e.filter(col("b") < 4 && col("t")).select("vec_id")
    val ec = e.groupBy(col("b") < 4).agg(count(lit(1)), sum(when(col("t"), 1).otherwise(0)))
      .as[(Boolean, Long, Long)].collect().map(r => r._1 -> r).toMap
    nBaseEmb = ec(true)._2; nBatchEmb = ec(false)._2; nTombEmb = ec(true)._3
    bm25Queries = docs.filter(bucket("doc_id", 5, 50) === 0).orderBy("doc_id").limit(8)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("qtext")).localCheckpoint()
    nBm25Queries = bm25Queries.count()
    vecQueries = emb.filter(bucket("vec_id", 6, 25) === 0).orderBy("vec_id").limit(12)
      .localCheckpoint()
    // a lineitem batch keyed by a row hash; the change set updates half
    // of its rows and deletes the other half
    snapA = Tables.lineitem(spark, ctx.dataDir)
      .withColumn("lk", xxhash64(col("l_orderkey"), col("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_shipdate")))
      .filter(bucket("lk", 7, 50) === 0).dropDuplicates("lk")
      .select("lk", "l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
      .localCheckpoint()
    snapChanges = snapA.withColumn("del", bucket("lk", 8, 2) === 0)
      .withColumn("l_quantity", col("l_quantity") + 1).localCheckpoint()
    val sc = snapChanges.agg(count(lit(1)), sum(when(col("del"), 1).otherwise(0)))
      .as[(Long, Long)].head()
    nSnapA = sc._1; nSnapDeleted = sc._2
    val sentinel = Seq((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L,
      "sentinel", 0.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    sessionEvents = Tables.events(spark, ctx.dataDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .filter(bucket("user_id", 9, 10) === 0).unionByName(sentinel).localCheckpoint()
    nSessionEvents = sessionEvents.count() - 1
    inputBytes = dc.values.map(_._4).sum + (nBaseEmb + nBatchEmb) * (64L * 4 + 8) +
      nSnapA * SnapRowBytes
  }

  private def write(name: String, layer: String, rows: => Long)(body: => Unit): Op =
    Op(name, () => {
      val t0 = System.nanoTime()
      ctx.timed(layer)(body)
      writeSeconds += (System.nanoTime() - t0) / 1e9
      val n = rows
      writeRows += n
      Outcome(kind = "write")
    })

  private def serve(name: String, layer: String)(body: => Array[org.apache.spark.sql.Row])
      (check: Array[org.apache.spark.sql.Row] => Option[String]): Op =
    Op(name, () => {
      val rows = ctx.timed(layer)(body)
      Outcome(kind = "serve", error = check(rows))
    })

  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: $got rows, expected $want")

  def pass(pass: Int): Seq[Op] = {
    val root = s"${ctx.workDir}/ingest/p$pass"
    val bm25 = s"$root/bm25"; val mh = s"$root/minhash"; val ivf = s"$root/ivf"
    val snap = s"$root/snapshot"
    val cents = Similarity.hyperplanes(dim = 64, nBits = IvfLists, seed = 7L)
    var ivfBefore = ""
    var admitted = 0L
    def bm25Serve() = Retrieval.bm25TopKFromIndex(spark, bm25, bm25Queries,
      "query_id", "qtext", k = 10).collect()
    def ivfServe() = Similarity.ivfServe(vecQueries,
      VectorSearch.readLiveIvfAssignments(spark, ivf), cents, k = 5,
      nprobe = IvfProbes).collect()
    val liveDocs = nBase + nBatch - nTomb
    Seq(
      write("bm25_write", "text.writePostingsIndex", nBase)(
        Retrieval.writePostingsIndex(baseDocs, "doc_id", "text", bm25)),
      write("minhash_write", "dedup.writeMinhashIndex", nBase)(
        Dedup.writeMinhashIndex(baseDocs, "doc_id", "text", n = 3,
          numHashes = MhHashes, bands = MhBands, mh)),
      write("ivf_write", "ml.writeIvfIndex", nBaseEmb)(
        VectorSearch.writeIvfIndex(Similarity.assignFixed(baseEmb, cents),
          "cluster", cents.zipWithIndex.map(_.swap), ivf)),
      // the sw21 shape: the batch reaches the postings index through a
      // streaming foreachBatch sink
      write("bm25_stream_append", "streaming.runForeachBatch", nBatch)(
        StreamRunner.runForeachBatch(spark, batchDocs, s"pb_postings_p$pass") { b =>
          ctx.timed("text.appendToPostingsIndex")(
            Retrieval.appendToPostingsIndex(b, "doc_id", "text", bm25))
        }),
      write("minhash_admit", "dedup.ingestAgainstLiveMinhashIndex", nBatch) {
        admitted = Dedup.ingestAgainstLiveMinhashIndex(batchDocs, "doc_id", "text",
          path = mh, n = 3, numHashes = MhHashes, bands = MhBands, minJaccard = 0.5).count()
      },
      write("ivf_append", "ml.appendToIvfIndex", nBatchEmb)(
        VectorSearch.appendToIvfIndex(batchEmb, ivf)),
      write("bm25_tombstone", "text.tombstonePostingsIndex", nTomb)(
        Retrieval.tombstonePostingsIndex(tombDocs, "doc_id", bm25)),
      write("minhash_tombstone", "dedup.tombstoneMinhashIndex", nTomb)(
        Dedup.tombstoneMinhashIndex(tombDocs, "doc_id", mh)),
      write("ivf_tombstone", "ml.tombstoneIvfIndex", nTombEmb)(
        VectorSearch.tombstoneIvfIndex(tombEmb, "vec_id", ivf)),
      serve("bm25_live_rows", "text.liveDoclens")(
        Retrieval.liveDoclens(spark, bm25).collect())(r =>
        expect("live postings docs", r.length, liveDocs)),
      serve("ivf_live_rows", "ml.readLiveIvfAssignments")(
        VectorSearch.readLiveIvfAssignments(spark, ivf).select("neighbor_id").collect())(r =>
        expect("live IVF vectors", r.length, nBaseEmb + nBatchEmb - nTombEmb)),
      serve("ivf_serve", "ml.ivfServe")(ivfServe()) { r =>
        ivfBefore = Fingerprint.of(r); None },
      write("bm25_compact", "text.compactPostingsIndex", nTomb)(
        Retrieval.compactPostingsIndex(spark, bm25)),
      write("minhash_compact", "dedup.compactMinhashIndex", nTomb)(
        Dedup.compactMinhashIndex(spark, mh)),
      write("ivf_compact", "ml.compactIvfIndex", nTombEmb)(
        VectorSearch.compactIvfIndex(spark, ivf)),
      serve("minhash_live_rows", "dedup.readMinhashSignatures")(
        Dedup.readMinhashSignatures(spark, mh).select("id").collect())(r =>
        expect("MinHash signatures", r.length, nBase - nTomb + admitted)),
      // every staged query gets its k hits
      serve("bm25_serve", "text.bm25TopKFromIndex")(bm25Serve())(r =>
        expect("BM25 top-k rows", r.length, nBm25Queries * 10).orElse(
          expect("BM25 queries answered", r.map(_.getAs[Long]("query_id")).distinct.length,
            nBm25Queries))),
      serve("ivf_serve_compacted", "ml.ivfServe")(ivfServe())(r =>
        Some(Fingerprint.of(r)).filter(_ != ivfBefore)
          .map(fp => s"IVF serve after compaction $fp != before $ivfBefore")),
      write("snapshot_commit", "sources.snapshotCommit", nSnapA)(
        Sources.snapshotCommit(snapA, snap)),
      write("snapshot_merge", "sources.snapshotMerge", nSnapA)(
        Sources.snapshotMerge(spark, snap, snapChanges, "lk", "del")),
      write("snapshot_optimize", "sources.snapshotOptimize", 0L)(
        Sources.snapshotOptimize(spark, snap)),
      serve("snapshot_read", "sources.snapshotRead")(
        Sources.snapshotRead(spark, snap, Sources.snapshotLatestVersion(spark, snap))
          .select("lk").collect())(r =>
        expect("snapshot rows", r.length, nSnapA - nSnapDeleted)),
      Op("stream_sessionize", () => {
        val t0 = System.nanoTime()
        val res = ctx.timed("streaming.runAvailableNowOrdered") {
          StreamRunner.runAvailableNowOrdered(spark, sessionEvents,
            s"pb_sessions_p$pass", "append", "ts", files = 2) { src =>
            EventStreams.sessionizeWithState(src.as[EventStreams.Event],
              gapMs = 30L * 60 * 1000).toDF()
          }.filter(col("user_id") >= 0).select(sum("n_events")).as[Long].collect()
        }
        writeSeconds += (System.nanoTime() - t0) / 1e9
        writeRows += nSessionEvents
        Outcome(kind = "write", error = expect("sessionized events", res.headOption.getOrElse(0L), nSessionEvents))
      }),
      Op("index_size", () => {
        val (b, f) = Disk.usage(Seq(bm25, mh, ivf, snap))
        indexBytes = b; indexFiles = f
        Outcome(kind = "fs")
      }),
    )
  }

  override def extra(): Map[String, Double] = Map(
    "ingest.write_s" -> writeSeconds,
    "ingest.rows" -> writeRows.toDouble,
    "fs.index_mb" -> indexBytes / 1e6,
    "fs.index_files" -> indexFiles.toDouble,
    "ingest.index_bytes_per_input_byte" -> indexBytes.toDouble / inputBytes)
}

object IngestServe {
  // the index parameters of the engine's own index gates (d33, s29)
  val MhHashes = 16
  val MhBands = 4
  val IvfLists = 16
  val IvfProbes = 4
  /** Parquet-equivalent bytes of one snapshot row: a key, an order key,
    * two doubles and a timestamp. */
  val SnapRowBytes = 40L
}

object Disk {
  def usage(roots: Seq[String]): (Long, Long) = {
    var bytes = 0L; var files = 0L
    roots.map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_)).foreach { r =>
      val w = java.nio.file.Files.walk(r)
      try w.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          bytes += java.nio.file.Files.size(p); files += 1
        }
      } finally w.close()
    }
    (bytes, files)
  }

  def delete(root: String): Unit = {
    val r = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(r)) {
      val w = java.nio.file.Files.walk(r)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally w.close()
    }
  }
}

/** Set-up: a fresh session at `cores`, the workload's tables loaded
  * and persisted (the engine's loaders memoize them), and one untimed
  * warm-up query. */
object Setup {
  def loadTables(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      (if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)).count()
    }

  def warmUp(spark: SparkSession, dir: String): Unit = {
    Tables.lineitem(spark, dir).groupBy("l_returnflag").agg(sum("l_extendedprice")).collect()
    Caches.clear(spark)
  }
}

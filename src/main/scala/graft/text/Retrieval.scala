package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over a document corpus: BM25 scoring and
  * reciprocal-rank fusion (RRF) — the production hybrid-search pair
  * (Robertson & Zaragoza 2009 for BM25; Cormack et al. SIGIR'09 for
  * RRF). A training-data pipeline uses these to mine topical subsets
  * ("find docs about X"), to audit retrieval quality of a dense index
  * against a lexical baseline, and to fuse the two for hybrid dedup /
  * contamination review queues.
  *
  * Scale shape: the corpus side is reduced ONCE to a (doc, term, tf)
  * posting table + per-doc length (one tokenize scan, map-side
  * combine); the query side is tiny and broadcast, so scoring is a
  * scan-stage broadcast join over the postings — no corpus×corpus
  * work, no all-pairs. At 100 TB the postings build is the one keyed
  * shuffle; every query batch after it is broadcast-joined.
  */
object Retrieval {

  /** BM25 top-k per query. `corpus` = (id, text); `queries` =
    * (query_id, qtext). Standard BM25 with the +1-smoothed idf
    * (always positive): idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * tf-part = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)). Scores are
    * rounded to 6 before ranking so rank ties (likely on a small
    * vocabulary: equal tf profiles + equal length ⇒ equal score)
    * break on doc_id identically in both engines regardless of
    * double-sum fold order. Query's own doc (query_id == doc id) is
    * excluded so the fused hybrid doesn't trivially return the query.
    * Output: (query_id, doc_id, score, rank), rank 1-based. */
  def bm25TopK(corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // posting table: one tokenize pass, one (doc, term) keyed agg
    // (map-side combine); dl/avgdl derive from the postings, not a
    // second text scan. CACHED: three consumers (dl, dfq, contrib)
    // would otherwise re-run the tokenize+agg per consumer — measured
    // 11.1 → 4.4 s at 30× sf0.1. [[writePostingsIndex]] persists this
    // very table — the serving deployment builds it once.
    val tf = graft.Caches.cached(postingsOf(corpus, idCol, textCol))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    scoreBm25(tf, dl, queries, qidCol, qtextCol, k, k1, b)
  }

  /** The (doc_id, tok, tf) posting table of a corpus: one tokenize
    * scan, one (doc, term)-keyed count (map-side combine). Public for
    * multi-pass retrieval loops (RM3's two scoring passes over one
    * corpus): build it ONCE, cache it at the caller, and score each
    * pass with [[bm25TopKPostings]] — one tokenize+agg instead of one
    * per pass (guide §2.4: remove repeated passes outright). */
  def postingsOf(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = corpus
    .select(col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** [[bm25TopK]] over a PREBUILT posting table (the [[postingsOf]]
    * shape) — identical scoring plan, no corpus tokenize. The caller
    * caches `tf` when several passes consume it. */
  def bm25TopKPostings(tf: DataFrame, queries: DataFrame, qidCol: String,
      qtextCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    scoreBm25(tf, dl, queries, qidCol, qtextCol, k, k1, b)
  }

  /** BM25 scoring over a posting table + doc-length table — the
    * shared back half of [[bm25TopK]] (in-memory postings) and
    * [[bm25TopKFromIndex]] (persisted postings). Corpus stats
    * (n_docs, avgdl) derive from `dl` as an exact-integer sum ÷ count
    * (ONE double division) so both engines compute the identical
    * double, independent of fold order. */
  private def scoreBm25(tf: DataFrame, dl: DataFrame, queries: DataFrame,
      qidCol: String, qtextCol: String, k: Int, k1: Double,
      b: Double): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("__sdl"))
      .withColumn("avgdl", col("__sdl").cast("double") / col("n_docs"))
      .drop("__sdl")

    // query terms are a set (array_distinct: repeated query terms
    // score once, the standard bag-of-query-TERMS form) and tiny —
    // df is restricted to them BEFORE joining the postings, so the
    // per-query work is broadcast × postings.
    val qterms = queries
      .select(col(qidCol).as("query_id"),
        explode(array_distinct(TextOps.tokens(col(qtextCol)))).as("tok"))
    val dfq = tf.join(broadcast(qterms.select("tok").distinct()), Seq("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val qside = broadcast(qterms.join(dfq, Seq("tok")).crossJoin(stats))

    val contrib = tf.join(qside, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(round(sum("w"), 6).as("score"))
    // top-k in the TopK aggregator (map-side combine — each partition
    // ships k candidates per query) instead of a global per-query
    // window sort of every scored (query, doc) pair; ties break
    // (score desc, doc_id asc), matching the oracle's row_number.
    import graft.functions.TopK
    scored.groupBy("query_id")
      .agg(TopK.topK(k)(col("doc_id"), col("score")).as("__nn"))
      .select(col("query_id"), posexplode(col("__nn")).as(Seq("__r", "__s")))
      .select(col("query_id"), col("__s.id").as("doc_id"),
        col("__s.score").as("score"), (col("__r") + 1).cast("int").as("rank"))
  }

  // ---- PERSISTED postings index: the lexical family's lifecycle ----
  //
  // Every other retrieval family here (exact-hash, MinHash, gram,
  // IVF/IVF-PQ) persists its index artifact; this closes the gap for
  // BM25 — at 100 TB the postings build is the one corpus-sized keyed
  // shuffle, and production pays it ONCE, not per query batch. Two
  // parquet tables under `path`:
  //
  //  - `postings`: (doc_id, tok, tf), partitioned by `tp` (first md5
  //    nibble of the token — 16 stable dirs) so a selective
  //    compaction can rewrite only affected slices and a token-probe
  //    layout exists for engines that prune on it;
  //  - `doclens`: (doc_id, dl). Corpus stats (n_docs, avgdl) DERIVE
  //    from doclens at serve time (one tiny agg over a doc-count-sized
  //    table) — deriving instead of freezing keeps every serve
  //    (tombstoned, appended, compacted) exactly equal to an index
  //    rebuilt from the corresponding corpus, which is what the gates
  //    pin.
  //
  // Deletes are doc_id-keyed (every indexed doc keeps its own posting
  // rows — no min-id collapsing, so ids resolve exactly); the serve
  // path anti-joins the tombstone side-table on both artifacts and
  // compaction folds it in.

  private def tokPart(c: Column): Column = substring(md5(c), 1, 1)

  /** Write (mode `mode`) (doc_id, tok, tf) rows to `path/postings`,
    * partitioned by [[tokPart]] and repartitioned on it first — the one
    * layout every build, append and compaction writes. */
  private def writePostings(tf: DataFrame, mode: String, path: String): Unit =
    tf.withColumn("tp", tokPart(col("tok"))).repartition(col("tp"))
      .write.mode(mode).partitionBy("tp").parquet(s"$path/postings")

  /** Build the persisted postings index from a corpus: ONE tokenize
    * scan + (doc, term) agg, then the two artifact writes. A rebuild
    * also clears any stale tombstone side-table — delete requests
    * against the replaced index don't apply to the new one. */
  def writePostingsIndex(corpus: DataFrame, idCol: String,
      textCol: String, path: String): Unit = {
    val tf = graft.Caches.cached(postingsOf(corpus, idCol, textCol))
    // run the two independent artifact writes concurrently over the
    // shared cached posting table (guide §2.6): the doclens agg
    // back-fills the postings write's shuffle/commit gaps. No
    // pre-materialization pass: BlockManager write locks dedupe a
    // concurrent cache fill per block (the second job waits per block
    // and reads the first's result), and a standalone count() pays
    // the whole tokenize+agg without doing write work — measured
    // 2.60 → 3.24 s on s30 before this was removed. Distinct output
    // dirs; artifacts byte-identical to the sequential form.
    graft.Par.par2("writePostingsIndex")(
      () => writePostings(tf, "overwrite", path),
      () => tf.groupBy("doc_id").agg(sum("tf").as("dl"))
        .write.mode("overwrite").parquet(s"$path/doclens"))
    graft.Fs.clearTombstones(corpus.sparkSession, path)
  }

  /** Append a batch of NEW docs to the index. Posting rows are
    * per-doc independent, so appending is two plain parquet appends —
    * no index rewrite, no read of existing artifacts. Caller contract:
    * batch doc_ids are not already indexed (route the batch through
    * the exact-hash admission gate first, as the d26 loop does);
    * re-appending an id would double its postings. */
  def appendToPostingsIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String): Unit = {
    val tf = graft.Caches.cached(postingsOf(batch, idCol, textCol))
    // same overlapped write pair as writePostingsIndex (§2.6; block
    // locks dedupe the concurrent cache fill) — sw21 pays this op
    // once per micro-batch, so it cuts the per-batch fixed cost
    graft.Par.par2("appendToPostingsIndex")(
      () => writePostings(tf, "append", path),
      () => tf.groupBy("doc_id").agg(sum("tf").as("dl"))
        .write.mode("append").parquet(s"$path/doclens"))
    ()
  }

  /** Append delete requests (indexed doc ids) to the tombstone
    * side-table. O(|deletes|) — index files untouched. */
  def tombstonePostingsIndex(deleteIds: DataFrame, idCol: String,
      path: String): Unit =
    graft.Fs.tombstone(deleteIds, idCol, "doc_id", path)

  /** The live postings / doclens — what the serve path scans: the
    * artifacts minus the tombstoned docs (tiny broadcast anti-join;
    * files untouched). */
  def livePostings(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    postingsMinus(spark, path, graft.Fs.tombstones(spark, path))

  def liveDoclens(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    doclensMinus(spark, path, graft.Fs.tombstones(spark, path))

  private def postingsMinus(spark: org.apache.spark.sql.SparkSession,
      path: String, ts: Option[DataFrame]): DataFrame =
    graft.Fs.minusTombstones(
      graft.Fs.readParquet(spark, s"$path/postings").drop("tp"), ts, "doc_id")

  private def doclensMinus(spark: org.apache.spark.sql.SparkSession,
      path: String, ts: Option[DataFrame]): DataFrame =
    graft.Fs.minusTombstones(
      graft.Fs.readParquet(spark, s"$path/doclens"), ts, "doc_id")

  /** BM25 top-k served FROM the persisted index: identical scoring
    * plan to [[bm25TopK]] with the corpus-sized tokenize+agg replaced
    * by the artifact scan — the per-batch cost drops to the broadcast
    * query probe. df and corpus stats come from the LIVE view, so the
    * serve equals a rebuild from the retained corpus exactly. */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ts = graft.Fs.tombstones(spark, path)
    scoreBm25(graft.Caches.cached(postingsMinus(spark, path, ts)),
      doclensMinus(spark, path, ts), queries, qidCol, qtextCol, k, k1, b)
  }

  /** Fold tombstones into both artifacts and clear them: rewrite as
    * the live rows (localCheckpoint first — the rewrite overwrites
    * the files the live plan scans). With postings partitioned by
    * `tp` a production compaction would rewrite only slices holding
    * tombstoned rows; the full rewrite keeps the proof simple. */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val ts = graft.Fs.tombstones(spark, path)
    if (ts.isEmpty) return
    val post = postingsMinus(spark, path, ts).localCheckpoint()
    val dls = doclensMinus(spark, path, ts).localCheckpoint()
    writePostings(post, "overwrite", path)
    dls.write.mode("overwrite").parquet(s"$path/doclens")
    graft.Fs.clearTombstones(spark, path)
  }

  /** Reciprocal-rank fusion of two ranked lists, each (query_id,
    * doc_id, rank): rrf = Σ 1/(c + rank) over the lists the doc
    * appears in (Cormack's c = 60 default). The two contributions are
    * added as ONE binary `+` (not an agg sum), so the double is
    * fold-order-deterministic across engines; rounded to 6 before the
    * fused rank so ties break on doc_id identically. Output:
    * (query_id, doc_id, rrf, rank) — top `k` per query. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select(col("query_id"), col("doc_id"),
        (lit(1.0) / (lit(c.toDouble) + col("rank"))).as(s"__$tag"))
    val fused = side(a, "a")
      .join(side(b, "b"), Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        round(coalesce(col("__a"), lit(0.0)) + coalesce(col("__b"), lit(0.0)), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.select("query_id", "doc_id", "rrf")
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}

package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication operators for training-data pipelines, in increasing
  * order of scale-friendliness:
  *
  *  - exact: hash group-by — one shuffle on the content hash.
  *  - n-gram Jaccard: exact set similarity via an inverted shingle
  *    index — the honest quadratic baseline, with a document-frequency
  *    cap to bound the index blowup.
  *  - MinHash + LSH banding: the 100 TB path — shuffle is
  *    O(docs × bands), never O(pairs); candidates then verified on
  *    their signatures.
  *  - SimHash: 64-bit near-dup sketch, banded for candidate generation,
  *    hamming-distance verified via bit_count(xor).
  *
  * Everything is declarative DataFrame ops over codegen'd hash
  * functions (xxhash64/md5) — no UDFs, no driver loops.
  */
object Dedup {

  /** Distinct word n-gram shingles of `text` (empty array when the
    * document has fewer than n tokens). One codegen'd static call per
    * row (graft.functions.TextKernels) — see `shinglesExpr` for the
    * equivalent (slower) pure-expression form it replaced. */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    GraftExpressionBridge.column(graft.functions.TextKernelExprs.shingles(
      Seq(GraftExpressionBridge.expression(text), Literal(n))))
  }

  /** Pure-expression shingling — semantically identical to `shingles`
    * (scalacheck-verified); kept as the reference implementation and
    * for engines where StaticInvoke is unavailable. */
  private[graft] def shinglesExpr(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>")))
  }

  /** Exact dedup summary: one row per distinct content hash with its
    * multiplicity and the canonical (minimum) id to keep. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Exact dedup: keep the minimum-id row per distinct text. */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")

  /** SUB-document exact dedup — the paragraph/chunk-level pass LLM
    * corpora run after document-level dedup (boilerplate headers,
    * license blocks and quoted passages repeat across otherwise
    * distinct documents). Documents are split into fixed
    * `chunkTokens`-token chunks (the paragraph analog for unstructured
    * text); each DISTINCT chunk string keeps its FIRST occurrence by
    * (id, chunk index) and every other occurrence is dropped.
    *
    * Output: surviving (id, idx, chunk) rows. Scale shape: the
    * chunking is a pure scan-stage expression; the only shuffle is the
    * window partitioned BY CHUNK TEXT — i.e. keyed on content, so it
    * partitions evenly at any corpus size (a groupBy-on-hash
    * equivalent; no all-pairs anywhere). */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    // guard the empty doc: sequence(0, -1) would count DOWN
    val chunkArr = when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        c => concat_ws(" ", slice(toks, c * chunkTokens + 1, lit(chunkTokens)))))
    val chunks = df.select(col(idCol).as("id"),
      posexplode(chunkArr).as(Seq("idx", "chunk")))
    chunks.withColumn("__rn", row_number().over(
        Window.partitionBy(col("chunk")).orderBy(col("id"), col("idx"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("idx").cast("long").as("idx"), col("chunk"))
  }

  /** Per-document CROSS-corpus duplicate-chunk fraction (t25) — the
    * "duplicate paragraph fraction" quality rule the Gopher/CCNet
    * recipes threshold at the DOCUMENT level: a doc whose chunks
    * mostly appear earlier elsewhere in the corpus is boilerplate or
    * syndication even when its full text is unique, which document
    * hashes (d01) and within-doc repetition (t08) both miss. Chunks
    * are [[chunkDedup]]'s fixed `chunkTokens` cuts; a chunk is a
    * duplicate iff an earlier (id, idx) holds identical content.
    * Output, one row per doc with ≥1 chunk:
    * (id, n_chunks, n_dup, dup_frac 4dp). Scale shape: scan-stage
    * chunking, ONE content-keyed window, one id-keyed agg. */
  def dupChunkFraction(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val chunkArr = when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        c => concat_ws(" ", slice(toks, c * chunkTokens + 1, lit(chunkTokens)))))
    df.select(col(idCol).as("id"), posexplode(chunkArr).as(Seq("idx", "chunk")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("chunk")).orderBy(col("id"), col("idx"))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_chunks"), 4))
  }

  /** CONTENT-DEFINED chunk-level dedup — [[chunkDedup]]'s
    * insertion-robust sibling (the rsync/LBFS/storage-dedup boundary
    * rule, and the reason corpus chunk dedup survives boilerplate
    * edits): chunk boundaries fall where a polynomial rolling hash
    * over the trailing `w` codepoints ≡ 0 mod `d`
    * (graft.functions.TextKernels.cdcChunks — one O(n) kernel pass
    * per row), so inserting a character shifts boundaries only within
    * ~w characters instead of re-cutting every downstream chunk the
    * way a fixed-width chunker does. Each DISTINCT chunk then keeps
    * its first (id, idx) occurrence — the d09 mechanics on
    * content-defined spans. Output: surviving (id, idx, chunk).
    * Scale shape identical to [[chunkDedup]]: scan-stage chunking,
    * one content-keyed window. */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
      w: Int, d: Int): DataFrame = {
    val chunkArr = {
      import org.apache.spark.sql.GraftExpressionBridge
      import org.apache.spark.sql.catalyst.expressions.Literal
      GraftExpressionBridge.column(graft.functions.TextKernelExprs.cdcChunks(
        Seq(GraftExpressionBridge.expression(col(textCol)),
          Literal(w), Literal(d))))
    }
    val chunks = df.select(col(idCol).as("id"),
      posexplode(chunkArr).as(Seq("idx", "chunk")))
    chunks.withColumn("__rn", row_number().over(
        Window.partitionBy(col("chunk")).orderBy(col("id"), col("idx"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("idx").cast("long").as("idx"), col("chunk"))
  }

  /** Exact n-gram Jaccard similarity pairs via inverted shingle index.
    *
    * `maxDf` drops shingles present in more than that many documents
    * (stop-shingles) before pairing — both the similarity definition
    * and the pair candidates are over the df-capped shingle vocabulary.
    * Returns (id_a, id_b, inter, sz_a, sz_b, jaccard) for pairs with
    * jaccard ≥ minJaccard, id_a < id_b.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxDf: Int): DataFrame = {
    // persisted: shingling (regex tokenize + n-gram assembly) is the
    // dominant cost (~6 s/pass at sf0.1) and ex feeds both the df count
    // and the join below — without the cache it runs twice
    val ex = graft.Caches.cached(
      df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh")))
    // persisted too: referenced by sizes + both sides of the pair join
    val rare = graft.Caches.cached(ex.join(
        ex.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf), Seq("sh"))
      .select("sh", "id"))
    val sizes = rare.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = rare.toDF("sh", "id_a")
    val b = rare.toDF("sh", "id_b")
    a.join(b, a("sh") === b("sh") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
  }

  /** Exact n-gram CONTAINMENT pairs (d30) — the asymmetric sibling of
    * [[ngramJaccardPairs]]: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|.
    * Jaccard misses the quote/subset case a corpus pipeline cares
    * about — a short document wholly embedded in a long one scores
    * near-zero Jaccard (union is dominated by the long side) but
    * containment 1.0 from the short side. Emits (id_a < id_b) pairs
    * where EITHER direction reaches `minContain`, with both directed
    * scores.
    *
    * Same inverted-index shape and df-cap as the Jaccard form (the
    * honest pair-linear baseline; the shuffle keys on the shingle,
    * never all-pairs), sharing its per-doc df-capped sizes. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minContain: Double, maxDf: Int): DataFrame = {
    val ex = graft.Caches.cached(
      df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh")))
    val rare = graft.Caches.cached(ex.join(
        ex.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf), Seq("sh"))
      .select("sh", "id"))
    val sizes = rare.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = rare.toDF("sh", "id_a")
    val b = rare.toDF("sh", "id_b")
    a.join(b, a("sh") === b("sh") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .withColumn("contain_ab", round(col("inter") / col("sz_a"), 6))
      .withColumn("contain_ba", round(col("inter") / col("sz_b"), 6))
      .filter(col("contain_ab") >= minContain ||
        col("contain_ba") >= minContain)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b",
        "contain_ab", "contain_ba")
  }

  /** Blocked ENTITY RESOLUTION (d36) — record linkage over structured
    * name columns, the classic four-stage pipeline: (1) BLOCKING —
    * candidate pairs form only inside a cheap deterministic block key
    * (`blockOf` over the name), which is what makes ER feasible at
    * 100 TB: pair work is Σ|block|², never |corpus|²; (2) pairwise
    * scoring — char-trigram Jaccard over the DISTINCT name table, so
    * similarity work scales with the name vocabulary, not the record
    * count (records collapse to names first; a billion rows of 64
    * distinct names score 64 names); (3) transitive closure — min-label
    * components over the match graph (`iters` ≥ cluster diameter);
    * (4) assignment back to every record by one name-keyed join.
    *
    * Returns one row per input record: (idCol, entity_id, nameCol),
    * entity_id = the min record id of the resolved entity (its
    * canonical representative). Names shorter than 3 chars gram to
    * themselves (never an empty/descending sequence). Reference scope:
    * the reference dedups by exact work_id only (goodreads.py:81–86);
    * fuzzy record linkage is the production extension of that step. */
  def blockedEntityClusters(records: DataFrame, idCol: String,
      nameCol: String, blockOf: Column => Column, minJaccard: Double,
      iters: Int): DataFrame = {
    val names = graft.Caches.cached(records
      .groupBy(col(nameCol))
      .agg(min(col(idCol)).as("id")))
    val grams = graft.Caches.cached(names.select(col("id"),
      blockOf(col(nameCol)).as("blk"),
      explode(array_distinct(transform(
        sequence(lit(1), greatest(length(col(nameCol)) - 2, lit(1))),
        i => col(nameCol).substr(i, lit(3))))).as("g")))
    val sz = grams.groupBy("id").agg(count(lit(1)).as("sz"))
    val matches = grams.toDF("id_a", "blk", "g")
      .join(grams.toDF("id_b", "blk", "g"), Seq("blk", "g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sz.toDF("id_a", "sz_a"), "id_a")
      .join(sz.toDF("id_b", "sz_b"), "id_b")
      .filter(round(col("inter") /
        (col("sz_a") + col("sz_b") - col("inter")), 6) >= minJaccard)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = graft.graph.IterativeGraph.minLabelComponents(
      names.select("id"), matches, iters)
    records.select(col(idCol), col(nameCol))
      .join(names, Seq(nameCol))
      .join(labels, Seq("id"))
      .select(col(idCol), col("label").as("entity_id"), col(nameCol))
  }

  /** MinHash signature: `numHashes` independent min-hashes of the
    * document's shingle set (hash family = xxhash64 seeded by index). */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val ex = df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("sh"))).as(s"mh_$i"))
    ex.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding near-dup pairs — the scale path.
    *
    * Signatures are split into `bands` bands of numHashes/bands rows;
    * docs sharing any band hash become candidates (one shuffle keyed by
    * (band, bandHash) — never all-pairs). Candidates are verified by
    * estimated Jaccard = fraction of agreeing minhashes ≥ minJaccard.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, minJaccard: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val rows = numHashes / bands
    // persisted: banding + the two verification joins rescan it
    val sig = graft.Caches.cached(minhashSignature(df, idCol, textCol, n, numHashes))

    val bandHashes = (0 until bands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(i => col(s"mh_$i")): _*)
    }
    val banded = sig.select(col("id"),
        posexplode(array(bandHashes: _*)).as(Seq("band", "bh")))
    val cand = banded.toDF("id_a", "band", "bh")
      .join(banded.toDF("id_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val agree = (0 until numHashes)
      .map(i => when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("a"), col("id_a") === col("a.id"))
      .join(sig.as("b"), col("id_b") === col("b.id"))
      .withColumn("est_jaccard", round(agree.cast("double") / numHashes, 6))
      .filter(col("est_jaccard") >= minJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Portable MinHash signature table — one row per id with numHashes
    * `mh_i` columns: ONE md5 per distinct shingle split into two
    * 32-bit halves, hash_i = (h1 + i·h2 + i²) mod (2³¹−1)
    * (Kirsch–Mitzenmacher double hashing). The shared kernel of the
    * self-join pair finder ([[minhashLshPairsPortable]]), the
    * incremental ingest join ([[minhashLshJoinPortable]]), and the
    * persisted index ([[writeMinhashIndex]]).
    *
    * Computed by the FUSED per-row kernel
    * (graft.functions.TextKernels.minhashSigFromText — one tight
    * tokenize→shingle→md5→FMA loop per document, ZERO shuffle),
    * replacing the original explode + md5-expression + groupBy form
    * (kept below as [[minhashSignaturesPortableExpr]], equivalence-
    * pinned by DedupSpec): bit-identical output — same hash family,
    * min over the shingle SET, docs with < n tokens emit no row —
    * but a corpus-sized explode-shuffle cheaper. The unpack to mh_i
    * columns sits in a separate projection; CollapseProject's
    * duplication guard keeps the non-cheap kernel call
    * single-evaluation rather than inlining it 16×. */
  def minhashSignaturesPortable(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val sigK = {
      import org.apache.spark.sql.GraftExpressionBridge
      import org.apache.spark.sql.catalyst.expressions.Literal
      GraftExpressionBridge.column(graft.functions.TextKernelExprs
        .minhashSigText(Seq(GraftExpressionBridge.expression(col(textCol)),
          Literal(n), Literal(numHashes))))
    }
    df.select(col(idCol).as("id"), sigK.as("__sig"))
      .filter(size(col("__sig")) > 0)
      .select(Seq(col("id")) ++
        (0 until numHashes).map(i =>
          element_at(col("__sig"), i + 1).as(s"mh_$i")): _*)
  }

  /** Pure-expression reference form of [[minhashSignaturesPortable]]
    * (the original explode + groupBy implementation) — kept for the
    * DedupSpec equivalence property and for engines without
    * StaticInvoke. */
  private[graft] def minhashSignaturesPortableExpr(df: DataFrame,
      idCol: String, textCol: String, n: Int, numHashes: Int): DataFrame = {
    val P = 2147483647L // 2³¹−1, Mersenne prime; h1 + 63·h2 + 63² < 2³⁹ ≪ 2⁶³
    // not persisted: consumed exactly once (the signature groupBy)
    val ex = df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
      .withColumn("hx", md5(col("sh")))
      .withColumn("h1", conv(substring(col("hx"), 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("hx"), 9, 8), 16, 10).cast("long"))
    val mins = (0 until numHashes).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2") + lit(i.toLong * i)) % P).as(s"mh_$i"))
    ex.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** (id, band, bh) band-hash rows of a signature table — the LSH
    * bucket keys both join forms shuffle on. */
  private def bandedOf(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandHashes = (0 until bands).map { b =>
      md5(concat_ws("|", (b * rows until (b + 1) * rows).map(i => col(s"mh_$i")): _*))
    }
    sig.select(col("id"), posexplode(array(bandHashes: _*)).as(Seq("band", "bh")))
  }

  /** Engine-portable MinHash + LSH: ONE md5 per shingle, split into
    * two 32-bit halves (h1, h2), hash function i derived by
    * Kirsch–Mitzenmacher double hashing — h_i = (h1 + i·h2 + i²) mod
    * 2147483647 (i² de-correlates band 0 from h1 alone). Signature
    * element i = min over shingles of h_i. Identical pipeline shape to
    * [[minhashLshPairs]] (band → bucket join → signature-agreement
    * verify) but every primitive (md5, hex parse, modular arithmetic)
    * exists in any SQL engine, so the WHOLE algorithm is
    * DuckDB-oracle-checkable end to end — and one md5 + numHashes
    * fused multiply-adds per shingle costs ~the xxhash64 family,
    * unlike the earlier numHashes-md5s-per-shingle form. */
  def minhashLshPairsPortable(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, minJaccard: Double): DataFrame = {
    val sig = graft.Caches.cached(
      minhashSignaturesPortable(df, idCol, textCol, n, numHashes))
    minhashLshPairsFromSig(sig, numHashes, bands, minJaccard)
  }

  /** [[minhashLshPairsPortable]] over a PRECOMPUTED signature table
    * (id, mh_0..mh_{numHashes−1}) — the seam that lets several
    * registered queries share ONE signature build (callers memoize the
    * signatures per (session, input) via graft.Memo; at 100 TB this is
    * the persisted signature index the incremental-ingest path probes).
    * The caller owns the signature frame's caching. */
  def minhashLshPairsFromSig(sig: DataFrame, numHashes: Int, bands: Int,
      minJaccard: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val banded = bandedOf(sig, numHashes, bands)
    val cand = banded.toDF("id_a", "band", "bh")
      .join(banded.toDF("id_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val agree = (0 until numHashes)
      .map(i => when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("a"), col("id_a") === col("a.id"))
      .join(sig.as("b"), col("id_b") === col("b.id"))
      .withColumn("est_jaccard", round(agree.cast("double") / numHashes, 6))
      .filter(col("est_jaccard") >= minJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Incremental-ingest near-dup detection — a NEW document batch
    * against the EXISTING corpus (the production shape of dedup: a
    * continuously-fed corpus dedups each arriving batch against what
    * is already indexed, never re-pairing the corpus with itself).
    * Band hashes of both sides meet on (band, bh); candidates are
    * verified on full signatures; emits (new_id, corpus_id,
    * est_jaccard ≥ minJaccard).
    *
    * Scale posture: at 100 TB the corpus side of this join is a
    * PRECOMPUTED signature/band INDEX (a persisted table bucketed by
    * (band, bh) — [[minhashSignaturesPortable]] is exactly what that
    * index materializes), so per-ingest cost is O(batch × bands)
    * shuffle + bucket probes; the corpus text is never rescanned. Here
    * both sides are derived from text inline to keep the operator
    * end-to-end oracle-checkable. */
  def minhashLshJoinPortable(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int, numHashes: Int, bands: Int,
      minJaccard: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val sigNew = graft.Caches.cached(
      minhashSignaturesPortable(newDocs, idCol, textCol, n, numHashes))
    val sigOld = graft.Caches.cached(
      minhashSignaturesPortable(corpus, idCol, textCol, n, numHashes))
    val cand = bandedOf(sigNew, numHashes, bands).toDF("new_id", "band", "bh")
      .join(bandedOf(sigOld, numHashes, bands).toDF("corpus_id", "band", "bh"),
        Seq("band", "bh"))
      .select("new_id", "corpus_id").distinct()
    val agree = (0 until numHashes)
      .map(i => when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigNew.as("a"), col("new_id") === col("a.id"))
      .join(sigOld.as("b"), col("corpus_id") === col("b.id"))
      .withColumn("est_jaccard", round(agree.cast("double") / numHashes, 6))
      .filter(col("est_jaccard") >= minJaccard)
      .select("new_id", "corpus_id", "est_jaccard")
  }

  /** PERSISTED content-hash dedup index, build side — the EXACT-dedup
    * sibling of the persisted IVF index (s16/s17): a continuously-fed
    * corpus keeps one (text_hash, first_id) row per distinct content
    * on disk and never rescans indexed text at ingest. Layout:
    * parquet partitioned by the first hash hex char (`hp`, 16 dirs),
    * repartitioned by `hp` before the write so each partition lands
    * as whole files (the writeIvfIndex lesson). One keyed shuffle at
    * build; the index is ~one row per distinct doc — far smaller than
    * the corpus. A rebuild clears any stale tombstone side-table. */
  def writeHashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    writeHashes(exactGroups(df, idCol, textCol)
      .select(col("text_hash"), col("keep_id").as("first_id")), "overwrite", path)
    graft.Fs.clearTombstones(df.sparkSession, path)
  }

  /** Write (mode `mode`) (text_hash, first_id) rows to `path/hashes`,
    * partitioned by the hash's first hex char `hp` and repartitioned
    * on it first, so each partition lands as whole files — the one
    * layout every hash-index build, append and compaction writes. */
  private def writeHashes(rows: DataFrame, mode: String, path: String): Unit =
    rows.withColumn("hp", substring(col("text_hash"), 1, 1))
      .repartition(col("hp"))
      .write.mode(mode).partitionBy("hp").parquet(s"$path/hashes")

  /** Reload the persisted hash index: (text_hash, first_id, hp). */
  def readHashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.Fs.readParquet(spark, s"$path/hashes")

  /** Ingest a batch against the persisted hash index — the production
    * EXACT-dedup loop: (a) dedup WITHIN the batch (min-id row per
    * content hash), (b) anti-join the index on the 128-bit md5 content
    * hash (batch × index, the d16 shape — indexed text never
    * rescanned), (c) APPEND the admitted hashes so the next batch sees
    * them. Returns the admitted batch rows. Scale: per-ingest cost is
    * one batch-keyed window + one hash-keyed join against a
    * hash-partitioned parquet side; the append pays one keyed shuffle
    * over admitted rows only. */
  def ingestAgainstHashIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String): DataFrame =
    ingestAgainstHashes(batch, idCol, textCol, path,
      readHashIndex(batch.sparkSession, path))

  /** [[ingestAgainstHashIndex]] against the index rows `index`. */
  private def ingestAgainstHashes(batch: DataFrame, idCol: String,
      textCol: String, path: String, index: DataFrame): DataFrame = {
    // EAGER localCheckpoint, not Caches.cached: the append below writes
    // to the same path the anti-join scans, and Spark's post-write
    // refreshByPath would RE-CACHE a persisted plan against the
    // appended files — the admitted set would then anti-join its own
    // output and come back empty. Truncating lineage pins the admitted
    // set as of the pre-append listing; the blocks are reclaimed by the
    // ContextCleaner once unreferenced (the superstep pattern).
    val admitted =
      dropExactDups(batch, idCol, textCol)
        .withColumn("text_hash", md5(col(textCol)))
        .join(index.select("text_hash"), Seq("text_hash"), "left_anti")
        .localCheckpoint()
    writeHashes(admitted.groupBy("text_hash").agg(min(col(idCol)).as("first_id")),
      "append", path)
    admitted.drop("text_hash")
  }

  // ---- index deletes: tombstones + compaction (d32) ----------------
  //
  // Production corpora DELETE: opt-outs, takedowns, license
  // revocations. Rewriting a 100 TB index per delete batch is not an
  // option, so deletes land as a TOMBSTONE side-table (append-only,
  // tiny) that the serve path anti-joins; a periodic COMPACTION folds
  // the tombstones into the index files and clears them. The contract
  // the d32 gate pins: serve-with-tombstones ≡ serve-after-compaction
  // ≡ an index rebuilt from the retained corpus — and a re-ingest of
  // deleted CONTENT is admitted again (the opt-out actually forgets).

  /** Append delete requests to the index's tombstone side-table.
    * Requests are RESOLVED BY CONTENT (`md5(textCol)`) against the
    * index at delete time: the index stores one row per text_hash
    * with `first_id = min(id)`, so an id-keyed tombstone would
    * silently no-op whenever the takedown names a duplicate copy
    * whose id is not the stored minimum — the content would keep
    * being served. Resolution by hash hits the stored row no matter
    * which copy the request names; a request for content that was
    * never indexed resolves to nothing (correctly — there is nothing
    * to take down). The tombstone keeps BOTH (text_hash, first_id) so
    * it pins only the row present at delete time: content re-ingested
    * AFTER the opt-out is a new submission (new first_id) and must be
    * served, not ghost-deleted by a stale content tombstone (which
    * would also make every subsequent re-ingest re-admit the same
    * text — duplicate admissions until compaction). One broadcast
    * join against the index; index files untouched. */
  def tombstoneHashIndex(deletes: DataFrame, textCol: String,
      path: String): Unit =
    readHashIndex(deletes.sparkSession, path)
      .join(broadcast(deletes.select(md5(col(textCol)).as("text_hash"))
        .distinct()), Seq("text_hash"))
      .select("text_hash", "first_id")
      .write.mode("append").parquet(s"$path/tombstones")

  /** The index minus its tombstones — what the serve path consults.
    * The tombstone side is a tiny broadcast anti-join on the full
    * (text_hash, first_id) key [[tombstoneHashIndex]] resolved, so a
    * post-delete re-admission of the same content (same hash, new
    * first_id) stays live; the index files are untouched. */
  def liveHashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    hashIndexMinus(spark, path, graft.Fs.tombstones(spark, path))

  private def hashIndexMinus(spark: org.apache.spark.sql.SparkSession,
      path: String, ts: Option[DataFrame]): DataFrame =
    graft.Fs.minusTombstones(readHashIndex(spark, path), ts,
      "text_hash", "first_id")

  /** [[ingestAgainstHashIndex]] with the anti-join taken against the
    * LIVE index (tombstones honored): a re-submission of deleted
    * content is admitted — and appended, so the content is indexed
    * again under its new id. Same plan shape otherwise: batch-keyed
    * window + hash-keyed anti-join + append of admitted hashes. */
  def ingestAgainstLiveHashIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String): DataFrame =
    ingestAgainstHashes(batch, idCol, textCol, path,
      liveHashIndex(batch.sparkSession, path))

  /** Fold tombstones into the index files and clear them: rewrite
    * `hashes` as the live set (localCheckpoint first — the rewrite
    * overwrites the very files the live plan scans), then drop the
    * tombstone side-table. After compaction [[liveHashIndex]] and
    * [[readHashIndex]] agree. At scale this is the standard
    * read-merge-rewrite maintenance pass, amortized across delete
    * batches; with the index hash-partitioned on `hp` a selective
    * compaction could rewrite only partitions containing tombstoned
    * rows. */
  def compactHashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val ts = graft.Fs.tombstones(spark, path)
    if (ts.isEmpty) return
    val live = hashIndexMinus(spark, path, ts).localCheckpoint()
    writeHashes(live, "overwrite", path)
    graft.Fs.clearTombstones(spark, path)
  }

  // ---- Bloom-gated exact dedup (d29/sw18) --------------------------
  //
  // The hash index (d26) answers "seen before?" with a keyed join
  // against a corpus-sized table. At 100 TB ingest that join is the
  // whole cost, yet on a mostly-fresh feed almost every probe misses.
  // The production fix is a BLOOM FILTER companion artifact: a
  // constant-size bit array (~1.2 GB per billion docs at 1% fpp) that
  // answers "definitely new" scan-stage, so only the ~fpp sliver of
  // maybe-dups ever reaches the verification join. No false negatives
  // → the admitted set is EXACTLY the anti-join's (full DuckDB oracle).
  // This is the same expression machinery Catalyst's own runtime-filter
  // injection uses (BloomFilterMightContain over xxhash64), driven here
  // as a persisted, incrementally-merged index artifact.

  private def bloomBinPath(path: String) = s"$path/bloom/filter.bin"
  private def bloomMetaPath(path: String) = s"$path/bloom/filter.meta"

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
      p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeBloomArtifact(spark: org.apache.spark.sql.SparkSession,
      path: String, bf: org.apache.spark.util.sketch.BloomFilter,
      expectedItems: Long, numBits: Long): Unit = {
    val bin = new org.apache.hadoop.fs.Path(bloomBinPath(path))
    val out = hadoopFs(spark, bin).create(bin, true)
    try bf.writeTo(out) finally out.close()
    val meta = new org.apache.hadoop.fs.Path(bloomMetaPath(path))
    val mo = hadoopFs(spark, meta).create(meta, true)
    try mo.write(s"$expectedItems $numBits".getBytes("UTF-8"))
    finally mo.close()
  }

  private def readBloomMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long) = {
    val meta = new org.apache.hadoop.fs.Path(bloomMetaPath(path))
    val in = hadoopFs(spark, meta).open(meta)
    val parts =
      try new String(in.readAllBytes(), "UTF-8").split(" ")
      finally in.close()
    (parts(0).toLong, parts(1).toLong)
  }

  /** Reload the serialized filter bytes (the gate's plan-side operand). */
  def readBloomBytes(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Byte] = {
    val bin = new org.apache.hadoop.fs.Path(bloomBinPath(path))
    val in = hadoopFs(spark, bin).open(bin)
    try in.readAllBytes()
    finally in.close()
  }

  /** Build + persist the Bloom companion of an existing hash index
    * ([[writeHashIndex]]): a distributed treeAggregate over
    * xxhash64(text_hash) longs (`stat.bloomFilter` — the executors
    * build partial filters, the driver ORs them; the index never
    * collects). `expectedItems` sizes the filter; it is persisted in
    * the meta file because INCREMENTAL merges ([[bloomGatedIngest]])
    * must rebuild batch filters with the identical (items, bits) pair
    * to stay merge-compatible (same bit count + hash count). */
  def writeBloomIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      fpp: Double = 0.01): Unit = {
    val hashed = readHashIndex(spark, path)
      .select(xxhash64(col("text_hash")).as("h"))
    val expected = math.max(1L, hashed.count())
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .create(expected, fpp).bitSize()
    val bf = hashed.stat.bloomFilter("h", expected, numBits)
    writeBloomArtifact(spark, path, bf, expected, numBits)
  }

  /** Scan-stage membership gate: Spark's own `BloomFilterMightContain`
    * (the runtime-filter expression — codegen'd, deserialized once per
    * plan, never per row) with the persisted filter inlined as its
    * foldable binary operand and `xxhash64(hashCol)` as the probe —
    * exactly the (putLong ↔ mightContainLong) pairing the build side
    * uses. True = maybe-indexed (verify by join); false = DEFINITELY
    * new (bloom filters have no false negatives). */
  def bloomMightContain(filterBytes: Array[Byte], hashCol: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    GraftExpressionBridge.column(BloomFilterMightContain(
      Literal(filterBytes, BinaryType),
      GraftExpressionBridge.expression(xxhash64(hashCol))))
  }

  /** Ingest a batch against the hash index THROUGH its Bloom gate — the
    * d26 production loop with the join input culled to the maybe-dup
    * sliver:
    *
    *  (a) dedup WITHIN the batch (min-id per content hash);
    *  (b) route on the gate: gate=false rows are admitted WITHOUT
    *      touching the index (no false negatives); gate=true rows —
    *      true dups plus ~fpp of the fresh — verify via the keyed
    *      anti-join against the index;
    *  (c) append admitted hashes to the index AND merge an
    *      admitted-rows filter (built distributed, with the artifact's
    *      own (items, bits) pair so the merge is compatible) into the
    *      persisted filter — the next batch's gate sees this one.
    *
    * Admitted set ≡ [[ingestAgainstHashIndex]]'s exactly; the gate only
    * changes HOW MUCH of the batch the join reads. Saturation note: the
    * filter is sized at build time; a corpus that grows far past
    * `expectedItems` degrades fpp (gate passes more, correctness
    * unaffected) — production rebuilds the filter when the routed
    * fraction drifts, which [[bloomRoutingStats]] measures. */
  def bloomGatedIngest(batch: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    val spark = batch.sparkSession
    val bytes = readBloomBytes(spark, path)
    val gate = bloomMightContain(bytes, col("text_hash"))
    // Both gate branches read `within`; persist it so the window runs
    // once (the union's materialization below populates + reuses it).
    // The ADMITTED union then eager-checkpoints before the append for
    // the same reason as ingestAgainstHashIndex: the append writes to
    // the path the verification branch scans.
    val within = graft.Caches.cached(
      dropExactDups(batch, idCol, textCol)
        .withColumn("text_hash", md5(col(textCol))))
    val admitted = within.filter(!gate)
      .unionByName(within.filter(gate)
        .join(readHashIndex(spark, path).select("text_hash"),
          Seq("text_hash"), "left_anti"))
      .localCheckpoint()
    // A fully-duplicate batch admits nothing: the index and filter are
    // already complete, and stat.bloomFilter over an empty frame has
    // no buffer to return — skip maintenance entirely.
    if (!admitted.isEmpty) {
      writeHashes(admitted.groupBy("text_hash").agg(min(col(idCol)).as("first_id")),
        "append", path)
      val (expected, numBits) = readBloomMeta(spark, path)
      val batchBf = admitted.select(xxhash64(col("text_hash")).as("h"))
        .stat.bloomFilter("h", expected, numBits)
      val merged = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
        .mergeInPlace(batchBf)
      writeBloomArtifact(spark, path, merged, expected, numBits)
    }
    admitted.drop("text_hash")
  }

  /** Routing telemetry for the gate (the saturation monitor): how many
    * batch rows the filter sent to the verification join vs admitted
    * scan-stage. One pass over the batch; no join. */
  def bloomRoutingStats(batch: DataFrame, textCol: String,
      path: String): DataFrame = {
    val bytes = readBloomBytes(batch.sparkSession, path)
    batch.select(bloomMightContain(bytes, md5(col(textCol))).as("routed"))
      .groupBy("routed").agg(count(lit(1)).as("n_docs"))
  }

  /** PERSISTED MinHash NEAR-dup index, build side — the near-dup
    * sibling of [[writeHashIndex]] and the batch artifact the
    * incremental-ingest loop (d16's shape) probes instead of
    * recomputing corpus signatures per batch. Two parquet tables:
    *
    *  - `signatures`: one (id, mh_0..mh_{H−1}) row per indexed doc
    *    (the [[minhashSignaturesPortable]] output — docs with < n
    *    tokens have no shingles and are not indexable);
    *  - `bands`: the (id, band, bh) LSH bucket keys, PARTITIONED BY
    *    `band` (a fixed, small dir count) and repartitioned on it
    *    before the write so each band lands as whole files — an
    *    ingest probe on (band, bh) prunes to its band's directory.
    *
    * At 100 TB the signature table is ~H longs per doc (128 B at
    * H=16) and the band table `bands` rows per doc — both tiny next
    * to the text they index, and the text itself is NEVER rescanned
    * at ingest. A rebuild clears any stale tombstone side-table. */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, path: String): Unit = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val sig = graft.Caches.cached(
      minhashSignaturesPortable(df, idCol, textCol, n, numHashes))
    // overlap the two independent artifact writes over the shared
    // cached signature table (guide §2.6 — the writePostingsIndex
    // pattern; block locks dedupe the concurrent cache fill):
    // distinct output dirs, artifacts byte-identical to the
    // sequential form
    graft.Par.par2("writeMinhashIndex")(
      () => sig.write.mode("overwrite").parquet(s"$path/signatures"),
      () => writeBands(bandedOf(sig, numHashes, bands), "overwrite", path))
    graft.Fs.clearTombstones(df.sparkSession, path)
  }

  /** Reload the persisted signature table: (id, mh_0..mh_{H−1}). */
  def readMinhashSignatures(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.Fs.readParquet(spark, s"$path/signatures")

  /** Write (mode `mode`) (id, bh, band) rows to `path/bands`,
    * partitioned by `band` and repartitioned on it first — the one
    * layout every MinHash build, append and compaction writes. */
  private def writeBands(rows: DataFrame, mode: String, path: String): Unit =
    rows.repartition(col("band"))
      .write.mode(mode).partitionBy("band").parquet(s"$path/bands")

  /** Reload the persisted band table: (id, bh, band). */
  def readMinhashBands(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.Fs.readParquet(spark, s"$path/bands")

  /** Ingest a batch against the persisted MinHash index — the
    * production NEAR-dup loop (d26's exact-content mechanics lifted to
    * LSH semantics): (a) the batch dedups WITHIN itself by the
    * lower-id-neighbor rule (any doc with a verified lower-id batch
    * near-dup at est ≥ `minJaccard` drops — the SemDeDup pruning rule
    * d25 pins, one pass, no component chase); (b) survivors' band
    * hashes probe the index's `bands` table on (band, bh) — batch ×
    * index, never corpus × corpus — and candidates are verified
    * against the index `signatures`; docs with any indexed neighbor
    * at est ≥ `minJaccard` drop; (c) admitted docs APPEND their
    * signatures and band rows so the next batch sees them. Returns
    * the admitted batch rows (docs too short to sign are admitted —
    * nothing to match or index — exactly as in the oracle).
    *
    * Scale: per-ingest cost is one batch-keyed signature groupBy, the
    * batch-internal banded self-join, and one (band, bh)-keyed probe
    * join against the band-partitioned parquet side; the append pays
    * one keyed shuffle over admitted rows only. The drop-id set is
    * eagerly localCheckpoint-ed before the append for the same reason
    * as [[ingestAgainstHashIndex]]: the post-append refreshByPath
    * would otherwise re-resolve the probe scan against the appended
    * files and the admitted set would anti-join its own output. */
  def ingestAgainstMinhashIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String, n: Int, numHashes: Int, bands: Int,
      minJaccard: Double): DataFrame =
    ingestAgainstMinhashFrames(batch, idCol, path, numHashes,
      bands, minJaccard,
      readMinhashBands(batch.sparkSession, path),
      readMinhashSignatures(batch.sparkSession, path),
      prepareMinhashBatch(batch, idCol, textCol, n, numHashes, bands,
        minJaccard))

  /** Batch-side state reusable across repeated ingests of the SAME
    * batch (the d33 two-phase proof serves one feed twice): the
    * signature table and the within-batch lower-id drop set are pure
    * functions of the batch alone — independent of index state — so a
    * second serve of the identical feed must not pay the
    * tokenize+shingle+minhash pass or the banded self-join again
    * (guide §2.4: remove repeated passes outright). Both frames are
    * [[graft.Caches]]-registered per-call intermediates. */
  final case class MinhashBatch(sigB: DataFrame, droppedWithin: DataFrame)

  /** Compute [[MinhashBatch]] once for a feed that will ingest more
    * than once (or delegate per-ingest via the plain entry points). */
  def prepareMinhashBatch(batch: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, minJaccard: Double): MinhashBatch = {
    val sigB = graft.Caches.cached(
      minhashSignaturesPortable(batch, idCol, textCol, n, numHashes))
    // (a) within-batch lower-id-neighbor drop
    val droppedWithin = graft.Caches.cached(
      minhashLshPairsFromSig(sigB, numHashes, bands, minJaccard)
        .select(col("id_b").as("id")))
    MinhashBatch(sigB, droppedWithin)
  }

  private def ingestAgainstMinhashFrames(batch: DataFrame, idCol: String,
      path: String, numHashes: Int, bands: Int,
      minJaccard: Double, corpusBands: DataFrame,
      corpusSigs: DataFrame, prepared: MinhashBatch): DataFrame = {
    val sigB = prepared.sigB
    val droppedWithin = prepared.droppedWithin
    // (b) survivors probe the persisted band index, verify on signatures
    val survivors = sigB.join(droppedWithin, Seq("id"), "left_anti")
    val cand = bandedOf(survivors, numHashes, bands)
      .toDF("new_id", "band", "bh")
      .join(corpusBands
        .select(col("band"), col("bh"), col("id").as("corpus_id")),
        Seq("band", "bh"))
      .select("new_id", "corpus_id").distinct()
    val agree = (0 until numHashes)
      .map(i => when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val matched = cand
      .join(survivors.as("a"), col("new_id") === col("a.id"))
      .join(corpusSigs.as("b"),
        col("corpus_id") === col("b.id"))
      .filter(round(agree.cast("double") / numHashes, 6) >= minJaccard)
      .select(col("new_id").as("id"))
    val dropIds = droppedWithin.unionByName(matched).distinct()
      .localCheckpoint()
    // (c) append admitted signatures + band rows
    val admittedSig = sigB.join(dropIds, Seq("id"), "left_anti")
    admittedSig.write.mode("append").parquet(s"$path/signatures")
    writeBands(bandedOf(admittedSig, numHashes, bands), "append", path)
    batch.join(dropIds, batch(idCol) === dropIds("id"), "left_anti")
  }

  // ---- near-dup index deletes: tombstones + compaction (d33) -------
  //
  // The MinHash sibling of [[tombstoneHashIndex]]/[[compactHashIndex]]
  // — with this, every persisted admission gate (exact hash, lexical
  // near-dup, semantic IVF) has the full lifecycle: build, append,
  // batch serve, stream serve, DELETE, compaction. A tombstoned doc
  // stops vetoing near-duplicates of itself: its band rows (candidate
  // generation) and signature row (verification) are both anti-joined
  // out of the serve.

  /** Append near-dup-index delete requests (indexed doc ids). */
  def tombstoneMinhashIndex(deleteIds: DataFrame, idCol: String,
      path: String): Unit =
    graft.Fs.tombstone(deleteIds, idCol, "id", path)

  /** [[ingestAgainstMinhashIndex]] with both index artifacts taken
    * LIVE (tombstones honored): near-duplicates of deleted docs admit
    * again; everything else behaves identically. */
  def ingestAgainstLiveMinhashIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String, n: Int, numHashes: Int, bands: Int,
      minJaccard: Double): DataFrame =
    ingestAgainstLiveMinhashIndexPrepared(batch, idCol, path, numHashes,
      bands, minJaccard,
      prepareMinhashBatch(batch, idCol, textCol, n, numHashes, bands,
        minJaccard))

  /** [[ingestAgainstLiveMinhashIndex]] over a PRECOMPUTED
    * [[MinhashBatch]] — the entry point for serving one feed several
    * times (d33's tombstoned/compacted phase pair): index state is
    * read fresh per call, batch-side work is paid once at prepare. */
  def ingestAgainstLiveMinhashIndexPrepared(batch: DataFrame, idCol: String,
      path: String, numHashes: Int, bands: Int, minJaccard: Double,
      prepared: MinhashBatch): DataFrame = {
    val spark = batch.sparkSession
    val ts = graft.Fs.tombstones(spark, path)
    ingestAgainstMinhashFrames(batch, idCol, path, numHashes,
      bands, minJaccard,
      graft.Fs.minusTombstones(readMinhashBands(spark, path), ts, "id"),
      graft.Fs.minusTombstones(readMinhashSignatures(spark, path), ts, "id"),
      prepared)
  }

  /** Fold tombstones into both artifacts and clear them. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val ts = graft.Fs.tombstones(spark, path)
    if (ts.isEmpty) return
    val sigs = graft.Fs.minusTombstones(readMinhashSignatures(spark, path),
      ts, "id").localCheckpoint()
    val bnds = graft.Fs.minusTombstones(readMinhashBands(spark, path),
      ts, "id").localCheckpoint()
    sigs.write.mode("overwrite").parquet(s"$path/signatures")
    writeBands(bnds, "overwrite", path)
    graft.Fs.clearTombstones(spark, path)
  }

  /** Engine-portable SimHash: identical tf-weighted sign-bit
    * construction to [[simhash]], but the per-token bit source is the
    * first 16 hex nibbles of md5(token) (global bit g = bit g%4 of
    * nibble g/4) instead of xxhash64 — every primitive (md5, substr,
    * hex-nibble decode, CASE, sum) exists in any SQL engine, so the
    * WHOLE sketch is DuckDB-oracle-checkable. The 64 bits are emitted
    * as four 16-bit band longs (band0..band3) — the banding the pair
    * stage uses anyway, and each is nonnegative so no engine disagrees
    * about the sign bit. Production favors [[simhash]] (one xxhash64
    * per token vs an md5 + 16 nibble decodes). Output:
    * (id, band0..band3). */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // no (id, token) tf pre-aggregation: Σ per-occurrence ±1 equals the
    // tf-weighted sum, so the final groupBy(id) is the only shuffle
    val ex = df.select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("hx", md5(col("tok")))
    // pack the 16 nibbles into ONE long with global bit g = bit g%4 of
    // nibble g/4 — the same bit layout the 64 per-bit aggregates read —
    // then run the single-pass SimHash Aggregator over it (identical
    // partial state and sign rule, so sketches are bit-identical to the
    // legacy 64-aggregate form; d10/d11's oracles pin that)
    val packed = (0 until 16).map(j =>
      shiftleft(conv(substring(col("hx"), j + 1, 1), 16, 10).cast("long"), 4 * j))
      .reduce(_.bitwiseOR(_))
    val sk = ex.select(col("id"), packed.as("h64"))
      .groupBy("id")
      .agg(graft.functions.SimHashAgg.simhash64(col("h64")).as("sk"))
    val bandCols = (0 until 4).map(b =>
      shiftrightunsigned(col("sk"), b * 16).bitwiseAND(0xFFFFL).as(s"band$b"))
    sk.select(col("id") +: bandCols: _*)
  }

  /** Banded near-dup pairs over the portable sketch: candidates agree
    * on ≥1 of the 4 bands (band-keyed shuffle, never all-pairs),
    * verified by total hamming distance = Σ bit_count(xor) per band
    * ≤ maxHamming. The oracle-checkable twin of [[simhashPairs]]. */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    // persisted: both sides of the band self-join rescan the sketch
    val sk = graft.Caches.cached(simhashPortable(df, idCol, textCol))
    val bandNames = (0 until 4).map(b => s"band$b")
    val banded = sk.select(col("id") +: bandNames.map(col) :+
      posexplode(array(bandNames.map(col): _*)).as(Seq("band", "bh")): _*)
    val aNames = (0 until 4).map(b => s"a$b")
    val bNames = (0 until 4).map(b => s"b$b")
    banded.toDF("id_a" +: aNames :+ "band" :+ "bh": _*)
      .join(banded.toDF("id_b" +: bNames :+ "band" :+ "bh": _*), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(("id_a" +: "id_b" +: (aNames ++ bNames)).map(col): _*).distinct()
      .withColumn("hamming", (0 until 4)
        .map(i => bit_count(col(s"a$i").bitwiseXOR(col(s"b$i"))))
        .reduce(_ + _).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** PERSIST the portable SimHash sketch table as an index artifact
    * (d35) — the missing lifecycle member of the sketch-index family
    * (exact-hash d26, MinHash d27, gram d31 all have one): the
    * [[simhashPortable]] (id, band0..band3) table written as plain
    * parquet, built once per corpus release. */
  def writeSimhashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    simhashPortable(df, idCol, textCol)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** ADMISSION against the persisted SimHash index (d35): a batch doc
    * is rejected when ANY indexed sketch shares a band bucket with it
    * AND verifies at total hamming ≤ `maxHamming` (a re-submitted
    * indexed doc self-matches at hamming 0 — re-ingest is a
    * duplicate). Band-keyed equi-join batch-bands × index-bands,
    * never all-pairs; the verify reads both sides' four band longs
    * carried through the join. Returns the admitted batch rows. */
  def simhashAdmit(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val bandNames = (0 until 4).map(b => s"band$b")
    def banded(sk: DataFrame, idAs: String, pre: String) =
      sk.select(col("id").as(idAs) +:
        (0 until 4).map(i => col(s"band$i").as(s"$pre$i")) :+
        posexplode(array(bandNames.map(col): _*)).as(Seq("band", "bh")): _*)
    val idx = banded(graft.Fs.readParquet(spark, path), "id_i", "i")
    val bsk = banded(graft.Caches.cached(
      simhashPortable(batch, idCol, textCol)), "id_b", "b")
    val hamming = (0 until 4)
      .map(i => bit_count(col(s"b$i").bitwiseXOR(col(s"i$i"))))
      .reduce(_ + _)
    val rejected = bsk.join(idx, Seq("band", "bh"))
      .filter(hamming <= maxHamming)
      .select(col("id_b")).distinct()
    batch.join(rejected, batch(idCol) === rejected("id_b"), "left_anti")
  }

  /** Near-dup KEEP operator — the canonical LLM-corpus dedup move:
    * collapse every near-duplicate CLUSTER (not just pairwise matches)
    * to its minimum-id representative. Pipeline: banded-MinHash pairs
    * → near-dup graph → min-label connected components (`iters`
    * supersteps ≥ cluster diameter; band-connected clusters are
    * near-cliques, so small values converge) → keep rows whose id IS
    * their component label. All stages are the engine's existing
    * banded/iterative primitives — shuffles stay O(docs × bands) +
    * O(pairs) per superstep, never all-pairs. The md5 `portable`
    * variant keeps the WHOLE operator DuckDB-oracle-checkable (d12);
    * production use swaps in [[minhashLshPairs]].
    *
    * `iters < 0` (the default) iterates components to a FIXPOINT, so a
    * near-dup chain longer than any fixed superstep count still
    * collapses to one survivor. A fixed `iters ≥ 0` runs exactly that
    * many supersteps — only correct when the cluster diameter is known
    * to be ≤ iters (band-connected clusters are near-cliques, so small
    * values usually converge); the oracle-checked queries pin it to
    * match their unrolled-CTE step count. */
  def dropNearDupsPortable(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, minJaccard: Double,
      iters: Int = -1, sig: Option[DataFrame] = None): DataFrame = {
    val labels = nearDupClusterLabels(df, idCol, textCol, n, numHashes,
      bands, minJaccard, iters, sig)
    // survivors aliased to a fresh name: a caller whose idCol is
    // literally "id" must not make the join condition ambiguous
    val keep = labels.filter(col("id") === col("label"))
      .select(col("id").as("__keep_id"))
    df.join(keep, df(idCol) === col("__keep_id"), "left_semi")
  }

  /** Near-dup CLUSTER LABELS — the (id, label) assignment underlying
    * [[dropNearDupsPortable]], exposed because the label itself is a
    * first-class pipeline key: leakage-safe train/val/test splitting
    * hashes the CLUSTER label (p16), audits group by it, and KEEP-BEST
    * windows over it. label = min doc id reachable through the banded
    * near-dup graph within `iters` supersteps (or to convergence when
    * iters < 0); singletons label themselves. */
  def nearDupClusterLabels(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, minJaccard: Double,
      iters: Int = -1, sig: Option[DataFrame] = None): DataFrame = {
    // `sig`: optionally reuse a precomputed signature table for the
    // pair stage (see minhashLshPairsFromSig) instead of rebuilding it
    val pairs = sig
      .map(minhashLshPairsFromSig(_, numHashes, bands, minJaccard))
      .getOrElse(minhashLshPairsPortable(df, idCol, textCol, n, numHashes,
        bands, minJaccard))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val vertices = df.select(col(idCol).as("id"))
    graft.graph.IterativeGraph.minLabelComponents(vertices, edges, iters)
  }

  /** SOFT dedup — downweight instead of drop: every document gets
    * weight 1/|its near-dup cluster|, so a near-dup family contributes
    * ONE document's worth of effective mass to the training mix while
    * every variant stays available (published as soft deduplication /
    * duplicate-aware reweighting; the hard-drop d12 rule is the
    * weight-threshold special case). Composition: the d12 cluster
    * labels ([[nearDupClusterLabels]]) + one label-keyed count. The
    * weights feed the sampling stage directly (p02 upsample / p24
    * reservoir take a weight column).
    *
    * Scale shape: everything downstream of the banded pair stage is
    * label-keyed — the size agg and the weight join shuffle on the
    * cluster label, never all-pairs, and cluster cardinality ≈ corpus
    * cardinality (most docs are singletons), so the join is an
    * ordinary corpus-keyed hash join at any scale.
    * Output: (id, label, cluster_size, weight). */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, minJaccard: Double,
      iters: Int = -1, sig: Option[DataFrame] = None): DataFrame = {
    val labels = nearDupClusterLabels(df, idCol, textCol, n, numHashes,
      bands, minJaccard, iters, sig)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id"), col("label"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** Near-dup KEEP-BEST — [[dropNearDupsPortable]]'s survivor rule
    * generalized from "minimum id" to "best by `keepByCol`" (ties →
    * smallest id): production dedup keeps the highest-quality or most
    * complete member of each near-dup cluster, not an arbitrary
    * canonical id (e.g. token count keeps the untruncated original
    * over its clipped mirror copies). Same pipeline: banded pairs →
    * min-label components; the survivor pick is ONE window partitioned
    * by cluster label — keyed, never global. Output: surviving rows of
    * `df`, all columns intact. */
  def dropNearDupsKeepBest(df: DataFrame, idCol: String, textCol: String,
      keepByCol: String, n: Int, numHashes: Int, bands: Int,
      minJaccard: Double, iters: Int = -1): DataFrame = {
    val pairs = minhashLshPairsPortable(df, idCol, textCol, n, numHashes,
      bands, minJaccard)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val vertices = df.select(col(idCol).as("id"))
    val labels =
      graft.graph.IterativeGraph.minLabelComponents(vertices, edges, iters)
    df.join(labels.select(col("id").as("__kid"), col("label").as("__lbl")),
        df(idCol) === col("__kid"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__lbl"))
          .orderBy(col(keepByCol).desc, col("__kid"))))
      .filter(col("__rn") === 1)
      .drop("__kid", "__lbl", "__rn")
  }

  /** Benchmark decontamination, step 1 — ids of corpus documents that
    * share ANY word n-gram with a benchmark/eval set (the standard
    * train-set decontamination rule: a single verbatim n-gram overlap
    * flags the document).
    *
    * Scale posture: the benchmark side is an EVAL SUITE — thousands of
    * documents, not the corpus — so its distinct n-gram set is small
    * and explicitly `broadcast`: the 100 TB corpus side never
    * shuffles; flagging is a scan-stage broadcast-hash-join over the
    * exploded corpus n-grams, then one distinct on the (tiny) flagged
    * id set. If a benchmark ever outgrew broadcast, drop the hint and
    * the same plan degrades to a shuffled join — the semantics don't
    * change. */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val bGrams = benchmark
      .select(explode(shingles(col(textCol), n)).as("ng")).distinct()
    corpus.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("ng"))
      .join(broadcast(bGrams), "ng")
      .select("id").distinct()
  }

  /** GRADED benchmark contamination — per-document n-gram overlap
    * fraction against the benchmark gram set, the form the large-scale
    * decontam recipes actually threshold (e.g. "contaminated when ≥ X%
    * of the document's n-grams appear in an eval example" rather than
    * [[contaminatedIds]]'s any-single-gram rule, which over-flags long
    * documents).
    *
    * Output, one row per corpus document that has ≥1 n-gram:
    * (id, n_grams, n_hit, overlap_frac, contaminated) where n_grams
    * counts the document's DISTINCT grams, n_hit those also present in
    * the benchmark set, overlap_frac = n_hit/n_grams (4dp) and
    * contaminated = [2·n_hit ≥ n_grams] — the flag itself is integer
    * math so thresholding is engine-exact.
    *
    * Same scale posture as [[contaminatedIds]]: benchmark grams
    * broadcast, corpus side is a scan-stage explode + one keyed
    * groupBy(id) whose (count,sum) buffers combine map-side. */
  def contaminationOverlap(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val bGrams = benchmark
      .select(explode(shingles(col(textCol), n)).as("ng")).distinct()
      .withColumn("__hit", lit(1L))
    corpus.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("ng"))
      .join(broadcast(bGrams), Seq("ng"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 4).as("overlap_frac"),
        when(col("n_hit") * 2 >= col("n_grams"), lit(1L)).otherwise(lit(0L))
          .as("contaminated"))
  }

  /** Benchmark decontamination, step 2 — the corpus minus every
    * document flagged by [[contaminatedIds]] (left-anti on the flagged
    * id set, which is benchmark-overlap-sized, not corpus-sized). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val bad = contaminatedIds(corpus, benchmark, idCol, textCol, n)
      .select(col("id").as("__contam_id"))
    corpus.join(bad, corpus(idCol) === col("__contam_id"), "left_anti")
  }

  /** PERSISTED benchmark gram index, build side (d31/sw19) — the
    * decontamination artifact that completes the persisted-gate family
    * (d26 exact content, d27 lexical near-dup, s16 semantic embedding,
    * THIS benchmark leakage): the eval suite's distinct n-gram set is
    * computed ONCE and written gram-prefix-partitioned; every later
    * corpus batch / ingest micro-batch probes the reloaded artifact
    * instead of re-shingling the benchmark. Eval suites are small by
    * nature, so the reloaded set broadcasts at serve exactly like
    * [[contaminatedIds]]'s in-memory build. */
  def writeGramIndex(benchmark: DataFrame, textCol: String, n: Int,
      path: String): Unit =
    benchmark.select(explode(shingles(col(textCol), n)).as("ng")).distinct()
      .withColumn("gp", substring(md5(col("ng")), 1, 1))
      .repartition(col("gp"))
      .write.mode("overwrite").partitionBy("gp")
      .parquet(s"$path/grams")

  /** Reload the persisted benchmark gram set: (ng) rows. */
  def readGramIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.Fs.readParquet(spark, s"$path/grams").select("ng")

  /** Decontaminate a batch against the PERSISTED gram index — the d15
    * semantics served from the artifact ([[writeGramIndex]]): corpus
    * grams explode scan-stage, the reloaded benchmark set broadcasts,
    * flagged ids (overlap-sized) anti-join back. Benchmark text is
    * never rescanned at serve. */
  def decontaminateAgainstGramIndex(batch: DataFrame, idCol: String,
      textCol: String, n: Int, path: String): DataFrame = {
    val grams = readGramIndex(batch.sparkSession, path)
    val bad = batch
      .select(col(idCol).as("__cid"), explode(shingles(col(textCol), n)).as("ng"))
      .join(broadcast(grams), "ng")
      .select("__cid").distinct()
    batch.join(bad, batch(idCol) === col("__cid"), "left_anti")
  }

  /** 64-bit SimHash over the document's term-frequency vector: bit i of
    * the sketch is the sign of Σ_tokens tf·(±1 by bit i of xxhash64(tok)).
    *
    * Computed WITHOUT a (id, token) tf pre-aggregation: summing ±1 per
    * token OCCURRENCE is identical to the tf-weighted sum (Σ_occ ±1 =
    * Σ_distinct tf·±1), so the only shuffle is the final groupBy(id) —
    * whose 64-long buffers partial-aggregate map-side. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
      .groupBy("id")
      .agg(graft.functions.SimHashAgg.simhash64(col("h")).as("simhash"))

  /** Cross-source duplicate attribution (the provenance audit behind
    * a dedup decision): for every unordered source pair, how many
    * exact-duplicate document pairs span it — "which sources mirror
    * each other" drives both crawl budgeting and which copy the KEEP
    * pass should prefer. The self-join is keyed by content hash and
    * group sizes are duplicate multiplicities (small by nature — and
    * a pathological viral-text key degrades to C(m,2) for THAT key
    * only, not the corpus), so the shuffle is O(rows), never
    * all-pairs. Output: (src_lo, src_hi, n_pairs), including same-
    * source pairs (src_lo = src_hi) — intra-source redundancy is part
    * of the audit. */
  def crossSourceDupAttribution(df: DataFrame, idCol: String,
      textCol: String, srcCol: String): DataFrame = {
    val t = graft.Caches.cached(df.select(col(idCol).as("id"),
      md5(col(textCol)).as("h"), col(srcCol).as("src")))
    t.toDF("id_a", "h", "src_a")
      .join(t.toDF("id_b", "h", "src_b"), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Corpus-boilerplate n-gram density (the CCNet/RefinedWeb cleaning
    * signal): an n-gram is boilerplate when it appears in ≥ `dfPct`%
    * of documents; each document reports how many of its gram
    * OCCURRENCES (positions, not distinct grams) are boilerplate. The
    * threshold is integer math (`gdf·100 ≥ n_corpus·dfPct`) so the
    * cutoff is exact on any engine at any corpus size.
    *
    * Shuffle shape: gram-keyed df count over distinct (doc, gram),
    * then the occurrence stream joins the BROADCAST boilerplate set
    * and re-aggregates per doc. The boilerplate set is bounded by
    * construction — Σdf over grams ≤ total occurrences, so at most
    * (avg grams/doc)·100/dfPct grams can clear the bar — which is why
    * the broadcast is safe at 100 TB where the full gram-df table is
    * not. Documents with fewer than n tokens have no grams and are
    * absent from the output (nothing to clean). */
  def boilerplateNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int, dfPct: Int): DataFrame = {
    // occurrences (not distinct): the output measures text density
    val ex = graft.Caches.cached(
      df.select(col(idCol).as("id"),
        explode(TextOps.ngramsOrdered(col(textCol), n)).as("g")))
    val nDocs = df.select(count(lit(1)).as("n_corpus"))
    val boiler = ex.select("id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("gdf"))
      .crossJoin(broadcast(nDocs))
      .filter(col("gdf") * 100 >= col("n_corpus") * dfPct)
      .select("g")
    ex.join(broadcast(boiler.withColumn("is_b", lit(1L))), Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_b"), lit(0L))).as("n_boiler"))
      .withColumn("boiler_ratio", round(col("n_boiler") / col("n_grams"), 4))
  }

  /** Per-document n-gram NOVELTY — the cross-document repetition /
    * memorization-risk signal corpus curation ranks on (a doc whose
    * content is mostly n-grams other docs already carry adds little
    * and over-weights whatever it repeats): fraction of a doc's
    * DISTINCT n-grams that appear in NO other document. Same
    * gram-df machinery as [[boilerplateNgrams]], but per-document
    * and set-based ([[shingles]] dedups per doc, so each (id, gram)
    * row is unique and the df count needs no distinct). One
    * gram-keyed shuffle + one id-keyed aggregate — scan-stage
    * otherwise. Docs with < n tokens have no grams and are absent.
    * Output: (id, n_grams, n_repeated, novelty_frac). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val ex = graft.Caches.cached(
      df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("ng")))
    val dfc = ex.groupBy("ng").agg(count(lit(1)).as("ndocs"))
    ex.join(dfc, "ng")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("novelty_frac",
        round(lit(1.0) - col("n_repeated") / col("n_grams"), 6))
  }

  /** Substring-level exact dedup — the suffix-array-style hygiene
    * pass that catches long repeated substrings at UNALIGNED
    * positions, which chunk-boundary dedup ([[chunkDedup]]) misses.
    * Gram-seeded approximation of the suffix-array scan: every
    * repeated substring of ≥ k tokens is a run of token-k-grams that
    * each occur more than once in the corpus, so
    *  1. explode ordered k-grams WITH their token position,
    *  2. keep grams whose corpus-wide occurrence count is > 1
    *     (intra-document repeats count — they are equally removable),
    *  3. merge CONSECUTIVE duplicated gram starts per document into
    *     maximal spans (gaps-and-islands: pos − row_number collapses
    *     each run to one group key).
    * Output: (id, start_tok, end_tok, span_tokens), 0-based inclusive
    * token positions, every span ≥ k tokens by construction — the
    * regions a cleaning pass cuts or keeps one copy of.
    *
    * Scale shape: gram counting is a keyed partial-agg shuffle
    * (map-side combine collapses each partition's repeats); the
    * duplicated-gram set is usually corpus-small and the semi-join
    * broadcasts under AQE, degrading to a keyed shuffle join — never
    * all-pairs — when it isn't; the islands window is per-document,
    * bounded by document length. */
  def repeatedSubstringSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val grams = df.select(col(idCol).as("id"),
      posexplode(TextOps.ngramsOrdered(col(textCol), k)).as(Seq("pos", "gram")))
    val dupGrams = grams.groupBy("gram")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).select("gram")
    grams.join(dupGrams, Seq("gram"), "left_semi")
      .withColumn("__rn",
        row_number().over(Window.partitionBy("id").orderBy("pos")))
      .withColumn("__isl", col("pos") - col("__rn"))
      .groupBy("id", "__isl")
      .agg(min("pos").cast("long").as("start_tok"),
        (max("pos") + (k - 1)).cast("long").as("end_tok"))
      .withColumn("span_tokens", col("end_tok") - col("start_tok") + 1L)
      .select("id", "start_tok", "end_tok", "span_tokens")
  }

  /** Span-cut corpus emission — the hygiene pass that CONSUMES
    * [[repeatedSubstringSpans]]: for every distinct repeated-span
    * CONTENT (the exact token sequence of a maximal span), keep the
    * canonical first occurrence — smallest (id, start_tok) — intact,
    * CUT every other occurrence, and re-emit each document in
    * normalized token space. A token position is cut iff it lies in
    * ≥1 non-canonical span occurrence AND in no canonical one (so the
    * kept copy is never mutilated when spans overlap inside a doc).
    * Output: (id, cleaned_text, n_tokens_kept, n_tokens_removed) —
    * one row per input document; cleaned_text is the surviving tokens
    * joined by single spaces (the same normalized space the spans are
    * defined in; docs with nothing cut re-emit all their tokens).
    * The contract is deliberately CONSERVATIVE at span granularity:
    * occurrences must match as whole maximal spans — when a shared
    * passage sits in per-doc context that is itself duplicated, the
    * maximal spans grow differently per document, their contents
    * stop matching, and nothing is cut (DedupSpec pins both sides of
    * this line). Cutting partial overlaps would need span splitting,
    * which re-introduces the mutilation hazard this rule avoids.
    *
    * Scale shape: everything keyed, never all-pairs — and NO window:
    * the canonical occurrence per span content is min(struct(id,
    * start_tok)) — a partial+final hash aggregate, so a boilerplate
    * span repeated across millions of documents reduces map-side
    * instead of sorting one hot window partition; the 1-row-per-
    * content canonical table joins back on the content key (AQE
    * skew-join handles a hot content there, and the tiny side
    * broadcasts). Cut/kept positions explode per-document (bounded
    * by doc length) and resolve via (id, pos) anti-joins; the final
    * re-assembly is one per-document aggregate (sort_array over the
    * collected (pos, tok) structs — no global sort). */
  def spanCutEmit(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val spans = repeatedSubstringSpans(df, idCol, textCol, k)
    val toks = graft.Caches.cached(df.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("__toks")))
    val spansC = graft.Caches.cached(spans.join(toks, Seq("id"))
      .withColumn("__content", array_join(
        slice(col("__toks"), (col("start_tok") + 1).cast("int"),
          col("span_tokens").cast("int")), " "))
      .select("id", "start_tok", "end_tok", "__content"))
    val canon = spansC.groupBy("__content")
      .agg(min(struct(col("id"), col("start_tok"))).as("__c1"))
    val marked = spansC.join(canon, Seq("__content"))
      .withColumn("__keep", col("id") === col("__c1.id") &&
        col("start_tok") === col("__c1.start_tok"))
    def positions(keep: Boolean) = marked.filter(col("__keep") === keep)
      .select(col("id"),
        explode(sequence(col("start_tok"), col("end_tok"))).as("pos"))
      .distinct()
    val cutPos = positions(keep = false)
      .join(positions(keep = true), Seq("id", "pos"), "left_anti")
    val tokPos = toks.select(col("id"),
      posexplode(col("__toks")).as(Seq("pos", "tok")))
    val rebuilt = tokPos
      .join(cutPos.withColumn("__cut", lit(1L)), Seq("id", "pos"), "left")
      .groupBy("id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__cut").isNull,
            struct(col("pos"), col("tok"))))),
          s => s.getField("tok")), " ").as("cleaned_text"),
        count(when(col("__cut").isNull, lit(1))).as("n_tokens_kept"),
        count(col("__cut")).as("n_tokens_removed"))
    df.select(col(idCol).as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed"))
  }

  /** SimHash near-dup pairs: candidates from 4 16-bit bands (a pair
    * within hamming distance 3 must agree on ≥1 band), verified with
    * bit_count(xor) ≤ maxHamming. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    // persisted: both sides of the band self-join rescan the sketch
    val sk = graft.Caches.cached(simhash(df, idCol, textCol))
    val banded = sk.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band", "bh")))
    banded.toDF("id_a", "sim_a", "band", "bh")
      .join(banded.toDF("id_b", "sim_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}

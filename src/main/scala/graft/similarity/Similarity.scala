package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FloatVector.dotF
import graft.functions.TopK

/** Similarity search over embedding columns (`array<float>`).
  *
  *  - `dot`/`cosine`: native codegen'd Catalyst expression
  *    (graft.functions.FloatDot) — one tight loop per pair, no
  *    intermediate arrays, whole-stage codegen preserved.
  *  - `bruteForceTopK`: exact baseline — broadcast the (small) query
  *    side, score all corpus rows, per-query top-k via the map-side
  *    TopK combine. One pass over the corpus, no shuffle of the corpus
  *    itself.
  *  - `lshCosineTopK`: random-hyperplane LSH — candidates share a
  *    signature-band bucket; shuffle is O(rows × bands) instead of
  *    O(queries × corpus). The 100 TB path.
  *  - IVF with FIXED seeded centroids, PQ and SQ8 compression, and the
  *    composed IVF-PQ index (raw and residual codes) live here, every
  *    one oracle-checkable; the KMeans-trained IVF and the persisted
  *    index layout live in graft.ml.VectorSearch.
  *
  * Each vector-search step exists once and every build, serve and
  * sweep calls that copy: [[distArr]] (centroid/code distances),
  * [[argmin]] (IVF list and PQ code assignment), [[probeClusters]]
  * (probe selection), [[pqAdcDistColumn]] (ADC distance),
  * [[exactDist]] (exact Euclidean distance), [[topKBy]] (per-query
  * top-k tail) and [[recallSummary]] (recall-audit summary row).
  *
  * All-pairs/top-k operators precompute each row's norm ONCE and reuse
  * it across every pair — the norm is O(dim) work identical to the dot
  * itself, so folding it into the per-pair expression would triple the
  * flop count (and did, in the first cut of this file).
  */
object Similarity {

  /** Dot product in double precision (sequential fold — deterministic,
    * matches the DuckDB oracle's list_sum ordering). */
  def dot(a: Column, b: Column): Column = dotF(a, b)

  def norm(a: Column): Column = sqrt(dotF(a, a))

  def cosine(a: Column, b: Column): Column = dotF(a, b) / (norm(a) * norm(b))

  /** ANN recall audit — the monitoring join a production ANN
    * deployment runs continuously: per-query recall@k of an
    * approximate top-k result against the exact one. Both inputs are
    * (query_id, neighbor_id) top-k frames (any method pair); the
    * ground-truth side drives a left join onto the approximate side,
    * so the shuffle is O(queries × k), independent of corpus size —
    * auditing stays cheap even when the index it audits is not.
    * Output: (query_id, n_hits, recall), recall = n_hits/k. */
  def recallAudit(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", round(col("n_hits") / k.toDouble, 4))

  /** [[recallAudit]] collapsed to one row: (key…, n_queries,
    * total_hits, min_hits, avg_recall) — integer counts plus one
    * single-division ratio, so the row hashes identically on any
    * engine. */
  private def recallSummary(exact: DataFrame, approx: DataFrame,
      k: Int, key: Column*): DataFrame =
    recallAudit(exact, approx, k)
      .agg(count(lit(1)).as("n_queries"), sum("n_hits").as("total_hits"),
        min("n_hits").as("min_hits"))
      .select(key ++ Seq(col("n_queries"), col("total_hits"), col("min_hits"),
        round(col("total_hits") / (col("n_queries") * k.toDouble), 4)
          .as("avg_recall")): _*)

  /** One [[recallSummary]] row per sweep point `p` of `approx(p)`
    * against `exact`, keyed by column `key` = p. */
  private[graft] def recallSweep(exact: DataFrame, k: Int, key: String,
      points: Seq[Int])(approx: Int => DataFrame): DataFrame =
    points.map(p => recallSummary(exact, approx(p), k, lit(p.toLong).as(key)))
      .reduce(_ unionByName _)

  /** IVF probe-count recall sweep — pins the recall/latency trade-off
    * instead of assuming it: for each candidate `nprobe`, run
    * [[ivfFixedTopK]] and audit it against the exact brute-force
    * top-k. Output one row per probe count:
    * (nprobe, n_queries, total_hits, min_hits, avg_recall) — integer
    * counts plus one single-division ratio, so the row hashes
    * identically on any engine. The exact set is computed ONCE and
    * cached; each sweep point re-probes only. */
  def ivfProbeSweep(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, nlist: Int, nprobes: Seq[Int], seed: Long): DataFrame = {
    val exact = graft.Caches.cached(
      bruteForceTopK(queries, corpus, k).select("query_id", "neighbor_id"))
    recallSweep(exact, k, "nprobe", nprobes)(np =>
      ivfFixedTopK(queries, corpus, k, dim, nlist, np, seed))
  }

  /** Matryoshka truncation audit — recall@k of brute-force search
    * over only the FIRST `d` dimensions against the full-dimension
    * exact neighbors, for each d in `dims`: the measurement behind
    * truncate-then-rerank storage designs (d dims hot, full vector
    * cold — [[twoStageRerank]] is the retrieval side of the same
    * trade). The exact full-dim set is computed once and cached; each
    * sweep point re-scores sliced vectors only. Output one row per
    * dim: (dim, n_queries, total_hits, min_hits, avg_recall) —
    * integer counts plus one single-division ratio, engine-stable
    * like [[ivfProbeSweep]]. */
  def truncatedDimSweep(queries: DataFrame, corpus: DataFrame, k: Int,
      dims: Seq[Int]): DataFrame = {
    val exact = graft.Caches.cached(
      bruteForceTopK(queries, corpus, k).select("query_id", "neighbor_id"))
    def sliced(df: DataFrame, d: Int) =
      df.select(col(df.columns(0)), slice(col(df.columns(1)), 1, d))
    recallSweep(exact, k, "dim", dims)(d =>
      bruteForceTopK(sliced(queries, d), sliced(corpus, d), k))
  }

  /** Per-label embedding-norm hygiene report (Tukey fences): Q1/Q3 by
    * RANK per label over 6dp-rounded norms, outlier = norm outside
    * [q1 − 1.5·iqr, q3 + 1.5·iqr]. Order statistics on rounded values
    * are deterministic on any engine — unlike mean/σ, whose float-sum
    * association order differs between engines. The quartile ranks use
    * ⌈n·0.25⌉/⌈n·0.75⌉ (0.25/0.75 are exact binary fractions, so the
    * rank arithmetic is exact too). Keyed windows per label, never a
    * global sort; the per-label quartile table broadcasts back.
    * Output: (label, n_vecs, q1, q3, n_outliers, min_outlier_id). */
  def normOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val byNorm = Window.partitionBy("label").orderBy(col("nrm"), col("id"))
    val byLabel = Window.partitionBy("label")
    val t = graft.Caches.cached(
      df.select(col(idCol).as("id"), col(labelCol).as("label"),
          round(norm(col(vecCol)), 6).as("nrm"))
        .withColumn("rk", row_number().over(byNorm))
        .withColumn("n", count(lit(1)).over(byLabel)))
    val q = t.groupBy("label").agg(
      max(when(col("rk") === ceil(col("n") * 0.25), col("nrm"))).as("q1"),
      max(when(col("rk") === ceil(col("n") * 0.75), col("nrm"))).as("q3"))
    val out = col("nrm") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
      col("nrm") > col("q3") + (col("q3") - col("q1")) * 1.5
    t.join(broadcast(q), "label")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), max("q1").as("q1"), max("q3").as("q3"),
        sum(when(out, lit(1L)).otherwise(lit(0L))).as("n_outliers"),
        min(when(out, col("id"))).as("min_outlier_id"))
  }

  /** Embedding DRIFT monitor (m18): per label, compare the mean
    * vector of an OLD corpus slice against a NEW one — the
    * data-quality check a recurring ingest runs to catch an upstream
    * embedding-model swap, feature-scaling change, or topic shift
    * before it poisons dedup thresholds and ANN recall. Output per
    * label: cosine between the two centroids (1.0 = no directional
    * drift), the norm ratio new/old (≠1 = scaling drift), and both
    * slice sizes.
    *
    * Scale shape: one posexplode scan per side → (label, dim)-keyed
    * mean (64·|labels| cells — tiny), centroid join and the final
    * per-label aggregate run in cell space. No vector ever crosses
    * the shuffle; at 100 TB the cost is the two scans. */
  def embeddingDrift(oldDf: DataFrame, newDf: DataFrame,
      labelCol: String, vecCol: String): DataFrame = {
    def means(df: DataFrame, half: String) = df
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("p", "v")))
      .groupBy("label", "p")
      .agg((sum(col("v")) / count(lit(1))).as(s"m_$half"))
    def sizes(df: DataFrame, name: String) = df
      .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as(name))
    means(oldDf, "old").join(means(newDf, "new"), Seq("label", "p"))
      .groupBy("label")
      .agg(sum(col("m_old") * col("m_new")).as("dot"),
        sum(col("m_old") * col("m_old")).as("no2"),
        sum(col("m_new") * col("m_new")).as("nn2"))
      .select(col("label"),
        round(col("dot") / (sqrt(col("no2")) * sqrt(col("nn2"))), 6)
          .as("drift_cos"),
        round(sqrt(col("nn2")) / sqrt(col("no2")), 6).as("norm_ratio"))
      .join(sizes(oldDf, "n_old"), Seq("label"))
      .join(sizes(newDf, "n_new"), Seq("label"))
  }

  /** Cosine from precomputed norms, ZERO-NORM SAFE: a degenerate
    * all-zero vector scores 0 instead of the NULL a 0-division yields —
    * a NULL would crash the non-nullable TopK Aggregator every top-k
    * operator here feeds (and its ordering differs across engines, the
    * same reason [[centroidAssign]] guards). Pure codegen `when`. */
  private[graft] def safeCos(dot: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, dot / (na * nb)).otherwise(lit(0.0))

  /** Exact cosine of a (qv, qn) × (cv, cn) scored pair, 6dp. */
  private def exactCos: Column =
    round(safeCos(dotF(col("qv"), col("cv")), col("qn"), col("cn")), 6)

  /** Queries and corpus framed for [[exactDist]]: (query_id, qv, qq)
    * and (neighbor_id, cv, cc), squared norms computed once per row. */
  private def euclidSides(queries: DataFrame,
      corpus: DataFrame): (DataFrame, DataFrame) = (
    queries.toDF("query_id", "qv").withColumn("qq", dotF(col("qv"), col("qv"))),
    corpus.toDF("neighbor_id", "cv").withColumn("cc", dotF(col("cv"), col("cv"))))

  /** Exact Euclidean distance of a [[euclidSides]] pair via the
    * expansion ‖q−c‖ = √(q·q − 2·q·c + c·c), clamped at 0 and rounded
    * to 6dp — the SAME identity the DuckDB oracle evaluates, so rounded
    * distances match bit-for-bit. */
  private def exactDist: Column = round(
    sqrt(greatest(col("qq") - lit(2.0) * dotF(col("qv"), col("cv")) + col("cc"),
      lit(0.0))), 6)

  /** Per-query top-k of a scored (query_id, neighbor_id, `score`)
    * frame via the map-side-combining TopK Aggregator — ≤ k rows per
    * query per partition ride the shuffle — ties by neighbor id.
    * `nearest` ranks ascending (distances): TopK keeps the LARGEST
    * scores, so the score goes in negated and comes out through `abs`,
    * not unary minus — -(-0.0) would emit -0.0 for zero distances.
    * Output: (query_id, neighbor_id, `score`, rank). */
  private[graft] def topKBy(scored: DataFrame, k: Int, score: String,
      nearest: Boolean = false): DataFrame =
    scored.groupBy("query_id")
      .agg(TopK.topK(k)(col("neighbor_id"),
        if (nearest) -col(score) else col(score)).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("r0", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        (if (nearest) abs(col("nb.score")) else col("nb.score")).as(score),
        (col("r0") + 1).cast("int").as("rank"))

  /** Exact top-k cosine neighbors for every query row — the LABELED
    * exact baseline (the scale paths are [[lshCosineTopK]] and
    * graft.ml.VectorSearch's IVF).
    *
    * Scale shape: the (bounded) query side is broadcast, the corpus is
    * scanned ONCE with no shuffle, and per-query top-k happens in a
    * map-side-combining Aggregator (graft.functions.TopK) — the
    * shuffle carries ≤ k rows per query per partition, never the
    * queries × corpus scored-pair set a window form would move.
    * Ties broken by neighbor id; self-pairs excluded when ids collide.
    * Output: (query_id, neighbor_id, cos, rank).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.toDF("query_id", "qv")
      .withColumn("qn", norm(col("qv")))
    val c = corpus.toDF("neighbor_id", "cv")
      .withColumn("cn", norm(col("cv")))
    topKBy(broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", exactCos), k, "cos")
  }

  /** Exact top-k EUCLIDEAN neighbors — the oracle-checkable exact twin
    * of spark.ml's BRP-LSH (m06). Same scale shape as
    * [[bruteForceTopK]]: broadcast queries, one corpus pass, map-side
    * top-k combine. Distance is [[exactDist]] with per-row squared
    * norms computed once — three codegen'd dots total.
    * Output: (query_id, neighbor_id, dist, rank), ascending distance,
    * ties by neighbor id. */
  def euclideanTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val (q, c) = euclidSides(queries, corpus)
    topKBy(broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", exactDist), k, "dist", nearest = true)
  }

  /** Deterministic pseudo-random unit hyperplanes (driver-side seeded
    * RNG, shipped as literals — tiny: nBits × dim floats). Exposed
    * within the engine so the DuckDB oracle generator can inline the
    * SAME planes and reproduce signatures bit-for-bit. */
  private[graft] def hyperplanes(dim: Int, nBits: Int, seed: Long): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Sign-bit signature of `vec` against the hyperplane set. */
  private def signature(vec: Column, planes: Seq[Array[Float]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dotF(vec, lit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** (`idName`, band, bh): one row per band of the `nBits`-bit `sig`
    * column, `bh` the band's `nBits / bands` bits. Two rows are LSH
    * candidates when they share a (band, bh) key. */
  private def bandsOf(df: DataFrame, idName: String, nBits: Int,
      bands: Int): DataFrame = {
    require(nBits % bands == 0)
    val rows = nBits / bands
    val mask = (1L << rows) - 1
    df.select(col(idName),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * rows).bitwiseAND(mask)): _*))
        .as(Seq("band", "bh")))
  }

  /** Random-hyperplane LSH approximate top-k: rows whose signatures
    * agree on ≥1 of `bands` bands become candidates, then exact cosine
    * ranks them. Recall grows with bands; cost stays linear in rows.
    * Output: (query_id, neighbor_id, cos, rank) — rank ≤ k per query,
    * possibly fewer than k rows when buckets miss true neighbors.
    *
    * Scale shape (same as [[cosineNearDupPairsLsh]] / s01/s03/s04):
    * only (query_id, neighbor_id) id pairs ride the candidate-dedup
    * shuffle — the embedding payloads rejoin AFTER the distinct, so a
    * hot band bucket never duplicates vectors through an exchange —
    * and per-query top-k is the map-side-combining TopK Aggregator
    * (≤ k rows per query per partition), never a window over every
    * scored candidate. The bounded query side broadcasts twice: into
    * the band join and into the vector rejoin.
    */
  def lshCosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, nBits: Int = 32, bands: Int = 8, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nBits, seed)
    val q = queries.toDF("query_id", "qv")
      .withColumn("qn", norm(col("qv")))
      .withColumn("sig", signature(col("qv"), planes))
    val c = graft.Caches.cached(corpus.toDF("neighbor_id", "cv")
      .withColumn("cn", norm(col("cv")))
      .withColumn("sig", signature(col("cv"), planes)))

    val cand = broadcast(bandsOf(q, "query_id", nBits, bands))
      .join(bandsOf(c, "neighbor_id", nBits, bands), Seq("band", "bh"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()

    topKBy(cand
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .join(c.select("neighbor_id", "cv", "cn"), Seq("neighbor_id"))
      .withColumn("cos", exactCos), k, "cos")
  }

  /** IVF (inverted-file) ANN with FIXED seeded centroids — the
    * oracle-checkable twin of graft.ml.VectorSearch.ivfTopK (whose
    * KMeans centroids are platform-dependent). Mechanics are identical
    * to production IVF:
    *  - every corpus row is assigned to its nearest of `nlist`
    *    centroids by a scan-stage argmin expression (no shuffle, no
    *    explode — one L2-expansion distance per centroid, centroids
    *    shipped as literals);
    *  - each query probes its `nprobe` nearest lists;
    *  - candidates = corpus rows in probed lists, ranked by exact
    *    cosine via the map-side TopK combine.
    * Centroids derive from the seeded generator, so the DuckDB oracle
    * inlines the SAME values and every assignment, probe set, and rank
    * matches bit-for-bit. Output: (query_id, neighbor_id, cos, rank).
    */
  def ivfFixedTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 7L): DataFrame = {
    val cents = hyperplanes(dim, nlist, seed)
    ivfServe(queries, assignFixed(corpus, cents), cents, k, nprobe)
  }

  /** Metadata-FILTERED IVF search (the vector-DB "filtered search"
    * shape): top-k cosine neighbors among corpus rows satisfying
    * `keep`, served from the SHARED unfiltered index — the filter is
    * applied to the assignment rows of the probed lists BEFORE
    * scoring, so one index build serves every predicate and the serve
    * scan still reads only ~nprobe/nlist of the corpus. `corpus` is
    * (id, vec, attr); `keep` is a predicate over the attr column named
    * "attr". Same probe/rank mechanics as [[ivfFixedTopK]], so the
    * oracle replays it with a WHERE on the assignment CTE.
    *
    * Scale shape: identical to ivfServe (broadcast probes × pruned
    * lists) with one extra scan-stage filter on the assignment frame —
    * Catalyst pushes it below the probe join, so selective predicates
    * SHRINK the join, never grow it. */
  def ivfFilteredTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, nlist: Int, nprobe: Int, seed: Long,
      keep: Column): DataFrame = {
    val cents = hyperplanes(dim, nlist, seed)
    val a = corpus.toDF("neighbor_id", "cv", "attr")
      .withColumn("cn", norm(col("cv")))
      .withColumn("cluster", argmin(distArr(col("cv"), cents)))
    ivfServe(queries, a.filter(keep).drop("attr"), cents, k, nprobe)
  }

  /** SemDeDup-style CLUSTER-PARTITIONED embedding dedup (Abbas et al.
    * 2023): assign every row to its nearest fixed centroid, compare
    * pairs only WITHIN a cell, and drop any row that has a lower-id
    * neighbor at cosine ≥ `minCos` in its cell. The candidate set is
    * the k-means cell, not an LSH band — the other standard
    * candidate-pruning geometry next to [[dropNearDupEmbeddingsLsh]]
    * (banded) — and the deterministic keep rule (survive iff no
    * lower-id in-cell neighbor ≥ τ) is exactly the paper's
    * keep-one-per-neighborhood semantics made order-free.
    *
    * Scale shape: the self-join keys on `cluster`, so work is
    * Σ|cell|² — at 100 TB nlist grows with the corpus to hold cell
    * sizes constant (the paper runs 50k clusters). Two load-bearing
    * details, both measured at 30× (PERF.md round 9): (1) the cosine
    * test rides INSIDE the join condition, so only dropped ids are
    * ever emitted — putting it in a post-join filter materializes
    * every within-cell pair WITH both float payloads (a 27-minute DNF
    * at 60k rows × 16 cells vs seconds in-condition); (2) the a-side
    * is salted into `saltBuckets` id-hash buckets (b-side replicated
    * per bucket) and both sides are explicitly repartitioned on
    * (cluster, bkt), so a cell's pair block parallelizes across
    * saltBuckets tasks instead of being bounded by nlist — and the
    * explicit partition count keeps AQE from coalescing the tiny
    * INPUT (vectors are small; the work is the pair product) onto one
    * task. Output: surviving (id, v, cluster) rows. */
  def semDedupKept(df: DataFrame, minCos: Double, dim: Int, nlist: Int,
      seed: Long, saltBuckets: Int = 8): DataFrame = {
    val cents = hyperplanes(dim, nlist, seed)
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val a0 = graft.Caches.cached(assignFixed(df, cents))
    val a = a0.select(col("cluster"), col("neighbor_id").as("id_a"),
        col("cv").as("va"), col("cn").as("na"))
      .withColumn("bkt",
        pmod(xxhash64(col("id_a")), lit(saltBuckets.toLong)).cast("int"))
      .repartition(parts, col("cluster"), col("bkt"))
    val b = a0.select(col("cluster"), col("neighbor_id").as("id_b"),
        col("cv").as("vb"), col("cn").as("nb"))
      .withColumn("bkt",
        explode(array((0 until saltBuckets).map(i => lit(i)): _*)))
      .repartition(parts, col("cluster"), col("bkt"))
    val dropped = a.join(b,
        a("cluster") === b("cluster") && a("bkt") === b("bkt") &&
          col("id_a") < col("id_b") &&
          round(safeCos(dotF(col("va"), col("vb")),
            col("na"), col("nb")), 6) >= minCos)
      .select(col("id_b").as("neighbor_id")).distinct()
    a0.join(dropped, Seq("neighbor_id"), "left_anti")
      .select(col("neighbor_id").as("id"), col("cv").as("v"), col("cluster"))
  }

  /** dist²(v, c_j) up to the common ‖v‖² term (rank-invariant):
    * −2·v·c_j + c_jᵀc_j for each centroid (or PQ code) c_j — the
    * cheapest scan-stage form, vectors shipped as literals. */
  private def distArr(vec: Column, cents: Seq[Array[Float]]): Column =
    array(cents.map(c =>
      lit(-2.0) * dotF(vec, lit(c)) + lit(c.map(x => x.toDouble * x).sum)): _*)

  /** 1-based index of the first minimum of `arr` — the deterministic
    * argmin tie-break on both engines. */
  private def argmin(arr: Column): Column =
    array_position(arr, array_min(arr)).cast("int")

  /** Scan-stage argmin assignment of corpus rows to centroid lists —
    * the IVF BUILD: (neighbor_id, cv, cn, cluster 1-based). No
    * shuffle, no explode: one L2-expansion distance per centroid. */
  private[graft] def assignFixed(corpus: DataFrame,
      cents: Seq[Array[Float]]): DataFrame =
    corpus.toDF("neighbor_id", "cv")
      .withColumn("cn", norm(col("cv")))
      .withColumn("cluster", argmin(distArr(col("cv"), cents)))

  /** The `nprobe` nearest 1-based cluster ids of a query vector under
    * [[assignFixed]]'s distance, rank ties by centroid index — the
    * probe of every IVF serve here, as a PURE SCAN-STAGE expression:
    * array_sort of (d, cluster) structs, sliced to nprobe. No window,
    * no shuffle, so it also runs unchanged on a STREAMING frame (the
    * sw11 admission path). Equivalent to a row_number window over
    * (d, j) per query (lexicographic struct order, cluster = j+1
    * monotone in j); PropertySpec pins that equivalence. */
  private[graft] def probeClusters(qv: Column, cents: Seq[Array[Float]],
      nprobe: Int): Column = {
    val scored = transform(distArr(qv, cents),
      (d, j) => struct(d.as("d"), (j + 1).as("cluster")))
    transform(slice(array_sort(scored), 1, nprobe), s => s.getField("cluster"))
  }

  /** Each query row of (query_id, qv, …) once per probed cluster. */
  private def probed(queries: DataFrame, cents: Seq[Array[Float]],
      nprobe: Int): DataFrame =
    queries.withColumn("cluster", explode(probeClusters(col("qv"), cents, nprobe)))

  /** IVF SERVE over an (neighbor_id, cv, cn, cluster) assignment frame
    * plus centroid values: probe each query's `nprobe` nearest lists,
    * rank probed candidates by exact cosine via the map-side TopK
    * combine. Shared verbatim by the in-memory path ([[ivfFixedTopK]])
    * and the persisted-index path (graft.ml.VectorSearch.readIvfIndex
    * → this) — the s16 round-trip contract is exactly "same function,
    * reloaded inputs". */
  private[graft] def ivfServe(queries: DataFrame, assigned: DataFrame,
      cents: Seq[Array[Float]], k: Int, nprobe: Int): DataFrame = {
    val probes = probed(queries.toDF("query_id", "qv")
      .withColumn("qn", norm(col("qv"))), cents, nprobe)
    topKBy(broadcast(probes).join(assigned, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", exactCos), k, "cos")
  }

  /** Embedding near-dup pairs via hyperplane-LSH banding — the
    * REGISTERED scale path (d06). Candidates are rows whose sign-bit
    * signatures agree on ≥1 of `bands` bands (one shuffle keyed by
    * (band, bandHash) — never all-pairs), then exact cosine verifies
    * each candidate against `minCos`. Output: (id_a, id_b, cos),
    * id_a < id_b. Recall is governed by nBits/bands (defaults: 64 bits
    * in 16 bands of 4 → ~94% at cos 0.4, higher for closer pairs);
    * emitted pairs are EXACT (cosine recomputed, never estimated).
    * [[cosineNearDupPairs]] below is the brute-force cross-check. */
  def cosineNearDupPairsLsh(df: DataFrame, minCos: Double, dim: Int,
      nBits: Int = 64, bands: Int = 16, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nBits, seed)
    val n = graft.Caches.cached(df.toDF("id", "v")
      .withColumn("nrm", norm(col("v")))
      .withColumn("sig", signature(col("v"), planes)))
    val banded = bandsOf(n, "id", nBits, bands)
    // distinct BEFORE rejoining vectors: only (id, id) pairs ride the
    // dedup shuffle, not the embedding payloads
    val cand = banded.toDF("id_a", "band", "bh")
      .join(banded.toDF("id_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(n.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("nrm_a")), "id_a")
      .join(n.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nrm_b")), "id_b")
      .withColumn("cos", round(safeCos(dotF(col("va"), col("vb")), col("nrm_a"), col("nrm_b")), 6))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Embedding near-dup KEEP — collapse every cosine-near-dup CLUSTER
    * to its minimum-id representative: LSH-banded pairs
    * ([[cosineNearDupPairsLsh]]) → min-label connected components →
    * survivors whose id equals their component label. The embedding
    * sibling of graft.dedup.Dedup.dropNearDupsPortable, same scale
    * shape (banded candidates, per-superstep keyed shuffles). Output:
    * surviving (id, v) rows. `iters < 0` (default) iterates components
    * to a fixpoint; a fixed count is only correct when cluster
    * diameter ≤ iters (the oracle queries pin it to their unrolled-CTE
    * step count). */
  def dropNearDupEmbeddingsLsh(df: DataFrame, minCos: Double, dim: Int,
      nBits: Int = 60, bands: Int = 15, seed: Long = 42L,
      iters: Int = -1): DataFrame = {
    val pairs = cosineNearDupPairsLsh(df, minCos, dim, nBits, bands, seed)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val named = df.toDF("id", "v")
    val labels =
      graft.graph.IterativeGraph.minLabelComponents(named.select("id"), edges, iters)
    named.join(labels.filter(col("id") === col("label")).select("id"),
      Seq("id"), "left_semi")
  }

  /** SEMANTIC decontamination, step 1 — ids of corpus rows whose
    * embedding has cosine ≥ `minCos` with ANY benchmark/eval
    * embedding. The embedding-level sibling of the exact n-gram
    * decontamination (graft.dedup.Dedup.contaminatedIds): verbatim
    * overlap is caught by n-grams, but a PARAPHRASED eval item only
    * the embedding space sees. Cross-set shape = the incremental
    * near-dup join (d16), not a self-join: the benchmark side is an
    * eval suite — small — so its banded signatures and its vectors
    * BROADCAST; the corpus side is scanned once for signatures and
    * probed only on band-bucket hits. Exact cosine verifies every
    * candidate (flags are never estimate-only). Output: (id) distinct
    * flagged corpus ids. */
  def semanticContaminatedIds(corpus: DataFrame, benchmark: DataFrame,
      minCos: Double, dim: Int, nBits: Int = 60, bands: Int = 15,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nBits, seed)
    def sigOf(df: DataFrame, idName: String, vName: String) =
      df.toDF(idName, vName)
        .withColumn(s"${idName}_nrm", norm(col(vName)))
        .withColumn("sig", signature(col(vName), planes))
    val c = graft.Caches.cached(sigOf(corpus, "id", "v"))
    val b = graft.Caches.cached(sigOf(benchmark, "bid", "bv"))
    // ids only through the candidate dedup (the d06 house rule)
    val cand = bandsOf(c, "id", nBits, bands)
      .join(broadcast(bandsOf(b, "bid", nBits, bands)), Seq("band", "bh"))
      .select("id", "bid").distinct()
    cand
      .join(c.select("id", "v", "id_nrm"), "id")
      .join(broadcast(b.select("bid", "bv", "bid_nrm")), "bid")
      .filter(round(safeCos(dotF(col("v"), col("bv")),
        col("id_nrm"), col("bid_nrm")), 6) >= minCos)
      .select("id").distinct()
  }

  /** Semantic decontamination, step 2 — the corpus minus every row
    * flagged by [[semanticContaminatedIds]] (left-anti on the flagged
    * id set, which is benchmark-overlap-sized). Corpus columns pass
    * through unchanged. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, minCos: Double, dim: Int,
      nBits: Int = 60, bands: Int = 15, seed: Long = 42L): DataFrame = {
    val bad = semanticContaminatedIds(
        corpus.select(col(idCol), col(vecCol)),
        benchmark.select(col(idCol), col(vecCol)),
        minCos, dim, nBits, bands, seed)
      .select(col("id").as("__contam_id"))
    corpus.join(bad, corpus(idCol) === col("__contam_id"), "left_anti")
  }

  /** Per-vector symmetric int8 scalar quantization — the embedding
    * COMPRESSION pass a 100 TB vector corpus runs before serving or
    * re-indexing (4× smaller than float32, dot products stay in
    * integer SIMD on a real serving path).
    *
    *   scale = max(|v_i|) / 127;  q_i = floor(v_i/scale + 0.5) ∈ [-127, 127]
    *
    * (floor(x + 0.5) = round-half-toward-+∞ — chosen over `round`
    * because its semantics are bit-identical across engines, so the
    * whole operator is DuckDB-oracle-checkable.) Emits per-row
    * reconstruction MSE = Σ(v_i − q_i·scale)²/dim as the quality
    * signal. Pure scan-stage expressions in double precision,
    * sequential folds only — zero shuffle, deterministic. Zero vectors
    * quantize to all-zero with scale 0 (guarded: no 0/0). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val asDouble = transform(col(vecCol), _.cast("double"))
    df.select(col(idCol), asDouble.as("__v"))
      .withColumn("scale", array_max(transform(col("__v"), abs(_))) / 127.0)
      .withColumn("q",
        when(col("scale") > 0,
          transform(col("__v"), x => floor(x / col("scale") + lit(0.5)).cast("int")))
        .otherwise(transform(col("__v"), _ => lit(0))))
      .withColumn("mse",
        aggregate(zip_with(col("__v"), col("q"),
            (x, qi) => (x - qi * col("scale")) * (x - qi * col("scale"))),
          lit(0.0d), _ + _) / size(col("__v")))
      .withColumnRenamed("__v", "v")
  }

  /** SQ8 asymmetric-distance top-k — serving straight from the
    * [[quantizeInt8]] codes (the scalar-quantization sibling of
    * [[pqAdcTopK]], and the other standard vector-index compression
    * next to PQ: FAISS's SQ8): both sides quantize to int8 with a
    * per-vector max-abs scale; the similarity is the EXACT integer
    * dot of the codes rescaled by (scale_q · scale_c) — an
    * inner-product search over 1 byte/dim instead of 4.
    *
    * Scale shape: the corpus quantizes ONCE (cached — at 100 TB this
    * is the persisted int8 index, dim bytes + one float per row);
    * queries broadcast; per-pair work is one integer dot; the
    * map-side TopK combine ships ≤ k rows per query per partition.
    * Every step is integer-exact or a single double product, so the
    * oracle replays scores bit-for-bit. Output: (query_id,
    * neighbor_id, score, rank), score descending, id tie-break. */
  def sq8AdcTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val c = graft.Caches.cached(
      quantizeInt8(corpus, "vec_id", "embedding")
        .select(col("vec_id").as("neighbor_id"), col("scale").as("sc"),
          col("q").as("qc")))
    val q = quantizeInt8(queries, "vec_id", "embedding")
      .select(col("vec_id").as("query_id"), col("scale").as("sq"),
        col("q").as("qq"))
    val intDot = aggregate(
      zip_with(col("qq"), col("qc"), (a, b) => a.cast("long") * b),
      lit(0L), _ + _)
    topKBy(broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round((col("sq") * col("sc")) * intDot.cast("double"), 6)), k, "score")
  }

  /** Fixed seeded PQ codebooks: `m` subspaces × `k` code vectors of
    * dim/m floats each (same generator family as [[hyperplanes]], one
    * seed offset per subspace). Exposed so the DuckDB oracle inlines
    * the SAME values. */
  private[graft] def pqCodebooks(dim: Int, m: Int, k: Int,
      seed: Long): Seq[Seq[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m subspaces")
    (0 until m).map(j => hyperplanes(dim / m, k, seed + j))
  }

  /** Product quantization encode — the embedding COMPRESSION step past
    * int8 ([[quantizeInt8]]): each vector is split into `m` subvectors
    * and each subvector replaced by the index of its nearest code in a
    * per-subspace codebook of `k` entries, so a dim-float vector
    * becomes m small ints (dim=64, m=4, k=16 → 256 B → 4 B codes +
    * shared codebooks). Codebooks here are FIXED seeded literals (the
    * production path would k-means them per corpus slice; the
    * mechanics — argmin assignment, code layout, ADC — are identical),
    * which keeps every code and error DuckDB-replayable.
    *
    * Pure scan-stage expressions: per subspace one L2-expansion
    * distance to each code (‖x−c‖² = x·x − 2x·c + c·c, codes shipped
    * as literals), argmin by first-minimum — zero shuffle,
    * deterministic. Output: (id, v, codes array<int> 1-based, mse) —
    * mse is the per-row reconstruction error Σ_j ‖x_j − c_sel‖² / dim,
    * accumulated in subspace order (sequential fold, oracle-matched).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 4, k: Int = 16, seed: Long = 11L): DataFrame =
    pqEncodeWith(df, idCol, vecCol, dim, pqCodebooks(dim, m, k, seed))

  /** [[pqEncode]] against EXPLICIT codebooks — the entry point for
    * TRAINED books (graft.ml.VectorSearch.pqTrainCodebooks); the
    * seeded path above delegates here. */
  private[graft] def pqEncodeWith(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, books: Seq[Seq[Array[Float]]]): DataFrame = {
    // vectors stay float arrays: FloatDot widens per-element to double
    // internally (the exact arithmetic the oracle's CAST-to-double
    // list_sum replays)
    val v = col("__v")
    // true squared error per subspace = min(dist) + x_j·x_j; summed in
    // j order so the oracle's list_sum reproduces the same fold
    val errs = array(pqDists(v, books).zip(subvecs(v, books)).map {
      case (d, x) => array_min(d) + dotF(x, x)
    }: _*)
    df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("codes", pqCodesColumn(v, books))
      .withColumn("mse", aggregate(errs, lit(0.0), _ + _) / lit(dim))
      .withColumnRenamed("__v", "v")
  }

  /** PQ asymmetric-distance top-k (ADC): raw query vectors against the
    * PQ-ENCODED corpus — the serving-scale ANN scan. The corpus side
    * carries ONLY (id, codes): m small ints per row instead of dim
    * floats, so the broadcast-queries × corpus pass moves 64× less
    * data than brute force; distance is the standard ADC approximation
    * Σ_j ‖q_j − codebook_j[code_j]‖², computed against code literals
    * (codebooks are vocabulary-sized and live in the plan). Map-side
    * TopK combine as in [[bruteForceTopK]] — ≤ topK rows per query per
    * partition ride the shuffle. Output: (query_id, neighbor_id,
    * adc_dist, rank), ascending distance, ties by neighbor id. */
  def pqAdcTopK(queries: DataFrame, corpusCodes: DataFrame, topK: Int,
      dim: Int, m: Int = 4, k: Int = 16, seed: Long = 11L): DataFrame =
    pqAdcTopKWith(queries, corpusCodes, topK, pqCodebooks(dim, m, k, seed))

  /** [[pqAdcTopK]] against EXPLICIT codebooks (trained or seeded). */
  private[graft] def pqAdcTopKWith(queries: DataFrame, corpusCodes: DataFrame,
      topK: Int, books: Seq[Seq[Array[Float]]]): DataFrame = {
    val q = queries.toDF("query_id", "qv") // float arrays (see pqEncode)
    val c = corpusCodes.toDF("neighbor_id", "codes")
    topKBy(broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", round(pqAdcDistColumn(col("qv"), books), 6)),
      topK, "adc_dist", nearest = true)
  }

  /** COMPOSED IVF-PQ build — one scan stage over the corpus emitting
    * (neighbor_id, codes, cluster): the PQ codes ([[pqEncode]]'s
    * argmin expressions) and the IVF list assignment ([[assignFixed]]'s
    * argmin) are both scan-stage projections, so Catalyst collapses
    * them into a single pass with zero shuffle — the build shape that
    * holds at 100 TB (each executor encodes + assigns its own split;
    * the only exchange is the partitioned index WRITE, paid once).
    * The float vectors are DROPPED here: the index row is m small ints
    * + a list id, the whole point of the composition.
    *
    * MATERIALIZED (Caches.cached) before serving, and measurably so:
    * whole-stage codegen defers stream-side column evaluation into the
    * broadcast join's consume path, so an UNmaterialized codes
    * expression re-runs the 2·m·k encode dot products per (query,
    * candidate) MATCH instead of once per corpus row — the 30× scale
    * probe read 20.6 s unmaterialized vs 3.0 s through the persisted
    * (parquet-materialized) path on identical data; cached, the
    * in-memory serve matches. The persisted path (writeIvfPqIndex)
    * needs no cache — parquet IS the materialization. */
  private[graft] def ivfPqEncodeAssign(corpus: DataFrame,
      cents: Seq[Array[Float]], dim: Int, m: Int, kCodes: Int,
      pqSeed: Long): DataFrame =
    ivfPqEncodeAssignWith(corpus, cents, dim,
      pqCodebooks(dim, m, kCodes, pqSeed))

  /** [[ivfPqEncodeAssign]] against EXPLICIT codebooks — the entry
    * point for appends that must encode under the ARTIFACT's frozen
    * books (graft.ml.VectorSearch.appendToIvfPqIndex) and for trained
    * books. */
  private[graft] def ivfPqEncodeAssignWith(corpus: DataFrame,
      cents: Seq[Array[Float]], dim: Int,
      books: Seq[Seq[Array[Float]]]): DataFrame =
    graft.Caches.cached(
      pqEncodeWith(corpus.toDF("neighbor_id", "cv"), "neighbor_id", "cv",
          dim, books)
        .withColumn("cluster", argmin(distArr(col("v"), cents)))
        .select("neighbor_id", "codes", "cluster"))

  /** COMPOSED IVF-PQ serve over a (neighbor_id, codes, cluster) coded
    * assignment frame: each query probes its `nprobe` nearest lists
    * (same ranking as [[ivfServe]]), and candidates WITHIN those lists
    * are scored by the PQ asymmetric distance ([[pqAdcDistColumn]]
    * against codebook literals) — never by their
    * float vectors, which the index doesn't even store. The serve scan
    * therefore reads m bytes-ish per candidate AND touches only
    * ~nprobe/nlist of the corpus: the memory×pruning composition a
    * production 100 TB ANN deployment actually runs. Probes broadcast
    * into a cluster equi-join (on the persisted layout this prunes
    * unprobed list directories on disk); per-query top-k is the
    * map-side-combining TopK Aggregator. Shared verbatim by the
    * in-memory path ([[ivfPqTopK]]) and the persisted path
    * (graft.ml.VectorSearch.ivfPqTopKPersisted) — the s19 round-trip
    * contract is "same function, reloaded inputs", the s16 pattern.
    * Output: (query_id, neighbor_id, adc_dist, rank), ascending
    * distance, ties by neighbor id. */
  private[graft] def ivfPqServe(queries: DataFrame, coded: DataFrame,
      cents: Seq[Array[Float]], books: Seq[Seq[Array[Float]]],
      topK: Int, nprobe: Int): DataFrame = {
    val probes = probed(queries.toDF("query_id", "qv"), cents, nprobe)
    topKBy(broadcast(probes).join(coded, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", round(pqAdcDistColumn(col("qv"), books), 6)),
      topK, "adc_dist", nearest = true)
  }

  /** IVF-PQ approximate top-k with fixed seeded centroids AND fixed
    * seeded codebooks — [[ivfFixedTopK]]'s list pruning composed with
    * [[pqAdcTopK]]'s compressed scoring (s18). Both parameter sets
    * derive from seeded generators, so the DuckDB oracle inlines the
    * SAME centroid and codebook literals and replays assignment, probe
    * sets, ADC distances, and ranks bit-for-bit. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, topK: Int, dim: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, kCodes: Int = 16,
      ivfSeed: Long = 7L, pqSeed: Long = 11L): DataFrame = {
    val cents = hyperplanes(dim, nlist, ivfSeed)
    val books = pqCodebooks(dim, m, kCodes, pqSeed)
    ivfPqServe(queries,
      ivfPqEncodeAssign(corpus, cents, dim, m, kCodes, pqSeed),
      cents, books, topK, nprobe)
  }

  /** Metadata-FILTERED composed IVF-PQ (s26): [[ivfPqTopK]]'s probe +
    * ADC serve restricted to corpus rows satisfying `keep` — the
    * vector-DB "filtered search" shape ([[ivfFilteredTopK]]) on the
    * production compressed index. ONE unfiltered index serves every
    * predicate: the corpus encodes/assigns once, the attribute column
    * joins INTO the coded frame at build (production stores attrs in
    * the index rows), and the serve applies `keep` to the coded
    * assignment rows BEFORE ADC scoring — Catalyst pushes the
    * deterministic filter below the probe join, so a selective
    * predicate SHRINKS the candidate scan, which still touches only
    * ~nprobe/nlist of the corpus at m-bytes-ish per candidate.
    * `corpus` is (id, vec, attr); `keep` is a predicate over "attr".
    * Output: (query_id, neighbor_id, adc_dist, rank). */
  def ivfPqFilteredTopK(queries: DataFrame, corpus: DataFrame, topK: Int,
      dim: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 4,
      kCodes: Int = 16, ivfSeed: Long = 7L, pqSeed: Long = 11L,
      keep: Column): DataFrame = {
    val cents = hyperplanes(dim, nlist, ivfSeed)
    val books = pqCodebooks(dim, m, kCodes, pqSeed)
    val c3 = corpus.toDF("neighbor_id", "cv", "attr")
    val coded = ivfPqEncodeAssign(
        c3.select("neighbor_id", "cv"), cents, dim, m, kCodes, pqSeed)
      .join(c3.select("neighbor_id", "attr"), "neighbor_id")
    ivfPqServe(queries, coded.filter(keep).drop("attr"),
      cents, books, topK, nprobe)
  }

  /** The per-subspace slices of vector column `v` — one per codebook,
    * each as long as that book's code vectors (dim / m). */
  private def subvecs(v: Column, books: Seq[Seq[Array[Float]]]): Seq[Column] = {
    val sub = books.head.head.length
    books.indices.map(j => slice(v, j * sub + 1, sub))
  }

  /** Per-subspace [[distArr]] of `v`'s slices against their codebooks
    * (up to the common x_j·x_j term) — the one PQ distance behind the
    * codes (argmin) and the reconstruction error (min). */
  private def pqDists(v: Column, books: Seq[Seq[Array[Float]]]): Seq[Column] =
    subvecs(v, books).zip(books).map { case (x, book) => distArr(x, book) }

  /** PQ codes of vector column `v`: 1-based first-minimum argmin per
    * subspace — shared by [[pqEncodeWith]] and the RESIDUAL build. */
  private def pqCodesColumn(v: Column, books: Seq[Seq[Array[Float]]]): Column =
    array(pqDists(v, books).map(argmin): _*)

  /** ADC distance Σ_j ‖q_j − codebook_j[code_j]‖² of query-side vector
    * column `qv` against the row's `codes` column, the selected code's
    * vector and self-dot looked up from literal arrays (q_j·c
    * recomputed per pair — dim·1 flops; the classic per-query LUT is
    * an optimization the oracle can't see). Shared by every PQ serve,
    * raw and RESIDUAL. */
  private def pqAdcDistColumn(qv: Column,
      books: Seq[Seq[Array[Float]]]): Column =
    subvecs(qv, books).zip(books).zipWithIndex.map { case ((x, book), j) =>
      val code = element_at(col("codes"), j + 1)
      dotF(x, x) -
        lit(2.0) * dotF(x, element_at(typedLit(book.map(_.toSeq)), code)) +
        element_at(typedLit(book.map(_.map(y => y.toDouble * y).sum)), code)
    }.reduce(_ + _)

  /** `v − centroid(cluster)` for the row's 1-based `cluster` column. */
  private def residual(v: Column, cents: Seq[Array[Float]]): Column =
    zip_with(v, element_at(typedLit(cents.map(_.toSeq)), col("cluster")),
      (a, b) => a - b)

  /** RESIDUAL IVF-PQ build (the FAISS-IVFPQ standard form): codes
    * encode each vector's residual v − centroid(cluster), NOT the raw
    * vector — residuals concentrate around the origin once the coarse
    * quantizer has absorbed the cluster mean, so the same code budget
    * carries strictly more ranking signal. Still one scan stage
    * (assignment and residual are both literal-backed expressions),
    * materialized for the serve join like [[ivfPqEncodeAssign]].
    * Output: (neighbor_id, codes, cluster). */
  private[graft] def ivfPqResidualEncodeAssign(corpus: DataFrame,
      cents: Seq[Array[Float]], books: Seq[Seq[Array[Float]]]): DataFrame =
    graft.Caches.cached(
      assignFixed(corpus, cents)
        .withColumn("rv", residual(col("cv"), cents))
        .withColumn("codes", pqCodesColumn(col("rv"), books))
        .select("neighbor_id", "codes", "cluster"))

  /** RESIDUAL IVF-PQ serve: probes as in [[ivfPqServe]]; within each
    * probed list the QUERY's residual against THAT list's centroid
    * (computed per probe row — nprobe small rows per query) ADC-scores
    * the candidates' residual codes. Output: (query_id, neighbor_id,
    * adc_dist, rank). */
  private[graft] def ivfPqResidualServe(queries: DataFrame, coded: DataFrame,
      cents: Seq[Array[Float]], books: Seq[Seq[Array[Float]]],
      topK: Int, nprobe: Int): DataFrame = {
    val probes = probed(queries.toDF("query_id", "qv"), cents, nprobe)
      .select(col("query_id"), col("cluster"),
        residual(col("qv"), cents).as("qrv"))
    topKBy(broadcast(probes).join(coded, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", round(pqAdcDistColumn(col("qrv"), books), 6)),
      topK, "adc_dist", nearest = true)
  }

  /** Residual IVF-PQ top-k with fixed seeded centroids and codebooks
    * (s22) — [[ivfPqTopK]] in the FAISS-standard residual form. Every
    * parameter is a seeded literal, so the oracle replays assignment,
    * residuals, codes, probe sets, ADC distances, and ranks
    * bit-for-bit. `booksOverride` lets m17 serve TRAINED residual
    * codebooks through the identical mechanics. */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, topK: Int,
      dim: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 4,
      kCodes: Int = 16, ivfSeed: Long = 7L, pqSeed: Long = 11L,
      booksOverride: Option[Seq[Seq[Array[Float]]]] = None): DataFrame = {
    val cents = hyperplanes(dim, nlist, ivfSeed)
    val books = booksOverride.getOrElse(pqCodebooks(dim, m, kCodes, pqSeed))
    ivfPqResidualServe(queries,
      ivfPqResidualEncodeAssign(corpus, cents, books),
      cents, books, topK, nprobe)
  }

  /** The residual frame (id, v − centroid(cluster)) under the fixed
    * seeded coarse quantizer — the training input for m17's residual
    * codebooks (graft.ml.VectorSearch.pqTrainCodebooks consumes it). */
  def residualVectors(corpus: DataFrame, dim: Int, nlist: Int,
      ivfSeed: Long): DataFrame = {
    val cents = hyperplanes(dim, nlist, ivfSeed)
    assignFixed(corpus, cents)
      .select(col("neighbor_id").as("id"), residual(col("cv"), cents).as("v"))
  }

  /** IVF-PQ probe-count recall sweep — the [[ivfProbeSweep]] of the
    * COMPOSED index (s21): for each candidate `nprobe`, serve
    * [[ivfPqTopK]] from ONE shared coded build and audit it against
    * the exact EUCLIDEAN top-k (the metric ADC approximates — the s20
    * baseline). This is the commissioning measurement a deployment of
    * the s19 index runs to pick nprobe: the composed sweep reads
    * lower than plain IVF's at equal probes because PQ quantization
    * error stacks on probe misses — which is exactly why it must be
    * measured on the composition, not inferred from the parts.
    * Output one row per probe count: (nprobe, n_queries, total_hits,
    * min_hits, avg_recall) — integer counts plus one single-division
    * ratio, engine-stable like [[ivfProbeSweep]]. */
  def ivfPqProbeSweep(queries: DataFrame, corpus: DataFrame, topK: Int,
      dim: Int, nlist: Int, nprobes: Seq[Int], m: Int = 4, kCodes: Int = 16,
      ivfSeed: Long = 7L, pqSeed: Long = 11L): DataFrame = {
    val cents = hyperplanes(dim, nlist, ivfSeed)
    val books = pqCodebooks(dim, m, kCodes, pqSeed)
    val coded = ivfPqEncodeAssign(corpus, cents, dim, m, kCodes, pqSeed)
    val exact = graft.Caches.cached(
      euclideanTopK(queries, corpus, topK).select("query_id", "neighbor_id"))
    recallSweep(exact, topK, "nprobe", nprobes)(np =>
      ivfPqServe(queries, coded, cents, books, topK, np))
  }

  /** Two-stage retrieval: a PQ-ADC shortlist over the ENCODED corpus,
    * then an EXACT Euclidean rerank of only the shortlisted candidates
    * against the true vectors — the production serving pattern
    * (compressed first-pass scan for recall, exact second pass for
    * precision). At 100 TB the economics are the point: stage 1 scans
    * m small ints per corpus row ([[pqAdcTopK]] — broadcast queries,
    * map-side TopK combine); stage 2 touches full vectors for only
    * `shortK` ids per query, rejoined by keyed equi-join on the
    * ID-ONLY shortlist (the d06 dedup-then-rejoin house rule — float
    * payloads never ride a shuffle they don't need). Rerank uses
    * [[exactDist]], the identity of [[euclideanTopK]], so the DuckDB
    * oracle replays both stages bit-for-bit (s10). Output:
    * (query_id, neighbor_id, dist, rank), ascending exact distance,
    * ties by neighbor id. */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame, shortK: Int,
      k: Int, dim: Int, m: Int = 4, kCodes: Int = 16,
      seed: Long = 11L): DataFrame = {
    val codes = pqEncode(corpus.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim, m, kCodes, seed).select("vec_id", "codes")
    euclideanRerank(pqAdcTopK(queries, codes, shortK, dim, m, kCodes, seed)
      .select("query_id", "neighbor_id"), queries, corpus, k)
  }

  /** Exact Euclidean top-k of an id-only (query_id, neighbor_id)
    * shortlist: full vectors rejoin for the shortlisted ids only.
    * Output: (query_id, neighbor_id, dist, rank). */
  private def euclideanRerank(short: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val (q, c) = euclidSides(queries, corpus)
    // broadcast the shortlist (≤ queries × shortK ids): without the
    // hint Catalyst may estimate it large and sort-merge-shuffle every
    // corpus row's full vector — the exact shuffle this stage avoids
    topKBy(broadcast(short)
      .join(c, "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("dist", exactDist), k, "dist", nearest = true)
  }

  /** Two-stage retrieval recall@k against the exact Euclidean top-k,
    * for EXPLICIT codebooks: ADC shortlist of `shortK` over the
    * encoded corpus, exact rerank of only the shortlisted ids, then
    * the recall audit — one aggregate row (n_queries, total_hits,
    * min_hits, avg_recall). The measurement arm behind m16's
    * fixed-vs-trained codebook comparison; same join shapes as
    * [[pqRerankTopK]] + [[recallAudit]]. */
  private[graft] def pqRerankRecallWith(queries: DataFrame, corpus: DataFrame,
      books: Seq[Seq[Array[Float]]], shortK: Int, k: Int, dim: Int): DataFrame = {
    val codes = pqEncodeWith(corpus.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim, books).select("vec_id", "codes")
    rerankRecallAgainstExact(
      pqAdcTopKWith(queries, codes, shortK, books)
        .select("query_id", "neighbor_id"),
      queries, corpus, k)
  }

  /** m17's residual arm: shortlist from the RESIDUAL IVF-PQ serve
    * (given centroids + books), exact rerank, recall vs exact — one
    * aggregate row, same mechanics as [[pqRerankRecallWith]]. */
  private[graft] def residualRerankRecall(queries: DataFrame, corpus: DataFrame,
      cents: Seq[Array[Float]], books: Seq[Seq[Array[Float]]],
      shortK: Int, k: Int, nprobe: Int): DataFrame =
    rerankRecallAgainstExact(
      ivfPqResidualServe(queries,
          ivfPqResidualEncodeAssign(corpus, cents, books),
          cents, books, shortK, nprobe)
        .select("query_id", "neighbor_id"),
      queries, corpus, k)

  /** Shared tail of the two-stage recall measurements: exact Euclidean
    * rerank of an id-only shortlist, then the recall audit vs the
    * exact top-k, collapsed to one aggregate row. */
  private def rerankRecallAgainstExact(short: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame =
    recallSummary(
      euclideanTopK(queries, corpus, k).select("query_id", "neighbor_id"),
      euclideanRerank(short, queries, corpus, k), k)

  /** Maximal Marginal Relevance (MMR) selection: pick `k` rows that
    * are RELEVANT to the query but DIVERSE among themselves —
    * greedily maximizing λ·cos(c, q) − (1−λ)·max_{s∈selected}
    * cos(c, s). The diversity-aware sampling move (few-shot pools,
    * eval sets, dedup-aware retrieval) where a plain top-k returns k
    * near-duplicates of the same best hit.
    *
    * Greedy MMR is inherently sequential in k: each of the k steps is
    * ONE distributed corpus scan (selected vectors ship as literals —
    * k·dim floats in the plan, no join) ending in a
    * TakeOrderedAndProject(1); only the single winning row comes back
    * to the driver. That driver loop is the algorithm, not an
    * anti-pattern — k is a constant (5–100), the corpus never
    * collects. Scores round to 6dp before the argmax so the
    * (score desc, id) selection replays identically in the oracle
    * (s09). Output: (pos 1..k, id, score). */
  def mmrTopK(corpus: DataFrame, queryVec: Array[Float], k: Int,
      lambda: Double = 0.7): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qn = math.sqrt(queryVec.map(x => x.toDouble * x).sum)
    val base = graft.Caches.cached(corpus.toDF("id", "v")
      .withColumn("nrm", norm(col("v")))
      .withColumn("qcos",
        safeCos(dotF(col("v"), lit(queryVec)), col("nrm"), lit(qn))))
    var selected = Vector.empty[(Long, Array[Float], Double)] // id, vec, score
    var exhausted = false
    for (_ <- 1 to k if !exhausted) {
      val maxSim = selected.map { case (_, sv, _) =>
        safeCos(dotF(col("v"), lit(sv)), col("nrm"),
          lit(math.sqrt(sv.map(x => x.toDouble * x).sum)))
      }.reduceOption(greatest(_, _)).getOrElse(lit(0.0))
      val score = round(lit(lambda) * col("qcos") - lit(1 - lambda) * maxSim, 6)
      val next = base
        .filter(!col("id").isInCollection(selected.map(_._1)))
        .withColumn("score", score)
        .orderBy(col("score").desc, col("id"))
        .limit(1)
        .select("id", "v", "score")
        .as[(Long, Array[Float], Double)]
        .collect()
      // corpus smaller than k: return what's selectable, not a crash
      if (next.isEmpty) exhausted = true else selected :+= next.head
    }
    selected.zipWithIndex
      .map { case ((id, _, s), i) => (i + 1, id, s) }
      .toDF("pos", "id", "score")
  }

  /** All pairs with cosine ≥ minCos, id_a < id_b — the brute-force
    * EXACT form. O(n²) pairs: not a registered query path; kept as the
    * oracle cross-check for [[cosineNearDupPairsLsh]] (SimilaritySpec
    * asserts the LSH output is a subset with recall bounds). */
  def cosineNearDupPairs(df: DataFrame, minCos: Double): DataFrame = {
    val n = df.toDF("id", "v").withColumn("nrm", norm(col("v")))
    val a = n.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("nrm_a"))
    val b = n.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(safeCos(dotF(col("va"), col("vb")), col("nrm_a"), col("nrm_b")), 6))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Per-label centroids + nearest-centroid assignment — the
    * embedding-space "cluster profile" pass (known-label sibling of
    * KMeans assignment; the building block of IVF probing and
    * centroid-based corpus audits).
    *
    * Centroids: posexplode to (label, pos, x) → avg per (label, pos) →
    * re-assembled in pos order. One shuffle keyed by (label, pos);
    * the centroid table is labels × dim — vocabulary-sized, so it
    * BROADCASTS to the assignment join at any corpus size. Assignment:
    * each vector scores every centroid (labels is small) in DOUBLE
    * precision via a sequential zip_with fold — the exact arithmetic
    * the DuckDB oracle replays — and keeps the best by
    * (rounded cos desc, label asc).
    *
    * Output: (id, label, assigned, cos) — `label` the row's own label,
    * `assigned` the nearest centroid's, `cos` rounded to 4dp
    * (centroid averages are parallel-summed, so trailing bits differ
    * from a sequential engine's; 4dp absorbs that). */
  def centroidAssign(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(labelCol).as("label"))
    val ex = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
    val cent = ex.groupBy("label", "pos")
      .agg(avg(col("x").cast("double")).as("cx"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        s => s.getField("cx")).as("c"))
      .select(col("label").as("clabel"), col("c"),
        sqrt(aggregate(col("c"), lit(0.0), (acc, x) => acc + x * x)).as("cnrm"))
    val scored = e
      .withColumn("vnrm",
        sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x.cast("double") * x)))
      .join(broadcast(cent))
      // zero-norm guard: 0-division would yield null, and null ordering
      // differs between engines (Spark desc-nulls-last vs DuckDB
      // nulls-first) — pin degenerate rows to cos 0 so the
      // (cos desc, label) tie-break is deterministic cross-engine
      .withColumn("cos", round(
        when(col("vnrm") * col("cnrm") > 0,
          aggregate(zip_with(col("v"), col("c"), (a, b) => a.cast("double") * b),
            lit(0.0), (acc, x) => acc + x) / (col("vnrm") * col("cnrm")))
        .otherwise(lit(0.0)), 4))
    scored.withColumn("__rn", row_number().over(Window.partitionBy("id")
        .orderBy(col("cos").desc, col("clabel"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("label"), col("clabel").as("assigned"), col("cos"))
  }
}

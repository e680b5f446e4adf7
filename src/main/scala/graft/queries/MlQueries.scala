package graft.queries

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._

import graft.Tables
import graft.graph.PropertyGraph
import graft.ml.{Clustering, ContentFeatures, Recommend, VectorSearch}

/** ML query pack (SURVEY §2.9): ALS recommendation, TF-IDF/PCA/KMeans,
  * LDA topics, metadata clustering, BRP-LSH and IVF vector search, PIC.
  *
  * All stochastic pipelines are seeded; outputs are deterministic on a
  * fixed platform but not SQL-expressible → rows-only driver checks,
  * with quality asserted in MlSpec (RMSE/silhouette ranges, ANN recall).
  *
  * Ratings analog: avg lineitem quantity per (customer, part) — the
  * testdata stand-in for the reference's user→book ratings.
  */
object MlQueries {

  /** (user=o_custkey, item=l_partkey, rating=avg quantity) — ALS needs
    * int ids; star-schema keys fit (at real scale: dense-rank first).
    * Memoized+persisted: m01 and m02 both fit ALS over it. */
  private def ratings(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Memo.df(s, s"als-ratings|$dir") {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").cast("int").as("user"),
          col("l_partkey").cast("int").as("item"))
        .agg(avg("l_quantity").cast("float").as("rating"))
    }

  /** TF-IDF → PCA document features, shared by m03 and m05 (persisted:
    * KMeans iterates over it, the silhouette evaluator rescans it). */
  private def tfidfPca(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Memo.df(s, s"tfidf-pca|$dir") {
      ContentFeatures.pca(
        ContentFeatures.tfidf(Tables.documents(s, dir), "text", numFeatures = 64),
        "tfidf", k = 8)
    }

  val all: Seq[NamedQuery] = Seq(

    // ---- M1/M5 (goodreads.py:236,275): seeded ALS, top-5 per user.
    NamedQuery("m01_als_recommendations", (s, dir) => {
      val model = Recommend.fit(ratings(s, dir), "user", "item", "rating",
        rank = 8, maxIter = 5, regParam = 0.1, seed = 42L)
      Recommend.recommendAllUsers(model, 5)
        .orderBy("user", "rank")
    }),

    // ---- M1/M4 (goodreads.py:239,269): 80/20 split + test RMSE.
    NamedQuery("m02_als_rmse", (s, dir) => {
      // cache both split halves: train feeds the ALS fit AND its count,
      // test feeds the transform+evaluate AND its count — uncached,
      // each consumer re-runs the sampler over the ratings scan
      // (guide §2.4). Values unchanged: the seeded split over the
      // persisted (stable-partitioned) ratings is deterministic, the
      // cache only stops its recomputation.
      val Array(train, test) = ratings(s, dir).randomSplit(Array(0.8, 0.2), seed = 42L)
        .map(graft.Caches.cached)
      val model = Recommend.fit(train, "user", "item", "rating",
        rank = 8, maxIter = 5, regParam = 0.1, seed = 42L)
      val r = Recommend.rmse(model, test, "rating")
      import s.implicits._
      Seq((math.rint(r * 10000) / 10000, train.count(), test.count()))
        .toDF("rmse", "n_train", "n_test")
    }),

    // ---- M6–M12 (goodreads.py:315–353): TF-IDF → PCA → KMeans sizes.
    NamedQuery("m03_tfidf_kmeans_clusters", (s, dir) => {
      val feats = tfidfPca(s, dir)
      Clustering.kmeans(feats, "pca", k = 10, seed = 1L)
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("cluster"))
    }),

    // ---- M15/M16 (goodreads.py:388–400): LDA topics over count vectors.
    NamedQuery("m04_lda_topics", (s, dir) => {
      val counted = ContentFeatures.countVectors(Tables.documents(s, dir), "text")
      val (topics, _) = Clustering.lda(counted, "counts", k = 5, maxIter = 10, seed = 42L)
      topics.select(col("topic"),
        concat_ws(",", col("termIndices")).as("term_indices"),
        concat_ws(",", transform(col("termWeights"), w => round(w, 4))).as("term_weights"))
        .orderBy("topic")
    }),

    // ---- M17–M19 + M11/M12 (goodreads.py:421–441): metadata features
    // (lang/source indexed + n_chars) → KMeans; silhouettes reported
    // for both feature variants, reference-style (5 silhouette uses).
    NamedQuery("m05_silhouettes", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // the metadata and tfidf-pca pipelines are INDEPENDENT seeded
      // fit+evaluate chains of tiny driver-synchronous jobs — overlap
      // them so each back-fills the other's scheduler gaps
      // (guide §2.6, the m16/g34 move); each side is a self-contained
      // seeded estimator, so both silhouettes are bit-identical to
      // the sequential form
      val (sMeta, sTf) = graft.Par.par2("m05_silhouettes")(
        () => {
          val meta = graft.Caches.cached(ContentFeatures.metadataFeatures(
            docs, Seq("lang", "source"), Seq("n_chars")))
          val metaClusters = graft.Caches.cached(
            Clustering.kmeans(meta, "features", k = 8, seed = 1L))
          Clustering.silhouette(metaClusters, "features")
        },
        () => {
          val tf = tfidfPca(s, dir)
          val tfClusters = graft.Caches.cached(
            Clustering.kmeans(tf, "pca", k = 10, seed = 1L))
          Clustering.silhouette(tfClusters, "pca")
        })
      Seq(("metadata_kmeans", math.rint(sMeta * 10000) / 10000),
          ("tfidf_pca_kmeans", math.rint(sTf * 10000) / 10000))
        .toDF("variant", "silhouette")
    }),

    // ---- M13/M14 (goodreads.py:370–381): Euclidean BRP-LSH neighbors
    // of vector 0.
    NamedQuery("m06_brp_lsh_neighbors", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
      val model = VectorSearch.brpLsh(emb, "features",
        bucketLength = 5.0, numHashTables = 10, seed = 42L)
      val key = emb.filter(col("vec_id") === 0).head()
        .getAs[org.apache.spark.ml.linalg.Vector]("features")
      VectorSearch.approxNearestNeighbors(model, emb.filter(col("vec_id") =!= 0), key, 10)
        .select(col("vec_id"), round(col("distCol"), 6).as("dist"))
        .orderBy("dist", "vec_id")
    }),

    // ---- IVF ANN (scale path of s01): probe 4 of 16 KMeans partitions.
    NamedQuery("m07_ivf_ann_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      VectorSearch.ivfTopK(emb.filter(col("vec_id") < 20), emb, k = 5,
        nlist = 16, nprobe = 4, seed = 1L)
        .orderBy("query_id", "rank")
    }),

    // ---- IVF probe-count recall sweep on the TRAINED-centroid path
    // (KMeans — the production IVF build): recall@10 vs brute force
    // for nprobe ∈ {1,2,4,8}, one KMeans fit shared across the sweep.
    // Rows-only (trained assignments aren't SQL-replayable); its
    // oracle-checked twin is s14_ivf_probe_sweep (fixed centroids,
    // same audit mechanics). The grid includes nprobe = 10 — the
    // measured ≥0.9-recall default on this (isotropic, IVF-worst-
    // case) corpus; see VectorSearch.ivfProbeSweepTrained.
    NamedQuery("m14_ivf_probe_sweep_trained", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      VectorSearch.ivfProbeSweepTrained(emb.filter(col("vec_id") < 20), emb,
          k = 10, nlist = 16, nprobes = Seq(1, 2, 4, 8, 10), seed = 1L)
        .orderBy("nprobe")
    }),

    // ---- TRAINED-vs-FIXED PQ codebooks through the two-stage
    // (ADC shortlist 100 → exact rerank) pipeline: the remedy the
    // s20/s21 measured-zero finding calls for. K-means codebooks land
    // on the corpus's actual density, so the shortlist starts carrying
    // signal; both variants flow through IDENTICAL serve mechanics, so
    // the recall delta isolates codebook quality. Rows-only (trained
    // centers aren't SQL-replayable); the fixed-codebook mechanics are
    // oracle-pinned by s07/s08/s10/s20/s21. Measured at sf0.01:
    // fixed 0.24, trained 0.72 avg recall@5 (min_hits 0 → 1) — a 3×
    // lift from training alone; the remaining gap is the 16-bit code
    // budget on an isotropic corpus, recoverable by raising shortK.
    NamedQuery("m16_pq_trained_rerank", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 20)
      val fixed = graft.similarity.Similarity.pqCodebooks(64, 4, 16, 11L)
      val trained = VectorSearch.pqTrainCodebooks(emb, dim = 64, m = 4,
        k = 16, seed = 11L)
      graft.similarity.Similarity
        .pqRerankRecallWith(q, emb, fixed, shortK = 100, k = 5, dim = 64)
        .select(lit("fixed").as("variant"), col("*"))
        .unionByName(graft.similarity.Similarity
          .pqRerankRecallWith(q, emb, trained, shortK = 100, k = 5, dim = 64)
          .select(lit("trained").as("variant"), col("*")))
        .orderBy("variant")
    }),

    // ---- RESIDUAL-codebook training (m17): k-means codebooks fit on
    // the RESIDUALS v − centroid(cluster) — the full FAISS-IVFPQ
    // recipe — measured through the residual serve + two-stage rerank
    // against (a) the same trained-residual books at full probe
    // (isolates codebook quality) and (b) at the deployed nprobe=4,
    // plus (c) the seeded fixed residual books as the floor. Rows-only
    // (trained centers aren't SQL-replayable); twin s22 oracle-pins
    // the residual mechanics. Measured at sf0.01 (shortK=100, k=5):
    // fixed-residual 0.23, trained-residual 0.71 at full probe AND
    // 0.71 at nprobe=4 (probe pruning loses nothing through the
    // rerank) — training dominates; residual-vs-raw (m16's 0.72) is
    // equal-within-noise on this isotropic corpus, where cluster
    // means carry little structure for the coarse quantizer to absorb.
    NamedQuery("m17_pq_residual_trained_rerank", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 20)
      import graft.similarity.Similarity
      val cents = Similarity.hyperplanes(dim = 64, nBits = 16, seed = 7L)
      val fixedBooks = Similarity.pqCodebooks(64, 4, 16, 11L)
      val trainedBooks = VectorSearch.pqTrainCodebooks(
        Similarity.residualVectors(emb, dim = 64, nlist = 16, ivfSeed = 7L),
        dim = 64, m = 4, k = 16, seed = 11L)
      def row(name: String, books: Seq[Seq[Array[Float]]], nprobe: Int) =
        Similarity.residualRerankRecall(q, emb, cents, books,
            shortK = 100, k = 5, nprobe = nprobe)
          .select(lit(name).as("variant"), col("*"))
      row("a_resid_fixed_fullprobe", fixedBooks, 16)
        .unionByName(row("b_resid_trained_fullprobe", trainedBooks, 16))
        .unionByName(row("c_resid_trained_nprobe4", trainedBooks, 4))
        .orderBy("variant")
    }),

    // ---- ALS closed-form check: fit on a tiny rank-1 synthetic
    // ratings matrix (r_ui = a_u·b_i with known factors) — a rank-2
    // model must reconstruct every observed entry within tolerance, so
    // n_bad = 0 regardless of ALS internals/platform. The ONE M-family
    // row whose value the DuckDB oracle can assert (constants).
    NamedQuery("m09_als_closed_form", (s, dir) => {
      import s.implicits._
      val ratings = (for (u <- 0 until 20; i <- 0 until 10)
        yield (u, i, ((1.0 + u / 20.0) * (1.0 + i / 10.0)).toFloat))
        .toDF("user", "item", "rating")
      val model = Recommend.fit(ratings, "user", "item", "rating",
        rank = 2, maxIter = 15, regParam = 0.01, seed = 7L)
      val bad = model.transform(ratings)
        .filter(abs(col("prediction") - col("rating")) > 0.1).count()
      Seq((200L, bad)).toDF("n_obs", "n_bad")
    },
      Some("SELECT CAST(200 AS BIGINT) AS n_obs, CAST(0 AS BIGINT) AS n_bad")),

    // ---- KMeans closed-form check (m09's sibling for M11): three
    // planted well-separated blobs — ANY seed/platform must recover
    // the exact partition, so purity is a constant the oracle asserts.
    NamedQuery("m10_kmeans_planted", (s, dir) => {
      import s.implicits._
      val pts = (for (g <- 0 until 3; i <- 0 until 20) yield
        (g * 20 + i, g, Array(g * 100.0 + i % 5, g * 100.0 + (i * 3) % 7)))
        .toDF("pid", "planted", "xs")
      val fed = pts.select(col("pid"), col("planted"),
        org.apache.spark.ml.functions.array_to_vector(col("xs")).as("features"))
      val clustered = Clustering.kmeans(fed, "features", k = 3, seed = 5L)
      val impure = clustered.groupBy("planted")
        .agg(countDistinct("cluster").as("nc")).filter(col("nc") > 1).count()
      val nClusters = clustered.select(countDistinct("cluster")).head().getLong(0)
      Seq((60L, nClusters, impure)).toDF("n_points", "n_clusters", "n_impure")
    },
      Some("SELECT CAST(60 AS BIGINT) AS n_points, " +
        "CAST(3 AS BIGINT) AS n_clusters, CAST(0 AS BIGINT) AS n_impure")),

    // ---- silhouette closed-form check (m05's sibling for M12): the
    // m10 planted blobs evaluated on their TRUE labels — a pure
    // function of the fixed points, so the evaluator's value is a
    // constant the oracle asserts (4dp absorbs parallel-summation
    // float noise).
    NamedQuery("m11_silhouette_planted", (s, dir) => {
      import s.implicits._
      val pts = (for (g <- 0 until 3; i <- 0 until 20) yield
        (g * 20 + i, g, Array(g * 100.0 + i % 5, g * 100.0 + (i * 3) % 7)))
        .toDF("pid", "cluster", "xs")
      val fed = pts.select(col("pid"), col("cluster"),
        org.apache.spark.ml.functions.array_to_vector(col("xs")).as("features"))
      val sil = Clustering.silhouette(fed, "features", "cluster")
      Seq(BigDecimal(sil).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .toDF("silhouette")
    },
      Some("SELECT 0.9993 AS silhouette")),

    // ---- M2/M3 (goodreads.py:243–263): ParamGrid + CrossValidator,
    // actually FIT (the reference builds the grid and never fits it).
    // On the m09 planted rank-1 ratings a 2×2 grid (rank ∈ {1,2} ×
    // regParam ∈ {0.01, 1.0}) must select the weak regularizer — with
    // reg 1.0 the factors shrink toward 0 and CV-RMSE blows past any
    // tolerance, with 0.01 a rank-≥1 model reconstructs the matrix —
    // so the chosen regParam and an RMSE bound are constants the
    // DuckDB oracle asserts regardless of ALS internals/platform.
    NamedQuery("m12_als_cross_validation", (s, dir) => {
      import s.implicits._
      val ratings = (for (u <- 0 until 20; i <- 0 until 10)
        yield (u, i, ((1.0 + u / 20.0) * (1.0 + i / 10.0)).toFloat))
        .toDF("user", "item", "rating")
      val est = Recommend.als("user", "item", "rating",
        maxIter = 5, seed = 7L, blocks = 1)
      val cv = Recommend.crossValidator(est, "rating",
        ranks = Seq(1, 2), maxIters = Seq(5),
        regParams = Seq(0.01, 1.0), folds = 2)
      val model = cv.fit(ratings)
      val byMetric = cv.getEstimatorParamMaps.zip(model.avgMetrics)
      val (bestMap, bestRmse) = byMetric.minBy(_._2)
      val bestReg = bestMap(est.regParam)
      Seq((byMetric.length.toLong, bestReg,
          if (bestRmse < 0.15) 1L else 0L))
        .toDF("n_models", "best_reg", "rmse_ok")
    },
      Some("SELECT CAST(4 AS BIGINT) AS n_models, 0.01 AS best_reg, " +
        "CAST(1 AS BIGINT) AS rmse_ok")),

    // ---- M20 (goodreads.py:632–647), deterministic path: cluster
    // sizes from the power-smoothing EMBEDDING (v₊ = D⁻¹Wv, then
    // equal-width binning — IterativeGraph.picClustersFromEmbedding),
    // fully oracle-checked. Named for what it computes: this is the
    // PIC-like deterministic pipeline, NOT spark.ml's
    // PowerIterationClustering — that algorithm runs as
    // m13_pic_cluster_sizes below (rows-only; its RDD-internal
    // iterations showed a 6× run-to-run spread on identical inputs,
    // PERF.md r6, which disqualifies it as a hash-checked query).
    NamedQuery("m08_embedding_cluster_sizes", (s, dir) =>
      graft.graph.IterativeGraph.picClustersFromEmbedding(
          GraphQueries.smoothedEmbedding(s, dir), k = 10)
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("cluster")),
      Some(GraphQueries.picClusterSizesOracle(GraphQueries.PsIters, k = 10))),

    // ---- M20 (goodreads.py:632–647), reference-parity path:
    // spark.ml PowerIterationClustering itself, kept on the benchmark
    // surface so the gate exercises the actual reference algorithm.
    // Rows-only (cluster ASSIGNMENT depends on RDD-internal iteration
    // order); its deterministic twin is m08_embedding_cluster_sizes
    // above. Runs on the heavy-edge rating subgraph (g09's ≥40
    // threshold) with bounded iterations so the known 6× RDD-internal
    // variance stays a small absolute cost in the sweep. Output shape
    // bounds rows at k.
    NamedQuery("m13_pic_cluster_sizes", (s, dir) =>
      graft.ml.Clustering.pic(
          PropertyGraph.customerPartGraph(s, dir)
            .filterEdges(col("weight") >= 40.0)
            .edges.select("src", "dst", "weight"),
          k = 10, maxIter = 5)
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("cluster"))),

    // ---- embedding DRIFT monitor (m18): per-label centroid cosine +
    // norm ratio between an "old" slice (even vec_ids) and a "new"
    // one (odds) — the recurring-ingest check that catches an
    // embedding-model swap or feature-rescale before it poisons dedup
    // thresholds and ANN recall. Label 0's new side is planted ×2
    // (float ×2 is exact): its norm_ratio reads ~2× the unplanted
    // labels' (the slices hold different vectors, so not exactly 2.0
    // — the ORACLE replays the same arithmetic either way). Cell-space
    // math: one posexplode scan per side → (label, dim)-keyed means,
    // dot/norms over 64 cells; no vector crosses a shuffle.
    NamedQuery("m18_embedding_drift", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        col("label"),
        when(col("label") === 0 && col("vec_id") % 2 === 1,
          transform(col("embedding"), x => x * lit(2.0f)))
        .otherwise(col("embedding")).as("embedding"))
      graft.similarity.Similarity.embeddingDrift(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1), "label", "embedding")
        .orderBy("label")
    },
      Some("""WITH e AS (SELECT vec_id, label,
             |    CASE WHEN label = 0 AND vec_id % 2 = 1
             |         THEN list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
             |         ELSE CAST(embedding AS DOUBLE[]) END AS v
             |  FROM embeddings),
             |ex AS (SELECT vec_id, label,
             |    unnest(generate_series(1, len(v))) AS p, unnest(v) AS x
             |  FROM e),
             |mo AS (SELECT label, p, sum(x) / count(*) AS m_old
             |  FROM ex WHERE vec_id % 2 = 0 GROUP BY 1, 2),
             |mn AS (SELECT label, p, sum(x) / count(*) AS m_new
             |  FROM ex WHERE vec_id % 2 = 1 GROUP BY 1, 2),
             |j AS (SELECT label, sum(m_old * m_new) AS dot,
             |    sum(m_old * m_old) AS no2, sum(m_new * m_new) AS nn2
             |  FROM mo JOIN mn USING (label, p) GROUP BY 1),
             |sz AS (SELECT label,
             |    count(*) FILTER (WHERE vec_id % 2 = 0) AS n_old,
             |    count(*) FILTER (WHERE vec_id % 2 = 1) AS n_new
             |  FROM e GROUP BY 1)
             |SELECT label, round(dot / (sqrt(no2) * sqrt(nn2)), 6) AS drift_cos,
             |  round(sqrt(nn2) / sqrt(no2), 6) AS norm_ratio, n_old, n_new
             |FROM j JOIN sz USING (label) ORDER BY label""".stripMargin)),

    // ---- persisted quality-model ARTIFACT (m19): the scorer the
    // corpus pipeline actually promotes between environments —
    // weights + bias land in a (feature, weight) parquet artifact and
    // scoring serves FROM it, byte-identical to the in-session frozen
    // scorer (t19's oracle verbatim pins the round-trip). Trained
    // fitScore coefficients pass through the same table (spec-pinned
    // in MlSpec); the gate uses the published weights so the replayed
    // σ(b + w·f) arithmetic stays DuckDB-expressible. Serving is the
    // same scan-stage projection — the artifact load is a 6-row
    // driver fetch.
    NamedQuery("m19_quality_model_artifact", (s, dir) => {
      val path = graft.ScratchDirs.scratch("quality_model")
      graft.ml.QualityModel.writeModel(s,
        weights = Seq(3.0, 6.0, -8.0, -4.0, 2.0), bias = -2.5, path)
      graft.ml.QualityModel.scoreFromArtifact(
          Tables.documents(s, dir), "doc_id", "text",
          graft.text.TextOps.langMarkers.head._2, path)
        .orderBy("id")
    },
      Some(PipelineQueries.qualityModelFixedOracle)),

    // ---- persisted feature-scaler lifecycle, fit half (m20): fit
    // per-feature standardization moments on the TRAIN slice only
    // (l_orderkey%5≠0 — never the serve corpus: test rows leaking into
    // the scaler is train/test contamination at the feature level),
    // freeze to parquet, z-score the FULL corpus from the artifact.
    // One partial-agg fit pass + one constant-folded projection pass;
    // the oracle recomputes the moments from the train slice in exact
    // integer space and must hash-match every served z — proving the
    // artifact round-trip changes nothing.
    NamedQuery("m20_scaler_artifact_serve", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val path = graft.ScratchDirs.scratch("feature_scaler")
      graft.Fs.deleteRecursive(s, path)
      graft.ml.FeatureScaler.writeScaler(
        li.filter(col("l_orderkey") % 5 =!= 0), scalerFeatures, path)
      graft.ml.FeatureScaler.zscore(li, scalerFeatures, path,
          keep = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber", "z_qty", "z_price", "z_disc")
    }, Some(scalerOracle)),

    // ---- scaler INCREMENTAL append (m21): the artifact stores exact
    // integer (n, Σx, Σx²), so refreshing on new data is one tiny
    // parquet append and serve-time merge is integer addition —
    // half-fit + appended-half is BIT-identical to m20's single fit
    // (same oracle VERBATIM), with no refit scan over the old corpus.
    NamedQuery("m21_scaler_append", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val train = li.filter(col("l_orderkey") % 5 =!= 0)
      val path = graft.ScratchDirs.scratch("feature_scaler_append")
      graft.Fs.deleteRecursive(s, path)
      graft.ml.FeatureScaler.writeScaler(
        train.filter(col("l_orderkey") % 2 === 0), scalerFeatures, path)
      graft.ml.FeatureScaler.appendScaler(
        train.filter(col("l_orderkey") % 2 =!= 0), scalerFeatures, path)
      graft.ml.FeatureScaler.zscore(li, scalerFeatures, path,
          keep = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber", "z_qty", "z_price", "z_disc")
    }, Some(scalerOracle)),

    // ---- persisted QUANTILE-BIN artifact (m22): the exact
    // discretizer beside m20's scaler — 8-quantile edges fit on the
    // train slice only (edge k = the VALUE at sorted position ⌊n·k/8⌋,
    // ties broken by key: pass-through values, never interpolated
    // means, so both engines replay them bit-identically), frozen to
    // parquet, the FULL corpus binned from the artifact through one
    // constant-folded comparison-sum (no join, ties go right). The
    // oracle re-derives the edges from the ranked train slice and
    // re-bins every row. Edges aren't additive: artifact refresh is a
    // re-fit (FeatureScaler notes the contrast); the 100 TB fit runs
    // on a sample or the p18 sketch path, serve unchanged.
    NamedQuery("m22_quantile_bins_artifact", (s, dir) => {
      val o = Tables.orders(s, dir)
      val path = graft.ScratchDirs.scratch("quantile_bins")
      graft.Fs.deleteRecursive(s, path)
      graft.ml.QuantileBins.writeBins(o.filter(col("o_orderkey") % 5 =!= 0),
        col("o_totalprice"), col("o_orderkey"), bins = 8, path)
      o.select(col("o_orderkey"),
          graft.ml.QuantileBins.binColumn(s, path, col("o_totalprice"))
            .as("bin"))
        .orderBy("o_orderkey")
    },
      Some("""WITH tr AS (SELECT o_totalprice AS v,
             |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r
             |  FROM orders WHERE o_orderkey % 5 <> 0),
             |n AS (SELECT count(*) AS n FROM tr),
             |pos AS (SELECT (n.n * g.k) // 8 AS p
             |  FROM generate_series(1, 7) g(k) CROSS JOIN n),
             |e AS (SELECT tr.v AS edge FROM pos JOIN tr ON tr.r = pos.p)
             |SELECT o_orderkey,
             |  CAST((SELECT count(*) FROM e WHERE o_totalprice >= edge) AS INT)
             |    AS bin
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- persisted TARGET-ENCODING artifact (m23): the categorical
    // encoder, the textbook label-leakage hazard done right — each
    // order priority is replaced by the m-estimate-smoothed mean of
    // the target (Micci-Barreca's m-probability estimate, m=10), fit
    // on the TRAIN slice only and FROZEN; serving rows never
    // contribute to their own encoding. Artifact stores exact integer
    // (category, n, Σcents); encodings fold into one constant
    // when-chain at serve (no join). The oracle replays moments,
    // prior, smoothing, and the int→double boundary in the same IEEE
    // order.
    NamedQuery("m23_target_encoding", (s, dir) => {
      val o = Tables.orders(s, dir)
      val path = graft.ScratchDirs.scratch("target_enc")
      graft.Fs.deleteRecursive(s, path)
      graft.ml.TargetEncoder.writeEncoder(
        o.filter(col("o_orderkey") % 5 =!= 0),
        col("o_orderpriority"), round(col("o_totalprice") * 100, 0), path)
      o.select(col("o_orderkey"), col("o_orderpriority"),
          graft.ml.TargetEncoder.encodeColumn(s, path,
            col("o_orderpriority"), m = 10.0, descale = 100.0)
            .as("te_price"))
        .orderBy("o_orderkey")
    }, Some(targetEncodingOracle)),

    // ---- target-encoder INCREMENTAL append (m24): counts and sums
    // are additive integers, so half-fit + appended-half serves
    // BIT-identically to m23's single fit — same oracle verbatim.
    NamedQuery("m24_target_encoding_append", (s, dir) => {
      val o = Tables.orders(s, dir)
      val train = o.filter(col("o_orderkey") % 5 =!= 0)
      val path = graft.ScratchDirs.scratch("target_enc_append")
      graft.Fs.deleteRecursive(s, path)
      graft.ml.TargetEncoder.writeEncoder(
        train.filter(col("o_orderkey") % 2 === 0),
        col("o_orderpriority"), round(col("o_totalprice") * 100, 0), path)
      graft.ml.TargetEncoder.appendEncoder(
        train.filter(col("o_orderkey") % 2 =!= 0),
        col("o_orderpriority"), round(col("o_totalprice") * 100, 0), path)
      o.select(col("o_orderkey"), col("o_orderpriority"),
          graft.ml.TargetEncoder.encodeColumn(s, path,
            col("o_orderpriority"), m = 10.0, descale = 100.0)
            .as("te_price"))
        .orderBy("o_orderkey")
    }, Some(targetEncodingOracle)),

    // ---- SKETCH-fit quantile bins (m25): m22's fit without its one
    // scale-killer — the exact fit's global row_number sort becomes a
    // fixed-width histogram pass (map-side combine onto ~range/width
    // cells) and the edge walk runs in cell space; the serve half
    // (constant-folded comparison-sum from the frozen artifact) is
    // UNCHANGED. Each sketch edge sits within `width` of the exact
    // edge by construction, and because the histogram is a
    // deterministic closed form the sketch edges replay EXACTLY in
    // the oracle — a tolerance-bound design with a hash-exact gate.
    NamedQuery("m25_quantile_bins_sketch_fit", (s, dir) => {
      import graft.ml.QuantileBins
      val o = Tables.orders(s, dir)
      val path = graft.ScratchDirs.scratch("qbins_sketch")
      graft.Fs.deleteRecursive(s, path)
      QuantileBins.writeBinsSketch(o.filter(col("o_orderkey") % 5 =!= 0),
        col("o_totalprice"), bins = 8, width = 5000.0, path)
      o.select(col("o_orderkey"),
          QuantileBins.binColumn(s, path, col("o_totalprice")).as("bin"))
        .orderBy("o_orderkey")
    },
      Some("""WITH tr AS (SELECT o_totalprice AS v FROM orders
             |  WHERE o_orderkey % 5 <> 0),
             |cells AS (SELECT CAST(floor(v / 5000.0) AS BIGINT) AS b,
             |    count(*) AS cnt FROM tr GROUP BY 1),
             |cum AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum,
             |    sum(cnt) OVER () AS n FROM cells),
             |e AS (SELECT k, min(b) * 5000.0 AS edge
             |  FROM cum CROSS JOIN generate_series(1, 7) g(k)
             |  WHERE cum >= (n * k) // 8
             |  GROUP BY k)
             |SELECT o_orderkey,
             |  CAST((SELECT count(*) FROM e WHERE o_totalprice >= edge)
             |    AS INT) AS bin
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- HIGH-CARDINALITY target encoding (m26): the primary
    // target-encoding use case — a categorical with too many levels
    // for one-hot (here the customer key, 1.5k levels at sf0.01) —
    // served through the BROADCAST-JOIN path (encodeInto picks it
    // above chainMax): the (category, enc) artifact broadcasts
    // against the corpus scan, one hash probe per row, no
    // O(categories)-deep when-chain to blow codegen limits. Values
    // are bit-identical to the chain form (same driver-side IEEE op
    // sequence); unseen categories coalesce to the prior.
    NamedQuery("m26_target_encoding_highcard", (s, dir) => {
      val o = Tables.orders(s, dir)
      val path = graft.ScratchDirs.scratch("target_enc_highcard")
      graft.Fs.deleteRecursive(s, path)
      graft.ml.TargetEncoder.writeEncoder(
        o.filter(col("o_orderkey") % 5 =!= 0),
        col("o_custkey").cast("string"),
        round(col("o_totalprice") * 100, 0), path)
      graft.ml.TargetEncoder.encodeInto(
          o.select("o_orderkey", "o_custkey"),
          col("o_custkey").cast("string"), path,
          m = 10.0, descale = 100.0, outName = "te_cust")
        .select("o_orderkey", "o_custkey", "te_cust")
        .orderBy("o_orderkey")
    },
      Some("""WITH t AS (SELECT CAST(o_custkey AS VARCHAR) AS c,
             |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
             |  FROM orders WHERE o_orderkey % 5 <> 0),
             |g AS (SELECT c, count(*) AS n, sum(y) AS s FROM t GROUP BY c),
             |tot AS (SELECT sum(n) AS nt, sum(s) AS st FROM g),
             |e AS (SELECT c,
             |    round((CAST(s AS DOUBLE) + 10.0 * (CAST(st AS DOUBLE) / nt))
             |      / (n + 10.0) / 100.0, 4) + 0.0 AS te
             |  FROM g CROSS JOIN tot)
             |SELECT o_orderkey, o_custkey,
             |  coalesce(e.te,
             |    (SELECT round(CAST(st AS DOUBLE) / nt / 100.0, 4) + 0.0
             |     FROM tot)) AS te_cust
             |FROM orders LEFT JOIN e ON CAST(o_custkey AS VARCHAR) = e.c
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- ALS model PERSISTENCE (m27): the artifact lifecycle
    // (m19-m24's fit-freeze-serve) applied to the model family's most
    // expensive fit — the trained factors freeze via Spark ML's
    // native writer and a serving session recommends WITHOUT
    // refitting. The serve is a BOUNDED user batch
    // (recommendForUserSubset, users %20==7): the deployment shape —
    // full-catalog exact top-k is users×items work by definition and
    // measured ~20 min/run at the 30× fixture; a request batch keeps
    // the serve ∝ batch×items. The round-trip gate runs IN the query:
    // the reloaded model's batch top-5 must equal the in-session
    // model's frame-exactly (factors round-trip as parquet floats),
    // or the query throws. Rows-only (ALS is iterative);
    // deterministic twin m09.
    NamedQuery("m27_als_model_roundtrip", (s, dir) => {
      val r = ratings(s, dir)
      val model = Recommend.fit(r, "user", "item", "rating",
        rank = 8, maxIter = 5, regParam = 0.1, seed = 42L)
      val path = graft.ScratchDirs.scratch("als_model")
      // batch is read by both serves — cache it (one distinct shuffle,
      // not two). The artifact write and the IN-SESSION serve are
      // independent (both need only the fitted model; they meet at
      // loadModel below) — overlap them so the serve's topK jobs
      // back-fill the writer's commit gaps (guide §2.6). The serve
      // frames themselves are CACHED before the equality gate: each
      // used to be recomputed per exceptAll side and again by the
      // final orderBy — 5 users×items topK passes for 2 distinct
      // results (guide §2.4) — now each computes exactly once.
      val batch = graft.Caches.cached(
        r.select("user").distinct().filter(col("user") % 20 === 7))
      val (_, inSession) = graft.Par.par2("m27_save_vs_serve")(
        () => Recommend.saveModel(model, path),
        () => {
          val f = graft.Caches.cached(
            Recommend.recommendUserSubset(model, batch, 5))
          f.count()
          f
        })
      val reloaded = Recommend.loadModel(path)
      val served = graft.Caches.cached(
        Recommend.recommendUserSubset(reloaded, batch, 5))
      require(served.exceptAll(inSession).isEmpty &&
        inSession.exceptAll(served).isEmpty,
        "reloaded ALS model diverged from the in-session model")
      served.orderBy("user", "rank")
    }),

    // ---- KMeans model PERSISTENCE (m28): same lifecycle for the
    // clustering family — frozen centroids assign new rows without a
    // refit (the batch-scoring deployment shape). The reloaded
    // model's assignments must equal the in-session model's exactly
    // (centroid doubles round-trip), enforced in-query; the output
    // is the reloaded model's cluster-size histogram. Rows-only
    // (KMeans init is seeded but iterative); deterministic twin m10.
    NamedQuery("m28_kmeans_model_roundtrip", (s, dir) => {
      val feats = tfidfPca(s, dir)
      val model = Clustering.kmeansFit(feats, "pca", k = 10, seed = 1L)
      val path = graft.ScratchDirs.scratch("kmeans_model")
      // overlap the artifact write with the in-session assignment
      // (independent — they meet at loadKmeans; guide §2.6), and CACHE
      // both assignment frames: each previously recomputed per
      // exceptAll side and again in the final histogram (guide §2.4)
      val (_, a) = graft.Par.par2("m28_save_vs_assign")(
        () => Clustering.saveKmeans(model, path),
        () => {
          val f = graft.Caches.cached(
            model.transform(feats).select("doc_id", "cluster"))
          f.count()
          f
        })
      val reloaded = Clustering.loadKmeans(path)
      val b = graft.Caches.cached(
        reloaded.transform(feats).select("doc_id", "cluster"))
      require(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty,
        "reloaded KMeans model diverged from the in-session model")
      b.groupBy("cluster").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("cluster"))
    })
  )

  /** Shared oracle for the target-encoding lifecycle (m23/m24/sw34):
    * moments from the train slice in exact integer space, prior +
    * m-estimate smoothing replayed in the serve's IEEE op order. */
  private[queries] def targetEncodingOracle: String =
    """WITH t AS (SELECT o_orderpriority AS c,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
      |  FROM orders WHERE o_orderkey % 5 <> 0),
      |g AS (SELECT c, count(*) AS n, sum(y) AS s FROM t GROUP BY c),
      |tot AS (SELECT sum(n) AS nt, sum(s) AS st FROM g),
      |e AS (SELECT c,
      |    round((CAST(s AS DOUBLE) + 10.0 * (CAST(st AS DOUBLE) / nt))
      |      / (n + 10.0) / 100.0, 4) + 0.0 AS te
      |  FROM g CROSS JOIN tot)
      |SELECT o_orderkey, o_orderpriority,
      |  coalesce(e.te,
      |    (SELECT round(CAST(st AS DOUBLE) / nt / 100.0, 4) + 0.0 FROM tot))
      |    AS te_price
      |FROM orders LEFT JOIN e ON o_orderpriority = e.c
      |ORDER BY o_orderkey""".stripMargin

  /** m20/m21/sw31 features in EXACT scaled-integer units (quantity as
    * is, money in cents) — see FeatureScaler's exactness design. ONE
    * definition so the queries and their shared oracle cannot drift. */
  private[queries] def scalerFeatures
      : Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "qty" -> round(col("l_quantity"), 0),
    "price" -> round(col("l_extendedprice") * 100, 0),
    "disc" -> round(col("l_discount") * 100, 0))

  /** Shared oracle for every scaler-lifecycle query: moments from the
    * train slice in exact integer space, z-scores over the full
    * corpus — append/stream variants must serve identically. */
  private[queries] def scalerOracle: String =
    """WITH t AS (SELECT l_orderkey, l_linenumber,
      |    CAST(round(l_quantity, 0) AS BIGINT) AS q,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p,
      |    CAST(round(l_discount * 100, 0) AS BIGINT) AS dc
      |  FROM lineitem),
      |m AS (SELECT count(*) AS n, sum(q) AS sq, sum(q*q) AS sqq,
      |    sum(p) AS sp, sum(p*p) AS spp, sum(dc) AS sd, sum(dc*dc) AS sdd
      |  FROM t WHERE l_orderkey % 5 <> 0)
      |SELECT l_orderkey, l_linenumber,
      |  round((q - CAST(sq AS DOUBLE)/n)
      |    / sqrt(CAST(sqq AS DOUBLE)/n
      |           - (CAST(sq AS DOUBLE)/n)*(CAST(sq AS DOUBLE)/n)), 4) + 0.0 AS z_qty,
      |  round((p - CAST(sp AS DOUBLE)/n)
      |    / sqrt(CAST(spp AS DOUBLE)/n
      |           - (CAST(sp AS DOUBLE)/n)*(CAST(sp AS DOUBLE)/n)), 4) + 0.0 AS z_price,
      |  round((dc - CAST(sd AS DOUBLE)/n)
      |    / sqrt(CAST(sdd AS DOUBLE)/n
      |           - (CAST(sd AS DOUBLE)/n)*(CAST(sd AS DOUBLE)/n)), 4) + 0.0 AS z_disc
      |FROM t, m
      |ORDER BY l_orderkey, l_linenumber, z_qty, z_price, z_disc""".stripMargin
}

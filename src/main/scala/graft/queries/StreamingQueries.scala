package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.{EventStreams, StreamRunner}

/** EXECUTED Structured Streaming queries — unlike the StreamingSpec
  * (which drives MemoryStream micro-batches in tests), these run the
  * real file-source → watermark → stateful-aggregate → sink pipeline
  * through graft.streaming.StreamRunner and are oracle-checked against
  * the SAME DuckDB SQL as their batch twins: streaming-vs-batch
  * consistency is the declared contract of the facade (SURVEY §2.12),
  * so it is verified, not asserted.
  */
object StreamingQueries {

  val all: Seq[NamedQuery] = Seq(

    // ---- streaming tumbling-window counts (twin of q17): same window()
    // expression lifted onto the streaming engine; complete mode emits
    // every window once input is exhausted (AvailableNow).
    NamedQuery("sw01_stream_tumbling_counts",
      (s, dir) => {
        val res = StreamRunner.runAvailableNow(s, Tables.events(s, dir),
            "sw01_tumbling", "complete") { src =>
          EventStreams.windowedTypeCounts(src, "6 hours", "1 hour")
        }
        res.select(
            date_format(col("win_start"), "yyyy-MM-dd HH:mm").as("win_start"),
            col("event_type"), col("cnt"), col("total_value"))
          .orderBy("win_start", "event_type")
      },
      Some("""SELECT strftime(make_timestamp((epoch_us(ts) // 21600000000) * 21600000000),
             |                '%Y-%m-%d %H:%M') AS win_start,
             |  event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // ---- streaming exact dedup (ingest-time twin of d01's keep set):
    // documents + planted replays flow through
    // dropDuplicatesWithinWatermark; the surviving rows bucketed by
    // content hash prefix must equal the batch DISTINCT-text counts.
    // (Bucketing by CONTENT keeps the check deterministic even though
    // which twin of a duplicate pair survives a single micro-batch is
    // not.)
    NamedQuery("sw02_stream_dedup_buckets",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        // deterministic arrival times: one second per id, replays later
        def stamped(d: org.apache.spark.sql.DataFrame) =
          d.withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id)"))
        val feed = stamped(docs).unionByName(
          stamped(docs.withColumn("doc_id", col("doc_id") + 1000000)))
        val kept = StreamRunner.runAvailableNow(s, feed,
            "sw02_dedup", "append") { src =>
          EventStreams.dedupByContent(src, "text", "ts", watermark = "30 days")
        }
        kept.groupBy(substring(md5(col("text")), 1, 1).as("bucket"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("bucket")
      },
      Some("""SELECT substr(md5(text), 1, 1) AS bucket,
             |  count(DISTINCT text) AS n_docs
             |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- streaming SESSION windows (twin of q32): merging session
    // state driven by the real streaming engine, checked against the
    // batch gaps-and-islands oracle.
    NamedQuery("sw03_stream_user_sessions",
      (s, dir) => {
        val res = StreamRunner.runAvailableNow(s, Tables.events(s, dir),
            "sw03_sessions", "complete") { src =>
          EventStreams.sessionWindowStats(src, "30 minutes", "1 hour")
        }
        res.select(col("user_id"),
            unix_micros(col("session_start")).as("session_start_us"),
            col("n_events"), col("total_value"))
          .orderBy("user_id", "session_start_us")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts, value,
             |    sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM g)
             |SELECT user_id, min(epoch_us(ts)) AS session_start_us,
             |  count(*) AS n_events, round(sum(value), 2) AS total_value
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_start_us""".stripMargin)),

    // ---- streaming NEAR-dup candidates with the PORTABLE MinHash
    // family: scan-stage band sketches + watermarked stream-stream
    // self-join keyed by (band, bandHash). Every arrival time lies
    // within the 30-day skew bound, so the batch banded-pairs oracle
    // (the d08 CTEs, candidates-only) is the exact expected output.
    NamedQuery("sw04_stream_neardup_candidates",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        def stamped(d: org.apache.spark.sql.DataFrame) =
          d.withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id)"))
        val feed = stamped(docs).unionByName(
          stamped(docs.withColumn("doc_id", col("doc_id") + 1000000)))
        // the trailing no-data micro-batch exists only to fire event-
        // time TIMEOUTS; pair emission is append-on-arrival, so
        // skipping it drops a full second state commit, not output
        // (sw03's session summaries DO need it — only this query opts
        // out)
        val cands = StreamRunner.runAvailableNow(s, feed,
            "sw04_neardup", "append", extraConfs = Map(
              "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) { src =>
          // band-key pre-bucketed state form (one kernel scan, one
          // compact list per band bucket) — the stream-stream join
          // form stays as nearDupCandidatesPortable, equivalence-
          // pinned by StreamingSpec
          EventStreams.nearDupCandidatesBucketed(src, "doc_id", "text", "ts",
            watermark = "30 days", maxSkew = "30 days", n = 3,
            numHashes = PipelineQueries.MhHashes, bands = PipelineQueries.MhBands)
        }
        cands.select("id_a", "id_b", "band").distinct()
          .orderBy("id_a", "id_b", "band")
      },
      Some {
        val base = PipelineQueries.minhashPortableOracle(
          PipelineQueries.MhHashes, PipelineQueries.MhBands, 0.5)
        // reuse everything up to (and including) the `banded` CTE
        val ctes = base.substring(0, base.indexOf(",\ncand AS"))
        s"""$ctes,
           |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.band
           |         FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
           |         WHERE a.id < b.id)
           |SELECT id_a, id_b, band FROM cand
           |ORDER BY id_a, id_b, band""".stripMargin
      }),

    // ---- streaming decontamination (stream-STATIC broadcast join):
    // arriving corpus docs probe the batch-built benchmark gram set;
    // per-doc matched-gram counts are the complete-mode aggregate.
    // The ingest-time twin of d14's flagging stage.
    NamedQuery("sw05_stream_decontam_counts",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val benchGrams = docs.filter(col("doc_id") % 10 === 0)
          .select(explode(graft.dedup.Dedup.shingles(col("text"),
            PipelineQueries.DecontamN)).as("ng")).distinct()
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
          .select("doc_id", "text")
        val res = StreamRunner.runAvailableNow(s, corpus,
            "sw05_decontam", "complete") { src =>
          EventStreams.contaminationCounts(src, benchGrams, "doc_id", "text",
            PipelineQueries.DecontamN)
        }
        res.select(col("id").as("doc_id"), col("n_grams"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${PipelineQueries.decontamCtes(PipelineQueries.DecontamN)}
             |SELECT exd.doc_id, count(*) AS n_grams
             |FROM exd JOIN bench USING (ng)
             |WHERE exd.doc_id % 10 != 0
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ---- streaming purchase ATTRIBUTION (stream-stream INTERVAL
    // join, the q20 as-of bounded to a 6-hour lookback): candidate
    // (purchase, click) pairs emit on match; last-click-wins is the
    // per-purchase max_by over the sink. Watermark 35 days covers the
    // events table's full 30-day span, so no candidate is lost to
    // file-feed disorder — the batch windowed-as-of oracle is the
    // exact expected output.
    NamedQuery("sw08_stream_attribution",
      (s, dir) => {
        val pairs = StreamRunner.runAvailableNow(s, Tables.events(s, dir),
            "sw08_attribution", "append", extraConfs = Map(
              "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) { src =>
          EventStreams.attributionPairs(src, watermark = "35 days",
            maxLag = "6 hours")
        }
        pairs.groupBy("purchase_id", "user_id")
          .agg(max_by(col("click_id"),
              struct(col("c_ts"), col("click_id"))).as("click_id"),
            unix_micros(max(col("c_ts"))).as("click_us"))
          .orderBy("purchase_id")
      },
      Some("""WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
             |           FROM events WHERE event_type = 'purchase'),
             |     c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
             |           FROM events WHERE event_type = 'click'),
             |     j AS (SELECT purchase_id, p.user_id, click_id,
             |             epoch_us(c_ts) AS click_us,
             |             row_number() OVER (PARTITION BY purchase_id
             |               ORDER BY c_ts DESC, click_id DESC) AS rn
             |           FROM p JOIN c ON p.user_id = c.user_id
             |             AND c.c_ts <= p.p_ts
             |             AND c.c_ts >= p.p_ts - INTERVAL 6 HOUR)
             |SELECT purchase_id, user_id, click_id, click_us
             |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin)),

    // ---- streaming UPSERT ingest (foreachBatch merge-into): orders
    // stream in across several micro-batches; each batch merges into a
    // versioned target keeping the latest row per customer. The final
    // table must equal batch q06's latest-order-per-customer EXACTLY —
    // the merge is associative, so the micro-batch split cannot show
    // through.
    NamedQuery("sw06_stream_upsert_latest",
      (s, dir) => {
        val res = StreamRunner.runUpsertLatest(s, Tables.orders(s, dir),
          "sw06_upsert", keyCols = Seq("o_custkey"),
          latestByCols = Seq("o_orderdate", "o_orderkey"))
        res.select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
             |  o_totalprice
             |FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |  FROM orders) WHERE rn = 1
             |ORDER BY o_custkey""".stripMargin)),

    // ---- streaming quality audit (ingest-time lift of t14): the
    // Gopher rule flags run scan-stage on the stream — ZERO state,
    // append mode, no watermark — and the per-rule kill rates
    // aggregated from the sink must equal the batch rules exactly
    // (streaming-vs-batch consistency on a stateless path).
    NamedQuery("sw07_stream_quality_flags",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val res = StreamRunner.runAvailableNow(s, docs,
            "sw07_quality", "append") { src =>
          EventStreams.qualityFlags(src, "doc_id", "text",
            stopwords = graft.text.TextOps.langMarkers.head._2,
            minTokens = 30, maxTokens = 5000, minMeanLen = 3.0,
            maxMeanLen = 4.8, minStopHits = 2)
        }
        res.agg(count(lit(1)).as("n_docs"),
          sum("len_ok").as("n_len_ok"),
          sum("word_len_ok").as("n_word_len_ok"),
          sum("stop_ok").as("n_stop_ok"),
          sum("pass").as("n_pass"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                             x -> len(x) > 0) AS ts
             |  FROM documents),
             |m AS (SELECT doc_id, len(ts) AS n_tokens,
             |    round(CASE WHEN len(ts) = 0 THEN 0.0
             |      ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)
             |        / len(ts) END, 4) AS mean_tok_len,
             |    len(list_intersect(list_distinct(ts),
             |      ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'that', 'it', 'for']))
             |      AS stop_hits
             |  FROM t),
             |f AS (SELECT
             |    CASE WHEN n_tokens BETWEEN 30 AND 5000 THEN 1 ELSE 0 END AS len_ok,
             |    CASE WHEN mean_tok_len BETWEEN 3.0 AND 4.8 THEN 1 ELSE 0 END
             |      AS word_len_ok,
             |    CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS stop_ok
             |  FROM m)
             |SELECT count(*) AS n_docs,
             |  CAST(sum(len_ok) AS BIGINT) AS n_len_ok,
             |  CAST(sum(word_len_ok) AS BIGINT) AS n_word_len_ok,
             |  CAST(sum(stop_ok) AS BIGINT) AS n_stop_ok,
             |  CAST(sum(len_ok * word_len_ok * stop_ok) AS BIGINT) AS n_pass
             |FROM f""".stripMargin)),

    // ---- streaming MODEL-quality admission (ingest-time lift of the
    // t19 frozen-weight scorer): the post-training production shape —
    // scoring is a pure scan-stage projection, so it streams with
    // ZERO state, append mode, no watermark; per-doc verdicts from
    // the sink must equal the batch scorer bit-for-bit (t19's oracle,
    // per-document).
    NamedQuery("sw09_stream_model_admission",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val res = StreamRunner.runAvailableNow(s, docs,
            "sw09_model_admission", "append") { src =>
          graft.ml.QualityModel.scoreFixed(src, "doc_id", "text",
            graft.text.TextOps.langMarkers.head._2)
        }
        res.orderBy("id")
      },
      Some(PipelineQueries.qualityModelFixedOracle)),

    // ---- streaming token-BUDGET admission (stateful ingest-time
    // corpus gating, the p14 family's streaming twin in its
    // naive-prefix form): each source admits docs while its running
    // token total (including the current doc, by doc_id order) stays
    // ≤ 800; state is one long per source (source-cardinality-
    // bounded, no watermark). Deterministic under the harness's
    // doc_id-ordered contract, so the batch running-sum SQL is the
    // exact expected output, per-document.
    NamedQuery("sw10_stream_budget_admission",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
        val res = StreamRunner.runAvailableNow(s, docs,
            "sw10_budget_admission", "append") { src =>
          EventStreams.budgetAdmission(src, "doc_id", "source", "text",
            budget = 800L).toDF()
        }
        res.orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                    x -> len(x) > 0))::BIGINT AS n_tokens
             |  FROM documents),
             |r AS (SELECT doc_id, source, n_tokens,
             |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
             |  FROM t)
             |SELECT doc_id, source, n_tokens,
             |  CAST(CASE WHEN cum <= 800 THEN 1 ELSE 0 END AS BIGINT) AS admit
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- streaming SEMANTIC admission against the PERSISTED IVF
    // index (the s16 artifact, built here on the benchmark slice
    // vec_id%10=0): arriving embeddings probe their nprobe nearest
    // lists and are admitted iff no indexed neighbor reaches cosine
    // 0.4 — d18's streaming twin, run as ONE stateless stream-static
    // left-anti join (scan-stage probe expression, no state, no
    // watermark). The batch IVF-probe replay is the exact oracle.
    NamedQuery("sw11_stream_semantic_admission",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val bench = emb.filter(col("vec_id") % 10 === 0)
        val path = graft.ScratchDirs.scratch("ivf_admission_idx")
        val cents = graft.similarity.Similarity.hyperplanes(
          dim = 64, nBits = PipelineQueries.IvfLists, seed = 7L)
        graft.ml.VectorSearch.writeIvfIndex(
          graft.similarity.Similarity.assignFixed(bench, cents),
          "cluster", cents.zipWithIndex.map(_.swap), path)
        val admitted = StreamRunner.runAvailableNow(s,
            emb.filter(col("vec_id") % 10 =!= 0),
            "sw11_semantic_admission", "append") { src =>
          EventStreams.semanticAdmission(src, "vec_id", "embedding", path,
            minCos = 0.4, nprobe = PipelineQueries.IvfProbes)
        }
        admitted.orderBy("id")
      },
      Some(PipelineQueries.semanticAdmissionIvfOracle(dim = 64,
        nlist = PipelineQueries.IvfLists, nprobe = PipelineQueries.IvfProbes,
        minCos = 0.4, seed = 7L))),

    // ---- streaming COUNT-MIN sketch maintenance (ingest-time lift of
    // p17): arriving docs explode to tokens and increment the d×w cell
    // grid — the streaming groupBy keys onto ≤ 4·256 cells, so state
    // is the SKETCH itself, constant-bounded regardless of corpus size
    // (complete mode, no watermark needed). The batch exact-top-20
    // audit then probes the STREAMED cells; p17's oracle is the exact
    // expected output, proving the incrementally-maintained sketch ≡
    // the batch-built one (count-min is mergeable by construction).
    NamedQuery("sw12_stream_cms_hitters",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val cells = StreamRunner.runAvailableNow(s, docs,
            "sw12_cms", "complete") { src =>
          graft.text.Sketches.cmsCells(
            src.select(explode(graft.text.TextOps.tokens(col("text")))
              .as("tok")), "tok", d = 4, w = 256)
        }
        val toks = Tables.documents(s, dir)
          .select(explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
        graft.text.Sketches.cmsAudit(cells, toks, "tok", d = 4, w = 256,
            topN = 20)
          .orderBy(col("true_cnt").desc, col("tok"))
      },
      Some(PipelineQueries.cmsOracle)),

    // ---- streaming EXACT-dedup admission against the PERSISTED hash
    // index (d26's streaming twin; the exact-content sibling of sw11):
    // the index holds the even half's content hashes; arriving odd
    // docs + planted replays of INDEXED docs probe it via a stateless
    // stream-static anti-join. The feed has no within-stream dups, so
    // the per-doc admitted set is deterministic (the within-stream
    // dropDuplicatesWithinWatermark stage still runs; its multi-twin
    // semantics are sw02's contract).
    NamedQuery("sw13_stream_index_dedup",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val path = graft.ScratchDirs.scratch("hash_idx_stream")
        graft.dedup.Dedup.writeHashIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
        val feed = docs.filter(col("doc_id") % 2 =!= 0)
          .unionByName(docs.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000))
          .withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id)"))
        val admitted = StreamRunner.runAvailableNow(s, feed,
            "sw13_index_dedup", "append") { src =>
          EventStreams.indexDedupAdmission(src, "doc_id", "text", "ts",
            path, watermark = "30 days")
        }
        admitted.orderBy("id")
      },
      Some("""WITH idx AS (SELECT DISTINCT md5(text) AS h FROM documents
             |  WHERE doc_id % 2 = 0),
             |batch AS (
             |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
             |  UNION ALL
             |  SELECT doc_id + 1000000, md5(text) FROM documents
             |  WHERE doc_id % 10 = 0)
             |SELECT doc_id AS id FROM batch
             |WHERE h NOT IN (SELECT h FROM idx)
             |ORDER BY id""".stripMargin)),

    // ---- streaming NEAR-dup admission against the PERSISTED MinHash
    // band index (d27's streaming twin — the lexical sibling of sw11's
    // semantic and sw13's exact-content gates, completing the
    // admission family): the even half's signatures persist as the
    // index; arriving odd docs + planted replays of indexed docs
    // compute their signature scan-stage and are admitted iff no
    // indexed doc shares a band hash at est_jaccard ≥ 0.5 — ONE
    // stateless stream-static anti-join (append mode, zero state).
    // The planted replays (est 1.0 vs their originals) must all drop.
    NamedQuery("sw14_stream_neardup_admission",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val path = graft.ScratchDirs.scratch("mh_idx_stream")
        graft.dedup.Dedup.writeMinhashIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          n = 3, numHashes = PipelineQueries.MhHashes,
          bands = PipelineQueries.MhBands, path)
        val feed = docs.filter(col("doc_id") % 2 =!= 0)
          .unionByName(docs.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000))
        val admitted = StreamRunner.runAvailableNow(s, feed,
            "sw14_neardup_admission", "append") { src =>
          EventStreams.nearDupIndexAdmission(src, "doc_id", "text", path,
            n = 3, numHashes = PipelineQueries.MhHashes,
            bands = PipelineQueries.MhBands, minJaccard = 0.5)
        }
        admitted.orderBy("id")
      },
      Some(PipelineQueries.minhashStreamAdmissionOracle(
        PipelineQueries.MhHashes, PipelineQueries.MhBands, 0.5))),

    // ---- streaming exact-dedup admission through the persisted BLOOM
    // gate (d29's streaming twin; sw13 with the stream-static join
    // culled to the maybe-dup sliver): the even half's hashes persist
    // as index + constant-size filter; arriving odd docs + planted
    // replays of INDEXED docs (%10==2, +1000000) route on the
    // scan-stage BloomFilterMightContain gate — definitely-new rows
    // admit without touching the index, maybe-dups (every replay +
    // ~fpp of the fresh) verify via the stateless anti-join. Admitted
    // set ≡ sw13's exact semantics; the oracle is the plain anti-join.
    NamedQuery("sw18_stream_bloom_admission",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val path = graft.ScratchDirs.scratch("bloom_idx_stream")
        graft.dedup.Dedup.writeHashIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
        graft.dedup.Dedup.writeBloomIndex(s, path, fpp = 0.01)
        val feed = docs.filter(col("doc_id") % 2 =!= 0)
          .unionByName(docs.filter(col("doc_id") % 10 === 2)
            .withColumn("doc_id", col("doc_id") + 1000000))
          .withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id)"))
        val admitted = StreamRunner.runAvailableNow(s, feed,
            "sw18_bloom_admission", "append") { src =>
          EventStreams.bloomIndexAdmission(src, "doc_id", "text", "ts",
            path, watermark = "30 days")
        }
        admitted.orderBy("id")
      },
      Some("""WITH idx AS (SELECT DISTINCT md5(text) AS h FROM documents
             |  WHERE doc_id % 2 = 0),
             |feed AS (
             |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
             |  UNION ALL
             |  SELECT doc_id + 1000000, md5(text) FROM documents
             |  WHERE doc_id % 10 = 2)
             |SELECT doc_id AS id FROM feed
             |WHERE h NOT IN (SELECT h FROM idx)
             |ORDER BY id""".stripMargin)),

    // ---- streaming HISTOGRAM-quantile maintenance (ingest-time lift
    // of p18, the distribution sibling of sw12's count-min): arriving
    // docs bucket their token counts into (source, bucket) cells — the
    // streaming groupBy keys onto |sources|·|buckets| cells, so state
    // IS the histogram, bounded by the value range rather than the
    // corpus (complete mode, no watermark). The batch extraction then
    // reads the STREAMED cells; p18's oracle is the exact expected
    // output — the incrementally-maintained sketch ≡ the batch-built
    // one (fixed-width histograms are mergeable by construction).
    NamedQuery("sw15_stream_hist_quantiles",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
        val cells = StreamRunner.runAvailableNow(s, docs,
            "sw15_hist", "complete") { src =>
          graft.text.Sketches.histCells(src, "source",
            size(graft.text.TextOps.tokens(col("text"))).cast("long"),
            width = 16)
        }
        graft.text.Sketches.histQuantilesFromCells(cells, "source",
            width = 16, qs = Seq(0.5, 0.9, 0.99))
          .orderBy("source", "q")
      },
      Some(PipelineQueries.histQuantilesOracle)),

    // ---- streaming IVF index MAINTENANCE (the write-side counterpart
    // of sw11's read-side admission, s17's incremental append driven
    // by the real micro-batch engine): the even half builds the
    // persisted index; the odd half STREAMS in via foreachBatch —
    // each micro-batch assigns under the frozen centroids and appends
    // to the list-partitioned artifacts (maxFilesPerTrigger forces
    // several real appends). Serving from the stream-grown index must
    // equal the full batch build — s04's oracle verbatim, because
    // fixed-centroid assignment is per-row independent, so no
    // micro-batch split can show through.
    NamedQuery("sw16_stream_ivf_append",
      (s, dir) => {
        import graft.similarity.Similarity
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val path = graft.ScratchDirs.scratch("ivf_idx_stream_grow")
        val cents = Similarity.hyperplanes(
          dim = 64, nBits = PipelineQueries.IvfLists, seed = 7L)
        graft.ml.VectorSearch.writeIvfIndex(
          Similarity.assignFixed(emb.filter(col("vec_id") % 2 === 0), cents),
          "cluster", cents.zipWithIndex.map(_.swap), path)
        StreamRunner.runForeachBatch(s,
            emb.filter(col("vec_id") % 2 =!= 0), "sw16_ivf_append") { b =>
          graft.ml.VectorSearch.appendToIvfIndex(b, path)
        }
        val (loaded, loadedCents) = graft.ml.VectorSearch.readIvfIndex(s, path)
        Similarity.ivfServe(emb.filter(col("vec_id") < 20), loaded,
            loadedCents.map(_._2), k = 5, nprobe = PipelineQueries.IvfProbes)
          .orderBy("query_id", "rank")
      },
      Some(PipelineQueries.ivfFixedOracle(dim = 64,
        nlist = PipelineQueries.IvfLists, nprobe = PipelineQueries.IvfProbes,
        k = 5, seed = 7L))),

    // ---- streaming IVF-PQ index maintenance (sw16's coded sibling,
    // s25 driven by the real micro-batch engine — closes the
    // {IVF, IVF-PQ} × {batch append, stream append} matrix): arriving
    // embeddings are ENCODED under the artifact's own reloaded
    // codebooks, assigned under its centroids, and appended codes-only
    // to the list dirs per micro-batch. Serving the stream-grown
    // composed index must equal the full batch build — s18's oracle
    // verbatim (per-row encode+assign is split-invariant).
    NamedQuery("sw17_stream_ivfpq_append",
      (s, dir) => {
        import graft.similarity.Similarity
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val path = graft.ScratchDirs.scratch("ivfpq_idx_stream_grow")
        val cents = Similarity.hyperplanes(
          dim = 64, nBits = PipelineQueries.IvfLists, seed = 7L)
        graft.ml.VectorSearch.writeIvfPqIndex(
          Similarity.ivfPqEncodeAssign(emb.filter(col("vec_id") % 2 === 0),
            cents, 64, PipelineQueries.PqM, PipelineQueries.PqK,
            PipelineQueries.PqSeed),
          cents.zipWithIndex.map(_.swap),
          Similarity.pqCodebooks(64, PipelineQueries.PqM,
            PipelineQueries.PqK, PipelineQueries.PqSeed), path)
        StreamRunner.runForeachBatch(s,
            emb.filter(col("vec_id") % 2 =!= 0), "sw17_ivfpq_append") { b =>
          graft.ml.VectorSearch.appendToIvfPqIndex(b, path, dim = 64)
        }
        Similarity.ivfPqServe(emb.filter(col("vec_id") < 20),
            graft.Fs.readParquet(s, s"$path/assignments"),
            graft.ml.VectorSearch.readIvfIndexCentroids(s, path).map(_._2),
            graft.ml.VectorSearch.readPqCodebooks(s, path),
            topK = 5, nprobe = PipelineQueries.IvfProbes)
          .orderBy("query_id", "rank")
      },
      Some(PipelineQueries.ivfPqOracle(dim = 64,
        nlist = PipelineQueries.IvfLists, nprobe = PipelineQueries.IvfProbes,
        topK = 5, ivfSeed = 7L))),

    // ---- streaming decontamination ADMISSION against the PERSISTED
    // gram index (d31's streaming twin; completes the persisted-gate
    // streaming family next to sw13/sw14/sw11/sw18): the benchmark's
    // gram set persists once; arriving corpus docs decontaminate per
    // micro-batch via foreachBatch (several real batches forced by
    // maxFilesPerTrigger) and admitted rows append to the sink.
    // Decontamination is per-doc independent, so no micro-batch split
    // can show through — d15's oracle verbatim.
    NamedQuery("sw19_stream_decontam_admission",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val path = graft.ScratchDirs.scratch("gram_idx_stream")
        val sink = graft.ScratchDirs.scratch("sw19_admitted")
        graft.dedup.Dedup.writeGramIndex(
          docs.filter(col("doc_id") % 10 === 0), "text",
          n = PipelineQueries.DecontamN, path)
        val feed = docs.filter(col("doc_id") % 10 =!= 0)
          .select("doc_id", "text", "source")
        // truncate re-runs with the PROJECTED (appended) schema — a
        // 3-column seed under 2-column appends left the read-back
        // schema to footer-sampling luck (the r9 gate flake)
        StreamRunner.seedSink(feed.select("doc_id", "source"), sink)
        StreamRunner.runForeachBatch(s, feed, "sw19_decontam") { b =>
          graft.dedup.Dedup.decontaminateAgainstGramIndex(b, "doc_id",
              "text", n = PipelineQueries.DecontamN, path)
            .select("doc_id", "source")
            .write.mode("append").parquet(sink)
        }
        StreamRunner.readSink(s, sink, Seq("doc_id", "source"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${PipelineQueries.decontamCtes(PipelineQueries.DecontamN)}
             |SELECT doc_id, source FROM documents d
             |WHERE d.doc_id % 10 != 0
             |  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ---- streaming admission against the TOMBSTONED index (sw20):
    // d32's streaming serve — the persisted-gate family's delete
    // story, completing opt-out coverage on the ingest path. The
    // static side is the LIVE index (hash index anti-joined with its
    // tombstone side-table), so the stream ADMITS re-submissions of
    // deleted content (+1e6 — the opt-out forgets mid-stream), still
    // REJECTS retained-content replays (+2e6), and admits fresh odds.
    // The same feed runs again AFTER compaction (phase 2) and must
    // admit identically — compaction is transparent to the serve.
    NamedQuery("sw20_stream_tombstone_admission",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val path = graft.ScratchDirs.scratch("hash_idx_ts_stream")
        graft.dedup.Dedup.writeHashIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
        graft.dedup.Dedup.tombstoneHashIndex(
          docs.filter(col("doc_id") % 6 === 0), "text", path)
        val feed = docs.filter(col("doc_id") % 2 =!= 0)
          .unionByName(docs.filter(col("doc_id") % 6 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000))
          .unionByName(docs.filter(col("doc_id") % 4 === 2 && col("doc_id") % 6 =!= 0)
            .withColumn("doc_id", col("doc_id") + 2000000))
          .withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id)"))
        // both phases stream the IDENTICAL feed under ONE stream name:
        // StreamRunner keys its staged-parquet input by (name, the
        // feed's content key — its plan and the files it scans), so
        // phase 2 re-reads phase 1's staging instead of re-writing
        // it (sink names stay distinct via the runner's run counter —
        // phase 1 is checkpointed before phase 2 runs). The remaining
        // two-phase cost is the double micro-batch serve: the proof.
        def serve(tag: Int) =
          StreamRunner.runAvailableNow(s, feed, "sw20_tombstone", "append") { src =>
            EventStreams.liveIndexDedupAdmission(src, "doc_id", "text",
              "ts", path, watermark = "30 days")
          }.select(lit(tag).as("phase"), col("id"))
        val p1 = serve(1).localCheckpoint()
        graft.dedup.Dedup.compactHashIndex(s, path)
        val p2 = serve(2)
        p1.unionByName(p2).orderBy("phase", "id")
      },
      Some("""WITH live AS (SELECT md5(text) AS h FROM documents
             |  WHERE doc_id % 2 = 0 AND doc_id % 6 <> 0),
             |feed AS (
             |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
             |  UNION ALL SELECT doc_id + 1000000, md5(text) FROM documents
             |    WHERE doc_id % 6 = 0
             |  UNION ALL SELECT doc_id + 2000000, md5(text) FROM documents
             |    WHERE doc_id % 4 = 2 AND doc_id % 6 <> 0),
             |adm AS (SELECT doc_id AS id FROM feed
             |  WHERE h NOT IN (SELECT h FROM live))
             |SELECT ph.phase, a.id
             |FROM adm a CROSS JOIN (SELECT 1 AS phase UNION ALL SELECT 2 AS phase) ph
             |ORDER BY ph.phase, a.id""".stripMargin)),

    // ---- streaming BM25 postings-index MAINTENANCE (sw21): s31's
    // append loop driven by the real micro-batch engine — the even
    // half builds the persisted postings/doclens, the odd half
    // STREAMS in via foreachBatch (several real appends forced by
    // maxFilesPerTrigger), and serving from the stream-grown index
    // must equal the full batch build. Posting rows are per-doc
    // independent, so no micro-batch split can show through — s27's
    // oracle verbatim. Completes {build, append, serve, delete,
    // compact} × {batch, stream} for the LEXICAL index family.
    NamedQuery("sw21_stream_postings_append",
      (s, dir) => {
        import graft.text.Retrieval
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val path = graft.ScratchDirs.scratch("bm25_idx_stream")
        Retrieval.writePostingsIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
        StreamRunner.runForeachBatch(s,
            docs.filter(col("doc_id") % 2 =!= 0), "sw21_postings_append") { b =>
          Retrieval.appendToPostingsIndex(b, "doc_id", "text", path)
        }
        Retrieval.bm25TopKFromIndex(s, path,
            PipelineQueries.bm25Queries(docs), "query_id", "qtext", k = 10)
          .orderBy("query_id", "rank")
      },
      Some(PipelineQueries.bm25IndexOracle())),

    // ---- streaming DSIR importance admission (sw22): the ingest
    // stream scored against the FROZEN bucket-LM artifact (p28's
    // writeDsirLm) — admit docs more target-like than raw (rounded
    // log-ratio sum > 0). The gate is ONE constant-folded scan
    // expression (no explode/join/state), so the stream plan is a
    // stateless projection+filter; the oracle recomputes the LM and
    // every score from raw, pinning the artifact round-trip AND the
    // admission set. Completes the train-offline / gate-the-stream
    // pair for the data-selection LM (the sw09 frozen-scorer shape).
    NamedQuery("sw22_stream_dsir_admission",
      (s, dir) => {
        import graft.text.Sampling
        val docs = Tables.documents(s, dir)
        val path = graft.ScratchDirs.scratch("dsir_lm_stream")
        Sampling.writeDsirLm(docs, "text",
          col("lang") === "en", nBuckets = 1024, path)
        val (lut, n) = Sampling.readDsirLut(s, path)
        StreamRunner.runAvailableNow(s, docs.select("doc_id", "text"),
            "sw22_dsir_admission", "append") { src =>
          EventStreams.dsirAdmission(src, "doc_id", "text", lut, n,
            minScore = 0.0)
        }.orderBy("id")
      },
      Some(PipelineQueries.dsirScoreOracle(
        """SELECT doc_id AS id, score FROM scored WHERE score > 0
          |ORDER BY id""".stripMargin))),

    // ---- streaming BPE encode from the persisted tokenizer (sw23):
    // t26's serving twin on the ingest path — the merge artifact
    // trains and persists OFFLINE (%10=0 docs); the remaining docs
    // STREAM in and every micro-batch encodes from the frozen
    // artifact via foreachBatch (the token-count stamp each arriving
    // doc gets before budget/packing decisions). Encoding is per-doc
    // independent — replayed merges + a batch-local vocab join — so
    // no micro-batch split can show through: t26's oracle on the
    // feed half verbatim.
    NamedQuery("sw23_stream_bpe_encode",
      (s, dir) => {
        import graft.text.TextOps
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val path = graft.ScratchDirs.scratch("bpe_artifact_stream")
        TextOps.writeBpeArtifact(docs.filter(col("doc_id") % 10 === 0),
          "text", merges = 6, path)
        val feed = docs.filter(col("doc_id") % 10 =!= 0)
        val sink = graft.ScratchDirs.scratch("sw23_encoded")
        StreamRunner.seedSink(feed.select(col("doc_id").as("id"),
          lit(0L).as("n_tokens"), lit(0L).as("n_pieces")), sink)
        StreamRunner.runForeachBatch(s, feed, "sw23_bpe_encode") { b =>
          TextOps.bpeEncodeFromArtifact(b, "doc_id", "text", path)
            .write.mode("append").parquet(sink)
        }
        StreamRunner.readSink(s, sink, Seq("id", "n_tokens", "n_pieces"))
          .orderBy("id")
      },
      Some(PipelineQueries.bpeArtifactEncodeOracle(6,
        trainWhere = "doc_id % 10 = 0", serveWhere = "doc_id % 10 <> 0"))),

    // ---- streaming quality admission from the PERSISTED model
    // (sw24): m19's ingest twin, completing offline-train / persist /
    // stream-serve for the quality family (sw09 scores with
    // in-session weights; production promotes the ARTIFACT and the
    // ingest gate loads it). Each micro-batch scores from the frozen
    // artifact — a 6-row driver fetch then the scan-stage σ(b + w·f)
    // projection — and only keep=1 rows append. Per-doc independent,
    // so the batch oracle (admitted rows of t19's arithmetic) holds
    // under any micro-batch split.
    NamedQuery("sw24_stream_quality_admission",
      (s, dir) => {
        import graft.ml.QualityModel
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val path = graft.ScratchDirs.scratch("quality_model_stream")
        QualityModel.writeModel(s,
          weights = Seq(3.0, 6.0, -8.0, -4.0, 2.0), bias = -2.5, path)
        val sink = graft.ScratchDirs.scratch("sw24_admitted")
        StreamRunner.seedSink(docs.select(col("doc_id").as("id"),
          lit(0.0).as("prob"), lit(0L).as("keep")), sink)
        StreamRunner.runForeachBatch(s, docs, "sw24_quality_admission") { b =>
          QualityModel.scoreFromArtifact(b, "doc_id", "text",
              graft.text.TextOps.langMarkers.head._2, path)
            .filter(col("keep") === 1L)
            .write.mode("append").parquet(sink)
        }
        StreamRunner.readSink(s, sink, Seq("id", "prob", "keep"))
          .orderBy("id")
      },
      Some(PipelineQueries.qualityModelAdmittedOracle)),

    // ---- streaming CDC APPLY (sw25): the CONSUMER half of the io14
    // change feed — a downstream replica subscribes to the
    // insert/update/delete stream and applies each micro-batch as a
    // keyed MERGE, maintaining itself AS an io12 snapshot table
    // (every batch = one overwrite commit: read latest → anti-join
    // the batch's keys → union the batch's post-images → commit).
    // Composes io12 + io14 + the real micro-batch engine; feed keys
    // are unique per key, so any batch split applies cleanly. The
    // replayed replica must equal the source's v2 exactly — inserts
    // present, updates post-imaged, deletes gone.
    NamedQuery("sw25_stream_cdc_apply",
      (s, dir) => {
        import graft.sources.Sources
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
        // scratch paths are pid-STABLE: clear both tables so a warm
        // re-run in the same JVM (Bench min-of-runs, Perf loops)
        // starts from version 0 instead of appending to last run's
        // manifest — accumulated versions would duplicate keys and
        // poison the change feed
        val src = graft.ScratchDirs.scratch("cdc_src_table")
        graft.Fs.deleteRecursive(s, src)
        val v1 = Sources.snapshotCommit(
          docs.filter(col("doc_id") % 3 < 2), src)
        val v2 = Sources.snapshotCommit(
          docs.filter(col("doc_id") % 3 === 1)
            .withColumn("n_chars", col("n_chars") + 1)
            .unionByName(docs.filter(col("doc_id") % 3 === 2)),
          src, overwrite = true)
        val feed = Sources.snapshotChanges(s, src, "doc_id", v1, v2)
        val replica = graft.ScratchDirs.scratch("cdc_replica")
        graft.Fs.deleteRecursive(s, replica)
        Sources.snapshotCommit(Sources.snapshotRead(s, src, v1), replica)
        StreamRunner.runForeachBatch(s, feed, "sw25_cdc_apply") { b =>
          val cur = Sources.snapshotRead(s, replica,
            Sources.snapshotLatestVersion(s, replica))
          val next = cur
            .join(b.select("doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(b.filter(col("change") =!= "delete")
              .select("doc_id", "n_chars"))
          // pin before committing back under the table root being read
          Sources.snapshotCommit(next.localCheckpoint(), replica,
            overwrite = true)
          ()
        }
        Sources.snapshotRead(s, replica,
            Sources.snapshotLatestVersion(s, replica))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars + 1 AS n_chars FROM documents
             |  WHERE doc_id % 3 = 1
             |UNION ALL
             |SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 2
             |ORDER BY doc_id""".stripMargin)),

    // ---- streaming ZONE-MAP maintenance (sw26): the ingest half of
    // io16 — every micro-batch is appended as a snapshot commit WITH
    // per-column min/max stats, so the table's data-skipping metadata
    // grows with the stream instead of needing an offline stats
    // build. The feed arrives n_chars-ordered (orderBy before the
    // harness's coalesce keeps the staged files range-clustered, the
    // shape date-ordered production ingest has naturally), so each
    // commit's zone is a tight band and the range probe skips the
    // out-of-band commits. scanned/total are NOT asserted here: the
    // file source orders staged files by modification time, so the
    // file→batch pairing (hence zone tightness) is not reproducible
    // — the oracle pins exact content equality with the plain range
    // filter under ANY batch split (skipping is never a filter), and
    // SourcesSpec pins the pruning arithmetic on controlled commits.
    NamedQuery("sw26_stream_stats_commits",
      (s, dir) => {
        import graft.sources.Sources
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
        val table = graft.ScratchDirs.scratch("stats_commit_table")
        graft.Fs.deleteRecursive(s, table)
        val feed = docs.orderBy("n_chars", "doc_id")
        StreamRunner.runForeachBatch(s, feed, "sw26_stats_commits") { b =>
          Sources.snapshotCommit(b, table, statsCols = Seq("n_chars"))
          ()
        }
        val v = Sources.snapshotLatestVersion(s, table)
        val (rows, _, _) = Sources.snapshotReadPruned(
          s, table, v, "n_chars", 200d, 400d)
        rows.select("doc_id", "n_chars").orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars FROM documents
             |WHERE n_chars BETWEEN 200 AND 400
             |ORDER BY doc_id""".stripMargin)),

    // ---- streaming AUTO-COMPACTION (sw27): the background
    // maintenance loop every streaming lakehouse ingest runs (Delta
    // auto compaction / Iceberg maintenance jobs) — each micro-batch
    // appends a snapshot commit, and whenever the live version
    // accumulates >= 4 small commit dirs the ingester folds them into
    // ONE optimize commit (io17) before continuing. Appends and
    // compactions interleave mid-stream, so the gate proves ingest
    // correctness THROUGH repeated compaction: the final read must
    // equal the full feed no matter how many commits were folded or
    // at which batch boundaries (the file source's batch split is
    // not reproducible — content, not commit counts, is the oracle;
    // SourcesSpec pins the trigger arithmetic on controlled commits).
    NamedQuery("sw27_stream_auto_compact",
      (s, dir) => {
        import graft.sources.Sources
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
        val table = graft.ScratchDirs.scratch("auto_compact_table")
        graft.Fs.deleteRecursive(s, table)
        StreamRunner.runForeachBatch(s, docs, "sw27_auto_compact") { b =>
          Sources.snapshotCommit(b, table)
          val v = Sources.snapshotLatestVersion(s, table)
          if (Sources.snapshotCommitDirs(s, table, v) >= 4)
            Sources.snapshotOptimize(s, table)
          ()
        }
        Sources.snapshotRead(s, table,
            Sources.snapshotLatestVersion(s, table))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ---- streaming SimHash admission (sw29): d35's executed-
    // streaming twin — the even half's sketches persist as the index,
    // then odd docs + planted replays of INDEXED docs (%10==0,
    // +1000000) arrive as a stream; each row sketches via the fused
    // per-row band kernel (bit-identical to the batch agg) and four
    // stream-static anti-joins drop rows any index sketch matches at
    // hamming ≤ 3. Replays reject at hamming 0; odd docs admit unless
    // near-dup of an even one. The oracle replays sketch → band join
    // → verify → anti-join over the same feed.
    NamedQuery("sw29_stream_simhash_admission",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val path = graft.ScratchDirs.scratch("simhash_idx_stream")
        graft.Fs.deleteRecursive(s, path)
        graft.dedup.Dedup.writeSimhashIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
        val feed = docs.filter(col("doc_id") % 2 =!= 0)
          .unionByName(docs.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000))
        val admitted = StreamRunner.runAvailableNow(s, feed,
            "sw29_simhash_admission", "append") { src =>
          EventStreams.simhashIndexAdmission(src, "doc_id", "text", path,
            maxHamming = 3)
        }
        admitted.orderBy("id")
      },
      Some(PipelineQueries.simhashStreamAdmissionOracle(maxHamming = 3))),

    // ---- streaming CHECKED ingest with quarantine (sw30): the io22
    // constraints enforced row-level in the ingest loop — the shape
    // production pipelines actually run (Delta rejects the batch;
    // pipelines SPLIT it): each micro-batch's rows that satisfy every
    // declared check commit to the table, violators append to a
    // quarantine sink with the violated constraint named. The feed
    // plants negative n_chars on doc_id%7==0; the gate pins BOTH
    // sides — admitted content AND the quarantine ledger — under one
    // oracle, batch-split-independent because the split is row-pure.
    NamedQuery("sw30_stream_checked_ingest",
      (s, dir) => {
        import graft.sources.Sources
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
        val feed = docs.withColumn("n_chars",
          when(col("doc_id") % 7 === 0, -col("n_chars"))
            .otherwise(col("n_chars")))
        val table = graft.ScratchDirs.scratch("checked_ingest_table")
        val quar = graft.ScratchDirs.scratch("checked_ingest_quarantine")
        graft.Fs.deleteRecursive(s, table)
        graft.Fs.deleteRecursive(s, quar)
        Sources.snapshotAddConstraint(s, table, "chars_positive",
          "n_chars > 0")
        val checks = Sources.snapshotConstraintsOf(s, table)
        StreamRunner.runForeachBatch(s, feed, "sw30_checked_ingest") { b =>
          val viol = checks.map { case (n, c) =>
            when(!coalesce(expr(c), lit(false)), lit(n)) }
          val flagged = b.withColumn("__viol",
            coalesce(viol :+ lit(null).cast("string"): _*))
          flagged.filter(col("__viol").isNotNull)
            .withColumn("violated", col("__viol")).drop("__viol")
            .write.mode("append").parquet(quar)
          Sources.snapshotCommitChecked(
            flagged.filter(col("__viol").isNull).drop("__viol"), table)
          ()
        }
        val kept = Sources.snapshotRead(s, table,
            Sources.snapshotLatestVersion(s, table))
          .select(col("doc_id"), col("n_chars"),
            lit(null).cast("string").as("violated"))
        val quarantined = s.read.parquet(quar)
          .select("doc_id", "n_chars", "violated")
        kept.unionByName(quarantined).orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS violated
             |FROM documents WHERE doc_id % 7 <> 0
             |UNION ALL
             |SELECT doc_id, -n_chars, 'chars_positive' FROM documents
             |WHERE doc_id % 7 = 0
             |ORDER BY doc_id""".stripMargin)),

    // ---- streaming feature-scaler maintenance (sw31): the online
    // half of m20/m21 — the TRAIN slice arrives as a stream and every
    // micro-batch appends its exact integer (n, Σx, Σx²) moment rows
    // to the scaler artifact (FeatureScaler's design: moments are
    // associative, so ANY batch split merges to the identical scaler).
    // After the stream, the FULL corpus is z-scored from the artifact
    // and must hash-match m20's single-fit oracle VERBATIM — streamed
    // fit ≡ batch fit, the property that lets a deployment keep its
    // scaler fresh without refit scans.
    NamedQuery("sw31_stream_scaler",
      (s, dir) => {
        import graft.ml.FeatureScaler
        val li = Tables.lineitem(s, dir)
        val path = graft.ScratchDirs.scratch("stream_scaler")
        graft.Fs.deleteRecursive(s, path)
        val feed = li.filter(col("l_orderkey") % 5 =!= 0)
        StreamRunner.runForeachBatch(s, feed, "sw31_scaler") { b =>
          FeatureScaler.appendScaler(b, MlQueries.scalerFeatures, path)
          ()
        }
        FeatureScaler.zscore(li, MlQueries.scalerFeatures, path,
            keep = Seq("l_orderkey", "l_linenumber"))
          .orderBy("l_orderkey", "l_linenumber", "z_qty", "z_price", "z_disc")
      },
      Some(MlQueries.scalerOracle)),

    // ---- streaming POINT-IN-TIME enrichment (sw32): q48's feature
    // assembly in the shape an ONLINE feature store serves it — the
    // per-customer history is compacted once into a day-sorted array
    // of feature versions (the batch half), and each ARRIVING label
    // row picks its as-of entry with a scan-stage array lookup
    // (broadcast stream-static join + filter/element_at, no state, no
    // shuffle on the stream side). Must produce q48's training set
    // VERBATIM under any batch split — the batch/online consistency
    // contract every feature store audits. At 100 TB the array table
    // is the compacted online store keyed by entity; per-entity
    // history bounds the array, not the corpus.
    NamedQuery("sw32_stream_pit_enrichment",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables.orders(s, dir)
        val histW = Window.partitionBy("o_custkey")
          .orderBy(col("fday"), col("fkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val feat = o.select(col("o_custkey"), col("o_orderkey").as("fkey"),
            to_date(col("o_orderdate")).as("fday"), col("o_totalprice"))
          .select(col("o_custkey"), col("fkey"), col("fday"),
            count(lit(1)).over(histW).as("n_prev_orders"),
            round(sum(col("o_totalprice")).over(histW), 2).as("prev_ltv"))
          .groupBy("o_custkey")
          .agg(array_sort(collect_list(struct(col("fday"), col("fkey"),
            col("n_prev_orders"), col("prev_ltv")))).as("hist"))
        val labels = o.filter(year(col("o_orderdate")) >= 1999)
          .select(col("o_orderkey").as("label_key"), col("o_custkey"),
            to_date(col("o_orderdate")).as("lday"),
            col("o_totalprice").as("label_price"))
        // entity count gates the join strategy (EventStreams.pitEnrich):
        // the store is artifact-sized, so the count is one tiny job
        val nEntities = feat.count()
        val res = StreamRunner.runAvailableNow(s, labels,
            "sw32_pit_enrich", "append") { src =>
          EventStreams.pitEnrich(src, feat, "o_custkey", "hist", "fday",
              asof = date_sub(col("lday"), 1), entityCount = nEntities)
            .select(col("label_key"), col("o_custkey"),
              date_format(col("lday"), "yyyy-MM-dd").as("day"),
              col("label_price"),
              col("__m")("n_prev_orders").as("n_prev_orders"),
              col("__m")("prev_ltv").as("prev_ltv"))
        }
        res.orderBy("label_key")
      },
      Some(AdvancedQueries.pitFeaturesOracle)),

    // ---- streaming PIT enrichment, SHUFFLE side (sw35): sw32 with
    // the broadcast gate forced past its threshold — the plan a
    // 100 TB-entity-cardinality store must run, because a broadcast
    // of the history table grows linearly with entity count and OOMs
    // executors (the gate must never be a hardcoded hint). Keyed
    // stream-static shuffle join, same array lookup, same training
    // set VERBATIM under the same oracle as sw32/q48 — the strategy
    // switch is invisible to the result, which is the point.
    NamedQuery("sw35_stream_pit_shuffle",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables.orders(s, dir)
        val histW = Window.partitionBy("o_custkey")
          .orderBy(col("fday"), col("fkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val feat = o.select(col("o_custkey"), col("o_orderkey").as("fkey"),
            to_date(col("o_orderdate")).as("fday"), col("o_totalprice"))
          .select(col("o_custkey"), col("fkey"), col("fday"),
            count(lit(1)).over(histW).as("n_prev_orders"),
            round(sum(col("o_totalprice")).over(histW), 2).as("prev_ltv"))
          .groupBy("o_custkey")
          .agg(array_sort(collect_list(struct(col("fday"), col("fkey"),
            col("n_prev_orders"), col("prev_ltv")))).as("hist"))
        val labels = o.filter(year(col("o_orderdate")) >= 1999)
          .select(col("o_orderkey").as("label_key"), col("o_custkey"),
            to_date(col("o_orderdate")).as("lday"),
            col("o_totalprice").as("label_price"))
        val nEntities = feat.count()
        val res = StreamRunner.runAvailableNow(s, labels,
            "sw35_pit_shuffle", "append") { src =>
          EventStreams.pitEnrich(src, feat, "o_custkey", "hist", "fday",
              asof = date_sub(col("lday"), 1), entityCount = nEntities,
              broadcastMaxEntities = 0L)
            .select(col("label_key"), col("o_custkey"),
              date_format(col("lday"), "yyyy-MM-dd").as("day"),
              col("label_price"),
              col("__m")("n_prev_orders").as("n_prev_orders"),
              col("__m")("prev_ltv").as("prev_ltv"))
        }
        res.orderBy("label_key")
      },
      Some(AdvancedQueries.pitFeaturesOracle)),

    // ---- streaming perceptual-hash admission (sw36): mm06's media
    // ingest gate executed through the real micro-batch engine — the
    // missing streaming twin that completes the multimodal index
    // family (build/append/batch-serve/stream-serve, the d35→sw29
    // pattern). The %3≠0 corpus freezes as the aHash index; the feed
    // is the %3==0 media plus planted REPLAYS of indexed media
    // (%6==1, id+1000000): replays reject at Hamming 0, new media
    // admit unless a perceptual near-dup of an indexed fingerprint
    // verifies at ≤1 on a shared band. Per-row mapPartitions hash +
    // two stream-static anti-joins (16-bit bands — maxHamming+1 by
    // pigeonhole, see mm06); the oracle replays payload →
    // hash → bands → verify → anti-join from the generator's closed
    // form over the same feed.
    NamedQuery("sw36_stream_phash_admission",
      (s, dir) => {
        import graft.multimodal.Multimodal
        val media = MultimodalQueries.syntheticMediaMixed(s, dir)
        val path = graft.ScratchDirs.scratch("phash_idx_stream")
        graft.Fs.deleteRecursive(s, path)
        Multimodal.writeHashIndex(
          Multimodal.avgHash(media.filter(col("media_id") % 3 =!= 0),
              "media_id", "content", gw = 8, gh = 4)
            .select(col("media_id").as("id"), col("ahash")), path)
        val feed = media.filter(col("media_id") % 3 === 0)
          .unionByName(media.filter(col("media_id") % 6 === 1)
            .withColumn("media_id", col("media_id") + 1000000))
        val admitted = StreamRunner.runAvailableNow(s, feed,
            "sw36_phash_admission", "append") { src =>
          EventStreams.phashIndexAdmission(src, "media_id", "content",
            path, totalBits = 32, bands = 2, maxHamming = 1)
        }
        admitted.select(col("id").as("media_id")).orderBy("media_id")
      },
      Some(s"""WITH p AS (SELECT doc_id, 8 + (n_chars % 24) AS w, 6 AS h,
             |           (doc_id * 131 + n_chars) %
             |             ${MultimodalQueries.mixedSeedModulusSql}
             |             AS seed FROM documents),
             |cells AS (SELECT doc_id, y.i * 8 + x.i AS bit,
             |    (((x.i * w) // 8 + 1) * ((y.i * h) // 4 + 2) * (seed + 1)) % 251 AS v
             |  FROM p
             |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 7)) AS i) x
             |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 3)) AS i) y),
             |m AS (SELECT doc_id, bit, v,
             |    CAST(sum(v) OVER (PARTITION BY doc_id) AS DOUBLE) / 32 AS avgv
             |  FROM cells),
             |hs AS (SELECT doc_id, CAST(sum(CASE WHEN v > avgv
             |      THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS ahash
             |  FROM m GROUP BY doc_id),
             |feed AS (SELECT doc_id AS id, ahash FROM hs WHERE doc_id % 3 = 0
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS id, ahash FROM hs
             |  WHERE doc_id % 6 = 1),
             |bif AS (SELECT id, ahash, b.i AS band,
             |    (ahash >> (b.i * 16)) & 65535 AS bh
             |  FROM feed CROSS JOIN LATERAL (
             |    SELECT unnest(generate_series(0, 1)) AS i) b),
             |bii AS (SELECT ahash, b.i AS band,
             |    (ahash >> (b.i * 16)) & 65535 AS bh
             |  FROM hs CROSS JOIN LATERAL (
             |    SELECT unnest(generate_series(0, 1)) AS i) b
             |  WHERE doc_id % 3 <> 0),
             |rej AS (SELECT DISTINCT f.id FROM bif f JOIN bii i
             |    ON f.band = i.band AND f.bh = i.bh
             |  WHERE bit_count(xor(f.ahash, i.ahash)) <= 1)
             |SELECT id AS media_id FROM feed
             |WHERE id NOT IN (SELECT id FROM rej)
             |ORDER BY media_id""".stripMargin)),

    // ---- streaming BIN routing from the frozen quantile artifact
    // (sw33): m22's edges gate a STREAM — each arriving order is
    // binned by the constant-folded comparison-sum (scan-stage, no
    // state beyond the complete-mode count) and the per-bin traffic
    // histogram must equal the batch replay under any batch split.
    // The third frozen-transform stream gate beside sw22 (DSIR LM)
    // and sw24 (quality model): ingest-time feature bucketing with
    // training/serving parity by construction.
    NamedQuery("sw33_stream_bin_router",
      (s, dir) => {
        import graft.ml.QuantileBins
        val o = Tables.orders(s, dir)
        val path = graft.ScratchDirs.scratch("stream_qbins")
        graft.Fs.deleteRecursive(s, path)
        QuantileBins.writeBins(o.filter(col("o_orderkey") % 5 =!= 0),
          col("o_totalprice"), col("o_orderkey"), bins = 8, path)
        val binOf = QuantileBins.binColumn(s, path, col("o_totalprice"))
        val res = StreamRunner.runAvailableNow(s,
            o.select("o_orderkey", "o_totalprice"),
            "sw33_bin_router", "complete") { src =>
          src.withColumn("bin", binOf)
            .groupBy("bin")
            .agg(count(lit(1)).as("n"),
              round(sum("o_totalprice"), 2).as("revenue"))
        }
        res.orderBy("bin")
      },
      Some("""WITH tr AS (SELECT o_totalprice AS v,
             |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r
             |  FROM orders WHERE o_orderkey % 5 <> 0),
             |n AS (SELECT count(*) AS n FROM tr),
             |pos AS (SELECT (n.n * g.k) // 8 AS p
             |  FROM generate_series(1, 7) g(k) CROSS JOIN n),
             |e AS (SELECT tr.v AS edge FROM pos JOIN tr ON tr.r = pos.p),
             |b AS (SELECT CAST((SELECT count(*) FROM e
             |    WHERE o_totalprice >= edge) AS INT) AS bin, o_totalprice
             |  FROM orders)
             |SELECT bin, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
             |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // ---- streaming target-encoder maintenance (sw34): the online
    // half of m23/m24 — the train slice arrives as a stream and every
    // micro-batch appends its exact integer (category, n, Σcents)
    // moment rows; after the stream the full corpus is encoded from
    // the artifact and must hash-match m23's single-fit oracle
    // VERBATIM under any batch split (counts/sums are associative, the
    // sw31 property on the categorical encoder).
    NamedQuery("sw34_stream_target_encoding",
      (s, dir) => {
        import graft.ml.TargetEncoder
        val o = Tables.orders(s, dir)
        val path = graft.ScratchDirs.scratch("stream_target_enc")
        graft.Fs.deleteRecursive(s, path)
        val feed = o.filter(col("o_orderkey") % 5 =!= 0)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        StreamRunner.runForeachBatch(s, feed, "sw34_target_enc") { b =>
          TargetEncoder.appendEncoder(b, col("o_orderpriority"),
            round(col("o_totalprice") * 100, 0), path)
          ()
        }
        o.select(col("o_orderkey"), col("o_orderpriority"),
            TargetEncoder.encodeColumn(s, path, col("o_orderpriority"),
              m = 10.0, descale = 100.0).as("te_price"))
          .orderBy("o_orderkey")
      },
      Some(MlQueries.targetEncodingOracle)),

    // ---- EXACTLY-ONCE streaming ingest (sw28): the foreachBatch
    // retry problem solved the way Delta sinks solve it — every
    // micro-batch commits with txn = (query, batchId), and the
    // handler COMMITS TWICE per batch (a deliberate in-line retry,
    // the failure mode Structured Streaming actually replays). The
    // duplicates must all no-op: the final table equals the feed
    // exactly once under any batch split. Content is the oracle;
    // SourcesSpec pins the marker arithmetic on controlled commits.
    NamedQuery("sw28_stream_exactly_once",
      (s, dir) => {
        import graft.sources.Sources
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
        val table = graft.ScratchDirs.scratch("txn_ingest_table")
        graft.Fs.deleteRecursive(s, table)
        StreamRunner.runForeachBatchWithId(s, docs, "sw28_txn_ingest") {
          (b, id) =>
            Sources.snapshotCommit(b, table, txn = Some(("sw28", id)))
            Sources.snapshotCommit(b, table, txn = Some(("sw28", id)))
            ()
        }
        Sources.snapshotRead(s, table,
            Sources.snapshotLatestVersion(s, table))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ---- STREAMING materialized-view maintenance (sw37): io26's
    // incremental MV in ingest position — micro-batches commit to
    // the snapshot table exactly-once (sw28's txn markers) and the
    // per-source (count, sum) view refreshes AFTER EACH BATCH through
    // the append-only fast path: the refresh reads only the new
    // commit dirs (∝ batch rows — no diff join, no table rescan),
    // folds them in, and CAS-commits the new view version. The final
    // view must equal a from-scratch group-by over everything
    // streamed, under any batch split — training/serving parity for
    // dashboard aggregates by construction. The base slice (%4=0)
    // seeds the build; the stream delivers the rest.
    NamedQuery("sw37_stream_mv_refresh",
      (s, dir) => {
        import graft.sources.{MaterializedView, Sources}
        val docs = Tables.documents(s, dir)
          .select("doc_id", "source", "n_chars")
        val table = graft.ScratchDirs.scratch("mv_stream_table")
        val mvPath = graft.ScratchDirs.scratch("mv_stream_view")
        graft.Fs.deleteRecursive(s, table)
        graft.Fs.deleteRecursive(s, mvPath)
        Sources.snapshotCommit(docs.filter(col("doc_id") % 4 === 0), table)
        MaterializedView.build(s, table, mvPath, rowKey = "doc_id",
          keyCols = Seq("source"), sumCols = Seq("n_chars"))
        StreamRunner.runForeachBatchWithId(s,
            docs.filter(col("doc_id") % 4 =!= 0), "sw37_mv_ingest") {
          (b, id) =>
            Sources.snapshotCommit(b, table, txn = Some(("sw37", id)))
            MaterializedView.refresh(s, table, mvPath)
            ()
        }
        Sources.snapshotRead(s, mvPath,
            Sources.snapshotLatestVersion(s, mvPath))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS mv_count,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
             |FROM documents GROUP BY source
             |ORDER BY source""".stripMargin)),

    // ---- stream-stream LEFT OUTER join (sw38): sw08's attribution
    // with the UNATTRIBUTED purchases kept — the engine emits a
    // null-padded row only once the watermark proves no matching
    // click can still arrive (join-state eviction), so the null half
    // of the outer contract rides the real state-store machinery.
    // The 7-day watermark is deliberately SHORTER than the events
    // span: purchases older than (min(max purchase ts, max click ts)
    // − 7 days) must resolve (attributed or null), younger ones stay
    // open and emit nothing — the oracle replays exactly that
    // boundary, so both the null emission AND the still-open cutoff
    // are pinned. Matched pairs emit on match regardless (same as
    // sw08).
    NamedQuery("sw38_stream_outer_attribution",
      (s, dir) => {
        val pairs = StreamRunner.runAvailableNow(s, Tables.events(s, dir),
            "sw38_outer_attribution", "append") { src =>
          EventStreams.attributionPairsOuter(src, watermark = "7 days",
            maxLag = "6 hours")
        }
        pairs.groupBy("purchase_id", "user_id")
          .agg(count(col("click_id")).as("n_candidates"),
            max_by(col("click_id"),
              struct(col("c_ts"), col("click_id"))).as("last_click_id"))
          .orderBy("purchase_id")
      },
      Some("""WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
             |           FROM events WHERE event_type = 'purchase'),
             |     c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
             |           FROM events WHERE event_type = 'click'),
             |     wm AS (SELECT least(
             |         (SELECT max(p_ts) FROM p),
             |         (SELECT max(c_ts) FROM c)) - INTERVAL 7 DAY AS w),
             |     j AS (SELECT purchase_id, p.user_id, click_id, c_ts
             |           FROM p JOIN c ON p.user_id = c.user_id
             |             AND c.c_ts <= p.p_ts
             |             AND c.c_ts >= p.p_ts - INTERVAL 6 HOUR),
             |     r AS (SELECT purchase_id, user_id, click_id,
             |             count(*) OVER (PARTITION BY purchase_id)
             |               AS n_candidates,
             |             row_number() OVER (PARTITION BY purchase_id
             |               ORDER BY c_ts DESC, click_id DESC) AS rn
             |           FROM j),
             |     m AS (SELECT purchase_id, user_id, n_candidates,
             |             click_id AS last_click_id
             |           FROM r WHERE rn = 1)
             |SELECT purchase_id, user_id, n_candidates, last_click_id FROM m
             |UNION ALL
             |SELECT purchase_id, user_id, CAST(0 AS BIGINT), NULL
             |FROM p CROSS JOIN wm
             |WHERE purchase_id NOT IN (SELECT purchase_id FROM m)
             |  AND p_ts < wm.w
             |ORDER BY purchase_id""".stripMargin)),

    // ---- streaming APPROX-DISTINCT MV maintenance (sw39, io30's
    // streaming twin): every micro-batch commits exactly-once (txn
    // markers) and refreshes the HLL view through the append-only
    // SKETCH-UNION fast path — work per batch ∝ batch rows, and the
    // final registers must equal one big union whatever the batch
    // split (sketch union is associative+commutative). The gate
    // serves mv_count (exact, abelian) and the estimate's tolerance
    // flag against a from-scratch oracle.
    NamedQuery("sw39_stream_distinct_mv",
      (s, dir) => {
        import graft.sources.{MaterializedView, Sources}
        val docs = Tables.documents(s, dir)
          .select("doc_id", "source", "n_chars")
        val table = graft.ScratchDirs.scratch("mvhll_stream_table")
        val mvPath = graft.ScratchDirs.scratch("mvhll_stream_view")
        graft.Fs.deleteRecursive(s, table)
        graft.Fs.deleteRecursive(s, mvPath)
        Sources.snapshotCommit(docs.filter(col("doc_id") % 4 === 0), table)
        MaterializedView.buildDistinct(s, table, mvPath, rowKey = "doc_id",
          keyCols = Seq("source"), distinctCol = "n_chars")
        StreamRunner.runForeachBatchWithId(s,
            docs.filter(col("doc_id") % 4 =!= 0), "sw39_mvhll_ingest") {
          (b, id) =>
            Sources.snapshotCommit(b, table, txn = Some(("sw39", id)))
            MaterializedView.refreshDistinct(s, table, mvPath)
            ()
        }
        val exact = Sources.snapshotRead(s, table,
            Sources.snapshotLatestVersion(s, table))
          .groupBy("source")
          .agg(countDistinct(col("n_chars")).as("exact_distinct"))
        Sources.snapshotRead(s, mvPath,
            Sources.snapshotLatestVersion(s, mvPath))
          .join(exact, Seq("source"))
          .select(col("source"), col("mv_count"), col("exact_distinct"),
            (abs(hll_sketch_estimate(col("hll_n_chars"))
                - col("exact_distinct"))
              .cast("double") / col("exact_distinct") <= 0.05)
              .as("within_5pct"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS mv_count,
             |  count(DISTINCT n_chars) AS exact_distinct, TRUE AS within_5pct
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- streaming JOIN-AGGREGATE MV maintenance (sw40, io32's
    // streaming twin — with sw37/sw39 it completes the streaming-twin
    // matrix over all three MV classes): order facts stream in across
    // micro-batches, each commits exactly-once and refreshes the
    // per-SEGMENT revenue view through the append fast path — every
    // batch re-joins the broadcast-sized frozen customer dim. Final
    // view ≡ the from-scratch join-aggregate whatever the batch
    // split (count/sum are abelian; the dim is constant).
    NamedQuery("sw40_stream_join_agg_mv",
      (s, dir) => {
        import graft.sources.{MaterializedView, Sources}
        val fact = Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        val table = graft.ScratchDirs.scratch("mvja_stream_fact")
        val dimP = graft.ScratchDirs.scratch("mvja_stream_dim")
        val mvPath = graft.ScratchDirs.scratch("mvja_stream_view")
        graft.Fs.deleteRecursive(s, table)
        graft.Fs.deleteRecursive(s, dimP)
        graft.Fs.deleteRecursive(s, mvPath)
        Sources.snapshotCommit(fact.filter(col("o_orderkey") % 4 === 0), table)
        MaterializedView.buildJoinAgg(s, table, dim, dimP, mvPath,
          rowKey = "o_orderkey", joinKey = "o_custkey",
          keyCols = Seq("c_mktsegment"), sumCols = Seq("price_cents"))
        StreamRunner.runForeachBatchWithId(s,
            fact.filter(col("o_orderkey") % 4 =!= 0), "sw40_mvja_ingest") {
          (b, id) =>
            Sources.snapshotCommit(b, table, txn = Some(("sw40", id)))
            MaterializedView.refreshJoinAgg(s, table, mvPath)
            ()
        }
        Sources.snapshotRead(s, mvPath,
            Sources.snapshotLatestVersion(s, mvPath))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS mv_count,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS sum_price_cents
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- executed CUSTOM-STATE sessionization (sw41): the
    // flatMapGroupsWithState showcase, under the sw03 gaps-and-islands
    // oracle — but through the HAND-ROLLED state machine, not the
    // built-in session window. The input replays over ≥4 TIME-ORDERED
    // micro-batches (runAvailableNowOrdered), so open sessions
    // demonstrably carry in the state store across batch boundaries
    // and close either by an in-fold gap split or by event-time
    // timeout. A far-future sentinel user pushes the final watermark
    // past every real session's last event + gap, so the trailing
    // no-data batch flushes every open tail; the sentinel is dropped
    // from the output. Ordered replay also guarantees equivalence to
    // the batch oracle: a timeout only fires once the watermark (and
    // therefore every future event) is beyond the session's gap
    // horizon, so the engine and the oracle split in exactly the same
    // places.
    NamedQuery("sw41_stream_sessionize_state",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val ev = Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
        val sentinel = Seq((-1L,
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L,
            "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
        val res = StreamRunner.runAvailableNowOrdered(s,
            ev.unionByName(sentinel), "sw41_sessions", "append", "ts") {
          src =>
            EventStreams.sessionizeWithState(src.as[EventStreams.Event],
              gapMs = 30L * 60 * 1000).toDF()
        }
        res.filter(col("user_id") >= 0)
          .select(col("user_id"), col("n_events"),
            round(col("total_value"), 2).as("total_value"),
            col("last_ts_us"))
          .orderBy("user_id", "last_ts_us")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts, value,
             |    sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM g)
             |SELECT user_id, count(*) AS n_events,
             |  round(sum(value), 2) AS total_value,
             |  max(epoch_us(ts)) AS last_ts_us
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, last_ts_us""".stripMargin)),

    // ---- VALUE-DEPENDENT session close (sw42): sw41's state machine
    // with the semantics that force the hand-rolled form — a
    // 'purchase' event TERMINATES its session at that event (the
    // purchase is counted, the summary emits mid-batch, and the
    // user's next event opens a fresh session regardless of gap).
    // The built-in session window cannot express this: its
    // dynamic-gap form can shrink a gap, but a gap ≤ 0 DROPS the row
    // from sessionization (the session filter keeps only
    // end > start), so "terminator counted, then hard split" has no
    // session_window encoding. Oracle: gaps-and-islands with the
    // extra boundary `lag(event_type) = 'purchase'` — a session
    // starts at the first event, after a ≥30 min gap, or right after
    // a purchase.
    NamedQuery("sw42_stream_sessionize_close_on_purchase",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val ev = Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
        val sentinel = Seq((-1L,
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L,
            "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
        val res = StreamRunner.runAvailableNowOrdered(s,
            ev.unionByName(sentinel), "sw42_sessions", "append", "ts") {
          src =>
            EventStreams.sessionizeWithState(src.as[EventStreams.Event],
              gapMs = 30L * 60 * 1000,
              closeOnType = Some("purchase")).toDF()
        }
        res.filter(col("user_id") >= 0)
          .select(col("user_id"), col("n_events"),
            round(col("total_value"), 2).as("total_value"),
            col("last_ts_us"))
          .orderBy("user_id", "last_ts_us", "n_events", "total_value")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             |           OR lag(event_type) OVER w = 'purchase'
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts, value,
             |    sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM g)
             |SELECT user_id, count(*) AS n_events,
             |  round(sum(value), 2) AS total_value,
             |  max(epoch_us(ts)) AS last_ts_us
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, last_ts_us, n_events, total_value""".stripMargin)),

    // ---- MID-SESSION progress emission (sw43): the second semantics
    // out of the built-in session window's reach — every 3rd event of
    // an open session emits a live progress row (running count/total
    // at that event, is_partial=true) while the session stays open
    // and still emits its final row; session_window emits exactly ONE
    // row per session at close, so a live view of long-running
    // sessions has no built-in encoding. 12 h gap makes the sf
    // fixtures' sessions multi-event (avg ~3 at sf0.01) so the
    // partial path carries real weight. Oracle: gaps-and-islands with
    // a per-session row_number + running sum — partials are the
    // rn%3=0 prefix rows, finals the per-session aggregate; the
    // running sum replays the engine's fold order (ts, event_id), so
    // the IEEE accumulation order matches exactly.
    NamedQuery("sw43_stream_sessionize_partial_emit",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val ev = Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
        val sentinel = Seq((-1L,
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L,
            "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
        val res = StreamRunner.runAvailableNowOrdered(s,
            ev.unionByName(sentinel), "sw43_sessions", "append", "ts") {
          src =>
            EventStreams.sessionizeWithState(src.as[EventStreams.Event],
              gapMs = 12L * 3600 * 1000,
              emitEvery = Some(3)).toDF()
        }
        res.filter(col("user_id") >= 0)
          .select(col("user_id"), col("n_events"),
            round(col("total_value"), 2).as("total_value"),
            col("last_ts_us"), col("is_partial"))
          .orderBy("user_id", "last_ts_us", "is_partial", "n_events",
            "total_value")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 43200000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, event_id, ts, value,
             |    sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM g),
             |r AS (
             |  SELECT user_id, session_id, value,
             |    row_number() OVER w2 AS rn,
             |    sum(value) OVER (w2 ROWS UNBOUNDED PRECEDING) AS run_value,
             |    epoch_us(ts) AS ts_us
             |  FROM s WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)),
             |partials AS (
             |  SELECT user_id, rn AS n_events, round(run_value, 2) AS total_value,
             |    ts_us AS last_ts_us, TRUE AS is_partial
             |  FROM r WHERE rn % 3 = 0),
             |finals AS (
             |  SELECT user_id, max(rn) AS n_events, round(sum(value), 2) AS total_value,
             |    max(ts_us) AS last_ts_us, FALSE AS is_partial
             |  FROM r GROUP BY user_id, session_id)
             |SELECT user_id, n_events, total_value, last_ts_us, is_partial
             |FROM (SELECT * FROM partials UNION ALL SELECT * FROM finals)
             |ORDER BY user_id, last_ts_us, is_partial, n_events,
             |  total_value""".stripMargin))
  )
}

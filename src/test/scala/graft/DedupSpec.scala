package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer rules and codegen stages"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "another unrelated document mentioning parquet scans and shuffle partitions only")
  ).toDF("doc_id", "text")

  test("shingles builds distinct word n-grams; short docs get empty array") {
    val got = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "t")
      .select($"id", Dedup.shingles($"t", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L).isEmpty)
  }

  test("simhash index admission: re-ingested and copied docs rejected, fresh text admitted") {
    import graft.dedup.Dedup
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different words about spark and parquet tables"))
      .toDF("doc_id", "text")
    val path = ScratchDirs.scratch("t_simhash_idx")
    Fs.deleteRecursive(spark, path)
    Dedup.writeSimhashIndex(corpus, "doc_id", "text", path)
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // re-ingest
      (9L, "the quick brown fox jumps over the lazy dog"),   // copy, new id
      (10L, "completely unrelated zebra volcano umbrella quartz melody"))
      .toDF("doc_id", "text")
    val admitted = Dedup.simhashAdmit(spark, path, batch, "doc_id", "text",
        maxHamming = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(admitted == Seq(10L))
    // maxHamming = 0 still rejects exact sketch matches
    val strict = Dedup.simhashAdmit(spark, path, batch, "doc_id", "text",
        maxHamming = 0)
      .select("doc_id").as[Long].collect().toSeq
    assert(strict == Seq(10L))
  }

  test("per-row simhash band kernel is bit-identical to the batch sketch; empty text signs nothing") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.GraftExpressionBridge
    val docs = Seq((1L, "the quick brown fox the fox"),
      (2L, "entirely different words"), (3L, "singletoken"))
      .toDF("doc_id", "text")
    val kernel = GraftExpressionBridge.column(
      graft.functions.TextKernelExprs.simhashBandsText(
        Seq(GraftExpressionBridge.expression(col("text")))))
    val viaKernel = docs.select(col("doc_id").as("id"),
        kernel.getItem(0).as("band0"), kernel.getItem(1).as("band1"),
        kernel.getItem(2).as("band2"), kernel.getItem(3).as("band3"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val viaBatch = Dedup.simhashPortable(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(viaKernel == viaBatch)
    val empty = Seq((9L, "!!! ???")).toDF("doc_id", "text")
      .select(size(kernel).as("n")).as[Int].head()
    assert(empty == 0)
  }

  test("exactGroups finds the duplicate text group with min keep_id") {
    val groups = Dedup.exactGroups(base, "doc_id", "text")
    assert(groups.count() == 4) // 5 docs, one pair collapses
    val dup = groups.filter($"n_docs" === 2).select("keep_id").as[Long].collect()
    assert(dup.toSeq == Seq(1L))
    assert(Dedup.dropExactDups(base, "doc_id", "text").count() == 4)
  }

  test("ngramJaccardPairs ranks exact dup above near dup, misses unrelated") {
    val pairs = Dedup.ngramJaccardPairs(base, "doc_id", "text", 3, 0.3, 100)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 4L)) == 1.0)           // exact duplicate
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0) // near-dup
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((3L, 5L)))
  }

  test("minhashLshPairs surfaces planted exact+near dups with high est_jaccard") {
    val got = Dedup.minhashLshPairs(base, "doc_id", "text", 3, 32, 8, 0.5)
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(got((1L, 4L)) == 1.0)
    assert(got.contains((1L, 2L)) || got.contains((2L, 4L))) // near-dup caught by some band
    assert(!got.contains((1L, 3L)))
  }

  test("minhashLshJoinPortable matches a new batch against the corpus, not the corpus with itself") {
    // new batch: an exact replay of corpus doc 1 plus a fresh document
    val newBatch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "entirely novel content that matches nothing in the existing corpus at all")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshJoinPortable(newBatch, base, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
      .select("new_id", "corpus_id", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    val byPair = got.map(p => (p._1, p._2) -> p._3).toMap
    // the replay hits BOTH its exact twins (docs 1 and 4) at est 1.0
    assert(byPair((100L, 1L)) == 1.0 && byPair((100L, 4L)) == 1.0)
    // the fresh doc matches nothing; corpus-internal pairs never appear
    assert(got.forall(_._1 >= 100L) && !got.exists(_._1 == 101L))
  }

  test("persisted hash index: ingest admits only novel content; grown index covers the corpus") {
    val path = ScratchDirs.scratch("spec_hash_idx")
    val even = base.toDF("doc_id", "text").filter($"doc_id" % 2 === 0) // ids 2, 4
    val odd = base.toDF("doc_id", "text").filter($"doc_id" % 2 =!= 0) // ids 1, 3, 5
    Dedup.writeHashIndex(even, "doc_id", "text", path)
    val admitted = Dedup.ingestAgainstHashIndex(odd, "doc_id", "text", path)
      .select("doc_id").as[Long].collect().toSet
    // 1 is an exact dup of the INDEXED 4 → rejected; 3 and 5 are novel
    assert(admitted == Set(3L, 5L))
    // the grown index holds exactly the corpus's distinct content
    val grown = Dedup.readHashIndex(spark, path)
      .select("text_hash").as[String].collect().toSet
    val full = base.toDF("doc_id", "text")
      .select(md5($"text").as("h")).distinct().as[String].collect().toSet
    assert(grown == full)
    // replaying the same batch against the grown index admits nothing
    val replay = Dedup.ingestAgainstHashIndex(odd, "doc_id", "text", path)
    assert(replay.isEmpty)
  }

  test("ngramNovelty: replayed doc scores 0, unique doc scores 1, short docs absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // replay of 1 → novelty 0 (both)
      (3L, "totally unique content nothing shares these words"),
      (4L, "hi")) // < 3 tokens: absent
      .toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(docs, "doc_id", "text", n = 3)
      .select("id", "novelty_frac").as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0 && got(2L) == 0.0)
    assert(got(3L) == 1.0)
    assert(!got.contains(4L))
  }

  test("cdcChunks: lossless partition; boundaries resync after an insertion (fixed-width does not)") {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    def chunksOf(t: String): Seq[String] = {
      val c = GraftExpressionBridge.column(
        graft.functions.TextKernelExprs.cdcChunks(Seq(
          GraftExpressionBridge.expression(lit(t)), Literal(16), Literal(64))))
      Seq(1).toDF("x").select(c.as("ch")).as[Seq[String]].head()
    }
    val text = (1 to 60).map(i => s"sentence number $i with some filler words").mkString(". ")
    // invariant: chunks concatenate back to the text, none empty
    val ch = chunksOf(text)
    assert(ch.mkString("") == text && ch.forall(_.nonEmpty) && ch.length > 3)
    // insertion robustness: a 2-char prefix shifts only the FIRST
    // chunk(s); the tail chunks re-synchronize and match exactly
    val shifted = chunksOf("Z " + text)
    val shared = shifted.toSet intersect ch.toSet
    assert(shared.size >= ch.length - 2,
      s"CDC resync: only ${shared.size}/${ch.length} chunks shared after insertion")
    // short + empty edge cases
    assert(chunksOf("tiny") == Seq("tiny"))
    assert(chunksOf("").isEmpty)
  }

  test("kernel signatures equal the expression-form reference (incl. short-doc row drop)") {
    val docs = base.unionByName(Seq((9L, "too short")).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().toSeq
    val kernel = rows(Dedup.minhashSignaturesPortable(docs, "doc_id", "text", 3, 16))
    val expr = rows(Dedup.minhashSignaturesPortableExpr(docs, "doc_id", "text", 3, 16))
    assert(kernel == expr)
    assert(!kernel.exists(_.getLong(0) == 9L)) // < n tokens: no signature row
  }

  test("persisted minhash index: both gates fire; admitted docs grow the index; replay admits nothing") {
    val path = ScratchDirs.scratch("spec_mh_idx")
    val even = base.filter($"doc_id" % 2 === 0) // ids 2, 4
    Dedup.writeMinhashIndex(even, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, path)
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // near-dup of INDEXED 2, exact of 4 → cross gate
      (3L, "completely different text about spark catalyst optimizer rules and codegen stages"),
      (5L, "another unrelated document mentioning parquet scans and shuffle partitions only"),
      (7L, "another unrelated document mentioning parquet scans and shuffle partitions only"), // exact dup of batch 5 → within gate
      (9L, "too short") // < 3 tokens: no signature, admitted, not indexed
    ).toDF("doc_id", "text")
    val admitted = Dedup.ingestAgainstMinhashIndex(batch, "doc_id", "text",
        path, n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(3L, 5L, 9L))
    // the index grew by exactly the admitted SIGNED docs (9 signs nothing)
    val idxIds = Dedup.readMinhashSignatures(spark, path)
      .select("id").as[Long].collect().toSet
    assert(idxIds == Set(2L, 4L, 3L, 5L))
    // a second batch replaying an admitted doc is rejected by the GROWN index
    val batch2 = Seq(
      (11L, "completely different text about spark catalyst optimizer rules and codegen stages"), // replay of now-indexed 3
      (13L, "genuinely fresh sentences with entirely new vocabulary for the second ingest wave")
    ).toDF("doc_id", "text")
    val admitted2 = Dedup.ingestAgainstMinhashIndex(batch2, "doc_id", "text",
        path, n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted2 == Set(13L))
    // idempotent replay of batch2: 13 now indexed → nothing admitted
    val replay = Dedup.ingestAgainstMinhashIndex(batch2, "doc_id", "text",
        path, n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(replay.isEmpty)
  }

  test("dropNearDupsPortable collapses near-dup clusters to the min-id survivor") {
    // cluster {1, 2, 4} (near + exact dups) collapses to 1; 3 and 5 survive
    val kept = Dedup.dropNearDupsPortable(base, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, minJaccard = 0.5, iters = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("simhash is deterministic; identical text => identical sketch; pairs verify hamming") {
    val sk = Dedup.simhash(base, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sk(1L) == sk(4L))
    assert(sk(1L) != sk(3L))
    val pairs = Dedup.simhashPairs(base, "doc_id", "text", 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(!pairs.contains((1L, 3L)))
  }

  test("chunkDedup drops repeated chunks, keeps first (id, idx) occurrence") {
    val docs = Seq(
      (1L, "a b c d e f"),          // chunks (size 3): "a b c", "d e f"
      (2L, "a b c x y z"),          // first chunk repeats doc 1's
      (3L, "d e f"),                // equals doc 1's second chunk
      (4L, "")                      // empty doc: no chunks at all
    ).toDF("doc_id", "text")
    val kept = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 3)
      .select("id", "idx", "chunk").as[(Long, Long, String)].collect().toSet
    assert(kept == Set((1L, 0L, "a b c"), (1L, 1L, "d e f"), (2L, 1L, "x y z")))
  }

  test("repeatedSubstringSpans finds unaligned cross-doc repeats as maximal spans") {
    // a 5-token passage planted at DIFFERENT offsets (1 vs 3) — the
    // unaligned case fixed-boundary chunk dedup cannot catch
    val passage = "red orange yellow green blue"
    val docs = Seq(
      (1L, s"zebra $passage walrus yak"),
      (2L, s"apple mango kiwi $passage"),
      (3L, "one two three four five six seven")  // no repeats
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, "doc_id", "text", k = 3)
      .select("id", "start_tok", "end_tok", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1: passage at token positions 1..5; doc 2: positions 3..7;
    // k=3 seeds at the 3 gram starts of the passage merge to one span
    assert(spans == Set((1L, 1L, 5L, 5L), (2L, 3L, 7L, 5L)))
  }

  test("repeatedSubstringSpans counts intra-document repeats and splits disjoint runs") {
    val docs = Seq(
      (1L, "p q r gap1 gap2 p q r"),  // "p q r" twice WITHIN one doc
      (2L, "solo tokens only here")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, "doc_id", "text", k = 3)
      .select("id", "start_tok", "end_tok").as[(Long, Long, Long)]
      .collect().toSet
    assert(spans == Set((1L, 0L, 2L), (1L, 5L, 7L)))
  }

  test("spanCutEmit keeps the canonical first occurrence and cuts the replay") {
    val passage = "red orange yellow green blue"
    val docs = Seq(
      (1L, s"zebra $passage walrus yak"),   // canonical copy (smallest id)
      (2L, s"apple mango kiwi $passage"),   // replay → cut
      (3L, "one two three four five six")   // untouched
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.spanCutEmit(docs, "doc_id", "text", k = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == (s"zebra $passage walrus yak", 8L, 0L))
    assert(got(2L) == ("apple mango kiwi", 3L, 5L))
    assert(got(3L) == ("one two three four five six", 6L, 0L))
  }

  test("spanCutEmit never mutilates a kept copy when spans overlap in one doc") {
    // doc 1 holds the canonical copy of "p q r s t"; doc 1 ALSO replays
    // "r s t u v" whose canonical copy is doc 2's — the two spans
    // overlap inside doc 1 ("r s t" shared). repeatedSubstringSpans
    // merges doc 1's duplicated gram starts into ONE maximal span
    // whose content matches nothing else, so rank-1 keeps it whole;
    // nothing may be cut from a canonical region.
    val docs = Seq(
      (1L, "p q r s t u v"),
      (2L, "a1 b1 p q r s t"),    // replays "p q r s t" (canonical: doc 1 pos 0)
      (3L, "r s t u v c1 d1")     // replays "r s t u v" (canonical: doc 1 pos 2)
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.spanCutEmit(docs, "doc_id", "text", k = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // doc 1's maximal span "p q r s t u v" is content-unique → kept whole
    assert(got(1L) == ("p q r s t u v", 7L, 0L))
    // docs 2/3's spans are content-unique too (each is a maximal span
    // with different content than doc 1's merged span) → kept
    assert(got(2L)._3 == 0L && got(3L)._3 == 0L)
  }

  test("spanCutEmit cuts identical-content replays across many docs, keeping exactly one") {
    val passage = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (10L, s"$passage tail10"),
      (11L, s"$passage tail11"),
      (12L, s"$passage tail12")
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.spanCutEmit(docs, "doc_id", "text", k = 8)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(10L) == (s"$passage tail10", 9L, 0L)) // canonical survives
    assert(got(11L) == ("tail11", 1L, 8L))
    assert(got(12L) == ("tail12", 1L, 8L))
  }

  test("spanCutEmit conserves tokens on a generated corpus (kept + removed = total)") {
    // deterministic pseudo-corpus: DOC-UNIQUE filler tokens around a
    // planted passage at varying offsets, so the maximal repeated
    // span is exactly the passage (content-identical across docs) —
    // a cyclic shared-filler corpus instead yields doc-unique MAXIMAL
    // spans (boundary grams extend differently per doc) and the
    // content-level contract then cuts nothing, by design
    val passage = "r1 r2 r3 r4 r5"
    val docs = (0 until 30).map { i =>
      val filler = (0 until (i % 7) + 2).map(j => s"f${i}x$j")
      val body =
        if (i % 3 == 0) (filler.take(i % 4) :+ passage) ++ filler.drop(i % 4)
        else filler
      (i.toLong, body.mkString(" "))
    }.toDF("doc_id", "text")
    val toksOf = docs.select($"doc_id",
      graft.text.TextOps.tokenCount($"text").cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val got = graft.dedup.Dedup.spanCutEmit(docs, "doc_id", "text", k = 3)
      .as[(Long, String, Long, Long)].collect()
    assert(got.length == 30)
    got.foreach { case (id, cleaned, kept, removed) =>
      assert(kept + removed == toksOf(id),
        s"doc $id: kept $kept + removed $removed != ${toksOf(id)}")
      val cleanedToks = cleaned.split(" ").filter(_.nonEmpty).length.toLong
      assert(cleanedToks == kept, s"doc $id: cleaned has $cleanedToks, kept=$kept")
    }
    // exactly one canonical copy of the planted passage survives intact
    val intact = got.filter(_._2.contains(passage))
    assert(intact.length == 1, s"expected 1 intact copy, got ${intact.length}")
    assert(got.map(_._4).sum > 0, "replays must have been cut")
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "zzz alpha beta gamma delta yyy"), // contains benchmark 4-gram
      (2L, "alpha beta gamma xxx delta"),     // 3-gram overlap only → kept
      (3L, "totally unrelated words here"),
      (4L, "delta epsilon alpha beta")        // no shared 4-GRAM (order differs)
    ).toDF("doc_id", "text")
    val flagged = Dedup.contaminatedIds(corpus, benchmark, "doc_id", "text", n = 4)
      .as[Long].collect().toSet
    assert(flagged == Set(1L))
    val kept = Dedup.decontaminate(corpus, benchmark, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L))
  }

  test("contaminationOverlap grades overlap per doc; flag is the ≥50% rule") {
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    // benchmark 2-grams: {alpha beta, beta gamma, gamma delta, delta epsilon}
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // all 4 grams hit → 1.0, flagged
      (2L, "alpha beta zzz yyy xxx www"),     // 1 of 5 grams hit → 0.2, kept
      (3L, "alpha beta gamma qqq"),           // 2 of 3 → 0.6667, flagged
      (4L, "totally unrelated words here")    // 0 of 3 → 0.0, kept
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationOverlap(corpus, benchmark, "doc_id", "text", n = 2)
      .select("id", "n_grams", "n_hit", "overlap_frac", "contaminated")
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((4L, 4L, 1.0, 1L)))
    assert(got(2L) == ((5L, 1L, 0.2, 0L)))
    assert(got(3L) == ((3L, 2L, 0.6667, 1L)))
    assert(got(4L) == ((3L, 0L, 0.0, 0L)))
  }

  test("dropNearDupsKeepBest keeps the max-score member per cluster, not the min id") {
    // doc 10 (long) and its truncated mirror 20 are near-dups; the
    // HIGHER-id original must survive because it scores higher — the
    // exact case the min-id rule (d12) gets backwards. 30 is unrelated.
    val full = (1 to 30).map(i => s"tok$i").mkString(" ")
    val cut = (1 to 24).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"zz$i").mkString(" ")
    val docs = Seq((20L, full), (10L, cut), (30L, other)).toDF("doc_id", "text")
      .withColumn("n_tokens",
        graft.text.TextOps.tokenCount($"text").cast("long"))
    val kept = Dedup.dropNearDupsKeepBest(docs, "doc_id", "text", "n_tokens",
        n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(20L, 30L))
  }

  test("fixpoint components collapse a chain a fixed superstep count splits") {
    // 5—9—1—8—4 near-dup CHAIN: after 1 superstep each node holds the
    // min of its 1-hop neighborhood, so the LOCAL minima 5, 1 and 4 all
    // keep their own label → three survivors (a split cluster). The
    // converged form reaches the true single component.
    import graft.graph.IterativeGraph
    val v = Seq(5L, 9L, 1L, 8L, 4L).toDF("id")
    val e = Seq((5L, 9L), (9L, 1L), (1L, 8L), (8L, 4L)).toDF("src", "dst")
    val fixed = IterativeGraph.minLabelComponents(v, e, iters = 1)
      .filter($"id" === $"label").count()
    val converged = IterativeGraph.minLabelComponents(v, e, iters = -1)
      .filter($"id" === $"label").count()
    assert(fixed == 3)     // 5, 1, 4 are 1-hop local minima
    assert(converged == 1) // fixpoint reaches the true single component
  }

  test("crossSourceDupAttribution counts pairs per unordered source pair, incl. intra-source") {
    // text "x": a×2, b×1 → (a,a)=1, (a,b)=2; text "y": c×1 only → none
    val docs = Seq(
      (1L, "x", "a"), (2L, "x", "a"), (3L, "x", "b"), (4L, "y", "c"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupAttribution(docs, "doc_id", "text", "source")
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(("a", "a") -> 1L, ("a", "b") -> 2L))
  }

  test("boilerplateNgrams: shared grams clear the df% bar, unique ones don't") {
    // "click here" appears in 3 of 4 docs (75% ≥ 50%); every other
    // 2-gram is document-unique. Each sharing doc has 3 gram
    // occurrences of which exactly 1 is boilerplate.
    val docs = Seq(
      (1L, "alpha beta click here"), (2L, "gamma delta click here"),
      (3L, "epsilon zeta click here"), (4L, "unique words only completely"))
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateNgrams(docs, "doc_id", "text", n = 2, dfPct = 50)
      .select("id", "n_grams", "n_boiler", "boiler_ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 1L, 0.3333)))
    assert(got(2L) == ((3L, 1L, 0.3333)))
    assert(got(3L) == ((3L, 1L, 0.3333)))
    assert(got(4L) == ((3L, 0L, 0.0)))
  }

  test("leakage-safe split: cluster-hash keeps a clone pair together where doc-id hash leaks") {
    import graft.text.Sampling
    val docs = Seq(
      (3L, "completely different text about spark catalyst optimizer rules and codegen stages"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (5L, "another unrelated document mentioning parquet scans and shuffle partitions only"),
      (1000004L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    val labels = Dedup.nearDupClusterLabels(docs, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, minJaccard = 0.5, iters = 4)
    val lab = labels.as[(Long, Long)].collect().toMap
    assert(lab(4L) == 4L && lab(1000004L) == 4L) // one cluster, min-id label
    // cluster-hash split: the clone pair lands in ONE split
    val clusterSplit = labels
      .withColumn("split", Sampling.splitLabel(col("label").cast("string")))
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(clusterSplit(4L) == clusterSplit(1000004L))
    // counterfactual: hashing the DOC id separates them (md5 bucket 7
    // for "4" vs 4 for "1000004") — the eval-contamination hole
    val docSplit = docs
      .withColumn("split", Sampling.splitLabel(col("doc_id").cast("string")))
      .select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(docSplit(4L) != docSplit(1000004L))
  }

  test("ngramContainmentPairs: embedded quote reads ~1.0 directed where jaccard reads low") {
    // doc 2 = the first 6 tokens of doc 1 (a quote); doc 3 unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different content about shuffle partitions and broadcast joins here")
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        n = 3, minContain = 0.9, maxDf = 100)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    val (_, _, inter, szA, szB, cab, cba) = got.head
    assert(cba == 1.0)                   // quote wholly inside the original
    assert(cab < 0.5)                    // original NOT inside the quote
    assert(inter == szB && szA > szB)
    // the jaccard form misses this pair at any near-dup threshold
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = 100).count()
    assert(jac == 0)
  }

  test("dupChunkFraction: stitched doc reads ~1.0 where doc hash and within-doc repetition read clean") {
    // doc 3 = chunk of doc 1 + chunk of doc 2 (a franken/syndication
    // doc): full text unique, no within-doc repetition, but every
    // 4-token chunk duplicates an earlier doc's chunk
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "alpha beta gamma delta one two three four")
    ).toDF("doc_id", "text")
    val got = Dedup.dupChunkFraction(docs, "doc_id", "text", chunkTokens = 4)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._4 == 0.0 && got(2L)._4 == 0.0)
    assert(got(3L)._3 == 2L && got(3L)._4 == 1.0)
    // exact dedup sees three distinct docs — the rule d01 misses
    assert(Dedup.exactGroups(docs, "doc_id", "text").count() == 3)
  }

  test("persisted gram index serves d15's semantics; benchmark text never rescanned") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "completely unrelated text about catalyst optimizer rules today"),
      (3L, "jumps over the lazy dog is a leaked benchmark phrase here")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "watch the fox that jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val path = ScratchDirs.scratch("t_gram_idx")
    Dedup.writeGramIndex(bench, "text", n = 4, path)
    val fromIndex = Dedup.decontaminateAgainstGramIndex(corpus, "doc_id",
      "text", n = 4, path).select("doc_id").as[Long].collect().sorted.toSeq
    val inMemory = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(fromIndex == inMemory && fromIndex == Seq(2L))
    // the artifact holds the benchmark's distinct grams, partitioned
    val grams = Dedup.readGramIndex(spark, path)
    assert(grams.count() == grams.distinct().count() && grams.count() > 0)
  }

  // ---- Bloom-gated exact dedup (d29/sw18) --------------------------

  private def syntheticDocs(n: Int, tag: String) =
    spark.range(n).selectExpr("id AS doc_id",
      s"concat('synthetic $tag document number ', id, " +
        "' with distinct filler content alpha beta gamma delta ', id * 31) AS text")

  test("tombstones: deleted content re-admits, retained still rejects; compaction preserves both") {
    val path = ScratchDirs.scratch("t_tombstone")
    val docs = syntheticDocs(60, "tomb")
    Dedup.writeHashIndex(docs, "doc_id", "text", path)
    // delete every 3rd doc; serve a batch replaying deleted + retained
    Dedup.tombstoneHashIndex(
      docs.filter($"doc_id" % 3 === 0), "text", path)
    val batch = docs.filter($"doc_id" % 3 === 0)
      .withColumn("doc_id", $"doc_id" + 1000)
      .unionByName(docs.filter($"doc_id" % 3 === 1)
        .withColumn("doc_id", $"doc_id" + 2000))
    val a1 = Dedup.ingestAgainstLiveHashIndex(batch, "doc_id", "text", path)
      .select("doc_id").as[Long].collect().sorted
    assert(a1.forall(id => id >= 1000 && id < 2000),
      s"retained-content replays must stay rejected: ${a1.toSeq}")
    assert(a1.length == docs.filter($"doc_id" % 3 === 0).count())
    // compact: tombstone table folds in and disappears; live ≡ raw read
    Dedup.compactHashIndex(spark, path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
    assert(Dedup.liveHashIndex(spark, path).count() ==
      Dedup.readHashIndex(spark, path).count())
    // post-compaction: phase-1 admissions survived the rewrite (their
    // replays reject); deleted-then-readmitted content rejects too
    val batch2 = docs.filter($"doc_id" % 3 === 0)
      .withColumn("doc_id", $"doc_id" + 3000)
    val a2 = Dedup.ingestAgainstLiveHashIndex(batch2, "doc_id", "text", path)
    assert(a2.isEmpty)
  }

  test("tombstones are content-keyed: deleting via a duplicate copy hits the index row") {
    // the index stores ONE row per text_hash with first_id = min(id);
    // the takedown below names the LATER duplicate (id 100), whose id
    // is NOT the stored first_id — an id-keyed tombstone would
    // silently no-op and keep serving the content (the ADVICE r9
    // hazard); content keying must hit regardless of which copy the
    // request names
    val path = ScratchDirs.scratch("t_tomb_content")
    val base = syntheticDocs(10, "cdup")
    val dupCopies = base.filter($"doc_id" === 3)
      .withColumn("doc_id", $"doc_id" + 97) // id 100, same text as id 3
    Dedup.writeHashIndex(base.unionByName(dupCopies), "doc_id", "text", path)
    Dedup.tombstoneHashIndex(dupCopies, "text", path) // delete names id 100's copy
    val replay = base.filter($"doc_id" === 3)
      .withColumn("doc_id", $"doc_id" + 5000)
    val admitted = Dedup.ingestAgainstLiveHashIndex(
        replay, "doc_id", "text", path)
      .select("doc_id").as[Long].collect()
    assert(admitted.sameElements(Array(5003L)),
      s"content delete via the duplicate copy must re-admit the text: ${admitted.toSeq}")
  }

  test("minhash tombstones: near-dups of deleted docs re-admit; re-ingest after compaction is idempotent") {
    val path = ScratchDirs.scratch("t_mh_tombstone")
    // every token embeds the id → cross-doc shingle sets are DISJOINT,
    // so the only near-dup pairs are the planted exact replays
    val docs = spark.range(40).selectExpr("id AS doc_id",
      "concat('w', id, 'a w', id, 'b w', id, 'c w', id, 'd w', id, " +
        "'e w', id, 'f w', id, 'g w', id, 'h') AS text")
    Dedup.writeMinhashIndex(docs, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, path)
    Dedup.tombstoneMinhashIndex(
      docs.filter($"doc_id" % 2 === 0).select("doc_id"), "doc_id", path)
    // replays of deleted docs (near-dup of themselves at jaccard 1.0)
    // must ADMIT; replays of retained docs must REJECT
    val feed = docs.withColumn("doc_id", $"doc_id" + 1000)
    val a1 = Dedup.ingestAgainstLiveMinhashIndex(feed, "doc_id", "text",
        path, n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(a1.forall(id => (id - 1000) % 2 == 0), s"retained leaked: ${a1.toSeq}")
    assert(a1.length == docs.filter($"doc_id" % 2 === 0).count())
    Dedup.compactMinhashIndex(spark, path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
    // idempotent re-ingest: the same feed admits nothing post-compaction
    val a2 = Dedup.ingestAgainstLiveMinhashIndex(feed, "doc_id", "text",
      path, n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
    assert(a2.isEmpty)
  }

  test("prepared minhash ingest ≡ plain ingest across a tombstone/compaction phase pair") {
    // the d33 §2.4 seam: one prepared batch state serving two phases
    // must admit exactly what two independent plain ingests admit
    // against an identical twin index
    val docs = spark.range(40).selectExpr("id AS doc_id",
      "concat('p', id, 'a p', id, 'b p', id, 'c p', id, 'd p', id, " +
        "'e p', id, 'f p', id, 'g p', id, 'h') AS text")
    val feed = docs.withColumn("doc_id", $"doc_id" + 1000)
    def phases(path: String,
        ingest: () => org.apache.spark.sql.DataFrame): (Seq[Long], Seq[Long]) = {
      Dedup.writeMinhashIndex(docs, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, path)
      Dedup.tombstoneMinhashIndex(
        docs.filter($"doc_id" % 2 === 0).select("doc_id"), "doc_id", path)
      val a1 = ingest().select("doc_id").as[Long].collect().sorted.toSeq
      Dedup.compactMinhashIndex(spark, path)
      val a2 = ingest().select("doc_id").as[Long].collect().sorted.toSeq
      (a1, a2)
    }
    val pathPlain = ScratchDirs.scratch("t_mh_prep_plain")
    val (p1, p2) = phases(pathPlain, () =>
      Dedup.ingestAgainstLiveMinhashIndex(feed, "doc_id", "text", pathPlain,
        n = 3, numHashes = 16, bands = 4, minJaccard = 0.5))
    val pathPrep = ScratchDirs.scratch("t_mh_prep_prepared")
    val prepared = Dedup.prepareMinhashBatch(feed, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
    val (q1, q2) = phases(pathPrep, () =>
      Dedup.ingestAgainstLiveMinhashIndexPrepared(feed, "doc_id", pathPrep,
        numHashes = 16, bands = 4, minJaccard = 0.5, prepared = prepared))
    assert(q1 == p1, s"phase-1 admitted sets diverge: $q1 vs $p1")
    assert(q2 == p2, s"phase-2 admitted sets diverge: $q2 vs $p2")
  }

  test("bloom index has no false negatives: every indexed hash gates true") {
    val path = ScratchDirs.scratch("t_bloom_fn")
    val docs = syntheticDocs(200, "bloomfn")
    Dedup.writeHashIndex(docs, "doc_id", "text", path)
    Dedup.writeBloomIndex(spark, path, fpp = 0.01)
    val bytes = Dedup.readBloomBytes(spark, path)
    val misses = docs
      .filter(!Dedup.bloomMightContain(bytes, md5($"text")))
      .count()
    assert(misses == 0)
  }

  test("bloomGatedIngest admits exactly what the ungated index ingest admits") {
    val corpus = syntheticDocs(300, "bloomeq")
    val indexed = corpus.filter($"doc_id" < 150)
    // batch: 150 fresh + replays of indexed docs (+10000, cross-batch
    // gate) + replays of batch docs (+20000, within-batch min-id gate)
    val batch = corpus.filter($"doc_id" >= 150)
      .unionByName(indexed.filter($"doc_id" % 10 === 0)
        .withColumn("doc_id", $"doc_id" + 10000))
      .unionByName(corpus.filter($"doc_id" >= 150 && $"doc_id" % 10 === 1)
        .withColumn("doc_id", $"doc_id" + 20000))
    val pGated = ScratchDirs.scratch("t_bloom_eq_g")
    val pPlain = ScratchDirs.scratch("t_bloom_eq_p")
    Seq(pGated, pPlain).foreach { p =>
      Dedup.writeHashIndex(indexed, "doc_id", "text", p)
    }
    Dedup.writeBloomIndex(spark, pGated, fpp = 0.01)
    val gated = Dedup.bloomGatedIngest(batch, "doc_id", "text", pGated)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val plain = Dedup.ingestAgainstHashIndex(batch, "doc_id", "text", pPlain)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(gated == plain)
    assert(gated.nonEmpty && !gated.exists(_ >= 10000)) // every replay dropped
  }

  test("merged filter closes the loop: re-ingesting an admitted batch admits nothing scan-stage") {
    val path = ScratchDirs.scratch("t_bloom_merge")
    val corpus = syntheticDocs(200, "bloommerge")
    Dedup.writeHashIndex(corpus.filter($"doc_id" < 100), "doc_id", "text", path)
    Dedup.writeBloomIndex(spark, path, fpp = 0.01)
    val batch = corpus.filter($"doc_id" >= 100)
    assert(Dedup.bloomGatedIngest(batch, "doc_id", "text", path).count() == 100)
    // the replay must be rejected, and the MERGED filter must ROUTE all
    // of it into the verification join (a broken merge would admit the
    // replay without any join seeing it)
    val replay = batch.withColumn("doc_id", $"doc_id" + 50000)
    val bytes = Dedup.readBloomBytes(spark, path)
    assert(replay.filter(!Dedup.bloomMightContain(bytes, md5($"text"))).count() == 0)
    assert(Dedup.bloomGatedIngest(replay, "doc_id", "text", path).count() == 0)
  }

  test("bloom gate is scan-stage (might_contain in the plan, no join) and routes ~fpp of fresh") {
    val path = ScratchDirs.scratch("t_bloom_route")
    Dedup.writeHashIndex(syntheticDocs(500, "bloomidx"), "doc_id", "text", path)
    Dedup.writeBloomIndex(spark, path, fpp = 0.01)
    val bytes = Dedup.readBloomBytes(spark, path)
    val fresh = syntheticDocs(500, "bloomfresh")
    val gatedPlan = fresh.filter(!Dedup.bloomMightContain(bytes, md5($"text")))
      .queryExecution.executedPlan.toString
    assert(gatedPlan.contains("might_contain"))
    assert(!gatedPlan.toLowerCase.contains("join"))
    // routing stats: fresh rows routed to the verify join ≤ 10× fpp
    val routed = Dedup.bloomRoutingStats(fresh, "text", path)
      .as[(Boolean, Long)].collect().toMap
    assert(routed.getOrElse(true, 0L) <= 50) // 10% of 500 vs fpp=1%
    assert(routed.getOrElse(false, 0L) >= 450)
  }

  test("softDedupWeights: cluster mass sums to one; singletons weigh 1.0; labels match the keep rule") {
    // two exact-duplicate families (ids 1-3 share text A, 4-5 share B)
    // plus two singletons
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "pack my box with five dozen liquor jugs for the long trip"),
      (5L, "pack my box with five dozen liquor jugs for the long trip"),
      (6L, "a completely unrelated document about spark catalyst planning"),
      (7L, "another standalone text mentioning parquet column pruning rules"))
      .toDF("doc_id", "text")
    val got = Dedup.softDedupWeights(docs, "doc_id", "text",
        n = 3, numHashes = 8, bands = 4, minJaccard = 0.5)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 7L).toSeq) // every doc kept
    assert(got.filter(r => r._1 <= 3).forall(r => r._2 == 1L && r._3 == 3L))
    assert(got.filter(r => r._1 == 4 || r._1 == 5)
      .forall(r => r._2 == 4L && r._3 == 2L))
    assert(got.filter(_._1 >= 6).forall(r => r._2 == r._1 && r._4 == 1.0))
    // per-cluster weight mass ≈ 1 → corpus effective mass = #clusters
    val byLabel = got.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    byLabel.foreach { case (_, m) => assert(math.abs(m - 1.0) < 1e-4) }
    // consistency with the hard-drop rule: d12's survivors = the labels
    val kept = Dedup.dropNearDupsPortable(docs, "doc_id", "text",
        n = 3, numHashes = 8, bands = 4, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == got.map(_._2).toSet)
  }

  test("blockedEntityClusters: blocking bounds pairs, trigram matches close transitively, records map") {
    val records = Seq(
      (1L, "red bolt"), (2L, "red bolt"), // exact dup records
      (3L, "old bolt"),                   // trigram-similar to red bolt
      (4L, "blue gear"),                  // other block entirely
      (5L, "big gear"),                   // same block, low similarity
      (6L, "ox")                          // shorter than a trigram
    ).toDF("rid", "name")
    val got = Dedup.blockedEntityClusters(records, "rid", "name",
        blockOf = c => get(split(c, " "), lit(1)), minJaccard = 0.4, iters = 3)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val byId = got.map(r => r._1 -> r._2).toMap
    // exact dups share their entity; the trigram neighbor joins it
    assert(byId(1L) == byId(2L) && byId(2L) == byId(3L) && byId(1L) == 1L)
    // same block but below threshold: separate entities
    assert(byId(4L) != byId(5L))
    // different blocks can never pair, whatever the similarity
    assert(byId(4L) == 4L && byId(5L) == 5L)
    // short names gram to themselves and survive
    assert(byId(6L) == 6L)
    assert(got.length == 6)
  }
}

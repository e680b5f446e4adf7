package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token/char counting, quality scoring, language ID,
  * and document fingerprinting.
  *
  * All pure `Column` expressions (whole-stage codegen, no UDFs) — they
  * run inside the scan stage, so at 100 TB they cost one pass over the
  * text bytes with zero shuffle.
  */
object TextOps {

  /** Lowercase alnum tokenizer: split on any non-[a-z0-9] run, drop
    * empties. Matches DuckDB's string_split_regex for oracle parity. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Unicode NFC canonical composition (codegen'd kernel — Spark has
    * no builtin): one byte representation per canonically-equal
    * string, so downstream hashing/dedup/tokenization never split a
    * document from its decomposed twin. */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.functions.TextKernelExprs.nfc(
      Seq(GraftExpressionBridge.expression(text))))
  }

  /** Corpus text normalization: NFC + collapse whitespace runs to a
    * single space + trim — the canonical cleaning pass before any
    * hash-based dedup. Explicit [ \t\n\r] class (not \s) because Java
    * and RE2 disagree on \s's exact membership — oracle parity
    * requires one definition. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(nfc(text), "[ \t\n\r]+", " "))

  /** BPE-ish subword count estimate: whitespace tokens weighted by
    * ceil(len/4) — the "~4 chars per token" heuristic, purely
    * declarative. */
  def approxBpeTokenCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))

  /** Fraction of characters that are ASCII punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]{}-]", "")))
        .cast("double") / length(text))

  /** Fraction of tokens found in `stopwords` (language-quality signal:
    * natural prose has a stable stopword ratio, boilerplate/code does
    * not). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val sw = lit(stopwords.toArray)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks))
  }

  /** Mean token length — word-salad and URL-ish junk skew long. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: length band + stopword presence
    * − punctuation excess. Deliberately simple and fully declarative;
    * the weights are the operator's parameters, not magic. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val swScore = least(stopwordRatio(text, stopwords) * 5.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    round(greatest(least(lenScore * 0.4 + swScore * 0.4 + (lit(1.0) - punctPenalty) * 0.2,
      lit(1.0)), lit(0.0)), 6)
  }

  /** Gopher-style rule-based quality filter (the repetition rules live
    * in [[dupNgramFrac]]/[[topTokenFrac]], scored by t08): each
    * document gets one 0/1 verdict per rule — token-count band,
    * mean-token-length band, minimum distinct-stopword hits — plus the
    * conjunction, so downstream mixes can filter on `pass` or audit a
    * single rule's kill rate. Pure scan-stage expressions, zero
    * shuffle; the mean length is rounded to 4dp BEFORE the band check
    * so the verdict is reproducible on any engine. Flags are 0/1
    * bigints, not booleans (the oracle hash contract's proven types).
    *
    * Reference scope: goodreads-pyspark filters only on rating
    * thresholds (goodreads.py:151-160); rule-flag quality filtering is
    * part of the north-star pipeline surface. */
  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, stopwords: Seq[String], minTokens: Int,
      maxTokens: Int, minMeanLen: Double, maxMeanLen: Double,
      minStopHits: Int): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val flag = (c: Column) => when(c, lit(1L)).otherwise(lit(0L))
    df.select(col(idCol).as("id"),
        size(toks).cast("long").as("n_tokens"),
        round(when(size(toks) === 0, lit(0.0)).otherwise(
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
            / size(toks)), 4).as("mean_tok_len"),
        size(array_intersect(array_distinct(toks), lit(stopwords.toArray)))
          .cast("long").as("stop_hits"))
      .withColumn("len_ok",
        flag(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens))
      .withColumn("word_len_ok",
        flag(col("mean_tok_len") >= minMeanLen && col("mean_tok_len") <= maxMeanLen))
      .withColumn("stop_ok", flag(col("stop_hits") >= minStopHits))
      .withColumn("pass",
        col("len_ok") * col("word_len_ok") * col("stop_ok"))
  }

  /** Tiny per-language marker lexicons for the n-gram/stopword-voting
    * language-ID heuristic. Deterministic, order = tie-break priority. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "para"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "zhe"))

  /** Language ID by marker-token voting: count DISTINCT tokens hitting
    * each language's marker list; highest count wins, first language in
    * `langMarkers` order on ties, 'und' when nothing matches. */
  def langId(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    val scores = langMarkers.map { case (lang, words) =>
      lang -> size(array_intersect(toks, lit(words.toArray)))
    }
    val best = greatest(scores.map(_._2): _*)
    val chain = scores.tail.foldLeft(when(best === 0, lit("und"))
        .when(scores.head._2 === best, lit(scores.head._1))) {
      case (acc, (lang, sc)) => acc.when(sc === best, lit(lang))
    }
    chain
  }

  /** Corpus-statistical quality signal: per-document mean unigram
    * surprisal −avg(ln p(tok)) under the corpus's own empirical
    * unigram distribution — the "KenLM-lite" scoring used to separate
    * natural prose (common words → low surprisal) from word salad /
    * boilerplate (rare tokens → high). Unlike the heuristic
    * [[qualityScore]] this is CORPUS-level: one token frequency
    * aggregation (shuffle on token), then a broadcast-friendly join
    * back — at 100 TB the frequency table is ~vocabulary-sized, tiny
    * next to the corpus. Output: (id, surprisal, n_tokens); documents
    * with zero tokens are absent. */
  def unigramSurprisal(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = graft.Caches.cached(
      df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok")))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // total from the vocabulary-sized freq table, not a second pass
    // over the corpus-sized token stream
    val n = freq.agg(sum(col("cnt")).as("n_total"))
    // both sides are vocabulary-sized — hint them so the corpus-sized
    // token stream never risks being the built/shuffled side at scale
    toks.join(broadcast(freq), "tok").crossJoin(broadcast(n))
      .withColumn("logp", log(col("cnt").cast("double") / col("n_total")))
      .groupBy("id")
      .agg(round(-avg("logp"), 4).as("surprisal"),
        count(lit(1)).as("n_tokens"))
  }

  /** Bigram-LM surprisal — the conditional sibling of
    * [[unigramSurprisal]], and the cheapest "KenLM-shaped" fluency
    * score a corpus pipeline can self-host: per document, the mean
    * negative log of p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁) + V) — add-one
    * smoothing over the corpus vocabulary V — across the document's
    * bigram positions. Repetitive or formulaic text scores LOW
    * (predictable transitions), gibberish scores HIGH; both tails get
    * cut in quality filtering. Documents with < 2 tokens have no
    * bigram evidence and emit (0 bigrams, 0.0 surprisal).
    *
    * Scale shape: bigrams come from an array transform in the scan
    * stage (no positional self-join of the token stream); the bigram
    * count table is corpus-bigram-vocabulary-sized and joins back on
    * the (w1, w2) key UNHINTED — Catalyst/AQE broadcast it only while
    * it is provably small, and it becomes a keyed shuffle join once
    * the bigram vocabulary outgrows the threshold. The UNIGRAM table
    * is likewise unhinted (its distinct-token vocabulary also grows
    * with the corpus); only the 1-row scalar V keeps a broadcast
    * hint. Surprisal rounds to 4 dp (doubles summed in
    * engine-dependent order). */
  def bigramSurprisal(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val ts = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__ts"))
    val bigs = graft.Caches.cached(
      ts.filter(size(col("__ts")) >= 2)
        .select(col("id"), explode(expr(
          """transform(sequence(1, size(__ts) - 1),
            |  i -> struct(element_at(__ts, i) AS w1,
            |              element_at(__ts, i + 1) AS w2))""".stripMargin))
          .as("bg"))
        .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val uni = ts.select(explode(col("__ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val v = uni.agg(count(lit(1)).as("v"))
    val c2 = bigs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // unigram join UNHINTED (like the bigram-count join): the distinct-
    // token vocabulary grows with the corpus, so a forced broadcast
    // would OOM the driver at scale — Catalyst/AQE broadcasts it only
    // while provably small. Only the 1-row scalar V keeps its hint.
    val scored = bigs.join(c2, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("tok", "w1"), "w1")
      .crossJoin(broadcast(v))
      .withColumn("__logp",
        log((col("c12") + lit(1.0)) / (col("c1") + col("v"))))
      .groupBy("id")
      .agg(round(-avg("__logp"), 4).as("surprisal"),
        count(lit(1)).as("n_bigrams"))
    ts.select("id").join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal"), lit(0.0)).as("surprisal"))
  }

  /** TRAIN/APPLY bigram-LM surprisal — the CCNet shape: the LM counts
    * come from a REFERENCE slice (curated text), the scores from a
    * DIFFERENT corpus, so the number reads "how unlike the reference
    * does this doc sound" (CCNet buckets its CommonCrawl by exactly
    * this statistic, with a Wikipedia-trained LM). Same add-one
    * smoothing as [[bigramSurprisal]], extended to content the
    * reference never saw: an unseen (w1,w2) scores (0+1)/(c1+V) and an
    * unseen w1 scores 1/V — both well-defined, so every corpus doc
    * gets a score (the in-corpus form can't produce these cases).
    *
    * Scale shape: reference counts are keyed tables — the bigram table
    * joins on its (w1, w2) KEY and the unigram table on w1, both
    * unhinted (vocabularies grow with the reference; AQE broadcasts
    * only while provably small); only the 1-row V scalar keeps its
    * broadcast hint. The corpus side is one scan-stage bigram explode
    * + one keyed groupBy(id). Output: (id, n_bigrams, surprisal). */
  def bigramSurprisalFrom(reference: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val bigExpr = expr(
      """transform(sequence(1, size(__ts) - 1),
        |  i -> struct(element_at(__ts, i) AS w1,
        |              element_at(__ts, i + 1) AS w2))""".stripMargin)
    val rts = reference.select(tokens(col(textCol)).as("__ts"))
    val uni = rts.select(explode(col("__ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val v = uni.agg(count(lit(1)).as("v"))
    val c2 = rts.filter(size(col("__ts")) >= 2)
      .select(explode(bigExpr).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ts = corpus.select(col(idCol).as("id"), tokens(col(textCol)).as("__ts"))
    val scored = ts.filter(size(col("__ts")) >= 2)
      .select(col("id"), explode(bigExpr).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("tok", "w1"), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("__logp",
        log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))))
      .groupBy("id")
      .agg(round(-avg("__logp"), 4).as("surprisal"),
        count(lit(1)).as("n_bigrams"))
    ts.select("id").join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal"), lit(0.0)).as("surprisal"))
  }

  /** Vocabulary coverage / OOV rate — per-document count of token
    * OCCURRENCES outside the corpus's top-`vocabSize` vocabulary (the
    * tokenizer-fit health check run before committing a vocab size:
    * a rising OOV rate on a new source means the vocabulary no longer
    * covers the mix). Vocabulary = top `vocabSize` tokens by corpus
    * occurrence count, ties broken by token ascending (total order →
    * deterministic on any engine).
    *
    * Scale shape: one corpus pass builds the vocabulary-sized
    * (tok, count) table; the top-K is a TakeOrdered over THAT table
    * (never a corpus sort); the K-row vocab broadcasts back onto the
    * exploded token stream and the per-doc verdict is one keyed
    * groupBy(id) with map-side combine. Output: (id, n_tokens, n_oov)
    * — integer columns only; docs with zero tokens are absent. */
  def oovRate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val toks = graft.Caches.cached(
      df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok")))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1L).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** BPE merge-candidate counts — the inner statistic of byte-pair-
    * encoding tokenizer TRAINING: adjacent character-pair frequencies
    * over the corpus, weighted by word frequency (BPE trains on the
    * word-frequency table, not the raw stream — Sennrich et al. 2016).
    * One corpus pass builds the vocabulary-sized (tok, count) table;
    * the pair explode then runs over the VOCABULARY (≤ token length
    * rows per distinct token), so at 100 TB the corpus is touched
    * once and the candidate ranking is vocabulary-bounded. A full BPE
    * trainer iterates this: merge the top pair, re-segment, recount —
    * each iteration is this same keyed aggregation. Output:
    * (pair, cnt), the merge-candidate ranking input. */
  def bpePairCounts(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    tf.filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))"))
        .as("pair"), col("c"))
      .groupBy("pair").agg(sum("c").as("cnt"))
  }

  /** Iterative BPE trainer — `merges` rounds of the Sennrich et al.
    * 2016 loop on top of [[bpePairCounts]]'s single statistic: count
    * adjacent symbol pairs over the word-frequency table, merge the
    * best pair (max count, ties to the lexicographically least pair —
    * a total order), re-segment, repeat. Segmentations are the
    * classic space-joined symbol strings; applying a merge is ONE
    * literal string replace, left-to-right non-overlapping and
    * IDENTICAL in Spark and DuckDB.
    *
    * KNOWN DEVIATION from reference BPE (subword-nmt): the literal
    * replace of " A B " consumes the shared boundary space, so inside
    * a run of repeated symbols only alternating occurrences merge in
    * one round (" a a a a " → " aa a a ", where reference greedy BPE
    * with zero-width boundaries gives " aa aa "). Both engines (and
    * the DuckDB oracle) share the exact same semantics, so results
    * stay self-consistent and deterministic; merge counts on
    * repeated-symbol runs (e.g. "aaaa") differ from subword-nmt. The
    * unmerged residue is picked up by later rounds, so segmentations
    * converge to the same fixpoint when merge rounds are not scarce.
    *
    * Scale shape: the corpus is touched ONCE (the token-frequency
    * aggregation); every iteration then runs over the VOCABULARY
    * table (one row per distinct token — corpus-small), and the only
    * driver traffic per round is the single argmax row (k-bounded by
    * contract, like MMR's per-step selection). Stops early if no
    * pairs remain. Output: (step, pair, cnt) — the ranked merge
    * table a tokenizer ships. */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeLoop(df, textCol, merges)._1.toDF("step", "pair", "cnt")
  }

  /** The shared BPE training loop: returns (merge table, final
    * per-token segmentations (tok, seg, c)). [[bpeTrain]] publishes
    * the merges; [[bpeEncodedCounts]] joins the segmentations back
    * onto the corpus. Memoized per (session, corpus content key,
    * rounds) — the trainer and the encoder run over the same corpus in
    * one sweep, and training is the dominant cost of both; a corpus
    * without a [[graft.Memo.contentKey]] trains per call. */
  private def bpeLoop(df: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Int)
      : (Seq[(Long, String, Long)], org.apache.spark.sql.DataFrame) =
    graft.Memo.contentKey(df) match {
      case Some(k) => graft.Memo.obj(df.sparkSession,
        s"bpeLoop|$k|$textCol|$merges")(bpeLoopUncached(df, textCol, merges))
      case None => bpeLoopUncached(df, textCol, merges)
    }

  private def bpeLoopUncached(df: org.apache.spark.sql.DataFrame,
      textCol: String, merges: Int)
      : (Seq[(Long, String, Long)], org.apache.spark.sql.DataFrame) = {
    val tf = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val segs = tf.select(col("tok"),
      concat(lit(" "), concat_ws(" ", expr(
        "transform(sequence(1, length(tok)), i -> substr(tok, i, 1))")),
        lit(" ")).as("seg"), col("c"))
      .localCheckpoint() // vocabulary-sized; cut per-round lineage
    bpeTrainRounds(segs, startStep = 0, rounds = merges)
  }

  /** The Sennrich merge loop over an already-segmented frequency
    * table (tok, seg, c): `rounds` rounds of count-best-merge,
    * numbering merges from `startStep` — shared by fresh training
    * ([[bpeLoop]]) and artifact extension ([[extendBpeArtifact]]). */
  private def bpeTrainRounds(initial: org.apache.spark.sql.DataFrame,
      startStep: Int, rounds: Int)
      : (Seq[(Long, String, Long)], org.apache.spark.sql.DataFrame) = {
    var segs = initial
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var step = 0
    var exhausted = false
    while (step < rounds && !exhausted) {
      val best = segs
        .withColumn("syms", split(trim(col("seg")), " "))
        // guard single-symbol rows: sequence(1, 0) counts DOWN
        .select(explode(expr("CASE WHEN size(syms) < 2" +
          " THEN array() ELSE transform(sequence(1, size(syms) - 1)," +
          " i -> concat(syms[i-1], ' ', syms[i])) END")).as("pair"), col("c"))
        .groupBy("pair").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        merged += (((startStep + step).toLong, pair, best(0).getLong(1)))
        segs = segs.select(col("tok"),
          org.apache.spark.sql.functions.replace(col("seg"),
            lit(s" $pair "), lit(" " + pair.replace(" ", "") + " ")).as("seg"),
          col("c"))
          .localCheckpoint()
      }
      step += 1
    }
    (merged.toSeq, segs)
  }

  /** BPE ENCODE — apply a freshly-trained merge table to the corpus
    * and count the resulting subword pieces per document: the
    * "how many tokens will training see" statistic every corpus
    * budget is planned against. The scale-right encode is a JOIN, not
    * per-document replay: training already produced the final
    * segmentation of every DISTINCT token, so encoding is one corpus
    * token explode joined to the (vocabulary-sized, broadcastable)
    * tok→pieces table. Docs with no tokens emit (0, 0). Output:
    * (id, n_tokens, n_pieces), integers only. */
  def bpeEncodedCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, merges: Int): org.apache.spark.sql.DataFrame = {
    val (_, segs) = bpeLoop(df, textCol, merges)
    val pieces = segs.select(col("tok"),
      size(split(trim(col("seg")), " ")).cast("long").as("__np"))
    // unhinted: the tok→pieces table is vocabulary-sized (grows with
    // the corpus), so AQE picks broadcast only while it actually fits
    val counts = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .join(pieces, "tok")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum("__np").as("n_pieces"))
    df.select(col(idCol).as("id")).join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /** BPE DECODE + round-trip invariant (t21) — closes the tokenizer
    * loop t12/t16/t17 opened: decode the trained encoding back to text
    * and PROVE decode(encode(x)) ≡ normalized(x) per document, the
    * invariant every production tokenizer ships with. Decoding a
    * token's segmentation is stripping the boundary sentinels and the
    * in-seg separators (the exact inverse of the training
    * segmentation) — EXECUTED here, not assumed: the decoded pieces
    * re-join in token-position order and the reassembled string is
    * compared against the normalized original in both engines
    * independently.
    *
    * Scale shape: the tok→(decoded, n_pieces) table is
    * vocabulary-sized (AQE broadcasts it while it fits — same join as
    * [[bpeEncodedCounts]]); reassembly is one per-doc keyed agg whose
    * collect_list is bounded by document length (the d24 span-cut
    * reassembly bound). Output: (id, n_pieces, decoded,
    * round_trip_ok 0/1). */
  def bpeDecodeRoundTrip(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, merges: Int): org.apache.spark.sql.DataFrame = {
    val (_, segs) = bpeLoop(df, textCol, merges)
    val pieces = segs.select(col("tok"),
      org.apache.spark.sql.functions.replace(trim(col("seg")), lit(" "), lit(""))
        .as("dec"),
      size(split(trim(col("seg")), " ")).cast("long").as("__np"))
    val enc = df.select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .join(pieces, "tok")
      .groupBy("id")
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("dec")))),
            s => s.getField("dec"))).as("decoded"),
        sum(col("__np")).as("n_pieces"))
    df.select(col(idCol).as("id"),
        concat_ws(" ", tokens(col(textCol))).as("__norm"))
      .join(enc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("decoded"), lit("")).as("decoded"),
        (coalesce(col("decoded"), lit("")) === col("__norm")).cast("long")
          .as("round_trip_ok"))
  }

  /** Persist a trained BPE tokenizer as a SERVING ARTIFACT (t26) —
    * the ordered merge table `(step, pair, cnt)` under
    * `path/merges`: exactly what production tokenizers ship (the
    * merges file), never the training segmentations. Downstream
    * encodes replay the merges on their OWN corpus, so text the
    * trainer never saw still segments correctly — the property the
    * t17 join-back encode (correct only for in-training vocab) can't
    * give a serving deployment. */
  def writeBpeArtifact(df: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Int, path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeLoop(df, textCol, merges)._1.toDF("step", "pair", "cnt")
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/merges")
  }

  /** The artifact's ordered merge list — a k-bounded driver fetch
    * (k = merge rounds, the tokenizer's vocab budget; the
    * centroid/codebook-load pattern). */
  def readBpeMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(s"$path/merges")
      .orderBy("step").select("pair").as[String].collect().toIndexedSeq
  }

  /** EXTEND the persisted tokenizer's vocabulary (t27) — continued
    * BPE training: `moreMerges` fresh rounds trained on `df` (the
    * grown/domain-added corpus), with the artifact's existing merges
    * FROZEN — ranks 0..k−1 never change, so every shipped encoding
    * under the old vocab stays reproducible, exactly how production
    * tokenizers version vocab growth. The new rounds count pairs
    * over df's token-frequency table segmented by REPLAYING the
    * frozen merges (the [[bpeEncodeFromArtifact]] fold), then append
    * to `path/merges`. Returns the full extended merge table read
    * back from the artifact. */
  def extendBpeArtifact(df: org.apache.spark.sql.DataFrame,
      textCol: String, moreMerges: Int, path: String)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val frozen = readBpeMerges(spark, path)
    val tf = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val seg0 = concat(lit(" "), concat_ws(" ", expr(
      "transform(sequence(1, length(tok)), i -> substr(tok, i, 1))")),
      lit(" "))
    val segK = frozen.foldLeft(seg0)((seg, pair) =>
      org.apache.spark.sql.functions.replace(seg,
        lit(s" $pair "), lit(" " + pair.replace(" ", "") + " ")))
    val initial = tf.select(col("tok"), segK.as("seg"), col("c"))
      .localCheckpoint()
    val (newMerges, _) = bpeTrainRounds(initial, frozen.size, moreMerges)
    newMerges.toDF("step", "pair", "cnt")
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/merges")
    spark.read.parquet(s"$path/merges").orderBy("step")
  }

  /** BPE encode FROM the persisted artifact — the tokenizer-serving
    * path: segment the serve corpus's distinct tokens by replaying
    * the artifact's merges in training order, then count pieces per
    * document. Replay is a FOLD of k literal replaces over the
    * vocabulary-sized distinct-token table — one codegen'd
    * projection, no per-round shuffle, no training recount — so the
    * serve pays one corpus pass (tokenize + explode), one
    * vocabulary-sized projection, and one join back. Tokens absent
    * from training segment under the same merges (possibly fully
    * un-merged) instead of dropping — the OOV contract a serving
    * tokenizer must hold. Output: (id, n_tokens, n_pieces). */
  def bpeEncodeFromArtifact(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, path: String)
      : org.apache.spark.sql.DataFrame = {
    val merges = readBpeMerges(df.sparkSession, path)
    val vocab = df.select(explode(tokens(col(textCol))).as("tok")).distinct()
    val seg0 = concat(lit(" "), concat_ws(" ", expr(
      "transform(sequence(1, length(tok)), i -> substr(tok, i, 1))")),
      lit(" "))
    val segK = merges.foldLeft(seg0)((seg, pair) =>
      org.apache.spark.sql.functions.replace(seg,
        lit(s" $pair "), lit(" " + pair.replace(" ", "") + " ")))
    val pieces = vocab.select(col("tok"),
      size(split(trim(segK), " ")).cast("long").as("__np"))
    val counts = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .join(pieces, "tok")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum("__np").as("n_pieces"))
    df.select(col(idCol).as("id")).join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /** Sliding-window chunking with stride — the RAG/embedding-pipeline
    * pre-chunking move ([[graft.dedup.Dedup.chunkDedup]]'s fixed,
    * non-overlapping splitter is the dedup sibling): windows of
    * `chunkTokens` tokens starting every `strideTokens`, so
    * consecutive chunks overlap by chunkTokens − strideTokens and no
    * boundary sentence is lost to both neighbours. The LAST window is
    * the final full-or-partial stride start (no empty tail windows);
    * docs shorter than one chunk emit their whole text as window 0.
    * Pure scan-stage generator — zero shuffle. Output via posexplode:
    * (id, idx, chunk). */
  def slidingChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int, strideTokens: Int)
      : org.apache.spark.sql.DataFrame = {
    require(strideTokens > 0 && chunkTokens >= strideTokens,
      "need 0 < strideTokens <= chunkTokens")
    val toks = tokens(col(textCol))
    val n = size(toks)
    // windows start at 0, stride, 2·stride, …; the last start is the
    // greatest multiple of stride STRICTLY below n (so a doc with
    // n ≤ chunk gets exactly one window)
    val nWins = when(n === 0, lit(0))
      .otherwise(floor((n - 1).cast("double") / strideTokens).cast("int") + 1)
    val chunkArr = when(n === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nWins - 1), w =>
        concat_ws(" ", slice(toks, w * strideTokens + 1, lit(chunkTokens)))))
    df.select(col(idCol).as("id"),
        posexplode(chunkArr).as(Seq("idx", "chunk")))
      .select(col("id"), col("idx").cast("long").as("idx"), col("chunk"))
  }

  /** 64-bit document fingerprint: xxhash64 rolling over the token
    * stream (order-sensitive, whitespace-normalization-invariant).
    * Content-defined identity for exact/near-exact dedup bookkeeping. */
  def fingerprint(text: Column): Column =
    xxhash64(concat_ws("", tokens(text)))

  /** Engine-portable fingerprint: md5 hex of the \u0001-joined token
    * stream -- same identity semantics as [[fingerprint]] but computable
    * by any SQL engine (cross-system dedup ledgers); xxhash64 stays the
    * cheap in-engine form. */
  def fingerprintPortable(text: Column): Column =
    md5(concat_ws("", tokens(text)))

  /** Word n-gram array IN TOKEN ORDER (duplicates kept) — the
    * repetition-measure primitive; [[graft.dedup.Dedup.shingles]] is
    * the DISTINCT-set variant used for Jaccard/MinHash. One codegen'd
    * static call per row (graft.functions.TextKernels.ngrams);
    * [[ngramsOrderedExpr]] is the pure-expression reference form. */
  def ngramsOrdered(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    GraftExpressionBridge.column(graft.functions.TextKernelExprs.ngrams(
      Seq(GraftExpressionBridge.expression(text), Literal(n))))
  }

  /** Pure-expression ordered n-grams — semantically identical to
    * [[ngramsOrdered]] (scalacheck-verified); the reference form. */
  private[graft] def ngramsOrderedExpr(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(n), size(toks)),
        i => concat_ws(" ", slice(toks, i - (n - 1), lit(n)))))
  }

  /** Gopher-style repetition fraction: 1 − distinct/total over ordered
    * word n-grams (0.0 for docs with < n tokens). Natural prose sits
    * low; boilerplate, keyword stuffing and templated spam sit high —
    * the canonical "repetition" quality filter for LLM corpora. Pure
    * scan-stage expression. */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val grams = ngramsOrdered(text, n)
    when(size(grams) === 0, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams), 6))
  }

  /** Fraction of tokens taken by the single most frequent token (0.0
    * for empty docs). High values flag keyword-stuffed / degenerate
    * documents. Only the max COUNT is needed, so no tie-break enters
    * the result. Quadratic in (distinct × total) tokens per row —
    * fine for document-sized inputs, still scan-stage. */
  def topTokenFrac(text: Column): Column = {
    val toks = tokens(text)
    val counts = transform(array_distinct(toks),
      x => size(filter(toks, y => y === x)))
    when(size(toks) === 0, lit(0.0)).otherwise(
      round(array_max(counts).cast("double") / size(toks), 6))
  }

  /** PII regexes — deliberately in the RE2-compatible subset so the
    * same pattern string runs under Java regex (Spark) and RE2
    * (DuckDB/Go scrubbers) identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Count of email-shaped / phone-shaped substrings. */
  def emailCount(text: Column): Column = size(regexp_extract_all(text, lit(EmailRe), lit(0)))
  def phoneCount(text: Column): Column = size(regexp_extract_all(text, lit(PhoneRe), lit(0)))

  /** PII scrub: emails → `<EMAIL>`, phones → `<PHONE>`. Pure
    * scan-stage expression — the shape of every redaction pass a
    * training-data pipeline runs before tokenization. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
}

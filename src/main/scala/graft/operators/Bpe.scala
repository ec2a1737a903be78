package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Iter

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016,
  * ACL — "Neural Machine Translation of Rare Words with Subword
  * Units", public) — the tokenizer-training half of the pipeline the
  * token-counting surface ([[graft.functions.TextAnalysis]]) consumes.
  *
  * Scale shape — the reason this is feasible at 100 TB: BPE training
  * never iterates over the corpus. ONE corpus scan collapses it to
  * the word-frequency table (V rows — vocabulary-bounded, independent
  * of corpus size beyond vocabulary growth), and every merge round
  * then runs on that V-row frame: adjacent-pair counts weighted by
  * word frequency (explode → partial-agg'd groupBy), a 1-row argmax
  * collect (bounded driver state, the kmeans-centroid convention),
  * and a row-local greedy merge fold over each word's symbol array.
  * Exactly how reference BPE trainers work on word dicts — here the
  * dict itself is distributed.
  *
  * Determinism: the winning pair is argmax by (count DESC, left ASC,
  * right ASC) — fully ordered, so retrains are byte-identical and the
  * DuckDB oracle can replay every round. The merge application is the
  * standard leftmost-greedy non-overlapping pass ("aaaa" under (a,a)
  * → [aa][aa], "aaa" → [aa][a]), expressed as an array fold that
  * merges the accumulator's last symbol with the next.
  *
  * Words are whitespace tokens split to code-point symbols, no
  * end-of-word marker (the marker variant is a trivial symbol-append
  * on the initial frame).
  */
object Bpe {

  /** Train `numMerges` BPE merges over the corpus; returns the merge
    * table (rank, left, right, n) — rank 1-based in merge order, n
    * the corpus-weighted pair count that won the round. Stops early
    * (fewer rows) if the corpus runs out of adjacent pairs. */
  def bpeMerges(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    mergeRounds(
      wordFreq(df, textCol).select(col("c"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms")),
      numMerges)
  }

  /** BYTE-level BPE merges — [[bpeMerges]] over the GPT-2
    * byte-fallback alphabet: words split to their UTF-8 BYTES
    * (rendered as two-char uppercase hex symbols so the merge table
    * and the DuckDB oracle replay are plain strings), then the
    * identical merge loop. The base vocabulary is ≤ 256 symbols by
    * construction, so NO text can contain an out-of-vocabulary unit —
    * the coverage guarantee char BPE only gets by carrying every
    * observed code point. Same determinism contract, same V-row
    * economics (the hex projection runs on the word table, never the
    * corpus). */
  def bpeMergesBytes(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val h = hex(encode(col("w"), "UTF-8"))
    mergeRounds(
      wordFreq(df, textCol).select(col("c"),
        transform(sequence(lit(1), length(h), lit(2)),
          i => h.substr(i, lit(2))).as("syms")),
      numMerges)
  }

  private def wordFreq(df: DataFrame, textCol: String): DataFrame =
    // NOT fanned out (measured): the explode collapses to a V-row
    // aggregate consumed by a chain of small merge-round actions, and
    // the added exchange/stage per action costs more than the one-pass
    // scan parallelism buys (b2 was 2x slower with a fanOut here)
    df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** ONE leftmost-greedy non-overlapping merge pass over a symbol
    * array: the accumulator's last symbol joins the incoming one as
    * `merged` when they form (l, r) — "aaaa" under (a,a) →
    * [aa][aa], "aaa" → [aa][a]. The single fold shared by every
    * trainer round (BPE, byte BPE, WordPiece — which differ only in
    * the merged SPELLING) and the declarative encode forms, so the
    * greedy semantics can never diverge between them. */
  private def mergeFold(syms: org.apache.spark.sql.Column, l: String,
      r: String, merged: String): org.apache.spark.sql.Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))

  /** The shared merge loop over a (c, syms) word table — see
    * [[bpeMerges]] for the semantics and determinism contract. */
  private def mergeRounds(words0: DataFrame,
      numMerges: Int): DataFrame = Iter.scoped { s =>
    val spark = words0.sparkSession
    import spark.implicits._
    var words = s.materialize(words0)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var k = 1
    var exhausted = false
    while (k <= numMerges && !exhausted) {
      val top = words
        .filter(size(col("syms")) > 1)
        .select(col("c"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + lit(1)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, l, r, n))
        val next = s.materialize(
          words.select(col("c"),
            mergeFold(col("syms"), l, r, l + r).as("syms")))
        // drop the prior round's checkpointed copy once the new one is
        // live — a real training run is thousands of merges, and
        // without the release storage grows linearly with numMerges
        s.release(words)
        words = next
        k += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "n")
  }

  /** The unigram trainer's SEED vocabulary as a frame — every
    * ≤ `maxPieceLen`-char substring of every corpus word weighted by
    * word frequency, cut to ALL single chars plus the `seedSize`
    * heaviest multi-char pieces by (freq DESC, piece ASC). Exposed as
    * its own operator so the driver oracle checks the seed
    * construction directly (the EM rounds' Viterbi DP is not
    * SQL-expressible; the by-hand spec gates those).
    * @return (piece, freq). */
  def unigramSeed(df: DataFrame, textCol: String,
      seedSize: Int = 4000, maxPieceLen: Int = 8): DataFrame =
    unigramSeedFromWords(wordFreq(df, textCol), seedSize, maxPieceLen)

  private def unigramSeedFromWords(words: DataFrame, seedSize: Int,
      maxPieceLen: Int): DataFrame = {
    val subs = words.select(col("c"), explode(sequence(lit(1),
        length(col("w")))).as("i"), col("w"))
      .select(col("c"), col("i"), explode(sequence(lit(1),
        least(lit(maxPieceLen), length(col("w")) - col("i") + 1)))
        .as("l"), col("w"))
      .select(col("w").substr(col("i"), col("l")).as("piece"), col("c"))
    val pieceFreq = subs.groupBy(col("piece"))
      .agg(sum(col("c")).as("freq"))
    val chars = pieceFreq.filter(length(col("piece")) === 1)
    val multi = pieceFreq.filter(length(col("piece")) > 1)
      .orderBy(col("freq").desc, col("piece").asc)
      .limit(math.max(0, seedSize))
    chars.unionByName(multi)
  }

  /** Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 —
    * the SentencePiece unigram model, the other major subword
    * algorithm beside [[bpeMerges]]' BPE), as deterministic hard-EM
    * (Viterbi-EM) over the corpus word table:
    *
    *  1. SEED: every ≤ `maxPieceLen`-char substring of every word,
    *     weighted by corpus word frequency; keep the `seedSize`
    *     heaviest by (freq DESC, piece ASC) plus ALL single
    *     characters (they guarantee total segmentation forever).
    *     Initial log P = ln(freq / Σ freq).
    *  2. E-step: Viterbi-segment each distinct word under the current
    *     model ([[graft.functions.UnigramSegment]] — ties to the
    *     longest piece, unknown chars at −100) and count piece usages
    *     weighted by word frequency — ONE narrow pass over the V-row
    *     word table plus a piece-keyed partial agg, never a corpus
    *     scan.
    *  3. M-step: log P = ln(usage / Σ usage) over the surviving
    *     pieces (unused pieces drop; single chars are pinned with a
    *     usage floor of 1 so coverage never breaks).
    *  4. After `rounds` EM iterations, PRUNE to `vocabSize`: single
    *     chars first, then heaviest by (usage DESC, piece ASC); one
    *     final EM round re-normalizes the pruned model.
    *
    * Hard-EM keeps every step exactly replayable (the spec's by-hand
    * model matches piece-for-piece and the Viterbi likelihood is
    * non-decreasing across rounds — the monotonicity invariant the
    * spec pins); soft-EM's forward-backward expectations would buy
    * slightly better vocabularies at the cost of float-order
    * nondeterminism across engines and partitionings.
    *
    * Scale shape: the corpus collapses ONCE to the (word, count)
    * table (the [[bpeMerges]] economics); every EM round is a narrow
    * map over V rows with the model as expression literals
    * (vocabSize-bounded broadcast) and a vocabSize-bounded collect —
    * bounded driver model state, the kmeans-centroid convention.
    *
    * @return (piece, usage, lp) — the trained vocabulary, usage the
    *         final-round weighted count, lp its ln-probability. */
  def unigramTrain(df: DataFrame, textCol: String,
      vocabSize: Int = 1000, seedSize: Int = 4000, rounds: Int = 2,
      maxPieceLen: Int = 8): DataFrame = Iter.scoped { s =>
    require(vocabSize >= 1 && seedSize >= 1 && rounds >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val words = s.materialize(
      df.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c")))

    // 1. seed pieces: all bounded substrings, corpus-weighted
    val seed = unigramSeedFromWords(words, seedSize, maxPieceLen)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total0 = seed.map(_._2).sum.toDouble
    var model: Map[String, Double] =
      seed.map { case (p, f) => p -> math.log(f / total0) }.toMap

    // 2-4. EM rounds + prune + one re-normalizing round.
    // "single char" = one CODE POINT throughout (the seed's chars are
    // code-point-1 pieces — Spark length() counts code points — and
    // the Viterbi/segment expressions are code-point DPs; a UTF-16
    // partition would leave astral chars unpinned and prunable,
    // breaking the coverage guarantee for supplementary-plane text)
    def isChar(p: String): Boolean =
      p.codePointCount(0, p.length) == 1
    def eStep(m: Map[String, Double]): Array[(String, Long)] = {
      val segCol = org.apache.spark.sql.GraftColumns.column(
        graft.functions.UnigramSegment(
          org.apache.spark.sql.GraftColumns.expression(col("w")),
          m.toSeq.sortBy(_._1), maxPieceLen))
      words.select(col("c"), explode(segCol).as("piece"))
        .groupBy(col("piece")).agg(sum(col("c")).as("usage"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
    }
    def mStep(usages: Array[(String, Long)]): Map[String, Double] = {
      val used = usages.toMap
      // single chars pinned at a usage floor so coverage never breaks
      val pinned = model.keys.filter(isChar)
        .map(p => p -> math.max(used.getOrElse(p, 0L), 1L)).toMap
      val kept = used.filter { case (p, _) => !isChar(p) } ++ pinned
      val tot = kept.values.sum.toDouble
      kept.map { case (p, u) => p -> math.log(u / tot) }
    }
    for (_ <- 1 to rounds) model = mStep(eStep(model))
    // prune: chars first, then heaviest multi-char pieces
    val lastUsage = eStep(model).toMap
    val charPieces = model.keys.filter(isChar).toSeq
    val budget = math.max(0, vocabSize - charPieces.size)
    val keptMulti = model.keys.filterNot(isChar).toSeq
      .map(p => (p, lastUsage.getOrElse(p, 0L)))
      .sortBy { case (p, u) => (-u, p) }
      .take(budget).map(_._1).toSet
    model = model.filter { case (p, _) =>
      isChar(p) || keptMulti.contains(p) }
    model = mStep(eStep(model))

    val finalUsage = eStep(model).toMap
    model.toSeq.sortBy(_._1)
      .map { case (p, lp) => (p, finalUsage.getOrElse(p, 0L), lp) }
      .toDF("piece", "usage", "lp")
  }

  /** Soft-EM unigram training — the FULL Kudo 2018 recipe as an
    * opt-in beside [[unigramTrain]]'s deterministic hard-EM:
    *
    *  1. SEED exactly as hard-EM (same substring table, same initial
    *     log P).
    *  2. Soft E-step: forward–backward EXPECTED piece counts over
    *     each word's whole segmentation lattice
    *     ([[graft.functions.UnigramExpect]], row-local over the V-row
    *     word table) weighted by corpus word frequency — every
    *     lattice path contributes mass, where hard-EM counts only the
    *     Viterbi path.
    *  3. M-step: log P = ln(E[usage] / Σ E[usage]), single chars
    *     pinned at an expected-usage floor of 1 (coverage never
    *     breaks — the hard-EM convention).
    *  4. PRUNE by Kudo's loss score instead of raw usage: for each
    *     multi-char piece on a word's Viterbi path, the likelihood
    *     drop if that piece were removed
    *     ([[graft.functions.UnigramPruneLoss]]); summed over a
    *     deterministic hash-subsampled word set (`pruneSampleRate`
    *     of distinct words — the seeded-hash sampling convention, so
    *     the subsample is engine/partitioning/retry-stable). Keep
    *     single chars plus the `vocabSize`-budget of multi-char
    *     pieces by (loss DESC, piece ASC); a piece on no Viterbi path
    *     scores 0 and prunes first.
    *  5. One final soft round re-normalizes the pruned model.
    *
    * Hard-EM stays the oracle-facing default: soft expectations sum
    * floats across lattice paths and partitions, so cross-engine
    * bit-stability cannot be promised — this variant is spec-gated
    * (same vocabulary as hard-EM on separable corpora; per-word
    * expected-coverage invariant Σ e·len = word length; marginal
    * likelihood non-decreasing across rounds).
    *
    * @return (piece, usage, lp) — usage the final EXPECTED count. */
  def unigramTrainSoft(df: DataFrame, textCol: String,
      vocabSize: Int = 1000, seedSize: Int = 4000, rounds: Int = 2,
      maxPieceLen: Int = 8, pruneSampleRate: Double = 1.0,
      sampleSeed: String = "unigram-prune"): DataFrame = Iter.scoped { s =>
    require(vocabSize >= 1 && seedSize >= 1 && rounds >= 1)
    require(pruneSampleRate > 0 && pruneSampleRate <= 1,
      s"pruneSampleRate must be in (0,1], got $pruneSampleRate")
    val spark = df.sparkSession
    import spark.implicits._
    val words = s.materialize(
      df.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c")))

    val seed = unigramSeedFromWords(words, seedSize, maxPieceLen)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total0 = seed.map(_._2).sum.toDouble
    var model: Map[String, Double] =
      seed.map { case (p, f) => p -> math.log(f / total0) }.toMap

    def expectations(m: Map[String, Double]): Array[(String, Double)] = {
      val eCol = org.apache.spark.sql.GraftColumns.column(
        graft.functions.UnigramExpect(
          org.apache.spark.sql.GraftColumns.expression(col("w")),
          m.toSeq.sortBy(_._1), maxPieceLen))
      words.select(col("c"), explode(eCol).as("x"))
        .groupBy(col("x.piece").as("piece"))
        .agg(sum(col("c").cast("double") * col("x.v")).as("e"))
        .collect().map(r => r.getString(0) -> r.getDouble(1))
    }
    // "single char" means one CODE POINT throughout soft-EM —
    // UnigramPruneLoss's candidate filter is codePointCount-based, so
    // a UTF-16-length partition would hand astral single-char pieces
    // a guaranteed loss of 0 and prune them first
    def isChar(p: String): Boolean =
      p.codePointCount(0, p.length) == 1
    def mStep(exp: Array[(String, Double)]): Map[String, Double] = {
      val used = exp.toMap
      val pinned = model.keys.filter(isChar)
        .map(p => p -> math.max(used.getOrElse(p, 0.0), 1.0)).toMap
      val kept = used.filter { case (p, e) =>
        !isChar(p) && e > 0.0 } ++ pinned
      val tot = kept.values.sum
      kept.map { case (p, e) => p -> math.log(e / tot) }
    }
    for (_ <- 1 to rounds) model = mStep(expectations(model))

    // prune by summed Viterbi-path loss over the subsampled words
    val lossCol = org.apache.spark.sql.GraftColumns.column(
      graft.functions.UnigramPruneLoss(
        org.apache.spark.sql.GraftColumns.expression(col("w")),
        model.toSeq.sortBy(_._1), maxPieceLen))
    val sampled =
      if (pruneSampleRate >= 1.0) words
      else words.filter(Curation.sampleDraw(sampleSeed, col("w")) <
        lit(math.round(pruneSampleRate * 10000).toInt))
    val losses = sampled.select(col("c"), explode(lossCol).as("x"))
      .groupBy(col("x.piece").as("piece"))
      .agg(sum(col("c").cast("double") * col("x.v")).as("loss"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val charPieces = model.keys.filter(isChar).toSeq
    val budget = math.max(0, vocabSize - charPieces.size)
    val keptMulti = model.keys.filterNot(isChar).toSeq
      .map(p => (p, losses.getOrElse(p, 0.0)))
      .sortBy { case (p, l) => (-l, p) }
      .take(budget).map(_._1).toSet
    model = model.filter { case (p, _) =>
      isChar(p) || keptMulti.contains(p) }
    model = mStep(expectations(model))

    val finalE = expectations(model).toMap
    model.toSeq.sortBy(_._1)
      .map { case (p, lp) => (p, finalE.getOrElse(p, 0.0), lp) }
      .toDF("piece", "usage", "lp")
  }

  /** Segment `textCol` with a trained unigram vocabulary — the encode
    * half: whitespace words each Viterbi-segmented row-locally (the
    * [[bpeEncode]] zero-shuffle shape; the model rides as expression
    * literals). Returns the input plus a `pieces` array column. */
  def unigramEncode(df: DataFrame, textCol: String,
      vocab: Seq[(String, Double)], maxPieceLen: Int = 8): DataFrame =
    // fanOut: the per-document Viterbi DP is the whole cost and the
    // input is one task on single-row-group scans (guide §2.5)
    graft.util.Tables.fanOut(df, textCol).withColumn("pieces",
      org.apache.spark.sql.GraftColumns.column(
        graft.functions.UnigramEncodeTokens(
          org.apache.spark.sql.GraftColumns.expression(col(textCol)),
          vocab.sortBy(_._1), maxPieceLen)))

  /** Segment `textCol` with an already-trained merge table: applies
    * the merges IN RANK ORDER to every word — the encode half
    * (tokenization a trainer runs at corpus scale, so the merge list
    * is a broadcast-sized driver argument, not a join side). Returns
    * the input plus a `tokens` array column.
    *
    * Scale shape: the fold is row-local over each word occurrence —
    * ZERO shuffles, embarrassingly parallel, the narrowest possible
    * plan for a full-corpus tokenization pass. The alternative
    * (encode the distinct-word table once, shuffle-join back by word)
    * trades that CPU for a corpus-wide string-keyed shuffle; at 100 TB
    * the join's exchange dwarfs the re-encode CPU (words are short,
    * merges few), so occurrence-local is the default and the
    * dictionary variant is left to callers with pathological
    * vocabularies. Applying ranks sequentially to raw words is
    * byte-identical to the training-time fixpoint (each round of
    * [[bpeMerges]] applies exactly one merge to the word table, in
    * the same order).
    *
    * Executes as ONE native call per document
    * ([[graft.functions.BpeEncodeTokens]]): the declarative
    * K-nested-fold form (kept as [[bpeEncodeHof]] for the equivalence
    * spec) costs ~1 s per merge per 5k docs at sf0.1 and its
    * expression tree grows linearly with K — a real vocabulary
    * (tens of thousands of merges) is unplannable that way. */
  def bpeEncode(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    graft.util.Tables.fanOut(df, textCol).withColumn("tokens", org.apache.spark.sql.GraftColumns.column(
      graft.functions.BpeEncodeTokens(
        org.apache.spark.sql.GraftColumns.expression(col(textCol)),
        merges)))

  /** [[bpeEncode]] under a [[bpeMergesBytes]] vocabulary: words split
    * to UTF-8-byte hex symbols, the trained merges applied in rank
    * order — the same native one-call-per-document shape, so the
    * byte alphabet costs no extra plan weight. Every emitted token is
    * a concatenation of hex pairs: decoding is unhex of the
    * concatenated token stream per word, and coverage is total by
    * construction (no unknown symbols exist). */
  def bpeEncodeBytes(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    graft.util.Tables.fanOut(df, textCol).withColumn("tokens", org.apache.spark.sql.GraftColumns.column(
      graft.functions.BpeEncodeTokens(
        org.apache.spark.sql.GraftColumns.expression(col(textCol)),
        merges, byteLevel = true)))

  /** The declarative formulation of [[bpeEncode]] — one
    * `transform`+`aggregate` HOF pass per merge. Reference semantics
    * for the native expression (BpeSpec pins native ≡ HOF); not the
    * production path. */
  private[graft] def bpeEncodeHof(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val syms = transform(
      filter(split(trim(col(textCol)), "\\s+"), w => w =!= ""),
      w => transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))))
    val encoded = merges.foldLeft(syms) { case (cur, (l, r)) =>
      transform(cur, word => mergeFold(word, l, r, l + r))
    }
    df.withColumn("tokens", flatten(encoded))
  }

  /** Corpus token-frequency table under a trained merge list — the
    * unigram statistics tokenizer evaluation reads (coverage,
    * fertility, dead vocab entries). Vocabulary-bounded like
    * [[bpeMerges]]: ONE corpus scan collapses to the (word, count)
    * table, the merge folds and the token explode run on those V rows
    * weighted by count — the corpus text is never re-touched.
    * @return (token, n) — n the corpus-weighted occurrence count. */
  def tokenFrequencies(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(explode(
        filter(split(trim(col(textCol)), "\\s+"), w => w =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val syms0 = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val syms = merges.foldLeft(syms0) { case (cur, (l, r)) =>
      mergeFold(cur, l, r, l + r)
    }
    words.select(col("c"), explode(syms).as("token"))
      .groupBy(col("token")).agg(sum(col("c")).as("n"))
  }

  /** Per-stratum tokenizer fertility (tokens emitted per word — THE
    * cross-language tokenizer health metric: a vocabulary trained on
    * one language fragments the others). Stratified by `byCol`
    * (language, source, …). Vocabulary-bounded: the (stratum, word)
    * frequency table is the only corpus-derived frame; the per-word
    * token lengths are computed once on the distinct-word table and
    * joined in (word-keyed, combines map-side — never wider than the
    * stratified vocabulary).
    * @return (byCol, n_words, n_tokens, fertility = tokens/words) */
  def fertilityBy(df: DataFrame, textCol: String, byCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val byWord = df.select(col(byCol), explode(
        filter(split(trim(col(textCol)), "\\s+"), w => w =!= "")).as("w"))
      .groupBy(col(byCol), col("w")).agg(count(lit(1)).as("c"))
    val syms0 = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val folded = merges.foldLeft(syms0) { case (cur, (l, r)) =>
      mergeFold(cur, l, r, l + r)
    }
    val wordLens = byWord.select(col("w")).distinct()
      .select(col("w"), size(folded).cast("bigint").as("tl"))
    byWord.join(wordLens, Seq("w"))
      .groupBy(col(byCol))
      .agg(sum(col("c")).cast("bigint").as("n_words"),
        sum(col("c") * col("tl")).cast("bigint").as("n_tokens"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
  }

  /** WordPiece symbolization: a word's first code point bare, every
    * following code point prefixed "##" — the BERT continuation
    * convention. A merged token inherits its LEFT symbol's prefix and
    * strips the right's ("a"+"##b" → "ab", "##a"+"##b" → "##ab"), so
    * word-initial and word-internal pieces never pool counts. */
  private def wordpieceSyms: org.apache.spark.sql.Column =
    transform(sequence(lit(1), length(col("w"))),
      i => when(i === lit(1), col("w").substr(i, lit(1)))
        .otherwise(concat(lit("##"), col("w").substr(i, lit(1)))))

  /** A merged WordPiece token: left || right-without-its-## marker.
    * Classification rule (shared verbatim with the DuckDB oracle): a
    * symbol is a continuation iff it starts with "##" AND has content
    * after the marker — corpora whose words contain literal '#' can
    * alias the marker, the standard WordPiece ambiguity. */
  private def wpMerged(l: String, r: String): String =
    l + (if (r.startsWith("##") && r.length > 2) r.substring(2) else r)

  /** WordPiece vocabulary induction (Schuster & Nakajima 2012, ICASSP
    * — "Japanese and Korean voice search"; the BERT tokenizer's
    * trainer as published in the HuggingFace tokenizers library):
    * [[bpeMerges]]'s round structure, but each round merges the
    * adjacent pair maximizing the LIKELIHOOD score
    * n(l,r) / (n(l)·n(r)) — the pair count over the product of the
    * unit counts — rather than the raw pair count, so a pair of
    * individually-rare symbols beats a pair of ubiquitous ones.
    *
    * Scale shape: identical to [[bpeMerges]] (the corpus collapses to
    * the V-row word-frequency table once; every round runs on V rows)
    * plus one extra V-bounded aggregate per round for the unit counts
    * and two broadcast-sized joins to attach them to the pair table.
    *
    * Determinism / oracle replay: the score is compared as the IEEE
    * double n / (ul·ur) — one long→double conversion per operand, one
    * multiply, one divide, each single-rounded round-to-nearest in
    * both Spark and DuckDB, so the per-round argmax replays
    * bit-exactly; ties break (l ASC, r ASC).
    *
    * @return (rank, left, right, merged, n, ul, ur, score_e12) —
    *         counts corpus-weighted, score exported as
    *         floor(score·1e12) per the e-cut convention. */
  def wordpieceMerges(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = Iter.scoped { s =>
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var words = s.materialize(
      wordFreq(df, textCol).select(col("c"), wordpieceSyms.as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer[
      (Int, String, String, String, Long, Long, Long, Long)]()
    var k = 1
    var exhausted = false
    while (k <= numMerges && !exhausted) {
      val units = words
        .select(col("c"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("c")).as("u"))
      val top = words
        .filter(size(col("syms")) > 1)
        .select(col("c"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + lit(1)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("n"))
        .join(units.select(col("s").as("l"), col("u").as("ul")), Seq("l"))
        .join(units.select(col("s").as("r"), col("u").as("ur")), Seq("r"))
        .select(col("l"), col("r"), col("n"), col("ul"), col("ur"),
          (col("n").cast("double") /
            (col("ul").cast("double") * col("ur").cast("double")))
            .as("score"))
        .orderBy(col("score").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0); val r = top(0).getString(1)
        val n = top(0).getLong(2)
        val ul = top(0).getLong(3); val ur = top(0).getLong(4)
        val score = top(0).getDouble(5)
        val merged = wpMerged(l, r)
        merges += ((k, l, r, merged, n, ul, ur,
          math.floor(score * 1e12).toLong))
        val next = s.materialize(
          words.select(col("c"),
            mergeFold(col("syms"), l, r, merged).as("syms")))
        s.release(words)
        words = next
        k += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "n",
      "ul", "ur", "score_e12")
  }

  /** Persist a trained BPE merge table as a warehouse artifact — the
    * model a production tokenization fleet SHIPS: train once (the
    * corpus-scale cost), encode everywhere (the zero-shuffle
    * row-local pass), exactly the t9/d17 amortization applied to
    * tokenizers. Rank order is preserved and a `_meta` row pins the
    * ALPHABET (char vs byte), so a loaded model can never apply its
    * merges under the wrong symbolization — the embed-gate
    * foreign-planes lesson. */
  def writeBpeModel(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], table: String,
      byteLevel: Boolean): Unit = {
    import spark.implicits._
    Bucketing.dropTableAndLocation(spark, table)
    Bucketing.dropTableAndLocation(spark, s"${table}_meta")
    merges.zipWithIndex.map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("rank", "left", "right")
      .write.mode("overwrite").saveAsTable(table)
    Seq(Tuple1(byteLevel)).toDF("byte_level")
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Encode under a persisted [[writeBpeModel]] artifact: the merge
    * list loads in rank order (model-bounded driver state) and the
    * TABLE'S OWN meta alphabet picks the symbolization. */
  def bpeEncodeLoaded(df: DataFrame, textCol: String,
      table: String): DataFrame = {
    val spark = df.sparkSession
    val byteLevel = spark.table(s"${table}_meta").head().getBoolean(0)
    val merges = spark.table(table).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    if (byteLevel) bpeEncodeBytes(df, textCol, merges)
    else bpeEncode(df, textCol, merges)
  }

  /** Persist a WordPiece encode vocabulary ([[wordpieceVocab]]) as a
    * warehouse artifact — same contract as [[writeBpeModel]]; the
    * ##-continuation classification is carried by the pieces
    * themselves, so the artifact is one column. */
  def writeWordPieceVocab(spark: org.apache.spark.sql.SparkSession,
      vocab: Seq[String], table: String): Unit = {
    import spark.implicits._
    Bucketing.dropTableAndLocation(spark, table)
    vocab.distinct.sorted.toDF("piece")
      .write.mode("overwrite").saveAsTable(table)
  }

  /** Encode under a persisted [[writeWordPieceVocab]] artifact. */
  def wordpieceEncodeLoaded(df: DataFrame, textCol: String,
      table: String): DataFrame = {
    val spark = df.sparkSession
    val vocab = spark.table(table).collect().map(_.getString(0)).toSeq
    wordpieceEncode(df, textCol, vocab)
  }

  /** The WordPiece ENCODE vocabulary implied by a training run: every
    * base symbol the corpus symbolizes to, plus every merge product,
    * as driver-bounded strings (the unigramEncode convention — a
    * vocabulary is model state, never a join side). */
  def wordpieceVocab(df: DataFrame, textCol: String,
      merges: Seq[String]): Seq[String] = {
    val base = wordFreq(df, textCol)
      .select(explode(wordpieceSyms).as("piece"))
      .distinct().collect().map(_.getString(0))
    (base ++ merges).distinct.sorted
  }

  /** Segment `textCol` with a WordPiece vocabulary: greedy
    * longest-match-first per word (BERT's WordPieceTokenizer) — at
    * the word start the longest vocab piece matching a prefix, then
    * the longest "##"-continuation piece at each subsequent position;
    * a position with NO matching piece collapses the whole word to
    * ["[UNK]"]. Encoding the training corpus never hits [UNK] (every
    * base symbol is in the vocabulary by construction).
    *
    * Scale shape: occurrence-local like [[bpeEncode]] — ZERO
    * shuffles, the vocabulary rides as a native-expression literal
    * with a per-instance hash set (one probe per candidate length,
    * longest first), plus the bounded per-task word memo. Returns the
    * input plus a `tokens` array column. */
  def wordpieceEncode(df: DataFrame, textCol: String,
      vocab: Seq[String]): DataFrame =
    graft.util.Tables.fanOut(df, textCol).withColumn("tokens", org.apache.spark.sql.GraftColumns.column(
      graft.functions.WordPieceEncodeTokens(
        org.apache.spark.sql.GraftColumns.expression(col(textCol)),
        vocab.distinct.sorted)))
}

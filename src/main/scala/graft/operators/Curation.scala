package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Iter

/** Corpus-curation operators for training-data pipelines: deterministic
  * stratified sampling, seeded global shuffle into shards, train/eval
  * n-gram decontamination and corpus n-gram frequency.
  *
  * Everything is keyed on md5-derived hashes (see
  * [[Dedup.tokenHash32]]) rather than `rand()`: the same corpus and
  * seed always select the same sample, shard layout, or contamination
  * set — on any engine, any partitioning, any retry. Sampling with
  * `rand()` breaks task-retry determinism (Spark may recompute a
  * partition after a sample was consumed downstream) and cannot be
  * oracle-checked; hash gating has neither problem.
  *
  * Scale notes (100 TB): sampling and sharding are single-pass —
  * sampling is a pure filter (no shuffle at all, combines with scan
  * pruning); sharding is ONE hash shuffle keyed by shard followed by an
  * in-shard sort, the exact shape of a training-data writer
  * (`nShards` chosen so one shard fits an executor: e.g. 100 TB /
  * 512 MB ≈ 200k shards). Decontamination shuffles fixed-width 16-byte
  * md5 keys, never the n-gram strings, and the eval side of the join is
  * broadcast when small.
  */
object Curation {

  /** Deterministic seeded per-row hash: md5 of `"seed:id"` — the one
    * source of randomness for every operator here. */
  def seededHash(seed: String, id: Column): Column =
    Dedup.tokenHash32(concat_ws(":", lit(seed), id.cast("string")))

  /** Deterministic per-row draw in [0, 10000). */
  def sampleDraw(seed: String, id: Column): Column =
    seededHash(seed, id) % 10000

  /** Append (shard, pos) to `df`: shard = seeded hash mod nShards,
    * pos = rank within the shard by (hash, id). Payload columns ride
    * along; the `h` column is left for callers that order by it and
    * must be dropped before output. */
  private def withShardPos(df: DataFrame, idCol: String, nShards: Int,
      seed: String): DataFrame =
    df.withColumn("h", seededHash(seed, col(idCol)))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard"))
          .orderBy(col("h"), col(idCol))).cast("int"))

  /** Stratified sample with per-stratum rates: keep a row iff its
    * seeded hash draw falls under its stratum's rate. Rates are exact
    * in expectation and the selection is a pure narrow filter —
    * pushes below wide operators and costs no shuffle.
    *
    * @param rates      stratum value → keep rate in [0,1]
    * @param defaultRate rate for strata not in `rates`
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      seed: String): DataFrame = {
    val threshold = rates.foldLeft(lit((defaultRate * 10000).toLong)) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit((rate * 10000).toLong))
          .otherwise(acc)
    }
    df.filter(sampleDraw(seed, col(idCol)) < threshold)
  }

  /** Seeded global shuffle into `nShards` balanced shards: shard =
    * hash mod nShards (balanced in expectation, deterministic), pos =
    * rank within the shard by (hash, id). The output order within a
    * shard IS the training read order — reshuffling an epoch is a new
    * seed, not a new job design.
    *
    * One hash shuffle + per-shard sort; no global sort, no
    * driver-side state. Returns (idCol, shard, pos). */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int,
      seed: String): DataFrame =
    withShardPos(df.select(col(idCol)), idCol, nShards, seed)
      .select(col(idCol), col("shard"), col("pos"))

  /** Materialize a seeded shuffle as sharded training data: every row
    * lands in `outDir/shard=N/` carrying its `pos` (read order within
    * the shard — readers sort by it, cheap inside one shard file).
    * `repartition(shard)` + `sortWithinPartitions` + `partitionBy`
    * means each task writes exactly its shards' rows in order — one
    * shuffle, no global sort, and the layout is reproducible from
    * (corpus, seed, nShards) alone, so a re-run after failure
    * overwrites into the identical file set.
    *
    * All non-id payload columns ride along unchanged. */
  def writeShards(df: DataFrame, idCol: String, nShards: Int,
      seed: String, outDir: String): Unit =
    withShardPos(df, idCol, nShards, seed)
      .drop("h")
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** Train/eval decontamination: for each training document, the number
    * of DISTINCT word-k-gram shingles it shares with the eval corpus
    * (the standard n-gram-overlap test-set-leakage check). Only
    * contaminated documents (n_overlap > 0) are returned — at corpus
    * scale the clean majority would dominate the output for no
    * information.
    *
    * Join keys are xxhash64 values of the shingles — 8-byte longs
    * through the distinct and the join instead of arbitrary-length
    * strings (the d3 lesson: the output is a COUNT of distinct
    * matches, so the hash algorithm is invisible as long as it is
    * collision-free on the corpus slice — ~(1e5)²/2⁶⁴ odds; the
    * DuckDB oracle keeps counting over md5 of the shingle strings and
    * the counts agree, which is itself the collision gate). The eval
    * side is `broadcast()` when `broadcastEval` (eval sets are
    * typically 1e4-1e6 shingles — megabytes); disable for eval
    * corpora that rival the training corpus in size.
    */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, k: Int = 3,
      broadcastEval: Boolean = true): DataFrame = {
    graft.functions.ShinglesImpl.register(train.sparkSession)
    def shingleHashes(df: DataFrame, keys: Column*): DataFrame =
      df.select(keys :+
          explode(expr(s"word_shingles($textCol, $k)")).as("sh"): _*)
        .select(keys :+ xxhash64(col("sh")).as("h"): _*)
        .distinct()
    // eval dedups on h alone — one shuffle, not (id, h) then h
    val ev = shingleHashes(eval)
    shingleHashes(train, col(idCol))
      .join(if (broadcastEval) broadcast(ev) else ev, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Per-source dataset card — the one-pass statistics sheet a
    * training-data release publishes per source/subset (doc and
    * token totals, language inventory with the dominant language,
    * exact token-count quantiles): the corpus-level audit a mixture
    * designer reads before weighting sources (x4/x14 consume exactly
    * these totals).
    *
    * Scale shape: one corpus scan computes row-local token/char
    * counts; the language rollup aggregates to (source, lang) rows —
    * thousands at any corpus size — so its window ranks a TINY frame
    * (never per-doc, the w5/BoundedTopK discipline does not apply);
    * the quantile branch is the only corpus-sized aggregate and
    * Spark's exact percentile buffers (value → count) pairs, bounded
    * by the distinct token-count range, not the corpus. */
  def datasetCard(df: DataFrame, sourceCol: String, textCol: String,
      langCol: String): DataFrame = {
    import graft.functions.TextAnalysis
    val base = df.select(col(sourceCol).as("source"),
      col(langCol).as("lang"),
      TextAnalysis.tokenCount(col(textCol)).as("toks"),
      length(col(textCol)).as("chars"))
    val perLang = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("chars")).as("ch"),
        sum(col("toks")).as("tk"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("lang").asc)
    val rollup = perLang.withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("bigint").as("n_docs"),
        sum(col("ch")).cast("bigint").as("total_chars"),
        sum(col("tk")).cast("bigint").as("total_tokens"),
        count(lit(1)).cast("bigint").as("n_langs"),
        max(when(col("rn") === 1, col("lang"))).as("top_lang"))
    val quant = base.groupBy(col("source"))
      .agg(percentile(col("toks").cast("double"),
        array(lit(0.5), lit(0.9))).as("qs"))
      .select(col("source"), element_at(col("qs"), 1).as("p50_tokens"),
        element_at(col("qs"), 2).as("p90_tokens"))
    rollup.join(quant, "source")
  }

  /** FUZZY decontamination — the near-duplicate completion of
    * [[contamination]]'s exact n-gram check: a train document is
    * dropped when its minhash-LSH banding collides with ANY eval
    * document in some band AND the exact shingle-set Jaccard reaches
    * `threshold`. Exact overlap (d8) catches verbatim inclusion of
    * eval items; this catches the paraphrase/reformat neighborhood a
    * hash match misses (the standard eval-set hygiene pair — e.g.
    * GPT-3's 13-gram dedup plus fuzzy match, Brown et al. 2020 §C,
    * public).
    *
    * Scale shape: the eval side is an EVAL SET — bounded by
    * construction — so its banded frame broadcasts and the train side
    * stays a narrow scan → broadcast-hash join → distinct drop-id
    * shuffle (no bucket caps needed: candidates per train doc ≤
    * bands × colliding eval docs). The exact Jaccard is re-evaluated
    * per colliding band rather than deduplicating (train, eval) pairs
    * first — a ≤`bands`× row-local recompute is cheaper than
    * shuffling shingle arrays to dedupe. The same recall-floor guard
    * as [[Dedup.lshNearDupPairs]] applies: a geometry whose expected
    * recall at `threshold` is below 0.5 throws rather than silently
    * passing contaminated documents.
    *
    * @return surviving train rows. */
  def fuzzyDecontaminate(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, k: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.8): DataFrame = {
    val er = Dedup.minhashExpectedRecall(bands, numHashes / bands,
      threshold)
    require(er >= 0.5,
      f"fuzzyDecontaminate geometry $bands bands x ${numHashes / bands} " +
        f"rows has expected recall $er%.3f at jaccard $threshold%.2f — " +
        "most contaminated docs would silently pass; see " +
        "Dedup.minhashGeometry")
    val tb = Dedup.lshBanded(train, idCol, textCol, k, numHashes, bands)
    val eb = Dedup.lshBanded(eval, idCol, textCol, k, numHashes, bands)
      .select(col("band"), col("bh"), col("sh").as("esh"))
    val drop = tb.join(broadcast(eb), Seq("band", "bh"))
      .filter(Dedup.jaccard(col("sh"), col("esh")) >= threshold)
      .select(col("id")).distinct()
    train.join(drop, train(idCol) === drop("id"), "left_anti")
  }

  /** Pack documents into fixed-token-budget bins ("sequences") for
    * training: documents stream through their shard in seeded-shuffle
    * order and fall into consecutive bins of `budget` tokens — bin =
    * floor(tokens-before-this-doc / budget). A document straddling a
    * boundary stays in the earlier bin (bins overflow by at most one
    * document; the trailing bin of a shard may run short) — the
    * standard contiguous-packing policy, chosen because it needs ONE
    * windowed pass. True first-fit/best-fit packing is a sequential
    * fold per shard and buys only the boundary documents.
    *
    * Plan shape: one hash shuffle (by shard) + one in-shard sort
    * shared by both window functions — the same single-exchange shape
    * as [[shuffleShards]], and the window state is a running sum, O(1)
    * per row. Returns (idCol, n_tokens, shard, bin, pos) where pos is
    * the document's rank inside its bin. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      nShards: Int, budget: Long, seed: String): DataFrame = {
    val h = seededHash(seed, col(idCol))
    val byShard = Window.partitionBy(col("shard"))
      .orderBy(col("h"), col(idCol))
    val before = sum(col("n_tokens")).over(
      byShard.rowsBetween(Window.unboundedPreceding, -1))
    df.select(col(idCol),
        graft.functions.TextAnalysis.tokenCount(col(textCol))
          .cast("long").as("n_tokens"),
        h.as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("bin",
        floor(coalesce(before, lit(0L)) / budget).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"), col("bin"))
          .orderBy(col("h"), col(idCol))).cast("int"))
      .select(col(idCol), col("n_tokens"), col("shard"), col("bin"),
        col("pos"))
  }

  /** Materialized packed sequences: one row per [[packSequences]] bin,
    * with the member documents' token streams concatenated in pack
    * order — the actual training-shard payload, not just the
    * assignment. Documents are joined with a `\n` boundary marker
    * (stand-in for an EOS token id; a real tokenizer slots in at the
    * `textCol` projection without changing the plan).
    *
    * Plan shape: the pack window's single hash exchange (by shard) is
    * the ONLY exchange — the bin aggregation groups on (shard, bin),
    * a superset-clustered key of the window's shard partitioning, so
    * Catalyst plans it exchange-free on the already-sorted stream.
    * The concat state per bin is bounded by `budget` tokens (plus the
    * one straddling document), so aggregation buffers are ~budget
    * bytes, never corpus-sized. In-bin order is made deterministic by
    * sorting the collected (h, id, text) structs, identical to the
    * (h, id) window order.
    *
    * Returns (shard, bin, n_docs, n_tokens, payload). */
  def packedPayloads(df: DataFrame, idCol: String, textCol: String,
      nShards: Int, budget: Long, seed: String): DataFrame = {
    val h = seededHash(seed, col(idCol))
    val byShard = Window.partitionBy(col("shard"))
      .orderBy(col("h"), col("id"))
    val before = sum(col("n_tokens")).over(
      byShard.rowsBetween(Window.unboundedPreceding, -1))
    df.select(col(idCol).as("id"), col(textCol).as("text"),
        graft.functions.TextAnalysis.tokenCount(col(textCol))
          .cast("long").as("n_tokens"),
        h.as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("bin",
        floor(coalesce(before, lit(0L)) / budget).cast("int"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("h"), col("id"),
            col("text")))),
          x => x("text")), "\n").as("payload"))
  }

  /** Write [[packedPayloads]] bins as sharded training data:
    * `outDir/shard=N/` with one row per packed sequence, ordered by
    * bin. Feed the payload frame straight from [[packedPayloads]] —
    * it is already hash-partitioned by shard, so the in-partition
    * sort and partitioned write add NO further exchange. Layout is a
    * pure function of (corpus, seed, nShards, budget): re-runs after
    * failure overwrite into the identical file set. */
  def writePackedShards(payloads: DataFrame, outDir: String): Unit =
    payloads
      .sortWithinPartitions(col("shard"), col("bin"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** Per-document token-repetition statistics (the Gopher-rule family
    * of repetition signals): distinct-token ratio and the mass of the
    * single most frequent token. Formulated RELATIONALLY — explode to
    * (doc, token), partial-agg counts, re-agg per doc — rather than as
    * per-row lambda folds: both aggregations map-side-combine, and the
    * shuffle carries (doc, token, count) triples whose cardinality the
    * vocabulary bounds, so one mega-document cannot blow a task the
    * way building its in-memory token histogram would.
    *
    * Returns (idCol, n_tokens, n_distinct, dup_frac, top_n, top_frac):
    * dup_frac = 1 − n_distinct/n_tokens, top_n = multiplicity of the
    * most repeated token, top_frac = top_n/n_tokens. */
  def repetitionStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        explode(graft.functions.TextAnalysis.tokens(col(textCol)))
          .as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_n"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
          .as("dup_frac"),
        col("top_n"),
        (col("top_n").cast("double") / col("n_tokens")).as("top_frac"))

  /** Temperature-based source-mixing weights: the sampling rate per
    * stratum (source, language, domain) that reshapes the corpus
    * toward share^alpha — alpha = 1 keeps natural proportions,
    * alpha → 0 approaches uniform; 0.3–0.7 is the standard range for
    * up-weighting low-resource strata. Rates are normalized so the
    * most up-weighted stratum samples at 1.0 (no up-sampling, only
    * relative down-sampling); feed them to [[stratifiedSample]].
    *
    * Determinism: token totals are exact longs; per-stratum weights
    * are fixed-point (sqrt-share scaled-floored to a long); and the
    * normalization uses MAX — order-independent — instead of the
    * cross-stratum floating SUM the textbook formula implies (the sum
    * cancels, see below), so rates reproduce bit-for-bit across
    * engines and partitionings.
    *
    * Plan shape: one narrow projection + stratum groupBy (partial
    * aggregated), a single-row global aggregate broadcast back, and
    * pure per-row arithmetic — two tiny shuffles regardless of corpus
    * size. Returns (strataCol, n_docs, n_tokens, share, rate). */
  def mixtureWeights(df: DataFrame, strataCol: String, textCol: String,
      alpha: Double = 0.5,
      scale: Double = 1e9): DataFrame = Iter.scoped { s =>
    // one corpus scan: the totals and max self-joins below would each
    // re-run the scan+agg per branch on the un-materialized plan
    val perStratum = s.materialize(df
      .select(col(strataCol),
        graft.functions.TextAnalysis.tokenCount(col(textCol))
          .cast("long").as("tk"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tokens")))
    // sqrt is IEEE-exact everywhere; pow(x, a) may differ by an ulp
    // between libm implementations, so the default temperature gets
    // the exact path (the fixed-point floor then absorbs sub-ulp
    // noise for other alphas)
    def weight(share: Column): Column = {
      val raw = if (alpha == 0.5) sqrt(share) else pow(share, alpha)
      floor(raw * scale).cast("long")
    }
    val withTotal = perStratum
      .join(broadcast(perStratum.select(
        sum(col("n_tokens")).as("total"))))
      .withColumn("share", col("n_tokens").cast("double") / col("total"))
      .withColumn("w", weight(col("share")))
    // rate_raw = (w/sumW)/share; normalizing by its max cancels sumW,
    // so no cross-stratum floating SUM is ever taken — max is
    // order-independent. Keep the arithmetic EXACTLY mirrored in the
    // oracle SQL.
    withTotal
      .join(broadcast(withTotal.select(
        max(col("w").cast("double") / col("share")).as("max_ws"))))
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        col("share"),
        ((col("w").cast("double") / col("share")) / col("max_ws"))
          .as("rate"))
  }

  /** Materialize [[mixtureWeights]] as one deterministic training
    * EPOCH: every document of the hottest stratum survives (rate 1),
    * cooler strata keep the hash-gated fraction their temperature-
    * scaled rate prescribes — the mixture actually fed to a trainer,
    * not just its weights. The gate is [[sampleDraw]] (seeded md5, no
    * rand()), so the epoch is a pure function of (corpus, seed) on
    * any partitioning or retry, and successive epochs re-seed
    * (`seed = "mix-epoch-N"`) for fresh draws with the same rates.
    *
    * Scale shape: the weights frame is |strata| rows and broadcasts;
    * the epoch itself is a narrow scan + filter — no shuffle beyond
    * mixtureWeights' own bounded aggregation. */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
      textCol: String, seed: String = "mix",
      alpha: Double = 0.5): DataFrame = {
    val rates = mixtureWeights(df, strataCol, textCol, alpha)
      .select(col(strataCol), col("rate"))
    df.join(broadcast(rates), strataCol)
      .filter(sampleDraw(seed, col(idCol)).cast("double") <
        col("rate") * 10000.0)
      .select(col(idCol), col(strataCol))
  }

  /** Corpus-level top-N word k-grams by frequency (vocabulary /
    * boilerplate analysis; also the building block for n-gram LM
    * filtering). Counting is a partial-aggregated groupBy on the
    * shingle string; the top-N cut is a `TakeOrdered` (k·partitions
    * rows to the driver, never the full count table). Ties at the
    * cut break lexicographically, so the result is deterministic. */
  def topNgrams(df: DataFrame, textCol: String, k: Int,
      topN: Int): DataFrame = {
    graft.functions.ShinglesImpl.register(df.sparkSession)
    df.select(explode(expr(s"word_shingles($textCol, $k)")).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(topN)
  }

  /** Cluster-balanced subsample over an embedding column — the
    * SemDeDup/cluster-pruning curation family: assign every vector to
    * its nearest centroid (cosine, ties to the lowest cell) and keep
    * only the `perCell` most central members of each cell, capping
    * every semantic neighborhood's contribution to the training mix
    * regardless of how over-represented it is in the raw corpus.
    * Centroids come from [[Similarity.kmeansCentroids]] in production;
    * any fixed matrix (e.g. a deterministic first-k quantizer) works
    * and keeps the result engine-reproducible.
    *
    * Scale shape: assignment is a narrow map against the broadcast
    * centroid literal (one fused [[graft.functions.CentroidScores]]
    * pass per row, evaluated once — cell and score come out of the
    * same argmax struct); the per-cell cut is a
    * [[graft.functions.BoundedTopK]] partial-agg heap keyed by cell —
    * map-side heaps bound every partition's contribution to
    * `perCell`, so the one shuffle carries at most
    * cells·perCell·partitions slim (cos, id) entries and NEVER a
    * window sort over the corpus. Same tie rule as every top-k here:
    * score DESC, id ASC.
    *
    * @return (cell, vec_id, rank, cen_cos), rank 1-based by
    *         centrality within the cell. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], perCell: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    require(perCell > 0, "perCell must be positive")
    val scores = GraftColumns.column(graft.functions.CentroidScores(
      GraftColumns.expression(col(vecCol)), centroids))
    val assigned = df
      .select(col(idCol).cast("long").as("n_id"),
        array_max(scores).as("best"))
      .select(col("n_id"),
        (-col("best.negid")).cast("int").as("cell"),
        col("best.cos").as("cos"))
    val entry = GraftColumns.expression(struct(col("cos"), col("n_id")))
    val topk = GraftColumns.column(
      graft.functions.BoundedTopK(entry, perCell).toAggregateExpression())
    assigned.groupBy(col("cell")).agg(topk.as("top"))
      .select(col("cell"), posexplode(col("top")))
      .select(col("cell"), col("col.n_id").as("vec_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.cos").as("cen_cos"))
  }

  /** BM25 keyword retrieval: the `topN` documents scoring highest for
    * a bag of query `terms` under Okapi BM25
    * (`idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`,
    * `idf = ln((N−df+0.5)/(df+0.5) + 1)` — the Lucene/+1 form, always
    * ≥ 0). Tokens are whitespace-split verbatim (same convention as
    * [[repetitionStats]]); callers normalize case upstream if needed.
    *
    * Scale shape, in corpus-scan order: ONE tokenizing scan feeds both
    * the per-document length and the term-match explode, and the
    * `isin(terms)` filter runs BEFORE the explode's groupBy — only
    * matching tokens (a vanishing fraction of a 100 TB corpus) ever
    * reach a shuffle. Corpus stats (N, Σdl) partial-aggregate to one
    * row; per-term df aggregates to |terms| rows; both ride back as
    * broadcasts. The final cut is an orderBy+limit — Spark plans
    * TakeOrdered (k·partitions rows to the driver), never a global
    * sort. Scoring sums per-term contributions in the fixed order of
    * `terms` over exact-integer tf/dl/df counts, so the result is
    * bit-deterministic on any partitioning — WITHIN one engine. Across
    * engines the idf's `ln()` differs by ~1 ulp (no libm is correctly
    * rounded), so two docs can swap rank, and a 1-ulp boundary at rank
    * `topN` can select different sets. `scoreScale ≥ 0` makes the cut
    * engine-portable: the score is cast to `decimal(20, scoreScale)`
    * BEFORE the orderBy/limit (and returned as that decimal), so both
    * the ranking and the topN boundary use a value both engines round
    * identically; a cross-engine oracle must apply the same cast in its
    * ORDER BY.
    *
    * Broadcast-size guard: the broadcast sides are `df` per term
    * (|terms| rows) and the 1-row corpus stats — "small dim" only
    * while |terms| stays small. The operator refuses more than
    * [[MaxBm25Terms]] terms: beyond that the `isin` literal bloats the
    * plan and the df broadcast stops being free, and the right layout
    * is a BUCKETED INVERTED INDEX instead — tokenize once, persist
    * `(term, doc_id, dl, tf)` bucketed by term
    * ([[Bucketing.writeBucketed]]), and each query becomes a
    * bucket-pruned scan of just its terms' buckets feeding this same
    * scoring tail. Repeated-query workloads (the common retrieval
    * shape) amortize tokenization entirely that way; this operator is
    * the one-shot/ad-hoc form.
    *
    * @param scoreScale if ≥ 0, rank/cut/return the score as
    *        `decimal(20, scoreScale)` instead of the raw double
    * @return (doc_id, n_hits, score) — `n_hits` = distinct query
    *         terms present; ties break by doc id ascending. */
  /** Query-term ceiling for [[bm25TopK]]: past this, the df/isin
    * "small dim" assumption breaks and a bucketed inverted index is
    * the right layout (see bm25TopK's scaladoc). */
  val MaxBm25Terms: Int = 4096

  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topN: Int,
      k1: Double = 1.2, b: Double = 0.75,
      scoreScale: Int = -1): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "terms must be non-empty and distinct")
    require(terms.size <= MaxBm25Terms,
      s"bm25TopK is the ad-hoc-query form: ${terms.size} terms exceeds " +
        s"$MaxBm25Terms — build a bucketed inverted index instead " +
        "(see scaladoc)")
    val base = df.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")))
    // one row: exact-integer corpus stats (sum-then-divide avgdl, so
    // the double is a single deterministic division, not an
    // order-sensitive running mean)
    val st = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25ScoreTail(tf, st, terms, topN, k1, b, scoreScale)
  }

  /** The shared BM25 scoring tail: per-(doc, term) exact-integer
    * (tf, dl) rows + the 1-row corpus stats → scored topN. df-per-term
    * and corpus stats ride back as broadcasts; the final cut is
    * TakeOrdered. Weights sum in the fixed order of `terms` (a
    * deterministic fold — x + 0.0 == x in IEEE for the finite
    * non-negative weights BM25+1 produces). */
  private def bm25ScoreTail(tf: DataFrame, st: DataFrame,
      terms: Seq[String], topN: Int, k1: Double, b: Double,
      scoreScale: Int): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(st))
      .withColumn("idf", log(
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("w", col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") * col("n_docs")
            / col("sum_dl"))))
    val perTerm = contrib.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_hits"),
      terms.zipWithIndex.map { case (t, i) =>
        max(when(col("term") === t, col("w"))).as(s"_w$i")
      }: _*)
    val rawScore = terms.indices.map(i => coalesce(col(s"_w$i"), lit(0d)))
      .reduce(_ + _)
    val score = if (scoreScale >= 0)
      rawScore.cast(s"decimal(20,$scoreScale)") else rawScore
    perTerm.select(col("doc_id"), col("n_hits"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
  }

  /** Materialize the BM25 INVERTED INDEX [[bm25TopK]]'s scaladoc
    * promises for repeated-query workloads: tokenize the corpus ONCE
    * into `(term, doc_id, dl, tf)` rows written as a table bucketed
    * (and sorted) by term ([[Bucketing.writeBucketed]]), plus the
    * 1-row corpus stats as `<table>_stats`. Each subsequent query
    * then reads ONLY its terms' buckets (Spark prunes buckets for
    * IN-predicates on the bucket column — plan-gated in CurationSpec)
    * and re-enters the same scoring tail, so per-query cost is
    * O(posting lists), not O(corpus): the write-once/query-many
    * economics of every retrieval engine. */
  def buildBm25Index(df: DataFrame, idCol: String, textCol: String,
      table: String, nBuckets: Int = 64): Unit = {
    val base = df.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    Bucketing.writeBucketed(tf, table, "term", nBuckets, Seq("term"))
    Bucketing.dropTableAndLocation(df.sparkSession, s"${table}_stats")
    base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode("overwrite").saveAsTable(s"${table}_stats")
  }

  /** Query a [[buildBm25Index]] index — result-identical to
    * [[bm25TopK]] over the original corpus (the t9 oracle is t8's
    * formula verbatim), with the corpus scan replaced by a
    * bucket-pruned posting-list read. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, terms: Seq[String], topN: Int,
      k1: Double = 1.2, b: Double = 0.75,
      scoreScale: Int = -1): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "terms must be non-empty and distinct")
    val tf = spark.table(table).where(col("term").isin(terms: _*))
    bm25ScoreTail(tf, spark.table(s"${table}_stats"), terms, topN,
      k1, b, scoreScale)
  }

  /** Per-stratum quota cap: keep at most `quota` rows of each
    * `strataCol` value, ranked by `score` DESC with id ASC tie-break —
    * the per-domain/per-source cap every web-scale training mix
    * applies so one over-crawled domain cannot dominate an epoch.
    *
    * Shape: ONE hash shuffle on the stratum plus an in-partition sort
    * (`row_number`), output bounded at quota·|strata| regardless of
    * input size. A whale stratum (one domain = half the corpus) is the
    * classic skew case — AQE splits the sort spill, and because the
    * rank only needs each row's (score, id), the window input can be
    * pre-projected to three slim columns; payloads rejoin on id after
    * the cut when the caller needs them. */
  def quotaCap(df: DataFrame, idCol: String, strataCol: String,
      score: Column, quota: Int): DataFrame =
    df.withColumn("score", score)
      .withColumn("rk", row_number()
        .over(Window.partitionBy(col(strataCol))
          .orderBy(col("score").desc, col(idCol))).cast("int"))
      .filter(col("rk") <= quota)

  /** PII classes redacted by [[redactPii]], in application order:
    * (class, pattern, replacement token). URLs go first so an address
    * inside a link is consumed as one URL, not a URL plus an email.
    * Patterns stay in the Java∩RE2 regex subset so the oracle can run
    * them verbatim. Replacement tokens contain no digits or `@`, so
    * redaction never cascades into a later class. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("url", "https?://[^\\s]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"),
  )

  /** Count of `pattern` matches in `text` (0 when none). */
  private def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("int")

  /** Redact PII from `textCol`: every [[PiiPatterns]] class is counted
    * and then replaced by its token, in order. Returns the input
    * columns plus `n_<class>` counts and `redacted`.
    *
    * This is a pure narrow map — no shuffle, no UDF (codegen'd
    * `regexp_replace`/`regexp_extract_all`), combines with scan
    * pruning; at 100 TB it runs at full scan bandwidth. Counts are
    * taken on the pre-redaction text per class independently, which
    * equals the sequential-redaction counts because no replacement
    * token can match a later pattern. */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val counted = PiiPatterns.foldLeft(df) { case (acc, (name, pat, _)) =>
      acc.withColumn(s"n_$name", piiCount(col(textCol), pat))
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, tok)) => regexp_replace(acc, pat, tok)
    }
    counted.withColumn("redacted", redacted)
  }

  /** Cross-document boilerplate-line removal (the C4/CCNet line-dedup
    * curation step): re-lineate each document into fixed
    * `lineTokens`-token lines, find lines that occur in at least
    * `minDocs` DISTINCT documents (headers, footers, licence blurbs),
    * and rebuild every document without them.
    *
    * Returns one row per document: (id, n_lines, n_dropped,
    * clean_md5) — the md5 of the cleaned text keeps the result slim;
    * callers that need the text itself take the pre-`md5` frame shape.
    *
    * Scale shape: the line table is the only wide state and it is
    * keyed by `xxhash64(line)` — 8-byte keys through the distinct
    * count and the anti-join, never the line strings (the d8 lesson;
    * the oracle counts over the strings themselves, so agreement IS
    * the collision gate). Two shuffles total: line-hash (boilerplate
    * count + anti-join share it) and doc id (reassembly); the
    * boilerplate set is tiny by construction (lines repeated across
    * documents) so the anti-join build side broadcasts. */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
      lineTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    require(lineTokens > 0 && minDocs > 1, "need lineTokens>0, minDocs>1")
    val toks = split(trim(col(textCol)), "\\s+")
    // Column `/` is double division; the +L−1 ceiling stays exact well
    // past any real document, and the cast truncates back to integral
    val nLines = ((size(toks) + lineTokens - 1) / lineTokens).cast("int")
    val lines = graft.util.Tables.fanOut(df, idCol).select(col(idCol),
        posexplode(transform(sequence(lit(0), greatest(nLines, lit(1)) - 1),
          i => array_join(slice(toks, i * lineTokens + 1, lit(lineTokens)), " ")))
          .as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(col("line")))
    val boiler = lines.groupBy(col("lh").as("blh"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("blh"))
    val kept = lines.join(broadcast(boiler), col("lh") === col("blh"),
        "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), " ").as("clean_text"))
    lines.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines").cast("int").as("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0)))
          .cast("int").as("n_dropped"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
  }

  /** ln(2) as a shared literal: both the Spark plan and the DuckDB
    * oracle divide by this exact double, so the base-2 conversion can
    * never disagree the way two engines' `log2` intrinsics can. */
  val Ln2: Double = 0.6931471805599453

  /** Per-document token-level Shannon entropy (vocabulary diversity —
    * the cheap perplexity stand-in quality signal: spam and
    * template-generated text sit far below prose):
    * H = (ln(n) − Σ c·ln(c) / n) / ln2 over per-token counts c.
    *
    * Two partial-aggregated groupBys ((id, token) then id) — the
    * token strings never shuffle beyond the first partial combine.
    * The score is exported as `ent_e6` (decimal-cut H·10⁶ as a long,
    * the t8 pattern) so no raw float reaches a comparison or hash;
    * the e6 cut also absorbs both engines' ~1-ulp `ln` differences
    * and the partition-order float-sum jitter of `Σ c·ln(c)` (error
    * ≤ ~1e-6 at e6 scale for corpus-sized documents, six orders
    * under the rounding step). */
  def tokenEntropy(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_types"),
        sum(col("c")).as("n_tok"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("clog"))
      .select(col(idCol), col("n_types"),
        col("n_tok").cast("bigint").as("n_tokens"),
        (((log(col("n_tok").cast("double")) -
            col("clog") / col("n_tok")) / lit(Ln2))
          .cast("decimal(24,6)") * lit(1000000L).cast("decimal(7,0)"))
          .cast("bigint").as("ent_e6"))

  /** Composite quality-filter pipeline (the C4/Gopher-style rule
    * engine, Raffel et al. 2020 §2.2 / Rae et al. 2021 §A1.1): every
    * document gets a keep/drop verdict plus the FIRST failing rule as
    * an auditable reason code — at corpus scale "why was this dropped"
    * must be answerable from the output, not from a re-run.
    *
    * Rules, in evaluation order (thresholds are corpus-tunable
    * parameters; reasons are stable API):
    *  1. `short`       — fewer than `minWords` whitespace tokens;
    *  2. `unreadable`  — Flesch reading-ease (e6-scaled,
    *                     [[graft.functions.TextAnalysis.fleschScore]])
    *                     below `minFleschE6`;
    *  3. `repetitive`  — duplicate-token fraction 1 − types/tokens
    *                     above `maxDupFrac`;
    *  4. `low_entropy` — token Shannon entropy (e6-scaled) below
    *                     `minEntropyE6`.
    *
    * One narrow scan computes the per-row signals; ONE aggregate
    * branch ([[tokenEntropy]]) yields both the entropy and the
    * duplicate fraction (n_types/n_tokens ride along), so the whole
    * pipeline is two corpus scans and a single id-keyed join — rules
    * 3 and 4 share their shuffle. All cut values cross-engine-exact:
    * integer counts, e6 decimal cuts, and a double ratio of exact
    * integers. */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 20, minFleschE6: Long = 0L,
      maxDupFrac: Double = 0.65, minEntropyE6: Long = 3800000L): DataFrame = {
    import graft.functions.TextAnalysis
    // NULL text coalesces to '' so the doc still gets a verdict
    // ("short") instead of silently vanishing through the entropy
    // join — every input row MUST come out with a reason (the audit
    // contract CurateCli builds on)
    val t = coalesce(col(textCol), lit(""))
    val narrow = df.select(col(idCol),
      TextAnalysis.tokenCount(t).as("n_words"),
      (TextAnalysis.fleschScore(t).cast("decimal(24,6)") *
        lit(1000000L).cast("decimal(7,0)")).cast("bigint").as("flesch_e6"))
    val reason =
      when(col("n_words") < minWords, "short")
        .when(col("flesch_e6") < minFleschE6, "unreadable")
        .when(col("dup_frac") > maxDupFrac, "repetitive")
        .when(col("ent_e6") < minEntropyE6, "low_entropy")
        .otherwise("pass")
    val entropy = tokenEntropy(
      df.select(col(idCol), t.as(textCol)), idCol, textCol)
    narrow.join(entropy, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("flesch_e6"),
        coalesce(lit(1.0) - col("n_types").cast("double") /
          col("n_tokens"), lit(0.0)).as("dup_frac"),
        coalesce(col("ent_e6"), lit(0L)).as("ent_e6"))
      .withColumn("reason", reason)
      .withColumn("keep", col("reason") === "pass")
  }

  /** The Gopher document-quality rule set (Rae et al. 2021,
    * arXiv:2112.11446 Appendix A) — the published heuristic battery a
    * web-scale pretraining pipeline runs BEFORE model-based scoring,
    * complementing [[qualityFilter]] (x11's entropy/readability cut)
    * and the repetition family ([[dupNgramFraction]] x17,
    * x10's in-document n-gram mass):
    *
    *  1. word count within [minWords, maxWords]        (50 … 100 000)
    *  2. mean word length within [3, 10] characters
    *  3. symbol-to-word ratio ≤ 0.1 ('#' and '…'/'...')
    *  4. ≤ 90% of lines start with a bullet ('•', '-', '*')
    *  5. ≤ 30% of lines end with an ellipsis
    *  6. ≥ 80% of words contain at least one alphabetic character
    *  7. ≥ 2 hits of the 8-word English stop list (the "harsh but
    *     effective" English-ID proxy: the, be, to, of, and, that,
    *     have, with)
    *  8. duplicate-LINE fraction ≤ 30% (the document-local half of
    *     Gopher's repetition table; the n-gram halves are x10/x17)
    *
    * Every rule's measured value ships alongside the verdict (the
    * x11 audit contract — a dropped document says WHY), ratios as
    * floor(x·1e6) bigints (the engine-stable cut this round settled
    * on). ENTIRELY row-local: one narrow projection, zero shuffles,
    * the cheapest full-corpus pass there is — at 100 TB this is a
    * map-only scan whose cost is the read itself.
    *
    * Empty/NULL text yields n_words 0 → fails rule 1, never a crash;
    * single-line documents make the line rules trivially pass,
    * matching the reference semantics (they bound LINE structure,
    * which such documents don't have). */
  /** CCNet-style text normalization (Wenzek et al. 2020's
    * `normalize_line`, the preprocessing every hash-based dedup and
    * LM-scoring stage expects): accent stripping (native NFD
    * [[graft.functions.StripAccents]]), lowercasing, digits → 0,
    * ASCII punctuation removal, whitespace collapse + trim — IN THAT
    * ORDER (the order is part of the contract; the oracle replays it
    * literally). Entirely row-local, codegen-fused; at 100 TB this
    * rides whatever scan already touches the text.
    *
    * Composition contract: run dedup fingerprints over
    * `normalizedText` to catch case/accent/digit variants the raw
    * hashes miss — the spec pins exact dedup over the normal form
    * collapsing exactly those variants. */
  def normalizedText(text: Column): Column = {
    val stripped = org.apache.spark.sql.GraftColumns.column(
      graft.functions.StripAccents(
        org.apache.spark.sql.GraftColumns.expression(
          coalesce(text, lit("")))))
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(stripped), "\\d", "0"),
        "\\p{Punct}", ""),
      "\\s+", " "))
  }

  /** Frame form of [[normalizedText]]: (id, norm_text, norm_md5) —
    * the md5 doubles as the normalized-form dedup key. */
  def normalizeText(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), normalizedText(col(textCol)).as("norm_text"))
      .withColumn("norm_md5", md5(col("norm_text")))

  /** CCNet's head/middle/tail perplexity partition (Wenzek et al.
    * 2020 §4.3): score every document with the corpus-trained KN
    * bigram model ([[knBigramScore]]), cut each LANGUAGE at its exact
    * 1/3 and 2/3 cross-entropy quantiles, and label documents
    * head (fluent) / middle / tail (noisy) — the bucketing CCNet uses
    * to keep the head+middle of each language.
    *
    * Scale shape: scoring is t13's token-bound pipeline; the tertile
    * thresholds are a per-language aggregate collapsing to B = 2
    * doubles per language (exact interpolated percentiles, the a13
    * convention — DuckDB's quantile_cont computes the same formula)
    * BROADCAST back, so the labeling pass is a narrow map — no
    * corpus-wide ntile sort, whose single-partition-per-language
    * window would be the naive formulation's wall. Boundary rule:
    * xent ≤ p33 → head, ≤ p67 → middle, else tail (documents AT a
    * threshold take the better bucket). */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = Iter.scoped { s =>
    // NULL languages coalesce to '' so those documents are bucketed
    // within their own stratum instead of silently vanishing through
    // the groupBy/join (the no-rows-vanish convention).
    // Materialized: the scored frame feeds BOTH the quantile branch
    // and the labeling join — left live, the entire KN model build
    // would run twice (measured: 22.5 s vs t13's 15.5 s at sf10 was
    // mostly this). So is the per-document bigram frame it is scored
    // from, which feeds both the model and the scoring join; it is
    // dead once the scores are checkpointed (the scope frees it). `lang`
    // rides knScore's own reattach join (guide §1.2): the former
    // separate id-keyed join of the scored frame against a THIRD
    // corpus scan is gone from the plan.
    val db = s.materialize(knDocBigrams(df, idCol, textCol))
    val scored = s.materialize(knScore(df, db, idCol, KnDiscount,
      carry = Seq("lang" -> coalesce(col(langCol), lit("")))))
    val cuts = scored.groupBy(col("lang"))
      .agg(
        percentile(col("xent_e6"), lit(1.0 / 3)).as("p33"),
        percentile(col("xent_e6"), lit(2.0 / 3)).as("p67"))
    scored.join(broadcast(cuts), "lang")
      .select(col(idCol), col("lang"), col("n_bigrams"), col("xent_e6"),
        when(col("xent_e6").cast("double") <= col("p33"), "head")
          .when(col("xent_e6").cast("double") <= col("p67"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** The C4 line/page rule set (Raffel et al. 2020 §2.2, the
    * Colossal Clean Crawled Corpus filters) — the third published
    * battery beside [[gopherRules]] (x19) and [[qualityFilter]]
    * (x11), line-granular where those are document-granular:
    *
    *  - a LINE is retained iff it ends in a terminal mark — . ! ?
    *    (optionally followed by a closing quote) or a bare closing
    *    double-quote, Raffel et al.'s ('.','?','!','"') — has ≥
    *    `minLineWords` words, and does not contain "javascript"
    *    (case-insensitive);
    *  - the PAGE is dropped when fewer than `minSentences` lines
    *    survive, when "lorem ipsum" appears anywhere, or when it
    *    contains '{' (the paper's code-fragment tell; a lone '}'
    *    does not fire it).
    *    (The paper's dirty-word list is an external artifact; plug it
    *    in upstream as a token filter if licensing allows.)
    *
    * Returns per-document accounting plus the CLEANED text (surviving
    * lines re-joined with newlines) — C4 is a rewrite, not just a
    * verdict. Entirely row-local, zero shuffles. NOTE: corpora
    * without line structure or terminal punctuation (the synthetic
    * oracle tables) degenerate to keep = false everywhere; the
    * crafted-fixture spec carries the real semantics.
    * @return (idCol, n_lines, n_kept_lines, has_lorem, has_brace,
    *          keep, clean_md5) */
  def c4Rules(df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 3, minSentences: Int = 5): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val (lines, keptLines, hasLorem, hasBrace) = c4Cols(t, minLineWords)
    df.select(col(idCol),
        size(lines).cast("bigint").as("n_lines"),
        size(keptLines).cast("bigint").as("n_kept_lines"),
        hasLorem.as("has_lorem"),
        hasBrace.as("has_brace"),
        array_join(keptLines, "\n").as("clean"))
      .withColumn("keep",
        col("n_kept_lines") >= minSentences &&
          !col("has_lorem") && !col("has_brace"))
      .withColumn("clean_md5", md5(col("clean")))
      .drop("clean")
  }

  /** [[c4Rules]]' page verdict as one ROW-LOCAL Column — the
    * streaming form (curateGate's c4 stage): the same line-retention
    * and page-drop expressions, so batch and stream agree by
    * construction. (The gate is verdict-only; the REWRITE half stays
    * a batch concern — a stream stage that rewrote text would change
    * the payload downstream stages fingerprint.) */
  def c4Keep(textCol: String, minLineWords: Int = 3,
      minSentences: Int = 5): Column = {
    val (_, keptLines, hasLorem, hasBrace) =
      c4Cols(coalesce(col(textCol), lit("")), minLineWords)
    size(keptLines) >= minSentences && !hasLorem && !hasBrace
  }

  /** The C4 measurement Columns over one text Column — the single
    * expression tree [[c4Rules]] (batch frame + rewrite) and
    * [[c4Keep]] (streaming gate) both evaluate, so the two forms
    * cannot drift. */
  private def c4Cols(t: Column, minLineWords: Int)
      : (Column, Column, Column, Column) = {
    val lines = filter(transform(split(t, "\n", -1), l => trim(l)),
      l => l =!= "")
    // terminal marks are . ! ? (optionally followed by a closing
    // quote) or a BARE closing double-quote — Raffel et al.'s list is
    // ('.', '?', '!', '"'), so a quote alone terminates a line
    val keptLines = filter(lines, l =>
      l.rlike("([.!?][\"»”’']?|\")$") &&
        size(filter(split(l, "\\s+"), w => w =!= "")) >= minLineWords &&
        !lower(l).contains("javascript"))
    // the paper drops pages containing '{' (the code tell); a lone
    // '}' does not fire the drop
    (lines, keptLines, lower(t).contains("lorem ipsum"),
      t.contains("{"))
  }

  /** The nine Gopher measurement Columns over one text Column —
    * the SINGLE expression tree both [[gopherRules]] (the audited
    * batch frame) and [[gopherKeep]] (the stateless streaming gate)
    * evaluate, so the two forms cannot drift: same tokenization, same
    * floor-e6 cuts, same thresholds. */
  private def gopherCols(t: Column): Seq[(String, Column)] = {
    val toks = filter(split(trim(t), "\\s+"), w => w =!= "")
    val lines = filter(transform(split(t, "\n", -1), l => trim(l)),
      l => l =!= "")
    val stop = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    def e6(x: Column): Column =
      floor(x * lit(1000000.0)).cast("bigint")
    val nW = size(toks).cast("bigint")
    val nL = size(lines).cast("bigint")
    val meanLen = aggregate(toks, lit(0L),
      (acc, w) => acc + length(w).cast("bigint")).cast("double") /
      nW.cast("double")
    val nHash = (length(t) - length(regexp_replace(t, "#", "")))
      .cast("bigint")
    val nEll = ((length(t) - length(regexp_replace(t, "\u2026", "")))
      + (length(regexp_replace(t, "\u2026", "")) -
        length(regexp_replace(regexp_replace(t, "\u2026", ""),
          "\\.\\.\\.", ""))) / 3).cast("bigint")
    val bulletLines = size(filter(lines, l =>
      l.startsWith("\u2022") || l.startsWith("- ") || l.startsWith("* ")))
      .cast("bigint")
    val ellLines = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("\u2026"))).cast("bigint")
    val alphaWords = size(filter(toks, w => w.rlike("[A-Za-z]")))
      .cast("bigint")
    val stopHits = size(filter(toks,
      w => lower(w).isInCollection(stop))).cast("bigint")
    val distinctLines = size(array_distinct(lines)).cast("bigint")
    Seq(
      "n_words" -> nW,
      "mean_word_len_e6" ->
        when(nW > 0, e6(meanLen)).otherwise(lit(0L)),
      // Rae et al. 2021 Appendix A applies the 0.1 symbol-to-word cut
      // to EACH symbol ('#', '…') separately, not to their sum — keep
      // the two ratios as distinct columns so the rule is faithful.
      "hash_ratio_e6" ->
        when(nW > 0, e6(nHash.cast("double") / nW.cast("double")))
          .otherwise(lit(0L)),
      "ellipsis_ratio_e6" ->
        when(nW > 0, e6(nEll.cast("double") / nW.cast("double")))
          .otherwise(lit(0L)),
      "bullet_frac_e6" ->
        when(nL > 0, e6(bulletLines.cast("double") / nL.cast("double")))
          .otherwise(lit(0L)),
      "ellipsis_frac_e6" ->
        when(nL > 0, e6(ellLines.cast("double") / nL.cast("double")))
          .otherwise(lit(0L)),
      "alpha_word_frac_e6" ->
        when(nW > 0, e6(alphaWords.cast("double") / nW.cast("double")))
          .otherwise(lit(0L)),
      "n_stopwords" -> stopHits,
      "dup_line_frac_e6" ->
        when(nL > 0, e6(lit(1.0) -
          distinctLines.cast("double") / nL.cast("double")))
          .otherwise(lit(0L)))
  }

  /** First failing Gopher rule in published order over the measured
    * columns — the x11 audit-reason convention, shared by the batch
    * frame and the streaming gate. Expects the [[gopherCols]] names
    * in scope. */
  private def gopherReason(c: Map[String, Column], minWords: Int,
      maxWords: Int): Column =
    when(c("n_words") < minWords || c("n_words") > maxWords,
      "word_count")
      .when(c("mean_word_len_e6") < 3000000L ||
        c("mean_word_len_e6") > 10000000L, "word_length")
      .when(c("hash_ratio_e6") > 100000L ||
        c("ellipsis_ratio_e6") > 100000L, "symbol_ratio")
      .when(c("bullet_frac_e6") > 900000L, "bullet_lines")
      .when(c("ellipsis_frac_e6") > 300000L, "ellipsis_lines")
      .when(c("alpha_word_frac_e6") < 800000L, "non_alpha_words")
      .when(c("n_stopwords") < 2L, "no_stopwords")
      .when(c("dup_line_frac_e6") > 300000L, "duplicate_lines")
      .otherwise("pass")

  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val cols = gopherCols(coalesce(col(textCol), lit("")))
    val out = df.select(
      (col(idCol) +: cols.map { case (n, c) => c.as(n) }): _*)
    out.withColumn("reason",
        gopherReason(cols.map { case (n, _) => n -> col(n) }.toMap,
          minWords, maxWords))
      .withColumn("keep", col("reason") === "pass")
  }

  /** [[gopherRules]]' verdict as one ROW-LOCAL Column — the streaming
    * form ([[graft.streaming.IngestGate.curateGate]]'s gopher stage):
    * the SAME [[gopherCols]] expression tree inlined, so batch and
    * stream agree by construction. */
  def gopherKeep(textCol: String, minWords: Int = 50,
      maxWords: Int = 100000): Column =
    gopherReason(gopherCols(coalesce(col(textCol), lit(""))).toMap,
      minWords, maxWords) === "pass"

  /** Gopher-style N-GRAM repetition fractions — the char-mass
    * companions to [[repetitionStats]]'s unigram signals (Rae et al.
    * 2021 §A1.1 cut documents on "fraction of characters in the most
    * frequent 2/3/4-gram" and "fraction of characters in duplicated
    * 5..10-grams"; this computes one representative of each family):
    *
    *   - `top{topK}_mass` / `top{topK}_frac`: char mass of the
    *     heaviest word-topK-gram (occurrences × gram length; the
    *     heaviest-by-mass gram, which is tie-free where
    *     most-frequent-by-count is not) over the document's chars.
    *   - `dup{dupK}_mass` / `dup{dupK}_frac`: total chars in all
    *     occurrences of word-dupK-grams appearing more than once
    *     (overlaps counted per occurrence, as in the published
    *     implementations).
    *
    * Single-pass relational shape: BOTH gram sizes ride one explode
    * (a k-marker struct), one (doc, k, gramHash, gramLen) count — the
    * shuffle carries 8-byte xxhash64 gram keys plus their length, not
    * gram strings (the d3 hashing lesson: the output needs only
    * per-gram counts and lengths, so the hash algorithm is invisible;
    * the DuckDB oracle keeps counting over the strings themselves and
    * its agreement is the collision gate) — and one conditional final
    * aggregate per doc. Both aggregates partial-combine, so a
    * mega-document ships its gram VOCABULARY, never a histogram.
    * Shingle semantics are [[graft.functions.ShinglesImpl.shingles]]'
    * (a document shorter than k tokens contributes its whole token
    * sequence as one shingle); the oracle replays them. */
  def ngramRepetitionStats(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 2, dupK: Int = 5): DataFrame = {
    graft.functions.ShinglesImpl.register(df.sparkSession)
    def marked(k: Int): Column =
      transform(expr(s"word_shingles($textCol, $k)"),
        g => struct(lit(k).as("k"), g.as("g")))
    graft.util.Tables.fanOut(df, idCol).select(col(idCol),
        length(col(textCol)).cast("bigint").as("n_chars"),
        explode(concat(marked(topK), marked(dupK))).as("x"))
      .groupBy(col(idCol), col("n_chars"), col("x.k").as("k"),
        xxhash64(col("x.g")).as("h"), length(col("x.g")).as("glen"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col(idCol), col("n_chars"))
      .agg(
        max(when(col("k") === topK, col("n") * col("glen")))
          .cast("bigint").as(s"top${topK}_mass"),
        sum(when(col("k") === dupK && col("n") > 1,
            col("n") * col("glen")).otherwise(lit(0L)))
          .cast("bigint").as(s"dup${dupK}_mass"))
      .select(col(idCol), col("n_chars"),
        col(s"top${topK}_mass"),
        (col(s"top${topK}_mass").cast("double") / col("n_chars"))
          .as(s"top${topK}_frac"),
        col(s"dup${dupK}_mass"),
        (col(s"dup${dupK}_mass").cast("double") / col("n_chars"))
          .as(s"dup${dupK}_frac"))
  }

  /** CROSS-document duplicated n-gram fraction — the corpus-level
    * companion to [[ngramRepetitionStats]]'s intra-document signals
    * (the RefinedWeb/Gopher family also cuts on how much of a
    * document is text that appears ELSEWHERE in the corpus — Penedo
    * et al. 2023 §4.2 strips duplicated spans corpus-wide): for each
    * document, the fraction of its word n-gram occurrences whose
    * n-gram occurs in at least one other document.
    *
    * Scale shape: the explode is corpus-token-bound (the t12/x10
    * budget) but everything after it carries 8-byte hashed gram keys
    * — (doc, gramHash) partial-agg'd counts, a gram-keyed doc-count
    * table filtered to the duplicated minority BEFORE the join back
    * (singleton grams dominate any real corpus, so the join's build
    * side is the small duplicated-gram set, left-joined so absence
    * means unique), and one doc-keyed final agg. Hash collisions can
    * only over-count duplication (two grams colliding makes both look
    * shared); at oracle scale the DuckDB agreement is the collision
    * gate, and the hash width is swappable where 32 bits is too few.
    * Every document is emitted: fewer than n tokens → n_grams 0,
    * frac 0 (the e6 decimal cut, [[tokenEntropy]]'s convention).
    * @return (idCol, n_grams, dup_frac_e6) */
  def dupNgramFraction(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val toks = filter(split(trim(col(textCol)), "\\s+"), w => w =!= "")
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    val g = docs.select(col(idCol), explode(grams).as("gm"))
      .select(col(idCol), Dedup.tokenHash32(col("gm")).as("gh"))
    val perDocGram = g.groupBy(col(idCol), col("gh"))
      .agg(count(lit(1)).as("c"))
    val dup = perDocGram.groupBy(col("gh"))
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("gh"), lit(1).as("isdup"))
    val stats = perDocGram.join(dup, Seq("gh"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("c")).cast("bigint").as("n_grams"),
        sum(when(col("isdup") === 1, col("c")).otherwise(lit(0L)))
          .cast("bigint").as("dup_occ"))
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(
          ((col("dup_occ").cast("double") / col("n_grams").cast("double"))
            .cast("decimal(24,6)") * lit(1000000L).cast("decimal(7,0)"))
            .cast("bigint"),
          lit(0L)).as("dup_frac_e6"))
  }

  /** EXACT duplicated-span stripping — the rewrite half of Lee et
    * al.'s ExactSubstr dedup ([[stripDupSpans]] is the winnowed
    * token-level cousin): remove from each document precisely the
    * character intervals [[graft.operators.Dedup.exactDupSpans]]
    * marks (maximal, non-overlapping, sorted — the run-merge
    * guarantees), keeping everything else byte-for-byte.
    *
    * Plan shape: d20's span pipeline, then the spans collapse to ONE
    * bounded array per affected document (≤ doc-length/minLen
    * entries) joined back LEFT so untouched documents pass through
    * whole; the excision itself is a row-local fold over the sorted
    * interval array (pos carries the copy cursor, each span
    * contributes the gap before it, the finish lambda flushes the
    * tail). No second corpus shuffle beyond d20's own.
    * @return (idCol, n_chars, kept_chars, clean_md5). */
  def stripExactSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 35): DataFrame =
    exciseSpans(docs, idCol, textCol,
      graft.operators.Dedup.exactDupSpans(docs, idCol, textCol, minLen))

  /** KEEP-FIRST exact-span stripping — the C4/Raffel "discard all but
    * one" rewrite: strips only the NON-canonical occurrences
    * ([[graft.operators.Dedup.exactDupSpansKeepFirst]]), so exactly
    * one copy of every duplicated run survives in the corpus, where
    * [[stripExactSpans]] (x23) removes every copy. kept_chars here is
    * therefore ≥ x23's for every document, with equality exactly on
    * documents holding no canonical copy. */
  def stripExactSpansKeepFirst(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int = 35): DataFrame =
    exciseSpans(docs, idCol, textCol,
      graft.operators.Dedup.exactDupSpansKeepFirst(docs, idCol,
        textCol, minLen))

  /** The shared excision tail of the exact-span strip family: remove
    * the given (start, span_len) intervals from each document with a
    * row-local sorted fold, keep everything else byte-for-byte. */
  private def exciseSpans(docs: DataFrame, idCol: String,
      textCol: String, spans: DataFrame): DataFrame =
    exciseSpansText(docs, idCol, textCol, spans)
      .select(col(idCol), col("n_chars"),
        length(col("clean")).cast("bigint").as("kept_chars"),
        md5(col("clean")).as("clean_md5"))

  /** [[exciseSpans]] with the cleaned TEXT kept — (idCol, n_chars,
    * clean) — for rewrite consumers ([[graft.cli.CurateCli]]'s
    * keep-first strip stage) where the digest forms above feed the
    * oracle rows. */
  def exciseSpansText(docs: DataFrame, idCol: String,
      textCol: String, spans: DataFrame): DataFrame = {
    val spanList = spans.groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("start"), col("span_len")))).as("sp"))
    val t = coalesce(col(textCol), lit(""))
    val excised = aggregate(col("sp"),
      struct(lit(1L).as("pos"), lit("").as("sb")),
      (acc, sp) => struct(
        (sp.getField("start") + sp.getField("span_len")).as("pos"),
        concat(acc.getField("sb"),
          t.substr(acc.getField("pos").cast("int"),
            (sp.getField("start") - acc.getField("pos")).cast("int")))
          .as("sb")),
      acc => concat(acc.getField("sb"),
        t.substr(acc.getField("pos").cast("int"), length(t))))
    docs.select(col(idCol), t.as(textCol))
      .join(spanList, Seq(idCol), "left")
      .select(col(idCol),
        length(t).cast("bigint").as("n_chars"),
        when(col("sp").isNull, t).otherwise(excised).as("clean"))
  }

  /** Corpus-wide duplicated-span STRIPPING — the rewrite twin of
    * [[dupNgramFraction]] (which only measures): every word whose
    * position falls inside any n-gram occurring in at least one OTHER
    * document is removed, and the survivors are re-joined in original
    * order (Penedo et al. 2023 §4.2's span removal; Lee et al. 2021's
    * motivation that exact duplicated substrings are the highest-value
    * dedup target).
    *
    * Scale shape: three corpus-token-bound explodes (gram starts,
    * covered-position expansion, token positions) and nothing wider —
    * after each explode only 8-byte keys or (doc, position) pairs
    * shuffle. The duplicated-gram set is reduced to its keys BEFORE
    * the start join (singleton grams dominate, so the probe discards
    * most rows map-side via the join filter), covered positions are
    * deduplicated on (doc, pos) so overlapping duplicated grams cost
    * one row each, and the anti-join + ordered re-assembly are both
    * doc-keyed. Hash collisions can only over-strip (a unique gram
    * colliding with a duplicated one loses its span); the oracle uses
    * the identical 32-bit hash so the cut is deterministic, and the
    * hash width is swappable where 32 bits is too few. Documents with
    * no survivors (or no tokens) are emitted with kept_tokens 0 and
    * empty clean_text — no rows vanish under a rewrite.
    * @return (idCol, n_tokens, kept_tokens, clean_text) */
  def stripDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val toks = filter(split(trim(col(textCol)), "\\s+"), w => w =!= "")
    val tokDocs = docs.select(col(idCol), toks.as("toks"))
    // gram start positions (0-based): i covers tokens i .. i+n-1
    val g = tokDocs
      .select(col(idCol),
        explode(when(size(col("toks")) >= n,
            sequence(lit(0), size(col("toks")) - n))
          .otherwise(array().cast("array<int>"))).as("i"),
        col("toks"))
      .select(col(idCol), col("i"),
        Dedup.tokenHash32(
          array_join(slice(col("toks"), col("i") + 1, lit(n)), " "))
          .as("gh"))
    val dupKeys = g.select(col(idCol), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select(col("gh"))
    val covered = g.join(dupKeys, Seq("gh"))
      .select(col(idCol),
        explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .distinct()
    val tokens = tokDocs
      .select(col(idCol), posexplode(col("toks")).as(Seq("p", "tok")))
    val kept = tokens.join(covered, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("kept_tokens"),
        array_join(transform(
            array_sort(collect_list(struct(col("p"), col("tok")))),
            s => s.getField("tok")), " ").as("clean_text"))
    tokDocs.select(col(idCol), size(col("toks")).cast("bigint")
        .as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Character bigrams of `text`, in stream order: positions
    * 1..max(len-1, 1), each a 2-char substring (a 1-char document
    * yields its single char — the same `greatest(…, 1)` convention as
    * the winnow fingerprints). */
  def charBigrams(text: Column): Column =
    transform(
      sequence(lit(1), greatest(length(text) - 1, lit(1))),
      i => text.substr(i, lit(2)))

  /** Corpus character-bigram language model + per-document
    * cross-entropy — the classic cheap perplexity-style quality signal
    * (the CCNet recipe, Wenzek et al. 2020 §3.3, scores documents with
    * an LM and filters on perplexity; a char-bigram model with Laplace
    * smoothing is its engine-reproducible floor — no trained weights,
    * derived from the corpus itself).
    *
    * Model: P(g) = (c(g)+1) / (N+V) over all corpus bigrams (N total,
    * V distinct). Score: xent(d) = −(1/m)·Σ ln P(gᵢ) over the
    * document's m bigrams, e6-scaled for cross-engine exactness (same
    * decimal-cut convention as [[tokenEntropy]]).
    *
    * Scale shape (100 TB): documents collapse to packed
    * (gram → count) maps in ONE native pass
    * ([[graft.functions.CharBigramCounts]]), so both downstream
    * passes process per-document DISTINCT gram rows — already
    * partially aggregated in-row — instead of one row per bigram
    * occurrence (the round-11 form pushed 2× corpus characters
    * through two Generate stages; the sf10 profile showed the whole
    * query bound by that row volume: 19.9 s → 11.6 s after this
    * rewrite — on THIS corpus the packing ratio is modest because the
    * synthetic docs are ~300 chars over a wide charset (~84% of
    * occurrences are distinct per doc), so most of the measured win
    * is the removed per-output-row HOF re-evaluation; on real
    * multi-KB documents the distinct/occurrence ratio, and the win,
    * grows with document length). The model pass partial-aggregates
    * the ≤V distinct
    * grams per task before the one model shuffle (V is the square of
    * the charset — thousands, independent of corpus size) and
    * broadcasts ln P; the scoring pass joins the counts rows and
    * partial-aggregates straight back to one row per document — the
    * only data-sized shuffle in the whole pipeline carries one row
    * per document.
    *
    * @return (doc_id, n_bigrams, xent_e6) */
  /** Corpus-trained interpolated Kneser–Ney TOKEN-bigram language
    * model + per-document cross-entropy — the token-level sibling of
    * [[charLmScore]] (t12's char-bigram floor) and the classic
    * CCNet-style (Wenzek et al. 2020) perplexity quality signal,
    * reproduced without an external LM toolchain:
    *
    *   P(w₂|w₁) = (max(c(w₁w₂) − D, 0) + D·N₁₊(w₁·)·P_cont(w₂))
    *              / c(w₁·)
    *   P_cont(w₂) = N₁₊(·w₂) / |distinct bigrams|,  D = 0.75
    *
    * (Kneser & Ney 1995; Chen & Goodman 1999's interpolated form.)
    * Self-scoring the training corpus means every context and bigram
    * is observed, so no OOV branch exists — low scores flag documents
    * whose transitions are RARE corpus-wide, the duplication-robust
    * fluency signal.
    *
    * Scale shape: per-document bigram counts explode token-bound
    * (one (doc, w₁, w₂, n) row per DISTINCT in-doc bigram); the model
    * is three partial-aggregated groupBys over the bigram table
    * (bigram, context, continuation) with |bigrams| as Σ N₁₊(w₁·)
    * over the vocabulary-bounded context frame, broadcast back as one
    * row — no extra corpus scan, and never a single-partition pass
    * over the corpus-sized model; scoring is ONE token-bound
    * shuffle join of the doc bigrams against the model (the model is
    * corpus-sized — distinct bigrams — so unlike t12's charset² frame
    * it joins hashed, never broadcast). Documents with < 2 tokens
    * emit n_bigrams 0 / xent 0 (the x17 convention — no rows vanish).
    *
    * xent_e6 = floor(−Σ n·ln P / Σ n · 10⁶): both engines compute the
    * identical double expression tree; per-document sum order differs
    * by ulps that the e6 cut absorbs (the t12 precedent). */
  /** Per-document DISTINCT token-bigram counts (idCol, w1, w2, n) —
    * the shared front of [[knBigramScore]] and [[knGateModel]]. */
  private def knDocBigrams(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = filter(split(trim(coalesce(col(textCol), lit(""))),
      "\\s+"), w => w =!= "")
    df.select(col(idCol), toks.as("tk"))
      .select(col(idCol), explode(when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => struct(element_at(col("tk"), i).as("w1"),
              element_at(col("tk"), i + lit(1)).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
  }

  def knBigramScore(df: DataFrame, idCol: String, textCol: String,
      discount: Double = KnDiscount,
      carry: Seq[(String, Column)] = Nil): DataFrame =
    // the per-document bigram frame feeds BOTH the model aggregation
    // and the scoring join; left live, the tokenize + bigram-explode
    // + partial-agg pass over the corpus runs TWICE per invocation
    // (plan-verified: 3 parquet scans of the corpus in one t13
    // action, two through the explode). Measured trade at sf0.1: a
    // checkpoint job chain costs ~0.5 s flat, so the bare t13 row
    // (one cheap pass) keeps it live, while [[perplexityBuckets]] —
    // whose KN build is the dominant slice of a multi-stage row —
    // checkpoints it and scores through [[knScore]].
    knScore(df, knDocBigrams(df, idCol, textCol), idCol, discount, carry)

  /** The KN discount D t13 and t14 score with. */
  private val KnDiscount = 0.75

  /** [[knBigramScore]] over `db`, the [[knDocBigrams]] frame of `df`. */
  private def knScore(df: DataFrame, db: DataFrame, idCol: String,
      discount: Double, carry: Seq[(String, Column)]): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    val p = knModel(db, discount).select(col("w1"), col("w2"),
      col("lnp"))
    val scored = db.join(p, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("m"),
        sum(col("n").cast("double") * col("lnp")).as("s"))
    // `carry` columns ride the reattach join's left side, so callers
    // needing extra per-document attributes (t14's language) get them
    // for free instead of paying a SECOND corpus scan + id-keyed join
    // against the scored frame (guide §1.2 / §2.4).
    val left = df.select(col(idCol) +:
      carry.map { case (n, c) => c.as(n) }: _*)
    left.join(scored, Seq(idCol), "left")
      .select(col(idCol) +: (carry.map { case (n, _) => col(n) } ++ Seq(
        coalesce(col("m"), lit(0L)).cast("bigint").as("n_bigrams"),
        coalesce(floor(-col("s") / col("m").cast("double") *
          lit(1000000.0)).cast("bigint"), lit(0L)).as("xent_e6"))): _*)
  }

  /** The interpolated-KN model over a [[knDocBigrams]] frame:
    * (w1, w2, cb, lnp) — cb retained so [[knGateModel]] can rank
    * bigrams by corpus count; [[knBigramScore]] drops it. */
  private def knModel(db: DataFrame, discount: Double): DataFrame = {
    val bg = db.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n")).as("cb"))
    val ctx = bg.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cctx"), count(lit(1)).as("nfwd"))
    val cont = bg.groupBy(col("w2")).agg(count(lit(1)).as("nback"))
    // |distinct bigrams| = Σ nfwd over contexts — derived from the
    // vocabulary-bounded ctx frame as a broadcast 1-row cross join.
    // (A single-partition window over bg — the t12 trick — would move
    // the CORPUS-SIZED model through one task; t12 could afford it
    // only because a char-bigram model is charset²-bounded. ctx's
    // aggregation branch re-plans bg, but both branches end in the
    // identical bigram exchange, which physical planning reuses.)
    val b = ctx.agg(sum(col("nfwd")).cast("double").as("b"))
    bg.crossJoin(broadcast(b))
      .join(ctx, "w1")
      .join(cont, "w2")
      .select(col("w1"), col("w2"), col("cb"),
        log((greatest(col("cb").cast("double") - lit(discount), lit(0.0))
          + lit(discount) * col("nfwd").cast("double") *
            (col("nback").cast("double") / col("b")))
          / col("cctx").cast("double")).as("lnp"))
  }

  /** Bounded Kneser–Ney gate model — the shippable artifact of the
    * streaming perplexity gate ([[graft.streaming.IngestGate.knGate]]):
    * the full [[knBigramScore]] model cannot ride an ingest stream
    * (its bigram table is CORPUS-sized), so this keeps the `topN`
    * bigrams by corpus count — carrying their EXACT full-model lnp,
    * the same [[knModel]] expression t13 scores with — plus one
    * unseen-transition backoff `lnUnseen` = min lnp over the WHOLE
    * model, applied to any transition outside the kept set.
    *
    * Contract (the gate's ⊆ guarantee): every dropped or novel
    * bigram's true full-model lnp is ≥ the global minimum, so the
    * gate's per-document cross-entropy is ≥ the full-model score and
    * gate survivors (xent ≤ cut) are a SUBSET of the full-model
    * survivors — bounding the model can only tighten the gate, never
    * leak a low-quality document (spec-measured; equality when topN
    * covers the corpus). Driver-side state is topN rows (two tokens
    * + a double each — size topN against the broadcast budget, ~10⁷
    * entries; beyond that, raise the cut-off or reconcile with the
    * periodic batch t13/t14 pass).
    * @param discount the KN discount D, pinned to t13's default. */
  case class KnGateModel(bigrams: Map[String, Double],
      lnUnseen: Double, discount: Double) {
    /** Lookup key for one transition — the two tokens space-joined
      * (tokens are whitespace-split, so neither can contain a space
      * and the key is unambiguous). */
    def key(w1: String, w2: String): String = w1 + " " + w2
  }

  /** Train a [[KnGateModel]] on a corpus: build the full KN model
    * once (two vocabulary-bounded aggregation passes over the bigram
    * frame — the t13 shape), keep the topN bigrams by
    * (count DESC, w1, w2) — the deterministic total order both the
    * engine and the DuckDB oracle replay — and floor everything else
    * to the model-wide min lnp. */
  def knGateModel(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 100000, discount: Double = 0.75): KnGateModel = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    require(topN > 0, s"topN must be positive, got $topN")
    // the model frame feeds BOTH the top-N cut and the global min —
    // materialized once (the t14 lesson: left live, the whole model
    // build runs twice). The global min rides the checkpoint action
    // as an observed metric (the dupClusters convergence trick), so
    // it costs no separate job re-scanning the model.
    val (top, mn) = Iter.scoped { s =>
      val (p, m) = s.observed(
        knModel(knDocBigrams(df, idCol, textCol), discount),
        Seq(min(col("lnp")).as("mn")))
      (p.orderBy(col("cb").desc, col("w1"), col("w2"))
        .limit(topN)
        .select(col("w1"), col("w2"), col("lnp"))
        .collect(), m) // bounded: topN rows of gate-model state
    }
    require(top.nonEmpty, "knGateModel: corpus has no bigrams")
    val lnUnseen = mn.getDouble(0)
    val m = KnGateModel(Map.empty, lnUnseen, discount)
    m.copy(bigrams = top.map(r =>
      m.key(r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap)
  }

  /** Persist a [[KnGateModel]] as tables — `<table>` holds the
    * (w1, w2, lnp) transitions and `<table>_meta` one row of
    * (ln_unseen, discount): the d14/t9 write-once economics applied
    * to GATE state, so a stream restart loads the artifact instead of
    * re-running the full corpus KN model build (the sf10 train wall
    * is 11 s; the load is a topN-row read). */
  def writeKnGateModel(spark: org.apache.spark.sql.SparkSession,
      model: KnGateModel, table: String): Unit = {
    import spark.implicits._
    // a previous session's location is invisible to this catalog but
    // still fails CTAS (the writeBucketed lesson)
    Bucketing.dropTableAndLocation(spark, table)
    Bucketing.dropTableAndLocation(spark, s"${table}_meta")
    model.bigrams.toSeq
      .map { case (k, lp) =>
        val i = k.indexOf(' ')
        (k.substring(0, i), k.substring(i + 1), lp)
      }
      .toDF("w1", "w2", "lnp")
      .write.mode("overwrite").saveAsTable(table)
    Seq((model.lnUnseen, model.discount))
      .toDF("ln_unseen", "discount")
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Load a [[writeKnGateModel]] artifact — round-trips exactly
    * (spec-pinned): the gate under the loaded model is the gate under
    * the trained one. */
  def loadKnGateModel(spark: org.apache.spark.sql.SparkSession,
      table: String): KnGateModel = {
    val meta = spark.table(s"${table}_meta").head()
    val m = KnGateModel(Map.empty, meta.getDouble(0), meta.getDouble(1))
    m.copy(bigrams = spark.table(table).collect()
      .map(r => m.key(r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap)
  }

  def charLmScore(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    graft.functions.CharLmImpl.register(df.sparkSession)
    // fanOut: the bigram-count expression is the operator's whole cost
    // and single-row-group input would run it on one task (guide §2.5)
    val grams = graft.util.Tables.fanOut(df, idCol).select(col(idCol),
      explode(expr(s"char_bigram_counts($textCol)")).as(Seq("gram", "n")))
    val model = grams.groupBy(col("gram")).agg(sum(col("n")).as("c"))
    // N and V are global aggregates OVER THE MODEL (≤ charset² rows):
    // a single-partition window keeps them in-plan — an .agg branch
    // would re-run the whole bigram count, paying a third corpus scan
    val w = Window.partitionBy(lit(1))
    val lnp = model.select(col("gram"),
      log((col("c").cast("double") + 1.0) /
        (sum(col("c")).over(w) + count(lit(1)).over(w)).cast("double"))
        .as("lnp"))
    grams.join(broadcast(lnp), "gram")
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("m"),
        sum(col("n").cast("double") * col("lnp")).as("s"))
      .select(col(idCol),
        col("m").cast("bigint").as("n_bigrams"),
        ((-col("s") / col("m"))
          .cast("decimal(24,6)") * lit(1000000L).cast("decimal(7,0)"))
          .cast("bigint").as("xent_e6"))
  }

  /** Leakage-safe train/val/test split: every document is assigned by
    * the seeded hash of its duplicate-CLUSTER representative (its own
    * id when unduplicated), so near-duplicate documents always land in
    * the SAME split — the dedup-aware split discipline train/test
    * hygiene demands at corpus scale (splitting by document hash alone
    * leaks every near-dup pair that straddles the cut).
    *
    * `clusters` is [[Dedup.dupClusters]] output (member_id,
    * cluster_id). Buckets: hash mod 10 → 0-7 train, 8 val, 9 test.
    *
    * Scale shape: the cluster table is a vanishing fraction of the
    * corpus (only docs with a near-dup appear), so the join broadcasts
    * when it fits and falls back to an id-keyed shuffle when not;
    * the split itself is a pure per-row hash — no additional shuffle,
    * deterministic on any partitioning or retry.
    *
    * @return (doc_id, group_key, bucket, split) */
  def leakSafeSplit(docs: DataFrame, idCol: String,
      clusters: DataFrame, seed: String = "split"): DataFrame = {
    val c = clusters.select(col("member_id"), col("cluster_id"))
    val keyed = docs.select(col(idCol))
      .join(c, docs(idCol) === c("member_id"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).cast("long")
          .as("group_key"))
    val bucket = (seededHash(seed, col("group_key")) % 10).cast("int")
    keyed.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") <= 7, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
  }

  /** DSIR importance scores (Xie et al. 2023, NeurIPS — "Data
    * Selection for Language Models via Importance Resampling",
    * public): score every raw document by how target-like its hashed
    * n-gram feature distribution is, log w(x) = Σ_b c_x(b)·ln(p_b/q_b)
    * with p/q the Laplace-smoothed target/raw bucket frequencies —
    * the principled replacement for binary quality gates when a small
    * high-quality target corpus defines "good".
    *
    * Scale shape: two corpus passes collapse each side to a ≤`buckets`
    * -row frequency table (hashed-unigram groupBy, partial-aggregated
    * — the md5 bucket hash is the engine-shared [[Dedup.tokenHash32]]
    * so the oracle replays the bucketing literally); the log-ratio
    * table is B rows, broadcast; scoring is (doc, bucket) partial
    * aggregation + one broadcast join + a doc-keyed sum. Nothing
    * wider than 8-byte keys shuffles; the model is O(B) driver state
    * like every weight vector here.
    *
    * @return (idCol, n_tok, logw) for every raw document with ≥1
    *         token — logw > 0 reads "more target-like than raw". */
  /** The hashed n-gram feature windows [[dsirScores]] and the
    * streaming [[graft.streaming.IngestGate.dsirGate]] share: the
    * token array itself for unigrams, space-joined sliding windows
    * for gram > 1 (documents shorter than `gram` tokens yield no
    * features). */
  private[graft] def dsirFeatures(t: Column, gram: Int): Column =
    if (gram == 1) t
    else when(size(t) >= gram,
      transform(sequence(lit(1), size(t) - (gram - 1)),
        i => array_join(slice(t, i, lit(gram)), " ")))
      .otherwise(array().cast("array<string>"))

  /** (doc-optional) hashed-feature bucket rows of `df` under the ds1
    * featurization. */
  private def dsirBucketed(df: DataFrame, textCol: String,
      buckets: Int, gram: Int, cols: Column*): DataFrame =
    // fanOut only for gram > 1 (measured at sf0.1): the sliding-window
    // feature join + per-feature md5 dominates there (ds3 0.61x
    // fanned); unigram features are too cheap to amortize the extra
    // exchange (ds1 regressed 2x fanned)
    (if (gram > 1) graft.util.Tables.fanOut(df, textCol) else df).select(
      (cols :+ explode(dsirFeatures(
        filter(split(trim(col(textCol)), "\\s+"), w => w =!= ""), gram))
        .as("tok")): _*)
      .withColumn("b", Dedup.tokenHash32(col("tok")) % buckets)
      .drop("tok")

  /** The B-row Laplace-smoothed log-ratio table ln(p_b/q_b) over the
    * full bucket spine — the DSIR model's only learned state. */
  private def dsirRatio(raw: DataFrame, target: DataFrame,
      textCol: String, buckets: Int, gram: Int): DataFrame =
    dsirRatioFromCounts(
      dsirBucketed(raw, textCol, buckets, gram)
        .groupBy(col("b")).agg(count(lit(1)).as("rc")),
      dsirBucketed(target, textCol, buckets, gram)
        .groupBy(col("b")).agg(count(lit(1)).as("tc")),
      raw.sparkSession, buckets)

  /** [[dsirRatio]] from prebuilt B-row bucket-count frames — the seam
    * that lets [[dsirScores]] derive `rc` from the SAME (doc, bucket)
    * aggregate it scores with, instead of re-tokenizing the raw
    * corpus. The two totals are bounded driver actions over ≤ B-row
    * frames. */
  private def dsirRatioFromCounts(rc: DataFrame, tc: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      buckets: Int): DataFrame = {
    val tTot = tc.agg(sum(col("tc"))).first().getLong(0).toDouble
    val rTot = rc.agg(sum(col("rc"))).first().getLong(0).toDouble
    val spine = spark.range(buckets).select(col("id").as("b"))
    val p = (coalesce(col("tc"), lit(0L)).cast("double") + lit(1.0)) /
      lit(tTot + buckets)
    val q = (coalesce(col("rc"), lit(0L)).cast("double") + lit(1.0)) /
      lit(rTot + buckets)
    spine.join(tc, Seq("b"), "left").join(rc, Seq("b"), "left")
      .select(col("b"), log(p / q).as("lr"))
  }

  /** Per-document (n_tok, logw) of `raw` against a ratio table —
    * (doc, bucket) partial agg, broadcast ratio join, doc-keyed sum. */
  private def dsirScoreWith(raw: DataFrame, ratio: DataFrame,
      idCol: String, textCol: String, buckets: Int,
      gram: Int): DataFrame =
    dsirBucketed(raw, textCol, buckets, gram, col(idCol))
      .groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(ratio), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).cast("bigint").as("n_tok"),
        sum(col("c").cast("double") * col("lr")).as("logw"))

  def dsirScores(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 256,
      gram: Int = 1): DataFrame = Iter.scoped { s =>
    require(buckets > 0 && gram > 0, "need buckets > 0 and gram > 0")
    // gram > 1: space-joined sliding windows (the DSIR paper defaults
    // to bigrams); documents with fewer than `gram` tokens contribute
    // no features and drop out of the scored frame on both engines.
    //
    // ONE raw tokenize+hash pass, not three (measured: before this the
    // raw corpus was featurized once for rc inside the ratio's two
    // total actions, again when the final action re-derived rc — the
    // totals' first() calls cache nothing — and again for scoring):
    // the (doc, bucket, count) aggregate is materialized ONCE and
    // BOTH `rc` (a B-row re-aggregation of it) and the scoring join
    // read the checkpoint. Its size is ≤ min(doc tokens, B) rows per
    // document — the same bytes the scoring shuffle already moves, so
    // the checkpoint adds no new scale ceiling. The target side is
    // featurized once (its B-row count frame is materialized before
    // the totals action re-runs it).
    val rawB = s.materialize(
      dsirBucketed(raw, textCol, buckets, gram, col(idCol))
        .groupBy(col(idCol), col("b"))
        .agg(count(lit(1)).as("c")))
    val tc = s.materialize(
      dsirBucketed(target, textCol, buckets, gram)
        .groupBy(col("b")).agg(count(lit(1)).as("tc")))
    val ratio = dsirRatioFromCounts(
      rawB.groupBy(col("b")).agg(sum(col("c")).as("rc")),
      tc, raw.sparkSession, buckets)
    rawB.join(broadcast(ratio), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).cast("bigint").as("n_tok"),
        sum(col("c").cast("double") * col("lr")).as("logw"))
  }

  /** DSIR resampling epoch: [[dsirScores]] materialized as a
    * deterministic keep/drop per raw document, acceptance rate
    * exp(logw − max logw) ≤ 1 (self-normalized importance weights)
    * against the seeded md5 draw — [[mixtureSample]]'s gate applied
    * to the importance model, so the epoch is reproducible on any
    * engine, partitioning, or retry. The max is one extra scalar agg
    * over the score frame (bounded driver state). */
  def dsirResample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 256,
      seed: String = "dsir"): DataFrame = Iter.scoped { s =>
    // materialized: the score frame feeds the max action AND the final
    // keep/drop projection — left live, the scoring join and doc-keyed
    // aggregation would run twice (the perplexityBuckets lesson; the
    // frame is three narrow columns per raw document)
    val scores = s.materialize(
      dsirScores(raw, target, idCol, textCol, buckets))
    val mx = scores.agg(max(col("logw"))).first().getDouble(0)
    scores.select(col(idCol), col("n_tok"),
      (sampleDraw(seed, col(idCol)).cast("double") <
        exp(col("logw") - lit(mx)) * lit(10000.0)).as("keep"))
  }

  /** The [[dsirScores]] model as bounded driver state, for shipping
    * into a stateless stream projection
    * ([[graft.streaming.IngestGate.dsirGate]]) as plan literals —
    * the LogReg-weights convention applied to the importance model:
    * per-bucket log-ratios ln(p_b/q_b) (B doubles) plus the raw
    * corpus's max log-weight (the self-normalization constant of the
    * epoch, so stream acceptance rates match the batch epoch's).
    * Fitting is the two frequency passes of [[dsirScores]] plus one
    * scoring pass for the max — all offline, on the lake. */
  case class DsirModel(buckets: Int, gram: Int, seed: String,
      logRatios: Array[Double], maxLogw: Double)

  def dsirModel(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 256, gram: Int = 1,
      seed: String = "dsir"): DsirModel = Iter.scoped { s =>
    require(buckets > 0 && gram > 0, "need buckets > 0 and gram > 0")
    val ratio = s.materialize(
      dsirRatio(raw, target, textCol, buckets, gram))
    val mx = dsirScoreWith(ratio = ratio, raw = raw, idCol = idCol,
        textCol = textCol, buckets = buckets, gram = gram)
      .agg(max(col("logw"))).first().getDouble(0)
    val lr = new Array[Double](buckets)
    ratio.collect().foreach(r => lr(r.getLong(0).toInt) = r.getDouble(1))
    DsirModel(buckets, gram, seed, lr, mx)
  }

  /** Population-stability-index drift monitor between two corpus
    * slices (the standard credit-scoring PSI applied to pipeline
    * telemetry: did this week's ingest move the length / quality /
    * score distribution?). Inputs carry a precomputed integer
    * `bucketCol` in [0, nBuckets); output is one row per bucket with
    * both counts and the PSI term
    * (p − q)·ln(p/q), p/q Laplace-smoothed as (c+1)/(n+B) so empty
    * buckets are defined and the formula is one fixed operand order
    * both engines share. Σ psi over buckets is the headline number
    * (< 0.1 stable, > 0.25 investigate — the industry rule of thumb).
    *
    * Scale shape: one partial-aggregated groupBy per slice (B-row
    * outputs), a broadcast join against the static bucket spine, and
    * two driver-side counts — nothing corpus-sized ever shuffles. */
  def driftPsi(ref: DataFrame, cur: DataFrame, bucketCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "need nBuckets > 0")
    val spark = ref.sparkSession
    // enforce the precondition instead of assuming it: rows whose
    // bucket is null or outside [0, nBuckets) would inflate the
    // totals while joining to no bucket row, silently deflating every
    // p/q — drop them from BOTH the counts and the totals
    def inRange(df: DataFrame): DataFrame = df
      .select(col(bucketCol).cast("int").as("bucket"))
      .filter(col("bucket").isNotNull && col("bucket") >= 0 &&
        col("bucket") < nBuckets)
    val r = inRange(ref)
    val c = inRange(cur)
    val refTotal = r.count().toDouble
    val curTotal = c.count().toDouble
    require(refTotal > 0 && curTotal > 0, "both slices must be non-empty")
    val rc = r.groupBy(col("bucket")).agg(count(lit(1)).as("ref_n"))
    val cc = c.groupBy(col("bucket")).agg(count(lit(1)).as("cur_n"))
    val spine = spark.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    val q = (coalesce(col("ref_n"), lit(0L)).cast("double") + lit(1.0)) /
      lit(refTotal + nBuckets)
    val p = (coalesce(col("cur_n"), lit(0L)).cast("double") + lit(1.0)) /
      lit(curTotal + nBuckets)
    spine.join(rc, Seq("bucket"), "left")
      .join(cc, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"),
        ((p - q) * log(p / q)).as("psi"))
  }

  /** Concat-and-chunk layout (the GPT-style pretraining layout:
    * concatenate every document's token stream in a fixed global
    * order, then cut into `seqLen`-token training sequences).
    * Complements [[packSequences]] (greedy whole-document bin packing
    * into capped per-shard bins) with the OTHER layout trainers use.
    * Emits, per document, its exact token-range in that virtual
    * stream: global token `offset`, and the first/last training
    * chunk it lands in — the manifest a sharded tokenizer-writer
    * needs to place every document without ever materializing the
    * concatenation.
    *
    * The global order is (`bucketCol` ASC, `idCol` ASC); callers pass
    * a bucket expression that is order-preserving over ids (an id
    * prefix, a date, a shard number), which is what makes the prefix
    * sum distributable: the big window partitions BY BUCKET (parallel
    * across buckets, one shuffle), and only the per-bucket totals —
    * one row per bucket — pass through the ordered bucket-base window
    * before broadcasting back. A naive `Window.orderBy(id)` computes
    * the same offsets through ONE task holding the whole corpus; this
    * shape is the standard two-phase scan (local prefix + exclusive
    * base), all in DataFrame ops.
    *
    * Zero-token documents get `chunk_first = chunk_last = offset's
    * chunk` and contribute nothing to the stream.
    *
    * @param nCol token-count column (bigint-castable)
    * @return (id, n_tokens, offset, chunk_first, chunk_last) */
  def concatChunkOffsets(df: DataFrame, idCol: String, nCol: String,
      bucketCol: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val base = df.select(col(idCol), col(nCol).cast("bigint").as("n"),
      bucketCol.cast("bigint").as("bkt"))
    val inBkt = base.withColumn("loc_end",
      sum(col("n")).over(Window.partitionBy(col("bkt"))
        .orderBy(col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // one row per bucket; the ordered window runs over this tiny frame
    val bktBase = base.groupBy(col("bkt")).agg(sum(col("n")).as("tot"))
      .withColumn("base",
        coalesce(sum(col("tot")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("base"))
    inBkt.join(broadcast(bktBase), Seq("bkt"))
      .select(col(idCol), col("n").as("n_tokens"),
        (col("base") + col("loc_end") - col("n")).as("offset"))
      .withColumn("chunk_first",
        expr(s"`offset` div ${seqLen.toLong}"))
      .withColumn("chunk_last",
        when(col("n_tokens") > 0,
          expr(s"(`offset` + n_tokens - 1) div ${seqLen.toLong}"))
          .otherwise(col("chunk_first")))
  }
}

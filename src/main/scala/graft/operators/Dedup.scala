package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.util.Iter

/** Document deduplication for large-scale training-data pipelines:
  * exact (content-hash), MinHash+LSH near-dup, SimHash fingerprints and
  * n-gram Jaccard verification.
  *
  * Scale design (the point is 100 TB, not the local test tables):
  *  - exact dedup is one hash-shuffle on a 32-byte key;
  *  - MinHash/LSH never materializes the O(n²) pair space — candidate
  *    generation is an equi-join on (band, bandHash), so the shuffle is
  *    keyed by band buckets and only colliding documents meet;
  *  - all hashing is md5-based (deterministic across runs/engines — the
  *    minhash uses the *lexicographic* min of seeded md5 hex digests,
  *    which is a valid uniform min-hash and reproducible anywhere);
  *  - everything is built from codegen'd built-ins — no UDFs on the hot
  *    path, so whole-stage codegen spans the full pipeline up to the
  *    pair join.
  */
object Dedup {

  /** Word k-gram shingles over whitespace tokens; a document shorter than
    * k tokens contributes its whole token sequence as one shingle.
    *
    * HOF formulation, usable without a session. Performance-sensitive
    * pipelines use the semantically identical native expression
    * `word_shingles` ([[graft.functions.WordShingles]]) instead:
    * interpreted HOFs feeding an explode get re-evaluated per output
    * row (see the WordShingles scaladoc). */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    transform(
      sequence(lit(1), greatest(size(toks) - lit(k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k))))
  }

  /** Prime modulus for the universal-hash MinHash family (2^31 − 1). */
  val MinhashP: Long = 2147483647L

  /** Seed pair (aᵢ, bᵢ) of the i-th universal hash hᵢ(x) = (aᵢ·x + bᵢ) mod p.
    * aᵢ·x stays < 2^62 because both factors are reduced mod p first, so the
    * arithmetic is exact in int64 — reproducible in any engine. */
  def minhashSeeds(i: Int): (Long, Long) =
    ((1L + i.toLong * 2654435761L) % MinhashP, (7L + i.toLong * 40503L) % MinhashP)

  /** md5-derived base hashes of a shingle array, reduced mod [[MinhashP]].
    *
    * IMPORTANT: project this into its own column (`withColumn`) before
    * feeding it to [[minhashSigFromHashes]]. Column expressions are trees:
    * inlining this under each of the `numHashes` signature elements would
    * run the md5 `numHashes`× per shingle. As a separate projection,
    * Catalyst's CollapseProject keeps it materialized once (it refuses to
    * duplicate non-cheap expressions referenced more than once). Measured
    * 9× faster end-to-end on the LSH pipeline. */
  def baseHashes(shingleSet: Column): Column =
    transform(shingleSet, s => tokenHash32(s) % MinhashP)

  /** MinHash signature (array of `numHashes` longs) from pre-projected
    * base hashes: the universal-hash family permutes each base hash
    * arithmetically — one md5 per shingle total, not per signature row. */
  def minhashSigFromHashes(hashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      val (a, b) = minhashSeeds(i)
      array_min(transform(hashes, h => (h * a + b) % MinhashP))
    }: _*)

  /** Convenience one-shot signature; prefer projecting [[baseHashes]]
    * first in performance-sensitive pipelines (see [[baseHashes]] note). */
  def minhashSig(shingleSet: Column, numHashes: Int): Column =
    minhashSigFromHashes(baseHashes(shingleSet), numHashes)

  /** LSH band digests: bands of `rows` consecutive signature elements,
    * hashed. Two documents are candidates iff some band digest collides. */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { j =>
      md5(array_join(transform(slice(sig, j * rows + 1, rows),
        _.cast("string")), "|"))
    }: _*)

  /** Jaccard similarity of two shingle arrays. `array_intersect` and
    * `array_union` dedup internally, so the inputs need not be distinct —
    * deliberately: an upstream `array_distinct` would cost O(n²) string
    * compares per document for no semantic gain (MinHash over a multiset
    * equals MinHash over its set for the same reason). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact deduplication: group by content hash, keep the smallest id as
    * canonical. Returns (text_hash, canonical_id, n_dups). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * Skew contract: LSH keeps buckets small for NEAR-duplicates, but
    * EXACT duplicates collide in every band — a corpus with 10k copies
    * of one document would put all 10k in a single bucket and make the
    * pair expansion quadratic in one task. Run [[exact]] first and feed
    * only canonical documents here (the intended pipeline for
    * duplicate-heavy corpora); as a backstop, buckets larger than
    * `maxBucket` are dropped rather than expanded, and the drop is
    * surfaced as a named observed metric `lsh_bucket_overflow`
    * (columns `overflow_buckets`, `overflow_docs` — readable from a
    * `QueryExecutionListener` / `Observation`, zero extra scan). A
    * dropped bucket loses only pairs whose members co-occur in NO other
    * sub-`maxBucket` band bucket — overwhelmingly mass-duplicates that
    * exact-dedup-first already collapses.
    *
    * Recall honesty (mirrors the embedding LSH's plan-time guard): a
    * pair at exactly jaccard `threshold` collides in one band with
    * probability `threshold^(numHashes/bands)`, so expected recall is
    * `1 − (1 − t^r)^b` ([[minhashExpectedRecall]]) — the default
    * 4 bands × 4 rows gives 0.88 at t = 0.8. A geometry whose floor at
    * the threshold is below 0.5 is refused rather than silently
    * missing most true pairs; [[minhashGeometry]] sizes (bands, rows)
    * for a target recall.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8, maxBucket: Int = 1024): DataFrame = {
    val er = minhashExpectedRecall(bands, numHashes / bands, threshold)
    require(er >= 0.5,
      f"minhash-LSH geometry $bands bands x ${numHashes / bands} rows has " +
        f"expected recall $er%.3f at jaccard $threshold%.2f — most true " +
        "pairs would be silently missed; see Dedup.minhashGeometry")
    boundedBucketPairs(lshBanded(df, idCol, textCol, k, numHashes, bands),
      Seq(col("band"), col("bh")), maxBucket,
      "lsh_bucket_overflow", jaccard, _ >= threshold, "jaccard")
  }

  /** Expected recall of a (bands × rowsPerBand) minhash banding for a
    * pair at exactly jaccard `s`: `1 − (1 − s^rows)^bands`. Pairs
    * above the threshold do better; this is the guaranteed floor. */
  def minhashExpectedRecall(bands: Int, rows: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Size a minhash banding for target recall at a jaccard threshold:
    * for each rows-per-band choice the band count follows from the
    * recall formula; pick the cheapest total signature length. More
    * rows per band = sharper threshold (fewer sub-threshold
    * candidates) but more bands to hold recall. This overload has no
    * corpus-size term — random pairs collide at ~s^r per band, not
    * n/2^bits — but s^r is only NEGLIGIBLE when r outgrows the
    * corpus: at fixed r, background-similarity collisions grow with
    * n² and the in-bucket expansion quadratically; the n-aware
    * overload grows r with log n to bound them. */
  def minhashGeometry(threshold: Double, targetRecall: Double = 0.9,
      maxRows: Int = 8, maxBands: Int = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"jaccard threshold in (0,1)")
    val options = for {
      r <- 1 to maxRows
      perBand = math.pow(threshold, r)
      b = math.ceil(math.log1p(-targetRecall) / math.log1p(-perBand)).toInt
      if b >= 1 && b <= maxBands
    } yield (b, r)
    require(options.nonEmpty,
      s"no (bands<=$maxBands, rows<=$maxRows) holds recall $targetRecall " +
        s"at jaccard $threshold")
    // sharpest affordable threshold: the LARGEST rows-per-band whose
    // band count fits — small r would be cheaper in hashes but floods
    // the buckets with sub-threshold candidates (a pair at jaccard 0.3
    // collides with p=0.51 under 2 bands x 1 row)
    options.maxBy(_._2)
  }

  /** Corpus-size-aware minhash banding — the text analog of
    * [[graft.operators.Similarity.rhpGeometry]]. A pair at BACKGROUND
    * jaccard `bgJaccard` (the corpus's typical unrelated-pair
    * similarity: shared stopword shingles, boilerplate) collides in one
    * band with probability `bgJaccard^rows`, so each document expects
    * `n · bgJaccard^rows` background colliders per band. Fixed rows at
    * growing n is linear bucket population and QUADRATIC in-bucket pair
    * expansion — the measured d3 scale-killer (9.9× wall per 10× data
    * at sf10 under the fixed 4×4 banding). Growing rows with log n
    * holds colliders-per-doc at `targetBucket`, exactly as rhpGeometry
    * grows bits to hold `n / 2^bits`:
    * `rows ≥ ln(n/targetBucket) / ln(1/bgJaccard)`. Bands then grow per
    * the recall formula to hold `targetRecall` at the TRUE-pair
    * threshold (what rows-growth cannot do — and what it does not need
    * to do — is split buckets of genuine near-duplicates; that remains
    * the exact-dedup-first contract documented on [[lshNearDupPairs]]).
    *
    * `minRows = 4` keeps small corpora on the classic sharp banding;
    * at n = 500 (the sf0.01 oracle scale) this yields (5 bands, 4
    * rows) — the geometry the DuckDB mirror embeds.
    *
    * @return (bands, rowsPerBand); signature length = bands · rows. */
  def minhashGeometry(n: Long, threshold: Double, targetRecall: Double,
      targetBucket: Int, bgJaccard: Double, minRows: Int,
      maxRows: Int, maxBands: Int): (Int, Int) = {
    require(n > 0, "empty corpus has no geometry")
    require(bgJaccard > 0 && bgJaccard < threshold,
      "background jaccard must sit below the near-dup threshold")
    val sized = math.ceil(
      math.log(n.toDouble / targetBucket) / math.log(1.0 / bgJaccard)).toInt
    val rows = math.min(maxRows, math.max(minRows, sized))
    val perBand = math.pow(threshold, rows)
    val bands = math.min(maxBands, math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-perBand)).toInt))
    (bands, rows)
  }

  /** [[minhashGeometry]] with the defaults the d3 path uses. */
  def minhashGeometry(n: Long, threshold: Double): (Int, Int) =
    minhashGeometry(n, threshold, targetRecall = 0.9, targetBucket = 32,
      bgJaccard = 0.1, minRows = 4, maxRows = 16, maxBands = 64)

  /** [[lshNearDupPairs]] with the banding auto-sized for the corpus via
    * the n-aware [[minhashGeometry]] — one cheap count-star pre-job
    * (parquet metadata), mirroring d6's embedding-LSH auto-sizing. */
  def lshNearDupPairsSized(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8,
      maxBucket: Int = 1024): DataFrame = {
    val (bands, rows) = minhashGeometry(df.count(), threshold)
    lshNearDupPairs(df, idCol, textCol, k,
      numHashes = bands * rows, bands = bands, threshold = threshold,
      maxBucket = maxBucket)
  }

  /** (id, sh, band, bh) banding frame shared by [[lshNearDupPairs]] and
    * [[lshBucketOverflow]]. */
  private[operators] def lshBanded(df: DataFrame, idCol: String,
      textCol: String, k: Int, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    // shingles + signatures via the native codegen'd expressions (tight
    // JVM loops; interpreted HOFs here would be re-evaluated per explode
    // output row — graft.functions.{WordShingles, MinHashSignature})
    graft.functions.MinHashImpl.register(df.sparkSession)
    graft.functions.ShinglesImpl.register(df.sparkSession)
    // Shingle sets ride along through the band join so the pair jaccard
    // needs no join-back (2 fewer shuffles, base computed once per side).
    // They ride as 64-bit xxhash64 values, not strings: jaccard over
    // hashed sets equals jaccard over the strings (the hash is
    // injective on any realistic corpus slice — ~300²/2⁶⁴ cross-
    // collision odds per pair), the bucket payload shrinks ~3×, and
    // array_intersect compares longs instead of hashing UTF8 strings
    // per probe. The DuckDB oracle keeps verifying over the strings —
    // same scores, so the hash-exact gate still applies.
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("shs", expr(s"word_shingles(text, $k)"))
      .withColumn("sig", expr(s"minhash_sig(shs, $numHashes)"))
      .select(col("id"), transform(col("shs"), xxhash64(_)).as("sh"),
        posexplode(bandHashes(col("sig"), bands, rows)).as(Seq("band", "bh")))
  }

  /** N-gram Jaccard near-duplicate pairs (d5): candidates block on the
    * MINIMUM shingle hash — a single-hash MinHash, so two documents
    * with Jaccard J share their block with probability J, which at the
    * high thresholds this operator targets (0.7+) makes collision all
    * but certain — then each candidate pair verifies with the exact
    * shingle-set Jaccard. Cheaper than full MinHash+LSH (no signature
    * computation, one block per document instead of `bands`) at the
    * cost of recall for lower thresholds; [[lshNearDupPairs]] is the
    * tool there. Same scale shape: one corpus pass, one shuffle keyed
    * by block, bounded buckets with an observed overflow metric, no
    * self-join. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.7,
      maxBucket: Int = 1024): DataFrame = {
    graft.functions.ShinglesImpl.register(df.sparkSession)
    // shingles ride as xxhash64 longs, not strings — see the
    // lshBanded rationale (same scores, ~3× smaller payloads)
    val blocked = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("shs", expr(s"word_shingles(text, $k)"))
      .withColumn("bh", array_min(baseHashes(col("shs"))))
      .select(col("id"), transform(col("shs"), xxhash64(_)).as("sh"),
        col("bh"))
    boundedBucketPairs(blocked, Seq(col("bh")), maxBucket,
      "jaccard_bucket_overflow", jaccard, _ >= threshold, "jaccard")
  }

  /** Bucket-expand instead of self-join: group (id, sh) rows by the
    * bucket key and emit in-bucket pairs with a nested-array
    * comprehension. One pass over the corpus and one shuffle keyed by
    * bucket — a self-join would run the whole upstream pipeline once
    * per side because Spark cannot reuse exchanges under lambda
    * expressions (their canonicalized plans never compare equal).
    * The bucket collection is BOUNDED, not just the expansion: a plain
    * collect_list would buffer a mass-duplicate bucket in full (10M
    * copies of one doc = one 10 GB aggregation buffer) before any size
    * filter could drop it. BoundedTopK with a constant score keeps the
    * first maxBucket+1 members by id — O(maxBucket) state per bucket at
    * every stage including the map-side partial — and the exact member
    * count rides along separately for overflow accounting, surfaced as
    * the named observed metric `metricName` (columns `overflow_buckets`,
    * `overflow_docs`). The observed metric is BEST-EFFORT under AQE:
    * when an intermediate stage materializes empty (e.g. EVERY bucket
    * overflowed and zero pairs survive), adaptive empty-relation
    * propagation can fold away the already-executed CollectMetrics
    * node and the metric never reaches the listener (measured on
    * Spark 4.1.2; delivery is reliable whenever any pair survives, and
    * always with AQE off). [[lshBucketOverflow]] is the guaranteed
    * audit for exactly that all-overflow case.
    *
    * The exact Jaccard verify runs INSIDE the pair-expansion lambda and
    * sub-threshold candidates are filtered there, so a candidate leaves
    * the bucket as (id_a, id_b, jaccard) — 2 longs + 1 double. The
    * first cut emitted (sh_a, sh_b) per candidate — two full shingle
    * sets — and verified after the cross-bucket dedup shuffle; at sf1
    * that shuffled ~4 KB per candidate at a candidate count that grows
    * superlinearly for single-hash blocking (d5: 27× time at 10× data;
    * this shape: ~5×). Returns (id_a, id_b, <scoreName>), id_a < id_b,
    * only candidates passing `keep(score)`, deduplicated across
    * buckets. `score` compares the two members' `sh` payloads (shingle
    * sets for jaccard, fingerprint longs for hamming). */
  private def boundedBucketPairs(buckets: DataFrame, keys: Seq[Column],
      maxBucket: Int, metricName: String,
      score: (Column, Column) => Column, keep: Column => Column,
      scoreName: String): DataFrame = {
    val bucketCap = org.apache.spark.sql.GraftColumns.column(
      graft.functions.BoundedTopK(
        org.apache.spark.sql.GraftColumns.expression(
          struct(lit(0.0).as("s"), col("id"), col("sh"))),
        maxBucket + 1).toAggregateExpression())
    buckets
      .groupBy(keys: _*)
      .agg(bucketCap.as("xs"), count(lit(1)).as("n"))
      .observe(metricName,
        sum(when(col("n") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("overflow_buckets"),
        sum(when(col("n") > maxBucket, col("n")).otherwise(lit(0L)))
          .as("overflow_docs"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select(explode(flatten(transform(col("xs"), (x, i) =>
        filter(
          transform(slice(col("xs"), i + lit(2), size(col("xs"))), y =>
            struct(
              least(x("id"), y("id")).as("id_a"),
              greatest(x("id"), y("id")).as("id_b"),
              score(x("sh"), y("sh")).as(scoreName))),
          p => keep(p(scoreName))))))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"), col(s"p.$scoreName"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact bucket-overflow audit: one row of (overflow_buckets,
    * overflow_docs) for a blocking frame, as the RESULT of its own
    * aggregation — immune to the AQE metric-folding caveat on
    * [[boundedBucketPairs]]'s zero-cost observed metric, at the price
    * of re-running the blocking scan. Run it when the observed metric
    * did not arrive or the pair output is suspiciously empty. */
  private def bucketOverflow(buckets: DataFrame, keys: Seq[Column],
      maxBucket: Int): DataFrame =
    buckets.groupBy(keys: _*).agg(count(lit(1)).as("n"))
      .agg(
        sum(when(col("n") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("overflow_buckets"),
        sum(when(col("n") > maxBucket, col("n")).otherwise(lit(0L)))
          .as("overflow_docs"))

  /** [[bucketOverflow]] audit for [[lshNearDupPairs]]'s banding. */
  def lshBucketOverflow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucket: Int = 1024): DataFrame =
    bucketOverflow(lshBanded(df, idCol, textCol, k, numHashes, bands),
      Seq(col("band"), col("bh")), maxBucket)

  /** Bucket-POPULATION telemetry for the text minhash banding — the
    * forward-looking companion to [[lshBucketOverflow]]'s cap audit.
    *
    * Text minhash buckets only collide for genuinely similar content,
    * so bucket growth is CONTENT-driven: auto-sizing bits with log n
    * (the d6 embedding fix) does not apply — more hash rows cannot
    * split a bucket of true near-duplicates. What an operator needs
    * instead is to SEE the distribution drifting before the cap
    * drops work: this emits one row of `n_buckets`, `max_bucket`,
    * `p50/p90/p99` bucket sizes, and `pair_expansion` =
    * Σ n·(n−1)/2 — the exact in-bucket candidate count the expansion
    * stage will generate, i.e. the operator's cost forecast. Run it
    * on a sample cadence (it re-runs only the banding scan, no pair
    * expansion); a rising p99 with stable p50 means a few
    * mass-duplicate clusters (exact-dedup first — the documented
    * contract); a rising p50 means corpus-wide similarity creep and a
    * threshold/shingle-size revisit. */
  def lshBucketStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame =
    lshBanded(df, idCol, textCol, k, numHashes, bands)
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        expr("percentile_approx(n, array(0.5D, 0.9D, 0.99D), 10000)")
          .as("size_p50_p90_p99"),
        sum(col("n") * (col("n") - lit(1)) / lit(2)).cast("long")
          .as("pair_expansion"))

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    * components of the pair graph, labeling every member with the
    * minimum id of its component (the canonical survivor a dedup
    * pipeline keeps). This is the missing last step between
    * [[lshNearDupPairs]] / [[ngramJaccardPairs]] and an actual
    * keep/drop decision — pairs alone over-delete (A~B, B~C must
    * collapse to ONE canonical doc, not two independent pair picks).
    *
    * Algorithm: iterative min-label propagation over the symmetrized
    * edge list, accelerated by pointer-doubling: each round every node
    * takes the min of (its own label, its neighbors' labels, its
    * LABEL'S label). The neighbor term spreads the component min one
    * hop per round; the label-chase term halves the remaining distance
    * to the min each round (the shortcutting step of the
    * large-star/small-star family — Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14), so convergence is
    * O(log diameter) rounds, not O(diameter). Near-duplicate
    * components are near-cliques (diameter 1-2, converge in 2-3
    * rounds); the shortcut term is what keeps adversarially chained
    * graphs (diameter ~n, e.g. temporally drifting boilerplate) from
    * blowing the round budget — a diameter-120 path converges in 8
    * rounds, spec-proven. 3 shuffles/round (neighbor groupBy, neighbor
    * join, label-chase join). If `maxIter` rounds pass without a
    * fixed point the operator THROWS rather than return silently
    * wrong clusters (labels mid-propagation look plausible but split
    * real components).
    * `localCheckpoint` truncates the per-round lineage so the plan
    * does not grow with iterations (the classic iterative-DataFrame
    * trap). Sessions with a checkpoint dir get reliable
    * `checkpoint()` (survives executor loss mid-loop); others get
    * `localCheckpoint()` — [[graft.util.Iter.Scope.materialize]]. Every
    * checkpoint but the returned frame's own is freed before the call
    * returns or throws; that one passes to the caller's scope
    * ([[Iter.scoped]]), which frees it once done with the clusters.
    *
    * @param pairs near-dup pairs, one row per undirected edge
    * @return (member_id, cluster_id): one row per distinct node,
    *         cluster_id = min member id of its component.
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // Materialize the PAIRS before symmetrizing: the union references
    // the pair plan twice, and Spark executes self-unioned plans once
    // per branch (exchange reuse does not apply across union branches
    // of lambda-bearing plans) — without the checkpoint the entire
    // upstream pair pipeline (shingling + bucket join) would run twice
    // here and then again in every propagation round. The pairs are
    // tiny relative to the corpus that produced them; the pipeline is
    // not.
    val sc = pairs.sparkSession.sparkContext
    try Iter.scoped { s =>
      sc.setJobDescription("cc: edges")
      val edges = s.materialize(
        pairs.select(col(aCol).as("a"), col(bCol).as("b")))
      val sym = edges.select(col("a").as("id"), col("b").as("nbr"))
        .union(edges.select(col("b").as("id"), col("a").as("nbr")))
      sc.setJobDescription("cc: init labels")
      var labels = s.materialize(sym.groupBy("id")
        .agg(least(min(col("nbr")), first(col("id"))).as("label")))
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        sc.setJobDescription(s"cc: round $iter")
        // neighbor labels: edge (id, nbr) carries label(nbr) to id;
        // `changed` rides along so convergence costs one cheap filter
        // over the already-checkpointed result, not another join
        val nbrMin = sym
          .join(labels.withColumnRenamed("id", "nbr")
            .withColumnRenamed("label", "nbr_label"), "nbr")
          .groupBy("id").agg(min(col("nbr_label")).as("nbr_label"))
        // pointer-doubling shortcut: chase TWO hops up the label forest
        // (labels are always node ids, so the lookup always resolves;
        // left joins guard the component-min's self-label anyway). Two
        // chases per round quarter the remaining chain depth instead of
        // halving it — measured on g5's sparse co-occurrence graph at
        // sf0.1 (520 components, long thin trees): 19 rounds → 10, and
        // every round is ~8 Spark jobs, so round count is the wall.
        // Each chase is a V-row broadcast-sized lookup, far cheaper than
        // a round. Skipped in round 1: initial labels are one-hop
        // minima, so no label chains exist yet to compress —
        // near-clique graphs (the common case, 2 rounds total) never
        // pay for the extra joins.
        val joined = labels.join(nbrMin, "id")
        val withHop = if (iter == 0) joined.withColumn("hop_label",
            lit(null).cast(joined.schema("label").dataType))
          else {
            val hop1 = joined.join(labels.select(col("id").as("hop_id"),
              col("label").as("hop1_label")),
              col("label") === col("hop_id"), "left").drop("hop_id")
            hop1.join(labels.select(col("id").as("hop_id"),
                col("label").as("hop2_label")),
                col("hop1_label") === col("hop_id"), "left")
              .select(hop1.columns.map(col) :+
                least(col("hop1_label"), col("hop2_label"))
                  .as("hop_label"): _*)
              .drop("hop1_label")
          }
        // the convergence bit rides the checkpoint action as an observed
        // metric (CollectMetrics), so each round is ONE job — the
        // separate filter-isEmpty scan this replaces was a whole extra
        // job per round (rounds × ~0.1 s of pure scheduling at sf0.1,
        // and an extra pass over the vector at any scale)
        val (next, changed) = s.observed(withHop
          .select(col("id"),
            least(col("label"), col("nbr_label"), col("hop_label"))
              .as("label"),
            (least(col("nbr_label"), col("hop_label")) < col("label"))
              .as("changed")),
          Seq(coalesce(sum(col("changed").cast("long")), lit(0L))
            .as("n_changed")))
        // round i-1's checkpointed vector is dead once round i is live
        // (the pageRank release discipline)
        s.release(labels)
        labels = next.drop("changed")
        converged = changed.getLong(0) == 0L
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter rounds; the pair " +
          "graph has a component of extreme diameter — raise maxIter " +
          "(rounds grow only as log(diameter) under pointer-doubling)")
      // the result reads only the last labels checkpoint, so the scope
      // frees the edges either way; the labels outlive only a
      // converged call
      labels.select(col("id").as("member_id"), col("label").as("cluster_id"))
    } finally sc.setJobDescription(null)
  }

  /** Incremental exact dedup: drop arriving documents whose content
    * hash already exists in the reference corpus — the cross-run form
    * of [[exact]] (ingest batch N+1 against the lake). A left-anti
    * join on an 8-byte xxhash64 key (the key never reaches output, so
    * the algorithm is invisible; the d10 oracle's md5-equality count
    * agreeing is the collision gate, same argument as the shingle
    * hashing): one shuffle keyed by hash (or none, when the corpus
    * side's distinct hash set is small enough to broadcast — Spark
    * picks by stats/AQE). Returns the surviving batch rows. */
  def incrementalNew(batch: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    val seen = corpus.select(xxhash64(col(textCol)).as("__h")).distinct()
    batch.join(seen, xxhash64(batch(textCol)) === seen("__h"), "left_anti")
  }

  /** Survivor selection per duplicate cluster: among each cluster's
    * members keep the one with the highest quality score (here:
    * longest text — the common heuristic — with min-id tie-break),
    * i.e. the doc a curation pipeline retains while dropping the
    * rest. Aggregates a (score, id) struct argmax per cluster —
    * partial map-side, O(1) state per cluster; no window, no sort.
    *
    * @param clusters output of [[dupClusters]] (member_id, cluster_id)
    * @param docs     (idCol, textCol) source to score members against
    * @return (cluster_id, keep_id, n_members) */
  def clusterSurvivors(clusters: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    clusters
      .join(docs.select(col(idCol).as("member_id"),
        length(col(textCol)).as("len")), "member_id")
      .groupBy(col("cluster_id"))
      // min over (-len, id) = max len, min id — the negation is on the
      // LENGTH (always numeric), so ids of any orderable type work
      .agg(min_by(col("member_id"),
          struct(-col("len"), col("member_id"))).as("keep_id"),
        count(lit(1)).as("n_members"))

  /** 32-bit token hash used by SimHash: first 8 md5 hex digits as a long.
    * Reproducible in any engine with md5 + hex parsing. */
  def tokenHash32(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** SimHash fingerprint from a pre-projected array of token hashes
    * (see [[baseHashes]] note — inlining the hash array under all `bits`
    * bit-sums would recompute the md5 `bits`× per token). */
  def simhashFromHashes(hashes: Column, bits: Int = 32): Column =
    (0 until bits).map { b =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Token hashes for [[simhashFromHashes]]. */
  def tokenHashes(text: Column): Column =
    transform(TextAnalysis.tokens(text), tokenHash32 _)

  /** 60-bit token hash: first 15 md5 hex digits. 60 bits stay exactly
    * representable as a signed 64-bit integer in every engine (16 hex
    * digits could overflow), which is why the wide fingerprint stops
    * at 60. */
  def tokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** 60-bit token hashes for the wide fingerprint. */
  def tokenHashes60(text: Column): Column =
    transform(TextAnalysis.tokens(text), tokenHash60 _)

  /** SimHash fingerprint over whitespace tokens: bit b of the result is
    * set iff the sum over tokens of ±1 (sign of token-hash bit b) is
    * positive. `bits` <= 32 with the 32-bit token hash. Convenience
    * one-shot; prefer projecting [[tokenHashes]] first. */
  def simhash(text: Column, bits: Int = 32): Column =
    simhashFromHashes(tokenHashes(text), bits)

  /** Hamming distance between two SimHash fingerprints. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs: fingerprints within `maxHamming`
    * bits of each other. Candidate generation is PIGEONHOLE blocking —
    * the fingerprint splits into `maxHamming + 1` bands, and two
    * fingerprints ≤ maxHamming apart must agree on at least one band,
    * so an equi-join on (band, bandBits) finds every true pair
    * without an all-pairs comparison; the exact Hamming check then
    * discards band-collision false positives. Same scale contract as
    * [[lshNearDupPairs]]: one corpus pass, shuffles keyed by band
    * buckets, bounded buckets with an observed overflow metric
    * (`simhash_bucket_overflow`) — identical fingerprints collide in
    * every band, so run [[exact]] first on duplicate-heavy corpora.
    *
    * The fingerprint is the 60-BIT simhash (d4's 32-bit form is the
    * compact fingerprint; pairing needs the wide one): on a
    * narrow-vocabulary corpus the fingerprint distribution
    * concentrates — bits whose token-hash balance is skewed are near
    * constant across documents — and 8-bit bands of a 32-bit
    * fingerprint collapse into a handful of giant buckets (measured:
    * 5000 synthetic docs → max bucket 1338, quadratic expansion).
    * 15-bit bands over 60 bits keep buckets small for the same
    * corpus.
    *
    * @return (id_a, id_b, hamming) with id_a < id_b,
    *         hamming <= maxHamming. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame = {
    val bands = maxHamming + 1
    val width = 60 / bands // 4 bands x 15 bits for the default
    // Fingerprints via the native codegen'd expression — one JVM loop
    // per doc; the HOF formulation is 60 interpreted `aggregate` calls
    // per doc AND would re-evaluate under the band Generate (the
    // interpreted-HOF-under-Generate pathology — see WordShingles).
    graft.functions.SimHashImpl.register(df.sparkSession)
    val fp = df.select(col(idCol).as("id"),
      expr(s"simhash60($textCol)").as("sh"))
    val banded = fp
      .select(col("id"), col("sh"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sh"), b * width)
            .bitwiseAND(lit((1L << width) - 1))): _*))
          .as(Seq("band", "bits")))
    boundedBucketPairs(banded, Seq(col("band"), col("bits")), maxBucket,
      "simhash_bucket_overflow", hammingDist, _ <= maxHamming, "hamming")
  }

  /** Winnowed substring fingerprints per document: one row per
    * distinct selected 60-bit k-gram hash — see
    * [[graft.functions.WinnowImpl.winnow]] for the algorithm and the
    * guarantee (every shared substring of length ≥ w + k − 1 chars
    * surfaces at least one shared fingerprint; selected density is
    * ~2/(w+1) of character positions).
    *
    * Scale shape: fingerprint construction is a row-local codegen'd
    * scan (zero exchanges up to the explode); only the SELECTED
    * fingerprints — ~2/(w+1) of positions, 8-byte longs — reach the
    * distinct's shuffle. The char-level explode that a naive
    * every-position formulation would shuffle never exists. */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 24, w: Int = 12): DataFrame = {
    graft.functions.WinnowImpl.register(df.sparkSession)
    // (id, fp) rows are distinct WITHOUT a distinct(): the native
    // expression emits a per-document distinct fingerprint set, and
    // each document is one input row — so this stays a zero-exchange
    // narrow map (scan → project → generate), no shuffle until a
    // downstream aggregation asks for one.
    df.select(col(idCol).as("id"),
        explode(expr(s"winnow_fingerprints($textCol, $k, $w)")).as("fp"))
  }

  /** Duplicate-SPAN document pairs: documents sharing at least
    * `minShared` winnowed fingerprints — the scan-bandwidth stand-in
    * for suffix-array exact-substring dedup (Lee et al. 2021): a pair
    * sharing even one fingerprint shares a ≥ w + k − 1 = 35-char run
    * verbatim (k=24, w=12 defaults); `n_shared` grows with the length
    * and count of the shared spans.
    *
    * Pair generation mirrors the LSH/SimHash candidate contract: an
    * equi-join keyed by fingerprint buckets, never all-pairs. Buckets
    * larger than `maxBucket` documents (corpus-wide boilerplate — a
    * 35-char span shared by thousands of documents) are EXCLUDED from
    * pair expansion, with an observed metric
    * (`winnow_bucket_overflow`: overflow bucket + doc counts) so the
    * exclusion is audited, not silent; the oracle applies the same
    * cap. Output: (id_a, id_b, n_shared), id_a < id_b. */
  def winnowedDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 24, w: Int = 12, maxBucket: Int = 1024,
      minShared: Long = 2L): DataFrame = {
    // Count-first, collect-second: almost every fingerprint bucket is
    // a singleton (sf1 measurement: 1.79M of 1.92M), so the first
    // pass over the buckets must be the cheapest aggregate there is —
    // a codegen'd partial-combining count. Collecting ids in the same
    // pass (the LSH path's capped-heap collector) pays per-GROUP
    // object-aggregate overhead ~13× the whole query's useful work at
    // sf1 (measured 11-21 s vs 1 s for the fingerprint scan). The
    // semi-joined second aggregation only ever sees buckets already
    // filtered to 1 < n <= maxBucket, so its collect_list is
    // memory-bounded by construction — no heap collector needed. The
    // fingerprint scan runs twice (both branches re-walk the corpus),
    // which at scan bandwidth is the right trade against materializing
    // O(corpus) fingerprints.
    val fps = winnowedFingerprints(df, idCol, textCol, k, w)
    val active = fps
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"))
      .observe("winnow_bucket_overflow",
        sum(when(col("n") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("overflow_buckets"),
        sum(when(col("n") > maxBucket, col("n")).otherwise(lit(0L)))
          .as("overflow_docs"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select(col("fp"))
    fps.join(active, "fp")
      .groupBy(col("fp"))
      .agg(collect_list(col("id")).as("ids"))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
          struct(least(x, y).as("id_a"), greatest(x, y).as("id_b"))))))
        .as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Asymmetric CONTAINMENT pairs — quote/subset detection: emit
    * (id_a, id_b, containment) where containment =
    * |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ `threshold`, i.e.
    * document A's k-word-shingle set is (nearly) inside B's. Jaccard
    * (d5) misses exactly this shape — a paragraph quoted inside a
    * 100× larger document scores near-zero Jaccard but containment
    * 1.0 — and it is the shape boilerplate, quotation and
    * template-expansion duplication actually takes.
    *
    * Shape: an inverted-index CO-OCCURRENCE COUNT join — postings
    * (hash, id) of every distinct shingle, posting lists longer than
    * `maxPosting` dropped under the standing count-first cap +
    * observed-metric contract (`containment_posting_overflow`), then
    * the self-join on the hash grouped by (id_a, id_b) so the group
    * count IS |A∩B| and only 16-byte pair rows ever shuffle. A
    * first-cut variant verified candidates by shipping both
    * documents' full hashed-shingle arrays through two joins and
    * intersecting per row; at sf10's 53M candidates that moved
    * ~150 GB of arrays and the verify ate 80 of 95 s — the count
    * join computes the same intersection as a partial-combining
    * aggregate over narrow rows (measured below). Join volume is
    * Σ_h n_h², bounded by `maxPosting`·|postings| by the cap; a pair
    * connected ONLY through capped (ultra-common) shingles can be
    * missed — the audit says how much mass was capped, and the
    * documented pipeline runs exact dedup first. Sets are hashed
    * (md5-family, the d5 oracle domain): a collision INSIDE one
    * document's set can only over-count the intersection, the
    * standing convention. */
  /** EXACT duplicated-substring spans (Lee et al. 2021,
    * arXiv:2107.06499 — ExactSubstr): the maximal character intervals
    * of each document covered by some length-`minLen` substring that
    * occurs at ≥ 2 positions corpus-wide (other documents OR a repeat
    * inside the same one — the suffix-array definition). [[
    * winnowedDupPairs]] (d12) is the scan-bandwidth DOCUMENT-level
    * stand-in; this is the exact SPAN form, and
    * [[graft.operators.Curation.stripDupSpans]]' exact sibling.
    *
    * Suffix arrays don't distribute; the sorted k-gram table computes
    * the identical cover set: hash every position's `minLen`-gram
    * ([[graft.functions.GramHashes]], the winnow family's 60-bit
    * md5-prefix — collisions can only over-mark, the standing
    * convention), count occurrences per hash (partial-combining — one
    * output row per DISTINCT gram, never a pair expansion; this is
    * the operator family's only corpus-wide shuffle and it is bounded
    * by input positions), semi-join each document's positions against
    * the duplicated hashes, then RUN-MERGE per document: positions
    * within `minLen` of each other cover overlapping/adjacent windows
    * and fuse into one maximal span (a per-document sort whose
    * partition is one document's duplicated positions — bounded by
    * document length, never corpus size).
    *
    * Scale honesty: the position explode is O(total chars) rows of
    * (8-byte hash, id, int pos) — ~20 bytes per character through one
    * exchange. That is the inherent price of EXACTNESS (every
    * position must be witnessed); d12's winnowing at ~2/(w+1) density
    * is the prescribed scale path when document-level detection
    * suffices, and this operator is the bounded-span exact pass run
    * where Lee-et-al-grade span removal is the point. No pair stage
    * exists anywhere: group-count + semi-join keeps the plan linear
    * in corpus size at any duplication rate (a hash occurring a
    * million times is ONE count row, not 10¹² pairs).
    *
    * Documents shorter than `minLen` hash their whole text as one
    * truncated gram (the winnow short-document rule): two identical
    * short documents therefore mark each other whole — the right
    * reading of "duplicated span" for them.
    *
    * @return (idCol, start, span_len): 1-based character start and
    *         covered length of each maximal duplicated span. */
  def exactDupSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 35): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val pos = gramPositions(df, idCol, textCol, minLen)
    val dup = pos.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("h"))
    runMergeSpans(pos.join(dup, Seq("h"), "left_semi"), idCol, minLen)
  }

  /** KEEP-FIRST exact duplicated-substring spans — the C4-flavored
    * variant of [[exactDupSpans]] (Raffel et al. 2020 §2.2 discard
    * "all but one" of any duplicated span; Lee et al. likewise dedup
    * to one canonical copy): for every duplicated `minLen`-gram the
    * occurrence with the smallest (id, position) is the CANONICAL
    * keeper, and only the other occurrences are marked — so stripping
    * these spans leaves exactly one copy of each duplicated run in
    * the corpus, where [[exactDupSpans]]' marks (and x23's strip)
    * remove every copy.
    *
    * Scale shape: the keeper is a partial-combining
    * min(struct(id, pos)) per gram hash — an aggregate, not a
    * per-hash window sort, so a million-occurrence hash costs one
    * combiner row per task — followed by the same hash-keyed join the
    * count pass already shuffles for, then the family's per-document
    * run-merge. No pair stage, linear at any duplication rate.
    *
    * @return (idCol, start, span_len) over NON-canonical occurrences. */
  def exactDupSpansKeepFirst(df: DataFrame, idCol: String,
      textCol: String, minLen: Int = 35): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val pos = gramPositions(df, idCol, textCol, minLen)
    val canon = pos.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("i"))).as("keep"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("h"), col("keep"))
    val marked = pos.join(canon, Seq("h"))
      .filter(!(col(idCol) === col("keep").getField(idCol) &&
        col("i") === col("keep").getField("i")))
      .select(col(idCol), col("i"))
    runMergeSpans(marked, idCol, minLen)
  }

  /** Per-position gram-hash rows (id, i, h), 1-based positions — the
    * shared front of the exact-substring family. */
  private def gramPositions(df: DataFrame, idCol: String,
      textCol: String, minLen: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    val hashes = GraftColumns.column(graft.functions.GramHashes(
      GraftColumns.expression(col(textCol)), minLen))
    graft.util.Tables.fanOut(df, idCol)
      .select(col(idCol), posexplode(hashes).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("i"), col("h"))
  }

  /** The run-merge tail shared by the exact-substring family: fuse
    * marked positions within `minLen` of each other into maximal
    * covered intervals, per document. */
  private def runMergeSpans(marked: DataFrame, idCol: String,
      minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("i"))
    marked
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(byDoc) <= minLen, lit(0))
          .otherwise(lit(1)))
      .withColumn("g", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("g"))
      .agg(min(col("i")).cast("bigint").as("start"),
        (max(col("i")) + lit(minLen) - min(col("i"))).cast("bigint")
          .as("span_len"))
      .drop("g")
  }

  /** Incremental exact-substring spans — [[exactDupSpans]]' batch-vs-
    * lake form (the d13 economics applied to the exact family): the
    * maximal intervals of BATCH documents covered by a `minLen`-gram
    * occurring ANYWHERE in the reference corpus. The corpus reduces
    * to its DISTINCT 8-byte gram-hash set (compute once per lake —
    * or persist it with [[writeGramIndex]] and pay only the batch
    * explode per ingest); each batch position then semi-joins that
    * set and run-merges. No count stage: presence in the corpus is
    * the mark, so a gram shared with a million lake documents costs
    * the same one semi-join probe.
    * @return (idCol, start, span_len) over batch documents. */
  def incrementalExactSpans(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, minLen: Int = 35): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val corpusGrams = gramPositions(corpus, idCol, textCol, minLen)
      .select(col("h")).distinct()
    val pos = gramPositions(batch, idCol, textCol, minLen)
    runMergeSpans(pos.join(corpusGrams, Seq("h"), "left_semi"), idCol,
      minLen)
  }

  /** Persist a corpus' distinct `minLen`-gram hash set as a
    * hash-bucketed table (8 bytes/row — the d14/t9 write-once
    * economics for the exact-substring family): every subsequent
    * [[incrementalExactSpansIndexed]] probe joins bucket-locally and
    * pays only its own batch explode. */
  def writeGramIndex(df: DataFrame, idCol: String, textCol: String,
      table: String, minLen: Int = 35, nBuckets: Int = 16): Unit =
    Bucketing.writeBucketed(
      gramPositions(df, idCol, textCol, minLen).select(col("h"))
        .distinct(),
      table, "h", nBuckets, Seq("h"))

  /** [[incrementalExactSpans]] against a [[writeGramIndex]] table —
    * result-identical by contract (the d14 convention; the shared
    * oracle proves it). */
  def incrementalExactSpansIndexed(
      spark: org.apache.spark.sql.SparkSession, table: String,
      batch: DataFrame, idCol: String, textCol: String,
      minLen: Int = 35): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val pos = gramPositions(batch, idCol, textCol, minLen)
    runMergeSpans(pos.join(spark.table(table), Seq("h"), "left_semi"),
      idCol, minLen)
  }

  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8, maxPosting: Int = 1024,
      denseCut: Int = 64): DataFrame = Iter.scoped { s =>
    graft.functions.ShinglesImpl.register(df.sparkSession)
    // materialized: the hash-set frame feeds the posting explode AND
    // the final per-doc set-size join — left live, the shingling +
    // per-shingle md5 (the expensive per-row work of this operator)
    // runs twice over the corpus. The checkpoint holds (id, hs): the
    // 8-byte hash arrays the posting shuffle moves anyway. fanOut
    // first (guide §2.5): a single-row-group scan otherwise computes
    // the whole shingle+md5 pass as ONE task AND leaves the checkpoint
    // single-partitioned, so every downstream stage starts serial
    // (measured at sf0.1: a 0.84 s one-task checkpoint stage).
    val sets = s.materialize(
      graft.util.Tables.fanOut(
          df.select(col(idCol).as("id"), col(textCol).as("text")), "id")
        .withColumn("shs", array_distinct(expr(s"word_shingles(text, $k)")))
        .select(col("id"), array_distinct(baseHashes(col("shs"))).as("hs")))
    // NOTE (measured, rejected): pinning the posting/pair exchanges
    // with explicit repartitions to defeat AQE's byte-based coalescing
    // (which runs these CPU-dense, byte-small reduce stages on 3-16
    // tasks) tripled executor time — the pin replaced the broadcast
    // h-join with a full posting shuffle and stripped the pair count's
    // map-side combine. The coalesced-task wall is the lesser cost.
    val postings = sets.select(col("id"), explode(col("hs")).as("h"))
    val active = postings.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .observe("containment_posting_overflow",
        sum(when(col("n") > maxPosting, lit(1L)).otherwise(lit(0L)))
          .as("overflow_buckets"),
        sum(when(col("n") > maxPosting, col("n")).otherwise(lit(0L)))
          .as("overflow_docs"))
      .filter(col("n") <= maxPosting)
      .select(col("h"), col("n"))
    val capped = postings.join(active, "h")
    // Two pair paths split at `denseCut`, summed exactly:
    //  - SMALL buckets (the organic mass — singletons and few-doc
    //    shingles) pair through the plain co-occurrence count join,
    //    the cheapest possible aggregate;
    //  - DENSE buckets (a quote shared by hundreds of documents puts
    //    EVERY one of its ~k·|quote| shingles into an identical
    //    posting set) collapse BY POSTING SET before expansion: one
    //    n² expansion per DISTINCT set carrying multiplicity m,
    //    instead of m expansions — the adversarial quote-mass sweep
    //    measured Σ_h n_h² at 1.4×10⁸ rows/56 s at sf0.1-dense, and
    //    the collapse removes the ×(shingles-per-quote) factor
    //    (measured in BENCH_NOTES round 13). The collect_list is
    //    memory-bounded by maxPosting, the winnowedDupPairs
    //    convention.
    val small = capped.filter(col("n") < denseCut)
    val cSmall = small.select(col("h"), col("id").as("id_a"))
      .join(small.select(col("h"), col("id").as("id_b")), "h")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("c"))
    val denseSets = capped.filter(col("n") >= denseCut)
      .groupBy(col("h"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .groupBy(col("ids")).agg(count(lit(1)).as("m"))
    val cDense = denseSets
      .select(col("m"), explode(col("ids")).as("id_a"), col("ids"))
      .select(col("m"), col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("m")).as("c"))
    val shared = cSmall.unionByName(cDense)
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("c")).as("c"))
    shared
      .join(sets.select(col("id").as("id_a"),
        size(col("hs")).as("sz_a")), "id_a")
      .select(col("id_a"), col("id_b"),
        (col("c").cast("double") / col("sz_a").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Incremental duplicate-SPAN dedup: drop arriving documents that
    * share at least `minShared` winnowed fingerprints with the
    * reference corpus — the cross-run form of [[winnowedDupPairs]],
    * as [[incrementalNew]] is of [[exact]] (a batch document sharing
    * ≥ w + k − 1-char runs with the lake is a near-copy even when its
    * content hash differs). Returns the surviving batch rows.
    *
    * No bucket cap is needed here (unlike the pair path): the corpus
    * side joins as a DISTINCT fingerprint set, so each batch (id, fp)
    * matches at most once — a corpus-wide boilerplate fingerprint
    * contributes one shared count per batch doc, never a quadratic
    * pair expansion. At deployment scale the corpus fingerprints are
    * written once ([[winnowedFingerprints]] → parquet, ~2/(w+1) ·
    * chars · 8 bytes) and only the batch side is recomputed per
    * ingest. */
  def incrementalWinnowNew(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, k: Int = 24, w: Int = 12,
      minShared: Long = 2L): DataFrame =
    winnowSurvivors(batch, idCol,
      winnowedFingerprints(batch, idCol, textCol, k, w),
      winnowedFingerprints(corpus, idCol, textCol, k, w)
        .select(col("fp")).distinct(),
      minShared)

  /** The shared tail of the incremental span checks: batch docs whose
    * fingerprints match the corpus' distinct set < minShared times. */
  private def winnowSurvivors(batch: DataFrame, idCol: String,
      bf: DataFrame, cf: DataFrame, minShared: Long): DataFrame = {
    val dup = bf.join(cf, "fp")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minShared)
      .select(col("id"))
    batch.join(dup, batch(idCol) === dup("id"), "left_anti")
  }

  /** Materialize a corpus' winnowed fingerprints as a PERSISTED,
    * fp-bucketed index table — the write-once half of the
    * write-once/check-many incremental ingest economics (the t9
    * pattern applied to span dedup): the lake's fingerprints are
    * computed and shuffled ONCE at ~2/(w+1)·chars·8 bytes, and every
    * subsequent ingest batch pays only its own winnow scan plus a
    * join against the bucketed table (bucket-local distinct — the
    * exchange the unbucketed corpus side would re-pay per batch is
    * gone). */
  def writeWinnowIndex(df: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 24, w: Int = 12, nBuckets: Int = 16): Unit =
    // the probe consumes the corpus as a DISTINCT fingerprint set, so
    // the index stores exactly that — 8 bytes/row with map-side
    // partial dedup before the write shuffle (the writeGramIndex
    // economics; was (id, fp) with per-document duplicates, which also
    // forced the probe's distinct to chew the full multiset)
    Bucketing.writeBucketed(
      winnowedFingerprints(df, idCol, textCol, k, w)
        .select(col("fp")).distinct(),
      table, "fp", nBuckets, Seq("fp"))

  /** [[incrementalWinnowNew]] against a [[writeWinnowIndex]] table —
    * result-identical (the d14 oracle is d13's SQL verbatim). */
  def incrementalWinnowIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, idCol: String, textCol: String,
      k: Int = 24, w: Int = 12, minShared: Long = 2L): DataFrame =
    winnowSurvivors(batch, idCol,
      winnowedFingerprints(batch, idCol, textCol, k, w),
      spark.table(table).select(col("fp")).distinct(),
      minShared)

  /** Near-duplicate pairs over an arbitrary PRECOMPUTED 64-bit
    * fingerprint column — the pairing tail of [[simhashNearDupPairs]]
    * generalized to externally-derived perceptual hashes (image dHash,
    * audio chromaprint-style fingerprints), where the fingerprint
    * comes from a decoder, not from text.
    *
    * Candidates are band collisions: `bands` equal slices of the 64
    * bits, equi-joined per slice. By pigeonhole this GUARANTEES every
    * pair within `bands - 1` flips; beyond that a pair is found iff
    * its differing bits leave one band untouched — exactly the
    * localized-corruption shape perceptual hashes produce (a re-border
    * or caption edit perturbs one image region, and a dHash maps image
    * regions to bit regions). The exact Hamming check then bounds the
    * reported distance. Same bounded-bucket scale contract as the
    * text families (`phash_bucket_overflow` observed metric).
    *
    * @return (id_a, id_b, hamming) with id_a < id_b,
    *         hamming <= maxHamming. */
  def fingerprintNearDupPairs(df: DataFrame, idCol: String,
      fpCol: String, bands: Int = 4, maxHamming: Int = 16,
      maxBucket: Int = 1024): DataFrame = {
    val width = bandWidth(bands)
    val banded = df
      .select(col(idCol).as("id"), col(fpCol).as("sh"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sh"), b * width)
            .bitwiseAND(lit(bandMask(width)))): _*))
          .as(Seq("band", "bits")))
    boundedBucketPairs(banded, Seq(col("band"), col("bits")), maxBucket,
      "phash_bucket_overflow", hammingDist, _ <= maxHamming, "hamming")
  }

  /** The `bands` band keys of a 64-bit fingerprint as ONE array of
    * longs, each tagging its slice with the band index in the high
    * bits — the join/Bloom key form shared by
    * [[fingerprintNearDupPairs]]'s blocking and the streaming
    * [[graft.streaming.IngestGate.phashGate]]. */
  def bandKeys64(fp: Column, bands: Int): Column = {
    val width = bandWidth(bands)
    array((0 until bands).map(b =>
      lit(b.toLong << width).bitwiseOR(
        shiftright(fp, b * width).bitwiseAND(lit(bandMask(width))))): _*)
  }

  private def bandWidth(bands: Int): Int = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    64 / bands
  }

  /** Low-`width` mask. Scala shifts mod 64, so the naive
    * `(1L << 64) - 1` is 0 — bands = 1 (width 64) must mask to -1L or
    * every band key collapses to zero. */
  private def bandMask(width: Int): Long =
    if (width == 64) -1L else (1L << width) - 1

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540, public): assign every vector to its nearest
    * centroid, then WITHIN each cell drop any vector whose cosine to a
    * strictly more central member (higher centroid-cos; ties broken by
    * lower id) reaches `threshold`. The survivor of a semantic
    * duplicate group is always its most central member, and cross-cell
    * duplicates are intentionally not compared — that locality is the
    * SemDeDup bargain that turns the O(n²) all-pairs cosine matrix into
    * k independent O((n/k)²) blocks.
    *
    * Scale shape: one narrow scan computes the codegen'd
    * [[graft.functions.CentroidScores]] assignment (k·dim flops per
    * row, no shuffle), then ONE cell-keyed self-join does the
    * intra-cell comparisons. k must grow with the corpus (k ≈ n/c for
    * a target cell size c, exactly how the SemDeDup paper sizes its
    * k-means) — the oracle's deterministic first-16 prefix is the
    * verify-scale instance, and [[Similarity.kmeansCentroids]] is the
    * in-repo way to derive real ones. The assignment subplan is cheap
    * (scan + native expression) and deliberately recomputed per join
    * branch rather than cached — at 100 TB a persist of the assigned
    * corpus costs more than the second columnar scan.
    *
    * @return (vec_id, cell, keep) — keep=false marks semantic dups. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], threshold: Double): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    val scores = GraftColumns.column(graft.functions.CentroidScores(
      GraftColumns.expression(col(vecCol)), centroids))
    val assigned = df
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("vec"),
        array_max(scores).as("best"))
      .select(col("vec_id"), col("vec"),
        (-col("best.negid")).cast("int").as("cell"),
        col("best.cos").as("cen_cos"))
    val moreCentral = col("b.cen_cos") > col("a.cen_cos") ||
      (col("b.cen_cos") === col("a.cen_cos") &&
        col("b.vec_id") < col("a.vec_id"))
    val dropped = assigned.alias("a").join(assigned.alias("b"),
        col("a.cell") === col("b.cell") && moreCentral &&
          Similarity.cosine(col("a.vec"), col("b.vec")) >= threshold,
        "left_semi")
      .select(col("vec_id").as("d_id"))
    assigned
      .join(dropped, col("vec_id") === col("d_id"), "left")
      .select(col("vec_id"), col("cell"), col("d_id").isNull.as("keep"))
  }

  /** Batch-vs-lake form of [[semDedup]] (the d10/d13 incremental
    * discipline applied to the semantic family): a batch vector is
    * dropped when its cosine to ANY lake vector in its cell reaches
    * `threshold` — lake members always win, no centrality ordering
    * needed. One cell-keyed anti-join; only the batch side pays a new
    * assignment scan per ingest (assign the lake once and persist the
    * (vec_id, cell, vec) frame alongside the embeddings — the d14
    * write-once economics).
    *
    * @return batch survivors as (vec_id, cell). */
  def incrementalSemDedup(batch: DataFrame, lake: DataFrame,
      idCol: String, vecCol: String, centroids: Array[Array[Float]],
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    def assign(df: DataFrame): DataFrame = {
      val scores = GraftColumns.column(graft.functions.CentroidScores(
        GraftColumns.expression(col(vecCol)), centroids))
      df.select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("vec"), array_max(scores).as("best"))
        .select(col("vec_id"), col("vec"),
          (-col("best.negid")).cast("int").as("cell"))
    }
    assign(batch).alias("b").join(assign(lake).alias("l"),
        col("b.cell") === col("l.cell") &&
          Similarity.cosine(col("b.vec"), col("l.vec")) >= threshold,
        "left_anti")
      .select(col("vec_id"), col("cell"))
  }
}

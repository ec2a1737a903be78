package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Bloom
import graft.util.Iter

/** Streaming ingest gate for duplicate-SPAN filtering — the
  * Structured-Streaming form of [[graft.operators.Dedup.incrementalWinnowNew]]
  * (d13) / the d14 index path.
  *
  * The batch formulation (explode fingerprints → join the corpus set →
  * re-group per doc) is not streamable: the per-doc match count would
  * be a streaming aggregation feeding a stream-stream anti-join, which
  * Structured Streaming forbids. The gate therefore stays ROW-LOCAL:
  * the corpus' winnowed fingerprint set is compacted into a Bloom
  * filter once (driver-side, n·ln(1/fpp)/ln²2 bits), and each arriving
  * document tests its own fingerprint array against the broadcast
  * filter inside one codegen'd projection — no state store, no
  * watermark, no shuffle; the stream stays a narrow map+filter at any
  * ingest rate.
  *
  * Approximation contract: Bloom false positives can only OVER-count
  * matches, so the gate's survivors are a SUBSET of the exact batch
  * survivors (it never leaks a true duplicate); at the default
  * fpp = 1e-6 the two are identical in practice, and the spec pins
  * gate == d13 on the test corpus. At lake scale, size fpp against
  * the broadcast budget (1e9 fingerprints at 1e-2 ≈ 1.2 GB) and let
  * the periodic batch reconciliation (d13/d14, exact) recover any
  * false-positive drops.
  */
object IngestGate {

  /** Fingerprint-array column for one document. */
  private def fps(textCol: String, k: Int, w: Int): Column =
    expr(s"winnow_fingerprints($textCol, $k, $w)")

  /** Survivors of `stream` (static or streaming DataFrame) against the
    * corpus fingerprints in `corpusFps` (a `fp: long` frame — e.g.
    * [[graft.operators.Dedup.winnowedFingerprints]] output or a
    * [[graft.operators.Dedup.writeWinnowIndex]] table): documents
    * whose fingerprint arrays Bloom-match the corpus fewer than
    * `minShared` times. */
  def winnowGate(stream: DataFrame, corpusFps: DataFrame, textCol: String,
      k: Int = 24, w: Int = 12, minShared: Int = 2,
      fpp: Double = 1e-6): DataFrame = {
    graft.functions.WinnowImpl.register(stream.sparkSession)
    // materialized build: the corpus fingerprint derivation (a full
    // winnow explode) runs once, not twice (count + filter aggregate)
    val bloom = Iter.scoped { s =>
      val (keys, n) = s.observed(corpusFps, Seq(count(lit(1)).as("n")))
      Bloom.keyBloom(keys, "fp", fpp, knownCount = n.getLong(0))
    }
    stream
      .withColumn("__matched",
        size(filter(fps(textCol, k, w), x => Bloom.mightContain(bloom, x))))
      .filter(col("__matched") < minShared)
      .drop("__matched")
  }

  /** Streaming near-dup IMAGE gate — the perceptual-hash analog of
    * [[winnowGate]]: the lake's dHash band keys
    * ([[graft.operators.Dedup.bandKeys64]]) compact into a broadcast
    * Bloom, and each arriving image's own band keys are tested inside
    * one codegen'd projection — no state store, no shuffle. An image
    * is dropped when ANY band collides (the candidate-level cut of
    * [[graft.operators.Dedup.fingerprintNearDupPairs]] — band
    * collision over-approximates Hamming proximity, and Bloom false
    * positives only add over-drop, so survivors are a SUBSET of the
    * exact batch survivors; the periodic exact batch pass reconciles).
    *
    * `hashes` carries a `hashCol` long column — produce it row-locally
    * with [[graft.operators.Multimodal.imagePhash]], which streams
    * (stateless mapPartitions).
    *
    * SATURATION LIMIT: each band key has only 64/bands bits (65,536
    * values at the default 4 bands), so this candidate-level gate is
    * only meaningful while the lake fills a small fraction of each
    * band's key space — once ~10⁵-10⁶ distinct fingerprints populate
    * it, essentially every possible key is GENUINELY present (not a
    * Bloom artifact) and the gate degenerates to rejecting the whole
    * stream. The gate therefore REFUSES lakes whose distinct-key fill
    * exceeds `maxSaturation` (default 1% of the key space — at which
    * an unrelated image already has a ≈4% chance of some-band
    * collision); size the unrelated-image drop rate as
    * 1 − (1 − fill)^bands. Beyond the cap, use [[phashGateExact]]
    * (row-local exact Hamming confirmation, no saturation regime) or
    * the batch pair path. */
  def phashGate(hashes: DataFrame, corpusHashes: DataFrame,
      hashCol: String = "phash", bands: Int = 4,
      fpp: Double = 1e-6, maxSaturation: Double = 0.01): DataFrame = {
    import graft.operators.Dedup
    val keys = corpusHashes
      .select(explode(Dedup.bandKeys64(col(hashCol), bands)).as("key"))
      .distinct()
    // one materialized build: the key count rides the checkpoint as an
    // observed metric and sizes the filter — the band explode+distinct
    // previously ran three times (gate count, keyBloom count, build);
    // an over-full lake is refused before the build is paid for
    val bloom = Iter.scoped { s =>
      val (mat, n) = s.observed(keys, Seq(count(lit(1)).as("n")))
      val nKeys = n.getLong(0)
      val capacity = bands.toDouble * math.pow(2, 64.0 / bands)
      require(nKeys <= maxSaturation * capacity,
        f"phashGate: lake fills ${nKeys / capacity}%.3f of the " +
          f"$bands-band key space (cap $maxSaturation%.3f) — the " +
          "candidate gate would reject unrelated images; use " +
          "phashGateExact or the batch pair path for lakes this size")
      Bloom.keyBloom(mat, "key", fpp, knownCount = nKeys)
    }
    hashes
      .withColumn("__matched",
        size(filter(Dedup.bandKeys64(col(hashCol), bands),
          x => Bloom.mightContain(bloom, x))))
      .filter(col("__matched") === 0)
      .drop("__matched")
  }

  /** Exact-confirmation streaming image gate — [[phashGate]] without
    * the saturation regime: band collisions are CONFIRMED against the
    * colliding lake fingerprints with an exact Hamming check, so an
    * image is dropped iff some lake fingerprint shares a band AND
    * sits within `maxDist` bits — precisely the batch
    * [[graft.operators.Dedup.fingerprintNearDupPairs]] match rule,
    * made row-local (the spec pins gate survivors ≡ the batch keep
    * set). A saturated key space costs lookup work, never wrong
    * drops.
    *
    * State is the banded fingerprint index shipped as expression
    * literals backing a per-instance HASH map
    * ([[graft.functions.PhashNearDup]] — bands entries per lake
    * fingerprint, ~tens of MB per million images); the projection
    * stays stateless/codegen'd. Per-image work is bands O(1) lookups
    * × the colliding buckets' sizes (lake/2^16 average per bucket at
    * 4 bands). Beyond broadcast budget (~10⁷ fingerprints), compose
    * [[phashGateExactSharded]] (each gate carries 1/N of the lake;
    * survivors are identical by construction) and lean on the
    * periodic exact batch reconciliation (d14) as the long-term
    * path. */
  def phashGateExact(hashes: DataFrame, corpusHashes: DataFrame,
      hashCol: String = "phash", bands: Int = 4,
      maxDist: Int = 3): DataFrame = {
    val index = bandFingerprints(corpusHashes, hashCol, bands)
    require(index.nonEmpty, "empty corpus: nothing to gate against")
    applyPhashGate(hashes, hashCol, index, bands, maxDist)
  }

  /** [[phashGateExact]] against an N-way hash-sharded lake — the
    * beyond-broadcast-budget composition: each gate carries 1/N of
    * the lake's banded fingerprints, and because the gates PARTITION
    * the lake and the drop rule is "∃ some lake fingerprint within
    * `maxDist`", chaining them drops exactly the union of the
    * per-shard drops — survivors ≡ the unsharded gate's, spec-pinned.
    * Each filter stays a stateless narrow projection; the price is N
    * expression evaluations per arriving image (band probes are O(1)
    * each, so the chain costs what ONE gate over the whole lake
    * costs — the memory ceiling splits, the work does not). Shards
    * with no fingerprints (tiny lakes, skewed hashing) contribute an
    * identity stage and are skipped. Beyond what sharding buys,
    * the periodic batch reconciliation (d14) remains the long-term
    * path. */
  def phashGateExactSharded(hashes: DataFrame, corpusHashes: DataFrame,
      nShards: Int, hashCol: String = "phash", bands: Int = 4,
      maxDist: Int = 3): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    var out = hashes
    var nonEmpty = 0
    for (i <- 0 until nShards) {
      val index = bandFingerprints(
        corpusHashes.filter(
          pmod(xxhash64(col(hashCol)), lit(nShards)) === i),
        hashCol, bands)
      if (index.nonEmpty) {
        nonEmpty += 1
        out = applyPhashGate(out, hashCol, index, bands, maxDist)
      }
    }
    require(nonEmpty > 0, "empty corpus: nothing to gate against")
    out
  }

  /** One gate's broadcast index: band key → the lake fingerprints in
    * that bucket. */
  private def bandFingerprints(corpusHashes: DataFrame, hashCol: String,
      bands: Int): Seq[(Long, Seq[Long])] = {
    import graft.operators.Dedup
    corpusHashes
      .select(explode(Dedup.bandKeys64(col(hashCol), bands)).as("key"),
        col(hashCol).as("fp"))
      .groupBy(col("key")).agg(collect_list(col("fp")).as("fps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq
  }

  private def applyPhashGate(hashes: DataFrame, hashCol: String,
      index: Seq[(Long, Seq[Long])], bands: Int,
      maxDist: Int): DataFrame = {
    // index literals back a REAL per-instance hash map
    // (graft.functions.PhashNearDup) — a typedLit map would be
    // scanned linearly per lookup (no hash index on literal MapData;
    // the KnScore lesson), turning a 10⁶-image lake into ~10⁷ key
    // comparisons per arriving image
    hashes
      .withColumn("__dup", org.apache.spark.sql.GraftColumns.column(
        graft.functions.PhashNearDup(
          org.apache.spark.sql.GraftColumns.expression(col(hashCol)),
          index, bands, maxDist)))
      .filter(!col("__dup"))
      .drop("__dup")
  }

  /** ROW-LOCAL x11 quality verdict — the streaming twin of
    * [[graft.operators.Curation.qualityFilter]]'s keep column. The
    * batch form routes token entropy through an exploded
    * (doc, token) aggregation (vocabulary-bounded shuffle — right for
    * a corpus pass); a stateless stream projection cannot shuffle, so
    * the per-document type/entropy statistics are recomputed IN-ROW:
    * a run-length `aggregate` over the sorted token array yields the
    * same Σ c·ln c the groupBy computes (summation order differs only
    * within one document — the e6 decimal cut absorbs it, and the
    * spec pins gate ≡ batch on the test corpus). Same rules, same
    * thresholds, same first-failure precedence. */
  def qualityKeep(textCol: String, minWords: Int = 20,
      minFleschE6: Long = 0L, maxDupFrac: Double = 0.65,
      minEntropyE6: Long = 3800000L): Column = {
    import graft.functions.TextAnalysis
    val t = coalesce(col(textCol), lit(""))
    val toks = split(trim(t), "\\s+")
    val nTok = size(toks).cast("double")
    val clog = aggregate(
      array_sort(toks),
      struct(lit(null).cast("string").as("prev"), lit(0.0).as("c"),
        lit(0.0).as("s")),
      (a, x) => when(x <=> a.getField("prev"),
          struct(x.as("prev"), (a.getField("c") + lit(1.0)).as("c"),
            a.getField("s").as("s")))
        .otherwise(struct(x.as("prev"), lit(1.0).as("c"),
          (a.getField("s") + when(a.getField("c") > 0.0,
            a.getField("c") * log(a.getField("c"))).otherwise(lit(0.0)))
            .as("s"))),
      a => a.getField("s") + when(a.getField("c") > 0.0,
        a.getField("c") * log(a.getField("c"))).otherwise(lit(0.0)))
    val entE6 = (((log(nTok) - clog / nTok) / lit(math.log(2.0)))
      .cast("decimal(24,6)") * lit(1000000L).cast("decimal(7,0)"))
      .cast("bigint")
    val nWords = TextAnalysis.tokenCount(t)
    val fleschE6 = (TextAnalysis.fleschScore(t).cast("decimal(24,6)") *
      lit(1000000L).cast("decimal(7,0)")).cast("bigint")
    val dupFrac = lit(1.0) -
      size(array_distinct(toks)).cast("double") / size(toks)
    nWords >= minWords && fleschE6 >= minFleschE6 &&
      dupFrac <= maxDupFrac && entE6 >= minEntropyE6
  }

  /** End-to-end streaming curation gate — the stateless composition
    * of CurateCli's first stages, one fused narrow projection chain
    * (optional language allowlist → quality → optional
    * Gopher/C4/KN-perplexity rules → optional
    * classifier score → optional DSIR resampling
    * → winnow span-dedup → optional image phash → optional embedding
    * near-dup), no state
    * store, no shuffle, no watermark: a document survives iff it
    * passes the row-local x11 rules ([[qualityKeep]]), shares fewer
    * than `minShared` winnowed fingerprints with the corpus Bloom
    * ([[winnowGate]]), and — when an image lake is given — none of
    * its `hashCol` band keys collide ([[phashGate]], whose saturation
    * cap applies). Approximation contract is the conjunction of the
    * stage contracts: Bloom false positives only over-drop, so
    * survivors ⊆ the exact batch pipeline's keep set, with equality
    * at the default fpp on realistic corpora (spec-pinned ≡ the
    * batch x11 → d13 chain on the test corpus). */
  def curateGate(stream: DataFrame, corpusFps: DataFrame,
      textCol: String, corpusHashes: Option[DataFrame] = None,
      hashCol: String = "phash", minWords: Int = 20,
      minShared: Int = 2, fpp: Double = 1e-6,
      scoreWeights: Option[Array[Double]] = None,
      minScoreE6: Long = 500000L,
      dsirModel: Option[graft.operators.Curation.DsirModel] = None,
      idCol: String = "doc_id", gopher: Boolean = false,
      c4: Boolean = false,
      knModel: Option[(graft.operators.Curation.KnGateModel, Long)] =
        None,
      embedLake: Option[DataFrame] = None,
      embedCol: String = "embedding", embedTau: Double = 0.35,
      embedBands: Int = 16, embedBits: Int = 4, embedDim: Int = 64,
      embedSeed: String = "graft-rhp",
      langAllow: Option[Set[String]] = None,
      langMinHits: Int = 1): DataFrame = {
    // per-stage OBSERVABILITY (the d19 overflow-audit convention
    // applied to the ingest chain): each applied stage's surviving
    // row count rides the plan as an observe() metric — a streaming
    // run reads them from StreamingQueryProgress.observedMetrics, so
    // per-stage drop rates are visible per micro-batch instead of
    // opaque until the periodic batch reconciliation. Counting is a
    // partial-aggregated metric on rows already flowing; no extra
    // pass, no shuffle.
    def tap(df: DataFrame, stage: String): DataFrame =
      df.observe(s"gate_$stage", count(lit(1)).as("rows"))
    val in = tap(stream, "in")
    // language first: the cheapest cut, and every downstream signal
    // (perplexity, classifier, stopword quality) is language-bound
    val q00 = langAllow match {
      case Some(langs) =>
        tap(langGate(in, langs, textCol, langMinHits), "lang")
      case None => in
    }
    val q0 = tap(q00.filter(qualityKeep(textCol, minWords)), "quality")
    // the Gopher and C4 batteries ride the SAME expression trees as
    // the batch x19/x22 frames (Curation.gopherCols/c4Cols), so
    // gate ≡ batch by construction. The C4 gate is verdict-only —
    // the rewrite half stays a batch concern.
    val q1 = if (gopher)
      tap(q0.filter(graft.operators.Curation.gopherKeep(textCol)),
        "gopher")
      else q0
    val q2 = if (c4)
      tap(q1.filter(graft.operators.Curation.c4Keep(textCol)), "c4")
      else q1
    // the CCNet perplexity cut sits with the other quality signals,
    // before classifier scoring — (model, maxXentE6)
    val q = knModel match {
      case Some((m, cut)) => tap(knGate(q2, m, textCol, cut), "kn")
      case None => q2
    }
    val s = scoreWeights match {
      case Some(w) => tap(scoreGate(q, w, textCol, minScoreE6), "score")
      case None => q
    }
    // distribution shaping between the row-local rules and dedup —
    // the CurateCli --dsir-target stage's streaming position
    val ds = dsirModel match {
      case Some(m) => tap(dsirGate(s, m, idCol, textCol), "dsir")
      case None => s
    }
    val wg = tap(winnowGate(ds, corpusFps, textCol,
      minShared = minShared, fpp = fpp), "winnow")
    val ph = corpusHashes match {
      case Some(ch) => tap(phashGate(wg, ch, hashCol, fpp = fpp),
        "phash")
      case None => wg
    }
    // semantic near-dup over the stream's embedding sidecar column
    // (the CurateCli --semantic stage's streaming position; size the
    // geometry with rhpGeometry — the gate refuses saturation)
    // dim/seed thread through with the band geometry: a lake whose
    // vectors are not embedDim-dimensional would band every vector to
    // null and the gate would abort with a misleading "empty lake"
    embedLake match {
      case Some(lake) => tap(embedGate(ph, lake, embedCol, embedTau,
        bands = embedBands, bits = embedBits, dim = embedDim,
        seed = embedSeed), "embed")
      case None => ph
    }
  }

  /** Stateless DSIR importance-resampling gate — the streaming twin
    * of [[graft.operators.Curation.dsirResample]]: the lake-fitted
    * importance model ([[graft.operators.Curation.dsirModel]] — B
    * per-bucket log-ratios plus the epoch's self-normalization max)
    * ships into the stream as plan literals, and each arriving
    * document is kept iff its seeded draw clears
    * exp(logw − max)·10⁴ — the exact ds2 acceptance rule. logw is
    * recomputed IN-ROW: an `aggregate` fold over the document's
    * hashed feature windows summing literal-array lookups — no join,
    * no state, no shuffle; retraining is a stream restart with new
    * literals (the scoreGate convention applied to distribution
    * shaping). Documents with no feature windows (shorter than `gram`
    * tokens) pass through, matching the batch CurateCli stage where
    * unscored documents survive to dedup. Per-document float-sum
    * order differs from the batch (doc,bucket)-grouped sum by ~ulps;
    * an acceptance flip needs the integer draw to sit within ulps of
    * the rate — the ds2 oracle's own tolerance convention. */
  def dsirGate(stream: DataFrame,
      model: graft.operators.Curation.DsirModel,
      idCol: String, textCol: String): DataFrame = {
    import graft.operators.{Curation, Dedup}
    val lrLit = array(model.logRatios.map(lit).toIndexedSeq: _*)
    val feats = Curation.dsirFeatures(
      filter(split(trim(coalesce(col(textCol), lit(""))), "\\s+"),
        w => w =!= ""), model.gram)
    val logw = aggregate(feats, lit(0.0),
      (acc, w) => acc + element_at(lrLit,
        (Dedup.tokenHash32(w) % model.buckets + 1).cast("int")))
    stream.filter(size(feats) === 0 ||
      Curation.sampleDraw(model.seed, col(idCol)).cast("double") <
        exp(logw - lit(model.maxLogw)) * lit(10000.0))
  }

  /** Streaming EMBEDDING near-dup gate — the vector sibling of
    * [[phashGateExact]] and the row-local form of the d17 batch path
    * ([[graft.operators.Similarity.incrementalEmbedNewIndexed]]): the
    * lake's vectors are banded once under the SAME seeded
    * random-hyperplane geometry the batch family uses, the banded
    * index ships into the stream as expression literals backing a
    * per-instance hash map ([[graft.functions.EmbedNearDup]]), and an
    * arriving vector is dropped iff it shares a band with some lake
    * vector whose EXACT cosine reaches `threshold` — precisely the
    * batch match rule (band collision + cosine confirm, the same
    * index-order double arithmetic), made stateless: no join, no
    * state store, no shuffle.
    *
    * Contract: survivor set ≡ the uncapped batch path's on the same
    * geometry (spec-pinned); like every banding family here, a true
    * near-dup colliding in NO band is missed at the published
    * per-pair recall — size (bands, bits) with
    * [[graft.operators.Similarity.rhpGeometry]]. State is
    * vectors + bands×(long,int) entries (a 64-dim float lake vector
    * costs 256 B + 16×12 B at the 16×4 default — ~450 MB per million
    * vectors); beyond broadcast budget compose [[embedGateSharded]]
    * (survivor-identical, 1/N memory per gate) and lean on the
    * periodic batch d17 reconciliation as the long-term path.
    * Vectors with
    * null elements or a non-`dim` length produce no band keys and
    * SURVIVE, matching the batch probe's no-rows behavior. */
  def embedGate(stream: DataFrame, lakeVecs: DataFrame,
      vecCol: String, threshold: Double, bands: Int = 16,
      bits: Int = 4, dim: Int = 64, seed: String = "graft-rhp",
      maxAvgBucket: Int = 256): DataFrame = {
    import graft.operators.Similarity
    val planes = Similarity.hyperplanes(bands, bits, dim, seed)
    val keyed = bandLake(lakeVecs, vecCol, planes, bits)
    // a non-`dim` lake bands EVERY vector to null — distinguish that
    // from a genuinely empty lake, or the "empty lake" require below
    // misleads the caller into checking the wrong thing
    if (keyed.isEmpty && !lakeVecs.isEmpty)
      throw new IllegalArgumentException(
        s"embedGate: every lake vector banded to null — the lake is " +
          s"not $dim-dimensional (pass embedDim/dim matching the " +
          "lake's vectors)")
    applyEmbedGate(stream, vecCol, threshold, planes, bits,
      maxAvgBucket, keyed)
  }

  /** [[embedGate]] against an N-way hash-sharded lake — the
    * beyond-broadcast-budget composition (the phash sibling is
    * [[phashGateExactSharded]]): the lake partitions by a hash of the
    * vector itself, each shard bands under the SAME seeded geometry,
    * and the chained gates drop exactly the union of per-shard drops
    * — survivors ≡ the unsharded gate's (spec-pinned), because "is a
    * near-dup of the lake" is "∃ shard whose sub-lake matches". Each
    * gate's index (and its saturation accounting via `maxAvgBucket`)
    * covers lake/N vectors, so memory per gate divides by N while
    * per-vector work stays what one full-lake gate costs (band
    * probes are O(1); only genuine bucket collisions pay cosine).
    * Empty shards are identity stages and are skipped. Beyond what
    * sharding buys, the periodic batch reconciliation (d17) remains
    * the long-term path. */
  def embedGateSharded(stream: DataFrame, lakeVecs: DataFrame,
      vecCol: String, threshold: Double, nShards: Int,
      bands: Int = 16, bits: Int = 4, dim: Int = 64,
      seed: String = "graft-rhp", maxAvgBucket: Int = 256): DataFrame = {
    import graft.operators.Similarity
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val planes = Similarity.hyperplanes(bands, bits, dim, seed)
    var out = stream
    var nonEmpty = 0
    for (i <- 0 until nShards) {
      val keyed = bandLake(
        lakeVecs.filter(pmod(xxhash64(col(vecCol)), lit(nShards)) === i),
        vecCol, planes, bits)
      if (keyed.nonEmpty) {
        nonEmpty += 1
        out = applyEmbedGate(out, vecCol, threshold, planes, bits,
          maxAvgBucket, keyed)
      }
    }
    require(nonEmpty > 0,
      "empty lake: nothing to gate against (or a dimension mismatch " +
        s"banded every vector to null — gate dim is $dim)")
    out
  }

  /** Band the lake once under `planes` and collect one gate's
    * broadcast index — (vector, band-key array) per lake vector;
    * vectors of the wrong dimension band to null and drop out. */
  private def bandLake(lakeVecs: DataFrame, vecCol: String,
      planes: Array[Array[Float]],
      bits: Int): Array[(Array[Float], Seq[Long])] = {
    import org.apache.spark.sql.GraftColumns
    val keysCol = GraftColumns.column(graft.functions.RhpBandKeys(
      GraftColumns.expression(col("v")), planes, bits))
    lakeVecs.select(col(vecCol).as("v"))
      .select(col("v"), keysCol.as("ks"))
      .filter(col("ks").isNotNull)
      .collect() // bounded: the gate's broadcast index (see scaladoc)
      .map(r => (r.getSeq[Float](0).toArray, r.getSeq[Long](1)))
  }

  /** Persist the [[embedGate]] index — `<table>` holds one
    * (v, ks) row per lake vector (its band-key array alongside, so
    * vectors are stored ONCE, not once per band) and `<table>_meta`
    * the (bands, bits, dim, seed) geometry it was banded under: the
    * d14/t9 write-once economics for gate state — a stream restart
    * loads the banded artifact instead of re-projecting the whole
    * lake (the sf1 banding pass is the 20 s wall in BENCH_NOTES'
    * embedsweep; the load reads lake-count rows). */
  def writeEmbedGateIndex(spark: org.apache.spark.sql.SparkSession,
      lakeVecs: DataFrame, vecCol: String, table: String,
      bands: Int = 16, bits: Int = 4, dim: Int = 64,
      seed: String = "graft-rhp"): Unit = {
    import graft.operators.Similarity
    import org.apache.spark.sql.GraftColumns
    val planes = Similarity.hyperplanes(bands, bits, dim, seed)
    val keysCol = GraftColumns.column(graft.functions.RhpBandKeys(
      GraftColumns.expression(col("v")), planes, bits))
    // stale-location cleanup (the writeBucketed lesson)
    graft.operators.Bucketing.dropTableAndLocation(spark, table)
    graft.operators.Bucketing.dropTableAndLocation(spark,
      s"${table}_meta")
    lakeVecs.select(col(vecCol).as("v"))
      .select(col("v"), keysCol.as("ks"))
      .filter(col("ks").isNotNull)
      .write.mode("overwrite").saveAsTable(table)
    import spark.implicits._
    Seq((bands, bits, dim, seed)).toDF("bands", "bits", "dim", "seed")
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** APPEND newly-ingested vectors to a [[writeEmbedGateIndex]]
    * artifact — the l3 lake economics applied to gate state: the new
    * vectors are banded under the TABLE'S OWN meta geometry (never a
    * caller-supplied one — an index probed or extended with foreign
    * planes is silently wrong) and appended, so refreshing the gate
    * after an ingest batch costs one batch-sized banding pass instead
    * of re-projecting the whole lake. Result-identical to rebuilding
    * from the union (spec-pinned). */
  def appendEmbedGateIndex(spark: org.apache.spark.sql.SparkSession,
      newVecs: DataFrame, vecCol: String, table: String): Unit = {
    import graft.operators.Similarity
    import org.apache.spark.sql.GraftColumns
    val meta = spark.table(s"${table}_meta").head()
    val planes = Similarity.hyperplanes(meta.getInt(0), meta.getInt(1),
      meta.getInt(2), meta.getString(3))
    val keysCol = GraftColumns.column(graft.functions.RhpBandKeys(
      GraftColumns.expression(col("v")), planes, meta.getInt(1)))
    newVecs.select(col(vecCol).as("v"))
      .select(col("v"), keysCol.as("ks"))
      .filter(col("ks").isNotNull)
      .write.mode("append").saveAsTable(table)
  }

  /** Target-size COMPACTION for a long-lived [[writeEmbedGateIndex]]
    * artifact: every [[appendEmbedGateIndex]] lands at least one new
    * parquet file, so a frequently-refreshed index decays into the
    * small-files regime — each gate restart then pays per-file
    * listing/open/footer cost on hundreds of shards (the l2 lesson
    * applied to gate state). Rewrites the index at ~`targetBytes` per
    * file via a narrow shuffle-free coalesce; rows and the pinned
    * `_meta` geometry are untouched, so the compacted index is
    * result-identical to the uncompacted survivors (spec-pinned).
    * The frame is materialized BEFORE the table drop (it is
    * gate-sized by contract — the gate collects it wholesale), so
    * the rewrite never reads a location it just deleted. */
  def compactEmbedGateIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, targetBytes: Long = 128L << 20): Unit = Iter.scoped { s =>
    val compacted = s.materialize(graft.operators.Layout.compactToSize(
      spark.table(table), targetBytes))
    graft.operators.Bucketing.dropTableAndLocation(spark, table)
    compacted.write.mode("overwrite").saveAsTable(table)
  }

  /** [[embedGate]] against a [[writeEmbedGateIndex]] table —
    * survivor-identical by contract (spec-pinned): geometry comes
    * from the artifact's meta row, so the gate cannot be probed with
    * planes the index was not banded under. */
  def embedGateIndexed(stream: DataFrame,
      spark: org.apache.spark.sql.SparkSession, table: String,
      vecCol: String, threshold: Double,
      maxAvgBucket: Int = 256): DataFrame = {
    import graft.operators.Similarity
    val meta = spark.table(s"${table}_meta").head()
    val (bands, bits, dim, seed) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2),
        meta.getString(3))
    val planes = Similarity.hyperplanes(bands, bits, dim, seed)
    val keyed = spark.table(table).collect()
    applyEmbedGate(stream, vecCol, threshold, planes, bits,
      maxAvgBucket, keyed.map(r =>
        (r.getSeq[Float](0).toArray, r.getSeq[Long](1))))
  }

  private def applyEmbedGate(stream: DataFrame, vecCol: String,
      threshold: Double, planes: Array[Array[Float]], bits: Int,
      maxAvgBucket: Int,
      keyed: Array[(Array[Float], Seq[Long])]): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    require(keyed.nonEmpty, "empty lake: nothing to gate against")
    // the phashGate saturation refusal, vector edition: each band has
    // only 2^bits keys, so an under-sized geometry piles the lake
    // into every bucket and the "gate" degenerates to brute-force
    // cosine per arriving vector (measured 18x at 10^5 lake vectors
    // on the 16x4 default — BENCH_NOTES round 14)
    require(keyed.length.toDouble / (1L << bits) <= maxAvgBucket,
      f"embedGate: ${keyed.length} lake vectors over ${1L << bits} " +
        f"keys/band averages ${keyed.length.toDouble / (1L << bits)}%.0f " +
        f"per bucket (cap $maxAvgBucket) — size (bands, bits) with " +
        "Similarity.rhpGeometry for this lake")
    val vecs = new Array[Array[Float]](keyed.length)
    val entryKeys = scala.collection.mutable.ArrayBuffer.empty[Long]
    val entryVec = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < keyed.length) {
      vecs(i) = keyed(i)._1
      val ks = keyed(i)._2
      var b = 0
      while (b < ks.length) {
        entryKeys += (b.toLong << bits) | ks(b)
        entryVec += i
        b += 1
      }
      i += 1
    }
    // coalesce: a whole-NULL vector short-circuits the unary
    // expression to NULL, and filter(!NULL) would DROP the row — the
    // batch probe produces no band rows for it and keeps it
    stream
      .withColumn("__dup", coalesce(GraftColumns.column(
        graft.functions.EmbedNearDup(
          GraftColumns.expression(col(vecCol)), planes, bits,
          entryKeys.toArray, entryVec.toArray, vecs, threshold)),
        lit(false)))
      .filter(!col("__dup"))
      .drop("__dup")
  }

  /** Row-local (n_bigrams, xent_e6) under a bounded
    * [[graft.operators.Curation.KnGateModel]] — the streaming twin of
    * [[graft.operators.Curation.knBigramScore]]'s scoring (t13/t14's
    * CCNet-style perplexity signal), with the model as expression
    * literals backing an O(1) hash lookup
    * ([[graft.functions.KnScore]]) instead of the corpus-sized join
    * the batch form shuffles through. Per-bigram lnp is the EXACT
    * full-model value for the model's top-N transitions and the
    * model-wide min for everything else, so xent here ≥ the
    * full-model xent (the gate's ⊆ side).
    *
    * The per-document sum replays the batch arithmetic: distinct
    * bigrams are counted and their n·lnp products summed in sorted
    * bigram order — the same products the batch (doc,w1,w2)-grouped
    * aggregation sums; only the ADDITION order differs, which the e6
    * floor cut absorbs (the t13 precedent). */
  def knScoreCols(model: graft.operators.Curation.KnGateModel,
      textCol: String): (Column, Column) = {
    val scored = org.apache.spark.sql.GraftColumns.column(
      graft.functions.KnScore(
        org.apache.spark.sql.GraftColumns.expression(
          coalesce(col(textCol), lit(""))),
        model.bigrams.toSeq, model.lnUnseen))
    (scored.getField("n_bigrams"), scored.getField("xent_e6"))
  }

  /** Stateless CCNet-style perplexity gate — keep a document iff its
    * cross-entropy under the BOUNDED corpus KN model
    * ([[graft.operators.Curation.knGateModel]]) clears `maxXentE6` at
    * the e6 decimal cut. No join, no state, no shuffle: the model
    * rides the plan as a literal map (topN entries — size against
    * the broadcast budget like [[phashGateExact]]'s index);
    * retraining is a stream restart with new literals (the scoreGate
    * convention).
    *
    * Approximation contract: bounding the model can only RAISE a
    * document's xent (dropped/novel transitions floor to the
    * model-wide min lnp), so survivors are a SUBSET of the full-model
    * survivors — the gate never leaks a document the full t13 scoring
    * would cut, and equality holds when topN covers the corpus
    * (spec-pinned on the test corpus). Documents with < 2 tokens
    * score 0 and pass (the x17/dsirGate convention — unscored
    * documents survive to downstream stages). */
  def knGate(stream: DataFrame,
      model: graft.operators.Curation.KnGateModel, textCol: String,
      maxXentE6: Long): DataFrame =
    stream.filter(knScoreCols(model, textCol)._2 <= maxXentE6)

  /** Stateless LANGUAGE gate — keep a document iff the t3 n-gram
    * language heuristic ([[graft.functions.TextAnalysis.langId]] —
    * the SAME expression tree as the batch signal, so gate ≡ batch by
    * construction) lands in `allowed` AND its winning stopword-hit
    * count clears `minHits` (the confidence floor: a one-hit
    * "identification" on a thousand-word page is noise; "und" scores
    * 0 and never passes). Entirely row-local — one alternation scan
    * per language, no join, no state, no shuffle. */
  def langGate(stream: DataFrame, allowed: Set[String],
      textCol: String, minHits: Int = 1): DataFrame = {
    import graft.functions.TextAnalysis
    require(allowed.nonEmpty, "langGate: empty allowed set")
    require(allowed.subsetOf(
      TextAnalysis.LangStopwords.map(_._1).toSet),
      s"langGate: unknown language(s) " +
        (allowed -- TextAnalysis.LangStopwords.map(_._1).toSet))
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val t = coalesce(col(textCol), lit(""))
    val conf = greatest(TextAnalysis.LangStopwords.map { case (l, _) =>
      TextAnalysis.langScore(t, l) }: _*)
    stream.filter(
      TextAnalysis.langId(t).isInCollection(allowed) &&
        conf >= minHits)
  }

  /** Stateless classifier gate: keep a document iff its distilled
    * quality score σ(w·x) — [[graft.operators.LogReg]] weights as
    * plan literals, the lr1 feature recipe computed in-row from the
    * text — clears `minScoreE6` at the e6 decimal cut (the same cut
    * every score row exports, so the gate's threshold semantics are
    * bit-stable across engines and retries). The model-in-the-loop
    * stage of the curation gate: train offline on the lake
    * ([[graft.operators.LogReg.train]]), ship the weight vector into
    * the ingest stream as literals — no join, no state, no shuffle;
    * re-deploying a retrained model is a stream restart with new
    * literals. Zero-token documents score NaN and are dropped. */
  def scoreGate(stream: DataFrame, weights: Array[Double],
      textCol: String, minScoreE6: Long = 500000L): DataFrame = {
    import graft.operators.LogReg
    require(weights.length == 4,
      "scoreGate ships the 3-feature lr1 recipe: weights = [b,w1,w2,w3]")
    val t = coalesce(col(textCol), lit(""))
    val (f1, f2, f3) = LogReg.qualityFeatures(t, length(t))
    val scoreE6 = (LogReg.scoreOn(weights, Seq(f1, f2, f3))
      .cast("decimal(24,6)") * lit(1000000L).cast("decimal(7,0)"))
      .cast("bigint")
    stream.filter(scoreE6 >= minScoreE6)
  }
}

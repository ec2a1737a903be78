package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Curation, Dedup, Graph, Similarity, Sketches}
import graft.util.Tables

/** Training-data-pipeline operators (dedup, similarity search, text
  * analysis) over the `documents` and `embeddings` tables, each with a
  * DuckDB oracle. These are the beyond-reference operators the engine
  * adds for 100 TB pipelines (builder brief; SURVEY.md §7.2 step 7).
  *
  * The DuckDB SQL mirrors the Spark expression shape exactly (same hash
  * functions, same fold order for floating point) so results compare
  * bit-for-bit.
  */
object ScaleQueries {

  /** Shared DuckDB SQL fragment: cosine of two 64-dim float lists `A.B`,
    * accumulated in index order as doubles — matches Similarity.cosine. */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1,64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) /
       |  (sqrt(list_sum(list_transform(generate_series(1,64), i -> $a[i]::DOUBLE * $a[i]::DOUBLE))) *
       |   sqrt(list_sum(list_transform(generate_series(1,64), i -> $b[i]::DOUBLE * $b[i]::DOUBLE))))""".stripMargin

  /** d6's hyperplane matrix as DuckDB VALUES rows `(band, bit, r)` —
    * the SAME seeded ±1 planes Similarity.hyperplanes derives (16
    * bands × 4 bits, the rhpGeometry result at the sf0.01 verify
    * scale n=500), embedded as literals so the oracle's band keys are
    * bit-identical to graft.functions.RhpBandKeys. */
  private val d6PlaneRows: String = {
    val bits = 4
    Similarity.hyperplanes(16, bits, 64).zipWithIndex.map {
      case (plane, pj) =>
        val vals = plane.map(x => if (x > 0) "1.0" else "-1.0")
          .mkString(",")
        s"  (${pj / bits}, ${pj % bits + 1}, [$vals])"
    }.mkString(",\n")
  }

  /** Shared DuckDB SQL: distinct word-3-gram shingles of `documents.text`
    * as CTEs `base(id, sh)` — matches Dedup.shingles(k=3)+array_distinct. */
  private val shinglesCte: String =
    """base AS (
      |  SELECT doc_id AS id,
      |    list_transform(generate_series(1, greatest(len(toks)-2, 1)),
      |      i -> array_to_string(toks[i:i+2], ' ')) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents))""".stripMargin

  /** Runs `body` with `desc` as this thread's Spark job description,
    * cleared afterwards: the [[graft.util.Par.all]] threads outlive
    * the row and would label later jobs. */
  private def described[T](s: SparkSession, desc: String)(body: => T): T = {
    s.sparkContext.setJobDescription(desc)
    try body finally s.sparkContext.setJobDescription(null)
  }

  /** Shared d5/d7/d9 candidate pairs: word-3-gram Jaccard >= 0.7. */
  private def docPairs(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      k = 3, threshold = 0.7)

  /** d3's banding geometry at the sf0.01 verify scale (n = 500
    * documents) — the n-aware minhashGeometry result the Spark side
    * reproduces via its runtime count(), embedded here so the DuckDB
    * mirror below is generated from the SAME literals (d6 pattern). */
  private val (d3Bands, d3Rows) = Dedup.minhashGeometry(500L, 0.8)
  private val d3Hashes = d3Bands * d3Rows

  /** DuckDB `banded` CTE for d3: one UNION ALL arm per band, each
    * hashing its `d3Rows`-value slice of the signature. */
  private val d3BandedCte: String =
    (0 until d3Bands).map { b =>
      val lo = b * d3Rows + 1
      val hi = (b + 1) * d3Rows
      val sel = if (b == 0) s"SELECT id, 0 AS band, " else s"UNION ALL SELECT id, $b, "
      s"  $sel md5(array_to_string(sg[$lo:$hi], '|')) ${if (b == 0) "AS bh " else ""}FROM sig"
    }.mkString("\n")

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- deduplication ----
    "d1_exact_dedup" -> ((s, d) => {
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("text_hash"))
    }),

    "d2_minhash_sig" -> ((s, d) => {
      graft.functions.MinHashImpl.register(s)
      graft.functions.ShinglesImpl.register(s)
      Tables.documents(s, d)
        .withColumn("sh", expr("word_shingles(text, 3)"))
        .select(col("doc_id"),
          array_join(transform(expr("minhash_sig(sh, 16)"),
            _.cast("string")), "|").as("sig"))
        .orderBy(col("doc_id"))
    }),

    // Banding geometry scales with the corpus (d6 pattern): rows per
    // band grow with log n so background-similarity collisions — which
    // grow with n² at fixed rows and made the old 4×4 banding 9.9× per
    // 10× data at sf10 — stay bounded at ~32 colliders/doc/band, and
    // bands then grow per the recall formula to hold 0.9 at jaccard
    // 0.8. At the sf0.01 oracle scale (n=500) this reproduces exactly
    // the 5-band × 4-row geometry the DuckDB mirror embeds.
    "d3_lsh_neardup_pairs" -> ((s, d) => {
      Dedup.lshNearDupPairsSized(Tables.documents(s, d), "doc_id",
        "text", k = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "d4_simhash" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("hs", Dedup.tokenHashes(col("text")))
        .select(col("doc_id"),
          Dedup.simhashFromHashes(col("hs"), 32).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    "d5_ngram_jaccard" -> ((s, d) => {
      docPairs(s, d).orderBy(col("id_a"), col("id_b"))
    }),

    "d7_dup_clusters" -> ((s, d) => {
      Dedup.dupClusters(docPairs(s, d), "id_a", "id_b")
        .orderBy(col("member_id"))
    }),

    // D19 — asymmetric containment (quote detection): A's shingle set
    // ≥80% inside B's. Prefix-filtered inverted-index join — exact
    // recall, unlike d5's probabilistic min-hash block; posting lists
    // capped under the standing overflow-audit contract.
    "d19_containment_pairs" -> ((s, d) => {
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          k = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // NOTE: the oracle enumerates every in-bucket pair while the Spark
    // side inherits ngramJaccardPairs' maxBucket=1024 drop contract —
    // equivalent at oracle scale (buckets are tiny), and at corpus
    // scale the documented pipeline runs exact dedup first so
    // mass-duplicate buckets never reach the near-dup pass.
    "d9_cluster_survivors" -> ((s, d) => {
      Dedup.clusterSurvivors(
        Dedup.dupClusters(docPairs(s, d), "id_a", "id_b"),
        Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("cluster_id"))
    }),

    "d11_simhash_pairs" -> ((s, d) => {
      Dedup.simhashNearDupPairs(Tables.documents(s, d), "doc_id",
        "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D15 — SemDeDup semantic dedup: x6's deterministic first-16
    // centroid assignment, then intra-cell cosine pruning keeps only
    // the most central member of every semantic-duplicate group. Same
    // 0.35 cosine cut as d6 so the two near-dup families (LSH pairs vs
    // cluster-local pruning) are directly comparable on one corpus.
    "d15_semdedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val centroids: Array[Array[Float]] = e
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
        .orderBy(col("id")).limit(16)
        .collect().map(_.getSeq[Float](1).toArray)
      Dedup.semDedup(e, "vec_id", "embedding", centroids,
        threshold = 0.35)
        .orderBy(col("vec_id"))
    }),

    // D16 — incremental semantic dedup: the %5 batch-vs-lake split of
    // d10/d13 applied to d15's cell-local cosine cut. Lake members
    // always win; batch survivors are vectors with no τ-close lake
    // neighbor in their cell.
    "d16_incremental_semdedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val centroids: Array[Array[Float]] = e
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
        .orderBy(col("id")).limit(16)
        .collect().map(_.getSeq[Float](1).toArray)
      Dedup.incrementalSemDedup(
        e.filter(col("vec_id") % 5 === 0),
        e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", centroids, threshold = 0.35)
        .orderBy(col("vec_id"))
    }),

    // D17 — incremental embedding dedup against a PERSISTED
    // key-bucketed RHP index (the d14/t9 write-once pattern for the
    // vector family): lake band keys computed and shuffled once; each
    // batch pays its own projection + a bucket-local join. The oracle
    // replays the same 16×4 seeded hyperplanes (d6's literals), the
    // %5 split, and the cosine cut directly.
    "d17_embed_indexed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.writeRhpIndex(e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", "d17_rhp_idx", bands = 16, bits = 4)
      Similarity.incrementalEmbedNewIndexed(s, "d17_rhp_idx",
        e.filter(col("vec_id") % 5 === 0), "vec_id", "embedding",
        threshold = 0.35)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    "d10_incremental_new" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalNew(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), "text")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "d8_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.contamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 3)
        .orderBy(col("doc_id"))
    }),

    // Band geometry scales with the corpus along BOTH axes: bits grow
    // with log2(n/32) so buckets (and the quadratic in-bucket pair
    // expansion) stay bounded, and bands then grow per the banding
    // recall formula to hold expected recall 0.9 at the threshold —
    // seeded random hyperplanes, so bands are NOT capped by the
    // embedding dim (the old coordinate-slice keys had bands*bits <=
    // dim, which silently traded recall away as bits grew: 0.96 at
    // n=500 -> ~2% at n=50k). At the sf0.01 oracle scale (n=500) this
    // reproduces exactly the 16x4 geometry the DuckDB mirror
    // hardcodes; the count() is one cheap pre-job (count-star over
    // parquet metadata).
    "d6_embed_neardup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val n = e.count()
      val (bands, bits) = Similarity.rhpGeometry(n, threshold = 0.35)
      Similarity.lshNearDupPairs(e,
        "vec_id", "embedding", bands = bands, bits = bits,
        threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- similarity search ----
    "s1_knn_bruteforce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", k = 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    "s2_ann_signlsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annTopK(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", k = 5, bits = 8)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Recall-controlled ANN: same 16x4 seeded hyperplane matrix as d6
    // (the oracle embeds identical literals), per-neighbor recall
    // 1-(1-p^4)^16 — 0.9 floor at cosine 0.35, higher above it
    "s5_ann_rhp" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.rhpAnnTopK(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", k = 5, bands = 16, bits = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // S6 — scalar-quantized (SQ8) top-k: corpus encoded to 1-byte
    // codes, ADC scoring against exact queries. The oracle recomputes
    // the whole pipeline (per-dim bounds → codes → reconstruction →
    // cosine) in DuckDB, so a green row proves the quantization
    // arithmetic bit-for-bit, not just the ranking.
    "s6_sq8_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.sq8TopK(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", k = 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // S7 — product-quantization ADC top-k under the deterministic
    // first-ksub codebook (the PQ analog of s3's first-nlist IVF
    // quantizer): the oracle recomputes codebook → argmin codes →
    // reconstruction → cosine from the table itself, proving the
    // whole quantization chain bit-for-bit. The k-means-TRAINED
    // codebook path (pqCodebooks/pqTopKWith) is spec-gated instead.
    "s7_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pqTopK(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", k = 5, m = 8, ksub = 16)
        .orderBy(col("q_id"), col("rank"))
    }),

    // S8 — over-fetch + exact rerank, the production composition for
    // the quantized tier: s6's SQ8 ADC pipeline fetches 3k candidates,
    // then only those are re-scored with full-precision cosine. The
    // oracle replays both stages, so a green row proves the candidate
    // cut AND that reranked scores are bit-identical to exact cosine.
    "s8_sq8_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.sq8TopKRerank(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", k = 5, overfetch = 3)
        .orderBy(col("q_id"), col("rank"))
    }),

    "s3_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // S9 — IVF-PQ through the PERSISTED-index path: coarse first-nlist
    // cells (s3's deterministic quantizer) + first-ksub RESIDUAL
    // codebooks (s7's quantizer lifted to residuals), saved to parquet,
    // loaded back, then searched (probe 4 cells, ADC against
    // centroid + reconstructed residual). The oracle recomputes the
    // whole chain — assign → residual → codes → reconstruct → cosine —
    // so a green row proves the FAISS-layout arithmetic bit-for-bit
    // AND the index save/load round-trip; the k-means-TRAINED
    // quantizers stay spec-gated (ScaleOperatorsSpec).
    "s9_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val centroids: Array[Array[Float]] = e
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
        .orderBy(col("id")).limit(16)
        .collect().map(_.getSeq[Float](1).toArray)
      val (index, codebooks) = Similarity.ivfPqIndexFirst(
        e, "vec_id", "embedding", centroids, m = 8, ksub = 16)
      val dir = java.nio.file.Files.createTempDirectory("s9_ivfpq").toString
      Similarity.saveIvfPqIndex(index, centroids, codebooks, dir)
      val (idx, cent, cb) = Similarity.loadIvfPqIndex(s, dir)
      Similarity.ivfPqSearch(e.filter(col("vec_id") < 8), idx,
        "vec_id", "embedding", k = 5, cent, cb, nprobe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    "s4_kmeans" -> ((s, d) => {
      Similarity.kmeansSums(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8, iters = 2)
        .orderBy(col("cell"), col("dim"))
    }),

    // ---- text analysis ----
    "t1_token_stats" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
        length(col("text")).as("len_chars"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.regexTokenCount(col("text")).as("n_regex_tokens"))
        .orderBy(col("doc_id"))
    }),

    "t2_quality_score" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "t3_lang_id" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    "t4_fingerprint" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // T7 — the pure-SQL surface: every function here resolves from the
    // session registry installed by
    // spark.sql.extensions=graft.GraftExtensions (native codegen'd
    // expressions + inlined TextAnalysis composites). Green means a SQL/
    // JDBC-only user gets the same engine as the Column API, oracle-
    // checked: the DuckDB mirrors are the t1/t3/t4/d11/d2 formulas.
    "t7_sql_functions" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("documents_sql")
      s.sql("""SELECT doc_id,
        |  graft_token_count(text) AS n_tokens,
        |  graft_lang_id(text) AS lang_pred,
        |  graft_fingerprint(text) AS fp,
        |  simhash60(text) AS simhash,
        |  array_join(transform(minhash_sig(word_shingles(text, 3), 4),
        |    x -> cast(x AS string)), '|') AS sig4
        |FROM documents_sql ORDER BY doc_id""".stripMargin)
    }),

    "t5_top_ngrams" -> ((s, d) => {
      Curation.topNgrams(Tables.documents(s, d), "text", k = 2, topN = 50)
    }),

    "t6_repetition" -> ((s, d) => {
      Curation.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // X6 — cluster-balanced subsample (SemDeDup family): every vector
    // assigned to its nearest of 16 deterministic first-k centroids,
    // each cell keeps its 20 most central members. The oracle replays
    // assignment (cos DESC, cell ASC) and the per-cell cut
    // (cos DESC, id ASC) from the table itself.
    "x6_cluster_sample" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val centroids: Array[Array[Float]] = e
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
        .orderBy(col("id")).limit(16)
        .collect().map(_.getSeq[Float](1).toArray)
      Curation.clusterBalancedSample(e, "vec_id", "embedding",
        centroids, perCell = 20)
        .orderBy(col("cell"), col("rank"))
    }),

    // T8 — BM25 keyword retrieval over the documents table; "quantile"
    // is absent from the corpus (df = 0) and must contribute exactly
    // nothing on both engines. The idf's ln() is the one transcendental
    // in the oracle suite — neither JVM Math.log nor libm is correctly
    // rounded, so raw doubles differ by ~1 ulp across engines; the
    // score is therefore RANKED and CUT at 12 decimals (scoreScale = 12
    // inside bm25TopK; the oracle's ORDER BY applies the identical
    // CAST), so the top-10 set and its order are engine-portable even
    // at a 1-ulp rank-10/11 boundary. The COMPARED column is
    // representation-proof: the decimal(20,12) score is scaled to an
    // exact integer `score_e12 = score * 10^12` via decimal arithmetic
    // (decimal(24,12) × decimal(13,0) → decimal(38,12), exact — no
    // double rounding at the integer boundary) and emitted as BIGINT,
    // which hashes identically under any numeric canonicalization.
    // The top-10 CUT key itself remains the scale-12 decimal inside
    // bm25TopK — identical on both engines by construction (the ×10^12
    // rescale is monotone and exact), so cut and comparison agree; the
    // oracle orders by score_e12 directly for the same reason.
    "t8_bm25" -> ((s, d) => {
      Curation.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("spark", "vector", "hash", "quantile"), topN = 10,
        scoreScale = 12)
        .select(col("doc_id"), col("n_hits"),
          (col("score").cast("decimal(24,12)") *
            lit(1000000000000L).cast("decimal(13,0)"))
            .cast("bigint").as("score_e12"))
        .orderBy(col("score_e12").desc, col("doc_id"))
    }),

    // T9 — BM25 through the MATERIALIZED inverted index: tokenize
    // once into a term-bucketed posting table + 1-row stats, then the
    // query reads only its terms' buckets (bucket pruning, plan-gated
    // in CurationSpec) and re-enters the same scoring tail. The oracle
    // is t8's formula VERBATIM — index layout must be invisible in the
    // result.
    "t9_bm25_indexed" -> ((s, d) => {
      Curation.buildBm25Index(Tables.documents(s, d), "doc_id", "text",
        "t9_bm25_idx", nBuckets = 16)
      Curation.bm25TopKIndexed(s, "t9_bm25_idx",
        terms = Seq("spark", "vector", "hash", "quantile"), topN = 10,
        scoreScale = 12)
        .select(col("doc_id"), col("n_hits"),
          (col("score").cast("decimal(24,12)") *
            lit(1000000000000L).cast("decimal(13,0)"))
            .cast("bigint").as("score_e12"))
        .orderBy(col("score_e12").desc, col("doc_id"))
    }),

    // SK1 — HLL++ cardinality sketch, driver-checkable: the estimate
    // itself is sketch-implementation-specific (DuckDB cannot replay
    // Spark's HLL++), so the COMPARED columns are the exact distinct
    // count plus the error-envelope verdict — the oracle emits literal
    // TRUE, and a hash match proves every per-key estimate sat inside
    // 3·rsd of the exact count. The sketch run is the real operator
    // (one scan, partial-agg'd KB of state); the exact side is the
    // same source of truth the planning instrument is graded against.
    // SK3 — KMV (bottom-k) set-operation estimates: per-segment
    // sketches built once, every pairwise user-overlap estimated from
    // the 2·k-hash summaries alone. The Spark side computes BOTH the
    // exact overlaps and the sketch estimates and emits the envelope
    // verdict (the sk1/sk2 convention): the oracle recomputes the
    // exact side and a green row proves every estimate honored the
    // 6/√k·|A∪B| bound.
    "sk3_kmv_overlap" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val k = 256
      val sk = Sketches.kmvByKey(ev, "event_type", "user_id", k)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
        .toMap
      val du = ev.select(col("event_type"), col("user_id")).distinct()
      val perType = du.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val overlap = du.alias("x")
        .join(du.alias("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("ta"),
          col("y.event_type").as("tb"))
        .agg(countDistinct(col("x.user_id")).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val types = sk.keys.toSeq.sorted
      val rows = for { a <- types; b <- types if a < b } yield {
        val est = Sketches.kmvIntersect(sk(a), sk(b), k)
        val ex = overlap.getOrElse((a, b), 0L)
        val union = perType(a) + perType(b) - ex
        (a, b, ex,
          math.abs(est - ex) <= 6.0 / math.sqrt(k.toDouble) * union)
      }
      rows.toDF("type_a", "type_b", "exact_overlap", "within_envelope")
        .orderBy(col("type_a"), col("type_b"))
    }),

    "sk1_hll_envelope" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val approx = Sketches.approxDistinctByKey(
        ev, "event_type", "user_id", rsd = 0.05)
      val exact = ev.groupBy(col("event_type").as("et"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      approx.join(exact, col("event_type") === col("et"))
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct"))
            .cast("double") <=
            col("exact_distinct").cast("double") * lit(0.15))
            .as("within_3rsd"))
        .orderBy(col("event_type"))
    }),

    // SK2 — CountMinSketch token counts, driver-checkable on the same
    // envelope pattern: for the top-20 exact tokens, the sketch
    // estimate must be >= the exact count (the CMS one-sided
    // guarantee, deterministic) and <= exact + ceil(eps·N) (the
    // width bound at the fixed seed). Oracle recomputes the exact
    // top-20 and emits TRUE for both verdicts.
    "sk2_cms_envelope" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val eps = 0.001
      val sketch = Sketches.tokenCountSketch(docs, "text", eps = eps)
      val toks = docs.select(
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      val n = toks.count()
      val bound = math.ceil(eps * n).toLong
      val cms = Sketches.readSketch(sketch)
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      top.toSeq.map { case (t, c) =>
        val est = cms.estimateCount(t)
        (t, c, est >= c, est <= c + bound)
      }.toDF("token", "exact_n", "ge_exact", "within_eps")
        .orderBy(col("exact_n").desc, col("token"))
    }),

    // SK4 — Misra-Gries heavy hitters on the envelope pattern: for
    // the exact top-20 tokens, the summary may only UNDER-count
    // (le_exact), by at most floor(N/(k+1)) (within_bound), and any
    // token exceeding that bound must be present (survives_ok) —
    // k = 8 over a 31-token vocabulary so the decrement and
    // merge-prune paths both run hot. must_survive is data-derived
    // and the oracle recomputes it exactly; the verdicts are
    // guaranteed under any partitioning, which is what makes an
    // order-dependent summary oracle-checkable.
    "sk4_mg_envelope" -> ((s, d) => {
      import s.implicits._
      val k = 8
      val toks = Tables.documents(s, d).select(
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      val mg = Sketches.heavyHitterSummary(toks, "tok", k).toMap
      val n = toks.count()
      val bound = n / (k + 1)
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      top.toSeq.map { case (t, c) =>
        val est = mg.getOrElse(t, 0L)
        val mustSurvive = c > bound
        (t, c, mustSurvive, est <= c, c - est <= bound,
          !mustSurvive || mg.contains(t))
      }.toDF("token", "exact_n", "must_survive", "le_exact",
          "within_bound", "survives_ok")
        .orderBy(col("exact_n").desc, col("token"))
    }),

    // DS1 — DSIR importance scores: the doc_id%7=0 slice plays the
    // high-quality target; every raw doc gets Σ c_b·ln(p_b/q_b) over
    // 256 md5-hashed unigram buckets (the engine-shared tokenHash32,
    // so the oracle replays the bucketing literally). target_like is
    // derived from the e6-CUT score on both sides, so the boundary
    // decision can never split engines.
    "ds1_dsir_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cut = (col("logw").cast("decimal(24,6)") *
        lit(1000000L).cast("decimal(7,0)")).cast("bigint")
      Curation.dsirScores(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text")
        .select(col("doc_id"), col("n_tok"), cut.as("logw_e6"),
          (cut >= 0L).as("target_like"))
        .orderBy(col("doc_id"))
    }),

    // DS2 — ds1 materialized as one deterministic resampled epoch:
    // acceptance exp(logw − max) against the seeded md5 draw (the x14
    // gate convention: the draw-vs-rate comparison is the same float
    // formula on both sides).
    "ds2_dsir_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.dsirResample(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // DS3 — ds1 with the DSIR paper's default bigram features: the
    // sliding space-joined windows double the feature stream but the
    // model stays B rows; docs under 2 tokens drop on both engines.
    "ds3_dsir_bigram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.dsirScores(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", gram = 2)
        .select(col("doc_id"), col("n_tok"),
          (col("logw").cast("decimal(24,6)") *
            lit(1000000L).cast("decimal(7,0)")).cast("bigint")
            .as("logw_e6"))
        .orderBy(col("doc_id"))
    }),

    // SK5 — approximate quantiles (Spark's Greenwald-Khanna summary)
    // on the envelope pattern, completing the classic sketch set
    // (HLL, CMS, KMV, MG, quantiles). The GK guarantee: the returned
    // element's rank is within ±n/accuracy of the target rank, under
    // any partial-merge order — so the row carries the exact
    // ceil(q·n)-rank quantile (recomputed by the oracle) plus the
    // rank-window verdict, never the order-dependent estimate itself.
    "sk5_quantile_envelope" -> ((s, d) => {
      import s.implicits._
      val counts = Tables.documents(s, d).select(
        size(filter(split(trim(col("text")), "\\s+"), w => w =!= ""))
          .cast("long").as("v"))
      val n = counts.count()
      val acc = 1000
      val qs = Seq(0.25, 0.5, 0.75)
      val ests = counts.agg(percentile_approx(col("v"),
          array(qs.map(lit): _*), lit(acc)).as("e"))
        .first().getSeq[Long](0)
      // exact rank→value via the distinct-value histogram: one
      // partial-aggregated groupBy (the frame is |distinct lengths|
      // rows), cumulated on the driver — no corpus-sized TakeOrdered,
      // no int-bounded limit(k)
      val hist = counts.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .orderBy(col("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      def valueAtRank(k: Long): Long = {
        var cum = 0L
        hist.find { case (_, c) => cum += c; cum >= k }
          .map(_._1).getOrElse(hist.last._1)
      }
      qs.zip(ests).map { case (q, est) =>
        // the estimate's exact rank range in the sorted multiset
        val below = hist.takeWhile(_._1 < est).map(_._2).sum
        val upto = hist.takeWhile(_._1 <= est).map(_._2).sum
        val target = q * n
        val eps = n.toDouble / acc
        val ok = (below + 1).toDouble <= target + eps &&
          upto.toDouble >= target - eps
        val exactV = valueAtRank(math.max(1L, math.ceil(q * n).toLong))
        ((q * 100).toInt, exactV, ok)
      }.toDF("q_pct", "exact_v", "within_rank_eps")
        .orderBy(col("q_pct"))
    }),

    // X17 — cross-document duplicated 8-gram fraction: how much of
    // each document is text appearing elsewhere in the corpus (the
    // corpus-wide companion of x10's intra-doc repetition; the signal
    // RefinedWeb-style span stripping cuts on).
    "x17_dup_ngram_frac" -> ((s, d) => {
      Curation.dupNgramFraction(Tables.documents(s, d), "doc_id",
        "text").orderBy(col("doc_id"))
    }),

    // X18 — corpus-wide duplicated-span stripping (the rewrite twin of
    // x17): tokens covered by any cross-document duplicated 8-gram are
    // removed and survivors re-joined in order; the row ships an md5 of
    // the cleaned text so the hash compare covers the full rewrite.
    "x18_strip_dup_spans" -> ((s, d) => {
      Curation.stripDupSpans(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // X16 — PSI drift between the even- and odd-id corpus halves over
    // token-count buckets (div 100, capped at 9): per-bucket counts
    // plus the Laplace-smoothed (p−q)ln(p/q) term, e9-cut. The halves
    // of one corpus are near-identical, so the terms hover at zero —
    // the spec plants real drift to prove the monitor moves.
    "x16_drift_psi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bucketed = docs.select(col("doc_id"),
        least(expr(
          "size(filter(split(trim(text), '\\\\s+'), w -> w != '')) div 100"),
          lit(9)).cast("int").as("bucket"))
      Curation.driftPsi(
          bucketed.filter(col("doc_id") % 2 === 0),
          bucketed.filter(col("doc_id") % 2 === 1),
          "bucket", nBuckets = 10)
        .select(col("bucket"), col("ref_n"), col("cur_n"),
          (col("psi").cast("decimal(24,9)") *
            lit(1000000000L).cast("decimal(10,0)")).cast("bigint")
            .as("psi_e9"))
        .orderBy(col("bucket"))
    }),

    // ---- corpus curation ----
    "x1_stratified_sample" -> ((s, d) => {
      Curation.stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
        rates = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2),
        defaultRate = 0.1, seed = "42")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "x2_shuffle_shards" -> ((s, d) => {
      Curation.shuffleShards(Tables.documents(s, d), "doc_id",
        nShards = 8, seed = "42")
        .orderBy(col("shard"), col("pos"))
    }),

    "x3_pack_sequences" -> ((s, d) => {
      Curation.packSequences(Tables.documents(s, d), "doc_id", "text",
        nShards = 8, budget = 2048L, seed = "42")
        .orderBy(col("shard"), col("bin"), col("pos"))
    }),

    "x4_mix_weights" -> ((s, d) => {
      Curation.mixtureWeights(Tables.documents(s, d), "source", "text",
        alpha = 0.5)
        .orderBy(col("source"))
    }),

    // X14 — x4's weights MATERIALIZED as one deterministic epoch:
    // per-source hash gate at the temperature-scaled rate. The oracle
    // composes x4's rate CTEs with x1's seeded-md5 gate verbatim.
    "x14_mixture_sample" -> ((s, d) => {
      Curation.mixtureSample(Tables.documents(s, d), "doc_id",
        "source", "text")
        .orderBy(col("doc_id"))
    }),

    // X15 — concat-and-chunk offsets: every document's exact
    // token-range in the virtual concatenated stream (global order =
    // (doc_id div 50, doc_id) — an order-preserving bucket so the
    // prefix sum is the two-phase distributed scan, not one global
    // window task). Oracle: a plain ordered window cumsum — bucket
    // decomposition must be invisible in the result.
    "x15_chunk_offsets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counted = docs.select(col("doc_id"),
        size(filter(split(trim(col("text")), "\\s+"), w => w =!= ""))
          .cast("bigint").as("n_tok"))
      Curation.concatChunkOffsets(counted, "doc_id", "n_tok",
          expr("doc_id div 50"), seqLen = 512)
        .orderBy(col("doc_id"))
    }),

    "x5_packed_payloads" -> ((s, d) => {
      Curation.packedPayloads(Tables.documents(s, d), "doc_id", "text",
        nShards = 8, budget = 2048L, seed = "42")
        .orderBy(col("shard"), col("bin"))
    }),

    // X7 — per-source quota cap ranked by the t2 quality score: one
    // window shuffle on the stratum, output bounded at quota·|strata|.
    // The rank key is the raw double (t2 proves both engines produce
    // bit-identical quality doubles — same operand order); the
    // COMPARED column is the t8-style exact decimal scale.
    "x7_quota_cap" -> ((s, d) => {
      Curation.quotaCap(Tables.documents(s, d), "doc_id", "source",
        TextAnalysis.qualityScore(col("text")), quota = 20)
        .select(col("doc_id"), col("source"), col("rk"),
          (col("score").cast("decimal(24,12)") *
            lit(1000000000000L).cast("decimal(13,0)"))
            .cast("bigint").as("score_e12"))
        .orderBy(col("source"), col("rk"))
    }),

    // X8 — PII redaction. The synthetic corpus carries no PII, so the
    // query plants a deterministic doc_id-derived suffix (one email
    // always; URL/IP/phone/SSN on modular conditions) and the oracle
    // rebuilds the identical dirty text — the counts and the redacted
    // md5 then exercise every pattern class non-degenerately.
    "x8_pii_redact" -> ((s, d) => {
      val id = col("doc_id")
      def st(c: org.apache.spark.sql.Column) = c.cast("string")
      val dirty = concat(
        col("text"),
        lit(" u"), st(id), lit("@mail"), st(id % 5), lit(".example.com"),
        when(id % 2 === 0, concat(lit(" see https://ex"), st(id % 9),
          lit(".org/p/"), st(id))).otherwise(lit("")),
        when(id % 3 === 0, concat(lit(" from 10.0."), st(id % 256),
          lit("."), st((id * 7) % 256))).otherwise(lit("")),
        when(id % 4 === 1, concat(lit(" tel 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad(((id * 3) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(id % 5 === 2, concat(lit(" sin 123-45-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
      Curation.redactPii(
          Tables.documents(s, d).withColumn("dirty", dirty), "dirty")
        .select(col("doc_id"), col("n_url"), col("n_email"),
          col("n_ipv4"), col("n_phone"), col("n_ssn"),
          md5(col("redacted")).as("red_md5"))
        .orderBy(col("doc_id"))
    }),

    // X9 — cross-document boilerplate-line removal over 8-token
    // re-lineated documents; minDocs=2 so the corpus' repeated phrase
    // windows actually trigger (153 boilerplate lines at sf0.01).
    "x9_boilerplate" -> ((s, d) => {
      Curation.boilerplateLines(Tables.documents(s, d), "doc_id",
        "text", lineTokens = 8, minDocs = 2)
        .orderBy(col("doc_id"))
    }),

    // T10 — token-entropy quality signal; decimal e6 cut, shared-ln2
    // constant (see Curation.tokenEntropy scaladoc).
    "t10_token_entropy" -> ((s, d) => {
      Curation.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // T11 — Flesch readability signal over native run-count scans
    // (vowel runs ~ syllables, terminator runs ~ sentences); the
    // oracle keeps the regex forms of both scans, so a green row is a
    // char-for-char equivalence proof for the native expressions.
    // Decimal e6 cut on the score (the t10 pattern).
    "t11_readability" -> ((s, d) => {
      import graft.functions.TextAnalysis
      val t = col("text")
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(t).cast("bigint").as("n_words"),
        TextAnalysis.sentenceCount(t).cast("bigint").as("n_sentences"),
        TextAnalysis.syllableCount(t).cast("bigint").as("n_syllables"),
        (TextAnalysis.fleschScore(t).cast("decimal(24,6)") *
          lit(1000000L).cast("decimal(7,0)")).cast("bigint")
          .as("flesch_e6"))
        .orderBy(col("doc_id"))
    }),

    // T12 — corpus char-bigram LM cross-entropy (the CCNet perplexity
    // signal's engine-reproducible floor): model trained on the corpus
    // itself with Laplace smoothing, every document scored against it.
    // e6 decimal cut (the t10 pattern).
    "t12_charlm" -> ((s, d) => {
      Curation.charLmScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // X12 — leakage-safe split: documents assigned to train/val/test
    // by the seeded hash of their d7 duplicate-cluster representative,
    // so near-dup pairs can never straddle a split boundary.
    "x12_leak_split" -> ((s, d) => {
      Curation.leakSafeSplit(Tables.documents(s, d), "doc_id",
        Dedup.dupClusters(docPairs(s, d), "id_a", "id_b"))
        .orderBy(col("doc_id"))
    }),

    // G1 — damped PageRank over the customer→supplier order graph
    // (edges = orders ⋈ lineitem; suppliers offset by 1e6 to keep the
    // bipartite id spaces disjoint), 5 power-iteration rounds. The
    // oracle unrolls the iterations as chained CTEs with the exact
    // double arithmetic ((1.0 - 0.85) mirrored as a subtraction, not a
    // 0.15 literal — the two differ by 1 ulp), e12 decimal cut.
    // G3 — exact triangle count over the CO-SUPPLIER graph (suppliers
    // sharing an order — each order's supplier set is a clique, so
    // the graph is triangle-rich): the forward algorithm's
    // degree-ordered orientation bounds the wedge explosion at
    // O(m^1.5) regardless of hub skew. Per-node participation out;
    // global count = sum/3.
    "g3_triangles" -> ((s, d) => {
      // a 10% order sample: the full co-supplier graph is output-
      // dense by construction (supplier count grows 10x slower than
      // orders, so avg degree ~n_orders/n_supp·7 — 124M triangles and
      // a 76 s row at sf0.1; the sweep records the full-graph walls)
      val li = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("s1"), col("b.l_suppkey").as("s2"))
      Graph.triangleCount(e, "s1", "s2")
        .select(col("node").cast("bigint").as("node"),
          col("n_triangles"), col("deg"), col("cc_e6"))
        .orderBy(col("node"))
    }),

    // G4 — DOULION approximate triangle count on g3's graph: a
    // deterministic md5 edge gate at p = 0.5, exact counting on the
    // sample, 1/p³ scale-up. Exact count priced in-row (the sk1
    // envelope convention: estimate AND truth on one row, with the
    // relative-error verdict as a column the oracle replays
    // bit-for-bit — the gate is a hash, not a coin, so the estimate
    // is a fixed fact of the corpus).
    "g4_triangle_estimate" -> ((s, d) => graft.util.Iter.scoped { scope =>
      val li = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      // the co-supplier self-join is the expensive shared front —
      // materialized ONCE so the exact and sampled passes both read
      // the checkpoint instead of re-running the join (the g4
      // double-derivation finding from the r14 verdict, fixed at the
      // sharing point)
      val e = scope.materialize(
        li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_suppkey") < col("b.l_suppkey"))
          .select(col("a.l_suppkey").as("s1"),
            col("b.l_suppkey").as("s2")))
      // exact and sampled counts are independent multi-action chains —
      // overlap them (guide §2.6); each is deterministic, so the
      // emitted row is unchanged
      val Seq(exact, approx) = graft.util.Par.all(
        () => described(s, "g4: exact count") {
          Graph.triangleCount(e, "s1", "s2")
            .agg((sum(col("n_triangles")) / 3).cast("bigint")
              .as("exact_triangles"))
        },
        () => described(s, "g4: doulion estimate") {
          Graph.triangleCountApprox(e, "s1", "s2", p = 0.5, seed = "g4")
        })
      approx.crossJoin(exact)
        .select(col("exact_triangles"), col("sampled_edges"),
          col("sampled_triangles"), col("est_triangles"),
          (abs(col("est_triangles") - col("exact_triangles"))
            .cast("double") <=
            col("exact_triangles").cast("double") * lit(0.25))
            .as("within_25pct"))
    }),

    // G5 — connected components as a first-class graph row: the
    // part co-occurrence graph (parts sharing an order, l_orderkey %
    // 80 — 53 components over 615 nodes at the oracle SF, a giant
    // component plus a long small tail) labeled by pointer-doubling
    // min-propagation, emitted as per-component sizes. The oracle
    // computes min-reachable-node per node via a recursive
    // transitive-closure CTE — exact, feasible at oracle scale
    // because components are node-bounded.
    "g5_components" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 80 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .distinct()
      Graph.connectedComponents(e, "p1", "p2")
        .groupBy(col("component"))
        .agg(count(lit(1)).cast("bigint").as("n_members"))
        .orderBy(col("component"))
    }),

    // G6 — k-core of the g5 graph (k=4, 6 peeling rounds — fixpoint
    // at 3 on this corpus, post-fixpoint rounds are no-ops so
    // exactly-6 and until-fixpoint agree): the dense-region
    // extractor, emitted as each core member with its IN-CORE
    // degree. The oracle unrolls the 6 peels as chained CTEs (the
    // g1/b1 round convention) — each round two survivor joins + a
    // HAVING on the recomputed degree.
    "g6_kcore" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 80 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .distinct()
      Graph.kCore(e, "p1", "p2", k = 4, peels = 6)
        .orderBy(col("node"))
    }),

    "g1_pagerank" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      Graph.pageRank(e, "src", "dst", iters = 5)
        .select(col("node"),
          (col("rank").cast("decimal(24,12)") *
            lit(1000000000000L).cast("decimal(13,0)")).cast("bigint")
            .as("rank_e12"))
        .orderBy(col("node"))
    }),

    // G2 — the dangling-redistribution PageRank variant as its own
    // driver-checked row, on the same orders⋈lineitem graph as g1 —
    // where EVERY supplier node is dangling (suppkey+1M never appears
    // as a src), so the recycled mass is the whole supplier side and
    // the per-round dangling aggregate is genuinely exercised.
    "g2_pagerank_redistributed" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      Graph.pageRank(e, "src", "dst", iters = 5,
        redistributeDangling = true)
        .select(col("node"),
          (col("rank").cast("decimal(24,12)") *
            lit(1000000000000L).cast("decimal(13,0)")).cast("bigint")
            .as("rank_e12"))
        .orderBy(col("node"))
    }),

    // X13 — WebDataset tar-shard round trip: documents stream into
    // deterministic POSIX ustar shards (the training-data delivery
    // format) and come back through the binaryFile scan + row-local
    // parse. The oracle recomputes each doc's seeded shard and content
    // md5 directly from the table — a green row proves REAL archive
    // write+parse with content equality and the exact x2 shard layout.
    "x13_tar_roundtrip" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("x13_tar")
        .toString
      graft.sources.TarShards.write(
        Tables.documents(s, d).select(
          col("doc_id").cast("string").as("name"),
          encode(col("text"), "UTF-8").as("payload")),
        "name", "payload", dir, nShards = 8)
      graft.sources.TarShards.read(s, dir)
        .select(col("name").cast("long").as("doc_id"), col("shard"),
          md5(col("bytes")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // X10 — Gopher n-gram repetition fractions (char mass of the
    // heaviest bigram; chars inside duplicated 5-grams). The oracle
    // replays word_shingles' short-document fallback with truncating
    // list slices.
    "x10_ngram_repetition" -> ((s, d) => {
      Curation.ngramRepetitionStats(Tables.documents(s, d), "doc_id",
        "text")
        .orderBy(col("doc_id"))
    }),

    // X11 — composite quality-filter pipeline: keep/drop verdict plus
    // the first failing rule as an auditable reason code. All four
    // thresholds cut on cross-engine-exact values (integer counts, e6
    // decimals, a double ratio of exact integers).
    "x11_quality_filter" -> ((s, d) => {
      Curation.qualityFilter(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // T13 — interpolated Kneser–Ney token-bigram cross-entropy: the
    // CCNet-style perplexity quality signal without an external LM
    // toolchain. Self-scoring the training corpus, so every context
    // is observed (no OOV branch); low scores = rare transitions.
    "t13_kn_bigram" -> ((s, d) => {
      Curation.knBigramScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // X21 — CCNet text normalization: accent strip → lower →
    // digits→0 → strip ASCII punctuation → collapse whitespace, in
    // that order; md5 of the normal form doubles as the dedup key.
    "x21_normalize" -> ((s, d) => {
      Curation.normalizeText(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), length(col("norm_text")).cast("bigint")
          .as("n_chars_norm"), col("norm_md5"))
        .orderBy(col("doc_id"))
    }),

    // T14 — CCNet head/middle/tail perplexity buckets: t13's KN
    // scores cut at each language's exact 1/3 and 2/3 quantiles
    // (broadcast B-row thresholds, never a corpus-wide ntile sort).
    "t14_ppl_buckets" -> ((s, d) => {
      Curation.perplexityBuckets(Tables.documents(s, d), "doc_id",
        "text", "lang")
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // X22 — the C4 rule set (Raffel et al. 2020 §2.2): line-granular
    // terminal-punctuation/min-words/javascript retention + the
    // lorem-ipsum/curly-brace page drops, with the cleaned text's
    // md5. The synthetic corpus has no line structure or punctuation,
    // so every page degenerates to keep=false with zero kept lines —
    // the row pins that arithmetic exactly; the crafted-fixture spec
    // carries the rich semantics.
    "x22_c4_rules" -> ((s, d) => {
      Curation.c4Rules(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // X19 — the Gopher rule set (Rae et al. 2021 Appendix A): the
    // published heuristic battery with every measured value exported
    // alongside the verdict, entirely row-local (zero shuffles — the
    // cheapest full-corpus pass). The oracle replays each rule's
    // arithmetic on the same whitespace tokens and trimmed lines.
    "x19_gopher_rules" -> ((s, d) => {
      Curation.gopherRules(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // D14 — incremental span dedup against a PERSISTED fp-bucketed
    // winnow index (the t9 write-once/check-many pattern): the oracle
    // is d13's SQL verbatim, so a green row proves the indexed path is
    // result-identical to the recompute path.
    "d14_winnow_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.writeWinnowIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        "d14_winnow_idx")
      Dedup.incrementalWinnowIndexed(s, "d14_winnow_idx",
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // D13 — incremental duplicate-span dedup: batch docs (doc_id%5=0)
    // surviving a >= 2-shared-winnowed-fingerprint check against the
    // corpus (doc_id%5<>0); the d10 split with span semantics.
    "d13_incremental_winnow" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalWinnowNew(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // E6 — the streaming winnow ingest gate replayed on batch (the
    // e-family promotion convention): the corpus fingerprint set
    // compacts to the PRODUCTION Bloom and each batch doc tests its
    // own fingerprint array row-locally — same split, same minShared
    // as d13, so the exact d13 oracle pins the Bloom path end to end
    // (fingerprint expression, Bloom build, codegen'd membership fold).
    // E11 — streaming CCNet-style perplexity gate: the corpus-trained
    // KN bigram model bounded to its top-2000 transitions (+ min-lnp
    // unseen floor) ships into the gate as literals; stream docs
    // (doc_id%5=0) survive iff their bounded xent clears the cut.
    // Bounding only RAISES xent, so survivors ⊆ full-model survivors.
    "e11_kn_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Curation.knGateModel(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        topN = 2000)
      val (nb, xe) = graft.streaming.IngestGate.knScoreCols(model, "text")
      docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), nb.as("n_bigrams"), xe.as("xent_e6"))
        .filter(col("xent_e6") <= lit(3410000L))
        .orderBy(col("doc_id"))
    }),

    // E12 — streaming embedding near-dup gate: the lake banded once
    // under d17's seeded hyperplane geometry, the index shipped into
    // the stream as literals backing a hash map, arriving vectors
    // dropped on band collision + exact cosine >= 0.35 — the batch
    // d17 rule made row-local (spec pins gate == batch survivors).
    "e12_embed_gate" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val lake = e.filter(col("vec_id") % 5 =!= 0)
      // geometry sized to the lake (the d6 convention): at the
      // sf0.01 oracle scale (lake 400) this reproduces exactly the
      // 16x4 geometry the DuckDB mirror hardcodes, and at bigger SFs
      // the row keeps running instead of tripping the saturation
      // refusal the fixed default would hit
      val (bands, bits) =
        Similarity.rhpGeometry(lake.count(), threshold = 0.35)
      graft.streaming.IngestGate.embedGate(
        e.filter(col("vec_id") % 5 === 0),
        lake, "embedding", 0.35, bands = bands, bits = bits)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // E13 — stateless language gate: the t3 heuristic as an
    // allowlist cut with a stopword-hit confidence floor (one-hit
    // identifications are noise; 'und' never passes). Same expression
    // tree as t3, so gate ≡ batch by construction.
    "e13_lang_gate" -> ((s, d) => {
      graft.streaming.IngestGate.langGate(
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
        Set("en"), "text", minHits = 2)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.langId(col("text"))
            .as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // E14 — TRIEST-style streaming triangle estimate: a bounded
    // bottom-m seeded-priority edge reservoir (order-independent, so
    // the batch fold here IS the state any micro-batch split reaches
    // — spec-pinned), exact count on the reservoir, unbiased
    // t(t-1)(t-2)/(m(m-1)(m-2)) scale-up. Same co-supplier graph as
    // g3/g4; m = 1000 of ~4.4k edges at the oracle SF, so the
    // sampling path (not the t <= m exact path) is what's checked.
    "e14_triangle_stream" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("s1"), col("b.l_suppkey").as("s2"))
      graft.streaming.TriangleStream.triangleEstimateReservoir(
        e, "s1", "s2", m = 1000, seed = "e14")
    }),

    // E15 — streaming heavy-hitter gate: count-min counters (pure
    // additive — order/merge/retry-independent, unlike Misra-Gries,
    // which stays envelope-only as sk4) folded per day-epoch; each
    // epoch emits its keys whose sketch estimate clears the exact
    // integer threshold est·1000 ≥ 8·n_prefix. d=4×w=256 over 150
    // user keys: collisions exist (est ≥ exact is the spec envelope)
    // but the decision replays bit-exactly from the md5 cell hashes.
    "e15_hh_gate" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        dayofmonth(col("ts")).cast("long").as("batch"),
        col("user_id"))
      graft.streaming.HeavyHitterStream.heavyHittersBatch(
          ev, "user_id", "batch",
          d = 4, w = 256, thetaPermille = 8, seed = "e15")
        .select(col("batch"), col("key").cast("bigint").as("user_id"),
          col("est"), col("n_prefix"))
        .orderBy(col("batch"), col("user_id"))
    }),

    // E16 — streaming distinct-count gate: 64 HLL registers (a
    // per-bucket MAX — commutative, idempotent, merge-tree-invariant;
    // duplicates absorbed free) folded per day-epoch, each epoch
    // emitting the prefix's distinct-user estimate. The float recipe
    // is pinned (2^-reg terms as exact shift-divide doubles summed in
    // bucket order, linear-counting branch on integer V), so the
    // oracle replays every estimate bit-exactly — the e-family's
    // DISTINCT sibling of e15's additive counts.
    "e16_hll_gate" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        dayofmonth(col("ts")).cast("long").as("batch"),
        col("user_id"))
      graft.streaming.CardinalityStream.distinctEstimateBatch(
          ev, "user_id", "batch", seed = "e16")
        .orderBy(col("batch"))
    }),

    // E17 — streaming drift gate: each day-epoch's user-bucket
    // distribution PSI-scored against the FIRST epoch (the pinned
    // reference — the gate family's only cross-epoch state here).
    // The x16 Laplace-smoothed terms replayed per bucket, summed as
    // the e16 ordered left fold; emits (epoch, n, psi_e9, drifted).
    "e17_psi_gate" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        dayofmonth(col("ts")).cast("long").as("batch"),
        (col("user_id") % 10).cast("int").as("bucket"))
      graft.streaming.DriftStream.psiGateBatch(ev, "bucket", "batch",
          nBuckets = 10, psiThreshold = 0.05)
        .orderBy(col("batch"))
    }),

    "e6_winnow_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.IngestGate.winnowGate(
        docs.filter(col("doc_id") % 5 === 0),
        Dedup.winnowedFingerprints(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"),
        "text")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // D20 — EXACT duplicated-substring spans (Lee et al. ExactSubstr):
    // maximal character intervals covered by a 35-char substring
    // occurring >= 2 times corpus-wide — the suffix-array-grade exact
    // sibling of d12's winnowing and x18's stripping, via the sorted
    // k-gram table + run-merge (group-count + semi-join; no pair
    // stage at any duplication rate).
    "d20_exact_spans" -> ((s, d) => {
      Dedup.exactDupSpans(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"), col("start"))
    }),

    // D21 — incremental exact-substring spans: batch docs (doc_id%5=0)
    // against the corpus (doc_id%5<>0) — presence in the corpus gram
    // set is the mark, no count stage.
    "d21_incremental_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalExactSpans(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
        .orderBy(col("doc_id"), col("start"))
    }),

    // D22 — the same check against a PERSISTED bucketed gram index
    // (the d14 write-once convention; d21's oracle proves identity).
    "d22_spans_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.writeGramIndex(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", "d22_gram_idx")
      Dedup.incrementalExactSpansIndexed(s, "d22_gram_idx",
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy(col("doc_id"), col("start"))
    }),

    // X23 — exact duplicated-span stripping: remove precisely the
    // d20 intervals from each document, keep the rest byte-for-byte
    // (the rewrite half of Lee et al.'s ExactSubstr).
    "x23_strip_exact" -> ((s, d) => {
      Curation.stripExactSpans(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // X24 — KEEP-FIRST exact-span stripping (C4/Raffel "discard all
    // but one"): the smallest-(doc,pos) occurrence of each duplicated
    // 35-char run is canonical and survives; every other occurrence
    // strips. kept_chars >= x23's per doc by construction.
    "x24_strip_keep_first" -> ((s, d) => {
      Curation.stripExactSpansKeepFirst(Tables.documents(s, d),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // D12 — winnowed duplicate-span pairs: documents sharing >= 2
    // winnowed fingerprints, i.e. provably sharing >= 35-char verbatim
    // runs (k=24, w=12). The oracle recomputes the 60-bit md5-prefix
    // hashes, replays the window minima as a native window function
    // (positions filtered to full windows — same set as the slice
    // formulation), and applies the identical bucket cap.
    "d12_winnow_pairs" -> ((s, d) => {
      Dedup.winnowedDupPairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // S10 — PCA top-component projection: one GramSum pass → driver
    // covariance + 8 fixed power-iteration rounds → narrow projection.
    // The oracle rebuilds the moments in SQL and unrolls the identical
    // arithmetic recipe (ones/√dim start, ascending sums, per-round
    // L2 normalization) — no eigensolver on either side, so there is
    // no sign or convergence ambiguity to paper over.
    "s10_pca_project" -> ((s, d) => {
      Similarity.pcaProject(Tables.embeddings(s, d), "vec_id",
        "embedding")
        .select(col("vec_id"),
          (col("proj").cast("decimal(24,6)") *
            lit(1000000L).cast("decimal(7,0)")).cast("bigint")
            .as("proj_e6"))
        .orderBy(col("vec_id"))
    }),

    // S11 — SIF remove-top-component: s10's (μ, v) plus the residual
    // norm after projecting the dominant direction out — projection
    // and residual in one narrow pass, both e6-cut.
    "s11_pca_residual" -> ((s, d) => {
      Similarity.pcaResidual(Tables.embeddings(s, d), "vec_id",
          "embedding")
        .select(col("vec_id"),
          (col("proj").cast("decimal(24,6)") *
            lit(1000000L).cast("decimal(7,0)")).cast("bigint")
            .as("proj_e6"),
          (col("rnorm").cast("decimal(24,6)") *
            lit(1000000L).cast("decimal(7,0)")).cast("bigint")
            .as("rnorm_e6"))
        .orderBy(col("vec_id"))
    }),

    // B1 — BPE vocabulary induction: four deterministic merge rounds
    // over the corpus word-frequency table (count DESC, pair ASC
    // tie-break; leftmost-greedy application). The oracle unrolls all
    // four rounds — pair counts, argmax, and the greedy merge replay
    // via run-parity windows — so any divergence in merge application
    // flips a later round's argmax and the row goes red.
    "b1_bpe_merges" -> ((s, d) => {
      graft.operators.Bpe.bpeMerges(Tables.documents(s, d), "text", 4)
        .orderBy(col("rank"))
    }),

    // B7 — BYTE-level BPE merges (the GPT-2 byte-fallback alphabet):
    // words split to UTF-8 bytes as hex-pair symbols, then the b1
    // merge rounds verbatim — ≤ 256 base symbols, so no text can
    // contain an out-of-vocabulary unit. The oracle replays the same
    // four rounds over hex(encode(w)) split pairwise.
    "b7_byte_bpe" -> ((s, d) => {
      graft.operators.Bpe.bpeMergesBytes(Tables.documents(s, d),
        "text", 4)
        .orderBy(col("rank"))
    }),

    // B8 — byte-level corpus encode under the b7 vocabulary: the b2
    // convention (train in-row, tokenize every document with the
    // native one-call fold, md5 the space-joined token stream) on the
    // byte alphabet — one misplaced merge boundary anywhere flips the
    // doc's hash.
    "b8_byte_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.bpeMergesBytes(docs, "text", 4)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.bpeEncodeBytes(docs.select("doc_id", "text"),
          "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          md5(array_join(col("tokens"), " ")).as("tok_md5"))
        .orderBy(col("doc_id"))
    }),

    // B9 — WordPiece vocabulary induction (Schuster & Nakajima 2012;
    // the BERT trainer): the b1 round structure under ##-continuation
    // symbols, but each round's argmax is the LIKELIHOOD score
    // n(l,r)/(n(l)·n(r)) — pair count over the product of the unit
    // counts. The score is one IEEE-double divide of exact longs in
    // both engines, so the oracle replays the argmax bit-exactly.
    "b9_wordpiece" -> ((s, d) => {
      graft.operators.Bpe.wordpieceMerges(Tables.documents(s, d),
        "text", 4)
        .orderBy(col("rank"))
    }),

    // B10 — WordPiece ENCODE: greedy longest-match-first per word
    // under the b9 vocabulary (base symbols + merge products) — NOT
    // the training fixpoint: longest-match can split differently
    // than merge-order application, which is exactly what the oracle
    // checks (it follows the longest-match chain per word as a
    // recursive CTE over a precomputed best-piece-at-position table).
    // Export is the b2 convention: per-doc token count + md5 of the
    // space-joined stream.
    "b10_wordpiece_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merged = graft.operators.Bpe.wordpieceMerges(docs, "text", 4)
        .orderBy(col("rank")).collect().map(_.getString(3)).toSeq
      val vocab = graft.operators.Bpe.wordpieceVocab(docs, "text",
        merged)
      graft.operators.Bpe.wordpieceEncode(
          docs.select("doc_id", "text"), "text", vocab)
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          md5(array_join(col("tokens"), " ")).as("tok_md5"))
        .orderBy(col("doc_id"))
    }),

    // B11 — the tokenizer SELECTION table: all four families trained
    // and run over one corpus in one frame (char BPE, byte BPE,
    // unigram-LM, WordPiece), each priced in-row per the t9 build
    // convention, compared on corpus-weighted fertility — the table a
    // training pipeline actually reads before committing to a
    // vocabulary. The oracle embeds each family's full replay as a
    // scoped subquery over one shared word count.
    "b11_tokenizer_eval" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // The four tokenizer families (and the shared word count) are
      // INDEPENDENT train→encode→sum chains of many small driver
      // actions each; run them as overlapping Spark jobs (Par.all,
      // guide §2.6) so one chain's scheduling gaps are
      // back-filled by another's tasks. Each chain is deterministic in
      // isolation, so the result table is byte-identical to the
      // sequential evaluation.
      val Seq(nWords, nChar, nByte, nUni, nWp) = graft.util.Par.all(
        () => described(s, "b11: word count") {
          docs.select(explode(filter(
              split(trim(col("text")), "\\s+"), w => w =!= "")).as("w"))
            .count()
        },
        () => described(s, "b11: char bpe") {
          val mc = graft.operators.Bpe.bpeMerges(docs, "text", 4)
            .orderBy(col("rank")).collect()
            .map(r => (r.getString(1), r.getString(2))).toSeq
          graft.operators.Bpe.bpeEncode(docs.select("text"), "text", mc)
            .agg(sum(size(col("tokens")))).head().getLong(0)
        },
        () => described(s, "b11: byte bpe") {
          val mb = graft.operators.Bpe.bpeMergesBytes(docs, "text", 4)
            .orderBy(col("rank")).collect()
            .map(r => (r.getString(1), r.getString(2))).toSeq
          graft.operators.Bpe.bpeEncodeBytes(
              docs.select("text"), "text", mb)
            .agg(sum(size(col("tokens")))).head().getLong(0)
        },
        () => described(s, "b11: unigram") {
          val seed = graft.operators.Bpe.unigramSeed(docs, "text",
            seedSize = 200).collect()
          val total = seed.map(_.getLong(1)).sum.toDouble
          val uv = seed.map(r => r.getString(0) ->
            math.floor(math.log(r.getLong(1).toDouble / total) * 1e6))
            .toSeq
          graft.operators.Bpe.unigramEncode(docs, "text", uv)
            .agg(sum(size(col("pieces")))).head().getLong(0)
        },
        () => described(s, "b11: wordpiece") {
          val mw = graft.operators.Bpe.wordpieceMerges(docs, "text", 4)
            .orderBy(col("rank")).collect().map(_.getString(3)).toSeq
          val wv = graft.operators.Bpe.wordpieceVocab(docs, "text", mw)
          graft.operators.Bpe.wordpieceEncode(
              docs.select("text"), "text", wv)
            .agg(sum(size(col("tokens")))).head().getLong(0)
        })
      def fert(t: Long): Long =
        math.floor(t.toDouble / nWords.toDouble * 1e6).toLong
      Seq(("bpe_byte", nByte), ("bpe_char", nChar), ("unigram", nUni),
          ("wordpiece", nWp))
        .map { case (n, t) => (n, nWords, t, fert(t)) }
        .toDF("tokenizer", "n_words", "n_tokens", "fertility_e6")
        .orderBy(col("tokenizer"))
    }),

    // B12 — PERSISTED byte-BPE model: train, ship the merge table as
    // a warehouse artifact with the alphabet pinned in _meta, encode
    // under the loaded model (the t9/d17 amortized-path convention:
    // write and probe both priced in-row). Output ≡ b8 by
    // construction — the oracle is byte-BPE's replay verbatim, so the
    // row checks the persistence round-trip changes NOTHING.
    "b12_bpe_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.bpeMergesBytes(docs, "text", 4)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.writeBpeModel(s, merges, "b12_model",
        byteLevel = true)
      graft.operators.Bpe.bpeEncodeLoaded(
          docs.select("doc_id", "text"), "text", "b12_model")
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          md5(array_join(col("tokens"), " ")).as("tok_md5"))
        .orderBy(col("doc_id"))
    }),

    // B13 — persisted WordPiece vocabulary, same convention: the b10
    // encode under the loaded artifact, oracle = the b10 replay.
    "b13_wordpiece_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merged = graft.operators.Bpe.wordpieceMerges(docs, "text", 4)
        .orderBy(col("rank")).collect().map(_.getString(3)).toSeq
      graft.operators.Bpe.writeWordPieceVocab(s,
        graft.operators.Bpe.wordpieceVocab(docs, "text", merged),
        "b13_vocab")
      graft.operators.Bpe.wordpieceEncodeLoaded(
          docs.select("doc_id", "text"), "text", "b13_vocab")
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          md5(array_join(col("tokens"), " ")).as("tok_md5"))
        .orderBy(col("doc_id"))
    }),

    // L5 — greedy next-fit sequence packing (the delivery stage of a
    // training pipeline): docs shard by doc_id % 8 and pack into a
    // 90-token budget in doc_id order — a budget below the corpus max
    // so BOTH rules are exercised: multi-doc packs and the own-pack
    // overflow for oversized docs. The oracle replays the fold per
    // shard as a recursive CTE advancing one doc per step (all shards
    // in parallel), so every pack boundary is checked exactly.
    "l5_seq_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        (col("doc_id") % 8).as("shard"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("len"))
      graft.operators.Layout.packSequences(
          docs, "doc_id", "len", "shard", budget = 90L)
        .select(col("shard"), col("id").as("doc_id"), col("len"),
          col("pack_seq"), col("pos_in_pack"), col("fill_after"))
        .orderBy(col("shard"), col("doc_id"))
    }),

    // L6 — the l5 packs MATERIALIZED: member payloads newline-joined
    // in doc order by the same single-exchange fold (the concat
    // buffer is the open pack, completed packs stream out — nothing
    // grouped or windowed). Payload md5'd per the b2 convention: one
    // misplaced boundary or member anywhere flips a pack's hash.
    "l6_pack_payloads" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        (col("doc_id") % 8).as("shard"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("len"),
        col("text"))
      graft.operators.Layout.packPayloads(
          docs, "doc_id", "len", "text", "shard", budget = 90L)
        .select(col("shard"), col("pack_seq"), col("n_docs"),
          col("n_tokens"), md5(col("payload")).as("payload_md5"))
        .orderBy(col("shard"), col("pack_seq"))
    }),

    // L7 — INCREMENTAL packing (the d10 split: doc_id % 5 == 0 is the
    // arriving batch, the rest the already-packed base): batch docs
    // land in NEW packs continuing each shard's sequence — shipped
    // packs are immutable artifacts, so the base contributes only its
    // per-shard max pack_seq (broadcast), never its rows. The oracle
    // runs BOTH pack recursions and offsets the batch's numbering.
    "l7_incremental_pack" -> ((s, d) => {
      val all = Tables.documents(s, d).select(col("doc_id"),
        (col("doc_id") % 8).as("shard"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("len"))
      val base = graft.operators.Layout.packSequences(
        all.filter(col("doc_id") % 5 =!= 0), "doc_id", "len", "shard",
        budget = 90L)
      graft.operators.Layout.packSequencesIncremental(
          all.filter(col("doc_id") % 5 === 0), "doc_id", "len",
          "shard", budget = 90L, base)
        .select(col("shard"), col("id").as("doc_id"), col("len"),
          col("pack_seq"), col("pos_in_pack"), col("fill_after"))
        .orderBy(col("shard"), col("doc_id"))
    }),

    // B5 — the unigram-LM trainer's seed vocabulary (Kudo 2018):
    // every <= 8-char substring of every corpus word, frequency-
    // weighted, cut to all single chars + the 200 heaviest multi-char
    // pieces (freq DESC, piece ASC — a total order, so the limit is
    // deterministic). The EM rounds' Viterbi DP is spec-gated
    // (UnigramSpec by-hand model); this row drives the seed
    // construction under the driver's oracle.
    "b5_unigram_seed" -> ((s, d) => {
      graft.operators.Bpe.unigramSeed(Tables.documents(s, d), "text",
        seedSize = 200)
        .orderBy(col("piece"))
    }),

    // B6 — unigram-LM document ENCODE under the seed-normalized model
    // (the driver-checkable half of Kudo's recipe: the EM rounds stay
    // spec-gated, but the Viterbi encode itself replays in DuckDB as
    // a bounded recursive CTE — one DP level per iteration, the
    // best/back arrays carried as lists, list_reduce's left-to-right
    // scan reproducing the strictly-better/smallest-j tie contract).
    // Scores are e6-floored BIGINTs so the DP comparisons are EXACT
    // in both engines (integer-valued doubles sum exactly ≪ 2^53);
    // the -100 unknown-char fallback is dead here — self-encoding
    // means every char is in the seed. Output: per-doc piece count +
    // md5 of the space-joined piece stream (the b2 convention: one
    // misplaced split boundary anywhere flips the hash).
    "b6_unigram_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val seed = graft.operators.Bpe.unigramSeed(docs, "text",
        seedSize = 200).collect() // bounded: seedSize + charset rows
      val total = seed.map(_.getLong(1)).sum.toDouble
      val vocab = seed.map(r => r.getString(0) ->
        math.floor(math.log(r.getLong(1).toDouble / total) * 1e6))
        .toSeq
      graft.operators.Bpe.unigramEncode(docs, "text", vocab)
        .select(col("doc_id"),
          size(col("pieces")).cast("bigint").as("n_pieces"),
          md5(concat_ws(" ", col("pieces"))).as("pieces_md5"))
        .orderBy(col("doc_id"))
    }),

    // B2 — BPE corpus encode: train the 4 merges (priced in-row, the
    // t9 build convention), then tokenize every document with the
    // zero-shuffle occurrence-local fold. Output per doc: exact token
    // count + md5 of the space-joined token stream, so a single
    // misplaced merge boundary anywhere in any document flips that
    // doc's hash. The oracle replays the same four training rounds,
    // then applies the final symbol table to each document's words in
    // position order.
    "b2_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.bpeMerges(docs, "text", 4)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.bpeEncode(docs.select("doc_id", "text"),
          "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          md5(array_join(col("tokens"), " ")).as("tok_md5"))
        .orderBy(col("doc_id"))
    }),

    // B3 — tokenizer unigram stats: token frequencies under the
    // trained merges, computed on the weighted word table (the corpus
    // is scanned once; every fold and explode runs on V rows). Top-50
    // by (n DESC, token) bounds the output.
    "b3_token_freq" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.bpeMerges(docs, "text", 4)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.tokenFrequencies(docs, "text", merges)
        .orderBy(col("n").desc, col("token")).limit(50)
    }),

    // B4 — per-language tokenizer fertility under the trained merges:
    // the cross-language health audit (a vocab trained on one
    // language fragments the rest). Vocabulary-bounded; e6-cut ratio.
    "b4_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.bpeMerges(docs, "text", 4)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.fertilityBy(docs, "text", "lang", merges)
        .select(col("lang"), col("n_words"), col("n_tokens"),
          (col("fertility").cast("decimal(24,6)") *
            lit(1000000L).cast("decimal(7,0)")).cast("bigint")
            .as("fertility_e6"))
        .orderBy(col("lang"))
    }),

    // LR1 — quality-classifier distillation: heuristic labels (length
    // band + vocabulary-diversity floor) train 3 full-batch GD rounds
    // of L2 logistic regression; every document then carries the
    // calibrated score. One corpus pass per round (weights as plan
    // literals, partial-aggregated 4-double gradient sum); the oracle
    // unrolls the identical rounds — same zero init, same left-assoc
    // logit, same update formula — so a single diverged weight moves
    // every score row.
    "lr1_quality_lr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = filter(split(trim(col("text")), "\\s+"), w => w =!= "")
      val feats = docs.select(col("doc_id"),
          size(toks).cast("double").as("nw"),
          col("n_chars").cast("double").as("nc"),
          size(array_distinct(toks)).cast("double").as("nd"))
        .filter(col("nw") > 0)
        .select(col("doc_id"),
          (col("nw") / lit(100.0)).as("f1"),
          (col("nc") / col("nw") / lit(10.0)).as("f2"),
          (col("nd") / col("nw")).as("f3"),
          when(col("nw") >= 30 && col("nw") <= 5000 &&
              col("nd") / col("nw") >= 0.3, 1.0)
            .otherwise(0.0).as("y"))
      val fs = Seq("f1", "f2", "f3")
      val w = graft.operators.LogReg.train(feats, "y", fs)
      feats.select(col("doc_id"), col("y").cast("int").as("label"),
          (graft.operators.LogReg.score(w, fs).cast("decimal(24,6)") *
            lit(1000000L).cast("decimal(7,0)")).cast("bigint")
            .as("score_e6"))
        .orderBy(col("doc_id"))
    }),

    // E10 — the streaming classifier gate replayed on batch (the
    // e-family convention: a stateless stream projection is pinned by
    // running it over the corpus as a batch frame): train exactly as
    // lr1 does, ship the weight vector into IngestGate.scoreGate as
    // plan literals, emit the survivors. Proves the end-to-end
    // train-then-gate loop — including the gate's in-row feature
    // recomputation (len(text), not the n_chars column) — against an
    // oracle that replays both halves.
    "e10_score_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = filter(split(trim(col("text")), "\\s+"), w => w =!= "")
      val feats = docs.select(col("doc_id"),
          size(toks).cast("double").as("nw"),
          col("n_chars").cast("double").as("nc"),
          size(array_distinct(toks)).cast("double").as("nd"))
        .filter(col("nw") > 0)
        .select(col("doc_id"),
          (col("nw") / lit(100.0)).as("f1"),
          (col("nc") / col("nw") / lit(10.0)).as("f2"),
          (col("nd") / col("nw")).as("f3"),
          when(col("nw") >= 30 && col("nw") <= 5000 &&
              col("nd") / col("nw") >= 0.3, 1.0)
            .otherwise(0.0).as("y"))
      val w = graft.operators.LogReg.train(feats, "y",
        Seq("f1", "f2", "f3"))
      // cut at the corpus's median score (the quota a trainer sets),
      // not the 0.5 default the whole distribution clears — the row
      // must exercise the threshold, not rubber-stamp it
      graft.streaming.IngestGate.scoreGate(docs, w, "text", 646000L)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // C2 — per-source dataset card: doc/char/token totals, language
    // inventory + dominant language, exact token-count quantiles —
    // the release-audit sheet mixture weighting reads.
    "c2_dataset_card" -> ((s, d) => {
      Curation.datasetCard(Tables.documents(s, d), "source", "text",
        "lang").orderBy(col("source"))
    }),

    // D18 — fuzzy decontamination: train docs (doc_id%10<>0) dropped
    // when LSH-banded against the eval slice (doc_id%10=0) with exact
    // Jaccard >= 0.8 confirmation — d8's near-duplicate completion.
    // Same fixed verify-scale geometry as d3 so the oracle replays the
    // banding literally.
    "d18_fuzzy_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.fuzzyDecontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", numHashes = d3Hashes, bands = d3Bands)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // C1 — the composed CurateCli pipeline as ONE driver-checked row:
    // x11 quality → d1 exact dedup → d12/d7/d9 span dedup →
    // d8 decontamination (eval = doc_id%10=0 slice) → x12 leak-safe
    // split. One output row per input document: survivors carry their
    // split, drops carry (stage, reason) — the audit frame and the
    // user-facing surface hashed end to end. The oracle chains each
    // stage's own proven SQL over the same frames.
    "c1_curate_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val frames = graft.cli.CurateCli.pipeline(s, docs,
        Some(docs.filter(col("doc_id") % 10 === 0)),
        minWords = 20, maxOverlap = 2)
      frames.curated
        .select(col("doc_id"), lit("curated").as("stage"),
          lit("").as("reason"), col("split"))
        .unionByName(frames.dropped
          .select(col("doc_id"), col("stage"), col("reason"),
            lit("").as("split")))
        .orderBy(col("doc_id"))
    })
  )

  val sql: Map[String, String] = sqlCore ++ sqlMore +
    // d14 is the indexed path of d13 — result-identical by contract,
    // so the oracle is d13's SQL verbatim
    ("d14_winnow_indexed" -> sqlMore("d13_incremental_winnow")) +
    // d22 is the indexed path of d21 — result-identical by contract,
    // so the oracle is d21's SQL verbatim (the d14 convention)
    ("d22_spans_indexed" -> sqlMore("d21_incremental_spans")) +
    // e6 is the streaming BLOOM gate over d13's exact split: Spark's
    // BloomFilter is deterministic (same items, same fpp, same bits),
    // and at fpp = 1e-6 no false positive flips a verdict on this
    // corpus — so the exact d13 replay IS the oracle, and a driver
    // mismatch would mean a REAL gate regression, not Bloom noise
    ("e6_winnow_gate" -> sqlMore("d13_incremental_winnow")) +
    // e12 is the streaming row-local form of d17's banded-cosine cut
    // (same geometry, same exact cosine confirm, uncapped on this
    // corpus) — the batch replay IS the oracle, the e6 convention
    ("e12_embed_gate" -> sqlCore("d17_embed_indexed"))

  private lazy val sqlCore: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "d2_minhash_sig" ->
      s"""WITH $shinglesCte
         |SELECT id AS doc_id,
         |  array_to_string(list_transform(generate_series(0,15),
         |    i -> list_min(list_transform(
         |      list_transform(sh, s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647),
         |      h -> (h * ((1 + i*2654435761) % 2147483647) + ((7 + i*40503) % 2147483647)) % 2147483647))),
         |    '|') AS sig
         |FROM base ORDER BY doc_id""".stripMargin,

    "d3_lsh_neardup_pairs" ->
      s"""WITH $shinglesCte,
         |sig AS (
         |  SELECT id, sh, list_transform(generate_series(0,${d3Hashes - 1}),
         |    i -> list_min(list_transform(
         |      list_transform(sh, s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647),
         |      h -> (h * ((1 + i*2654435761) % 2147483647) + ((7 + i*40503) % 2147483647)) % 2147483647))) AS sg
         |  FROM base),
         |banded AS (
         |$d3BandedCte),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bh = b.bh AND a.id < b.id)
         |SELECT * FROM (
         |  SELECT c.id_a, c.id_b,
         |    len(list_intersect(x.sh, y.sh))::DOUBLE
         |      / len(list_distinct(x.sh || y.sh)) AS jaccard
         |  FROM cand c JOIN base x ON c.id_a = x.id JOIN base y ON c.id_b = y.id)
         |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "d4_simhash" ->
      """WITH h AS (
        |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS hs
        |  FROM documents)
        |SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,31),
        |  b -> CASE WHEN list_sum(list_transform(hs, v -> ((v >> b) & 1)*2 - 1)) > 0
        |       THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
        |FROM h ORDER BY doc_id""".stripMargin,

    "d5_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         |blocked AS (
         |  SELECT id, sh,
         |    list_min(list_transform(sh,
         |      s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647)) AS bh
         |  FROM base),
         |cand AS (
         |  SELECT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
         |  FROM blocked a JOIN blocked b ON a.bh = b.bh AND a.id < b.id)
         |SELECT * FROM (
         |  SELECT id_a, id_b,
         |    len(list_intersect(sh_a, sh_b))::DOUBLE
         |      / len(list_distinct(sh_a || sh_b)) AS jaccard
         |  FROM cand)
         |WHERE jaccard >= 0.7 ORDER BY id_a, id_b""".stripMargin,

    "d19_containment_pairs" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks)-2, 1)),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |hs AS (
        |  SELECT id, list_distinct(list_transform(sh,
        |    s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT)
        |      % 2147483647)) AS h
        |  FROM base),
        |post AS (SELECT id, unnest(h) AS hv FROM hs),
        |shared AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
        |  FROM post a JOIN post b ON a.hv = b.hv AND a.id <> b.id
        |  GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT id_a, id_b, c::DOUBLE / len(hs.h) AS containment
        |  FROM shared JOIN hs ON shared.id_a = hs.id)
        |WHERE containment >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "d7_dup_clusters" ->
      s"""WITH RECURSIVE $shinglesCte,
         |blocked AS (
         |  SELECT id, sh,
         |    list_min(list_transform(sh,
         |      s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647)) AS bh
         |  FROM base),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.id AS id_a, b.id AS id_b,
         |      len(list_intersect(a.sh, b.sh))::DOUBLE
         |        / len(list_distinct(a.sh || b.sh)) AS jaccard
         |    FROM blocked a JOIN blocked b ON a.bh = b.bh AND a.id < b.id)
         |  WHERE jaccard >= 0.7),
         |sym AS (
         |  SELECT id_a AS id, id_b AS nbr FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, nbr) AS (
         |  SELECT id, nbr FROM sym
         |  UNION
         |  SELECT r.id, s.nbr FROM reach r JOIN sym s ON r.nbr = s.id)
         |SELECT id AS member_id, least(id, min(nbr)) AS cluster_id
         |FROM reach GROUP BY id ORDER BY member_id""".stripMargin,

    // x12: d7's cluster CTEs verbatim, then the split is a pure
    // seeded-hash of the cluster representative (own id when
    // unclustered) — the x1/x2 md5 convention with seed "split".
    "x12_leak_split" ->
      s"""WITH RECURSIVE $shinglesCte,
         |blocked AS (
         |  SELECT id, sh,
         |    list_min(list_transform(sh,
         |      s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647)) AS bh
         |  FROM base),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.id AS id_a, b.id AS id_b,
         |      len(list_intersect(a.sh, b.sh))::DOUBLE
         |        / len(list_distinct(a.sh || b.sh)) AS jaccard
         |    FROM blocked a JOIN blocked b ON a.bh = b.bh AND a.id < b.id)
         |  WHERE jaccard >= 0.7),
         |sym AS (
         |  SELECT id_a AS id, id_b AS nbr FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, nbr) AS (
         |  SELECT id, nbr FROM sym
         |  UNION
         |  SELECT r.id, s.nbr FROM reach r JOIN sym s ON r.nbr = s.id),
         |clus AS (
         |  SELECT id AS member_id, least(id, min(nbr)) AS cluster_id
         |  FROM reach GROUP BY id),
         |k AS (
         |  SELECT d.doc_id,
         |    CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS group_key
         |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.member_id),
         |b AS (
         |  SELECT doc_id, group_key,
         |    CAST(CAST('0x' || substr(md5('split:' || group_key), 1, 8)
         |           AS BIGINT) % 10 AS INT) AS bucket
         |  FROM k)
         |SELECT doc_id, group_key, bucket,
         |  CASE WHEN bucket <= 7 THEN 'train'
         |       WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    "d9_cluster_survivors" ->
      s"""WITH RECURSIVE $shinglesCte,
         |blocked AS (
         |  SELECT id, sh,
         |    list_min(list_transform(sh,
         |      s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647)) AS bh
         |  FROM base),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.id AS id_a, b.id AS id_b,
         |      len(list_intersect(a.sh, b.sh))::DOUBLE
         |        / len(list_distinct(a.sh || b.sh)) AS jaccard
         |    FROM blocked a JOIN blocked b ON a.bh = b.bh AND a.id < b.id)
         |  WHERE jaccard >= 0.7),
         |sym AS (
         |  SELECT id_a AS id, id_b AS nbr FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, nbr) AS (
         |  SELECT id, nbr FROM sym
         |  UNION
         |  SELECT r.id, s.nbr FROM reach r JOIN sym s ON r.nbr = s.id),
         |clus AS (
         |  SELECT id AS member_id, least(id, min(nbr)) AS cluster_id
         |  FROM reach GROUP BY id),
         |sel AS (
         |  SELECT c.cluster_id, d.doc_id,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY length(d.text) DESC, d.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY c.cluster_id) AS n
         |  FROM clus c JOIN documents d ON d.doc_id = c.member_id)
         |SELECT cluster_id, doc_id AS keep_id, CAST(n AS BIGINT) AS n_members
         |FROM sel WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "d11_simhash_pairs" ->
      """WITH h AS (
        |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,59),
        |    b -> CASE WHEN list_sum(list_transform(hs, v -> ((v >> b) & 1)*2 - 1)) > 0
        |         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sh
        |  FROM h),
        |banded AS (
        |  SELECT doc_id AS id, sh, g.band,
        |    (sh >> (g.band * 15)) & 32767 AS bits
        |  FROM f CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) g),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    a.sh AS sh_a, b.sh AS sh_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bits = b.bits AND a.id < b.id)
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "d10_incremental_new" ->
      """SELECT b.doc_id, b.lang FROM documents b
        |WHERE b.doc_id % 5 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 5 <> 0 AND md5(c.text) = md5(b.text))
        |ORDER BY b.doc_id""".stripMargin,

    "d8_decontaminate" ->
      s"""WITH $shinglesCte,
         |ev AS (
         |  SELECT DISTINCT md5(u.s) AS h
         |  FROM (SELECT unnest(sh) AS s FROM base WHERE id % 10 = 0) u),
         |tr AS (
         |  SELECT DISTINCT id, md5(u.s) AS h
         |  FROM (SELECT id, unnest(sh) AS s FROM base WHERE id % 10 <> 0) u)
         |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |FROM tr JOIN ev USING (h)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "d6_embed_neardup" ->
      s"""WITH hyper(band, bit, r) AS (VALUES
         |$d6PlaneRows),
         |keyed AS (
         |  SELECT e.vec_id, h.band,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64),
         |        k -> e.embedding[k]::DOUBLE * h.r[k])) >= 0
         |      THEN (CAST(1 AS BIGINT) << (h.bit - 1))
         |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS key
         |  FROM embeddings e CROSS JOIN hyper h
         |  GROUP BY e.vec_id, h.band),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM keyed a JOIN keyed b
         |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
         |SELECT c.id_a, c.id_b,
         |  ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.id_a
         |JOIN embeddings eb ON eb.vec_id = c.id_b
         |WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,

    "s1_knn_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
         |sc AS (
         |  SELECT q_id, e.vec_id AS n_id,
         |    ${cosSql("qv", "e.embedding")} AS cos
         |  FROM q CROSS JOIN embeddings e WHERE q_id <> e.vec_id)
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "s6_sq8_topk" ->
      """WITH dims AS (
        |  SELECT unnest(generate_series(1, 64)) AS d,
        |         unnest(embedding) AS v
        |  FROM embeddings),
        |b AS (SELECT d, min(CAST(v AS DOUBLE)) AS mn,
        |             max(CAST(v AS DOUBLE)) AS mx
        |      FROM dims GROUP BY d),
        |ba AS (SELECT list(mn ORDER BY d) AS mns,
        |              list(mx - mn ORDER BY d) AS rgs FROM b),
        |enc AS (
        |  SELECT vec_id, list_transform(generate_series(1, 64),
        |    i -> CASE WHEN rgs[i] = 0 THEN 0
        |         ELSE CAST(round((CAST(embedding[i] AS DOUBLE) - mns[i])
        |           / rgs[i] * 255) AS INT) END) AS codes
        |  FROM embeddings, ba),
        |rec AS (
        |  SELECT vec_id, list_transform(generate_series(1, 64),
        |    i -> mns[i] + CAST(codes[i] AS DOUBLE) * rgs[i] / 255) AS rv
        |  FROM enc, ba),
        |q AS (SELECT vec_id AS q_id, embedding AS qv
        |      FROM embeddings WHERE vec_id < 16),
        |sc AS (
        |  SELECT q_id, r.vec_id AS n_id,
        |    list_sum(list_transform(generate_series(1,64), i -> qv[i]::DOUBLE * rv[i])) /
        |      (sqrt(list_sum(list_transform(generate_series(1,64), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(generate_series(1,64), i -> rv[i] * rv[i])))) AS cos
        |  FROM q CROSS JOIN rec r WHERE q_id <> r.vec_id)
        |SELECT q_id, n_id, rank, cos FROM (
        |  SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
        |  FROM sc)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "s8_sq8_rerank" ->
      s"""WITH dims AS (
         |  SELECT unnest(generate_series(1, 64)) AS d,
         |         unnest(embedding) AS v
         |  FROM embeddings),
         |b AS (SELECT d, min(CAST(v AS DOUBLE)) AS mn,
         |             max(CAST(v AS DOUBLE)) AS mx
         |      FROM dims GROUP BY d),
         |ba AS (SELECT list(mn ORDER BY d) AS mns,
         |              list(mx - mn ORDER BY d) AS rgs FROM b),
         |enc AS (
         |  SELECT vec_id, list_transform(generate_series(1, 64),
         |    i -> CASE WHEN rgs[i] = 0 THEN 0
         |         ELSE CAST(round((CAST(embedding[i] AS DOUBLE) - mns[i])
         |           / rgs[i] * 255) AS INT) END) AS codes
         |  FROM embeddings, ba),
         |rec AS (
         |  SELECT vec_id, list_transform(generate_series(1, 64),
         |    i -> mns[i] + CAST(codes[i] AS DOUBLE) * rgs[i] / 255) AS rv
         |  FROM enc, ba),
         |q AS (SELECT vec_id AS q_id, embedding AS qv
         |      FROM embeddings WHERE vec_id < 16),
         |adc AS (
         |  SELECT q_id, r.vec_id AS n_id,
         |    list_sum(list_transform(generate_series(1,64), i -> qv[i]::DOUBLE * rv[i])) /
         |      (sqrt(list_sum(list_transform(generate_series(1,64), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |       sqrt(list_sum(list_transform(generate_series(1,64), i -> rv[i] * rv[i])))) AS cos
         |  FROM q CROSS JOIN rec r WHERE q_id <> r.vec_id),
         |cand AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |    FROM adc)
         |  WHERE rank <= 15),
         |re AS (
         |  SELECT c.q_id, c.n_id,
         |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.q_id
         |  JOIN embeddings ne ON ne.vec_id = c.n_id)
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
         |  FROM re)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "s7_pq_topk" ->
      """WITH cb AS (
        |  SELECT vec_id AS cid, embedding AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |enc AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT e.vec_id, t.j, cb.cid AS code,
        |      row_number() OVER (PARTITION BY e.vec_id, t.j ORDER BY
        |        list_sum(list_transform(
        |          list_transform(generate_series(1, 8),
        |            i -> CAST(e.embedding[t.j*8+i] AS DOUBLE)
        |               - CAST(cb.cv[t.j*8+i] AS DOUBLE)),
        |          d -> d*d)) ASC, cb.cid ASC) AS rn
        |    FROM embeddings e
        |    CROSS JOIN generate_series(0, 7) AS t(j)
        |    CROSS JOIN cb)
        |  WHERE rn = 1),
        |rec AS (
        |  SELECT enc.vec_id,
        |    flatten(list(list_transform(generate_series(1, 8),
        |      i -> CAST(cb.cv[enc.j*8+i] AS DOUBLE)) ORDER BY enc.j)) AS rv
        |  FROM enc JOIN cb ON cb.cid = enc.code
        |  GROUP BY enc.vec_id),
        |q AS (SELECT vec_id AS q_id, embedding AS qv
        |      FROM embeddings WHERE vec_id < 16),
        |sc AS (
        |  SELECT q_id, r.vec_id AS n_id,
        |    list_sum(list_transform(generate_series(1,64), i -> qv[i]::DOUBLE * rv[i])) /
        |      (sqrt(list_sum(list_transform(generate_series(1,64), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(generate_series(1,64), i -> rv[i] * rv[i])))) AS cos
        |  FROM q CROSS JOIN rec r WHERE q_id <> r.vec_id)
        |SELECT q_id, n_id, rank, cos FROM (
        |  SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
        |  FROM sc)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // s9: the full IVF-PQ chain recomputed from the table. assign =
    // argmax cosine over the first-16 coarse cells (ties to smaller
    // cell, s3's rule); residual = FLOAT subtraction — emulated as
    // double subtraction rounded back to REAL, exact by Figueroa's
    // 2p+2 theorem (53 >= 2*24+2) — because Spark's zip_with(a-b) on
    // float arrays is float arithmetic and the codebook entries must
    // be the identical 32-bit values PqImpl.codes sees; codes = argmin
    // double L2 per 8-dim subspace over the first-16 residuals (ties
    // to smaller code, PqImpl's strict-<); reconstruction = double
    // centroid + double codebook entry; cosine = index-order double
    // folds (cosSql).
    "s9_ivfpq" ->
      s"""WITH cent AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16)),
         |assign AS (
         |  SELECT vec_id AS n_id, embedding, cell FROM (
         |    SELECT v.vec_id, v.embedding, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.embedding", "c.embedding")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent c)
         |  WHERE rn = 1),
         |res AS (
         |  SELECT a.n_id, a.cell,
         |    list_transform(generate_series(1, 64),
         |      i -> CAST(CAST(a.embedding[i] AS DOUBLE)
         |              - CAST(c.embedding[i] AS DOUBLE) AS REAL)) AS r
         |  FROM assign a JOIN cent c ON c.cell = a.cell),
         |cb AS (
         |  SELECT CAST(row_number() OVER (ORDER BY n_id) - 1 AS INT) AS cid, r
         |  FROM (SELECT n_id, r FROM res ORDER BY n_id LIMIT 16)),
         |enc AS (
         |  SELECT n_id, j, code FROM (
         |    SELECT r.n_id, t.j, cb.cid AS code,
         |      row_number() OVER (PARTITION BY r.n_id, t.j ORDER BY
         |        list_sum(list_transform(generate_series(1, 8),
         |          i -> (CAST(r.r[t.j*8+i] AS DOUBLE) - CAST(cb.r[t.j*8+i] AS DOUBLE))
         |             * (CAST(r.r[t.j*8+i] AS DOUBLE) - CAST(cb.r[t.j*8+i] AS DOUBLE)))) ASC,
         |        cb.cid ASC) AS rn
         |    FROM res r
         |    CROSS JOIN generate_series(0, 7) AS t(j)
         |    CROSS JOIN cb)
         |  WHERE rn = 1),
         |rec AS (
         |  SELECT enc.n_id,
         |    flatten(list(list_transform(generate_series(1, 8),
         |      i -> CAST(cb.r[enc.j*8+i] AS DOUBLE)) ORDER BY enc.j)) AS rr
         |  FROM enc JOIN cb ON cb.cid = enc.code
         |  GROUP BY enc.n_id),
         |nv AS (
         |  SELECT r.n_id, a.cell,
         |    list_transform(generate_series(1, 64),
         |      i -> CAST(c.embedding[i] AS DOUBLE) + r.rr[i]) AS n_vec
         |  FROM rec r
         |  JOIN assign a ON a.n_id = r.n_id
         |  JOIN cent c ON c.cell = a.cell),
         |probe AS (
         |  SELECT q_id, qv, cell FROM (
         |    SELECT q.vec_id AS q_id, q.embedding AS qv, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 8)
         |  WHERE rn <= 4),
         |sc AS (
         |  SELECT p.q_id, n.n_id,
         |    list_sum(list_transform(generate_series(1,64), i -> p.qv[i]::DOUBLE * n.n_vec[i])) /
         |      (sqrt(list_sum(list_transform(generate_series(1,64), i -> p.qv[i]::DOUBLE * p.qv[i]::DOUBLE))) *
         |       sqrt(list_sum(list_transform(generate_series(1,64), i -> n.n_vec[i] * n.n_vec[i])))) AS cos
         |  FROM probe p JOIN nv n ON n.cell = p.cell
         |  WHERE n.n_id <> p.q_id)
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "s2_ann_signlsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    array_to_string(list_transform(generate_series(1,8),
         |      i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
         |  FROM embeddings),
         |sc AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos
         |  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 16)
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "s5_ann_rhp" ->
      s"""WITH hyper(band, bit, r) AS (VALUES
         |$d6PlaneRows),
         |keyed AS (
         |  SELECT e.vec_id, h.band,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64),
         |        k -> e.embedding[k]::DOUBLE * h.r[k])) >= 0
         |      THEN (CAST(1 AS BIGINT) << (h.bit - 1))
         |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS key
         |  FROM embeddings e CROSS JOIN hyper h
         |  GROUP BY e.vec_id, h.band),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |  FROM keyed q JOIN keyed c ON q.band = c.band AND q.key = c.key
         |  WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id),
         |sc AS (
         |  SELECT cd.q_id, cd.n_id,
         |    ${cosSql("eq.embedding", "ec.embedding")} AS cos
         |  FROM cand cd
         |  JOIN embeddings eq ON eq.vec_id = cd.q_id
         |  JOIN embeddings ec ON ec.vec_id = cd.n_id)
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "s3_ann_ivf" ->
      s"""WITH cent AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16)),
         |assign AS (
         |  SELECT vec_id AS n_id, embedding AS n_vec, cell FROM (
         |    SELECT v.vec_id, v.embedding, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.embedding", "c.embedding")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent c)
         |  WHERE rn = 1),
         |probe AS (
         |  SELECT q_id, q_vec, cell FROM (
         |    SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 8)
         |  WHERE rn <= 4),
         |sc AS (
         |  SELECT p.q_id, a.n_id, ${cosSql("p.q_vec", "a.n_vec")} AS cos
         |  FROM probe p JOIN assign a ON a.cell = p.cell
         |  WHERE a.n_id <> p.q_id)
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "s4_kmeans" ->
      s"""WITH cent0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    embedding AS cv
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 8)),
         |a1 AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT v.vec_id, v.embedding, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.embedding", "c.cv")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent0 c)
         |  WHERE rn = 1),
         |s1 AS (
         |  SELECT cell, CAST(d.i - 1 AS INT) AS dim,
         |    CAST(SUM(CAST(trunc(embedding[d.i]::DOUBLE * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_scaled,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM a1 CROSS JOIN generate_series(1, 64) AS d(i)
         |  GROUP BY 1, 2),
         |cent1 AS (
         |  SELECT c0.cell, coalesce(m.cv, c0.cv) AS cv
         |  FROM cent0 c0 LEFT JOIN (
         |    SELECT cell,
         |      list(CAST(sum_scaled / 1000000.0 / n AS FLOAT) ORDER BY dim) AS cv
         |    FROM s1 GROUP BY cell) m ON c0.cell = m.cell),
         |a2 AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT v.vec_id, v.embedding, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.embedding", "c.cv")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent1 c)
         |  WHERE rn = 1)
         |SELECT cell, CAST(d.i - 1 AS INT) AS dim,
         |  CAST(SUM(CAST(trunc(embedding[d.i]::DOUBLE * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_scaled,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM a2 CROSS JOIN generate_series(1, 64) AS d(i)
         |GROUP BY 1, 2 ORDER BY cell, dim""".stripMargin,

    "t1_token_stats" ->
      """SELECT doc_id, n_chars, CAST(length(text) AS INT) AS len_chars,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_regex_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_quality_score" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
        |    len(regexp_extract_all(lower(text), '\bthe\b')) +
        |    len(regexp_extract_all(lower(text), '\band\b')) +
        |    len(regexp_extract_all(lower(text), '\bof\b')) +
        |    len(regexp_extract_all(lower(text), '\bder\b')) +
        |    len(regexp_extract_all(lower(text), '\bdie\b')) +
        |    len(regexp_extract_all(lower(text), '\bund\b')) +
        |    len(regexp_extract_all(lower(text), '\bel\b')) +
        |    len(regexp_extract_all(lower(text), '\blos\b')) +
        |    len(regexp_extract_all(lower(text), '\bque\b')) +
        |    len(regexp_extract_all(lower(text), '\ble\b')) +
        |    len(regexp_extract_all(lower(text), '\bla\b')) +
        |    len(regexp_extract_all(lower(text), '\bet\b')) AS n_stop,
        |    CAST(length(text) AS BIGINT) AS n_ch
        |  FROM documents)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(n_punct AS INT) AS n_punct,
        |  least(1.0, CAST(n_tokens AS DOUBLE)/100.0)*0.4 +
        |  (CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE))*0.3 +
        |  (1.0 - CAST(n_punct AS DOUBLE)/CAST(n_ch AS DOUBLE))*0.3 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "t3_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\bthe\b')) +
        |      len(regexp_extract_all(lower(text), '\band\b')) +
        |      len(regexp_extract_all(lower(text), '\bof\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\bder\b')) +
        |      len(regexp_extract_all(lower(text), '\bdie\b')) +
        |      len(regexp_extract_all(lower(text), '\bund\b')) AS s_de,
        |    len(regexp_extract_all(lower(text), '\bel\b')) +
        |      len(regexp_extract_all(lower(text), '\blos\b')) +
        |      len(regexp_extract_all(lower(text), '\bque\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\ble\b')) +
        |      len(regexp_extract_all(lower(text), '\bla\b')) +
        |      len(regexp_extract_all(lower(text), '\bet\b')) AS s_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN greatest(s_en, s_de, s_es, s_fr) > 0 AND s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
        |    WHEN greatest(s_en, s_de, s_es, s_fr) > 0 AND s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
        |    WHEN greatest(s_en, s_de, s_es, s_fr) > 0 AND s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
        |    WHEN greatest(s_en, s_de, s_es, s_fr) > 0 AND s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
        |    ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    // e13: t3's scoring CTE with the %5 split, the allowlist, and
    // the confidence floor
    "e13_lang_gate" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '\bthe\b')) +
        |      len(regexp_extract_all(lower(text), '\band\b')) +
        |      len(regexp_extract_all(lower(text), '\bof\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\bder\b')) +
        |      len(regexp_extract_all(lower(text), '\bdie\b')) +
        |      len(regexp_extract_all(lower(text), '\bund\b')) AS s_de,
        |    len(regexp_extract_all(lower(text), '\bel\b')) +
        |      len(regexp_extract_all(lower(text), '\blos\b')) +
        |      len(regexp_extract_all(lower(text), '\bque\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\ble\b')) +
        |      len(regexp_extract_all(lower(text), '\bla\b')) +
        |      len(regexp_extract_all(lower(text), '\bet\b')) AS s_fr
        |  FROM documents WHERE doc_id % 5 = 0),
        |p AS (
        |  SELECT doc_id,
        |    greatest(s_en, s_de, s_es, s_fr) AS conf,
        |    CASE
        |      WHEN greatest(s_en, s_de, s_es, s_fr) > 0
        |        AND s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
        |      WHEN greatest(s_en, s_de, s_es, s_fr) > 0
        |        AND s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
        |      WHEN greatest(s_en, s_de, s_es, s_fr) > 0
        |        AND s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
        |      WHEN greatest(s_en, s_de, s_es, s_fr) > 0
        |        AND s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
        |      ELSE 'und' END AS lang_pred
        |  FROM s)
        |SELECT doc_id, lang_pred FROM p
        |WHERE lang_pred IN ('en') AND conf >= 2
        |ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), ' +'))),
        |    ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t7_sql_functions" ->
      s"""WITH $shinglesCte,
         |hs AS (
         |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'),
         |    t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hv
         |  FROM documents),
         |sim AS (
         |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,59),
         |    b -> CASE WHEN list_sum(list_transform(hv, v -> ((v >> b) & 1)*2 - 1)) > 0
         |         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
         |  FROM hs),
         |sig AS (
         |  SELECT id AS doc_id,
         |    array_to_string(list_transform(generate_series(0,3),
         |      i -> list_min(list_transform(
         |        list_transform(sh, s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647),
         |        h -> (h * ((1 + i*2654435761) % 2147483647) + ((7 + i*40503) % 2147483647)) % 2147483647))),
         |      '|') AS sig4
         |  FROM base),
         |lng AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(lower(text), '\\bthe\\b')) +
         |      len(regexp_extract_all(lower(text), '\\band\\b')) +
         |      len(regexp_extract_all(lower(text), '\\bof\\b')) AS s_en,
         |    len(regexp_extract_all(lower(text), '\\bder\\b')) +
         |      len(regexp_extract_all(lower(text), '\\bdie\\b')) +
         |      len(regexp_extract_all(lower(text), '\\bund\\b')) AS s_de,
         |    len(regexp_extract_all(lower(text), '\\bel\\b')) +
         |      len(regexp_extract_all(lower(text), '\\blos\\b')) +
         |      len(regexp_extract_all(lower(text), '\\bque\\b')) AS s_es,
         |    len(regexp_extract_all(lower(text), '\\ble\\b')) +
         |      len(regexp_extract_all(lower(text), '\\bla\\b')) +
         |      len(regexp_extract_all(lower(text), '\\bet\\b')) AS s_fr
         |  FROM documents)
         |SELECT d.doc_id,
         |  CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS INT) AS n_tokens,
         |  CASE
         |    WHEN greatest(s_en, s_de, s_es, s_fr) > 0 AND s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |    WHEN greatest(s_en, s_de, s_es, s_fr) > 0 AND s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |    WHEN greatest(s_en, s_de, s_es, s_fr) > 0 AND s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |    WHEN greatest(s_en, s_de, s_es, s_fr) > 0 AND s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
         |    ELSE 'und' END AS lang_pred,
         |  md5(array_to_string(list_sort(list_distinct(
         |    regexp_split_to_array(trim(regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g')), ' +'))),
         |    ' ')) AS fp,
         |  sim.simhash AS simhash,
         |  sig.sig4 AS sig4
         |FROM documents d
         |JOIN sim ON sim.doc_id = d.doc_id
         |JOIN sig ON sig.doc_id = d.doc_id
         |JOIN lng ON lng.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "t5_top_ngrams" ->
      """WITH grams AS (
        |  SELECT list_transform(generate_series(1, greatest(len(toks)-1, 1)),
        |    i -> array_to_string(toks[i:i+1], ' ')) AS sh
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents))
        |SELECT s AS ngram, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(sh) AS s FROM grams)
        |GROUP BY 1 ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin,

    "x6_cluster_sample" ->
      s"""WITH cent AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16)),
         |assign AS (
         |  SELECT vec_id, cell, cos FROM (
         |    SELECT v.vec_id, c.cell,
         |      ${cosSql("v.embedding", "c.embedding")} AS cos,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.embedding", "c.embedding")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent c)
         |  WHERE rn = 1)
         |SELECT cell, vec_id, rank, cen_cos FROM (
         |  SELECT cell, vec_id, cos AS cen_cos,
         |    CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY cos DESC, vec_id) AS INT) AS rank
         |  FROM assign)
         |WHERE rank <= 20 ORDER BY cell, rank""".stripMargin,

    // d15: same assign CTE as x6 (validated bit-identical to
    // CentroidScores there), then the intra-cell prune replayed
    // literally: a is dropped iff some strictly-more-central b in its
    // cell has cosine >= 0.35 with it.
    "d15_semdedup" ->
      s"""WITH cent AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16)),
         |assign AS (
         |  SELECT vec_id, cell, cos FROM (
         |    SELECT v.vec_id, c.cell,
         |      ${cosSql("v.embedding", "c.embedding")} AS cos,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.embedding", "c.embedding")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent c)
         |  WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM assign a JOIN assign b ON a.cell = b.cell
         |    AND (b.cos > a.cos OR (b.cos = a.cos AND b.vec_id < a.vec_id))
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.35)
         |SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
         |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    // g3: the same canonical co-supplier edges, the same
    // degree-ordered orientation (ties by id), wedge self-join on the
    // center, EXISTS for the closing edge — each triangle counted at
    // its unique lowest-ordered wedge center in both engines
    "g3_triangles" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |co AS (
        |  SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_suppkey < b.l_suppkey),
        |deg AS (
        |  SELECT node, count(*) AS d
        |  FROM (SELECT x AS node FROM co
        |        UNION ALL SELECT y AS node FROM co)
        |  GROUP BY 1),
        |o AS (
        |  SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND co.x < co.y)
        |      THEN co.x ELSE co.y END AS u,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND co.x < co.y)
        |      THEN co.y ELSE co.x END AS v,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND co.x < co.y)
        |      THEN db.d ELSE da.d END AS dv
        |  FROM co
        |  JOIN deg da ON da.node = co.x
        |  JOIN deg db ON db.node = co.y),
        |w AS (
        |  SELECT e1.u AS u, e1.v AS t1, e2.v AS t2
        |  FROM o e1 JOIN o e2 ON e1.u = e2.u
        |   AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))),
        |tri AS (
        |  SELECT w.u AS n1, w.t1 AS n2, w.t2 AS n3
        |  FROM w
        |  WHERE EXISTS (SELECT 1 FROM o
        |                WHERE o.u = w.t1 AND o.v = w.t2)),
        |pn AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT n1 AS node FROM tri
        |        UNION ALL SELECT n2 AS node FROM tri
        |        UNION ALL SELECT n3 AS node FROM tri)
        |  GROUP BY 1)
        |SELECT CAST(d.node AS BIGINT) AS node,
        |  CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CAST(d.d AS BIGINT) AS deg,
        |  CASE WHEN d.d >= 2 THEN
        |    CAST(floor(coalesce(pn.n_triangles, 0)::DOUBLE * 2000000
        |      / (d.d * (d.d - 1))::DOUBLE) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END AS cc_e6
        |FROM deg d LEFT JOIN pn USING (node)
        |ORDER BY node""".stripMargin,

    // g4: g3's CTE pipeline run twice — exact, and on the md5-gated
    // edge sample ('g4:a-b' draw < 5000) — with the same DOULION
    // scale-up and the same verdict arithmetic
    "g4_triangle_estimate" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |co AS (
        |  SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_suppkey < b.l_suppkey),
        |deg AS (
        |  SELECT node, count(*) AS d
        |  FROM (SELECT x AS node FROM co
        |        UNION ALL SELECT y AS node FROM co) GROUP BY 1),
        |o AS (
        |  SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND co.x < co.y)
        |      THEN co.x ELSE co.y END AS u,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND co.x < co.y)
        |      THEN co.y ELSE co.x END AS v,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND co.x < co.y)
        |      THEN db.d ELSE da.d END AS dv
        |  FROM co
        |  JOIN deg da ON da.node = co.x
        |  JOIN deg db ON db.node = co.y),
        |texact AS (
        |  SELECT count(*) AS t FROM (
        |    SELECT e1.u FROM o e1
        |    JOIN o e2 ON e1.u = e2.u
        |     AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
        |    WHERE EXISTS (SELECT 1 FROM o
        |                  WHERE o.u = e1.v AND o.v = e2.v))),
        |sco AS (
        |  SELECT x, y FROM co
        |  WHERE CAST('0x' || substr(md5('g4:' || x || '-' || y), 1, 8)
        |          AS BIGINT) % 10000 < 5000),
        |sdeg AS (
        |  SELECT node, count(*) AS d
        |  FROM (SELECT x AS node FROM sco
        |        UNION ALL SELECT y AS node FROM sco) GROUP BY 1),
        |so AS (
        |  SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND sco.x < sco.y)
        |      THEN sco.x ELSE sco.y END AS u,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND sco.x < sco.y)
        |      THEN sco.y ELSE sco.x END AS v,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND sco.x < sco.y)
        |      THEN db.d ELSE da.d END AS dv
        |  FROM sco
        |  JOIN sdeg da ON da.node = sco.x
        |  JOIN sdeg db ON db.node = sco.y),
        |ts AS (
        |  SELECT count(*) AS t FROM (
        |    SELECT e1.u FROM so e1
        |    JOIN so e2 ON e1.u = e2.u
        |     AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
        |    WHERE EXISTS (SELECT 1 FROM so
        |                  WHERE so.u = e1.v AND so.v = e2.v))),
        |se AS (SELECT count(*) AS n FROM sco)
        |SELECT
        |  CAST(texact.t AS BIGINT) AS exact_triangles,
        |  CAST(se.n AS BIGINT) AS sampled_edges,
        |  CAST(ts.t AS BIGINT) AS sampled_triangles,
        |  CAST(floor(ts.t::DOUBLE / 0.125) AS BIGINT) AS est_triangles,
        |  abs(CAST(floor(ts.t::DOUBLE / 0.125) AS BIGINT)
        |      - texact.t)::DOUBLE <= texact.t::DOUBLE * 0.25
        |    AS within_25pct
        |FROM texact CROSS JOIN ts CROSS JOIN se""".stripMargin,

    // g5: components as min-reachable-node — an exact recursive
    // transitive closure (UNION dedups, so it terminates), node-count
    // bounded at oracle scale; the Spark side's pointer-doubling
    // labels must land on exactly the same (component = min member)
    "g5_components" ->
      """WITH RECURSIVE li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 80 = 0),
        |co AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey),
        |e AS (SELECT x AS src, y AS dst FROM co
        |      UNION ALL SELECT y, x FROM co),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |reach AS (
        |  SELECT node, node AS r FROM nodes
        |  UNION
        |  SELECT re.node, e.dst AS r
        |  FROM reach re JOIN e ON e.src = re.r),
        |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY 1)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_members
        |FROM comp GROUP BY 1 ORDER BY component""".stripMargin,

    // g6: six peeling rounds unrolled — survivors re-join the edge
    // list, HAVING keeps degree >= 4; the final round's survivors
    // emit with their in-core degree
    "g6_kcore" -> {
      val rounds = (1 to 6).map { i =>
        s"""s$i AS (
           |  SELECT e.src AS node FROM e
           |  JOIN s${i - 1} a ON a.node = e.src
           |  JOIN s${i - 1} b ON b.node = e.dst
           |  GROUP BY 1 HAVING count(*) >= 4)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (
         |  SELECT l_orderkey, l_partkey FROM lineitem
         |  WHERE l_orderkey % 80 = 0),
         |co AS (
         |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
         |  FROM li a JOIN li b
         |    ON a.l_orderkey = b.l_orderkey
         |   AND a.l_partkey < b.l_partkey),
         |e AS (SELECT x AS src, y AS dst FROM co
         |      UNION ALL SELECT y, x FROM co),
         |s0 AS (SELECT DISTINCT src AS node FROM e),
         |$rounds
         |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e JOIN s6 a ON a.node = e.src JOIN s6 b ON b.node = e.dst
         |GROUP BY 1 ORDER BY node""".stripMargin
    },

    // e14: the deterministic bottom-m priority reservoir replayed
    // verbatim — the reservoir is ORDER BY (priority, x, y) LIMIT m
    // over the same 60-bit md5 priorities the Spark side draws, then
    // g3's exact triangle pipeline over the reservoir and the
    // left-associative double scale-up mirrored term for term
    "e14_triangle_stream" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |co AS (
        |  SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_suppkey < b.l_suppkey),
        |t AS (SELECT count(*) AS n FROM co),
        |res AS (
        |  SELECT x, y FROM (
        |    SELECT x, y,
        |      CAST('0x' || substr(md5('e14:' || x || '-' || y), 1, 15)
        |        AS BIGINT) AS pr
        |    FROM co)
        |  ORDER BY pr, x, y LIMIT 1000),
        |sdeg AS (
        |  SELECT node, count(*) AS d
        |  FROM (SELECT x AS node FROM res
        |        UNION ALL SELECT y AS node FROM res) GROUP BY 1),
        |so AS (
        |  SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND res.x < res.y)
        |      THEN res.x ELSE res.y END AS u,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND res.x < res.y)
        |      THEN res.y ELSE res.x END AS v,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND res.x < res.y)
        |      THEN db.d ELSE da.d END AS dv
        |  FROM res
        |  JOIN sdeg da ON da.node = res.x
        |  JOIN sdeg db ON db.node = res.y),
        |ts AS (
        |  SELECT count(*) AS t FROM (
        |    SELECT e1.u FROM so e1
        |    JOIN so e2 ON e1.u = e2.u
        |     AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
        |    WHERE EXISTS (SELECT 1 FROM so
        |                  WHERE so.u = e1.v AND so.v = e2.v)))
        |SELECT
        |  CAST(t.n AS BIGINT) AS seen_edges,
        |  CAST(least(t.n, 1000) AS BIGINT) AS reservoir_edges,
        |  CAST(ts.t AS BIGINT) AS sampled_triangles,
        |  CASE WHEN t.n <= 1000 THEN CAST(ts.t AS BIGINT)
        |    ELSE CAST(floor(ts.t::DOUBLE *
        |      (t.n::DOUBLE * (t.n - 1)::DOUBLE * (t.n - 2)::DOUBLE /
        |       (1000.0::DOUBLE * 999.0::DOUBLE * 998.0::DOUBLE)))
        |      AS BIGINT) END AS est_triangles
        |FROM t CROSS JOIN ts""".stripMargin,

    // e15: the count-min fold replayed from the same md5 cell hashes
    // — per (row, cell, batch) increments, cumulative sums as the
    // prefix state (additive counters: the prefix multiset IS the
    // state), each epoch's distinct keys probed at min-over-rows and
    // gated on the exact integer threshold est·1000 >= 8·n_prefix
    "e15_hh_gate" ->
      """WITH ev AS (
        |  SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS batch,
        |    CAST(user_id AS VARCHAR) AS key
        |  FROM events),
        |cells AS (
        |  SELECT batch, key, j,
        |    CAST('0x' || substr(md5('e15:' || CAST(j AS VARCHAR)
        |        || ':' || key), 1, 15) AS BIGINT) % 256 AS cell
        |  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
        |bc AS (SELECT j, cell, batch, CAST(count(*) AS BIGINT) AS c
        |       FROM cells GROUP BY 1, 2, 3),
        |cum AS (SELECT j, cell, batch,
        |          sum(c) OVER (PARTITION BY j, cell ORDER BY batch)
        |            AS cum
        |        FROM bc),
        |np AS (
        |  SELECT batch, sum(nb) OVER (ORDER BY batch) AS n_prefix
        |  FROM (SELECT batch, CAST(count(*) AS BIGINT) AS nb
        |        FROM ev GROUP BY 1)),
        |cand AS (SELECT DISTINCT batch, key, j, cell FROM cells),
        |est AS (
        |  SELECT k.batch, k.key, min(cu.cum) AS est
        |  FROM cand k
        |  JOIN cum cu ON cu.j = k.j AND cu.cell = k.cell
        |    AND cu.batch = k.batch
        |  GROUP BY 1, 2)
        |SELECT e.batch, CAST(e.key AS BIGINT) AS user_id,
        |  CAST(e.est AS BIGINT) AS est,
        |  CAST(np.n_prefix AS BIGINT) AS n_prefix
        |FROM est e JOIN np USING (batch)
        |WHERE e.est * 1000 >= 8 * np.n_prefix
        |ORDER BY e.batch, user_id""".stripMargin,

    // e16: the register fold replayed from the same md5 hashes —
    // trailing zeros as bit_count((w-1) & ~w), prefix registers as a
    // window max over the (epoch × bucket) grid, the estimate's
    // 2^-reg terms as exact integer-shift doubles left-folded in
    // bucket order, and the linear-counting branch on integer V
    "e16_hll_gate" ->
      """WITH ev AS (
        |  SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS batch,
        |    CAST(user_id AS VARCHAR) AS key
        |  FROM events),
        |hv AS (
        |  SELECT batch, v % 64 AS bucket, v >> 6 AS w
        |  FROM (SELECT batch,
        |          CAST('0x' || substr(md5('e16:' || key), 1, 15)
        |            AS BIGINT) AS v
        |        FROM ev)),
        |br AS (
        |  SELECT batch, bucket,
        |    CAST(max(CASE WHEN w = 0 THEN 55
        |      ELSE bit_count((w - 1) & ~w) + 1 END) AS INT) AS r,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM hv GROUP BY 1, 2),
        |grid AS (
        |  SELECT b.batch, g.bucket
        |  FROM (SELECT DISTINCT batch FROM br) b
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) g),
        |regs AS (
        |  SELECT g.batch, g.bucket,
        |    coalesce(max(br.r) OVER (PARTITION BY g.bucket
        |      ORDER BY g.batch), 0) AS reg
        |  FROM grid g LEFT JOIN br
        |    ON br.batch = g.batch AND br.bucket = g.bucket),
        |np AS (
        |  SELECT batch, sum(nb) OVER (ORDER BY batch) AS n_prefix
        |  FROM (SELECT batch, sum(cnt) AS nb FROM br GROUP BY 1)),
        |arr AS (
        |  SELECT batch,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(1.0::DOUBLE / CAST(1::BIGINT << reg AS DOUBLE)
        |        ORDER BY bucket)),
        |      (a, b) -> a + b) AS s,
        |    sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS vz
        |  FROM regs GROUP BY batch),
        |fin AS (
        |  SELECT batch, s, vz,
        |    0.709::DOUBLE * 4096.0::DOUBLE / s AS raw
        |  FROM arr)
        |SELECT f.batch, CAST(np.n_prefix AS BIGINT) AS n_prefix,
        |  CAST(floor((CASE WHEN f.raw <= 160.0::DOUBLE AND f.vz > 0
        |    THEN 64.0::DOUBLE * ln(64.0::DOUBLE / CAST(f.vz AS DOUBLE))
        |    ELSE f.raw END) * 1000000.0::DOUBLE) AS BIGINT) AS est_e6
        |FROM fin f JOIN np USING (batch)
        |ORDER BY f.batch""".stripMargin,

    // e17: per-epoch histograms on the bucket spine, the x16 smoothed
    // terms per bucket, the e16 ordered-fold sum, e9-cut
    "e17_psi_gate" ->
      """WITH ev AS (
        |  SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS batch,
        |    CAST(user_id % 10 AS INT) AS bucket
        |  FROM events
        |  WHERE user_id % 10 >= 0 AND user_id % 10 < 10),
        |bc AS (SELECT batch, bucket, CAST(count(*) AS BIGINT) AS n
        |       FROM ev GROUP BY 1, 2),
        |tot AS (SELECT batch, CAST(sum(n) AS BIGINT) AS tot
        |        FROM bc GROUP BY 1),
        |rb AS (SELECT min(batch) AS ref_batch FROM tot),
        |spine AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bucket),
        |refh AS (
        |  SELECT s.bucket, coalesce(b.n, 0) AS ref_n
        |  FROM spine s CROSS JOIN rb
        |  LEFT JOIN bc b
        |    ON b.batch = rb.ref_batch AND b.bucket = s.bucket),
        |rt AS (SELECT CAST(sum(ref_n) AS BIGINT) AS ref_tot FROM refh),
        |grid AS (
        |  SELECT t.batch, t.tot, s.bucket,
        |    coalesce(b.n, 0) AS cur_n, r.ref_n, rt.ref_tot
        |  FROM tot t CROSS JOIN spine s
        |  LEFT JOIN bc b ON b.batch = t.batch AND b.bucket = s.bucket
        |  JOIN refh r ON r.bucket = s.bucket
        |  CROSS JOIN rt),
        |arr AS (
        |  SELECT batch, tot,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(
        |        ((CAST(cur_n AS DOUBLE) + 1.0)
        |            / (CAST(tot AS DOUBLE) + 10.0)
        |          - (CAST(ref_n AS DOUBLE) + 1.0)
        |            / (CAST(ref_tot AS DOUBLE) + 10.0))
        |        * ln(((CAST(cur_n AS DOUBLE) + 1.0)
        |            / (CAST(tot AS DOUBLE) + 10.0))
        |          / ((CAST(ref_n AS DOUBLE) + 1.0)
        |            / (CAST(ref_tot AS DOUBLE) + 10.0)))
        |        ORDER BY bucket)),
        |      (a, b) -> a + b) AS psi
        |  FROM grid GROUP BY batch, tot)
        |SELECT batch, tot AS n_cur,
        |  CAST(floor(psi * 1000000000.0::DOUBLE) AS BIGINT) AS psi_e9,
        |  psi > 0.05::DOUBLE AS drifted
        |FROM arr ORDER BY batch""".stripMargin,

    "g1_pagerank" -> pagerankSql,
    "g2_pagerank_redistributed" -> pagerankRedistSql,
    "b1_bpe_merges" -> bpeSql,
    "b7_byte_bpe" -> byteBpeSql,
    "b8_byte_encode" -> byteBpeEncodeSql,
    "b9_wordpiece" -> wordpieceSql,
    "b10_wordpiece_encode" -> wordpieceEncodeSql,
    "b11_tokenizer_eval" -> tokenizerEvalSql,
    // b12/b13: persistence round-trips — the loaded-model encode must
    // equal the in-memory one, so the oracles ARE b8's and b10's
    "b12_bpe_indexed" -> byteBpeEncodeSql,
    "b13_wordpiece_indexed" -> wordpieceEncodeSql,

    // l5: the next-fit fold replayed exactly — a recursive CTE
    // advances every shard one doc per step; the CASE triple is the
    // open-pack/new-pack/own-pack-overflow rule
    "l5_seq_pack" ->
      s"""WITH RECURSIVE $packRecCtes
        |SELECT shard, doc_id, len, pack_seq, pos_in_pack, fill_after
        |FROM rec ORDER BY shard, doc_id""".stripMargin,

    // l7: both recursions in one WITH (suffixed CTE names), the
    // batch's pack numbering offset by the base's per-shard max
    "l7_incremental_pack" ->
      s"""WITH RECURSIVE ${packRecCtesWith("_b",
            "WHERE doc_id % 5 <> 0")},
        |${packRecCtesWith("_n", "WHERE doc_id % 5 = 0")},
        |off AS (
        |  SELECT shard, max(pack_seq) AS pack_off
        |  FROM rec_b GROUP BY 1)
        |SELECT n.shard, n.doc_id, n.len,
        |  n.pack_seq + coalesce(o.pack_off, 0) AS pack_seq,
        |  n.pos_in_pack, n.fill_after
        |FROM rec_n n LEFT JOIN off o ON o.shard = n.shard
        |ORDER BY n.shard, n.doc_id""".stripMargin,

    // l6: the SAME fold's pack assignments joined back to text and
    // collapsed one row per pack — payload = members newline-joined
    // in doc order (md5'd per the b2 convention), n_tokens = the
    // pack's fill
    "l6_pack_payloads" ->
      s"""WITH RECURSIVE $packRecCtes
        |SELECT r.shard, r.pack_seq,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(r.len) AS BIGINT) AS n_tokens,
        |  md5(string_agg(d.text, chr(10) ORDER BY r.doc_id))
        |    AS payload_md5
        |FROM rec r JOIN documents d USING (doc_id)
        |GROUP BY r.shard, r.pack_seq
        |ORDER BY r.shard, r.pack_seq""".stripMargin,

    // b5: substring explode bounded at 8 chars, freq-weighted, single
    // chars unioned with the top-200 multi-char cut on the same
    // (freq DESC, piece ASC) total order
    "b5_unigram_seed" ->
      """WITH w AS (
        |  SELECT wd, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |          AS wd FROM documents)
        |  WHERE wd <> '' GROUP BY 1),
        |subs AS (
        |  SELECT substr(wd, i::INT, l::INT) AS piece, c
        |  FROM (
        |    SELECT wd, c, i,
        |      unnest(range(1, least(8, length(wd) - i + 1) + 1)) AS l
        |    FROM (SELECT wd, c, unnest(range(1, length(wd) + 1)) AS i
        |          FROM w))),
        |pf AS (SELECT piece, CAST(sum(c) AS BIGINT) AS freq FROM subs GROUP BY 1),
        |multi AS (
        |  SELECT piece, freq FROM pf WHERE length(piece) > 1
        |  ORDER BY freq DESC, piece ASC LIMIT 200)
        |SELECT piece, freq FROM pf WHERE length(piece) = 1
        |UNION ALL
        |SELECT piece, freq FROM multi
        |ORDER BY piece""".stripMargin,
    // b6: the Viterbi encode replayed — seed model from the b5 CTEs,
    // lp = floor(1e6·ln(freq/Σfreq)) as BIGINT (exact DP arithmetic),
    // the DP as a recursive CTE over (word, position) with best/back
    // carried as lists; list_reduce scans candidates j ascending and
    // replaces only on strict improvement — exactly UnigramImpl's
    // smallest-j/longest-piece tie contract. Candidate (word, i, j)
    // piece lps resolve through a PLAIN JOIN outside the recursion
    // and enter the step as per-position lists (a MAP literal crossed
    // into the recursive term mis-resolved lookups on multi-row
    // recursions in DuckDB — join-then-list sidesteps it). Backtrack
    // is a second bounded recursion; documents reassemble their word
    // streams by position and hash them.
    "b6_unigram_encode" -> unigramEncodeSql,

    "b2_bpe_encode" -> bpeEncodeSql,
    "b3_token_freq" -> s"""WITH $bpeRoundsCtes,
       |t AS (SELECT unnest(syms) AS token, c FROM s4)
       |SELECT token, CAST(sum(c) AS BIGINT) AS n FROM t
       |GROUP BY 1 ORDER BY n DESC, token LIMIT 50""".stripMargin,

    // b4: the trained word→symbols table joined back per (lang, word)
    "b4_fertility" -> s"""WITH $bpeRoundsCtes,
       |wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS tl FROM s4),
       |dw AS (
       |  SELECT lang, unnest(list_filter(
       |    regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''))
       |    AS w
       |  FROM documents),
       |g AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
       |      FROM dw GROUP BY 1, 2)
       |SELECT g.lang, CAST(sum(g.c) AS BIGINT) AS n_words,
       |  CAST(sum(g.c * wl.tl) AS BIGINT) AS n_tokens,
       |  CAST(CAST(CAST(sum(g.c * wl.tl) AS DOUBLE)
       |      / CAST(sum(g.c) AS DOUBLE) AS DECIMAL(24,6))
       |    * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS fertility_e6
       |FROM g JOIN wl ON g.w = wl.w
       |GROUP BY g.lang ORDER BY g.lang""".stripMargin,
    "lr1_quality_lr" -> logRegSql,
    "e10_score_gate" -> scoreGateSql,
    "s10_pca_project" -> pcaSql,
    "s11_pca_residual" -> pcaResidualSql,

    // d17: d6's hyperplane literals, %5 split, banded candidates,
    // cosine cut — the direct batch-vs-lake form the index must equal
    "d17_embed_indexed" ->
      s"""WITH hyper(band, bit, r) AS (VALUES
         |$d6PlaneRows),
         |keyed AS (
         |  SELECT e.vec_id, h.band,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64),
         |        k -> e.embedding[k]::DOUBLE * h.r[k])) >= 0
         |      THEN (CAST(1 AS BIGINT) << (h.bit - 1))
         |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS key
         |  FROM embeddings e CROSS JOIN hyper h
         |  GROUP BY e.vec_id, h.band),
         |b AS (SELECT * FROM keyed WHERE vec_id % 5 = 0),
         |l AS (SELECT * FROM keyed WHERE vec_id % 5 <> 0),
         |cand AS (
         |  SELECT DISTINCT b.vec_id AS bid, l.vec_id AS lid
         |  FROM b JOIN l ON b.band = l.band AND b.key = l.key),
         |dup AS (
         |  SELECT DISTINCT c.bid FROM cand c
         |  JOIN embeddings eb ON eb.vec_id = c.bid
         |  JOIN embeddings el ON el.vec_id = c.lid
         |  WHERE ${cosSql("eb.embedding", "el.embedding")} >= 0.35)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id % 5 = 0
         |  AND vec_id NOT IN (SELECT bid FROM dup)
         |ORDER BY vec_id""".stripMargin,

    // d16: d15's assign CTE, %5 split, NOT EXISTS against the lake
    "d16_incremental_semdedup" ->
      s"""WITH cent AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16)),
         |assign AS (
         |  SELECT vec_id, cell, embedding FROM (
         |    SELECT v.vec_id, c.cell, v.embedding,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.embedding", "c.embedding")} DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent c)
         |  WHERE rn = 1),
         |b AS (SELECT * FROM assign WHERE vec_id % 5 = 0),
         |l AS (SELECT * FROM assign WHERE vec_id % 5 <> 0),
         |dup AS (
         |  SELECT DISTINCT b.vec_id FROM b JOIN l ON b.cell = l.cell
         |  WHERE ${cosSql("b.embedding", "l.embedding")} >= 0.35)
         |SELECT b.vec_id, b.cell FROM b
         |WHERE b.vec_id NOT IN (SELECT vec_id FROM dup)
         |ORDER BY b.vec_id""".stripMargin,

    "t8_bm25" -> bm25OracleSql,

    // t9: the indexed path must be result-identical to t8 — the oracle
    // IS t8's formula; bucketization of the posting lists is invisible
    "t9_bm25_indexed" -> bm25OracleSql,

    // sk1/sk2: the estimate is not oracle-recomputable (Spark-internal
    // sketch layouts); the oracle recomputes the EXACT side and emits
    // literal TRUE for the envelope verdicts — hash match proves every
    // estimate honored its bound (see the query-side comments).
    "sk3_kmv_overlap" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |types AS (SELECT DISTINCT event_type AS t FROM events),
        |pairs AS (SELECT a.t AS type_a, b.t AS type_b
        |          FROM types a JOIN types b ON a.t < b.t),
        |ov AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    CAST(count(DISTINCT x.user_id) AS BIGINT) AS n
        |  FROM du x JOIN du y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  coalesce(ov.n, 0) AS exact_overlap,
        |  TRUE AS within_envelope
        |FROM pairs p LEFT JOIN ov
        |  ON p.type_a = ov.type_a AND p.type_b = ov.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "sk1_hll_envelope" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |  TRUE AS within_3rsd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "sk2_cms_envelope" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents)
        |SELECT tok AS token, CAST(count(*) AS BIGINT) AS exact_n,
        |  TRUE AS ge_exact, TRUE AS within_eps
        |FROM toks GROUP BY tok
        |ORDER BY exact_n DESC, token LIMIT 20""".stripMargin,

    // sk4: exact top-20 + the recomputed must_survive cut; the three
    // guarantee verdicts are literal TRUE — the envelope convention
    "sk4_mg_envelope" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
        |SELECT tok AS token, CAST(count(*) AS BIGINT) AS exact_n,
        |  count(*) > nn.n // 9 AS must_survive,
        |  TRUE AS le_exact, TRUE AS within_bound, TRUE AS survives_ok
        |FROM toks CROSS JOIN nn GROUP BY tok, nn.n
        |ORDER BY exact_n DESC, token LIMIT 20""".stripMargin,
  )

  /** g1's oracle: PageRank with the 5 power-iteration rounds unrolled
    * as chained CTEs (DuckDB, like Postgres, forbids aggregation over
    * the recursive reference in a recursive CTE — and the round count
    * is a fixed literal anyway). Double arithmetic mirrors
    * [[graft.operators.Graph.pageRank]] term by term. */
  private lazy val pagerankSql: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    (1.0::DOUBLE - 0.85::DOUBLE) / nn.n
         |      + 0.85::DOUBLE * coalesce(s.inb, 0.0::DOUBLE) AS rank
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT c.dst, sum(p.rank / c.deg) AS inb
         |    FROM contrib c JOIN r${i - 1} p ON c.src = p.node
         |    GROUP BY c.dst) s ON n.node = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |        FROM e GROUP BY 1),
       |contrib AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
       |nodes AS (SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0::DOUBLE / nn.n AS rank
       |       FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, CAST(CAST(rank AS DECIMAL(24,12))
       |  * CAST(1000000000000 AS DECIMAL(13,0)) AS BIGINT) AS rank_e12
       |FROM r5 ORDER BY node""".stripMargin
  }

  /** s10: moment sums → covariance → 8 unrolled power-iteration
    * rounds (matvec + L2 normalize as list ops, ascending index order
    * — the same recipe the Scala driver runs) → centered projection,
    * e6-cut. */
  /** Shared ds1/ds2/ds3 oracle prefix: featurize (the `t` CTE varies
    * by n-gram order), md5-bucket both slices, smoothed frequency
    * tables, the B-row log-ratio model, and the per-doc weighted
    * score frame `sc` (doc_id, n_tok, logw). */
  private def dsirCtesWith(tCte: String): String =
    s"""$tCte,
      |tgt AS (SELECT CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
      |          % 256 AS b FROM t WHERE doc_id % 7 = 0),
      |rawb AS (SELECT doc_id,
      |          CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
      |          % 256 AS b FROM t WHERE doc_id % 7 <> 0),
      |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tc
      |       FROM tgt GROUP BY 1),
      |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rc
      |       FROM rawb GROUP BY 1),
      |tt AS (SELECT CAST(coalesce(sum(tc), 0) AS DOUBLE) AS n FROM tc),
      |rt AS (SELECT CAST(coalesce(sum(rc), 0) AS DOUBLE) AS n FROM rc),
      |sp AS (SELECT unnest(range(0, 256)) AS b),
      |ratio AS (
      |  SELECT sp.b,
      |    ln(((CAST(coalesce(tc.tc, 0) AS DOUBLE) + 1.0)/(tt.n + 256.0))
      |     / ((CAST(coalesce(rc.rc, 0) AS DOUBLE) + 1.0)/(rt.n + 256.0)))
      |      AS lr
      |  FROM sp LEFT JOIN tc USING (b) LEFT JOIN rc USING (b)
      |  CROSS JOIN tt CROSS JOIN rt),
      |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
      |       FROM rawb GROUP BY 1, 2),
      |sc AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
      |    sum(CAST(c AS DOUBLE) * lr) AS logw
      |  FROM db JOIN ratio USING (b) GROUP BY doc_id)""".stripMargin

  private lazy val dsirCtes: String = dsirCtesWith(
    """t AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(trim(text), '\s+'), w -> w <> ''))
      |    AS tok
      |  FROM documents)""".stripMargin)

  /** ds3: space-joined sliding bigrams; docs with < 2 tokens yield no
    * features — the same drop rule the Spark explode applies. */
  private lazy val dsirBigramCtes: String = dsirCtesWith(
    """t0 AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(text), '\s+'), w -> w <> '')
      |    AS toks
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS tok
      |  FROM (SELECT doc_id, toks,
      |          unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i
      |        FROM t0))""".stripMargin)

  /** Shared s10/s11 oracle prefix: moment sums → covariance → the 8
    * unrolled power-iteration rounds (matvec + L2 normalize as list
    * ops, ascending index order — the same recipe the Scala driver
    * runs), leaving `mu` (column means) and `v8` (the unit principal
    * direction). */
  private lazy val pcaRoundsCtes: String = {
    val rounds = (1 to 8).map { k =>
      s"""w$k AS (
         |  SELECT list_transform(cm.m, row ->
         |    list_sum(list_transform(generate_series(1, 64),
         |      kk -> row[kk] * v${k - 1}.v[kk]))) AS w
         |  FROM cm CROSS JOIN v${k - 1}),
         |v$k AS (
         |  SELECT list_transform(w.w, x -> x / sqrt(
         |    list_sum(list_transform(w.w, y -> y * y)))) AS v
         |  FROM w$k w)""".stripMargin
    }.mkString(",\n")
    s"""pos AS (SELECT unnest(generate_series(1, 64)) AS i),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
       |msum AS (
       |  SELECT i, sum(embedding[i]::DOUBLE) AS si
       |  FROM embeddings CROSS JOIN pos GROUP BY i),
       |mom AS (
       |  SELECT p1.i, p2.i AS j,
       |    sum(e.embedding[p1.i]::DOUBLE * e.embedding[p2.i]::DOUBLE)
       |      AS gij
       |  FROM embeddings e CROSS JOIN pos p1 CROSS JOIN pos p2
       |  GROUP BY 1, 2),
       |cov AS (
       |  SELECT m.i, m.j,
       |    m.gij / nn.n - (a.si / nn.n) * (b.si / nn.n) AS c
       |  FROM mom m CROSS JOIN nn
       |  JOIN msum a ON a.i = m.i JOIN msum b ON b.i = m.j),
       |crow AS (SELECT i, list(c ORDER BY j) AS row FROM cov GROUP BY i),
       |cm AS (SELECT list(row ORDER BY i) AS m
       |       FROM (SELECT * FROM crow ORDER BY i)),
       |mu AS (SELECT list(si / nn.n ORDER BY i) AS u
       |       FROM msum CROSS JOIN nn),
       |v0 AS (SELECT list_transform(generate_series(1, 64),
       |         k -> 1.0 / sqrt(64.0)) AS v),
       |$rounds""".stripMargin
  }

  private lazy val pcaSql: String =
    s"""WITH $pcaRoundsCtes
       |SELECT e.vec_id,
       |  CAST(CAST(list_sum(list_transform(generate_series(1, 64),
       |      k -> (e.embedding[k]::DOUBLE - mu.u[k]) * v8.v[k]))
       |    AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
       |    AS proj_e6
       |FROM embeddings e CROSS JOIN mu CROSS JOIN v8
       |ORDER BY e.vec_id""".stripMargin

  /** s11: the same (mu, v8), then per vector the centered projection
    * and the L2 norm of the residual after removing the component —
    * projection computed once in a subquery, residual summed in
    * ascending index order exactly as the Scala expression does. */
  private lazy val pcaResidualSql: String =
    s"""WITH $pcaRoundsCtes,
       |pr AS (
       |  SELECT e.vec_id, e.embedding, mu.u, v8.v,
       |    list_sum(list_transform(generate_series(1, 64),
       |      k -> (e.embedding[k]::DOUBLE - mu.u[k]) * v8.v[k])) AS proj
       |  FROM embeddings e CROSS JOIN mu CROSS JOIN v8)
       |SELECT vec_id,
       |  CAST(CAST(proj AS DECIMAL(24,6))
       |    * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS proj_e6,
       |  CAST(CAST(sqrt(list_sum(list_transform(generate_series(1, 64),
       |      k -> (embedding[k]::DOUBLE - u[k] - proj * v[k])
       |        * (embedding[k]::DOUBLE - u[k] - proj * v[k]))))
       |    AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
       |    AS rnorm_e6
       |FROM pr ORDER BY vec_id""".stripMargin

  /** b1: four unrolled BPE rounds. Each round: weighted adjacent-pair
    * counts over the symbolized word table, the (n DESC, l, r) argmax,
    * and the leftmost-greedy merge replayed with run-parity windows
    * (for l = r, matches in a run of equal symbols merge at odd ranks
    * only — exactly the fold's non-overlapping semantics; for l ≠ r
    * adjacent matches are impossible and every match merges). */
  /** Shared b1/b2 oracle prefix: the corpus word-frequency table,
    * its symbolization, and four unrolled merge rounds (pair counts,
    * (n DESC, l, r) argmax, leftmost-greedy replay via run-parity
    * windows). b1 reads the four m_k argmax rows; b2 reads the final
    * s4 word→symbols table. */
  /** The four BPE training rounds as chained CTEs over a caller-chosen
    * s0 symbol table — shared by the char rows (b1–b4, code-point
    * symbols) and the byte rows (b7/b8, UTF-8 hex-pair symbols): the
    * merge mechanics are alphabet-agnostic, only s0 differs. */
  private def bpeRoundsCtesWith(s0: String): String = {
    val rounds = (1 to 4).map { k =>
      s"""p$k AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(c) AS BIGINT) AS n
         |  FROM (SELECT c, syms, unnest(range(1, greatest(len(syms), 1))) AS i
         |        FROM s${k - 1})
         |  GROUP BY 1, 2),
         |m$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         |s$k AS (
         |  SELECT w, c, list(tok ORDER BY i) AS syms FROM (
         |    SELECT w, c, i, CASE WHEN merged THEN l || r ELSE sym END AS tok,
         |      merged,
         |      coalesce(lag(merged) OVER (PARTITION BY w ORDER BY i), false)
         |        AS prevm
         |    FROM (
         |      SELECT w, c, i, sym, l, r,
         |        mtch AND (l <> r OR row_number() OVER (
         |          PARTITION BY w, isl, mtch ORDER BY i) % 2 = 1) AS merged
         |      FROM (
         |        SELECT w, c, i, sym, l, r, mtch,
         |          i - sum(CASE WHEN mtch THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY w ORDER BY i) AS isl
         |        FROM (
         |          SELECT b.w, b.c, b.i, b.syms[b.i] AS sym, m.l, m.r,
         |            coalesce(b.syms[b.i] = m.l AND b.syms[b.i+1] = m.r
         |              AND b.i < len(b.syms), false) AS mtch
         |          FROM (SELECT w, c, syms,
         |                  unnest(range(1, len(syms) + 1)) AS i
         |                FROM s${k - 1}) b CROSS JOIN m$k m))))
         |  WHERE NOT prevm
         |  GROUP BY w, c)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |$s0,
       |$rounds""".stripMargin
  }

  private lazy val bpeRoundsCtes: String = bpeRoundsCtesWith(
    """s0 AS (SELECT w, c,
      |  list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
      |  FROM words)""".stripMargin)

  /** b7/b8's s0: each word's UTF-8 bytes as two-char uppercase hex
    * symbols — hex(encode(w)) split pairwise, matching Spark's
    * hex(encode(w, 'UTF-8')) casing exactly. */
  private lazy val byteRoundsCtes: String = bpeRoundsCtesWith(
    """s0 AS (SELECT w, c,
      |  list_transform(generate_series(1, length(h), 2),
      |    i -> substring(h, i, 2)) AS syms
      |  FROM (SELECT w, c, hex(encode(w)) AS h FROM words))""".stripMargin)

  private def bpeMergesSelect(ctes: String): String =
    s"""WITH $ctes
       |SELECT * FROM (
       |  SELECT 1 AS rank, l AS "left", r AS "right", n FROM m1
       |  UNION ALL SELECT 2, l, r, n FROM m2
       |  UNION ALL SELECT 3, l, r, n FROM m3
       |  UNION ALL SELECT 4, l, r, n FROM m4)
       |ORDER BY rank""".stripMargin

  private lazy val bpeSql: String = bpeMergesSelect(bpeRoundsCtes)

  private lazy val byteBpeSql: String = bpeMergesSelect(byteRoundsCtes)

  /** lr1: features and heuristic labels, then three unrolled GD
    * rounds — each a gradient CTE (the same per-row σ(w·x)−y terms
    * the Spark pass sums) and a weight-update CTE with the identical
    * literal formula; scores are e6-cut. */
  /** σ(w·x) over feature table `t`'s f1..f3 with weight row `w` —
    * the literal left-assoc operand order [[graft.operators.LogReg]]
    * uses, shared by every CTE that scores. */
  private def logRegP(w: String, t: String = "x") =
    s"1.0::DOUBLE/(1.0::DOUBLE + exp(-($w.b + $w.w1*$t.f1 + $w.w2*$t.f2 + $w.w3*$t.f3)))"

  /** The lr1 training prefix — feature/label CTEs and the three
    * unrolled GD rounds ending in weight row `w3` — shared verbatim
    * by lr1 (scores every doc) and e10 (replays the streaming gate
    * with the trained weights). */
  private lazy val logRegTrainCtes: String = {
    val rounds = (1 to 3).map { k =>
      val pw = logRegP("w")
      s"""g$k AS (
         |  SELECT sum($pw - x.y) AS g0,
         |    sum(($pw - x.y) * x.f1) AS g1,
         |    sum(($pw - x.y) * x.f2) AS g2,
         |    sum(($pw - x.y) * x.f3) AS g3
         |  FROM x CROSS JOIN w${k - 1} w),
         |w$k AS (
         |  SELECT w.b - 0.5::DOUBLE*(g.g0/n.n + 0.01::DOUBLE*w.b) AS b,
         |    w.w1 - 0.5::DOUBLE*(g.g1/n.n + 0.01::DOUBLE*w.w1) AS w1,
         |    w.w2 - 0.5::DOUBLE*(g.g2/n.n + 0.01::DOUBLE*w.w2) AS w2,
         |    w.w3 - 0.5::DOUBLE*(g.g3/n.n + 0.01::DOUBLE*w.w3) AS w3
         |  FROM w${k - 1} w CROSS JOIN g$k g CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS DOUBLE) AS nw,
       |    CAST(n_chars AS DOUBLE) AS nc,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) AS nd
       |  FROM (SELECT doc_id, n_chars,
       |          list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |            w -> w <> '') AS toks
       |        FROM documents)
       |  WHERE len(toks) > 0),
       |x AS (
       |  SELECT doc_id, nw/100.0::DOUBLE AS f1,
       |    nc/nw/10.0::DOUBLE AS f2, nd/nw AS f3,
       |    CASE WHEN nw >= 30.0::DOUBLE AND nw <= 5000.0::DOUBLE
       |      AND nd/nw >= 0.3::DOUBLE THEN 1.0::DOUBLE
       |      ELSE 0.0::DOUBLE END AS y
       |  FROM f),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM x),
       |w0 AS (SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS w1,
       |       0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3),
       |$rounds""".stripMargin
  }

  private lazy val logRegSql: String =
    s"""$logRegTrainCtes
       |SELECT x.doc_id, CAST(x.y AS INT) AS label,
       |  CAST(CAST(${logRegP("w")} AS DECIMAL(24,6))
       |    * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS score_e6
       |FROM x CROSS JOIN w3 w ORDER BY x.doc_id""".stripMargin

  /** e10: the lr1 training rounds, then the STREAMING gate's scoring
    * recipe replayed over the corpus — features recomputed in-row the
    * way [[graft.streaming.IngestGate.scoreGate]] does (nc from
    * len(text), not the n_chars column; null text coalesced to ''),
    * survivors = score_e6 ≥ a median-of-corpus cut. Zero-token rows
    * are excluded here by `nw > 0` and on the Spark side by NaN
    * features failing the filter — the same keep set. */
  private lazy val scoreGateSql: String =
    s"""$logRegTrainCtes,
       |gf AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS DOUBLE) AS nw,
       |    CAST(len(coalesce(text, '')) AS DOUBLE) AS nc,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) AS nd
       |  FROM (SELECT doc_id, text,
       |          list_filter(
       |            regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
       |            w -> w <> '') AS toks
       |        FROM documents)),
       |gx AS (
       |  SELECT doc_id, nw/100.0::DOUBLE AS f1,
       |    nc/nw/10.0::DOUBLE AS f2, nd/nw AS f3
       |  FROM gf WHERE nw > 0)
       |SELECT gx.doc_id
       |FROM gx CROSS JOIN w3 w
       |WHERE CAST(CAST(${logRegP("w", "gx")} AS DECIMAL(24,6))
       |    * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) >= 646000
       |ORDER BY gx.doc_id""".stripMargin

  /** b2: the same four training rounds, then every document's words
    * (in position order) joined to the final s4 symbol table; the
    * token stream's md5 pins merge boundaries document-by-document.
    * The final LEFT JOIN from `documents` keeps zero-token documents
    * (empty/whitespace-only text) in the result exactly as the Spark
    * side emits them: n_tokens 0, md5 of the empty string. */
  private lazy val bpeEncodeSql: String = bpeEncodeSelect(bpeRoundsCtes)

  /** b8: the b2 encode replay on the BYTE vocabulary — identical
    * shape; the s4 symbol table just holds hex-pair concatenations. */
  private lazy val byteBpeEncodeSql: String =
    bpeEncodeSelect(byteRoundsCtes)

  /** b6: the unigram-LM Viterbi encode under the seed-normalized
    * model, replayed as bounded recursive CTEs (one DP level per
    * iteration; backtrack a second bounded recursion). Extracted to a
    * val so b11 can embed it as one of its four scoped subqueries. */
  private lazy val unigramEncodeSql: String =
    """WITH RECURSIVE
      |w AS (
      |  SELECT wd, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
      |          AS wd FROM documents)
      |  WHERE wd <> '' GROUP BY 1),
      |subs AS (
      |  SELECT substr(wd, i::INT, l::INT) AS piece, c
      |  FROM (
      |    SELECT wd, c, i,
      |      unnest(range(1, least(8, length(wd) - i + 1) + 1)) AS l
      |    FROM (SELECT wd, c, unnest(range(1, length(wd) + 1)) AS i
      |          FROM w))),
      |pf AS (SELECT piece, CAST(sum(c) AS BIGINT) AS freq
      |       FROM subs GROUP BY 1),
      |multi AS (
      |  SELECT piece, freq FROM pf WHERE length(piece) > 1
      |  ORDER BY freq DESC, piece ASC LIMIT 200),
      |seed AS (
      |  SELECT piece, freq FROM pf WHERE length(piece) = 1
      |  UNION ALL SELECT piece, freq FROM multi),
      |tot AS (SELECT sum(freq)::DOUBLE AS t FROM seed),
      |model AS (
      |  SELECT piece, CAST(floor(ln(freq / t) * 1000000) AS BIGINT)
      |    AS lp
      |  FROM seed CROSS JOIN tot),
      |words AS (SELECT DISTINCT wd FROM w),
      |pos AS (
      |  SELECT wd, i, j,
      |    substr(wd, (j + 1)::INT, (i - j)::INT) AS piece
      |  FROM (SELECT wd, i, unnest(range(greatest(0, i - 8), i)) AS j
      |        FROM (SELECT wd, unnest(range(1, length(wd) + 1)) AS i
      |              FROM words))),
      |cand AS (
      |  SELECT wd, i, j,
      |    coalesce(m.lp, CASE WHEN i - j = 1
      |      THEN CAST(-100000000 AS BIGINT) END) AS lp
      |  FROM pos LEFT JOIN model m ON m.piece = pos.piece),
      |cl AS (
      |  SELECT wd, i, list({'j': j, 'lp': lp} ORDER BY j) AS cands
      |  FROM cand WHERE lp IS NOT NULL GROUP BY wd, i),
      |v AS (
      |  SELECT wd, 0 AS i, [CAST(0 AS BIGINT)] AS best, [0] AS back
      |  FROM words
      |  UNION ALL
      |  SELECT wd, i,
      |    list_append(best, pick.v),
      |    list_append(back, pick.j::INT)
      |  FROM (
      |    SELECT v.wd AS wd, cl.i AS i, v.best AS best,
      |      v.back AS back,
      |      list_reduce(
      |        list_transform(cl.cands,
      |          c -> {'j': c.j,
      |                'v': v.best[(c.j + 1)::INT] + c.lp}),
      |        (a, b) -> CASE WHEN b.v > a.v THEN b ELSE a END)
      |        AS pick
      |    FROM v JOIN cl ON cl.wd = v.wd AND cl.i = v.i + 1)),
      |fin AS (SELECT wd, back FROM v WHERE i = length(wd)),
      |bt AS (
      |  SELECT wd, length(wd)::INT AS k, back,
      |    CAST([] AS VARCHAR[]) AS pieces
      |  FROM fin
      |  UNION ALL
      |  SELECT wd, back[k + 1] AS k, back,
      |    list_prepend(substr(wd, back[k + 1] + 1, k - back[k + 1]),
      |      pieces)
      |  FROM bt WHERE k > 0),
      |wp AS (
      |  SELECT wd, array_to_string(pieces, ' ') AS ps,
      |    CAST(len(pieces) AS BIGINT) AS np
      |  FROM bt WHERE k = 0),
      |dt AS (
      |  SELECT doc_id, unnest(tk) AS wd,
      |    generate_subscripts(tk, 1) AS ord
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(trim(text), '\s+'),
      |            x -> x <> '') AS tk
      |        FROM documents)),
      |agg AS (
      |  SELECT doc_id, string_agg(ps, ' ' ORDER BY ord) AS stream,
      |    CAST(sum(np) AS BIGINT) AS n
      |  FROM dt JOIN wp USING (wd) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(n, 0) AS BIGINT) AS n_pieces,
      |  md5(coalesce(stream, '')) AS pieces_md5
      |FROM documents d LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** b11: the tokenizer selection table — each family's corpus token
    * total is one scoped subquery embedding that family's full
    * training+encode replay (DuckDB allows WITH [RECURSIVE] inside a
    * derived table), over one shared word count. */
  private lazy val tokenizerEvalSql: String =
    s"""WITH w AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_words
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
       |          AS wd FROM documents)
       |  WHERE wd <> '')
       |SELECT t.tokenizer, w.n_words, t.n_tokens,
       |  CAST(floor(CAST(t.n_tokens AS DOUBLE)
       |      / CAST(w.n_words AS DOUBLE) * 1000000) AS BIGINT)
       |    AS fertility_e6
       |FROM (
       |  SELECT 'bpe_byte' AS tokenizer,
       |    (SELECT CAST(sum(n_tokens) AS BIGINT)
       |     FROM ($byteBpeEncodeSql)) AS n_tokens
       |  UNION ALL SELECT 'bpe_char',
       |    (SELECT CAST(sum(n_tokens) AS BIGINT)
       |     FROM ($bpeEncodeSql))
       |  UNION ALL SELECT 'unigram',
       |    (SELECT CAST(sum(n_pieces) AS BIGINT)
       |     FROM ($unigramEncodeSql))
       |  UNION ALL SELECT 'wordpiece',
       |    (SELECT CAST(sum(n_tokens) AS BIGINT)
       |     FROM ($wordpieceEncodeSql))) t
       |CROSS JOIN w
       |ORDER BY t.tokenizer""".stripMargin

  /** The pack-assignment recursion (l5/l6/l7): token lengths, the
    * per-shard doc ordering, and the next-fit fold advanced one doc
    * per step (the CASE triple = open-pack / new-pack /
    * own-pack-overflow). `suffix` disambiguates CTE names so two
    * recursions (l7's base + batch) coexist in one WITH; `where`
    * filters the documents slice. Ends in `rec$suffix(shard, rn,
    * doc_id, len, pack_seq, fill_after, pos_in_pack)`. */
  private def packRecCtesWith(suffix: String, where: String): String =
    s"""docs$suffix AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+'))
      |      AS BIGINT) AS len
      |  FROM documents $where
      |), ordered$suffix AS (
      |  SELECT shard, doc_id, len,
      |    row_number() OVER (PARTITION BY shard ORDER BY doc_id)
      |      AS rn
      |  FROM docs$suffix
      |), rec$suffix AS (
      |  SELECT shard, rn, doc_id, len,
      |    CAST(1 AS BIGINT) AS pack_seq, len AS fill_after,
      |    CAST(1 AS BIGINT) AS pos_in_pack
      |  FROM ordered$suffix WHERE rn = 1
      |  UNION ALL
      |  SELECT o.shard, o.rn, o.doc_id, o.len,
      |    CASE WHEN r.fill_after + o.len > 90
      |         THEN r.pack_seq + 1 ELSE r.pack_seq END,
      |    CASE WHEN r.fill_after + o.len > 90
      |         THEN o.len ELSE r.fill_after + o.len END,
      |    CASE WHEN r.fill_after + o.len > 90
      |         THEN CAST(1 AS BIGINT) ELSE r.pos_in_pack + 1 END
      |  FROM rec$suffix r
      |  JOIN ordered$suffix o ON o.shard = r.shard AND o.rn = r.rn + 1
      |)""".stripMargin

  private lazy val packRecCtes: String = packRecCtesWith("", "")

  /** b9/b10's training rounds: the b1 round mechanics under
    * ##-continuation symbols with the WordPiece LIKELIHOOD argmax —
    * per round a unit-count CTE (u_k), the pair table joined to it,
    * and score = CAST(n AS DOUBLE)/(CAST(ul AS DOUBLE)·CAST(ur AS
    * DOUBLE)) ordered (score DESC, l, r). The merged token strips the
    * right's ## marker (continuation iff LIKE '##%' with content —
    * the rule [[graft.operators.Bpe]] shares verbatim), and the
    * leftmost-greedy replay is the b1 run-parity window with the
    * merged spelling threaded through as mg. */
  private lazy val wpRoundsCtes: String = {
    val merged =
      "l || (CASE WHEN r LIKE '##%' AND length(r) > 2 THEN r[3:] ELSE r END)"
    val rounds = (1 to 4).map { k =>
      s"""u$k AS (
         |  SELECT s, CAST(sum(c) AS BIGINT) AS u
         |  FROM (SELECT c, unnest(syms) AS s FROM s${k - 1}) GROUP BY 1),
         |p$k AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(c) AS BIGINT) AS n
         |  FROM (SELECT c, syms, unnest(range(1, greatest(len(syms), 1))) AS i
         |        FROM s${k - 1})
         |  GROUP BY 1, 2),
         |m$k AS (
         |  SELECT l, r, n, ul, ur, score, $merged AS mg
         |  FROM (
         |    SELECT p.l, p.r, p.n, a.u AS ul, b.u AS ur,
         |      CAST(p.n AS DOUBLE) / (CAST(a.u AS DOUBLE) * CAST(b.u AS DOUBLE))
         |        AS score
         |    FROM p$k p JOIN u$k a ON a.s = p.l JOIN u$k b ON b.s = p.r)
         |  ORDER BY score DESC, l, r LIMIT 1),
         |s$k AS (
         |  SELECT w, c, list(tok ORDER BY i) AS syms FROM (
         |    SELECT w, c, i, CASE WHEN merged THEN mg ELSE sym END AS tok,
         |      merged,
         |      coalesce(lag(merged) OVER (PARTITION BY w ORDER BY i), false)
         |        AS prevm
         |    FROM (
         |      SELECT w, c, i, sym, l, r, mg,
         |        mtch AND (l <> r OR row_number() OVER (
         |          PARTITION BY w, isl, mtch ORDER BY i) % 2 = 1) AS merged
         |      FROM (
         |        SELECT w, c, i, sym, l, r, mg, mtch,
         |          i - sum(CASE WHEN mtch THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY w ORDER BY i) AS isl
         |        FROM (
         |          SELECT b.w, b.c, b.i, b.syms[b.i] AS sym, m.l, m.r, m.mg,
         |            coalesce(b.syms[b.i] = m.l AND b.syms[b.i+1] = m.r
         |              AND b.i < len(b.syms), false) AS mtch
         |          FROM (SELECT w, c, syms,
         |                  unnest(range(1, len(syms) + 1)) AS i
         |                FROM s${k - 1}) b CROSS JOIN m$k m))))
         |  WHERE NOT prevm
         |  GROUP BY w, c)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |s0 AS (SELECT w, c,
       |  list_transform(generate_series(1, length(w)),
       |    i -> CASE WHEN i = 1 THEN w[i] ELSE '##' || w[i] END) AS syms
       |  FROM words),
       |$rounds""".stripMargin
  }

  private lazy val wordpieceSql: String = {
    val rows = (1 to 4).map { k =>
      val sel = if (k == 1)
        s"""SELECT 1 AS rank, l AS "left", r AS "right", mg AS merged,
           |    n, ul, ur,
           |    CAST(floor(score * 1000000000000) AS BIGINT) AS score_e12
           |  FROM m1""".stripMargin
      else
        s"""SELECT $k, l, r, mg, n, ul, ur,
           |    CAST(floor(score * 1000000000000) AS BIGINT) FROM m$k""".stripMargin
      sel
    }.mkString("\n  UNION ALL ")
    s"""WITH $wpRoundsCtes
       |SELECT * FROM (
       |  $rows)
       |ORDER BY rank""".stripMargin
  }

  /** b10: the greedy longest-match chain replayed exactly. The
    * vocabulary is s0's distinct symbols plus the four merge
    * products; `best` precomputes, for every (word, position), the
    * LONGEST matching piece (word-initial pieces at position 1,
    * ##-continuations after — the same classification rule as
    * training); the recursion then just follows the best chain, one
    * piece per step, collapsing to ['[UNK]'] if a position has no
    * match (dead here by construction — every base symbol is in the
    * vocabulary — but the rule is part of the contract). Doc rows
    * aggregate per the b2 convention. */
  private lazy val wordpieceEncodeSql: String =
    s"""WITH RECURSIVE $wpRoundsCtes,
       |vocab AS (
       |  SELECT DISTINCT piece FROM (
       |    SELECT unnest(syms) AS piece FROM s0
       |    UNION ALL SELECT mg FROM m1
       |    UNION ALL SELECT mg FROM m2
       |    UNION ALL SELECT mg FROM m3
       |    UNION ALL SELECT mg FROM m4)),
       |vinit AS (SELECT piece FROM vocab
       |          WHERE NOT (piece LIKE '##%' AND length(piece) > 2)),
       |vcont AS (SELECT piece[3:] AS sub FROM vocab
       |          WHERE piece LIKE '##%' AND length(piece) > 2),
       |mx AS (SELECT greatest(
       |    coalesce((SELECT max(length(piece)) FROM vinit), 1),
       |    coalesce((SELECT max(length(sub)) FROM vcont), 1)) AS m),
       |dwords AS (SELECT DISTINCT w AS wd FROM words),
       |posl AS (
       |  SELECT wd, i, L, substr(wd, i::INT, L::INT) AS sub
       |  FROM (SELECT wd, i,
       |          unnest(range(1, least((SELECT m FROM mx),
       |            length(wd) - i + 1) + 1)) AS L
       |        FROM (SELECT wd, unnest(range(1, length(wd) + 1)) AS i
       |              FROM dwords))),
       |cand AS (
       |  SELECT p.wd, p.i, p.L, p.sub
       |  FROM posl p JOIN vinit v ON v.piece = p.sub WHERE p.i = 1
       |  UNION ALL
       |  SELECT p.wd, p.i, p.L, p.sub
       |  FROM posl p JOIN vcont v ON v.sub = p.sub WHERE p.i > 1),
       |best AS (
       |  SELECT wd, i, arg_max(sub, L) AS sub, max(L) AS L
       |  FROM cand GROUP BY wd, i),
       |step AS (
       |  SELECT q.wd, q.i,
       |    CASE WHEN b.L IS NULL THEN CAST(0 AS BIGINT)
       |         ELSE q.i + b.L END AS nxt,
       |    CASE WHEN b.L IS NULL THEN NULL
       |         WHEN q.i = 1 THEN b.sub ELSE '##' || b.sub END AS tok
       |  FROM (SELECT wd, unnest(range(1, length(wd) + 1)) AS i
       |        FROM dwords) q
       |  LEFT JOIN best b ON b.wd = q.wd AND b.i = q.i),
       |rec AS (
       |  SELECT wd, CAST(1 AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS toks,
       |    false AS unk
       |  FROM dwords
       |  UNION ALL
       |  SELECT r.wd, s.nxt,
       |    CASE WHEN s.nxt = 0 THEN ['[UNK]']
       |         ELSE list_append(r.toks, s.tok) END,
       |    s.nxt = 0
       |  FROM rec r JOIN step s ON s.wd = r.wd AND s.i = r.i
       |  WHERE NOT r.unk),
       |wtoks AS (
       |  SELECT wd, array_to_string(toks, ' ') AS ts,
       |    CAST(len(toks) AS BIGINT) AS nt
       |  FROM rec WHERE unk OR i = length(wd) + 1),
       |docw AS (
       |  SELECT doc_id, i, w FROM (
       |    SELECT doc_id,
       |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
       |      unnest(range(1,
       |        len(regexp_split_to_array(trim(text), '\\s+')) + 1)) AS i
       |    FROM documents)
       |  WHERE w <> ''),
       |agg AS (
       |  SELECT d.doc_id, CAST(sum(t.nt) AS BIGINT) AS n_tokens,
       |    md5(string_agg(t.ts, ' ' ORDER BY d.i)) AS tok_md5
       |  FROM docw d JOIN wtoks t ON d.w = t.wd GROUP BY d.doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.tok_md5, md5('')) AS tok_md5
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  private def bpeEncodeSelect(ctes: String): String =
    s"""WITH $ctes,
       |docw AS (
       |  SELECT doc_id, i, w FROM (
       |    SELECT doc_id,
       |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
       |      unnest(range(1,
       |        len(regexp_split_to_array(trim(text), '\\s+')) + 1)) AS i
       |    FROM documents)
       |  WHERE w <> ''),
       |enc AS (
       |  SELECT d.doc_id, d.i, s.syms FROM docw d JOIN s4 s ON d.w = s.w),
       |agg AS (
       |  SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_tokens,
       |    md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY i))
       |      AS tok_md5
       |  FROM enc GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.tok_md5, md5('')) AS tok_md5
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** g2: [[pagerankSql]] with the per-round dangling-mass recycle —
    * dm over the previous round's dangling nodes, added to the
    * teleport base with the same float-op ordering the Scala round
    * uses (the e12 cut convention absorbs sub-ulp summation-order
    * noise exactly as g1's inbound sums already do). */
  private lazy val pagerankRedistSql: String = {
    val rounds = (1 to 5).map { i =>
      s"""dm$i AS (
         |  SELECT coalesce(sum(p.rank), 0.0::DOUBLE) AS dm
         |  FROM r${i - 1} p JOIN dang USING (node)),
         |r$i AS (
         |  SELECT n.node,
         |    ((1.0::DOUBLE - 0.85::DOUBLE) / nn.n
         |        + 0.85::DOUBLE * dm$i.dm / nn.n)
         |      + 0.85::DOUBLE * coalesce(s.inb, 0.0::DOUBLE) AS rank
         |  FROM nodes n CROSS JOIN nn CROSS JOIN dm$i
         |  LEFT JOIN (
         |    SELECT c.dst, sum(p.rank / c.deg) AS inb
         |    FROM contrib c JOIN r${i - 1} p ON c.src = p.node
         |    GROUP BY c.dst) s ON n.node = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |        FROM e GROUP BY 1),
       |contrib AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
       |nodes AS (SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |dang AS (SELECT node FROM nodes
       |         WHERE node NOT IN (SELECT DISTINCT src FROM e)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0::DOUBLE / nn.n AS rank
       |       FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, CAST(CAST(rank AS DECIMAL(24,12))
       |  * CAST(1000000000000 AS DECIMAL(13,0)) AS BIGINT) AS rank_e12
       |FROM r5 ORDER BY node""".stripMargin
  }

  /** Shared t8/t9 oracle: the full BM25 recomputation in DuckDB. */
  private lazy val bm25OracleSql: String =
      """WITH d AS (
        |  SELECT doc_id, toks, len(toks) AS dl FROM (
        |    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |    FROM documents)),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
        |tf AS (
        |  SELECT doc_id, dl, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM d)
        |  WHERE t IN ('spark', 'vector', 'hash', 'quantile')
        |  GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY 1),
        |w AS (
        |  SELECT tf.doc_id, tf.term,
        |    ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl * st.n_docs / st.sum_dl)) AS w
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN st),
        |p AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |    max(CASE WHEN term = 'spark' THEN w END) AS w0,
        |    max(CASE WHEN term = 'vector' THEN w END) AS w1,
        |    max(CASE WHEN term = 'hash' THEN w END) AS w2,
        |    max(CASE WHEN term = 'quantile' THEN w END) AS w3
        |  FROM w GROUP BY 1)
        |SELECT doc_id, n_hits,
        |  CAST(CAST(coalesce(w0, 0) + coalesce(w1, 0) + coalesce(w2, 0)
        |         + coalesce(w3, 0) AS DECIMAL(24,12))
        |       * CAST(1000000000000 AS DECIMAL(13,0)) AS BIGINT)
        |    AS score_e12
        |FROM p
        |ORDER BY score_e12 DESC, doc_id
        |LIMIT 10""".stripMargin

  private lazy val sqlMore: Map[String, String] = Map(
    "c2_dataset_card" ->
      """WITH b AS (
        |  SELECT source, lang,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS toks,
        |    length(text) AS chars
        |  FROM documents),
        |pl AS (
        |  SELECT source, lang, count(*) AS n, sum(chars) AS ch,
        |    sum(toks) AS tk
        |  FROM b GROUP BY 1, 2),
        |la AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(sum(ch) AS BIGINT) AS total_chars,
        |    CAST(sum(tk) AS BIGINT) AS total_tokens,
        |    CAST(count(*) AS BIGINT) AS n_langs,
        |    max(CASE WHEN rn = 1 THEN lang END) AS top_lang
        |  FROM (SELECT *, row_number() OVER (PARTITION BY source
        |          ORDER BY n DESC, lang) AS rn FROM pl)
        |  GROUP BY 1),
        |q AS (
        |  SELECT source,
        |    quantile_cont(toks::DOUBLE, 0.5) AS p50_tokens,
        |    quantile_cont(toks::DOUBLE, 0.9) AS p90_tokens
        |  FROM b GROUP BY 1)
        |SELECT la.source, n_docs, total_chars, total_tokens, n_langs,
        |  top_lang, p50_tokens, p90_tokens
        |FROM la JOIN q ON la.source = q.source
        |ORDER BY la.source""".stripMargin,

    // d18: d3's minhash banding CTEs verbatim, split train/eval by the
    // %10 slice, exact-jaccard confirmation, NOT IN drop
    "d18_fuzzy_decontaminate" ->
      s"""WITH $shinglesCte,
         |sig AS (
         |  SELECT id, sh, list_transform(generate_series(0,${d3Hashes - 1}),
         |    i -> list_min(list_transform(
         |      list_transform(sh, s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647),
         |      h -> (h * ((1 + i*2654435761) % 2147483647) + ((7 + i*40503) % 2147483647)) % 2147483647))) AS sg
         |  FROM base),
         |banded AS (
         |$d3BandedCte),
         |p AS (
         |  SELECT DISTINCT t.id AS tid, e.id AS eid
         |  FROM banded t JOIN banded e ON t.band = e.band AND t.bh = e.bh
         |  WHERE t.id % 10 <> 0 AND e.id % 10 = 0),
         |dropped AS (
         |  SELECT DISTINCT p.tid FROM p
         |  JOIN base x ON x.id = p.tid JOIN base y ON y.id = p.eid
         |  WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
         |      / len(list_distinct(x.sh || y.sh)) >= 0.8)
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id % 10 <> 0
         |  AND d.doc_id NOT IN (SELECT tid FROM dropped)
         |ORDER BY d.doc_id""".stripMargin,

    // c1: the CurateCli composition — each CTE block is the proven
    // SQL of its own oracle row (x11, d1, d12, d7-over-winnow-pairs,
    // d9's survivor policy, d8, x12's split hash), chained over the
    // stage survivor sets exactly as CurateCli.pipeline chains the
    // operators.
    "c1_curate_pipeline" ->
      s"""WITH RECURSIVE
         |qn AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
         |      AS n_words,
         |    CAST(CAST(206.835
         |        - 1.015 * (greatest(len(regexp_split_to_array(trim(text),
         |              '\\s+')), 1)::DOUBLE
         |            / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
         |        - 84.6 * (len(regexp_extract_all(lower(text),
         |              '[aeiouy]+'))::DOUBLE
         |            / greatest(len(regexp_split_to_array(trim(text),
         |              '\\s+')), 1))
         |      AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
         |      AS flesch_e6
         |  FROM documents),
         |qe AS (
         |  SELECT doc_id, CAST(count(*) AS INT) AS n_types,
         |    CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(CAST((ln(CAST(sum(c) AS DOUBLE))
         |           - sum(c * ln(c)) / sum(c)) / 0.6931471805599453
         |         AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
         |      AS ent_e6
         |  FROM (SELECT doc_id, tok, count(*) AS c FROM (
         |      SELECT doc_id,
         |        unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |      FROM documents) GROUP BY doc_id, tok)
         |  GROUP BY doc_id),
         |qr AS (
         |  SELECT qn.doc_id,
         |    CASE WHEN n_words < 20 THEN 'short'
         |         WHEN flesch_e6 < 0 THEN 'unreadable'
         |         WHEN 1.0 - n_types::DOUBLE / n_tokens > 0.65
         |           THEN 'repetitive'
         |         WHEN ent_e6 < 3800000 THEN 'low_entropy'
         |         ELSE 'pass' END AS reason
         |  FROM qn JOIN qe USING (doc_id)),
         |kept1 AS (SELECT doc_id FROM qr WHERE reason = 'pass'),
         |canon AS (
         |  SELECT min(d.doc_id) AS doc_id
         |  FROM documents d JOIN kept1 USING (doc_id)
         |  GROUP BY md5(d.text)),
         |kept2 AS (SELECT doc_id FROM canon),
         |wf AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id, i, npos,
         |      min(h) OVER (PARTITION BY doc_id ORDER BY i
         |                   ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS fp
         |    FROM (
         |      SELECT doc_id, i::INT AS i,
         |        greatest(length(text)-23, 1) AS npos,
         |        ('0x' || substr(md5(substr(text, i::INT, 24)), 1, 15))::BIGINT
         |          AS h
         |      FROM (SELECT d.doc_id, d.text,
         |              unnest(range(1, greatest(length(d.text)-23, 1)+1)) AS i
         |            FROM documents d JOIN kept2 USING (doc_id))))
         |  WHERE i <= greatest(npos-11, 1)),
         |wb AS (SELECT fp FROM wf GROUP BY fp
         |       HAVING count(*) > 1 AND count(*) <= 1024),
         |wp AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
         |       FROM wf a JOIN wb USING (fp) JOIN wf c USING (fp)
         |       WHERE a.doc_id < c.doc_id),
         |pairs AS (SELECT id_a, id_b FROM wp
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |sym AS (
         |  SELECT id_a AS id, id_b AS nbr FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, nbr) AS (
         |  SELECT id, nbr FROM sym
         |  UNION
         |  SELECT r.id, s.nbr FROM reach r JOIN sym s ON r.nbr = s.id),
         |clus AS (
         |  SELECT id AS member_id, least(id, min(nbr)) AS cluster_id
         |  FROM reach GROUP BY id),
         |sel AS (
         |  SELECT c.cluster_id, d.doc_id,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY length(d.text) DESC, d.doc_id) AS rn
         |  FROM clus c JOIN documents d ON d.doc_id = c.member_id),
         |drop_near AS (SELECT doc_id FROM sel WHERE rn > 1),
         |kept3 AS (
         |  SELECT doc_id FROM kept2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)),
         |$shinglesCte,
         |ev AS (
         |  SELECT DISTINCT md5(u.s) AS h
         |  FROM (SELECT unnest(sh) AS s FROM base WHERE id % 10 = 0) u),
         |tr AS (
         |  SELECT DISTINCT id, md5(u.s) AS h
         |  FROM (SELECT b.id, unnest(b.sh) AS s
         |        FROM base b JOIN kept3 ON b.id = kept3.doc_id) u),
         |contam AS (
         |  SELECT id AS doc_id FROM tr JOIN ev USING (h)
         |  GROUP BY id HAVING count(*) >= 2),
         |kept4 AS (
         |  SELECT doc_id FROM kept3
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |sp AS (
         |  SELECT k4.doc_id,
         |    CAST(CAST('0x' || substr(md5('split:' ||
         |        CAST(coalesce(c.cluster_id, k4.doc_id) AS BIGINT)), 1, 8)
         |      AS BIGINT) % 10 AS INT) AS bucket
         |  FROM kept4 k4 LEFT JOIN clus c ON k4.doc_id = c.member_id)
         |SELECT doc_id, stage, reason, split FROM (
         |  SELECT doc_id, 'curated' AS stage, '' AS reason,
         |    CASE WHEN bucket <= 7 THEN 'train'
         |         WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
         |  FROM sp
         |  UNION ALL
         |  SELECT doc_id, 'quality' AS stage, reason, '' AS split
         |  FROM qr WHERE reason <> 'pass'
         |  UNION ALL
         |  SELECT doc_id, 'exact_dup' AS stage, 'duplicate_text' AS reason,
         |    '' AS split
         |  FROM kept1 WHERE doc_id NOT IN (SELECT doc_id FROM kept2)
         |  UNION ALL
         |  SELECT doc_id, 'near_dup' AS stage, 'duplicate_span' AS reason,
         |    '' AS split
         |  FROM drop_near
         |  UNION ALL
         |  SELECT doc_id, 'decontaminate' AS stage, 'eval_overlap' AS reason,
         |    '' AS split
         |  FROM contam)
         |ORDER BY doc_id""".stripMargin,

    "t6_repetition" ->
      """WITH c AS (
        |  SELECT doc_id, t, count(*) AS n FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |    FROM documents) GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(MAX(n) AS BIGINT) AS top_n
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |  1.0 - n_distinct::DOUBLE / n_tokens AS dup_frac,
        |  top_n, top_n::DOUBLE / n_tokens AS top_frac
        |FROM s ORDER BY doc_id""".stripMargin,

    "x4_mix_weights" ->
      """WITH p AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM p),
        |w AS (
        |  SELECT p.*, n_tokens::DOUBLE / total AS share,
        |    CAST(floor(sqrt(n_tokens::DOUBLE / total) * 1000000000.0) AS BIGINT) AS w
        |  FROM p CROSS JOIN t),
        |m AS (SELECT MAX(w::DOUBLE / share) AS max_ws FROM w)
        |SELECT source, n_docs, n_tokens, share,
        |  (w::DOUBLE / share) / max_ws AS rate
        |FROM w CROSS JOIN m ORDER BY source""".stripMargin,

    "x14_mixture_sample" ->
      """WITH p AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM p),
        |w AS (
        |  SELECT p.*, n_tokens::DOUBLE / total AS share,
        |    CAST(floor(sqrt(n_tokens::DOUBLE / total) * 1000000000.0) AS BIGINT) AS w
        |  FROM p CROSS JOIN t),
        |m AS (SELECT MAX(w::DOUBLE / share) AS max_ws FROM w),
        |r AS (SELECT source, (w::DOUBLE / share) / max_ws AS rate
        |      FROM w CROSS JOIN m)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE CAST(CAST('0x' || substr(md5('mix:' || doc_id), 1, 8)
        |        AS BIGINT) % 10000 AS DOUBLE) < rate * 10000.0
        |ORDER BY d.doc_id""".stripMargin,

    // ds1: the same smoothed bucket-frequency log-ratios over the
    // identical md5 bucketing, per-doc weighted sum, e6 cut
    "ds1_dsir_score" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, n_tok,
        |  CAST(CAST(logw AS DECIMAL(24,6))
        |    * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS logw_e6,
        |  CAST(CAST(logw AS DECIMAL(24,6))
        |    * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) >= 0
        |    AS target_like
        |FROM sc ORDER BY doc_id""".stripMargin,

    // ds2: ds1's scores, the global max, the exp(logw−max) rate, and
    // x14's deterministic seeded gate — one shared formula per side
    "ds2_dsir_resample" ->
      s"""WITH $dsirCtes,
        |mx AS (SELECT max(logw) AS m FROM sc)
        |SELECT sc.doc_id, sc.n_tok,
        |  CAST(CAST('0x' || substr(md5('dsir:' || sc.doc_id), 1, 8)
        |      AS BIGINT) % 10000 AS DOUBLE)
        |    < exp(sc.logw - mx.m) * 10000.0 AS keep
        |FROM sc CROSS JOIN mx ORDER BY sc.doc_id""".stripMargin,

    // ds3: ds1 with the paper's default bigram features
    "ds3_dsir_bigram" ->
      s"""WITH $dsirBigramCtes
        |SELECT doc_id, n_tok,
        |  CAST(CAST(logw AS DECIMAL(24,6))
        |    * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS logw_e6
        |FROM sc ORDER BY doc_id""".stripMargin,

    // sk5: exact ceil(q·n)-rank quantiles + literal TRUE verdicts
    // (ds1/ds2 share dsirCtes below)
    "sk5_quantile_envelope" ->
      """WITH c AS (
        |  SELECT CAST(len(list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), w -> w <> ''))
        |    AS BIGINT) AS v
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM c),
        |q AS (SELECT unnest([25, 50, 75]) AS q_pct)
        |SELECT q.q_pct, r.v AS exact_v, TRUE AS within_rank_eps
        |FROM q CROSS JOIN nn
        |JOIN r ON r.rk = greatest(CAST(ceil(q.q_pct / 100.0 * nn.n)
        |  AS BIGINT), 1)
        |ORDER BY q.q_pct""".stripMargin,

    // x16: both halves re-bucketed, Laplace-smoothed fractions, the
    // identical (p−q)·ln(p/q) operand order, e9 cut
    "x16_drift_psi" ->
      """WITH b0 AS (
        |  SELECT doc_id,
        |    least(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '')) // 100, 9) AS bucket
        |  FROM documents),
        |r AS (SELECT bucket FROM b0 WHERE doc_id % 2 = 0),
        |c AS (SELECT bucket FROM b0 WHERE doc_id % 2 = 1),
        |rt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM r),
        |ct AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM c),
        |sp AS (SELECT unnest(generate_series(0, 9)) AS bucket),
        |rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ref_n
        |       FROM r GROUP BY 1),
        |cc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cur_n
        |       FROM c GROUP BY 1)
        |SELECT sp.bucket,
        |  coalesce(rc.ref_n, 0) AS ref_n,
        |  coalesce(cc.cur_n, 0) AS cur_n,
        |  CAST(CAST(
        |    ((CAST(coalesce(cc.cur_n, 0) AS DOUBLE) + 1.0)/(ct.n + 10.0)
        |     - (CAST(coalesce(rc.ref_n, 0) AS DOUBLE) + 1.0)/(rt.n + 10.0))
        |    * ln(((CAST(coalesce(cc.cur_n, 0) AS DOUBLE) + 1.0)/(ct.n + 10.0))
        |       / ((CAST(coalesce(rc.ref_n, 0) AS DOUBLE) + 1.0)/(rt.n + 10.0)))
        |    AS DECIMAL(24,9)) * CAST(1000000000 AS DECIMAL(10,0))
        |    AS BIGINT) AS psi_e9
        |FROM sp LEFT JOIN rc USING (bucket) LEFT JOIN cc USING (bucket)
        |CROSS JOIN rt CROSS JOIN ct
        |ORDER BY sp.bucket""".stripMargin,

    // x15: the bucket decomposition is an implementation detail — the
    // oracle computes the same offsets with ONE plain ordered cumsum.
    "x15_chunk_offsets" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '')) AS BIGINT) AS n
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS o
        |  FROM d)
        |SELECT doc_id, n AS n_tokens, o AS "offset",
        |  o // 512 AS chunk_first,
        |  CASE WHEN n > 0 THEN (o + n - 1) // 512 ELSE o // 512 END
        |    AS chunk_last
        |FROM o ORDER BY doc_id""".stripMargin,

    "x1_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5('42:' || doc_id), 1, 8) AS BIGINT) % 10000
        |  < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 3000
        |              WHEN 'fr' THEN 2000 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,

    "x17_dup_ngram_frac" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), w -> w <> '')
        |    AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')),
        |      1, 8) AS BIGINT) AS gh
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS i
        |        FROM t0)),
        |dg AS (SELECT doc_id, gh, CAST(count(*) AS BIGINT) AS c
        |       FROM g GROUP BY 1, 2),
        |nd AS (SELECT gh, count(*) AS ndocs FROM dg GROUP BY 1),
        |st AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN ndocs >= 2 THEN c ELSE 0 END) AS BIGINT)
        |      AS dup_occ
        |  FROM dg JOIN nd USING (gh) GROUP BY 1)
        |SELECT d.doc_id, coalesce(st.n_grams, 0) AS n_grams,
        |  coalesce(CAST(CAST(CAST(st.dup_occ AS DOUBLE)
        |      / CAST(st.n_grams AS DOUBLE) AS DECIMAL(24,6))
        |    * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT), 0)
        |    AS dup_frac_e6
        |FROM documents d LEFT JOIN st USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "x18_strip_dup_spans" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), w -> w <> '')
        |    AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    CAST('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')),
        |      1, 8) AS BIGINT) AS gh
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS i
        |        FROM t0)),
        |nd AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g)
        |       GROUP BY gh HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS p
        |        FROM g JOIN nd USING (gh)),
        |tk AS (SELECT doc_id, i AS p, toks[i] AS tok
        |       FROM (SELECT doc_id, toks,
        |               unnest(range(1, len(toks) + 1)) AS i
        |             FROM t0)),
        |kp AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
        |       ANTI JOIN cov ON tk.doc_id = cov.doc_id AND tk.p = cov.p),
        |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
        |         md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
        |       FROM kp GROUP BY doc_id)
        |SELECT t0.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  coalesce(st.kept_tokens, 0) AS kept_tokens,
        |  coalesce(st.clean_md5, md5('')) AS clean_md5
        |FROM t0 LEFT JOIN st USING (doc_id)
        |ORDER BY t0.doc_id""".stripMargin,

    "x2_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5('42:' || doc_id), 1, 8) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,

    "x3_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5('42:' || doc_id), 1, 8) AS BIGINT) AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens, h, CAST(h % 8 AS INT) AS shard,
        |    CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY h % 8
        |      ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) / 2048.0) AS INT) AS bin
        |  FROM t)
        |SELECT doc_id, n_tokens, shard, bin,
        |  CAST(row_number() OVER (PARTITION BY shard, bin ORDER BY h, doc_id) AS INT) AS pos
        |FROM b ORDER BY shard, bin, pos""".stripMargin,

    "x5_packed_payloads" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5('42:' || doc_id), 1, 8) AS BIGINT) AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, text, n_tokens, h, CAST(h % 8 AS INT) AS shard,
        |    CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY h % 8
        |      ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) / 2048.0) AS INT) AS bin
        |  FROM t)
        |SELECT shard, bin, CAST(count(*) AS INT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  string_agg(text, chr(10) ORDER BY h, doc_id) AS payload
        |FROM b GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    "x7_quota_cap" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
        |    len(regexp_extract_all(lower(text), '\bthe\b')) +
        |    len(regexp_extract_all(lower(text), '\band\b')) +
        |    len(regexp_extract_all(lower(text), '\bof\b')) +
        |    len(regexp_extract_all(lower(text), '\bder\b')) +
        |    len(regexp_extract_all(lower(text), '\bdie\b')) +
        |    len(regexp_extract_all(lower(text), '\bund\b')) +
        |    len(regexp_extract_all(lower(text), '\bel\b')) +
        |    len(regexp_extract_all(lower(text), '\blos\b')) +
        |    len(regexp_extract_all(lower(text), '\bque\b')) +
        |    len(regexp_extract_all(lower(text), '\ble\b')) +
        |    len(regexp_extract_all(lower(text), '\bla\b')) +
        |    len(regexp_extract_all(lower(text), '\bet\b')) AS n_stop,
        |    CAST(length(text) AS BIGINT) AS n_ch
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    least(1.0, CAST(n_tokens AS DOUBLE)/100.0)*0.4 +
        |    (CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE))*0.3 +
        |    (1.0 - CAST(n_punct AS DOUBLE)/CAST(n_ch AS DOUBLE))*0.3 AS score
        |  FROM m),
        |r AS (
        |  SELECT d.doc_id, d.source, q.score,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY q.score DESC, d.doc_id) AS rk
        |  FROM documents d JOIN q USING (doc_id))
        |SELECT doc_id, source, CAST(rk AS INT) AS rk,
        |  CAST(CAST(score AS DECIMAL(24,12))
        |       * CAST(1000000000000 AS DECIMAL(13,0)) AS BIGINT) AS score_e12
        |FROM r WHERE rk <= 20 ORDER BY source, rk""".stripMargin,

    "x8_pii_redact" ->
      """WITH dirty AS (
        |  SELECT doc_id, text
        |    || ' u' || doc_id || '@mail' || (doc_id % 5) || '.example.com'
        |    || CASE WHEN doc_id % 2 = 0 THEN ' see https://ex' || (doc_id % 9)
        |         || '.org/p/' || doc_id ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' || (doc_id % 256)
        |         || '.' || ((doc_id * 7) % 256) ELSE '' END
        |    || CASE WHEN doc_id % 4 = 1 THEN ' tel 555-'
        |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |         || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 2 THEN ' sin 123-45-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(dirty, 'https?://[^\s]+')) AS INT) AS n_url,
        |  CAST(len(regexp_extract_all(dirty,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(dirty,
        |    '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(dirty, '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(dirty, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(dirty,
        |      'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g')) AS red_md5
        |FROM dirty ORDER BY doc_id""".stripMargin,

    "x9_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    unnest(range(CAST(greatest(ceil(len(toks)/8.0), 1) AS BIGINT))) AS pos,
        |    unnest(list_transform(
        |      range(CAST(greatest(ceil(len(toks)/8.0), 1) AS BIGINT)),
        |      i -> array_to_string(list_slice(toks,
        |        CAST(i*8+1 AS BIGINT), CAST(i*8+8 AS BIGINT)), ' '))) AS line
        |  FROM t),
        |bp AS (SELECT line FROM l GROUP BY line
        |       HAVING count(DISTINCT doc_id) >= 2),
        |k AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, ' ' ORDER BY pos) AS clean_text
        |  FROM l ANTI JOIN bp USING (line) GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
        |SELECT tot.doc_id, CAST(tot.n_lines AS INT) AS n_lines,
        |  CAST(tot.n_lines - coalesce(k.n_kept, 0) AS INT) AS n_dropped,
        |  md5(coalesce(k.clean_text, '')) AS clean_md5
        |FROM tot LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,

    "x13_tar_roundtrip" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5('tar:' || doc_id), 1, 8)
        |         AS BIGINT) % 8 AS INT) AS shard,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t12_charlm" ->
      """WITH g AS (
        |  SELECT doc_id, substr(text, i::INT, 2) AS gram
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text)-1, 1)+1)) AS i
        |        FROM documents)),
        |m AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
        |             CAST(count(*) AS BIGINT) AS n_vocab FROM m),
        |p AS (SELECT gram,
        |        ln((c::DOUBLE + 1.0) / (n_total + n_vocab)::DOUBLE) AS lnp
        |      FROM m CROSS JOIN t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(CAST(-sum(lnp) / count(*) AS DECIMAL(24,6))
        |       * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS xent_e6
        |FROM g JOIN p USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t10_token_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents) GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_types,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(CAST((ln(CAST(sum(c) AS DOUBLE))
        |         - sum(c * ln(c)) / sum(c)) / 0.6931471805599453
        |       AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
        |    AS ent_e6
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t11_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(CAST(206.835
        |      - 1.015 * (greatest(n_words, 1)::DOUBLE
        |                 / greatest(n_sentences, 1))
        |      - 84.6 * (n_syllables::DOUBLE / greatest(n_words, 1))
        |    AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
        |    AS flesch_e6
        |FROM c ORDER BY doc_id""".stripMargin,

    "x10_ngram_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t)-1, 1)+1),
        |    i -> array_to_string(t[i:least(i+1, len(t))], ' '))) AS gram
        |  FROM toks),
        |c2 AS (SELECT doc_id, gram, count(*) AS n FROM g2 GROUP BY 1, 2),
        |a2 AS (SELECT doc_id, max(n * length(gram)) AS top2_mass
        |       FROM c2 GROUP BY 1),
        |g5 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t)-4, 1)+1),
        |    i -> array_to_string(t[i:least(i+4, len(t))], ' '))) AS gram
        |  FROM toks),
        |c5 AS (SELECT doc_id, gram, count(*) AS n FROM g5 GROUP BY 1, 2),
        |a5 AS (SELECT doc_id,
        |         coalesce(sum(CASE WHEN n > 1 THEN n * length(gram) END), 0)
        |           AS dup5_mass
        |       FROM c5 GROUP BY 1)
        |SELECT toks.doc_id, n_chars,
        |  CAST(top2_mass AS BIGINT) AS top2_mass,
        |  top2_mass::DOUBLE / n_chars AS top2_frac,
        |  CAST(dup5_mass AS BIGINT) AS dup5_mass,
        |  dup5_mass::DOUBLE / n_chars AS dup5_frac
        |FROM toks JOIN a2 USING (doc_id) JOIN a5 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "d12_winnow_pairs" ->
      """WITH f AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, i, npos,
        |      min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                   ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS fp
        |    FROM (
        |      SELECT doc_id, i::INT AS i,
        |        greatest(length(text)-23, 1) AS npos,
        |        ('0x' || substr(md5(substr(text, i::INT, 24)), 1, 15))::BIGINT
        |          AS h
        |      FROM (SELECT doc_id, text,
        |              unnest(range(1, greatest(length(text)-23, 1)+1)) AS i
        |            FROM documents)))
        |  WHERE i <= greatest(npos-11, 1)),
        |b AS (SELECT fp FROM f GROUP BY fp
        |      HAVING count(*) > 1 AND count(*) <= 1024),
        |p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
        |      FROM f a JOIN b USING (fp) JOIN f c USING (fp)
        |      WHERE a.doc_id < c.doc_id)
        |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin,

    // x21: the same normalization chain in the same order (the
    // corpus is ASCII so strip_accents is identity on both engines;
    // the accent path is spec-pinned on crafted fixtures)
    "x21_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(strip_accents(text)),
        |          '\d', '0', 'g'),
        |        '[[:punct:]]', '', 'g'),
        |      '\s+', ' ', 'g')) AS t
        |  FROM documents)
        |SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars_norm,
        |  md5(t) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin,

    // t14: t13's model + per-language quantile_cont thresholds (the
    // a13 exact-interpolated-percentile convention), boundary docs
    // take the better bucket
    // e11: the bounded-KN gate replayed — full corpus-side KN model
    // (the t13 CTEs restricted to doc_id%5<>0), top-2000 transitions
    // by (cb DESC, w1, w2) — the same deterministic total order the
    // engine's knGateModel collects — min-lnp unseen floor, stream
    // docs scored via LEFT JOIN + coalesce, literal cut.
    "e11_kn_gate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '') AS tk
        |  FROM documents),
        |dbc AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2 AND doc_id % 5 <> 0)
        |  GROUP BY 1, 2, 3),
        |bg AS (SELECT w1, w2, sum(n) AS cb FROM dbc GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(cb) AS cctx, count(*) AS nfwd
        |        FROM bg GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS nback FROM bg GROUP BY 1),
        |tot AS (SELECT count(*)::DOUBLE AS b FROM bg),
        |p AS (
        |  SELECT bg.w1, bg.w2, bg.cb,
        |    ln((greatest(cb::DOUBLE - 0.75, 0.0)
        |        + 0.75 * nfwd::DOUBLE * (nback::DOUBLE / b))
        |      / cctx::DOUBLE) AS lnp
        |  FROM bg CROSS JOIN tot
        |  JOIN ctx USING (w1) JOIN cont USING (w2)),
        |topn AS (SELECT w1, w2, lnp FROM p
        |         ORDER BY cb DESC, w1, w2 LIMIT 2000),
        |u AS (SELECT min(lnp) AS lnu FROM p),
        |dbs AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2 AND doc_id % 5 = 0)
        |  GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT doc_id, sum(n) AS m,
        |    sum(n::DOUBLE * coalesce(t.lnp, u.lnu)) AS sv
        |  FROM dbs LEFT JOIN topn t USING (w1, w2) CROSS JOIN u
        |  GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(m, 0) AS BIGINT) AS n_bigrams,
        |    CAST(coalesce(floor(-sv / m::DOUBLE * 1000000), 0)
        |      AS BIGINT) AS xent_e6
        |  FROM documents d LEFT JOIN s USING (doc_id)
        |  WHERE d.doc_id % 5 = 0)
        |SELECT doc_id, n_bigrams, xent_e6 FROM scored
        |WHERE xent_e6 <= 3410000 ORDER BY doc_id""".stripMargin,

    "t14_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '') AS tk
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2)
        |  GROUP BY 1, 2, 3),
        |bg AS (SELECT w1, w2, sum(n) AS cb FROM db GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(cb) AS cctx, count(*) AS nfwd
        |        FROM bg GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS nback FROM bg GROUP BY 1),
        |tot AS (SELECT count(*)::DOUBLE AS b FROM bg),
        |p AS (
        |  SELECT bg.w1, bg.w2,
        |    ln((greatest(cb::DOUBLE - 0.75, 0.0)
        |        + 0.75 * nfwd::DOUBLE * (nback::DOUBLE / b))
        |      / cctx::DOUBLE) AS lnp
        |  FROM bg CROSS JOIN tot
        |  JOIN ctx USING (w1) JOIN cont USING (w2)),
        |s AS (
        |  SELECT doc_id, sum(n) AS m, sum(n::DOUBLE * lnp) AS sv
        |  FROM db JOIN p USING (w1, w2) GROUP BY 1),
        |scored AS (
        |  -- coalesce(lang,'') mirrors the engine: NULL-language docs
        |  -- bucket within their own stratum instead of vanishing
        |  -- through the cuts join
        |  SELECT d.doc_id, coalesce(d.lang, '') AS lang,
        |    CAST(coalesce(floor(-sv / m::DOUBLE * 1000000), 0) AS BIGINT)
        |      AS xent_e6
        |  FROM documents d LEFT JOIN s USING (doc_id)),
        |cuts AS (
        |  SELECT lang, quantile_cont(xent_e6::DOUBLE, 1.0/3) AS p33,
        |    quantile_cont(xent_e6::DOUBLE, 2.0/3) AS p67
        |  FROM scored GROUP BY 1)
        |SELECT doc_id, scored.lang,
        |  CASE WHEN xent_e6::DOUBLE <= p33 THEN 'head'
        |       WHEN xent_e6::DOUBLE <= p67 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored JOIN cuts USING (lang)
        |ORDER BY doc_id""".stripMargin,

    // t13: the KN model replayed with the identical double expression
    // tree — same association order, ln in double, floor-e6 cut
    "t13_kn_bigram" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '') AS tk
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2)
        |  GROUP BY 1, 2, 3),
        |bg AS (SELECT w1, w2, sum(n) AS cb FROM db GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(cb) AS cctx, count(*) AS nfwd
        |        FROM bg GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS nback FROM bg GROUP BY 1),
        |tot AS (SELECT count(*)::DOUBLE AS b FROM bg),
        |p AS (
        |  SELECT bg.w1, bg.w2,
        |    ln((greatest(cb::DOUBLE - 0.75, 0.0)
        |        + 0.75 * nfwd::DOUBLE * (nback::DOUBLE / b))
        |      / cctx::DOUBLE) AS lnp
        |  FROM bg CROSS JOIN tot
        |  JOIN ctx USING (w1) JOIN cont USING (w2)),
        |s AS (
        |  SELECT doc_id, sum(n) AS m, sum(n::DOUBLE * lnp) AS sv
        |  FROM db JOIN p USING (w1, w2) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(m, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(floor(-sv / m::DOUBLE * 1000000), 0) AS BIGINT)
        |    AS xent_e6
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // x22: the C4 line/page arithmetic replayed — same trimmed
    // non-empty lines, same terminal-punct regex, same page drops
    "x22_c4_rules" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)),
        |      l -> trim(l)), l -> l <> '') AS lines,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') AS has_brace
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lines, has_lorem, has_brace,
        |    list_filter(lines, l ->
        |      regexp_matches(l, '([.!?]["»”’'']?|")$')
        |      AND len(list_filter(regexp_split_to_array(l, '\s+'),
        |        w -> w <> '')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM base)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  has_lorem, has_brace,
        |  (len(kept) >= 5 AND NOT has_lorem AND NOT has_brace) AS keep,
        |  md5(coalesce(array_to_string(kept, chr(10)), ''))
        |    AS clean_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    // x19: each Gopher rule's arithmetic replayed on the same
    // whitespace tokens / trimmed non-empty lines, floor-e6 cuts
    "x19_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '') AS toks,
        |    list_filter(list_transform(string_split(text, chr(10)),
        |      l -> trim(l)), l -> l <> '') AS lines,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    (length(text) - length(replace(text, '…', ''))) +
        |      (length(replace(text, '…', '')) -
        |       length(replace(replace(text, '…', ''), '...', ''))) / 3
        |      AS n_ell
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS nw,
        |    CAST(len(lines) AS BIGINT) AS nl,
        |    list_sum(list_transform(toks, w -> length(w)))::DOUBLE
        |      AS sumlen,
        |    n_hash AS nhash, n_ell AS nell,
        |    CAST(len(list_filter(lines, l ->
        |      l LIKE '•%' OR l LIKE '- %' OR l LIKE '* %')) AS BIGINT)
        |      AS nbullet,
        |    CAST(len(list_filter(lines, l ->
        |      l LIKE '%...' OR l LIKE '%…')) AS BIGINT) AS nelll,
        |    CAST(len(list_filter(toks, w ->
        |      regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS nalpha,
        |    CAST(len(list_filter(toks, w -> lower(w) IN
        |      ('the','be','to','of','and','that','have','with')))
        |      AS BIGINT) AS nstop,
        |    CAST(len(list_distinct(lines)) AS BIGINT) AS ndl
        |  FROM base),
        |r AS (
        |  SELECT doc_id, nw AS n_words,
        |    CASE WHEN nw > 0 THEN
        |      CAST(floor(sumlen / nw * 1000000) AS BIGINT)
        |      ELSE 0 END AS mean_word_len_e6,
        |    CASE WHEN nw > 0 THEN
        |      CAST(floor(nhash::DOUBLE / nw * 1000000) AS BIGINT)
        |      ELSE 0 END AS hash_ratio_e6,
        |    CASE WHEN nw > 0 THEN
        |      CAST(floor(nell::DOUBLE / nw * 1000000) AS BIGINT)
        |      ELSE 0 END AS ellipsis_ratio_e6,
        |    CASE WHEN nl > 0 THEN
        |      CAST(floor(nbullet::DOUBLE / nl * 1000000) AS BIGINT)
        |      ELSE 0 END AS bullet_frac_e6,
        |    CASE WHEN nl > 0 THEN
        |      CAST(floor(nelll::DOUBLE / nl * 1000000) AS BIGINT)
        |      ELSE 0 END AS ellipsis_frac_e6,
        |    CASE WHEN nw > 0 THEN
        |      CAST(floor(nalpha::DOUBLE / nw * 1000000) AS BIGINT)
        |      ELSE 0 END AS alpha_word_frac_e6,
        |    nstop AS n_stopwords,
        |    CASE WHEN nl > 0 THEN
        |      CAST(floor((1.0 - ndl::DOUBLE / nl) * 1000000) AS BIGINT)
        |      ELSE 0 END AS dup_line_frac_e6
        |  FROM m),
        |wr AS (
        |  SELECT *,
        |    CASE
        |      WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
        |      WHEN mean_word_len_e6 < 3000000
        |        OR mean_word_len_e6 > 10000000 THEN 'word_length'
        |      WHEN hash_ratio_e6 > 100000
        |        OR ellipsis_ratio_e6 > 100000 THEN 'symbol_ratio'
        |      WHEN bullet_frac_e6 > 900000 THEN 'bullet_lines'
        |      WHEN ellipsis_frac_e6 > 300000 THEN 'ellipsis_lines'
        |      WHEN alpha_word_frac_e6 < 800000 THEN 'non_alpha_words'
        |      WHEN n_stopwords < 2 THEN 'no_stopwords'
        |      WHEN dup_line_frac_e6 > 300000 THEN 'duplicate_lines'
        |      ELSE 'pass' END AS reason
        |  FROM r)
        |SELECT *, reason = 'pass' AS keep
        |FROM wr ORDER BY doc_id""".stripMargin,

    "x11_quality_filter" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
        |      AS n_words,
        |    CAST(CAST(206.835
        |        - 1.015 * (greatest(len(regexp_split_to_array(trim(text),
        |              '\s+')), 1)::DOUBLE
        |            / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |        - 84.6 * (len(regexp_extract_all(lower(text),
        |              '[aeiouy]+'))::DOUBLE
        |            / greatest(len(regexp_split_to_array(trim(text),
        |              '\s+')), 1))
        |      AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
        |      AS flesch_e6
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, CAST(count(*) AS INT) AS n_types,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(CAST((ln(CAST(sum(c) AS DOUBLE))
        |           - sum(c * ln(c)) / sum(c)) / 0.6931471805599453
        |         AS DECIMAL(24,6)) * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)
        |      AS ent_e6
        |  FROM (SELECT doc_id, tok, count(*) AS c FROM (
        |      SELECT doc_id,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |      FROM documents) GROUP BY doc_id, tok)
        |  GROUP BY doc_id),
        |j AS (
        |  SELECT n.doc_id, n_words, flesch_e6,
        |    1.0 - n_types::DOUBLE / n_tokens AS dup_frac, ent_e6
        |  FROM n JOIN e USING (doc_id)),
        |r AS (
        |  SELECT *,
        |    CASE WHEN n_words < 20 THEN 'short'
        |         WHEN flesch_e6 < 0 THEN 'unreadable'
        |         WHEN dup_frac > 0.65 THEN 'repetitive'
        |         WHEN ent_e6 < 3800000 THEN 'low_entropy'
        |         ELSE 'pass' END AS reason
        |  FROM j)
        |SELECT doc_id, n_words, flesch_e6, dup_frac, ent_e6, reason,
        |  reason = 'pass' AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // x23: d20's span chain, then the kept text is the ordered
    // concatenation of the gaps between spans plus the tail
    "x23_strip_exact" ->
      """WITH pos AS MATERIALIZED (
        |  SELECT doc_id, i::INT AS i,
        |    ('0x' || substr(md5(substr(text, i::INT, 35)), 1, 15))::BIGINT
        |      AS h
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text)-34, 1)+1)) AS i
        |        FROM documents)),
        |dup AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT doc_id, i FROM pos WHERE h IN (SELECT h FROM dup)),
        |r AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
        |           <= 35
        |         THEN 0 ELSE 1 END AS brk
        |  FROM m),
        |g AS (
        |  SELECT doc_id, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS grp
        |  FROM r),
        |sp AS (
        |  SELECT doc_id, min(i) AS s, max(i) + 35 AS e
        |  FROM g GROUP BY doc_id, grp),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
        |      AS gs,
        |    s AS ge
        |  FROM sp),
        |mids AS (
        |  SELECT sg.doc_id,
        |    string_agg(substr(d.text, sg.gs::INT, (sg.ge - sg.gs)::INT),
        |      '' ORDER BY sg.gs) AS mid
        |  FROM segs sg JOIN documents d ON sg.doc_id = d.doc_id
        |  GROUP BY 1),
        |tails AS (SELECT doc_id, max(e) AS ts FROM sp GROUP BY 1),
        |cleaned AS (
        |  SELECT d.doc_id, d.text,
        |    CASE WHEN t.ts IS NULL THEN d.text
        |         ELSE coalesce(m.mid, '') || substr(d.text, t.ts::INT)
        |    END AS clean
        |  FROM documents d
        |  LEFT JOIN tails t ON d.doc_id = t.doc_id
        |  LEFT JOIN mids m ON d.doc_id = m.doc_id)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(clean) AS BIGINT) AS kept_chars,
        |  md5(clean) AS clean_md5
        |FROM cleaned ORDER BY doc_id""".stripMargin,

    // x24: x23's replay with KEEP-FIRST marking — the smallest
    // (doc, pos) occurrence per duplicated gram is canonical (rn = 1
    // over (doc_id, i) within the hash) and never marked
    "x24_strip_keep_first" ->
      """WITH pos AS MATERIALIZED (
        |  SELECT doc_id, i::INT AS i,
        |    ('0x' || substr(md5(substr(text, i::INT, 35)), 1, 15))::BIGINT
        |      AS h
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text)-34, 1)+1)) AS i
        |        FROM documents)),
        |m AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, i)
        |        AS rn
        |    FROM pos)
        |  WHERE rn >= 2),
        |r AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
        |           <= 35
        |         THEN 0 ELSE 1 END AS brk
        |  FROM m),
        |g AS (
        |  SELECT doc_id, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS grp
        |  FROM r),
        |sp AS (
        |  SELECT doc_id, min(i) AS s, max(i) + 35 AS e
        |  FROM g GROUP BY doc_id, grp),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
        |      AS gs,
        |    s AS ge
        |  FROM sp),
        |mids AS (
        |  SELECT sg.doc_id,
        |    string_agg(substr(d.text, sg.gs::INT, (sg.ge - sg.gs)::INT),
        |      '' ORDER BY sg.gs) AS mid
        |  FROM segs sg JOIN documents d ON sg.doc_id = d.doc_id
        |  GROUP BY 1),
        |tails AS (SELECT doc_id, max(e) AS ts FROM sp GROUP BY 1),
        |cleaned AS (
        |  SELECT d.doc_id, d.text,
        |    CASE WHEN t.ts IS NULL THEN d.text
        |         ELSE coalesce(m.mid, '') || substr(d.text, t.ts::INT)
        |    END AS clean
        |  FROM documents d
        |  LEFT JOIN tails t ON d.doc_id = t.doc_id
        |  LEFT JOIN mids m ON d.doc_id = m.doc_id)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(clean) AS BIGINT) AS kept_chars,
        |  md5(clean) AS clean_md5
        |FROM cleaned ORDER BY doc_id""".stripMargin,

    // d21: d20's replay with the corpus gram SET as the mark and the
    // batch side as the probe (presence, not a count)
    "d21_incremental_spans" ->
      """WITH pos AS MATERIALIZED (
        |  SELECT doc_id, i::INT AS i,
        |    ('0x' || substr(md5(substr(text, i::INT, 35)), 1, 15))::BIGINT
        |      AS h
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text)-34, 1)+1)) AS i
        |        FROM documents)),
        |cg AS (SELECT DISTINCT h FROM pos WHERE doc_id % 5 <> 0),
        |m AS (SELECT doc_id, i FROM pos
        |      WHERE doc_id % 5 = 0 AND h IN (SELECT h FROM cg)),
        |r AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
        |           <= 35
        |         THEN 0 ELSE 1 END AS brk
        |  FROM m),
        |g AS (
        |  SELECT doc_id, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS grp
        |  FROM r)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS start,
        |  CAST(max(i) + 35 - min(i) AS BIGINT) AS span_len
        |FROM g GROUP BY doc_id, grp
        |ORDER BY doc_id, start""".stripMargin,

    // d20: replay the per-position 60-bit gram hashes (the d13 hash
    // recipe at k = 35), keep positions whose hash repeats anywhere,
    // run-merge positions within 35 of each other, emit the merged
    // intervals
    "d20_exact_spans" ->
      """WITH pos AS MATERIALIZED (
        |  SELECT doc_id, i::INT AS i,
        |    ('0x' || substr(md5(substr(text, i::INT, 35)), 1, 15))::BIGINT
        |      AS h
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text)-34, 1)+1)) AS i
        |        FROM documents)),
        |dup AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT doc_id, i FROM pos WHERE h IN (SELECT h FROM dup)),
        |r AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
        |           <= 35
        |         THEN 0 ELSE 1 END AS brk
        |  FROM m),
        |g AS (
        |  SELECT doc_id, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS grp
        |  FROM r)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS start,
        |  CAST(max(i) + 35 - min(i) AS BIGINT) AS span_len
        |FROM g GROUP BY doc_id, grp
        |ORDER BY doc_id, start""".stripMargin,

    "d13_incremental_winnow" ->
      """WITH f AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, i, npos,
        |      min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                   ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS fp
        |    FROM (
        |      SELECT doc_id, i::INT AS i,
        |        greatest(length(text)-23, 1) AS npos,
        |        ('0x' || substr(md5(substr(text, i::INT, 24)), 1, 15))::BIGINT
        |          AS h
        |      FROM (SELECT doc_id, text,
        |              unnest(range(1, greatest(length(text)-23, 1)+1)) AS i
        |            FROM documents)))
        |  WHERE i <= greatest(npos-11, 1)),
        |cf AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
        |dup AS (SELECT doc_id FROM f JOIN cf USING (fp)
        |        WHERE doc_id % 5 = 0
        |        GROUP BY doc_id HAVING count(*) >= 2)
        |SELECT b.doc_id, b.lang FROM documents b
        |WHERE b.doc_id % 5 = 0
        |  AND b.doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY b.doc_id""".stripMargin
  )
}

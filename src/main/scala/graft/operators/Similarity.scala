package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k; the small query side is
  *    broadcast, so the corpus is scanned once with no shuffle. This is
  *    the 100 TB-sane baseline when |queries| is small.
  *  - [[annTopK]] — sign-bit LSH (random-hyperplane style, using fixed
  *    leading dimensions as the projection set, so buckets are
  *    deterministic and engine-reproducible): corpus and queries are
  *    bucketed, the join is an equi-join on the bucket key, and only
  *    same-bucket candidates are scored. At scale the bucket key is the
  *    shuffle key; bucket count grows 2^bits so per-bucket candidate
  *    lists stay bounded.
  *
  * Numeric determinism: dot products fold left-to-right in array-index
  * order over doubles (`aggregate` over `zip_with`), which reproduces
  * exactly in any engine that sums element products in index order —
  * verified bit-identical against DuckDB's `list_sum`.
  */
object Similarity {

  /** Exact dot product of two float-array columns, accumulated in
    * index order as doubles — the native fused loop
    * ([[graft.functions.FloatDotProduct]]); arithmetic identical to the
    * HOF `aggregate(zip_with(...))` form it replaced (interpreted HOFs
    * cost a zip allocation + fold dispatch per pair, and are
    * re-evaluated per output row under a Generate). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.FloatDotProduct(
        org.apache.spark.sql.GraftColumns.expression(a),
        org.apache.spark.sql.GraftColumns.expression(b)))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Sign-bit LSH bucket: "1"/"0" per leading dimension sign.
    *
    * CAVEAT (documented scale cap): this keys on the signs of the
    * LEADING `bits` coordinates, so the number of independent
    * projections is bounded by the vector dimension — it is a cheap,
    * engine-reproducible single-probe bucketing for [[annTopK]], not a
    * recall-holding scheme. When recall at scale matters use the
    * seeded random-hyperplane banding of [[lshNearDupPairs]] /
    * [[hyperplanes]], whose projection count is independent of dim,
    * or [[ivfTopK]] with more probes. */
  def signBucket(v: Column, bits: Int): Column =
    concat((1 to bits).map { i =>
      when(element_at(v, i) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** Deterministic seeded ±1 hyperplanes for random-hyperplane
    * sign-LSH: component `k` of plane (band `b`, bit `j`) is +1 iff
    * the low bit of `md5("<seed>:<b>:<j>:<k>")`'s first byte is 0 —
    * the same derive-constants-from-md5 scheme as
    * [[graft.operators.Dedup]]'s minhash seeds, so the matrix is
    * engine-reproducible and the DuckDB oracle embeds the identical
    * literals. Returned flattened: row `b*bits + j` is plane (b, j). */
  def hyperplanes(bands: Int, bits: Int, dim: Int,
      seed: String = "graft-rhp"): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bands * bits) { pj =>
      val b = pj / bits
      val j = pj % bits
      Array.tabulate(dim) { k =>
        val h = md.digest(s"$seed:$b:$j:$k".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0f else -1.0f
      }
    }
  }

  /** Collision probability of one random-hyperplane sign bit for a
    * pair at cosine `cos θ` = threshold: `p = 1 − θ/π`. */
  def collisionProb(threshold: Double): Double =
    1.0 - math.acos(threshold) / math.Pi

  /** Expected recall of `bands` × `bits` sign-LSH banding for a pair
    * at exactly `threshold` cosine: `1 − (1 − p^bits)^bands`. Pairs
    * above the threshold do better; this is the floor the geometry
    * guarantees. */
  def expectedRecall(bands: Int, bits: Int, threshold: Double): Double = {
    val p = collisionProb(threshold)
    1.0 - math.pow(1.0 - math.pow(p, bits), bands)
  }

  /** Auto-size a recall-holding sign-LSH geometry for corpus size `n`:
    * `bits` grows with log2(n / targetBucket) so expected bucket
    * population stays ~targetBucket (bounded in-bucket pair
    * expansion), and `bands` is then sized from the banding recall
    * formula to hold `targetRecall` at the threshold — the dimension
    * of the two knobs: BITS bound buckets, BANDS hold recall. Neither
    * is capped by the embedding dimension (seeded hyperplanes, not
    * coordinate slices — the previous slice keying had bands×bits ≤
    * dim, which silently collapsed recall from 0.96 at n=500 to ~2%
    * at n=50 k as auto-sized bits squeezed out bands).
    *
    * Cost honesty: bands ≈ ln(1−R)/−p^bits grows like (1/p)^bits,
    * i.e. exponentially in bits for low thresholds (p(0.35) ≈ 0.61) —
    * recall at a LOW threshold is intrinsically expensive for sign-LSH
    * (the ρ exponent approaches 1 as the threshold falls). At
    * near-dup-realistic thresholds (0.8+, p ≥ 0.86) band counts stay
    * small at any n. `maxBands` caps runaway geometries; the
    * [[lshNearDupPairs]] expected-recall guard then refuses
    * geometries whose floor drops below 0.5 rather than silently
    * missing pairs. */
  def rhpGeometry(n: Long, threshold: Double, targetRecall: Double = 0.9,
      targetBucket: Int = 32, minBits: Int = 4,
      maxBands: Int = 4096): (Int, Int) = {
    require(n > 0, "empty corpus has no geometry")
    val bits = math.max(minBits,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2)).toInt)
    val perBand = math.pow(collisionProb(threshold), bits)
    val bands = math.min(maxBands, math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-perBand)).toInt))
    (bands, bits)
  }

  /** Reduce scored candidate pairs (q_id, n_id, cos) to per-query
    * top-k via the bounded-heap aggregate
    * [[graft.functions.BoundedTopK]]. This replaces a
    * `row_number().over(Window.partitionBy("q_id"))` — which funnels
    * the ENTIRE scored corpus of each query into a single reducer
    * partition (a corpus-sized sort per query at 10⁹ rows) — with a
    * partial/merge aggregation: each input partition keeps a k-entry
    * heap per query map-side, the shuffle carries only k·P candidate
    * structs, and the reduce merges heaps. Ordering (cos desc, n_id
    * asc) and output shape (q_id, n_id, rank, cos) are identical to
    * the window form — verified by the s1/s2/s3 DuckDB oracles. */
  private def topKMerge(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    val entry = GraftColumns.expression(struct(col("cos"), col("n_id")))
    val topk = GraftColumns.column(
      graft.functions.BoundedTopK(entry, k).toAggregateExpression())
    scored.groupBy(col("q_id"))
      .agg(topk.as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("int").as("rank"), col("col.cos").as("cos"))
  }

  /** Exact cosine top-k of `corpus` for each row of `queries`.
    * Both frames must have columns (`idCol`, `vecCol`). Self-matches are
    * excluded; ties break on ascending neighbor id.
    * Returns (q_id, n_id, rank, cos).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // Norms are projected per row BEFORE the pair join: computing
    // cosine(q_vec, n_vec) per pair would re-fold each vector's norm for
    // every candidate (per-pair 3 folds instead of 1). Same doubles, 3×
    // fewer flops, and the per-row projection survives CollapseProject.
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .select(col("q_id"), col("n_id"), col("cos"))
    topKMerge(scored, k)
  }

  /** Approximate cosine top-k: only candidates in the query's sign-LSH
    * bucket are scored. Same output shape as [[bruteForceTopK]]. */
  def annTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, bits: Int = 8): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      signBucket(col(vecCol), bits).as("bucket"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      signBucket(col(vecCol), bits).as("bucket"))
      .withColumn("n_norm", norm(col("n_vec")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .select(col("q_id"), col("n_id"), col("cos"))
    topKMerge(scored, k)
  }

  /** Multi-band random-hyperplane ANN top-k — the recall-CONTROLLED
    * upgrade of [[annTopK]] (whose single leading-dims bucket is a
    * documented one-probe heuristic): queries and corpus are keyed by
    * `bands` seeded hyperplane band keys ([[hyperplanes]] /
    * [[graft.functions.RhpBandKeys]], same scheme as
    * [[lshNearDupPairs]]), a neighbor is a candidate when ANY band
    * matches, so per-neighbor recall is `1 − (1 − p^bits)^bands` —
    * tunable to any target, independent of the embedding dimension.
    *
    * Scale shape: the corpus is scanned ONCE and banded map-side; the
    * banded queries are BROADCAST, so candidate generation is a
    * broadcast hash join with zero corpus shuffle. Only the slim
    * scored candidates (q_id, n_id, cos) shuffle — once for the
    * cross-band dedup, then into the bounded-heap top-k merge. Cost
    * per corpus row is one O(bands·bits·dim) keying loop plus one
    * cosine per distinct colliding (query, band) — at production
    * bands this is the ANN path that survives 10⁹-row corpora, while
    * [[bruteForceTopK]] stays the small-corpus exact baseline and
    * [[ivfTopK]] the cell-partitioned alternative. */
  def rhpAnnTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bands: Int, bits: Int, dim: Int = 64,
      seed: String = "graft-rhp"): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    val planes = hyperplanes(bands, bits, dim, seed)
    def keys(v: Column): Column = GraftColumns.column(
      graft.functions.RhpBandKeys(GraftColumns.expression(v), planes, bits))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        posexplode(keys(col("q_vec"))).as(Seq("band", "key")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
      .select(col("n_id"), col("n_vec"), col("n_norm"),
        posexplode(keys(col("n_vec"))).as(Seq("band", "key")))
    val scored = c.join(broadcast(q), Seq("band", "key"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .select(col("q_id"), col("n_id"), col("cos"))
      // a pair colliding in several bands scores identically in each —
      // dedup BEFORE the heap so duplicates can't occupy top-k slots
      .dropDuplicates("q_id", "n_id")
    topKMerge(scored, k)
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    * every corpus vector to its nearest centroid cell; a query probes
    * only its `nprobe` nearest cells and brute-forces those.
    *
    * The quantizer here is DETERMINISTIC — centroids are the first
    * `nlist` corpus vectors by id — so results are engine-reproducible
    * (the DuckDB oracle recomputes them exactly); production would swap
    * in k-means centroids without touching the plan shape. Scale story:
    * assignment is a map over the corpus against broadcast centroid
    * literals (constant-folded norms, no shuffle); the candidate join
    * is keyed by cell, so `nlist` sizes the shuffle — pick
    * nlist ≈ √corpus so cells stay bounded, and raise `nprobe` to trade
    * recall for scan cost. Ties break like [[bruteForceTopK]]:
    * descending cosine, ascending id.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    // deterministic coarse quantizer: first nlist corpus vectors by id
    val centroids: Array[Array[Float]] = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(nlist)
      .collect().map(_.getSeq[Float](1).toArray)
    ivfTopKWith(queries, corpus, idCol, vecCol, k, centroids, nprobe)
  }

  /** [[ivfTopK]] against an EXPLICIT centroid matrix — the production
    * quantizer path: train cells with [[kmeansCentroids]] (or bring
    * any codebook) and probe against them. Plan shape is identical to
    * [[ivfTopK]] — assignment is a narrow map against broadcast
    * centroid literals, the candidate join is keyed by cell — only
    * the cell QUALITY changes (trained cells balance population and
    * put near vectors in the same cell, so a given nprobe buys more
    * recall than the naive first-nlist quantizer). */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Float]], nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe must be in [1, ${centroids.length}], got $nprobe")

    // per-centroid (cos, -cellId) structs via the native expression —
    // ONE O(nlist·dim) loop per row emitting the finished struct array
    // (graft.functions.CentroidScores; assembling the structs with a
    // transform lambda would re-run the whole scorer per element).
    // array_max / reverse(array_sort) then give (cos desc, cell asc).
    import org.apache.spark.sql.GraftColumns
    def centroidScores(v: Column): Column = GraftColumns.column(
      graft.functions.CentroidScores(GraftColumns.expression(v), centroids))
    def cellOf(v: Column): Column =
      (-array_max(centroidScores(v)).getField("negid")).cast("int")
    def probedCells(v: Column): Column =
      transform(slice(reverse(array_sort(centroidScores(v))), 1, nprobe),
        s => -s.getField("negid"))

    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
      .withColumn("cell", cellOf(col("n_vec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        explode(probedCells(col("q_vec"))).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .select(col("q_id"), col("n_id"), col("cos"))
    topKMerge(scored, k)
  }

  /** Nearest-centroid cell of a vector column against a fixed centroid
    * matrix: argmax cosine, ties to the smaller cell — one
    * O(nlist·dim) native loop per row ([[graft.functions.CentroidScores]]),
    * no shuffle, no join. */
  def nearestCell(v: Column, centroids: Array[Array[Float]]): Column = {
    val scores = org.apache.spark.sql.GraftColumns.column(
      graft.functions.CentroidScores(
        org.apache.spark.sql.GraftColumns.expression(v), centroids))
    (-array_max(scores).getField("negid")).cast("int")
  }

  /** Lloyd's k-means over a float-embedding column — the centroid
    * TRAINING step the IVF quantizer ([[ivfTopK]]) consumes, and a
    * curation staple (topic balancing, data mixing, coreset picks).
    *
    * Per round: (1) assign — a narrow map scoring each vector against
    * the broadcast centroid literals (no shuffle); (2) update —
    * posexplode to (cell, dim) and partial-aggregate per-dimension
    * sums, so the shuffle carries k·dim·partitions rows, never
    * vectors; (3) collect the k·dim sum table (bounded, like the
    * quantizer's centroid fetch) and rebuild centroid literals for the
    * next round. A cell that loses all members keeps its previous
    * centroid.
    *
    * Determinism across engines (the reason this is oracle-checkable
    * at all): per-dimension accumulation is FIXED-POINT — each
    * component is scaled by `scale` and truncated to a long, and longs
    * sum exactly in any order — so round-2+ centroids are identical
    * doubles everywhere; cosine scoring then folds in index order like
    * every similarity operator here. Initial centroids are the first
    * k vectors by id. Floating-point means would differ by summation
    * order between engines (and between Spark partitionings!), which
    * for borderline vectors flips cell assignment.
    *
    * @return final per-(cell, dim) accumulator state:
    *         (cell, dim, sum_scaled, n) — centroid value =
    *         sum_scaled / scale / n; n = cell member count.
    */
  /** Trained centroid matrix for [[ivfTopKWith]] — runs the same
    * Lloyd loop as [[kmeansSums]] and assembles the k×dim codebook
    * driver-side (bounded collect, the same k·dim rows the training
    * loop already collects per round). A cell that lost all members
    * in the final round keeps the centroid it was assigned with —
    * identical fallback to the loop's intermediate rounds — so the
    * codebook is total and deterministic. */
  // ------------------------------------------------------------- SQ8

  /** Per-dimension corpus `(min, max)` for scalar quantization — ONE
    * partially-aggregated pass of 2·dim agg columns over
    * `element_at` (min/max combine map-side, so the shuffle carries
    * one 2·dim row per partition — never the n·dim explode a
    * groupBy-dimension formulation would shuffle). The collect is
    * 2·dim doubles, same bounded-driver-state contract as
    * [[kmeansCentroids]]' k·dim. */
  def sq8Bounds(corpus: DataFrame, vecCol: String)
      : (Array[Double], Array[Double]) = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    val aggs = (1 to dim).flatMap { i =>
      Seq(min(element_at(col(vecCol), i).cast("double")).as(s"mn_$i"),
        max(element_at(col(vecCol), i).cast("double")).as(s"mx_$i"))
    }
    val row = corpus.agg(aggs.head, aggs.tail: _*).first()
    (Array.tabulate(dim)(i => row.getDouble(2 * i)),
      Array.tabulate(dim)(i => row.getDouble(2 * i + 1)))
  }

  /** FAISS-style SQ8 encoding: each float maps to
    * `round((v − mn_i) / (mx_i − mn_i) · 255)`, stored shifted by
    * −128 as `array<tinyint>` — ONE byte per dimension at rest and in
    * flight, a 4× reduction over float32, which at 100 TB is the
    * difference between a corpus that fits the page cache and one
    * that doesn't. Degenerate dimensions (mx = mn) encode to code 0.
    * Pure built-in column expressions (transform/get/round), fully
    * codegen'd, no shuffle. */
  def sq8Encode(vec: Column, mins: Array[Double],
      maxs: Array[Double]): Column = {
    val mn = typedlit(mins.toSeq)
    val rg = typedlit(maxs.zip(mins).map { case (a, b) => a - b }.toSeq)
    transform(vec, (v, i) =>
      when(get(rg, i) === 0d, lit(0))
        .otherwise(round((v.cast("double") - get(mn, i)) / get(rg, i) * 255)
          .cast("int"))
        .minus(128).cast("tinyint"))
  }

  /** Dequantize SQ8 codes back to doubles:
    * `mn_i + code · (mx_i − mn_i) / 255` — the reconstruction half of
    * asymmetric distance computation (exact query vs quantized
    * corpus). Element error is bounded by half a quantization step,
    * `(mx_i − mn_i) / 510`. */
  def sq8Reconstruct(codes: Column, mins: Array[Double],
      maxs: Array[Double]): Column = {
    val mn = typedlit(mins.toSeq)
    val rg = typedlit(maxs.zip(mins).map { case (a, b) => a - b }.toSeq)
    transform(codes, (c, i) =>
      get(mn, i) + (c.cast("double") + 128d) * get(rg, i) / 255d)
  }

  /** Scalar-quantized cosine top-k: the corpus is SQ8-encoded
    * (4× smaller scan), queries stay full-precision, and scoring is
    * ADC — dequantize each corpus row once, dot against the exact
    * query. Same output shape and tie rule as [[bruteForceTopK]].
    *
    * Scale shape: bounds are one partial-agg pass; the encoded corpus
    * is the production artifact a real deployment persists (the scan
    * then reads 1-byte codes, not floats); scoring is a broadcast
    * join + [[topKMerge]] bounded heaps — corpus never shuffles.
    * Unlike the LSH/IVF paths this is approximate only in VALUE
    * (|Δcos| ~ quantization step), not in candidate coverage: every
    * neighbor is scored, so recall loss appears only where quantized
    * scores cross between true neighbors. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val (mins, maxs) = sq8Bounds(corpus, vecCol)
    val enc = corpus.select(col(idCol).as("n_id"),
      sq8Encode(col(vecCol), mins, maxs).as("codes"))
    val c = enc
      .withColumn("n_vec", sq8Reconstruct(col("codes"), mins, maxs))
      .withColumn("n_norm", norm(col("n_vec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .select(col("q_id"), col("n_id"), col("cos"))
    topKMerge(scored, k)
  }

  // -------------------------------------------------------------- PQ

  /** Deterministic untrained PQ codebooks: subspace `j`'s centroids
    * are the `j`-th slices of the first `ksub` corpus vectors by id —
    * the PQ analog of [[ivfTopK]]'s first-nlist coarse quantizer, so
    * the DuckDB oracle recomputes the whole codebook from the table
    * itself. Production swaps in [[pqCodebooks]] without touching the
    * plan shape. */
  def pqCodebooksFirst(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): Array[Array[Array[Float]]] = {
    val base: Array[Array[Float]] = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(ksub)
      .collect().map(_.getSeq[Float](1).toArray)
    val subdim = base(0).length / m
    Array.tabulate(m)(j => base.map(_.slice(j * subdim, (j + 1) * subdim)))
  }

  /** TRAINED PQ codebooks: one [[kmeansCentroids]] run per subspace
    * over the sliced vectors (same fixed-point deterministic Lloyd
    * loop, so a given corpus + params always yields the same
    * codebook). Driver state is m·ksub·subdim floats — the same
    * bounded-collect contract as IVF's k·dim. Each subspace trains on
    * a narrow `slice` projection of the one corpus scan per round;
    * m stays small (8–16), so this is m independent small k-means
    * problems, the standard PQ training decomposition. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): Array[Array[Array[Float]]] = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subdim = dim / m
    Array.tabulate(m) { j =>
      kmeansCentroids(
        corpus.select(col(idCol),
          slice(col(vecCol), j * subdim + 1, subdim).as("sub")),
        idCol, "sub", ksub, iters)
    }
  }

  /** PQ-encode a vector column: `m` codes of 1 byte each (stored
    * −128-shifted like [[sq8Encode]]), nearest sub-centroid by
    * squared L2, ties to the lowest index — the native
    * [[graft.functions.PqCodes]] fused loop. For dim=64, m=8 this is
    * an 8-byte code word per vector: a 32× compression over float32,
    * the storage layout that makes a 100 TB corpus's ANN index fit
    * in cluster memory. */
  def pqEncode(vec: Column,
      codebooks: Array[Array[Array[Float]]]): Column = {
    import org.apache.spark.sql.GraftColumns
    GraftColumns.column(
      graft.functions.PqCodes(GraftColumns.expression(vec), codebooks))
  }

  /** Reconstruct the quantized vector from PQ codes: concatenation of
    * each subspace's selected centroid (as doubles). The lookup is
    * pure column algebra over the broadcast codebook literal — one
    * nested `element_at` per subspace, no shuffle. */
  def pqReconstruct(codes: Column,
      codebooks: Array[Array[Array[Float]]]): Column = {
    val cb = typedlit(codebooks.map(_.map(_.map(_.toDouble).toSeq)
      .toSeq).toSeq)
    flatten(transform(codes, (c, j) =>
      element_at(element_at(cb, j + 1), c.cast("int") + 129)))
  }

  /** PQ asymmetric-distance top-k against an explicit codebook:
    * corpus rows are encoded to m-byte code words, reconstructed
    * once, and scored by exact-query cosine — same ADC scheme, output
    * shape, and tie rule as [[sq8TopK]], with a much smaller code
    * (m bytes vs dim bytes) and therefore coarser value error.
    *
    * Scale shape: encode is one narrow map over the corpus scan
    * (native fused loop, codebook rides as a broadcast literal);
    * scoring is a broadcast join + [[topKMerge]] bounded heaps —
    * the corpus never shuffles. Like SQ8 (and unlike LSH/IVF),
    * coverage is exact: every neighbor is scored, error is
    * value-only. Compose with [[ivfTopKWith]] cells for the full
    * FAISS IVF-PQ layout when the corpus outgrows a single scan. */
  def pqTopKWith(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      codebooks: Array[Array[Array[Float]]]): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"),
      pqEncode(col(vecCol), codebooks).as("codes"))
      .withColumn("n_vec", pqReconstruct(col("codes"), codebooks))
      .withColumn("n_norm", norm(col("n_vec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .select(col("q_id"), col("n_id"), col("cos"))
    topKMerge(scored, k)
  }

  /** [[pqTopKWith]] under the deterministic [[pqCodebooksFirst]]
    * quantizer — the oracle-reproducible form (s7). */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, ksub: Int): DataFrame =
    pqTopKWith(queries, corpus, idCol, vecCol, k,
      pqCodebooksFirst(corpus, idCol, vecCol, m, ksub))

  // ---------------------------------------------------------- rerank

  /** Exact-cosine rerank of an approximate candidate list — the
    * standard recall-recovery stage for the quantized tier: a cheap
    * first stage over-fetches `k' > k` candidates by quantized (ADC)
    * score, then only those k'·nq rows are re-scored against the
    * full-precision vectors and the true top k kept. Accepts any
    * `(q_id, n_id)` candidate frame ([[sq8TopK]], [[pqTopK]],
    * [[ivfPqSearch]] outputs all fit).
    *
    * Scale shape: the candidate frame is nq·k' rows — broadcast
    * against the corpus scan to fetch exact vectors, so the corpus
    * never shuffles and rerank cost is |candidates| dot products into
    * [[topKMerge]] bounded heaps. After rerank, value error is zero
    * for every returned pair (scores are exact cosine, identical to
    * [[bruteForceTopK]]'s); what remains approximate is coverage —
    * a true neighbor the first stage never surfaced stays missing,
    * which is why the stage over-fetches. */
  def exactRerank(candidates: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    val cand = candidates.select(col("q_id"), col("n_id"))
    val withVec = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(broadcast(cand), Seq("n_id"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val scored = withVec.join(broadcast(q), Seq("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("n_vec")))
      .select(col("q_id"), col("n_id"), col("cos"))
    topKMerge(scored, k)
  }

  /** [[sq8TopK]] over-fetching `k · overfetch` ADC candidates, then
    * [[exactRerank]]ed to the true top k — the production composition
    * for the SQ8 tier: the corpus scan still reads 1-byte codes, and
    * only nq·k·overfetch exact vectors are ever touched. */
  def sq8TopKRerank(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, overfetch: Int = 3)
      : DataFrame =
    exactRerank(
      sq8TopK(queries, corpus, idCol, vecCol, k * overfetch),
      queries, corpus, idCol, vecCol, k)

  // ---------------------------------------------------------- IVF-PQ

  /** Build the IVF-PQ index: every corpus vector is assigned to its
    * nearest coarse cell ([[nearestCell]]) and its RESIDUAL
    * (v − centroid) is PQ-encoded with codebooks trained on the
    * residual distribution — the FAISS IVFPQ layout. The returned
    * frame `(n_id, cell, codes)` is the persistable index artifact:
    * an int cell + m byte codes per vector (~12 bytes at m=8), the
    * representation that keeps a 10⁹-vector index memory-resident
    * where float32 vectors would be 250 GB. Residual encoding beats
    * global PQ at equal code size because residuals concentrate near
    * zero once the coarse cell absorbs the vector's position.
    *
    * Everything is one corpus scan: cell assignment and residual are
    * narrow maps against broadcast centroid literals; only the
    * codebook TRAINING ([[pqCodebooks]]) re-scans (m small k-means
    * problems). */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], m: Int, ksub: Int, iters: Int)
      : (DataFrame, Array[Array[Array[Float]]]) = {
    val cent = typedlit(centroids.map(_.toSeq).toSeq)
    val withRes = corpus.select(col(idCol).as("n_id"), col(vecCol).as("v"))
      .withColumn("cell", nearestCell(col("v"), centroids))
      .withColumn("residual",
        zip_with(col("v"), element_at(cent, col("cell") + 1), (a, b) => a - b))
    val codebooks = pqCodebooks(withRes, "n_id", "residual", m, ksub, iters)
    (withRes.select(col("n_id"), col("cell"),
      pqEncode(col("residual"), codebooks).as("codes")), codebooks)
  }

  /** [[ivfPqIndex]] under the deterministic first-ksub residual
    * codebook (the IVF-PQ analog of [[pqCodebooksFirst]]): sub-
    * codebook entry `c` of subspace `j` is subvector `j` of the
    * residual of the `c`-th corpus vector in id order. Same index
    * layout and search path as the k-means-trained form — only the
    * codebook QUALITY differs — and every stage (cell assign →
    * residual → codes → reconstruction) is recomputable by the DuckDB
    * oracle (s9), which proves the whole chain bit-for-bit the way s7
    * does for flat PQ. Residuals stay FLOAT (zip_with over two float
    * arrays), so the collected codebook entries are exactly the values
    * [[pqEncode]] sees. */
  def ivfPqIndexFirst(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], m: Int, ksub: Int)
      : (DataFrame, Array[Array[Array[Float]]]) = {
    val cent = typedlit(centroids.map(_.toSeq).toSeq)
    val withRes = corpus.select(col(idCol).as("n_id"), col(vecCol).as("v"))
      .withColumn("cell", nearestCell(col("v"), centroids))
      .withColumn("residual",
        zip_with(col("v"), element_at(cent, col("cell") + 1), (a, b) => a - b))
    val codebooks = pqCodebooksFirst(withRes, "n_id", "residual", m, ksub)
    (withRes.select(col("n_id"), col("cell"),
      pqEncode(col("residual"), codebooks).as("codes")), codebooks)
  }

  /** Query an IVF-PQ index: probe the `nprobe` nearest cells, ADC
    * against `centroid + reconstructed residual`. Plan shape is
    * [[ivfTopKWith]]'s (cell-keyed broadcast join, bounded-heap
    * top-k) with PQ's scan economics (the index frame carries codes,
    * not vectors). `nprobe = nlist` plus a saturated codebook
    * (ksub = corpus size) reconstructs exactly and degenerates to
    * [[bruteForceTopK]] — the spec's correctness chain. */
  def ivfPqSearch(queries: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe must be in [1, ${centroids.length}], got $nprobe")
    import org.apache.spark.sql.GraftColumns
    def centroidScores(v: Column): Column = GraftColumns.column(
      graft.functions.CentroidScores(GraftColumns.expression(v), centroids))
    val centD = typedlit(centroids.map(_.map(_.toDouble).toSeq).toSeq)
    val c = index
      .withColumn("n_vec", zip_with(element_at(centD, col("cell") + 1),
        pqReconstruct(col("codes"), codebooks), (a, b) => a + b))
      .withColumn("n_norm", norm(col("n_vec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        explode(transform(
          slice(reverse(array_sort(centroidScores(col("q_vec")))), 1, nprobe),
          s => -s.getField("negid"))).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .select(col("q_id"), col("n_id"), col("cos"))
    topKMerge(scored, k)
  }

  /** Persist an IVF-PQ index as a self-contained directory: the
    * per-vector codes frame (`index/` — the only table that scales
    * with the corpus) plus two tiny side tables for the coarse
    * centroids (`centroids/`) and PQ codebooks (`codebooks/`).
    * Everything is plain parquet — readable by any engine, and the
    * index frame can itself be laid out with
    * [[graft.operators.Bucketing]] / [[graft.operators.Layout]] when
    * cell-local scans matter. */
  def saveIvfPqIndex(index: DataFrame, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], path: String): Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    index.write.mode("overwrite").parquet(s"$path/index")
    centroids.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    (for ((cb, j) <- codebooks.zipWithIndex.toSeq; (c, ci) <- cb.zipWithIndex)
      yield (j, ci, c.toSeq))
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Load an index written by [[saveIvfPqIndex]]. The side tables are
    * bounded driver state (nlist·dim + m·ksub·subdim floats); the
    * index frame stays distributed. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val index = spark.read.parquet(s"$path/index")
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect().map(_.getSeq[Float](1).toArray)
    val cbRows = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val codebooks = cbRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    (index, cents, codebooks)
  }

  /** One-call IVF-PQ: build the index, then search it. Production
    * keeps the two phases separate (the index is the artifact you
    * persist); this form is for specs and exploration. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Float]], nprobe: Int,
      m: Int, ksub: Int, iters: Int): DataFrame = {
    val (index, codebooks) =
      ivfPqIndex(corpus, idCol, vecCol, centroids, m, ksub, iters)
    ivfPqSearch(queries, index, idCol, vecCol, k, centroids, codebooks, nprobe)
  }

  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double = 1e6): Array[Array[Float]] = {
    val (sums, lastAssigned) = kmeansLoop(df, idCol, vecCol, k, iters, scale)
    val byCell = centroidsOf(sums.collect(), scale)
    lastAssigned.indices.map(c => byCell.getOrElse(c, lastAssigned(c)))
      .toArray
  }

  def kmeansSums(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double = 1e6): DataFrame =
    kmeansLoop(df, idCol, vecCol, k, iters, scale)._1

  /** (cell → centroid vector) from collected accumulator rows. */
  private def centroidsOf(rows: Array[org.apache.spark.sql.Row],
      scale: Double): Map[Int, Array[Float]] =
    rows.groupBy(_.getAs[Int]("cell"))
      .map { case (cell, rs) =>
        val cv = new Array[Float](rs.map(_.getAs[Int]("dim")).max + 1)
        rs.foreach { r =>
          cv(r.getAs[Int]("dim")) =
            (r.getAs[Long]("sum_scaled") / scale /
              r.getAs[Long]("n")).toFloat
        }
        cell -> cv
      }

  /** Shared Lloyd loop: final sums frame + the centroids the FINAL
    * assignment round used (the fallback codebook for empty cells). */
  private def kmeansLoop(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double)
      : (DataFrame, Array[Array[Float]]) = {
    require(iters >= 1, "kmeans needs at least one assignment round")
    val init: Array[Array[Float]] = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Float](1).toArray)

    var centroids = init
    var sums: DataFrame = null
    for (round <- 1 to iters) {
      sums = df
        .select(nearestCell(col(vecCol), centroids).as("cell"),
          posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum((col("v").cast("double") * scale).cast("long"))
          .as("sum_scaled"),
          count(lit(1)).as("n"))
      if (round < iters) { // last round's sums go to the caller unread
        val byCell = centroidsOf(sums.collect(), scale)
        centroids = init.indices.map(c =>
          byCell.getOrElse(c, centroids(c))).toArray
      }
    }
    (sums, centroids)
  }

  /** Multi-band sign-LSH near-duplicate pairs — attribute-free
    * blocking for embedding cosine near-dups.
    *
    * Band `i` keys on the packed sign pattern of `bits` SEEDED RANDOM
    * ±1 HYPERPLANE projections ([[hyperplanes]] /
    * [[graft.functions.RhpBandKeys]] — deterministic,
    * engine-reproducible, mirrored literally by the d6 DuckDB
    * oracle); a pair becomes a candidate when ANY band key matches
    * (OR over bands), and every candidate is verified by exact cosine
    * before emission. For true cosine `cos θ` the per-bit
    * sign-agreement probability is `p = 1 − θ/π`, so recall is
    * `1 − (1 − p^bits)^bands` — e.g. 16 bands × 4 bits at cos ≥ 0.35
    * gives ≈ 0.90 expected. Because the planes are random vectors,
    * NOT coordinate slices, `bands` is independent of the embedding
    * dimension: bits can grow with log n (bucket bounding) while
    * bands grow to hold recall — see [[rhpGeometry]]. A geometry
    * whose expected recall floor at the threshold is below 0.5 is
    * refused at PLAN TIME (require), so a caller cannot silently run
    * a blocking that misses most true pairs. `bits = 1` with bands ≈
    * dim degenerates to a near-exhaustive blocking (a pair is missed
    * only when all projections disagree), which the spec uses as the
    * blocked ≡ brute-force gate, mirroring s3's nprobe = nlist proof.
    *
    * Scale shape: the same bucket-expand contract as the text LSH
    * ([[graft.operators.Dedup.lshNearDupPairs]]) — one corpus scan,
    * `bands` keys per row via one posexplode, one shuffle keyed by
    * (band, key), in-bucket pair expansion from a BoundedTopK-capped
    * member list (O(maxBucket) state at every stage including the
    * map-side partial; a self-join would scan the corpus once per
    * side). Overflowing buckets are dropped, surfaced via the observed
    * metric `embed_bucket_overflow`. Exact duplicates must be removed
    * upstream (the d1 exact-dedup-first contract): identical vectors
    * collide in every band and inflate buckets quadratically. The
    * vector+norm payload rides the shuffle ONCE per (row, band) inside
    * the bounded bucket list, so cosine verification needs no
    * join-back; emitted pairs are slim (ids + cos), never payloads.
    *
    * SIZING: expected bucket population is n / 2^bits per band, so
    * `bits` must grow with log2(n) and `bands` must then grow to hold
    * recall — [[rhpGeometry]] computes both (callers: see d6's
    * auto-sizing). Fixed bits at growing n is linear buckets and
    * quadratic pair expansion, the one way this operator degenerates
    * on throughput; fixed bands at growing bits is the way it
    * degenerates on recall (now guarded). */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, bits: Int, threshold: Double,
      maxBucket: Int = 1024, dim: Int = 64,
      seed: String = "graft-rhp"): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
    val er = expectedRecall(bands, bits, threshold)
    require(er >= 0.5,
      f"sign-LSH geometry $bands bands x $bits bits has expected recall " +
        f"$er%.3f at threshold $threshold%.2f — most true pairs would be " +
        "silently missed; raise bands (see Similarity.rhpGeometry)")
    val planes = hyperplanes(bands, bits, dim, seed)
    val bandKeys = GraftColumns.column(graft.functions.RhpBandKeys(
      GraftColumns.expression(col("v")), planes, bits))
    val keyed = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("pl", struct(col("v"), norm(col("v")).as("nrm")))
      .select(col("id"), col("pl"),
        posexplode(bandKeys).as(Seq("band", "key")))
    val bucketCap = GraftColumns.column(
      graft.functions.BoundedTopK(
        GraftColumns.expression(
          struct(lit(0.0).as("s"), col("id"), col("pl"))),
        maxBucket + 1).toAggregateExpression())
    keyed.groupBy(col("band"), col("key"))
      .agg(bucketCap.as("xs"), count(lit(1)).as("n"))
      .observe("embed_bucket_overflow",
        sum(when(col("n") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("overflow_buckets"),
        sum(when(col("n") > maxBucket, col("n")).otherwise(lit(0L)))
          .as("overflow_docs"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      // cosine is computed and thresholded INSIDE the pair-expansion
      // lambda: a surviving pair is 2 longs + 1 double. The first cut
      // of this operator emitted struct(pl_a, pl_b) per candidate —
      // two full vector payloads per pair — which at sf0.1 (16-key
      // bands → ~300-member buckets) materialized ~6 GB of pair rows
      // into the dedup shuffle and ran 100× slower than this shape.
      // Compute per candidate is redundant across bands (a pair
      // verifies once per shared band), but redundant flops beat
      // shuffled gigabytes at every scale.
      .select(explode(flatten(transform(col("xs"), (x, i) =>
        filter(
          transform(slice(col("xs"), i + lit(2), size(col("xs"))), y =>
            struct(
              least(x("id"), y("id")).as("id_a"),
              greatest(x("id"), y("id")).as("id_b"),
              (dot(x("pl")("v"), y("pl")("v")) /
                (x("pl")("nrm") * y("pl")("nrm"))).as("cos"))),
          p => p("cos") >= threshold))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cos").as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Blocked near-duplicate pairs by embedding cosine: candidates are
    * restricted to equal blocking keys (e.g. a label or coarse cluster
    * id), so the pair space is per-block quadratic, not global.
    * Prefer [[lshNearDupPairs]] when no meaningful blocking attribute
    * exists — on the synthetic corpus the label attribute carries
    * almost no cluster signal (same-label mean cosine 0.0016), so
    * label blocking recalls only ~11% of true pairs. */
  def blockedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("id_a"),
      col(vecCol).as("va"))
      .withColumn("na", norm(col("va")))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("id_b"),
      col(vecCol).as("vb"))
      .withColumn("nb", norm(col("vb")))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Top-principal-component PCA over an embedding column — the
    * dimensionality-reduction/whitening primitive of embedding
    * pipelines (compression before ANN, drift monitoring, the
    * "remove the dominant direction" trick for sentence embeddings —
    * Arora et al. 2017, ICLR, public).
    *
    * Scale shape: ONE corpus pass through the
    * [[graft.functions.GramSum]] typed aggregate folds every vector
    * into a dim²+dim+1 double buffer per partition (map-side; the
    * shuffle carries one buffer per task — no dim²-row explode, no
    * vector collect); the covariance assembly and the FIXED `iters`
    * power-iteration rounds then run on the driver over a dim×dim
    * matrix — O(dim²·iters) scalar work, corpus-independent, the
    * kmeans-centroid bounded-driver-state convention.
    *
    * Determinism: v₀ = 1/√dim ones, each round v ← normalize(C·v)
    * with ascending-index summation — a fixed arithmetic recipe both
    * engines replay literally (no eigensolver, no sign ambiguity);
    * the s10 oracle rebuilds C from SQL moment sums and unrolls the
    * same rounds. Fixed rounds rather than convergence: the oracle
    * needs a closed form, and ‖C‖-scaled eigengaps make 8 rounds
    * plenty for a dominant component (the spec checks the Rayleigh
    * residual).
    *
    * @return (component, mean) — unit-norm principal direction and
    *         the column means. */
  def pcaTopComponent(df: DataFrame, vecCol: String, dim: Int = 64,
      iters: Int = 8): (Array[Double], Array[Double]) = {
    import org.apache.spark.sql.GraftColumns
    val g = df
      .select(GraftColumns.column(graft.functions.GramSum(
        GraftColumns.expression(col(vecCol)), dim).toAggregateExpression())
        .as("g"))
      .first().getSeq[Double](0).toArray
    val n = g(dim * dim + dim)
    require(n > 0, "pca over an empty corpus")
    val mu = Array.tabulate(dim)(i => g(dim * dim + i) / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      g(i * dim + j) / n - mu(i) * mu(j))
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim) { i =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += cov(i)(j) * v(j); j += 1 }
        s
      }
      val norm = math.sqrt(w.map(x => x * x).sum)
      require(norm > 0, "covariance annihilated the iterate — " +
        "degenerate (constant) corpus")
      v = w.map(_ / norm)
    }
    (v, mu)
  }

  /** Project every vector onto the corpus' top principal component:
    * (id, proj) with proj = ⟨x − μ, v⟩ — a narrow codegen'd map over
    * the driver-computed (v, μ) literals. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
      dim: Int = 64, iters: Int = 8): DataFrame = {
    val (v, mu) = pcaTopComponent(df, vecCol, dim, iters)
    val vLit = array(v.map(lit).toIndexedSeq: _*)
    val muLit = array(mu.map(lit).toIndexedSeq: _*)
    val proj = aggregate(sequence(lit(1), lit(dim)), lit(0.0),
      (acc, k) => acc +
        (element_at(col(vecCol), k).cast("double") - element_at(muLit, k)) *
          element_at(vLit, k))
    df.select(col(idCol), proj.as("proj"))
  }

  /** Remove-top-component embedding cleanup (the SIF post-processing
    * of Arora et al. 2017: sentence-embedding quality improves when
    * the corpus' dominant direction is projected out). Per vector:
    * the centered projection ⟨x−μ, v⟩ and the L2 norm of the residual
    * x−μ − proj·v — the norm is the drift/anisotropy diagnostic, and
    * a caller reconstructing the cleaned vector divides by it.
    *
    * Same scale shape as [[pcaProject]]: one GramSum pass + driver
    * power iteration, then a narrow zero-shuffle map with (v, μ) as
    * literals. Residual terms are summed in ascending index order —
    * (x_k − μ_k − proj·v_k)², left-assoc — the recipe the oracle
    * replays. */
  def pcaResidual(df: DataFrame, idCol: String, vecCol: String,
      dim: Int = 64, iters: Int = 8): DataFrame = {
    val (v, mu) = pcaTopComponent(df, vecCol, dim, iters)
    val vLit = array(v.map(lit).toIndexedSeq: _*)
    val muLit = array(mu.map(lit).toIndexedSeq: _*)
    val proj = aggregate(sequence(lit(1), lit(dim)), lit(0.0),
      (acc, k) => acc +
        (element_at(col(vecCol), k).cast("double") - element_at(muLit, k)) *
          element_at(vLit, k))
    val rnorm = sqrt(aggregate(sequence(lit(1), lit(dim)), lit(0.0),
      (acc, k) => {
        val t = element_at(col(vecCol), k).cast("double") -
          element_at(muLit, k) - col("proj") * element_at(vLit, k)
        acc + t * t
      }))
    df.select(col(idCol), col(vecCol), proj.as("proj"))
      .select(col(idCol), col("proj"), rnorm.as("rnorm"))
  }

  /** Persist the lake's seeded RHP band keys as a key-bucketed index
    * table plus an id-bucketed VECTOR table — the write-once half of
    * incremental EMBEDDING dedup (the d14/t9 economics applied to the
    * vector family): the lake's hyperplane projections are computed
    * and shuffled ONCE, and every ingest batch then pays only its own
    * projection scan plus bucket-local joins.
    *
    * The index rows are (band, key, vec_id) ONLY — ~24 bytes each.
    * Recall-holding geometry grows `bands` with the corpus
    * ([[rhpGeometry]]: 1311 bands at n = 200k), so an index carrying
    * the vector per band row would duplicate every vector `bands`
    * times (measured: 56 MB of vectors ballooned to an unwritable
    * ~70 GB at sf10). Vectors live once in `<table>_vecs`, joined
    * back only for the DISTINCT candidate pairs.
    *
    * A third table, `<table>_stats`, holds the per-(band, key) bucket
    * populations — the write-once half of the probe-time candidate
    * cap ([[incrementalEmbedNewIndexed]]'s `maxBucket`): probes
    * consult it bucket-locally instead of re-counting the index per
    * batch. It is derived from the written key table with a
    * zero-exchange aggregation (grouping on (band, key) rides the
    * key bucketing), so the extra write costs one bucket-local pass. */
  def writeRhpIndex(df: DataFrame, idCol: String, vecCol: String,
      table: String, bands: Int, bits: Int, nBuckets: Int = 16,
      dim: Int = 64, seed: String = "graft-rhp"): Unit = {
    import org.apache.spark.sql.GraftColumns
    val planes = hyperplanes(bands, bits, dim, seed)
    val keys = GraftColumns.column(graft.functions.RhpBandKeys(
      GraftColumns.expression(col("v")), planes, bits))
    val base = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
    // the vecs sidecar and the (index → stats) chain share no sink and
    // no shuffle, so they run as two CONCURRENT job chains (guide
    // §2.6): the vecs write's task tail back-fills with the index
    // explode. The stats write stays sequenced after the index write
    // it reads back. Measured at sf0.1 the three sequential writes
    // were pure job-count wall (16 jobs, 5.4 s executor in a 3.2 s row).
    graft.util.Par.all(
      () => Bucketing.writeBucketed(base, s"${table}_vecs", "vec_id",
        nBuckets, Seq("vec_id")),
      () => {
        Bucketing.writeBucketed(
          base.select(col("vec_id"), posexplode(keys).as(Seq("band", "key"))),
          table, "key", nBuckets, Seq("key"))
        Bucketing.writeBucketed(
          df.sparkSession.table(table).groupBy(col("band"), col("key"))
            .agg(count(lit(1)).as("n")),
          s"${table}_stats", "key", nBuckets, Seq("key"))
      })
  }

  /** Bucket-population telemetry for a [[writeRhpIndex]] table — one
    * row of `n_buckets`, `max_bucket`, p50/p90/p99 sizes,
    * `overflow_buckets` / `overflow_rows` (buckets above `maxBucket`
    * and the index rows inside them), and `probe_expansion_per_hit` =
    * the candidate rows ONE probe row joining an average surviving
    * bucket expands to. This is the GUARANTEED audit surface for the
    * probe-time cap (the in-plan observed metric can be folded away
    * by AQE when a stage collapses to zero rows); it reads only the
    * tiny stats table, never the index. Run it before sizing
    * `maxBucket` or after an ingest reports over-keeps. */
  def rhpBucketStats(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucket: Int = 4096): DataFrame =
    spark.table(s"${table}_stats")
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        expr("percentile_approx(n, array(0.5D, 0.9D, 0.99D), 10000)")
          .as("size_p50_p90_p99"),
        sum(when(col("n") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("overflow_buckets"),
        sum(when(col("n") > maxBucket, col("n")).otherwise(lit(0L)))
          .as("overflow_rows"),
        (sum(when(col("n") <= maxBucket, col("n")).otherwise(lit(0L))) /
          greatest(sum(when(col("n") <= maxBucket, lit(1L))
            .otherwise(lit(0L))), lit(1L)))
          .as("probe_expansion_per_hit"))

  /** Batch-vs-lake embedding dedup against a [[writeRhpIndex]] table:
    * batch vectors whose cosine to ANY banded lake candidate reaches
    * `threshold` are dropped; survivors return. Must use the SAME
    * (bands, bits, dim, seed) the index was written with.
    *
    * Candidates DISTINCT on (batch, lake) id pairs BEFORE any vector
    * touches the plan — band multiplicity never multiplies cosine
    * work or vector bytes; the lake vectors join back from the
    * id-bucketed table only for surviving candidates.
    *
    * Candidate cap (the d12 count-first lesson applied to the index
    * side): index buckets holding more than `maxBucket` rows — the
    * mass-duplicate shape an exact-dedup-skipping lake produces,
    * where identical vectors collide in EVERY band and the probe join
    * emits O(dups × bands) candidates (measured: ~10⁹ rows and a
    * spill-disk overflow at sf10 on a duplicate-heavy synthetic
    * corpus) — are EXCLUDED from the probe join, by a bucket-local
    * join against the write-once `<table>_stats` populations (no
    * per-batch index re-count). The contract is explicit OVER-KEEP: a
    * batch vector whose only collisions hit overfull buckets
    * SURVIVES even if a true near-dup sits inside one, so the cap
    * trades bounded recall loss (audited, never silent) for a
    * bounded join: per batch vector ≤ bands × maxBucket candidates.
    * The exclusion is surfaced twice — an in-plan observed metric
    * (`rhp_bucket_overflow`: excluded probe hits + the index rows
    * they skipped) and the exact [[rhpBucketStats]] audit over the
    * stats table. Exact-duplicate-heavy lakes should STILL run exact
    * dedup before indexing (the standing contract of every banding
    * family here); the cap makes skipping it degrade recall instead
    * of overflowing spill disk. */
  def incrementalEmbedNewIndexed(
      spark: org.apache.spark.sql.SparkSession, table: String,
      batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 16, bits: Int = 4,
      dim: Int = 64, seed: String = "graft-rhp",
      maxBucket: Int = 4096): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    val planes = hyperplanes(bands, bits, dim, seed)
    val keys = GraftColumns.column(graft.functions.RhpBandKeys(
      GraftColumns.expression(col("bv")), planes, bits))
    val bVecs = batch
      .select(col(idCol).cast("long").as("bid"), col(vecCol).as("bv"))
    val bKeys = bVecs
      .select(col("bid"), col("bv"),
        posexplode(keys).as(Seq("band", "key")))
      .select(col("bid"), col("band"), col("key"))
    // inner join: a probe (band, key) absent from the stats table has
    // no index rows either, so dropping it loses nothing. Indexes
    // written before the stats table existed degrade gracefully: the
    // populations are re-derived from the index (one extra per-batch
    // bucket-local aggregation — the cost writeRhpIndex's stats table
    // pays once instead), not a table-not-found failure.
    val stats =
      if (spark.catalog.tableExists(s"${table}_stats"))
        spark.table(s"${table}_stats")
      else spark.table(table).groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("n"))
    val active = bKeys
      .join(stats, Seq("band", "key"))
      .observe("rhp_bucket_overflow",
        sum(when(col("n") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("overflow_probe_hits"),
        sum(when(col("n") > maxBucket, col("n")).otherwise(lit(0L)))
          .as("overflow_candidates_skipped"))
      .filter(col("n") <= maxBucket)
      .select(col("bid"), col("band"), col("key"))
    val cand = active.join(spark.table(table), Seq("band", "key"))
      .select(col("bid"), col("vec_id")).distinct()
    // the batch side joins BROADCAST: candidate rows grow vector-fat
    // at the cosine stage (dim floats × up to bands-worth of
    // collisions per batch vector), and shuffling them to meet the
    // batch vectors was the measured disk wall at sf10/τ=0.6 (~90 GB
    // of SMJ spill from a 10 MB batch). Broadcasting the batch keeps
    // the fat rows in place — only surviving bids shuffle. An ingest
    // batch is bounded by construction; slice batches above broadcast
    // budget (~10⁷ vectors) at the caller, as any ingest path does.
    val dup = cand
      .join(spark.table(s"${table}_vecs"), "vec_id")
      .join(broadcast(bVecs), "bid")
      .filter(cosine(col("bv"), col("v")) >= threshold)
      .select(col("bid")).distinct()
    batch.join(dup, batch(idCol) === dup("bid"), "left_anti")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.RebuildQueries
import graft.rebuild.RebuildJob

/** Automated physical-plan audit: the scale properties the engine
  * depends on at 100 TB, asserted on executed plans so regressions
  * fail CI instead of showing up as cluster bills.
  *
  * Uses `queryExecution.executedPlan` BEFORE adaptive re-planning (the
  * initial plan's exchange count is the upper bound; AQE only removes
  * or localizes exchanges at runtime).
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(p: String, needle: String): Int =
    needle.r.findAllIn(p).length

  test("rebuild plan: two shuffles max, no join-back, typed fold present") {
    val p = plan(RebuildJob.rebuildSolr(spark,
      RebuildQueries.syntheticIssues(spark, sf),
      RebuildQueries.syntheticPages(spark, sf), "T").toDF())
    // one hash-partition exchange (per-CI regroup); the page join may
    // broadcast at this scale (BroadcastExchange) or shuffle at real
    // scale — but never a third exchange for a metadata join-back
    assert(count(p, "Exchange hashpartitioning") <= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("MapElements"), "typed rebuild fold missing")
    // the issues frame is scanned once: a join-back would scan documents
    // parquet 3+ times (issues ×2 + pages)
    assert(count(p, "FileScan parquet") <= 2, "issues scanned more than once")
  }

  test("LSH dedup plan: bucket-expand, no self-join, no cartesian") {
    val p = plan(graft.operators.Dedup.lshNearDupPairs(
      graft.util.Tables.documents(spark, sf), "doc_id", "text",
      3, 16, 4, 0.8))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "pair generation must not self-join")
    assert(!p.contains("BroadcastHashJoin"), "pair generation must not self-join")
    // exactly one corpus scan feeds candidate generation
    assert(count(p, "FileScan parquet") == 1, "documents scanned more than once")
    // native expressions on the hot path, not interpreted HOF shingles
    assert(p.contains("word_shingles") && p.contains("minhash_sig"))
  }

  test("embedding LSH plan: bucket-expand, no self-join, single scan") {
    val p = plan(graft.operators.Similarity.lshNearDupPairs(
      graft.util.Tables.embeddings(spark, sf), "vec_id", "embedding",
      bands = 16, bits = 4, threshold = 0.35))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "pair generation must not self-join")
    assert(!p.contains("BroadcastHashJoin"), "pair generation must not self-join")
    assert(count(p, "FileScan parquet") == 1, "embeddings scanned more than once")
    assert(p.contains("bounded_topk"), "bucket cap missing")
  }

  test("rhp ANN plan: broadcast banded queries, corpus never shuffles to find candidates") {
    val e = graft.util.Tables.embeddings(spark, sf)
    val p = plan(graft.operators.Similarity.rhpAnnTopK(
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 16), e,
      "vec_id", "embedding", 5, bands = 16, bits = 4))
    assert(p.contains("BroadcastHashJoin"),
      "candidate generation must broadcast the banded queries")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must not shuffle to find candidates")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("rhp_band_keys"), "native keying missing")
    assert(p.contains("bounded_topk"), "top-k must be the bounded heap")
  }

  test("rebuild CLI batch config prunes canonical partitions at the scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("prune").toString
    Seq("A1-1900-01-01-a", "A1-1950-01-01-a", "B2-1900-01-01-a")
      .toDF("id")
      .withColumn("alias", regexp_extract(col("id"), "^([^-]+)-", 1))
      .withColumn("year",
        regexp_extract(col("id"), "-(\\d{4})-", 1).cast("int"))
      .write.mode("overwrite").partitionBy("alias", "year").json(out)
    val issues = RebuildJob.readIssues(spark, out)
    val selected = graft.cli.RebuilderCli.selectBatches(issues,
      Seq(graft.cli.RebuilderCli.Batch("A1", 1890, 1910)))
    val p = plan(selected)
    // the batch predicate must reach the scan as PartitionFilters —
    // directory-level pruning, zero data read outside the batch — not a
    // post-scan Filter over the whole corpus
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*alias[^\\]]*\\].*"),
      p.take(2000))
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*year[^\\]]*\\].*"),
      p.take(2000))
    assert(selected.count() == 1)
  }

  test("filters are pushed down to the parquet scans") {
    val p = plan(SparkEntry.queries("f2_date_range")(spark, sf))
    assert(p.contains("PushedFilters: ["), p.take(1500))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThan.*") ||
      p.matches("(?s).*PushedFilters: \\[[^\\]]*IsNotNull.*"))
  }

  test("dimension joins broadcast") {
    val p = plan(SparkEntry.queries("j6_broadcast_dim")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("aggregations run partial then final (map-side combine)") {
    val p = plan(SparkEntry.queries("a1_yearly_stats")(spark, sf))
    assert(count(p, "HashAggregate") >= 2, "no partial aggregation")
    assert(p.contains("Exchange hashpartitioning"))
  }

  test("stratified sample is a pure narrow filter — no shuffle, no window") {
    val p = plan(graft.operators.Curation.stratifiedSample(
      graft.util.Tables.documents(spark, sf), "doc_id", "lang",
      Map("en" -> 0.5), 0.1, "42"))
    assert(!p.contains("Exchange"), "sampling must not shuffle\n" + p.take(2000))
    assert(!p.contains("Window"))
    assert(count(p, "FileScan parquet") == 1)
  }

  test("shuffle-shard plan: exactly one exchange (by shard), in-shard sort") {
    val p = plan(graft.operators.Curation.shuffleShards(
      graft.util.Tables.documents(spark, sf), "doc_id", 8, "42"))
    assert(count(p, "Exchange hashpartitioning") == 1,
      "sharding is one hash shuffle\n" + p.take(2000))
    assert(p.contains("Window"), "in-shard rank missing")
    assert(count(p, "FileScan parquet") == 1)
  }

  test("sequence packing stays a single exchange: bin window rides the shard partitioning") {
    val p = plan(graft.operators.Curation.packSequences(
      graft.util.Tables.documents(spark, sf), "doc_id", "text", 8, 2048L, "42"))
    // hashpartitioning(shard) satisfies the (shard, bin) window's
    // clustered distribution (subset rule) — a second exchange here
    // would mean the in-bin rank re-shuffles the whole corpus
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(2000))
    assert(count(p, "FileScan parquet") == 1)
  }

  test("packed payloads keep the pack window's single exchange through the bin agg") {
    val p = plan(graft.operators.Curation.packedPayloads(
      graft.util.Tables.documents(spark, sf), "doc_id", "text", 8, 2048L, "42"))
    // the (shard, bin) aggregation is superset-clustered by the window's
    // hashpartitioning(shard) — a second exchange would re-shuffle every
    // payload byte a second time
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(2000))
    assert(count(p, "FileScan parquet") == 1)
  }

  test("next-fit pack payloads (l5/l6): the shard exchange is the only one") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.documents(spark, sf).select(
      col("doc_id"), (col("doc_id") % 8).as("shard"),
      graft.functions.TextAnalysis.tokenCount(col("text"))
        .cast("long").as("len"), col("text"))
    val p = plan(graft.operators.Layout.packPayloads(
      docs, "doc_id", "len", "text", "shard", 2048L))
    // the fold emits completed packs in-stream: no group-by, no
    // window — a second exchange would mean payload bytes crossed
    // the network twice
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(2000))
    assert(!p.contains("Window") && count(p, "HashAggregate") == 0,
      "the fold must not be planned as a grouped aggregation\n" +
        p.take(2000))
  }

  test("heavy-hitter fold (e15): sketch sides ride broadcast, no cartesian") {
    import org.apache.spark.sql.functions.{col, dayofmonth}
    val ev = graft.util.Tables.events(spark, sf).select(
      dayofmonth(col("ts")).cast("long").as("batch"), col("user_id"))
    val p = plan(graft.streaming.HeavyHitterStream.heavyHittersBatch(
      ev, "user_id", "batch", d = 4, w = 256, thetaPermille = 8,
      seed = "e15"))
    // cumulative cell counts (≤ d·w·B rows) and per-epoch totals
    // (B rows) are sketch-sized — both join back broadcast; the only
    // corpus-sized exchanges are the increment partial-agg and the
    // candidate distinct
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("wordpiece encode (b10): occurrence-local, one fan-out exchange") {
    val docs = graft.util.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val p = plan(graft.operators.Bpe.wordpieceEncode(docs, "text",
      Seq("a", "##b", "ab")))
    // the encode itself is row-local; the ONLY exchange allowed is the
    // deterministic fan-out repartition (guide §2.5 unsplittable-input
    // remedy) that spreads a single-row-group scan before the per-row
    // native encode — never a key shuffle, join, or sort
    assert(count(p, "Exchange") == 1 && p.contains("REPARTITION_BY_NUM"),
      "exactly one fan-out exchange; the vocabulary rides as a literal\n" +
        p.take(1500))
    assert(!p.contains("Join") && !p.contains("Sort"), p.take(1500))
  }

  test("decontamination joins broadcast eval-side md5 keys, scans each corpus once") {
    val docs = graft.util.Tables.documents(spark, sf)
    val p = plan(graft.operators.Curation.contamination(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
      "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert(count(p, "FileScan parquet") == 2,
      "train + eval = two scans, no join-back")
  }

  test("top-ngrams plan: partial agg + TakeOrdered, never a global sort") {
    val p = plan(graft.operators.Curation.topNgrams(
      graft.util.Tables.documents(spark, sf), "text", 2, 50))
    assert(p.contains("TakeOrderedAndProject"),
      "top-N cut must be TakeOrdered\n" + p.take(2000))
    assert(count(p, "HashAggregate") >= 2, "no partial aggregation")
  }

  test("salted join spreads a hot key and preserves join multiplicity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one hot key (90% of rows) + a tail
    val big = ((1 to 900).map(i => (1L, i)) ++
      (1 to 100).map(i => (i.toLong + 1, i))).toDF("k", "payload")
    val small = (1L to 101L).map(k => (k, s"dim$k")).toDF("sk", "name")
    val joined = graft.operators.Skew.saltedJoin(
      big, small, "k", "sk", struct(col("k"), col("payload")), 8)
    // semantics: exactly the plain join
    assert(joined.count() ==
      big.join(small, col("k") === col("sk")).count())
    // the hot key's rows really occupy multiple salt partitions
    val salts = big.withColumn("__salt",
        pmod(hash(struct(col("k"), col("payload"))), lit(8)))
      .filter(col("k") === 1L).select("__salt").distinct().count()
    assert(salts > 4, s"hot key used only $salts of 8 salts")
    // and the physical join key includes the salt
    val p = plan(joined)
    assert(p.contains("__salt"), p.take(1500))
  }

  test("chooseSalts reads the key histogram: skewed salts, uniform doesn't") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val skewed = ((1 to 9000).map(i => (1L, i)) ++
      (1 to 1000).map(i => (i.toLong + 1, i))).toDF("k", "payload")
    val uniform = (1 to 10000).map(i => (i.toLong, i)).toDF("k", "payload")
    val dim = (1L to 1001L).map(k => (k, s"dim$k")).toDF("sk", "name")
    // hot key ≈ 9000 rows, target 1000/task → ~9 salts (sampling noise
    // allowed; must be clearly split and clearly bounded)
    val n = graft.operators.Skew.chooseSalts(skewed, "k",
      targetRowsPerTask = 1000L, sampleFraction = 0.2)
    assert(n >= 4 && n <= 16, s"skewed frame sized nSalts=$n")
    assert(graft.operators.Skew.chooseSalts(uniform, "k",
      targetRowsPerTask = 1000L, sampleFraction = 0.2) == 1,
      "uniform keys must not salt")
    // auto path: same multiplicity as the plain join on both shapes
    val plain = skewed.join(dim, col("k") === col("sk")).count()
    val auto = graft.operators.Skew.autoSaltedJoin(skewed, dim, "k", "sk",
      struct(col("k"), col("payload")),
      targetRowsPerTask = 1000L, sampleFraction = 0.2)
    assert(auto.count() == plain)
    assert(plan(auto).contains("__salt"), "skewed auto path must salt")
    val autoUniform = graft.operators.Skew.autoSaltedJoin(uniform, dim,
      "k", "sk", struct(col("k"), col("payload")),
      targetRowsPerTask = 1000L, sampleFraction = 0.2)
    assert(!plan(autoUniform).contains("__salt"),
      "uniform auto path must stay a plain join")
  }

  test("kmeans round: one corpus scan, broadcast-literal assignment, partial agg") {
    val p = plan(graft.operators.Similarity.kmeansSums(
      graft.util.Tables.embeddings(spark, sf), "vec_id", "embedding",
      k = 4, iters = 1))
    // assignment is a map over centroid LITERALS — no join, no shuffle
    // before the (cell, dim) aggregation, which must map-side combine
    assert(count(p, "FileScan parquet") == 1, p.take(2000))
    assert(!p.contains("Join"), "assignment must not join")
    assert(count(p, "HashAggregate") >= 2, "no partial aggregation")
    assert(count(p, "Exchange hashpartitioning") == 1,
      "one shuffle per round, keyed by (cell, dim)")
  }

  test("ivf-pq search: corpus index never shuffles to find candidates") {
    import org.apache.spark.sql.functions.col
    val e = graft.util.Tables.embeddings(spark, sf)
    val centroids = e.select(col("vec_id").cast("long").as("id"),
      col("embedding").as("v")).orderBy(col("id")).limit(4)
      .collect().map(_.getSeq[Float](1).toArray)
    val (index, cb) = graft.operators.Similarity.ivfPqIndexFirst(
      e, "vec_id", "embedding", centroids, m = 8, ksub = 4)
    val p = plan(graft.operators.Similarity.ivfPqSearch(
      e.filter(col("vec_id") < 4), index, "vec_id", "embedding",
      k = 5, centroids, cb, nprobe = 2))
    // the probe side (nq·nprobe rows) broadcasts against the index
    // scan — a sort-merge join would shuffle the whole index per query
    // batch; the only exchange is the top-k merge's O(k)-state heaps
    assert(!p.contains("Window"), "window in top-k path")
    assert(p.contains("bounded_topk"), "bounded_topk aggregate missing")
    assert(!p.contains("SortMergeJoin"), "index must not shuffle:\n" + p.take(2000))
    assert(count(p, "Exchange hashpartitioning") <= 1,
      "only the top-k merge may shuffle")
  }

  test("range join: bucketization turns the nested-loop into an equi-join") {
    import org.apache.spark.sql.functions.col
    val l = graft.util.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val p = graft.util.Tables.part(spark, sf).select(col("p_partkey"),
      (col("p_retailprice") * 0.99).as("lo"),
      (col("p_retailprice") * 1.01).as("hi"))
    // the naive theta-join is the quadratic cliff this operator removes
    val naive = plan(l.join(p,
      col("l_extendedprice") >= col("lo") &&
        col("l_extendedprice") <= col("hi")))
    assert(naive.contains("NestedLoop"),
      "baseline assumption: Spark plans BETWEEN joins as nested loops")
    val bucketized = plan(graft.operators.RangeJoin.bucketized(
      l, "l_extendedprice", p, "lo", "hi", width = 20.0))
    assert(!bucketized.contains("NestedLoop") &&
      !bucketized.contains("CartesianProduct"),
      "bucketized range join must be an equi-join:\n" +
        bucketized.take(2000))
  }

  test("similarity top-k: bounded-heap aggregate, no per-query window") {
    // A row_number window over q_id funnels every scored candidate of a
    // query into ONE reducer partition — corpus-sized sort per query at
    // 10^9 rows. The bounded_topk aggregate keeps O(k) state per query
    // at every stage: partial heaps map-side, k-entry merge reduce-side.
    for (name <- Seq("s1_knn_bruteforce", "s2_ann_signlsh", "s3_ann_ivf")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("Window"), s"$name: window in top-k path\n" + p.take(2000))
      assert(p.contains("bounded_topk"), s"$name: bounded_topk aggregate missing")
      assert(count(p, "ObjectHashAggregate") >= 2,
        s"$name: top-k aggregate is not partial/final")
    }
  }

  test("PII redaction is a pure narrow map — no shuffle, single scan") {
    val p = plan(graft.operators.Curation.redactPii(
      graft.util.Tables.documents(spark, sf), "text"))
    assert(!p.contains("Exchange"), "redaction must not shuffle\n" + p.take(2000))
    assert(count(p, "FileScan parquet") == 1)
    // codegen'd regexp expressions, not an opaque UDF boundary
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("quota cap: one stratum exchange, output-bounded window cut") {
    val p = plan(graft.operators.Curation.quotaCap(
      graft.util.Tables.documents(spark, sf), "doc_id", "source",
      graft.functions.TextAnalysis.qualityScore(
        org.apache.spark.sql.functions.col("text")), 20))
    assert(count(p, "Exchange hashpartitioning") == 1,
      "quota cap is one shuffle on the stratum\n" + p.take(2000))
    assert(p.contains("Window"), "rank window missing")
    assert(count(p, "FileScan parquet") == 1)
  }

  test("boilerplate removal: hashed line keys, broadcast anti-join") {
    val df = graft.operators.Curation.boilerplateLines(
      graft.util.Tables.documents(spark, sf), "doc_id", "text")
    val p = plan(df)
    // the boilerplate set (lines in >=minDocs docs) is tiny by
    // construction — it must broadcast, never shuffle the corpus side
    // of the anti-join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "anti-join must broadcast the boilerplate set\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // join and distinct-count keys are the 8-byte xxhash64, not lines
    assert(p.contains("xxhash64"), "line keys must be hashed")
  }

  test("token entropy: both groupBys partial-aggregate") {
    val p = plan(graft.operators.Curation.tokenEntropy(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // (id, tok) count then id rollup — each HashAggregate appears as
    // partial + final, so token strings combine map-side before the
    // only wide stages
    assert(count(p, "HashAggregate") >= 4,
      "expected partial+final pairs for both groupBys\n" + p.take(2000))
    assert(count(p, "FileScan parquet") == 1)
  }

  test("cube (a12): grouping-set Expand collapses map-side, one exchange") {
    val p = plan(SparkEntry.queries("a12_cube_stats")(spark, sf))
    assert(p.contains("Expand"), "grouping-set expansion missing")
    // Expand multiplies rows ×4 BEFORE the partial aggregate, so the
    // wire carries one collapsed row per (group, lattice-cell) — the
    // sort's range exchange is the only other shuffle
    assert(count(p, "Exchange hashpartitioning") == 1,
      "cube must aggregate through a single hash exchange\n" + p.take(2000))
    assert(count(p, "HashAggregate") >= 2, "partial+final pair missing")
  }

  test("readability (t11) is a pure narrow map of native scans") {
    val p = plan(SparkEntry.queries("t11_readability")(spark, sf))
    // the orderBy adds its range exchange; nothing else may shuffle
    assert(count(p, "Exchange") <= 1, "t11 must not shuffle\n" + p.take(2000))
    assert(count(p, "FileScan parquet") == 1)
    assert(p.contains("vowel_run_count") && p.contains("sentence_run_count"),
      "native run-count scans missing from the plan")
    assert(!p.contains("RegExpExtractAll"),
      "t11 hot path must not evaluate java.util.regex")
  }

  test("ngram repetition (x10): one scan, hashed gram keys, no join") {
    val p = plan(graft.operators.Curation.ngramRepetitionStats(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // single-pass shape: both gram sizes ride one explode, one
    // (id, k, hash, len) count and one per-doc rollup — each
    // partial+final — and gram STRINGS never reach a shuffle
    assert(count(p, "HashAggregate") >= 4,
      "expected partial+final pairs for both groupBys\n" + p.take(2000))
    assert(count(p, "FileScan parquet") == 1,
      "both gram sizes must share one corpus scan")
    assert(!p.contains("Join"), "single-pass form joins nothing")
    assert(p.contains("xxhash64"), "gram shuffle keys must be hashed")
  }

  test("quality filter (x11): one narrow branch + one shared aggregate branch") {
    val p = plan(graft.operators.Curation.qualityFilter(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // entropy and dup-frac share the tokenEntropy branch: exactly two
    // corpus scans total, one id-keyed join, no regex in the hot path
    assert(count(p, "FileScan parquet") <= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("RegExpExtractAll"),
      "x11 signals must come from native scans")
  }

  test("winnow fingerprints (d12) stay narrow until the bucket groupBy") {
    val fp = graft.operators.Dedup.winnowedFingerprints(
      graft.util.Tables.documents(spark, sf), "doc_id", "text")
    val pf = plan(fp)
    assert(!pf.contains("Exchange"),
      "fingerprint construction must be scan → project → generate\n" +
        pf.take(2000))
    assert(pf.contains("winnow_fingerprints"), "native winnow missing")
    val pp = plan(graft.operators.Dedup.winnowedDupPairs(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    assert(!pp.contains("CartesianProduct"),
      "pair expansion must stay bucket-keyed, never all-pairs")
    // the bucket-size pass must be the codegen'd count aggregate
    // (partial+final), NOT an object-aggregate id collector — the
    // collect_list may only run on the semi-joined active buckets
    assert(count(pp, "HashAggregate") >= 4,
      "bucket counting must partial-combine\n" + pp.take(2000))
    assert(count(pp, "ObjectHashAggregate") <= 2,
      "only the post-filter bucket collect may be an object aggregate")
  }

  test("char-LM scoring (t12): broadcast model, partial-agg everywhere") {
    val p = plan(graft.operators.Curation.charLmScore(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // model pass + scoring pass: exactly two corpus scans, the ln-P
    // model rides back as a broadcast (never a shuffled join against
    // the exploded bigram stream), and every groupBy partial-combines
    assert(count(p, "FileScan parquet") == 2, p.take(2000))
    assert(p.contains("BroadcastHashJoin"), "model join must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the exploded bigram stream must never shuffle for the model join")
    assert(!p.contains("CartesianProduct"))
    // N/V ride a single-partition window over the collapsed model
    // (≤ charset² rows) instead of an .agg branch that would re-scan
    // the corpus a third time
    assert(p.contains("Exchange SinglePartition"),
      "model totals must come from the in-plan window\n" + p.take(2000))
    assert(count(p, "HashAggregate") >= 4,
      "model count and per-doc score must each partial+final\n" +
        p.take(2000))
  }

  test("semantic dedup (d15): cell-keyed comparison, never all-pairs") {
    val e = graft.util.Tables.embeddings(spark, sf)
    val centroids = e.selectExpr("embedding").limit(16)
      .collect().map(_.getSeq[Float](0).toArray)
    val p = plan(graft.operators.Dedup.semDedup(
      e, "vec_id", "embedding", centroids, 0.35))
    assert(!p.contains("CartesianProduct"),
      "intra-cell pruning must join on cell, not expand all pairs\n" +
        p.take(2000))
    assert(p.contains("dotf("),
      "cosine must be the native fused dot product")
    // assignment recomputed per branch (documented trade): three scans
    // max — a/b sides of the semi-join plus the keep-flag spine
    assert(count(p, "FileScan parquet") <= 3, p.take(2000))
  }

  test("mixture sample (x14): broadcast rates, no epoch-side shuffle") {
    val p = plan(graft.operators.Curation.mixtureSample(
      graft.util.Tables.documents(spark, sf), "doc_id", "source",
      "text"))
    // the |strata|-row rate frame broadcasts; the epoch itself is a
    // scan + filter — the only hash exchanges live inside
    // mixtureWeights' bounded per-stratum aggregation
    assert(p.contains("BroadcastHashJoin"), "rates must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("incremental semantic dedup (d16): cell-keyed anti-join, no all-pairs") {
    val e = graft.util.Tables.embeddings(spark, sf)
    val centroids = e.selectExpr("embedding").limit(16)
      .collect().map(_.getSeq[Float](0).toArray)
    val p = plan(graft.operators.Dedup.incrementalSemDedup(
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 5 === 0),
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", centroids, 0.35))
    assert(!p.contains("CartesianProduct"),
      "lake comparison must join on cell, not expand all pairs\n" +
        p.take(2000))
    assert(p.contains("LeftAnti"), "survivors come from an anti-join")
    assert(p.contains("dotf("), "cosine must be the native fused dot")
  }

  test("pagerank (g1): rounds are materialized, never re-executed lineage") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val p2 = plan(graft.operators.Graph.pageRank(e, "src", "dst", 2))
    // each round ends in Iter.materialize: the returned frame hangs off
    // a checkpoint scan — NOT a plan tree that re-executes round k-1
    // once per reference (the d7 lineage lesson); a re-executing loop
    // would show the join/aggregate pipeline of every round here
    assert(p2.contains("ExistingRDD"),
      "rounds must be materialized\n" + p2.take(2000))
    assert(!p2.contains("SortMergeJoin") && !p2.contains("HashAggregate"),
      "final frame must be the materialized vector, not live lineage\n" +
        p2.take(2000))
  }

  test("pagerank rounds: clustered edge checkpoint never re-shuffles, only ranks move") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, sum, coalesce}
    val e = Seq.tabulate(200)(i => (i.toLong % 23, (i.toLong * 7) % 23))
      .toDF("src", "dst")
    val ctx = graft.operators.Graph.prepare(e, "src", "dst")
    val r1 = graft.operators.Graph.round(ctx,
      ctx.nodes.select(col("node"), lit(1.0 / ctx.n).as("rank")),
      0.85, redistributeDangling = false)
    // the steady-state (round-2+) plan, pre-AQE: the edge and node
    // checkpoints DECLARE their hash clustering
    // (materialize with clusterBy), so EnsureRequirements plans NO
    // exchange and NO sort over either ExistingRDD scan — per round
    // only the V-row rank vector exchanges (once into the edge join,
    // once as the dst-keyed partial agg); the E-row edge table never
    // moves again
    val inbound = ctx.contrib.join(r1, col("src") === col("node"))
      .groupBy(col("dst")).agg(sum(col("rank") / col("deg")).as("inb"))
    val round2 = ctx.nodes.join(inbound, col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(0.15 / ctx.n) + lit(0.85) * coalesce(col("inb"), lit(0.0)))
          .as("rank"))
    val p = plan(round2)
    // The invariant is about the EDGE side: the E-row contrib
    // checkpoint is scanned in place — never hash-exchanged, never
    // re-sorted. How the V-row rank vector moves is size-adaptive now
    // that checkpoints carry MEASURED stats (Iter.materialize): a
    // small vector broadcasts into the edge join (1 hash exchange per
    // round, the dst partial agg), a large one falls back to the
    // co-partitioned 2-exchange shape. Both are rank-only movement.
    val exchanges = count(p, "Exchange hashpartitioning")
    assert(exchanges >= 1 && exchanges <= 2,
      s"steady-state round must move only the rank vector (1-2 rank " +
        s"exchanges), got $exchanges:\n$p")
    assert(!p.contains("Exchange hashpartitioning(src#"),
      s"the edge table must never re-shuffle:\n$p")
    assert(!p.contains("Sort [src#"),
      s"edge side must read pre-sorted, no per-round re-sort:\n$p")
  }

  test("leak-safe split (x12): pure hash map over a broadcast cluster join") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("member_id", "cluster_id")
    val p = plan(graft.operators.Curation.leakSafeSplit(
      graft.util.Tables.documents(spark, sf), "doc_id", clusters))
    // the split itself adds NOTHING to the cluster join: one corpus
    // scan, a broadcast left join, then a narrow md5 projection
    assert(count(p, "FileScan parquet") == 1)
    assert(p.contains("BroadcastHashJoin"), "cluster join must broadcast")
    // the cluster table's BroadcastExchange is the only exchange —
    // the split itself never hash- or range-partitions anything
    assert(count(p, "Exchange hashpartitioning") == 0 &&
      count(p, "Exchange rangepartitioning") == 0,
      "split assignment must not shuffle\n" + p.take(2000))
  }

  test("BPE encode (b2): occurrence-local fold, one fan-out exchange") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val p = plan(graft.operators.Bpe.bpeEncode(
      graft.util.Tables.documents(spark, sf).select("doc_id", "text"),
      "text", merges))
    // the full-corpus tokenization pass is one scan + one narrow
    // projection; the ONLY exchange allowed is the deterministic
    // fan-out repartition (guide §2.5) spreading a single-row-group
    // scan before the per-row fold — no key shuffle, join or generate
    assert(count(p, "FileScan parquet") == 1)
    assert(count(p, "Exchange") == 1 && p.contains("REPARTITION_BY_NUM"),
      "exactly one fan-out exchange\n" + p.take(2000))
    assert(!p.contains("Join") && !p.contains("Generate"), p.take(2000))
  }

  test("dup n-gram fraction (x17): hashed gram keys, partial aggs, no cartesian") {
    val p = plan(graft.operators.Curation.dupNgramFraction(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // every shuffle is keyed (gram hash or doc id) and every agg
    // partial-combines; the gram strings themselves never shuffle
    // (the explode feeds straight into the hash) and nothing is a
    // nested-loop product
    assert(count(p, "HashAggregate") >= 6, p.take(2000)) // 3 partial pairs
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Generate"), "the gram explode is the one wide op")
  }

  test("strip dup spans (x18): hashed/keyed shuffles only, no cartesian") {
    val p = plan(graft.operators.Curation.stripDupSpans(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // token-bound explodes only: gram starts (appearing twice — the
    // subtree feeds both the dup-key agg and the covered probe, and
    // recomputing a scan-bound explode beats materializing it through
    // a shuffle), covered expansion, token positions. Every join is
    // hashed on (doc, pos) or the 8-byte gram key, never a
    // nested-loop product.
    assert(count(p, "Generate") == 4, p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("LeftAnti"), "survivor selection is an anti join")
  }

  test("robust outliers (a13): stats dims broadcast back, no event re-shuffle") {
    val p = plan(graft.SparkEntry.queries("a13_robust_outliers")(
      spark, sf))
    // the median and MAD frames are tiny per-type dims — they must
    // come back as broadcasts, never as a shuffled join of the events
    // (3: the med-join subtree feeds both the MAD agg and the final
    // agg and recomputes per consumer, + the mad join itself)
    assert(count(p, "BroadcastHashJoin") == 3, p.take(2000))
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
  }

  test("containment pairs (d19): posting join on 8-byte keys, no cartesian") {
    val p = plan(graft.operators.Dedup.containmentPairs(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // prefix-probe ⋈ capped postings ⋈ verify joins — every one a
    // hash join on the gram hash or the doc id, never a product; the
    // shingle arrays only travel on the two verify joins
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("LeftSemi") || p.contains("Join"), p.take(500))
    assert(count(p, "HashAggregate") >= 2,
      "the posting cap partial-aggregates before the probe")
    // the dense path's set-collapse is in the plan: a collect_list
    // aggregate (bounded by the posting cap) feeding a second
    // aggregation keyed by the list, then pair Generates — never a
    // per-bucket join re-expansion
    assert(p.contains("collect_list"), "dense buckets collapse by posting set")
    assert(count(p, "Generate") >= 2, "multiplicity pairs explode from sets")
  }

  test("exact substring spans (d20): group-count + semi-join, no pair stage") {
    val p = plan(graft.operators.Dedup.exactDupSpans(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // the plan's only corpus-wide shuffles are the hash count and the
    // per-document window — a hash occurring a million times is ONE
    // count row, never a self-join expansion
    assert(p.contains("LeftSemi"),
      "duplicated positions come from a semi-join, not an inner join\n" +
        p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the position explode appears once per branch (count + probe) —
    // a narrow scan→project→generate recompute, cheaper at scale than
    // materializing ~20 B/char; both branches end in the SAME h-keyed
    // exchange, the shape AQE exchange-reuse collapses
    assert(count(p, "Generate") <= 2, p.take(2000))
    assert(p.contains("Window"), "run-merge rides a per-document window")
    assert(p.contains("gram_hashes"),
      "positions hash through the native expression")
  }

  test("unigram encode (b6): one native call per document, one fan-out exchange") {
    import spark.implicits._
    val docs = Seq((1L, "low lower lowest")).toDF("doc_id", "text")
    val vocab = Seq("l" -> -1.0, "o" -> -1.0, "w" -> -1.0, "e" -> -1.5,
      "r" -> -1.5, "s" -> -2.0, "t" -> -2.0, "low" -> -0.5)
    val p = plan(graft.operators.Bpe.unigramEncode(
      graft.util.Tables.documents(spark, sf), "text", vocab))
    assert(p.contains("unigram_encode"), "the native expression runs")
    // the encode is a narrow map; the ONLY exchange allowed is the
    // deterministic fan-out repartition (guide §2.5) before the
    // per-document Viterbi DP — never a key shuffle or join
    assert(count(p, "Exchange") == 1 && p.contains("REPARTITION_BY_NUM"),
      "exactly one fan-out exchange\n" + p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
  }

  test("KN bigram score (t13): token-bound aggs, keyed joins, no cartesian") {
    val p = plan(graft.operators.Curation.knBigramScore(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    // per-doc bigram counts partial-aggregate at the explode, the
    // model is three more partial-agged groupBys, |bigrams| is the
    // broadcast 1-row Σ nfwd over the vocabulary-bounded ctx frame —
    // NEVER a single-partition window over the corpus-sized model
    assert(count(p, "HashAggregate") >= 6, p.take(2000))
    assert(!p.contains("Window"),
      "|bigrams| must not move the model through one partition")
    assert(p.contains("BroadcastExchange"),
      "the 1-row total broadcasts")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("KN perplexity gate (e11): one native projection, zero shuffles") {
    val model = graft.operators.Curation.KnGateModel(
      Map("a b" -> -1.0), -5.0, 0.75)
    val p = plan(graft.streaming.IngestGate.knGate(
      graft.util.Tables.documents(spark, sf), model, "text", 3410000L))
    assert(p.contains("kn_score"),
      "scoring runs through the native hash-lookup expression")
    assert(!p.contains("Exchange"),
      "the gate is a stateless narrow filter — nothing shuffles\n" +
        p.take(1500))
  }

  test("keep-first spans (x24): keeper via aggregate, only the run-merge windows") {
    val p = plan(graft.operators.Dedup.exactDupSpansKeepFirst(
      graft.util.Tables.documents(spark, sf), "doc_id", "text"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the canonical occurrence comes from a partial-combining
    // min(struct) AGGREGATE — a per-hash window sort would move every
    // occurrence of a hot hash through one task's sort. The only two
    // Window nodes are the per-document run-merge's lag + cumsum.
    assert(count(p, "Window ") == 2,
      "only the per-document run-merge may window\n" + p.take(2000))
    assert(!p.contains("windowspecdefinition(h#"),
      "no window may partition by the gram hash\n" + p.take(2000))
    assert(p.contains("gram_hashes"),
      "positions hash through the native expression")
  }

  test("phash exact gate: native hash-index lookup, stream side never shuffles") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    // parquet-backed sides so the optimizer cannot constant-fold the
    // whole stream into a LocalTableScan
    val fps = graft.util.Tables.documents(spark, sf)
      .select(xxhash64(col("doc_id")).as("phash"))
    val lake = fps.filter(col("phash") % 5 =!= 0)
    val stream = fps.filter(col("phash") % 5 === 0)
    val p = plan(graft.streaming.IngestGate.phashGateExact(stream, lake))
    assert(p.contains("phash_near_dup"),
      "membership runs through the native hash-index expression")
    assert(!p.contains("Exchange"),
      "the gate is a stateless narrow filter\n" + p.take(1500))
  }

  test("embed gate (e12): one native projection, stream side never shuffles") {
    val e = graft.util.Tables.embeddings(spark, sf)
    val p = plan(graft.streaming.IngestGate.embedGate(
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 5 === 0),
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 5 =!= 0),
      "embedding", 0.35))
    assert(p.contains("embed_near_dup"),
      "membership runs through the native banded-cosine expression")
    assert(!p.contains("Exchange"),
      "the gate is a stateless narrow filter\n" + p.take(1500))
  }

  test("triangle count (g3/g4): keyed joins only, keeper/orientation via aggregates") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val e = graft.util.Tables.orders(spark, sf)
      .select(xxhash64(col("o_orderkey")).as("src"),
        xxhash64(col("o_custkey")).as("dst"))
    val p = plan(graft.operators.Graph.triangleCount(e, "src", "dst"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"),
      "orientation and counting are aggregates, never windows\n" +
        p.take(2000))
    val pa = plan(graft.operators.Graph.triangleCountApprox(
      e, "src", "dst", 0.5))
    assert(!pa.contains("CartesianProduct") &&
      !pa.contains("BroadcastNestedLoopJoin"), pa.take(2000))
  }

  test("triangle estimate (g4): the upstream edge derivation executes exactly once") {
    // triangleCountApprox's sampled frame feeds BOTH the internal
    // exact count and the sampled_edges count — without the single
    // materialization, whatever join produced the edges upstream
    // (g4's lineitem self-join) re-executes per consumer. The probe:
    // an accumulator-bumping identity mapPartitions on the edge
    // frame counts upstream executions in TASKS; the full approx run
    // must cost exactly one scan's worth.
    import org.apache.spark.sql.functions.{col, xxhash64}
    val acc = spark.sparkContext.longAccumulator("g4-edge-scans")
    import spark.implicits._
    val base = graft.util.Tables.orders(spark, sf)
      .select(xxhash64(col("o_orderkey")).as("src"),
        xxhash64(col("o_custkey")).as("dst"))
      .as[(Long, Long)]
      .mapPartitions { it => acc.add(1); it }
      .toDF("src", "dst")
    base.count()
    val perScan = acc.value
    acc.reset()
    graft.operators.Graph.triangleCountApprox(base, "src", "dst", 0.5)
      .collect()
    assert(acc.value == perScan,
      s"edge derivation ran ${acc.value}/$perScan task-scans — " +
        "the sampled frame is being re-derived per consumer")
  }

  test("language gate (e13): one narrow filter, zero shuffles") {
    val p = plan(graft.streaming.IngestGate.langGate(
      graft.util.Tables.documents(spark, sf), Set("en"), "text"))
    assert(!p.contains("Exchange"),
      "the gate is a stateless narrow filter\n" + p.take(1500))
  }

  test("gap fill (w10): events compact to buckets before the grid, window after compaction") {
    val p = plan(graft.operators.EventOps.resampleFill(
      graft.util.Tables.events(spark, sf)))
    // the (user,bucket) agg partial-combines raw events BEFORE the
    // grid explode and the forward-fill window, so the window's
    // partition size is bucket-span-bounded, never event-bounded
    assert(count(p, "HashAggregate") >= 4, p.take(2000))
    assert(p.contains("Window"), "forward fill is one ordered pass")
    assert(count(p, "Generate") == 1, "the grid explode is the only one")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("lerp resample (w11): both carries share one sort, no cartesian") {
    val p = plan(graft.operators.EventOps.resampleInterp(
      graft.util.Tables.events(spark, sf)))
    // forward and backward carries are Window passes over the SAME
    // (user, bucket) ordering — they must not introduce a second
    // sort-exchange of the grid
    assert(p.contains("Window"), p.take(2000))
    assert(count(p, "Sort") <= 3, "one grid sort + the window ordering")
    assert(count(p, "Generate") == 1, "the grid explode is the only one")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("PCA moment pass (s10/s11): one partial-aggregated exchange, no explode") {
    import org.apache.spark.sql.GraftColumns
    import org.apache.spark.sql.functions.col
    val e = graft.util.Tables.embeddings(spark, sf)
    val p = plan(e.select(GraftColumns.column(
      graft.functions.GramSum(
        GraftColumns.expression(col("embedding")), 64)
        .toAggregateExpression()).as("g")))
    // partial buffers fold map-side (ObjectHashAggregate pair), the
    // shuffle carries one dim²+dim+1 buffer per task — and the dim²
    // row explosion GramSum exists to avoid must be absent
    assert(count(p, "Exchange") == 1, p.take(2000))
    assert(count(p, "ObjectHashAggregate") == 2 ||
      count(p, "SortAggregate") == 2, p.take(2000))
    assert(!p.contains("Generate"), "moment pass must not explode\n" +
      p.take(2000))
    assert(count(p, "FileScan parquet") == 1)
  }
}

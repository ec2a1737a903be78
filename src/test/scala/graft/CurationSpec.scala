package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup}
import graft.util.Tables

class CurationSpec extends AnyFunSuite {
  import SparkTestSession._

  // ---- duplicate-cluster resolution (connected components) ----

  test("dupClusters merges transitive chains into one component") {
    import spark.implicits._
    // chain 1-2-3 plus isolated pair 10-11: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dupClusters converges on a long chain (worst-case diameter)") {
    import spark.implicits._
    // path graph 0-1-...-9: diameter 9, forces several propagation rounds
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs, "id_a", "id_b").collect()
    assert(out.length == 10)
    assert(out.forall(_.getLong(1) == 0L))
  }

  test("dupClusters resolves an adversarial diameter-120 chain in O(log D) rounds") {
    import spark.implicits._
    // a 121-node path is the worst case for plain min-propagation
    // (120 rounds — far past the default maxIter); pointer-doubling
    // must close it within the default 20-round budget
    val pairs = (0L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs, "id_a", "id_b").collect()
    assert(out.length == 121)
    assert(out.forall(_.getLong(1) == 0L))
  }

  test("dupClusters throws instead of returning unconverged clusters") {
    import spark.implicits._
    val pairs = (0L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(pairs, "id_a", "id_b", maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dupClusters keeps only the returned frame's checkpoint") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = sc.getPersistentRDDs.keySet
    graft.util.Iter.scoped { _ =>
      val out = Dedup.dupClusters(pairs, "id_a", "id_b")
      // the edges and every superseded label vector are released; the
      // labels the result reads stay until the caller's scope exits
      assert((sc.getPersistentRDDs.keySet -- before).size == 1)
      assert(sc.getLocalProperty("spark.job.description") == null)
      assert(out.collect().forall(_.getLong(1) == 0L))
    }
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("dupClusters releases every checkpoint when it throws") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = sc.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Dedup.dupClusters(pairs, "id_a", "id_b", maxIter = 1)
    }
    assert(sc.getPersistentRDDs.keySet == before)
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("dupClusters survives on reliable checkpoints when a dir is set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      val out = Dedup.dupClusters(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // the reliable path really wrote checkpoint data
      assert(new java.io.File(dir).listFiles.nonEmpty,
        "no reliable checkpoint blocks written")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("dupClusters labels every pair member exactly once") {
    val pairs = Dedup.ngramJaccardPairs(
      graft.util.Tables.documents(spark, sf), "doc_id", "text",
      k = 3, threshold = 0.7)
    val members = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b"))).distinct().count()
    val clusters = Dedup.dupClusters(pairs, "id_a", "id_b")
    assert(clusters.count() == members)
    assert(clusters.select("member_id").distinct().count() == members)
    // every cluster id is itself a member of the cluster
    assert(clusters.filter(col("member_id") === col("cluster_id"))
      .select("cluster_id").distinct().count()
      == clusters.select("cluster_id").distinct().count())
  }

  test("clusterSurvivors keeps the longest member, counts the rest") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("member_id", "cluster_id")
    val docs = Seq(
      (1L, "short"), (2L, "the longest text here"), (3L, "mid text"),
      (10L, "aaa"), (11L, "bbb")).toDF("doc_id", "text")
    val out = Dedup.clusterSurvivors(clusters, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(1L) == ((2L, 3L)))
    // equal lengths tie-break to the smaller id
    assert(out(10L) == ((10L, 2L)))
  }

  test("incrementalNew drops batch docs whose content the corpus already has") {
    import spark.implicits._
    val corpus = Seq((1L, "known text"), (2L, "other known")).toDF("doc_id", "text")
    val batch = Seq((10L, "known text"), (11L, "genuinely new"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNew(batch, corpus, "text")
      .select("doc_id").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(11L))
  }

  test("simhash pairs find hamming-close docs via pigeonhole bands, exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // ~1 word off
      (3L, "completely different content about spark engines"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text",
      maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // pigeonhole blocking must be EXACT for the radius: brute-force
    // hamming agrees with the blocked result
    val fps = df.select(col("doc_id"),
        Dedup.simhashFromHashes(Dedup.tokenHashes60(col("text")), 60)
          .as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (a <- fps.keys; b <- fps.keys if a < b) {
      val hd = java.lang.Long.bitCount(fps(a) ^ fps(b))
      assert(pairs.contains((a, b)) == (hd <= 6),
        s"pair ($a,$b) hd=$hd blocked=${pairs.contains((a, b))}")
      if (hd <= 6) assert(pairs((a, b)) == hd)
    }
  }

  // ---- stratified sampling ----

  test("stratified sample is deterministic and rate-proportional") {
    val docs = graft.util.Tables.documents(spark, sf)
    val sample = Curation.stratifiedSample(docs, "doc_id", "lang",
      rates = Map("en" -> 0.5), defaultRate = 0.1, seed = "42")
    val a = sample.select("doc_id").collect().map(_.getLong(0)).sorted
    val b = Curation.stratifiedSample(docs, "doc_id", "lang",
      rates = Map("en" -> 0.5), defaultRate = 0.1, seed = "42")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "same seed must select the same rows")
    val total = docs.filter(col("lang") === "en").count()
    val kept = sample.filter(col("lang") === "en").count()
    // binomial(total, 0.5): allow 4 sigma
    val sigma = math.sqrt(total * 0.25)
    assert(math.abs(kept - total * 0.5) < 4 * sigma + 1,
      s"en keep rate off: $kept of $total")
    val differentSeed = Curation.stratifiedSample(docs, "doc_id", "lang",
      rates = Map("en" -> 0.5), defaultRate = 0.1, seed = "43")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(!a.sameElements(differentSeed), "a new seed must re-draw")
  }

  // ---- shuffle sharding ----

  test("shuffleShards covers every row once with dense in-shard positions") {
    val docs = graft.util.Tables.documents(spark, sf)
    val n = docs.count()
    val shards = Curation.shuffleShards(docs, "doc_id", nShards = 8,
      seed = "42").cache()
    try {
      assert(shards.count() == n)
      assert(shards.select("doc_id").distinct().count() == n)
      // positions within each shard are 1..size (dense, no gaps)
      val bad = shards.groupBy("shard")
        .agg(count(lit(1)).as("sz"), max(col("pos")).as("mx"),
          min(col("pos")).as("mn"))
        .filter(col("mx") =!= col("sz") || col("mn") =!= 1)
      assert(bad.isEmpty)
      // balanced in expectation: no shard more than 2x the mean
      val sizes = shards.groupBy("shard").count()
        .collect().map(_.getLong(1))
      assert(sizes.length == 8)
      assert(sizes.max < 2.0 * n / 8, s"skewed shards: ${sizes.toList}")
    } finally shards.unpersist()
  }

  test("shuffleShards order is a function of the seed, not the input order") {
    import spark.implicits._
    val df = Seq(3L, 1L, 2L).toDF("doc_id")
    val shuffled = Seq(2L, 3L, 1L).toDF("doc_id").repartition(3)
    val a = Curation.shuffleShards(df, "doc_id", 2, "s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    val b = Curation.shuffleShards(shuffled, "doc_id", 2, "s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(a.sameElements(b))
  }

  test("writeShards materializes the exact shuffleShards layout, re-runnable") {
    val docs = graft.util.Tables.documents(spark, sf)
      .select("doc_id", "lang")
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    Curation.writeShards(docs, "doc_id", 4, "epoch1", out)
    val written = spark.read.parquet(out)
    val expected = Curation.shuffleShards(docs, "doc_id", 4, "epoch1")
    // same (doc_id, shard, pos) assignment as the logical operator
    assert(written.select("doc_id", "shard", "pos")
      .exceptAll(expected).isEmpty)
    assert(expected.exceptAll(
      written.select("doc_id", "shard", "pos")).isEmpty)
    // payload columns ride along
    assert(written.columns.toSet ==
      Set("doc_id", "lang", "shard", "pos"))
    // overwrite is idempotent: a re-run (failure recovery) yields the
    // same row set
    Curation.writeShards(docs, "doc_id", 4, "epoch1", out)
    assert(spark.read.parquet(out).count() == docs.count())
    // a new seed is a new epoch order
    Curation.writeShards(docs, "doc_id", 4, "epoch2", out)
    val e2 = spark.read.parquet(out).select("doc_id", "shard", "pos")
    assert(!e2.exceptAll(expected).isEmpty)
  }

  // ---- sequence packing ----

  test("packedPayloads round-trips bins to concatenated shards, budget respected") {
    val docs = graft.util.Tables.documents(spark, sf)
    val budget = 2048L
    val payloads = Curation.packedPayloads(docs, "doc_id", "text",
      nShards = 4, budget = budget, seed = "42").cache()
    try {
      // bins agree exactly with the packSequences assignment
      val assigned = Curation.packSequences(docs, "doc_id", "text",
        nShards = 4, budget = budget, seed = "42")
        .groupBy("shard", "bin")
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getAs[Int]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
      val bins = payloads.collect()
      assert(bins.map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getAs[Int]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
        == assigned)
      // each payload carries exactly its members' concatenated streams:
      // boundary-split doc count and whitespace token count both match
      bins.foreach { r =>
        val payload = r.getAs[String]("payload")
        assert(payload.split("\n", -1).length == r.getAs[Int]("n_docs"))
        assert(payload.trim.split("\\s+").length.toLong
          == r.getAs[Long]("n_tokens"))
      }
      // every document lands in exactly one bin
      assert(bins.map(_.getAs[Int]("n_docs").toLong).sum == docs.count())
      // the writer materializes the identical frame
      val out = java.nio.file.Files.createTempDirectory("packed").toString
      Curation.writePackedShards(payloads, out)
      val back = spark.read.parquet(out)
      assert(back.count() == bins.length)
      assert(back.select("shard", "bin", "n_docs", "n_tokens", "payload")
        .except(payloads.toDF()).isEmpty)
    } finally payloads.unpersist()
  }

  test("packSequences fills bins to the budget with bounded overflow") {
    val docs = graft.util.Tables.documents(spark, sf)
    val budget = 2048L
    val packed = Curation.packSequences(docs, "doc_id", "text",
      nShards = 4, budget = budget, seed = "42").cache()
    try {
      assert(packed.count() == docs.count())
      val bins = packed.groupBy("shard", "bin")
        .agg(sum(col("n_tokens")).as("total"),
          max(col("n_tokens")).as("biggest"),
          max(col("pos")).as("np"), count(lit(1)).as("n"))
        .collect()
      // a bin exceeds the budget by less than its largest member
      assert(bins.forall(r =>
        r.getAs[Long]("total") < budget + r.getAs[Long]("biggest")))
      // bins are dense per shard and positions dense per bin
      assert(bins.forall(r => r.getAs[Int]("np").toLong == r.getAs[Long]("n")))
      // all but each shard's last bin reach at least the budget minus
      // the largest carried-over document
      val lastBin = bins.groupBy(_.getAs[Int]("shard"))
        .map { case (s, rs) => s -> rs.map(_.getAs[Int]("bin")).max }
      val full = bins.filter(r =>
        lastBin(r.getAs[Int]("shard")) != r.getAs[Int]("bin"))
      assert(full.forall(r => r.getAs[Long]("total") > 0))
      assert(full.nonEmpty, "expected multiple bins per shard at sf0.001+")
    } finally packed.unpersist()
  }

  // ---- decontamination ----

  test("contamination counts distinct shared shingles, only for overlapping docs") {
    import spark.implicits._
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      // shares "the quick brown" and "quick brown fox" (2 distinct 3-grams)
      (1L, "the quick brown fox"),
      // repeats a shared shingle — still counts once
      (2L, "the quick brown cat saw the quick brown fox"),
      (3L, "completely unrelated text here")).toDF("doc_id", "text")
    val out = Curation.contamination(train, eval, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2L)
    // doc 2 shares {the quick brown, quick brown fox} — the repeat of
    // "the quick brown" counts once
    assert(out(2L) == 2L)
    assert(!out.contains(3L))
  }

  test("repetitionStats flags repeated-token documents") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),     // 4 tokens, 1 distinct
      (2L, "all words are different")) // 4 tokens, 4 distinct
      .toDF("doc_id", "text")
    val out = Curation.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(out(1L) == ((4L, 1L, 0.75, 4L, 1.0)))
    assert(out(2L) == ((4L, 4L, 0.0, 1L, 0.25)))
  }

  test("mixtureWeights up-weights small strata, never samples above 1") {
    import spark.implicits._
    // stratum a: ~4x the tokens of stratum b
    val df = (1 to 40).map(i => ("a", s"tok$i w x y"))
      .++((1 to 10).map(i => ("b", s"tok$i w x y")))
      .toDF("source", "text")
    val out = Curation.mixtureWeights(df, "source", "text", alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(out("a")._2 == 160L && out("b")._2 == 40L)
    // the smallest stratum keeps rate 1.0; the big one is down-sampled
    // by sqrt(share_b/share_a) = sqrt(1/4) = 1/2
    assert(out("b")._3 == 1.0)
    assert(math.abs(out("a")._3 - 0.5) < 1e-6, out("a").toString)
  }

  test("topNgrams ranks by count with deterministic ties") {
    import spark.implicits._
    val df = Seq("a b a b", "a b c", "z z").toDF("text")
    // 2-grams: (a b):3  (b a):1  (b c):1  (z z):1
    val out = Curation.topNgrams(df, "text", k = 2, topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.head == ("a b", 3L))
    assert(out.drop(1).map(_._1).sameElements(Array("b a", "b c")))
  }

  test("clusterBalancedSample caps each cell at perCell most-central members") {
    import spark.implicits._
    // two orthogonal axes as centroids; 5 vectors near axis 0 with
    // decreasing centrality, 1 on axis 1
    val c0 = Array(1f, 0f, 0f, 0f)
    val c1 = Array(0f, 1f, 0f, 0f)
    val rows = Seq(
      (10L, Seq(1.0f, 0.0f, 0f, 0f)),   // cos 1.0 to c0
      (11L, Seq(1.0f, 0.1f, 0f, 0f)),   // slightly off-axis
      (12L, Seq(1.0f, 0.3f, 0f, 0f)),
      (13L, Seq(1.0f, 0.6f, 0f, 0f)),
      (20L, Seq(0.0f, 1.0f, 0f, 0f)))   // cell 1
    val df = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Curation.clusterBalancedSample(
      df, "vec_id", "embedding", Array(c0, c1), perCell = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    // cell 0 keeps only its 2 most central (10 then 11); 12/13 cut;
    // cell 1 keeps its single member
    assert(out == Set((0, 10L, 1), (0, 11L, 2), (1, 20L, 1)))
    // plan shape: the per-cell cut must be the bounded-heap partial
    // aggregate, never a window sort over the corpus
    val plan = graft.operators.Curation.clusterBalancedSample(
      df, "vec_id", "embedding", Array(c0, c1), perCell = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-cell cut must not be a window")
    assert(plan.contains("partial_topk") || plan.contains("topk"),
      "expected the BoundedTopK partial aggregate")
  }

  test("bm25TopK matches the hand-computed Okapi formula") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "a c"), (3L, "b b b b"))
      .toDF("doc_id", "text")
    // N=3, sum_dl=9, avgdl=3; df(a)=2, df(b)=2, zz absent (df=0);
    // idf(a)=idf(b)=ln((3-2+0.5)/(2+0.5)+1)=ln(1.6)
    val idf = math.log(1.6)
    def w(tf: Long, dl: Long): Double =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.toDouble * 3 / 9))
    val expected = Map(
      1L -> (2L, w(2, 3) + w(1, 3)), // a:2 b:1, dl 3
      2L -> (1L, w(1, 2)),           // a:1, dl 2
      3L -> (1L, w(4, 4)))           // b:4, dl 4
    val out = Curation.bm25TopK(df, "doc_id", "text",
      terms = Seq("a", "b", "zz"), topN = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_hits"), r.getAs[Double]("score"))))
    // descending score: doc1 (~1.116) > doc3 (~0.752) > doc2 (~0.544)
    assert(out.map(_._1).sameElements(Array(1L, 3L, 2L)))
    out.foreach { case (id, (hits, score)) =>
      assert(hits == expected(id)._1, s"n_hits for doc $id")
      assert(math.abs(score - expected(id)._2) < 1e-12,
        s"score for doc $id: $score vs ${expected(id)._2}")
    }
    // the topN cut keeps the highest-scoring docs only
    val top1 = Curation.bm25TopK(df, "doc_id", "text",
      terms = Seq("a", "b"), topN = 1).collect()
    assert(top1.length == 1 && top1(0).getAs[Long]("doc_id") == 1L)
  }

  test("indexed BM25 equals the direct form and prunes to the terms' buckets") {
    val docs = Tables.documents(spark, sf)
    val terms = Seq("spark", "vector", "hash")
    Curation.buildBm25Index(docs, "doc_id", "text", "bm25_idx_spec",
      nBuckets = 16)
    val indexed = Curation.bm25TopKIndexed(spark, "bm25_idx_spec",
      terms, topN = 10, scoreScale = 12)
    // result-identical to tokenizing the corpus per query
    val direct = Curation.bm25TopK(docs, "doc_id", "text", terms,
      topN = 10, scoreScale = 12)
    assert(indexed.collect().toSeq == direct.collect().toSeq)
    // the posting scan reads only the query terms' buckets — the
    // write-once/query-many economics the index exists for
    val p = indexed.queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"),
      s"no bucket pruning in the indexed scan:\n${p.take(2000)}")
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(p).get
    assert(sel.group(1).toInt <= terms.length && sel.group(2).toInt == 16,
      s"expected <=${terms.length} of 16 buckets, got ${sel.matched}")
  }

  test("bm25TopK refuses a term set past the broadcast guard") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    val tooMany = (0 to Curation.MaxBm25Terms).map(i => s"t$i")
    val e = intercept[IllegalArgumentException](
      Curation.bm25TopK(df, "doc_id", "text", tooMany, topN = 1))
    assert(e.getMessage.contains("inverted index"))
  }

  // ---- per-stratum quota cap ----

  test("quotaCap keeps top-quota per stratum, score desc with id tiebreak") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.9), (4L, "a", 0.1),
      (5L, "b", 0.2)).toDF("id", "src", "s")
    val out = Curation.quotaCap(df, "id", "src", col("s"), quota = 2)
      .select(col("src"), col("rk"), col("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // ties at 0.9 resolve to the lower id; stratum b keeps its 1 row
    assert(out.toSet == Set(("a", 1, 1L), ("a", 2, 3L), ("b", 1, 5L)))
  }

  // ---- PII redaction ----

  test("redactPii replaces every class and counts pre-redaction hits") {
    import spark.implicits._
    val df = Seq((1L,
      "mail bob.smith+x@corp.example.org web https://a.b/c?d=1 " +
        "host 192.168.0.1 tel 555-123-4567 sin 123-45-6789 end"))
      .toDF("id", "t")
    val r = Curation.redactPii(df, "t").collect()(0)
    assert(r.getAs[String]("redacted") ==
      "mail <EMAIL> web <URL> host <IP> tel <PHONE> sin <ID> end")
    assert(Seq("n_url", "n_email", "n_ipv4", "n_phone", "n_ssn")
      .map(r.getAs[Int]) == Seq(1, 1, 1, 1, 1))
  }

  test("redactPii is idempotent and respects word boundaries") {
    import spark.implicits._
    // embedded digits break \b: none of these are PII hits
    val clean = "v1234-567-89012 x10.1.1.999999 no-at-sign.example.com"
    val df = Seq((1L, clean)).toDF("id", "t")
    val r1 = Curation.redactPii(df, "t").collect()(0)
    assert(r1.getAs[Int]("n_phone") == 0 && r1.getAs[Int]("n_ssn") == 0 &&
      r1.getAs[Int]("n_email") == 0)
    assert(r1.getAs[String]("redacted") == clean)
    // a redacted text has no remaining matches in any class
    val dirty = Seq((1L, "a@b.co 1.2.3.4 555-123-4567")).toDF("id", "t")
    val once = Curation.redactPii(dirty, "t")
      .select(col("id"), col("redacted").as("t"))
    val twice = Curation.redactPii(once, "t").collect()(0)
    assert(Seq("n_url", "n_email", "n_ipv4", "n_phone", "n_ssn")
      .map(twice.getAs[Int]).sum == 0)
    assert(twice.getAs[String]("redacted") == "<EMAIL> <IP> <PHONE>")
  }

  // ---- cross-document boilerplate lines ----

  test("boilerplateLines drops only lines shared by minDocs documents") {
    import spark.implicits._
    // the shared footer is exactly one 8-token line wide
    val f8 = "generated by the crawler pipeline v two x"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta eta theta $f8"),
      (2L, s"one two three four five six seven eight $f8"),
      (3L, f8)).toDF("id", "t")
    val out = Curation.boilerplateLines(docs, "id", "t",
        lineTokens = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes("UTF-8")).map("%02x".format(_)).mkString
    // docs 1 and 2 lose the shared footer line, keep their unique line;
    // doc 3 is pure boilerplate and rebuilds to the empty string
    assert(out(1L) == ((2, 1, md5Hex("alpha beta gamma delta epsilon zeta eta theta"))))
    assert(out(2L) == ((2, 1, md5Hex("one two three four five six seven eight"))))
    assert(out(3L) == ((1, 1, emptyMd5)))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("boilerplateLines reassembles kept lines in position order") {
    import spark.implicits._
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    // doc 1: unique, shared, unique — the kept text must skip the
    // middle line but preserve first/last order
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 a6 a7 a8 $shared z1 z2 z3 z4 z5 z6 z7 z8"),
      (2L, shared)).toDF("id", "t")
    val out = Curation.boilerplateLines(docs, "id", "t", 8, 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) ==
      md5Hex("a1 a2 a3 a4 a5 a6 a7 a8 z1 z2 z3 z4 z5 z6 z7 z8"))
  }

  // ---- token entropy ----

  test("tokenEntropy: uniform text hits log2(n), constant text hits 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),   // 8 distinct → H = 3 exactly
      (2L, "x x x x"),           // constant → H = 0
      (3L, "a a b b")            // 2 types even split → H = 1
    ).toDF("id", "t")
    val out = Curation.tokenEntropy(docs, "id", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((8, 8L, 3000000L)))
    assert(out(2L) == ((1, 4L, 0L)))
    assert(out(3L) == ((2, 4L, 1000000L)))
  }

  // ---- Gopher n-gram repetition ----

  test("ngramRepetitionStats: hand-checked bigram and dup-5gram masses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),       // "a b"×3 (mass 9), no dup 5-gram
      (2L, "x y x y x y x y")    // "x y"×4 (12); both 5-grams appear ×2
    ).toDF("id", "t")
    val out = Curation.ngramRepetitionStats(docs, "id", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    assert(out(1L) == ((11L, 9L, 0L)))
    assert(out(2L) == ((15L, 12L, 36L)))
  }

  test("ngramRepetitionStats: short document falls back to one shingle") {
    import spark.implicits._
    // 3 tokens < 5: the whole token sequence is the single 5-gram,
    // count 1 → dup mass 0; bigrams exist normally
    val docs = Seq((1L, "p q p")).toDF("id", "t")
    val r = Curation.ngramRepetitionStats(docs, "id", "t").collect().head
    assert(r.getLong(1) == 5L)  // n_chars
    assert(r.getLong(2) == 3L)  // top bigram "p q" or "q p": 1×3 chars
    assert(r.getLong(4) == 0L)  // single 5-gram can't be duplicated
  }

  // ---- composite quality filter ----

  test("qualityFilter: first failing rule wins, keeps pass everything") {
    import spark.implicits._
    val good = (1 to 30).map(i => s"w$i. ").mkString // 30 distinct words
    val docs = Seq(
      (1L, good),                       // pass
      (2L, "too few words here."),      // short
      // "dup." has ONE vowel run, so flesch = 206.8 − 1.015 − 84.6 > 0
      // and the verdict is specifically the repetition rule
      (3L, Seq.fill(30)("dup.").mkString(" ")),
      // 3 vowel runs per word, zero terminators: flesch ≈ −77 < 0
      (4L, (1 to 30).map(i => s"obobo$i").mkString(" "))
    ).toDF("id", "t")
    val out = Curation.qualityFilter(docs, "id", "t",
      minWords = 10, minFleschE6 = 0L, maxDupFrac = 0.5,
      minEntropyE6 = 1000000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(5), r.getBoolean(6)))).toMap
    assert(out(1L) == (("pass", true)))
    assert(out(2L) == (("short", false)))
    assert(out(3L) == (("repetitive", false)))
    assert(out(4L) == (("unreadable", false)))
  }

  // ---- readability (t11 scalar checks) ----

  test("flesch readability counts: hand-checked sentence/syllable runs") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "Hello world. It works!"),
      (2L, "no terminator here")).toDF("id", "t")
    val out = docs.select(col("id"),
      TextAnalysis.tokenCount(col("t")).as("w"),
      TextAnalysis.sentenceCount(col("t")).as("s"),
      TextAnalysis.syllableCount(col("t")).as("y"),
      TextAnalysis.fleschScore(col("t")).as("f"))
      .collect().map(r => r.getLong(0).toInt ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(out(1)._1 == 4 && out(1)._2 == 2 && out(1)._3 == 5)
    assert(math.abs(out(1)._4 - 99.055) < 1e-9)
    // unpunctuated: sentence count clamps to 1 instead of div-by-zero
    assert(out(2)._2 == 0)
    assert(out(2)._3 == 7) // no(1) terminator(4: e,i,a,o) here(2)
    val f2 = 206.835 - 1.015 * 3.0 - 84.6 * (7.0 / 3.0)
    assert(math.abs(out(2)._4 - f2) < 1e-9)
  }

  test("qualityFilter gives NULL-text documents a verdict, never drops them") {
    import spark.implicits._
    val docs = Seq((1L, Some("a real document with enough words to " +
        "pass the short rule easily " + ("filler words here " * 10))),
      (2L, Option.empty[String]), (3L, Some("")))
      .toDF("doc_id", "text")
    val out = Curation.qualityFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    // every input row comes out with a reason — the audit contract
    // CurateCli's accounting builds on
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(2L) == "short" && out(3L) == "short")
  }

  test("mixtureSample keeps the hottest stratum whole, subsamples the rest") {
    import spark.implicits._
    // big stratum 900 docs x 1 token, small stratum 100 docs x 1 token
    val docs = ((1L to 900L).map(i => (i, "big", "tok")) ++
      (1001L to 1100L).map(i => (i, "small", "tok")))
      .toDF("doc_id", "source", "text")
    val out = Curation.mixtureSample(docs, "doc_id", "source", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val bySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    // sqrt temperature: small's rate is 1.0 (it is the most
    // up-weighted stratum), big keeps ~sqrt(0.1/0.9)=1/3 of its docs
    assert(bySrc("small") == 100)
    val expectBig = 900.0 * math.sqrt(100.0 / 900.0)
    assert(math.abs(bySrc("big") - expectBig) < 60,
      s"big kept ${bySrc("big")}, expected ~$expectBig")
    // deterministic: same corpus + seed -> identical epoch
    val again = Curation.mixtureSample(docs, "doc_id", "source", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a different seed redraws membership at the same rates
    val other = Curation.mixtureSample(docs, "doc_id", "source", "text",
      seed = "mix-epoch-2")
      .collect().map(_.getLong(0)).toSet
    assert(other != out.map(_._1).toSet)
  }

  // ---- semantic dedup (d15) ----

  test("semDedup drops near-duplicates within a cell, keeping the most central") {
    import spark.implicits._
    // two orthogonal centroids; ids 0/1 land in cell 0 (1 is a near-dup
    // of the centroid-identical 0), id 2 in cell 1, id 3 anti-aligned
    // with c0 so it falls to cell 1 but is orthogonal to everything
    val centroids = Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.99f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(-1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "vec_id", "embedding", centroids, 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2))))
      .toMap
    assert(out(0) == ((0, true)))   // most central survives
    assert(out(1) == ((0, false)))  // cos(0,1) ~ 0.995 >= 0.9 -> dropped
    assert(out(2) == ((1, true)))
    assert(out(3)._2)               // same cell as 2 but orthogonal
  }

  test("semDedup never compares across cells") {
    import spark.implicits._
    // identical vectors forced into DIFFERENT cells survive both: the
    // SemDeDup bargain is cluster-local comparison only
    val centroids = Array(
      Array(1f, 0f, 0f, 0f), Array(0.9f, 0.436f, 0f, 0f))
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.9f, 0.436f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "vec_id", "embedding", centroids, 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // cos(0,1) ~ 0.9 but cells differ -> both kept
    assert(out == Map(0L -> true, 1L -> true))
  }

  test("incrementalSemDedup: lake members win, cells stay blind to each other") {
    import spark.implicits._
    val centroids = Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val lake = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),          // cell 0
      (101L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding") // cell 1
    val batch = Seq(
      (0L, Seq(0.99f, 0.1f, 0f, 0f)),       // cell 0, close to 100 -> drop
      (1L, Seq(0f, 0.99f, 0.1f, 0f)),       // cell 1, cos to 101 ~ 0.995 -> drop
      (2L, Seq(0f, 0f, 1f, 0f))             // cell 0 tie-break, orthogonal -> keep
    ).toDF("vec_id", "embedding")
    val out = Dedup.incrementalSemDedup(batch, lake, "vec_id",
      "embedding", centroids, 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L))
    // an empty lake keeps everything
    val all = Dedup.incrementalSemDedup(batch, lake.filter(lit(false)),
      "vec_id", "embedding", centroids, 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(0L, 1L, 2L))
  }

  // ---- char-bigram LM scoring (t12) ----

  test("charLmScore matches a hand-computed Laplace bigram model") {
    import spark.implicits._
    val docs = Seq((1L, "ab"), (2L, "abab")).toDF("doc_id", "text")
    val out = Curation.charLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // corpus bigrams: doc1 [ab], doc2 [ab, ba, ab] -> c(ab)=3, c(ba)=1,
    // N=4, V=2; P(ab)=4/6, P(ba)=2/6
    def e6(x: Double): Long =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000L)).toLong
    val pAb = math.log(4.0 / 6.0); val pBa = math.log(2.0 / 6.0)
    assert(out(1L) == ((1L, e6(-pAb))))
    assert(out(2L) == ((3L, e6(-(2 * pAb + pBa) / 3.0))))
  }

  test("charLmScore: a 1-char document yields its single-char pseudo-bigram") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (2L, "xy")).toDF("doc_id", "text")
    val out = Curation.charLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L))
  }

  // ---- leakage-safe split (x12) ----

  test("leakSafeSplit keeps whole duplicate clusters on one side of the cut") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L)).toDF("member_id", "cluster_id")
    val out = Curation.leakSafeSplit(docs, "doc_id", clusters)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getString(3)))).toMap
    assert(out.size == 20)
    // clustered docs share their representative's key and split
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(Set(out(10L), out(11L)).size == 1)
    // unclustered docs key on themselves
    assert(out(5L)._1 == 5L)
    // the split name always follows the bucket
    out.values.foreach { case (_, b, s) =>
      val expect = if (b <= 7) "train" else if (b == 8) "val" else "test"
      assert(s == expect)
    }
  }

  // ---- DSIR importance scores (ds1) ----

  test("dsirScores: zero when target IS the raw distribution, ranks planted affinity") {
    import spark.implicits._
    val docs = (1 to 60).map(i => (i.toLong,
      if (i % 2 == 0) "alpha beta gamma delta"
      else "omega psi chi phi")).toDF("doc_id", "text")
    // target == raw → p_b == q_b for every bucket → every lr and
    // every score is exactly 0
    val self = graft.operators.Curation.dsirScores(docs, docs,
        "doc_id", "text")
      .collect().map(_.getAs[Double]("logw"))
    assert(self.nonEmpty && self.forall(_ == 0.0))
    // target = only alpha-family docs → alpha docs in raw outrank
    // omega docs
    val target = docs.filter(col("doc_id") % 2 === 0)
    val scored = graft.operators.Curation.dsirScores(docs, target,
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("logw")).toMap
    val alpha = scored.filter(_._1 % 2 == 0).values
    val omega = scored.filter(_._1 % 2 == 1).values
    assert(alpha.min > omega.max,
      s"alpha ${alpha.min} must outrank omega ${omega.max}")
    assert(alpha.forall(_ > 0) && omega.forall(_ < 0))
  }

  test("dsirScores: ratio model joins broadcast, token strings never shuffle past the partial agg") {
    val docs = graft.util.Tables.documents(spark, sf)
    val plan = graft.operators.Curation.dsirScores(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("dsirScores gram=2: sees word order that unigram features cannot") {
    import spark.implicits._
    // A repeats the target's bigram; B is the same bag of words
    // reversed — unigram-identical, bigram-disjoint
    val target = Seq((100L, "alpha beta alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "beta alpha beta alpha")).toDF("doc_id", "text")
    def scores(g: Int) = graft.operators.Curation
      .dsirScores(raw, target, "doc_id", "text", gram = g)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("logw")).toMap
    val uni = scores(1)
    assert(uni(1L) == uni(2L), "unigram features are order-blind")
    val bi = scores(2)
    assert(bi(1L) > bi(2L),
      s"bigram features must prefer the order-matching doc: $bi")
  }

  test("dsirResample: the argmax document always survives; acceptance tracks affinity") {
    import spark.implicits._
    val docs = (1 to 200).map(i => (i.toLong,
      if (i % 2 == 0) "alpha beta gamma delta epsilon zeta"
      else "omega psi chi phi upsilon tau")).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 2 === 0)
    val kept = graft.operators.Curation.dsirResample(docs, target,
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // every alpha doc has the max score (identical text) → rate 1 →
    // all survive; omega docs have exp(large negative) → none survive
    val (alpha, omega) = kept.partition(_._1 % 2 == 0)
    assert(alpha.values.forall(identity), "rate-1 docs must all survive")
    assert(omega.values.count(identity) < omega.size / 10,
      "anti-target docs must almost all drop")
    // determinism: a second run is identical
    val again = graft.operators.Curation.dsirResample(docs, target,
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(again == kept)
  }

  // ---- PSI drift monitor (x16) ----

  test("driftPsi: exactly zero on identical slices, fires on planted drift") {
    import spark.implicits._
    val base = (0 until 1000).map(i => i % 10).toDF("bucket")
    val same = graft.operators.Curation.driftPsi(base, base,
        "bucket", 10)
      .collect().map(_.getAs[Double]("psi"))
    // identical counts and totals → p == q → every term is exactly 0
    assert(same.forall(_ == 0.0))
    // planted drift: the current slice collapses onto buckets 0-1
    val drifted = (0 until 1000).map(i => i % 2).toDF("bucket")
    val moved = graft.operators.Curation.driftPsi(base, drifted,
        "bucket", 10)
      .collect().map(_.getAs[Double]("psi")).sum
    assert(moved > 0.25, s"PSI must cross the investigate line: $moved")
    // PSI terms are individually non-negative only in aggregate — but
    // the total is always >= 0 (Jensen); check the reverse direction too
    val back = graft.operators.Curation.driftPsi(drifted, base,
        "bucket", 10)
      .collect().map(_.getAs[Double]("psi")).sum
    assert(back > 0.25)
  }

  test("driftPsi: out-of-range and null buckets are excluded from totals") {
    import spark.implicits._
    val clean = (0 until 100).map(i => i % 5).toDF("bucket")
    val noisy = ((0 until 100).map(i => i % 5) ++ Seq(12, 12, -3))
      .toDF("bucket")
    val a = graft.operators.Curation.driftPsi(clean, clean, "bucket", 5)
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("psi")).toMap
    val b = graft.operators.Curation.driftPsi(noisy, clean, "bucket", 5)
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("psi")).toMap
    // stray rows outside [0, nBuckets) must not inflate the totals —
    // with them excluded the two runs are identical (all-zero terms)
    assert(a == b)
    assert(a.values.forall(_ == 0.0))
  }

  test("driftPsi: empty buckets are smoothed, never NaN/Inf") {
    import spark.implicits._
    val a = Seq(0, 0, 1).toDF("bucket")
    val b = Seq(2, 2, 3).toDF("bucket")
    val rows = graft.operators.Curation.driftPsi(a, b, "bucket", 5)
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val p = r.getAs[Double]("psi")
      assert(!p.isNaN && !p.isInfinite, r.toString)
    }
  }

  // ---- concat-and-chunk offsets (x15) ----

  test("concatChunkOffsets: hand-computed offsets and chunk spans") {
    import spark.implicits._
    // stream: [0:3) [3:10) [10:10) [10:22) with seqLen 8 → chunks
    // 0:[0,8) 1:[8,16) 2:[16,24)
    val df = Seq((0L, 3L), (1L, 7L), (2L, 0L), (3L, 12L))
      .toDF("id", "n").repartition(3)
    val got = Curation.concatChunkOffsets(df, "id", "n",
        expr("id div 2"), seqLen = 8)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (0L, 3L, 0L, 0L, 0L),
      (1L, 7L, 3L, 0L, 1L),   // straddles the 8-token boundary
      (2L, 0L, 10L, 1L, 1L),  // zero tokens: first == last, no span
      (3L, 12L, 10L, 1L, 2L)))
  }

  test("concatChunkOffsets: bucket width is invisible in the result") {
    import spark.implicits._
    val rnd = new java.util.Random(3)
    val df = (0L until 200L).map(i => (i, rnd.nextInt(1000).toLong))
      .toDF("id", "n").repartition(7)
    def run(width: Long) = Curation.concatChunkOffsets(df, "id", "n",
        expr(s"id div $width"), seqLen = 512)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(run(1L) == run(17L) && run(17L) == run(1000L))
  }

  test("concatChunkOffsets: big window partitions by bucket, not one task") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, i % 5)).toDF("id", "n")
    val plan = Curation.concatChunkOffsets(df, "id", "n",
        expr("id div 10"), seqLen = 64)
      .queryExecution.optimizedPlan.toString
    // the corpus-sized prefix window must be keyed by the bucket
    // (windowspecdefinition(bkt, ...) — parallel across buckets);
    // the only unpartitioned ordered window allowed is the one over
    // the per-bucket totals frame (input = an Aggregate, one row per
    // bucket), so exactly one spec may omit the partition key
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.size == 2, plan)
    // a partitioned spec leads with the bare partition key (no sort
    // direction); an unpartitioned one leads with "<col> ASC/DESC"
    val partitioned = specs.filter { s =>
      val head = s.split(",").head
      !head.contains(" ASC") && !head.contains(" DESC")
    }
    assert(partitioned.size == 1 && partitioned.head.startsWith("bkt"),
      plan)
  }

  test("normalizedText: accents, case, digits, punctuation, whitespace — in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Héllo, WÖRLD!  Café №5 has 42 naïve piñatas…"),
      (2L, null.asInstanceOf[String]),
      (3L, "   spaced\t\tout\n\nlines   ")).toDF("doc_id", "text")
    val got = graft.operators.Curation
      .normalizeText(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // é→e ö→o ï→i ñ→n; №/… are not ASCII punct and carry no
    // decomposition-mark, so they survive — the documented scope
    assert(got(1L) == "hello world cafe №0 has 00 naive pinatas…",
      got(1L))
    assert(got(2L) == "")
    assert(got(3L) == "spaced out lines")
    // non-accented decomposable scripts survive UNCHANGED: the NFC
    // recompose puts Hangul syllables back together after NFD
    val hangul = Seq((9L, "한국 text")).toDF("doc_id", "text")
    val h = graft.operators.Curation
      .normalizeText(hangul, "doc_id", "text")
      .collect()(0).getString(1)
    assert(h == "한국 text", h)
  }

  test("exact dedup over the normal form collapses case/accent/digit variants") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The Café opened in 1982."),
      (2L, "the cafe opened in 2024!"),
      (3L, "THE CAFÉ OPENED IN 1999"),
      (4L, "a different sentence entirely")).toDF("doc_id", "text")
    val norm = graft.operators.Curation
      .normalizeText(docs, "doc_id", "text")
    val canon = graft.operators.Dedup
      .exact(norm, "doc_id", "norm_text")
      .select(org.apache.spark.sql.functions.col("canonical_id"))
      .collect().map(_.getLong(0)).toSet
    assert(canon == Set(1L, 4L), canon.toString)
  }

  test("perplexityBuckets: tertiles per language, ordered by fluency") {
    val docs = graft.util.Tables.documents(spark, sf)
    val b = graft.operators.Curation
      .perplexityBuckets(docs, "doc_id", "text", "lang")
    val counts = b.groupBy("lang", "bucket").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langs = counts.keys.map(_._1).toSet
    for (l <- langs) {
      val h = counts.getOrElse((l, "head"), 0L)
      val m = counts.getOrElse((l, "middle"), 0L)
      val t = counts.getOrElse((l, "tail"), 0L)
      val n = h + m + t
      // exact-quantile cuts: each bucket within one of n/3
      assert(math.abs(h - n / 3.0) <= 1.5, s"$l head=$h n=$n")
      assert(math.abs(t - n / 3.0) <= 1.5, s"$l tail=$t n=$n")
    }
    // bucket order respects the score: max(head) <= min(tail) per lang
    import org.apache.spark.sql.functions.{col, max => mx, min => mn}
    val agg = b.groupBy("lang").agg(
      mx(org.apache.spark.sql.functions.when(col("bucket") === "head",
        col("xent_e6"))).as("hmax"),
      mn(org.apache.spark.sql.functions.when(col("bucket") === "tail",
        col("xent_e6"))).as("tmin")).collect()
    agg.foreach(r => assert(r.getLong(1) <= r.getLong(2), r.toString))
  }

  test("perplexityBuckets keeps only the returned frame's checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    graft.util.Iter.scoped { _ =>
      val b = graft.operators.Curation.perplexityBuckets(
        graft.util.Tables.documents(spark, sf), "doc_id", "text", "lang")
      // the bigram frame the scores were built from is released; the
      // scores' checkpoint is the one leaf of the result
      val added = sc.getPersistentRDDs.keySet -- before
      val leaves = b.queryExecution.analyzed.collectLeaves().collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
      assert(added.size == 1 && added == leaves, s"$added vs $leaves")
    }
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("knBigramScore matches a by-hand Kneser-Ney model; KN normalizes to 1") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b c"),
      (1L, "b c b a"),
      (2L, "c c a b"),
      (3L, "solo"), // < 2 tokens: n_bigrams 0, xent 0
      (4L, "a b")).toDF("doc_id", "text")
    // by-hand interpolated KN over the same corpus
    val corpus = Seq("a b a b c", "b c b a", "c c a b", "a b")
      .map(_.split(" ").toSeq)
    val dbAll = corpus.flatMap(tk => tk.zip(tk.tail))
    val cb = dbAll.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cctx = cb.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nfwd = cb.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val nback = cb.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val b = cb.size.toDouble
    val d = 0.75
    def pkn(w1: String, w2: String): Double =
      (math.max(cb.getOrElse((w1, w2), 0L).toDouble - d, 0.0) +
        d * nfwd(w1) * (nback.getOrElse(w2, 0L) / b)) / cctx(w1)
    // the model is a true conditional distribution: sums to 1 over
    // the vocabulary for every observed context
    val vocab = corpus.flatten.distinct
    for (w1 <- cctx.keys)
      assert(math.abs(vocab.map(pkn(w1, _)).sum - 1.0) < 1e-12, w1)
    def xentE6(text: String): Long = {
      val tk = text.split(" ").toSeq
      val pairs = tk.zip(tk.tail)
      math.floor(-pairs.map { case (x, y) => math.log(pkn(x, y)) }.sum /
        pairs.size * 1e6).toLong
    }
    val got = graft.operators.Curation
      .knBigramScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(3L) == (0L, 0L))
    assert(got(0L) == (4L, xentE6("a b a b c")), got(0L).toString)
    assert(got(1L) == (3L, xentE6("b c b a")))
    assert(got(2L) == (3L, xentE6("c c a b")))
    assert(got(4L) == (1L, xentE6("a b")))
  }

  test("c4Rules: line retention, page drops, and the cleaned rewrite") {
    import spark.implicits._
    val goodLines = (1 to 6)
      .map(i => s"This is proper sentence number $i.").mkString("\n")
    val docs = Seq(
      (0L, goodLines), // 6 terminal-punct lines of >= 3 words: keep
      (1L, goodLines + "\nshort."), // the 2-word line drops, page keeps
      (2L, goodLines + "\nEnable Javascript to view this."), // js line drops
      (3L, goodLines + "\nfiller lorem ipsum dolor."), // page drop
      (4L, goodLines + "\nvar f = function() { return 1; };"), // brace
      (5L, "Only three good sentences here.\nAnother one right now.\n" +
        "And a third to finish."), // < 5 sentences: page drop
      (6L, "no punctuation lines at all\njust plain text"),
      // a bare closing double-quote is a terminal mark in Raffel et
      // al.'s list — the quoted line counts as a kept sentence
      (7L, goodLines + "\nshe said \"these exact words\""),
      // a lone '}' (no '{') does NOT fire the page drop; its line
      // lacks a terminal mark so it drops as a line only
      (8L, goodLines + "\nclosing brace } alone")
    ).toDF("doc_id", "text")
    val r = graft.operators.Curation.c4Rules(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Boolean]("keep") &&
      r(0L).getAs[Long]("n_kept_lines") == 6L)
    assert(r(1L).getAs[Boolean]("keep") &&
      r(1L).getAs[Long]("n_kept_lines") == 6L &&
      r(1L).getAs[Long]("n_lines") == 7L)
    assert(r(2L).getAs[Boolean]("keep") &&
      r(2L).getAs[Long]("n_kept_lines") == 6L)
    assert(!r(3L).getAs[Boolean]("keep") &&
      r(3L).getAs[Boolean]("has_lorem"))
    assert(!r(4L).getAs[Boolean]("keep") &&
      r(4L).getAs[Boolean]("has_brace"))
    assert(!r(5L).getAs[Boolean]("keep") &&
      r(5L).getAs[Long]("n_kept_lines") == 3L)
    assert(!r(6L).getAs[Boolean]("keep") &&
      r(6L).getAs[Long]("n_kept_lines") == 0L)
    assert(r(7L).getAs[Boolean]("keep") &&
      r(7L).getAs[Long]("n_kept_lines") == 7L, r(7L).toString)
    assert(r(8L).getAs[Boolean]("keep") &&
      !r(8L).getAs[Boolean]("has_brace") &&
      r(8L).getAs[Long]("n_kept_lines") == 6L, r(8L).toString)
    // the rewrite is exactly the surviving lines, newline-joined
    val md0 = java.security.MessageDigest.getInstance("MD5")
      .digest(goodLines.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r(0L).getAs[String]("clean_md5") == md0)
    assert(r(1L).getAs[String]("clean_md5") == md0)
  }

  test("c4Keep gate verdict == c4Rules batch verdict, doc for doc") {
    import spark.implicits._
    val goodLines = (1 to 6)
      .map(i => s"This is proper sentence number $i.").mkString("\n")
    val docs = Seq(
      (0L, goodLines),
      (1L, goodLines + "\nfiller lorem ipsum dolor."),
      (2L, "short page. one line."),
      (3L, goodLines + "\ncode { fragment }")).toDF("doc_id", "text")
    val batch = graft.operators.Curation.c4Rules(docs, "doc_id", "text")
      .filter(org.apache.spark.sql.functions.col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gate = docs.filter(graft.operators.Curation.c4Keep("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == gate && batch == Set(0L))
  }

  test("gopherRules: each rule trips on its crafted document, good text passes") {
    import spark.implicits._
    val good = (("the quick brown fox jumps over a lazy dog and " +
      "carries it off to have dinner with all of its friends ") * 3)
      .trim // 69 words, alphabetic, stopwords present, no symbols
    val fillTo50 = "the one and that of have be with more words " +
      "keep the count above fifty so only the targeted rule trips " +
      "and nothing else interferes with the verdict in any way at " +
      "all here now then"
    val docs = Seq(
      (0L, good),
      (1L, "too short to pass"), // rule 1: word count
      (2L, ("a " * 60).trim + " " + fillTo50), // rule 2: mean len < 3
      (3L, ("#word " * 30).trim + " " + fillTo50), // rule 3: symbols
      (4L, (0 until 50).map(i => s"- bullet item $i the of").mkString("\n")
        + "\nthe of and that have be with plain line here to of"),
      (5L, (0 until 9).map(i => s"line number $i trails off...")
        .mkString("\n") + "\nthe of and be that have with solid end"
        + ("\nmore words fill the count to fifty and beyond here" * 3)),
      (6L, ("12345 9876 " * 30).trim + " the of and to"), // rule 6: alpha
      (7L, ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
        "sed do eiusmod tempor incididunt ut labore magna aliqua ") * 2),
      (8L, (("same line of the text here with plenty of words\n") * 20)
        .trim), // rule 8: duplicate lines
      // each symbol's OWN ratio ≤ 0.1 (4 hashes, 4 ellipses over 75
      // words) though the sum exceeds it — per Rae et al. the cut is
      // per-symbol, so this page must PASS
      (9L, good + " #x #y #z #w " + ("… " * 4) + "more the of and")
    ).toDF("doc_id", "text")
    val r = graft.operators.Curation.gopherRules(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Boolean]("keep"), r(0L).toString)
    assert(!r(1L).getAs[Boolean]("keep") && r(1L).getAs[Long]("n_words") < 50)
    assert(!r(2L).getAs[Boolean]("keep") &&
      r(2L).getAs[Long]("mean_word_len_e6") < 3000000L)
    assert(!r(3L).getAs[Boolean]("keep") &&
      r(3L).getAs[Long]("hash_ratio_e6") > 100000L)
    assert(!r(4L).getAs[Boolean]("keep") &&
      r(4L).getAs[Long]("bullet_frac_e6") > 900000L)
    assert(!r(5L).getAs[Boolean]("keep") &&
      r(5L).getAs[Long]("ellipsis_frac_e6") > 300000L)
    assert(!r(6L).getAs[Boolean]("keep") &&
      r(6L).getAs[Long]("alpha_word_frac_e6") < 800000L)
    assert(!r(7L).getAs[Boolean]("keep") &&
      r(7L).getAs[Long]("n_stopwords") < 2L, r(7L).toString)
    assert(!r(8L).getAs[Boolean]("keep") &&
      r(8L).getAs[Long]("dup_line_frac_e6") > 300000L)
    assert(r(9L).getAs[Boolean]("keep") &&
      r(9L).getAs[Long]("hash_ratio_e6") <= 100000L &&
      r(9L).getAs[Long]("ellipsis_ratio_e6") <= 100000L &&
      r(9L).getAs[Long]("hash_ratio_e6") +
        r(9L).getAs[Long]("ellipsis_ratio_e6") > 100000L,
      r(9L).toString)
  }

  test("gopherRules: null and empty text get a verdict, never a crash") {
    import spark.implicits._
    val docs = Seq((0L, null.asInstanceOf[String]), (1L, ""), (2L, "  "))
      .toDF("doc_id", "text")
    val r = graft.operators.Curation.gopherRules(docs, "doc_id", "text")
      .collect()
    assert(r.length == 3)
    r.foreach(x => assert(!x.getAs[Boolean]("keep") &&
      x.getAs[Long]("n_words") == 0L))
  }
}

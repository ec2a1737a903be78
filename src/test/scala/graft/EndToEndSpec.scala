package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.discover.Discover
import graft.jobs.ImportJob
import graft.operators.{Manifest, Stats}
import graft.parse.LuxImporter
import graft.rebuild.RebuildJob

/** The full "switch path" a reference user follows, as one pipeline:
  * config-driven detect → distributed import → partitioned canonical
  * write → read back with declared schemas → solr + passim rebuild →
  * stats → manifest. Real Lux sample data end to end. */
class EndToEndSpec extends AnyFunSuite {
  import SparkTestSession._

  private val luxSample =
    "/root/reference/text_preparation/data/sample_data/Luxembourg"

  test("config file → detect → import → write → rebuild → manifest") {
    // 1. the reference's config-file format drives selection
    val config = Discover.parseConfig(
      """{"titles": {"armeteufel": "1904/01/01-1904/12/31"},
        |"exclude_titles": [], "year_only": false}""".stripMargin)
    assert(config.titles.contains("armeteufel"))

    val refs = LuxImporter.detectIssues(luxSample)
      .filter(r => r.alias == "armeteufel" && r.date.startsWith("1904"))
    assert(refs.nonEmpty, "sample has the 1904 armeteufel issue")

    // 2. distributed import through the generic job with quarantine
    val results = ImportJob.run[LuxImporter.IssueRef](spark, refs,
      _.issueId,
      LuxImporter.parseIssue(_, "C", "T"))
    assert(ImportJob.quarantine(results).count() == 0)

    // 3. partitioned canonical write, read back with declared schemas
    val out = java.nio.file.Files.createTempDirectory("e2e").toString
    ImportJob.write(results, out)
    val issues = RebuildJob.readIssues(spark, s"$out/issues/alias=armeteufel/*")
    val pages = RebuildJob.readPages(spark, s"$out/pages/alias=armeteufel/*")
    assert(issues.count() == refs.size)
    assert(pages.count() > 0)

    // 4. both rebuild formats over the round-tripped canonical data
    val solr = RebuildJob.rebuildSolr(spark, issues, pages, "T")
    val solrRows = solr.collect()
    assert(solrRows.nonEmpty)
    assert(solrRows.exists(_.ft.exists(_.length > 100)))
    val passim = RebuildJob.rebuildPassim(spark, issues, pages)
    assert(passim.count() == solrRows.length)

    // 5. stats + manifest close the loop
    val stats = Stats.rebuiltStats(solr.toDF())
    val mrow = Manifest.byTitle(stats).collect()
    assert(mrow.length == 1)
    assert(mrow.head.getAs[Long]("total_n_cis") == solrRows.length)
  }

  test("import CLI → rebuild CLI drives both stages on sample data") {
    import graft.cli.{ImporterCli, RebuilderCli}
    val out = java.nio.file.Files.createTempDirectory("e2e-cli").toString

    // stage 1: the import CLI (generic_importer.py:162-200 surface)
    val s1 = ImporterCli.run(spark, ImporterCli.parseArgs(Array(
      "--format=lux", s"--input-dir=$luxSample", s"--output-dir=$out/canonical",
      "--cdt=C", "--ts=T")))
    assert(s1.imported > 0 && s1.quarantined == 0)

    // incremental re-run: the anti-join (Discover.incremental) sees every
    // issue already imported and skips them all
    val s2 = ImporterCli.run(spark, ImporterCli.parseArgs(Array(
      "--format=lux", s"--input-dir=$luxSample", s"--output-dir=$out/canonical",
      "--incremental", "--cdt=C", "--ts=T")))
    assert(s2.skipped == s2.selected, "incremental run skips everything")
    assert(s2.imported == 0)

    // stage 2: the rebuild CLI (rebuilder.py:295-344 surface) with a
    // reference-shaped filter config batch
    val cfg = java.nio.file.Files.createTempFile("rebuilt-cfg", ".json")
    java.nio.file.Files.write(cfg,
      """[{"armeteufel": [1904, 1905]}]""".getBytes("UTF-8"))
    val r = RebuilderCli.run(spark, RebuilderCli.parseArgs(Array(
      s"--input-dir=$out/canonical", s"--output-dir=$out/rebuilt",
      s"--filter-config=$cfg", "--format=solr", "--ts=T",
      s"--stats-dir=$out/stats")))
    assert(r.rebuilt > 0)

    // the batch predicate pruned to armeteufel-1904 only, and the output
    // reads back as (alias, year)-partitioned rebuilt docs
    val rebuilt = spark.read.json(s"$out/rebuilt/solr")
    assert(rebuilt.select("alias").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("armeteufel"))
    assert(rebuilt.filter(col("ft").isNotNull).count() > 0)
    val stats = spark.read.json(s"$out/stats")
    assert(stats.count() == 1)

    // passim format through the same CLI
    val p = RebuilderCli.run(spark, RebuilderCli.parseArgs(Array(
      s"--input-dir=$out/canonical", s"--output-dir=$out/rebuilt",
      s"--filter-config=$cfg", "--format=passim")))
    assert(p.rebuilt == r.rebuilt)

    // language filter: the armeteufel batch is German-only sample data,
    // so filtering it to French rebuilds nothing
    val fr = RebuilderCli.run(spark, RebuilderCli.parseArgs(Array(
      s"--input-dir=$out/canonical", s"--output-dir=$out/rebuilt-fr",
      s"--filter-config=$cfg", "--format=solr", "--ts=T", "--languages=fr")))
    assert(fr.rebuilt == 0)
  }

  test("curate CLI drives the full curation pipeline end to end") {
    import graft.cli.CurateCli
    val out = java.nio.file.Files.createTempDirectory("e2e-curate").toString
    // eval corpus = a held-out slice of the same tables, staged as its
    // own documents.parquet
    val evalDir = java.nio.file.Files.createTempDirectory("e2e-eval")
      .toString
    graft.util.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
      .write.mode("overwrite").parquet(s"$evalDir/documents.parquet")
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out",
      s"--eval-dir=$evalDir", "--shards=4")))
    // stage accounting closes: every input doc is curated or audited
    assert(s.input ==
      s.curated + s.lowQuality + s.exactDups + s.nearDups + s.contaminated)
    assert(s.curated > 0, "pipeline must keep something")
    assert(s.lowQuality > 0, "the sf corpus has short docs to drop")
    // the eval slice's own surviving members overlap themselves fully
    assert(s.contaminated > 0)
    val curated = spark.read.parquet(s"$out/curated")
    assert(curated.count() == s.curated)
    // the audit frame explains every non-surviving doc exactly once
    val dropped = spark.read.parquet(s"$out/dropped")
    assert(dropped.count() ==
      s.lowQuality + s.exactDups + s.nearDups + s.contaminated)
    assert(dropped.select("doc_id").distinct().count() == dropped.count())

    // without an eval set, survivors split train/val/test and carry
    // deterministic shard/pos
    val out2 = java.nio.file.Files.createTempDirectory("e2e-curate2")
      .toString
    val s2 = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out2", "--shards=4")))
    assert(s2.contaminated == 0)
    assert(s2.splits.values.sum == s2.curated)
    val c2 = spark.read.parquet(s"$out2/curated")
    assert(c2.select("split").distinct().count() >= 2)
    assert(c2.filter(org.apache.spark.sql.functions.col("shard") >= 4)
      .count() == 0)
    // re-run is byte-stable: deterministic seeded layout, no rand()
    val s3 = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out2", "--shards=4")))
    assert(s3 == s2)
  }

  test("CurateCli --pack-budget: per-split packed payloads reconcile with the curated frame") {
    import org.apache.spark.sql.functions._
    import graft.cli.CurateCli
    val out = java.nio.file.Files.createTempDirectory("e2e-pack").toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      "--pack-budget=256")))
    val curated = spark.read.parquet(s"$out/curated")
    val splits = curated.select("split").distinct().collect()
      .map(_.getString(0))
    assert(splits.nonEmpty)
    splits.foreach { sp =>
      val packs = spark.read.parquet(s"$out/packed/$sp")
      // every curated doc of the split is in exactly one pack (docs
      // and token totals reconcile), and no multi-doc pack exceeds
      // the budget
      val docsIn = curated.filter(col("split") === sp)
      val agg = packs.agg(sum("n_docs"), sum("n_tokens")).head()
      assert(agg.getLong(0) == docsIn.count())
      val tokTotal = docsIn.select(sum(
        graft.functions.TextAnalysis.tokenCount(col("text"))
          .cast("long"))).head().getLong(0)
      assert(agg.getLong(1) == tokTotal)
      assert(packs.filter(col("n_tokens") > 256 && col("n_docs") > 1)
        .count() == 0, s"overfull multi-doc pack in $sp")
    }
  }

  test("CurateCli --gopher: the rule battery drops with per-rule audit reasons") {
    import graft.cli.CurateCli
    val out = java.nio.file.Files.createTempDirectory("e2e-gopher")
      .toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      "--gopher")))
    // accounting closes with the new stage included
    assert(s.input == s.curated + s.lowQuality + s.gopherDropped +
      s.exactDups + s.nearDups + s.contaminated)
    // the synthetic corpus has docs under Gopher's 50-word floor that
    // pass x11's 20-word floor — the stage must do real work
    assert(s.gopherDropped > 0, s.toString)
    val dropped = spark.read.parquet(s"$out/dropped")
    val reasons = dropped
      .filter(org.apache.spark.sql.functions.col("stage") === "gopher")
      .select("reason").distinct().collect().map(_.getString(0)).toSet
    assert(reasons.nonEmpty &&
      reasons.subsetOf(Set("word_count", "word_length", "symbol_ratio",
        "bullet_lines", "ellipsis_lines", "non_alpha_words",
        "no_stopwords", "duplicate_lines")), reasons.toString)
    // the batch stage and the streaming gate agree document for
    // document (one shared expression tree)
    val docs = graft.util.Tables.documents(spark, sf)
    val batchKeep = graft.operators.Curation
      .gopherRules(docs, "doc_id", "text")
      .filter(org.apache.spark.sql.functions.col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gateKeep = docs.filter(
      graft.operators.Curation.gopherKeep("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKeep == gateKeep)
  }

  test("CurateCli --ppl-cut: each language's worst tertile drops with audit rows") {
    import graft.cli.CurateCli
    val out = java.nio.file.Files.createTempDirectory("e2e-ppl").toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      "--ppl-cut")))
    assert(s.input == s.curated + s.lowQuality + s.pplTailDropped +
      s.exactDups + s.nearDups + s.contaminated)
    assert(s.pplTailDropped > 0, s.toString)
    // roughly a third of the post-quality survivors drop (exact
    // tertiles per language over the stage-1 survivors)
    val survivors = s.input - s.lowQuality
    assert(s.pplTailDropped >= survivors / 4 &&
      s.pplTailDropped <= survivors / 2, s.toString)
    val dropped = spark.read.parquet(s"$out/dropped")
    assert(dropped.filter(
      org.apache.spark.sql.functions.col("stage") === "ppl")
      .count() == s.pplTailDropped)
    // determinism: a re-run reproduces the same summary
    val s2 = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      "--ppl-cut")))
    assert(s2 == s)
  }

  test("CurateCli --lang: the allowlist is the first stage and matches the e13 gate") {
    import graft.cli.CurateCli
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("e2e-lang").toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      "--lang=en,fr", "--lang-min-hits=2")))
    assert(s.langDropped > 0, s.toString)
    // per-stage accounting closes with the new first stage
    assert(s.input == s.curated + s.langDropped + s.lowQuality +
      s.exactDups + s.nearDups + s.contaminated, s.toString)
    val dropped = spark.read.parquet(s"$out/dropped")
    val langDrops = dropped.filter(col("stage") === "lang")
    assert(langDrops.count() == s.langDropped)
    // the audit reason names the heuristic's verdict
    assert(langDrops.select("reason").collect()
      .forall(_.getString(0).startsWith("lang_")))
    // batch stage ≡ the streaming e13 gate on the same corpus — the
    // same expression tree, so the drop sets are identical
    val docs = graft.util.Tables.documents(spark, sf)
    val allIds = docs.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val gateKeep = graft.streaming.IngestGate
      .langGate(docs, Set("en", "fr"), "text", minHits = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(langDrops.collect().map(_.getLong(0)).toSet ==
      allIds -- gateKeep)
    // and the stage ran FIRST: no document outside the gate's keep
    // set reached any later stage's audit or the curated output
    val later = dropped.filter(col("stage") =!= "lang")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val curatedIds = spark.read.parquet(s"$out/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((later ++ curatedIds).subsetOf(gateKeep))
  }

  test("CurateCli --tar-shards: curated splits round-trip from manifested tar shards") {
    import graft.cli.CurateCli
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("e2e-tar").toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      "--tar-shards")))
    val curated = spark.read.parquet(s"$out/curated")
    // every split directory holds a manifested shard set whose entries
    // are exactly that split's curated (doc_id -> text) payloads
    s.splits.foreach { case (sp, n) =>
      val back = graft.sources.TarShards.read(spark, s"$out/shards/$sp")
        .collect()
        .map(r => r.getString(1).toLong ->
          new String(r.getAs[Array[Byte]]("bytes"), "UTF-8")).toMap
      assert(back.size.toLong == n, s"split $sp")
      val want = curated.filter(col("split") === sp)
        .select(col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(back == want, s"split $sp payloads")
    }
  }

  test("CurateCli --distill --chunk-len: scores + chunk manifests compose") {
    import graft.cli.CurateCli
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("e2e-distill")
      .toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      "--distill", "--chunk-len=256")))
    // the distilled model: 4 weights in the summary, one score per
    // non-empty input doc, every score a valid e6 probability
    assert(s.distillWeights.exists(_.size == 4))
    val scores = spark.read.parquet(s"$out/scores")
    assert(scores.count() == s.input,
      "this corpus has no zero-token docs — every doc scores")
    assert(scores.filter(col("score_e6") < 0 ||
      col("score_e6") > 1000000L).count() == 0)
    // chunk manifests: one per split, row-complete, and the virtual
    // stream is gapless — offsets cumulate exactly in (shard, doc_id)
    // order
    val curated = spark.read.parquet(s"$out/curated")
    s.splits.foreach { case (sp, n) =>
      val ch = spark.read.parquet(s"$out/chunks/$sp")
      assert(ch.count() == n, s"split $sp manifest rows")
      val rows = ch.join(curated.filter(col("split") === sp)
          .select(col("doc_id"), col("shard")), "doc_id")
        .select("shard", "doc_id", "n_tokens", "offset", "chunk_first",
          "chunk_last")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
        .sortBy(t => (t._1, t._2))
      var expect = 0L
      rows.foreach { case (_, id, nTok, off, cf, cl) =>
        assert(off == expect, s"doc $id offset")
        assert(cf == off / 256, s"doc $id chunk_first")
        assert(cl == (if (nTok > 0) (off + nTok - 1) / 256 else off / 256),
          s"doc $id chunk_last")
        expect += nTok
      }
    }
  }

  test("CurateCli --dsir-target: importance resampling drops, audits, accounting closes") {
    import graft.cli.CurateCli
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("e2e-dsir").toString
    // target corpus = a thin slice of the same table, staged as its
    // own documents.parquet (any distribution shift forces drops)
    val tgtDir = java.nio.file.Files.createTempDirectory("e2e-dsir-t")
      .toString
    graft.util.Tables.documents(spark, sf)
      .filter(col("doc_id") % 13 === 0)
      .write.mode("overwrite").parquet(s"$tgtDir/documents.parquet")
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      s"--dsir-target=$tgtDir")))
    assert(s.dsirDropped > 0, "resampling must drop off-target docs")
    assert(s.input == s.curated + s.lowQuality + s.dsirDropped +
      s.exactDups + s.nearDups + s.contaminated)
    val dropped = spark.read.parquet(s"$out/dropped")
    assert(dropped.filter(col("stage") === "dsir").count() ==
      s.dsirDropped)
    assert(dropped.select("doc_id").distinct().count() == dropped.count())
    // determinism: the seeded gate replays identically
    val out2 = java.nio.file.Files.createTempDirectory("e2e-dsir2")
      .toString
    val s2 = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out2", "--shards=4",
      s"--dsir-target=$tgtDir")))
    assert(s2 == s)
  }

  test("CurateCli --semantic: embeddings sidecar drops semantic dups, accounting closes") {
    import graft.cli.CurateCli
    val out = java.nio.file.Files.createTempDirectory("e2e-sem").toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out", "--shards=4",
      "--semantic")))
    // the sf embeddings corpus is dense at tau=0.35 (the d15 row drops
    // most cell neighbors), so the stage must fire
    assert(s.semanticDups > 0)
    assert(s.input == s.curated + s.lowQuality + s.exactDups +
      s.nearDups + s.semanticDups + s.contaminated)
    // audit rows carry the stage
    val dropped = spark.read.parquet(s"$out/dropped")
    import org.apache.spark.sql.functions.col
    assert(dropped.filter(col("stage") === "semantic_dup").count() ==
      s.semanticDups)
    assert(dropped.select("doc_id").distinct().count() == dropped.count())
    // without the flag the stage is inert
    val out2 = java.nio.file.Files.createTempDirectory("e2e-sem2").toString
    val s2 = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$sf", s"--output-dir=$out2", "--shards=4")))
    assert(s2.semanticDups == 0)
  }

  test("CurateCli --strip-spans: duplicated spans leave the text, emptied docs leave the corpus") {
    import graft.cli.CurateCli
    import org.apache.spark.sql.functions.col
    // Engineered corpus: the two shared spans are 23 CHARS each —
    // below the winnow k-gram size (24) — so near-dup dedup cannot
    // see them, but each is a full word 8-gram, so x18 must. docD is
    // nothing but the two spans → stripped to empty → dropped.
    val span1 = "qa qb qc qd qe qf qg qh"
    val span2 = "za zb zc zd ze zf zg zh"
    def words(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val inDir = java.nio.file.Files.createTempDirectory("e2e-strip")
      .toString
    val rows = Seq(
      (1L, s"${words("u", 22)} $span1"),
      (2L, s"${words("v", 22)} $span2"),
      (3L, words("w", 30)),
      (4L, s"$span1 $span2"))
    spark.createDataFrame(rows).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$inDir/documents.parquet")

    val out = java.nio.file.Files.createTempDirectory("e2e-strip-out")
      .toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$inDir", s"--output-dir=$out", "--shards=2",
      "--min-words=5", "--strip-spans")))
    // docD is fully duplicated text → stripped empty → audited, and
    // the accounting closes with the new stage in the ledger
    assert(s.strippedEmpty == 1L)
    assert(s.lowQuality == 0L && s.exactDups == 0L && s.nearDups == 0L)
    assert(s.curated == 3L)
    assert(s.input == s.curated + s.strippedEmpty)
    val dropped = spark.read.parquet(s"$out/dropped")
    assert(dropped.filter(col("stage") === "strip_spans")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(4L))
    // survivors lost exactly the shared span, nothing else
    val curated = spark.read.parquet(s"$out/curated")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(curated(1L) == words("u", 22))
    assert(curated(2L) == words("v", 22))
    assert(curated(3L) == words("w", 30))
    // without the flag the stage is inert and docD survives
    val out2 = java.nio.file.Files.createTempDirectory("e2e-strip2")
      .toString
    val s2 = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$inDir", s"--output-dir=$out2", "--shards=2",
      "--min-words=5")))
    assert(s2.strippedEmpty == 0L && s2.curated == 4L)
  }

  test("CurateCli --strip-spans=keep-first: one canonical copy survives") {
    import graft.cli.CurateCli
    import org.apache.spark.sql.functions.col
    // S and T are EXACTLY 35 chars (9 three-char words): a 35-char
    // shared run yields exactly ONE full winnow window, hence exactly
    // one shared fingerprint — below minShared=2, so near-dup dedup
    // is deterministically blind and the spans reach the strip stage.
    val s35 = (1 to 9).map("qa" + _).mkString(" ")
    val t35 = (1 to 9).map("zb" + _).mkString(" ")
    assert(s35.length == 35 && t35.length == 35)
    def words(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val inDir = java.nio.file.Files.createTempDirectory("e2e-kf")
      .toString
    val u35 = (1 to 9).map("xc" + _).mkString(" ")
    assert(u35.length == 35)
    val rows = Seq(
      (1L, s"${words("u", 22)} $s35"), // canonical copy of S
      (2L, s"${words("w", 22)} $u35"), // canonical copy of U
      // self-repeat behind distinct filler (entropy stays above the
      // quality cut): first T kept, second strips
      (3L, s"${words("v", 14)} $t35 $t35"),
      // both spans' canonicals live elsewhere → stripped to
      // whitespace → dropped; 18 distinct words clear the entropy cut
      (5L, s"$s35 $u35"))
    spark.createDataFrame(rows).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$inDir/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("e2e-kf-out")
      .toString
    val s = CurateCli.run(spark, CurateCli.parseArgs(Array(
      s"--input-dir=$inDir", s"--output-dir=$out", "--shards=2",
      "--min-words=5", "--strip-spans=keep-first")))
    assert(s.strippedEmpty == 1L, s.toString)
    assert(s.lowQuality == 0L && s.exactDups == 0L && s.nearDups == 0L)
    assert(s.curated == 3L)
    val dropped = spark.read.parquet(s"$out/dropped")
    assert(dropped.filter(col("stage") === "strip_spans")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(5L))
    val curated = spark.read.parquet(s"$out/curated")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the canonical copies survive IN PLACE; only non-canonical
    // occurrences left the text
    assert(curated(1L) == s"${words("u", 22)} $s35", curated(1L))
    assert(curated(2L) == s"${words("w", 22)} $u35")
    // the space before the second T is itself inside a duplicated
    // gram (" T[0:34]" occurs before BOTH copies), so it strips with
    // the copy — the canonical first T keeps its leading space
    assert(curated(3L) == s"${words("v", 14)} $t35", curated(3L))
    // a typo'd mode value is rejected, never silently downgraded to
    // the strip-every-copy rewrite
    val ex = intercept[IllegalArgumentException] {
      CurateCli.parseArgs(Array(s"--input-dir=$inDir",
        s"--output-dir=$out", "--strip-spans=keepfirst"))
    }
    assert(ex.getMessage.contains("keep-first"), ex.getMessage)
  }

  test("parseConfig accepts both documented and shipped key spellings") {
    val a = Discover.parseConfig(
      """{"aliases": {"GDL": ""}, "exclude_aliases": ["IMP"], "year_only": true}""")
    assert(a.titles == Map("GDL" -> None))
    assert(a.excludeTitles == Set("IMP") && a.yearOnly)
    val b = Discover.parseConfig(
      """{"titles": {"GDL": [1950, 1960]}, "exclude_titles": []}""")
    assert(b.titles == Map("GDL" -> Some("1950|1960")))
    assert(!b.yearOnly)
  }
}

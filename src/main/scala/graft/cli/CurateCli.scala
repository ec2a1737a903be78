package graft.cli

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup}
import graft.util.Iter

/** CLI entry point for the training-data curation pipeline — the user
  * surface that ties the curation families (x/d/t oracle rows) into
  * ONE job, the way ImporterCli/RebuilderCli tie the import/rebuild
  * families into the reference's surfaces:
  *
  * {{{
  * graft.cli.CurateCli --input-dir=DIR --output-dir=DIR
  *   [--lang=fr,de]        language allowlist (t3 heuristic) as the
  *                         FIRST stage — the cheapest cut, and every
  *                         downstream signal (perplexity, classifier,
  *                         stopword quality) is language-bound; the
  *                         SAME expression tree as the streaming e13
  *                         gate, so gate ≡ batch by construction
  *   [--lang-min-hits=1]   e13's stopword confidence floor
  *   [--eval-dir=DIR]      decontaminate against this eval corpus (d8)
  *   [--min-words=20]      x11 quality-rule floor
  *   [--max-overlap=2]     drop docs sharing >= this many eval shingles
  *   [--shards=8]          packed shards per split (x2 layout)
  *   [--semantic]          d15 semantic dedup over the input dir's
  *                         embeddings sidecar (vec_id = doc_id)
  *   [--semantic-tau=0.35] cosine threshold for --semantic
  *   [--tar-shards]        also write each split as WebDataset tar
  *                         shards (x13's manifested sink)
  *   [--distill]           train the lr1 quality classifier on the
  *                         rule verdicts and write per-doc scores —
  *                         the weight vector for the next ingest
  *                         run's streaming scoreGate
  *   [--pack-budget=N]     write per-split next-fit packed payloads
  *                         (l6: strict token budget, one row per
  *                         pack) under packed/SPLIT/
  *   [--chunk-len=N]       write per-split concat-and-chunk manifests
  *                         (x15; stream order = (shard, doc_id), the
  *                         shuffled pack order trainers want)
  *   [--dsir-target=DIR]   DSIR importance resampling (ds2) against
  *                         this target corpus, between the rule
  *                         filter and dedup
  *   [--gopher]            the Gopher rule battery (x19) after the
  *                         x11 rules, failing rule = audit reason
  *   [--ppl-cut]           CCNet tail cut (t14): drop each language's
  *                         worst KN-perplexity tertile
  *   [--strip-spans[=keep-first]]  corpus-wide duplicated-span
  *                         stripping: bare, the x18 winnow rewrite
  *                         (every duplicated span leaves every doc);
  *                         =keep-first, the x24 exact rewrite (one
  *                         canonical copy survives, Raffel's
  *                         "all but one")
  *                         (x18's rewrite) over the deduped
  *                         survivors; a doc stripped to nothing is
  *                         dropped, not shipped empty
  * }}}
  *
  * Stages, each an oracle-checked operator, audited per document:
  *   1. quality filter (x11 rules, FIRST failing rule as reason);
  *   2. exact dedup (d1: lowest id per content hash survives);
  *   3. near-dup span dedup (d12 winnow pairs → d7 clusters → longest
  *      member survives, the d9 policy);
  *   4. decontamination against the eval corpus (d8) when given;
  *   5. leakage-safe split keyed on the step-3 clusters (x12 — reuses
  *      the SAME cluster frame, so near-dups that survived as distinct
  *      documents still land in one split);
  *   6. split-partitioned parquet write, shard-numbered (x2 layout:
  *      deterministic seeded hash, not rand()).
  *
  * Outputs under --output-dir:
  *   curated/  split-partitioned parquet of survivors (+shard, pos);
  *   dropped/  (doc_id, stage, reason) audit frame — at corpus scale
  *             "why was this dropped" must be answerable from output;
  *   the returned [[CurateCli.Summary]] carries per-stage counts.
  *
  * Scale shape: every stage is the documented plan of its oracle row,
  * run over one verdict frame — every input document with `stage` and
  * `reason`, null while it survives. Each stage computes its drops over
  * the live documents and marks them on the frame, the first failing
  * stage winning: an id-keyed left join of its drop set, or for exact
  * dedup a window keyed by content hash. `dropped` and `curated` are
  * two filters of the final frame. The default pass checkpoints it twice:
  * after exact dedup (winnowing and the cluster survivors both read
  * it) and before the writes (both writes read it). An optional stage
  * checkpoints only its own drop set. Every [[CurateCli.Summary]] count
  * is an observed metric on an action the call runs anyway, and `run`
  * releases every checkpoint it made, on success or a throw.
  */
object CurateCli {

  case class Args(
      inputDir: String, outputDir: String,
      evalDir: Option[String] = None, minWords: Int = 20,
      maxOverlap: Int = 2, shards: Int = 8,
      semantic: Boolean = false, semanticTau: Double = 0.35,
      tarShards: Boolean = false, distill: Boolean = false,
      chunkLen: Int = 0, packBudget: Long = 0L,
      dsirTargetDir: Option[String] = None,
      stripSpans: Boolean = false, stripKeepFirst: Boolean = false,
      gopher: Boolean = false, pplCut: Boolean = false,
      langAllow: Option[Set[String]] = None, langMinHits: Int = 1)

  def parseArgs(argv: Array[String]): Args = {
    val kv = "--([a-z-]+)(?:=(.*))?".r
    val m = argv.collect { case kv(k, v) => k -> Option(v) }.toMap
    def req(k: String): String = m.getOrElse(k, None).getOrElse(
      throw new IllegalArgumentException(s"missing required --$k=..."))
    Args(
      inputDir = req("input-dir"),
      outputDir = req("output-dir"),
      evalDir = m.get("eval-dir").flatten,
      minWords = m.get("min-words").flatten.map(_.toInt).getOrElse(20),
      maxOverlap = m.get("max-overlap").flatten.map(_.toInt).getOrElse(2),
      shards = m.get("shards").flatten.map(_.toInt).getOrElse(8),
      semantic = m.contains("semantic"),
      semanticTau =
        m.get("semantic-tau").flatten.map(_.toDouble).getOrElse(0.35),
      tarShards = m.contains("tar-shards"),
      distill = m.contains("distill"),
      chunkLen = m.get("chunk-len").flatten.map(_.toInt).getOrElse(0),
      packBudget = m.get("pack-budget").flatten.map(_.toLong)
        .getOrElse(0L),
      dsirTargetDir = m.get("dsir-target").flatten,
      stripSpans = m.contains("strip-spans"),
      stripKeepFirst = m.get("strip-spans").flatten match {
        case Some("keep-first") => true
        case Some(other) => // a typo must not silently run the
          // strip-EVERY-copy rewrite on a corpus that asked for
          // keep-one-canonical
          throw new IllegalArgumentException(
            s"--strip-spans=$other: the only mode value is " +
              "'keep-first' (bare --strip-spans = winnow strip)")
        case None => false
      },
      gopher = m.contains("gopher"),
      pplCut = m.contains("ppl-cut"),
      langAllow = m.get("lang").flatten
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .map { s =>
          if (s.isEmpty) throw new IllegalArgumentException(
            "--lang= needs at least one language code")
          s
        },
      langMinHits =
        m.get("lang-min-hits").flatten.map(_.toInt).getOrElse(1))
  }

  case class Summary(
      input: Long, lowQuality: Long, exactDups: Long, nearDups: Long,
      semanticDups: Long, contaminated: Long, curated: Long,
      splits: Map[String, Long],
      distillWeights: Option[Seq[Double]] = None,
      dsirDropped: Long = 0L, strippedEmpty: Long = 0L,
      gopherDropped: Long = 0L, pplTailDropped: Long = 0L,
      langDropped: Long = 0L)

  /** The stage frames of one pipeline pass: survivors with their
    * leak-safe split, and the per-document audit rows. Their two
    * checkpoints pass to the caller's scope ([[Iter.scoped]]). */
  case class Frames(curated: DataFrame, dropped: DataFrame)

  /** The audit stages, in pipeline order: the `stage` of a dropped row. */
  private val Stages = Seq("lang", "quality", "gopher", "ppl", "dsir",
    "exact_dup", "near_dup", "semantic_dup", "strip_spans", "decontaminate")

  /** The split labels [[Curation.leakSafeSplit]] assigns. */
  private val Splits = Seq("train", "val", "test")

  /** Stages 1–5 as pure frames (no writes) — the composition the
    * c1_curate_pipeline oracle row chains in DuckDB end to end.
    * `curated` = survivors × (split); `dropped` = (doc_id, stage,
    * reason), one row per input document across the two frames.
    *
    * `embeds` (an embeddings sidecar keyed vec_id = doc_id) enables
    * the SEMANTIC dedup stage between span dedup and decontamination:
    * d15's cell-local cosine pruning (first-k-by-id centroid prefix,
    * k = max(16, n/100) — the SemDeDup sizing) drops every doc whose
    * embedding has a strictly-more-central τ-close cell neighbor.
    * Docs without an embedding row pass through unexamined. */
  def pipeline(spark: SparkSession, docs: DataFrame,
      eval: Option[DataFrame], minWords: Int, maxOverlap: Int,
      embeds: Option[DataFrame] = None,
      semanticTau: Double = 0.35,
      dsirTarget: Option[DataFrame] = None,
      stripSpans: Boolean = false, stripKeepFirst: Boolean = false,
      gopher: Boolean = false, pplCut: Boolean = false,
      langAllow: Option[Set[String]] = None,
      langMinHits: Int = 1): Frames = Iter.scoped { s =>
    // One verdict frame: every input document with `stage` and `reason`
    // null while it survives. Each stage computes its drops over the
    // live documents and marks them, so the first failing stage wins
    // and no document is ever in two places.
    def live(v: DataFrame): DataFrame = v.filter(col("stage").isNull)
    // a live document for which `drop` holds takes `stage` and `reason`
    def mark(v: DataFrame, stage: String, drop: Column,
        reason: Column): DataFrame = {
      val hit = col("stage").isNull && drop
      v.withColumn("reason", when(hit, reason).otherwise(col("reason")))
        .withColumn("stage", when(hit, lit(stage)).otherwise(col("stage")))
    }
    // a live document named in `drops` (doc_id, reason) takes `stage`
    def fold(v: DataFrame, stage: String, drops: DataFrame): DataFrame =
      mark(v.join(drops.select(col("doc_id"), lit(true).as("d_hit"),
          col("reason").as("d_reason")), Seq("doc_id"), "left"),
        stage, col("d_hit"), col("d_reason"))
        .drop("d_hit", "d_reason")
    // an optional stage materializes its drop set in a scope of its
    // own: the frame it folds into stays one plan, and what `op`
    // checkpointed for itself is freed once the drops are
    def optional(v: DataFrame, stage: String)(
        op: DataFrame => DataFrame): DataFrame =
      fold(v, stage, Iter.scoped(_.materialize(op(live(v)))))

    var v = docs.select(docs.columns.map(col) ++ Seq(
      lit(null).cast("string").as("stage"),
      lit(null).cast("string").as("reason")): _*)

    // 0. language allowlist (optional) — the FIRST cut: one narrow
    // row-local filter (the t3 n-gram heuristic with e13's stopword
    // confidence floor), the cheapest signal in the pipeline, and
    // every downstream stage is language-bound. EXACTLY the
    // streaming e13 gate's expression tree (IngestGate.langGate), so
    // the batch stage and the ingest gate agree by construction; the
    // audit reason carries the heuristic's verdict so "why was this
    // dropped" names the detected language.
    langAllow.foreach { langs =>
      v = optional(v, "lang") { in =>
        in.join(graft.streaming.IngestGate.langGate(in, langs, "text",
            langMinHits).select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), concat(lit("lang_"),
            graft.functions.TextAnalysis.langId(
              coalesce(col("text"), lit("")))).as("reason"))
      }
    }

    // 1. quality filter — the first failing x11 rule is the reason
    v = fold(v, "quality", Curation.qualityFilter(live(v), "doc_id",
        "text", minWords = minWords)
      .filter(!col("keep")).select(col("doc_id"), col("reason")))

    // 1.2 the Gopher rule battery (optional): the published
    // web-scale heuristic set, entirely row-local, with the first
    // failing rule as the per-document audit reason
    if (gopher) v = optional(v, "gopher") { in =>
      Curation.gopherRules(in, "doc_id", "text")
        .filter(!col("keep")).select(col("doc_id"), col("reason"))
    }

    // 1.3 CCNet perplexity tail cut (optional): score the survivors
    // with the corpus-trained KN model, keep each language's head
    // and middle tertiles (Wenzek et al. 2020's `head+middle` recipe)
    if (pplCut) v = optional(v, "ppl") { in =>
      Curation.perplexityBuckets(in, "doc_id", "text", "lang")
        .filter(col("bucket") === "tail")
        .select(col("doc_id"), lit("tail_bucket").as("reason"))
    }

    // 1.5 DSIR importance resampling against the target corpus
    // (optional): ds2's deterministic exp(logw−max) gate — the
    // distribution-shaping stage between rules and dedup
    dsirTarget.foreach { tgt =>
      v = optional(v, "dsir") { in =>
        Curation.dsirResample(in, tgt, "doc_id", "text")
          .filter(!col("keep"))
          .select(col("doc_id"), lit("importance_resample").as("reason"))
      }
    }

    // 2. exact dedup: the lowest live id per content hash survives —
    // d1's rule as a window over the verdict frame, which it reads
    // once, so the verdicts before it are computed once
    v = mark(v.withColumn("canon",
        min(when(col("stage").isNull, col("doc_id")))
          .over(Window.partitionBy(md5(col("text"))))),
      "exact_dup", col("doc_id") =!= col("canon"), lit("duplicate_text"))
      .drop("canon")
    // checkpoint 1 of 2: winnowing and the cluster survivors both
    // read the exact-dedup survivors
    val deduped = s.materialize(v)

    // 3. near-dup span dedup: winnow pairs -> clusters -> longest
    // wins. The clusters come back over their own checkpoint, which
    // the leak-safe split reads again.
    val kept2 = live(deduped)
    val clusters = Dedup.dupClusters(
      Dedup.winnowedDupPairs(kept2, "doc_id", "text"), "id_a", "id_b")
    val keepIds = Dedup.clusterSurvivors(clusters, kept2,
        "doc_id", "text")
      .select(col("keep_id"))
    v = fold(deduped, "near_dup", clusters
      .join(keepIds, clusters("member_id") === keepIds("keep_id"),
        "left_anti")
      .select(col("member_id").as("doc_id"),
        lit("duplicate_span").as("reason")))

    // 3.5 semantic dedup over the embeddings sidecar (optional):
    // d15's cell-local pruning on the surviving docs' vectors
    embeds.foreach { em =>
      v = optional(v, "semantic_dup") { in => Iter.scoped { s =>
        // the vector count rides the checkpoint action
        val (vecs, n) = s.observed(em
          .select(col("vec_id").cast("long").as("vec_id"),
            col("embedding"))
          .join(in.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi"), Seq(count(lit(1)).as("n")))
        val k = math.max(16L, n.getLong(0) / 100).toInt
        val centroids: Array[Array[Float]] = vecs
          .orderBy(col("vec_id")).limit(k)
          .collect().map(_.getSeq[Float](1).toArray)
        Dedup.semDedup(vecs, "vec_id", "embedding", centroids,
            semanticTau)
          .filter(!col("keep"))
          .select(col("vec_id").as("doc_id"),
            lit("semantic_duplicate").as("reason"))
      }}
    }

    // 3.8 corpus-wide duplicated-span stripping (optional): x18's
    // rewrite over the deduped survivors — duplicated spans that
    // outlived near-dup dedup as sub-document fragments are removed
    // from the TEXT itself (RefinedWeb's span removal, applied after
    // dedup so whole-document duplicates don't first shred each
    // other); a doc stripped to nothing is dropped with an audit
    // row, never shipped empty
    val stripping = stripSpans || stripKeepFirst
    if (stripping) {
      val st = Iter.scoped { inner =>
        val in = live(v)
        inner.materialize(
          if (stripKeepFirst)
            // x24's variant: exact keep-first spans — ONE canonical
            // copy of every duplicated run survives somewhere in the
            // corpus, the rest is excised from the text (Raffel's "all
            // but one")
            Curation.exciseSpansText(in, "doc_id", "text",
                Dedup.exactDupSpansKeepFirst(in, "doc_id", "text"))
              .select(col("doc_id"), col("clean"),
                (length(trim(col("clean"))) === 0).as("emptied"))
          else
            Curation.stripDupSpans(in, "doc_id", "text")
              .select(col("doc_id"), col("clean_text").as("clean"),
                (col("kept_tokens") === 0L).as("emptied")))
      }
      val rewritten = v.join(st.select(col("doc_id"), col("clean")),
          Seq("doc_id"), "left")
        .select(v.columns.map {
          case "text" => coalesce(col("clean"), col("text")).as("text")
          case c => col(c)
        }: _*)
      v = fold(rewritten, "strip_spans", st.filter(col("emptied"))
        .select(col("doc_id"), lit("fully_duplicated").as("reason")))
    }

    // 4. decontamination against the eval corpus (optional). The
    // overlap is a per-document count, so it runs over the first
    // survivor set that carries the final text: the exact-dedup
    // checkpoint, unless the strip stage rewrote the text since.
    eval.foreach { ev =>
      v = fold(v, "decontaminate", Curation.contamination(
          live(if (stripping) v else deduped), ev, "doc_id", "text")
        .filter(col("n_overlap") >= maxOverlap)
        .select(col("doc_id"), lit("eval_overlap").as("reason")))
    }
    // checkpoint 2 of 2: the curated and dropped frames both read
    // it; every other checkpoint of the pass is freed when the
    // scope exits
    val verdicts = s.materialize(v)

    // 5. leakage-safe split over the SAME near-dup clusters
    val kept = live(verdicts).drop("stage", "reason")
    val split = Curation.leakSafeSplit(kept, "doc_id", clusters)
      .select(col("doc_id"), col("split"))
    Frames(
      curated = kept.join(split, "doc_id"),
      dropped = verdicts.filter(col("stage").isNotNull)
        .select(col("doc_id"), col("stage"), col("reason")))
  }

  def run(spark: SparkSession, args: Args): Summary = Iter.scoped { s =>
    graft.util.LocalFs.install(spark)
    val docs = graft.util.Tables.documents(spark, args.inputDir)
    // Every Summary count is an observed metric on an action the call
    // runs anyway: `input` on the first action that reads the input,
    // the per-stage drops on the dropped/ write, the curated and
    // per-split counts on the curated/ write.
    val read, droppedBy, curatedBy = new Observation()
    val frames = pipeline(spark,
      docs.observe(read, count(lit(1)).as("n")),
      args.evalDir.map(ed => graft.util.Tables.documents(spark, ed)),
      args.minWords, args.maxOverlap,
      embeds = if (args.semantic)
        Some(graft.util.Tables.embeddings(spark, args.inputDir))
      else None,
      semanticTau = args.semanticTau,
      dsirTarget = args.dsirTargetDir.map(dt =>
        graft.util.Tables.documents(spark, dt)),
      stripSpans = args.stripSpans,
      stripKeepFirst = args.stripKeepFirst, gopher = args.gopher,
      pplCut = args.pplCut, langAllow = args.langAllow,
      langMinHits = args.langMinHits)
    // a frame is materialized only when a second action reads it
    def readTwice(df: DataFrame, twice: Boolean): DataFrame =
      if (twice) s.materialize(df) else df
    // 6. shard-numbered, split-partitioned write (x2's seeded
    // layout; shard/pos join back on id so payload columns ride
    // along)
    val shards = Curation.shuffleShards(frames.curated, "doc_id",
      args.shards, seed = "curate")
    val curated = readTwice(frames.curated.join(shards, "doc_id"),
      args.tarShards || args.packBudget > 0 || args.chunkLen > 0)
    val curatedCounts = count(lit(1)).as("n") +:
      Splits.map(s => count_if(col("split") === s).as(s))
    curated.observe(curatedBy, curatedCounts.head, curatedCounts.tail: _*)
      .write.mode("overwrite").partitionBy("split")
      .parquet(s"${args.outputDir}/curated")
    val dropped = readTwice(frames.dropped, args.distill)
    val stageCounts = Stages.map(s => count_if(col("stage") === s).as(s))
    dropped.observe(droppedBy, stageCounts.head, stageCounts.tail: _*)
      .write.mode("overwrite").parquet(s"${args.outputDir}/dropped")
    def longs(o: Observation): Map[String, Long] =
      o.get.map { case (k, n) => k -> n.asInstanceOf[Long] }
    val drops = longs(droppedBy)
    val kept = longs(curatedBy)
    // the non-empty splits, as a group-by over curated/ would list
    val splits = Splits.map(s => s -> kept(s)).filter(_._2 > 0)

    // optional delivery format: one tar shard set per split (x13's
    // manifested sink — the layout trainers stream)
    if (args.tarShards)
      splits.foreach { case (sp, _) =>
        graft.sources.TarShards.write(
          curated.filter(col("split") === sp)
            .select(col("doc_id").cast("string").as("name"),
              encode(col("text"), "UTF-8").as("payload")),
          "name", "payload", s"${args.outputDir}/shards/$sp",
          nShards = args.shards)
      }

    // optional model distillation: train the lr1 classifier on the
    // rule verdicts over the FULL input (keeps and drops both carry
    // signal), write every document's score — the serving artifact
    // the next ingest run's IngestGate.scoreGate ships as literals
    val weights =
      if (!args.distill) None
      else {
        import graft.operators.LogReg
        val t = coalesce(col("text"), lit(""))
        val (f1, f2, f3) = LogReg.qualityFeatures(t, length(t))
        // the stage-1 verdicts are already materialized in the audit
        // frame — an anti-join against its quality drops beats
        // re-running the regex-heavy rule pass over the full corpus
        val qualityDrops = dropped
          .filter(col("stage") === "quality").select(col("doc_id"))
        val feats = docs
          .join(qualityDrops.withColumn("q_drop", lit(true)),
            Seq("doc_id"), "left")
          .select(col("doc_id"), f1.as("f1"), f2.as("f2"), f3.as("f3"),
            col("q_drop").isNull.cast("double").as("y"))
          .filter(col("f1") > 0.0) // zero-token rows have NaN features
        val fs = Seq("f1", "f2", "f3")
        val w = LogReg.train(feats, "y", fs)
        feats.select(col("doc_id"),
            (LogReg.score(w, fs).cast("decimal(24,6)") *
              lit(1000000L).cast("decimal(7,0)")).cast("bigint")
              .as("score_e6"))
          .write.mode("overwrite").parquet(s"${args.outputDir}/scores")
        Some(w.toSeq)
      }

    // optional packed-payload delivery (l6): per split, the curated
    // survivors next-fit-packed into strict token-budget rows — the
    // trainer-ready payload, one exchange per split, the whole
    // tokenize → curate → pack → write chain closed in one CLI run
    if (args.packBudget > 0) {
      val packable = curated.select(col("doc_id"), col("split"),
        col("shard"), col("text"),
        graft.functions.TextAnalysis.tokenCount(col("text"))
          .cast("long").as("n_tok"))
      splits.foreach { case (sp, _) =>
        graft.operators.Layout.packPayloads(
          packable.filter(col("split") === sp),
          "doc_id", "n_tok", "text", "shard", args.packBudget)
        .write.mode("overwrite")
        .parquet(s"${args.outputDir}/packed/$sp")
      }
    }

    // optional concat-and-chunk manifests (x15): per split, every
    // document's token-range in the (shard, doc_id)-ordered virtual
    // stream — the shuffled pack order a trainer consumes
    if (args.chunkLen > 0) {
      val counted = curated.select(col("doc_id"), col("split"),
        col("shard"),
        size(org.apache.spark.sql.functions.filter(
          split(trim(col("text")), "\\s+"), w => w =!= ""))
          .cast("bigint").as("n_tok"))
      splits.foreach { case (sp, _) =>
        Curation.concatChunkOffsets(
          counted.filter(col("split") === sp), "doc_id", "n_tok",
          col("shard"), args.chunkLen)
        .write.mode("overwrite")
        .parquet(s"${args.outputDir}/chunks/$sp")
      }
    }

    Summary(
      input = longs(read)("n"),
      lowQuality = drops("quality"),
      exactDups = drops("exact_dup"),
      nearDups = drops("near_dup"),
      semanticDups = drops("semantic_dup"),
      contaminated = drops("decontaminate"),
      curated = kept("n"),
      distillWeights = weights,
      dsirDropped = drops("dsir"),
      strippedEmpty = drops("strip_spans"),
      gopherDropped = drops("gopher"),
      pplTailDropped = drops("ppl"),
      langDropped = drops("lang"),
      splits = splits.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = SparkSession.builder()
      .appName("graft-curate")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val s = run(spark, args)
    // one machine-readable line, the Bench/Manifest convention
    import graft.util.Json._
    println(render(JObj(Seq(
      "input" -> JInt(s.input), "low_quality" -> JInt(s.lowQuality),
      "exact_dups" -> JInt(s.exactDups), "near_dups" -> JInt(s.nearDups),
      "semantic_dups" -> JInt(s.semanticDups),
      "contaminated" -> JInt(s.contaminated),
      "lang_dropped" -> JInt(s.langDropped),
      "dsir_dropped" -> JInt(s.dsirDropped),
      "stripped_empty" -> JInt(s.strippedEmpty),
      "curated" -> JInt(s.curated),
      "splits" -> JObj(s.splits.toSeq.sorted.map {
        case (k, v) => k -> (JInt(v): JValue) }))
      ++ s.distillWeights.map(w =>
        "distill_weights" -> (JArr(w.map(JDouble(_))): JValue)))))
    spark.stop()
  }
}

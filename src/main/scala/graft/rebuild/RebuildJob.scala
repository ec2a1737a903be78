package graft.rebuild

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Canonical._
import graft.text.PaperRebuild

/** The rebuild stage: canonical issues + pages → rebuilt (solr-format)
  * content items.
  *
  * Spark-first shape (SURVEY.md §3.2): instead of the reference's
  * per-issue S3 RPC + in-memory dict joins
  * (rebuilders/helpers.py:136-361), the whole stage is one declarative
  * plan —
  *
  *   issues --explode CIs--> cis --explode page refs--> (ci, pageNo)
  *     ⋈ pages on (issueId, pageNo)      [shuffle join on issue/page key]
  *     | filter regions pOf == ciId       [nested HOF, no shuffle]
  *     groupBy ci, ordered collect        [single shuffle]
  *     typed map: text-rebuild fold       [graft.text.PaperRebuild]
  *
  * At 100 TB the only shuffles are the CI⋈page join and the per-CI
  * regroup, both keyed by canonical IDs (uniformly distributed by
  * construction — alias+date prefixes). A corrupt issue never kills the
  * job: CIs that reference missing pages are diverted to a quarantine
  * output, mirroring the reference's `has_problem` path
  * (paper_rebuilders.py:296-303, core.py:54-88).
  */
object RebuildJob {

  /** Declared (never inferred) schema for canonical pages — SURVEY.md §1.2. */
  val pageSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("cc", BooleanType),
    StructField("r", ArrayType(StructType(Seq(
      StructField("c", ArrayType(IntegerType)),
      StructField("pOf", StringType),
      StructField("p", ArrayType(StructType(Seq(
        StructField("c", ArrayType(IntegerType)),
        StructField("l", ArrayType(StructType(Seq(
          StructField("c", ArrayType(IntegerType)),
          StructField("t", ArrayType(StructType(Seq(
            StructField("c", ArrayType(IntegerType)),
            StructField("tx", StringType),
            StructField("s", IntegerType),
            StructField("hy", BooleanType),
            StructField("nf", StringType),
            StructField("gn", BooleanType)))))))))))))))))))

  /** Declared schema for canonical issues (fields the rebuild consumes).
    * `iiif_link` and image coords `c` live in `m` or at the CI top level
    * depending on importer vintage (helpers.py:417-437) — both are read. */
  val issueSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("st", StringType),
    StructField("sm", StringType),
    StructField("i", ArrayType(StructType(Seq(
      StructField("m", StructType(Seq(
        StructField("id", StringType),
        StructField("tp", StringType),
        StructField("pp", ArrayType(IntegerType)),
        StructField("lg", StringType),
        StructField("l", StringType),
        StructField("t", StringType),
        StructField("ro", IntegerType),
        StructField("iiif_link", StringType),
        StructField("c", ArrayType(IntegerType))))),
      StructField("c", ArrayType(IntegerType)),
      StructField("iiif_link", StringType)))))))

  /** Read canonical issues JSONL(.bz2); Spark decompresses bz2 natively
    * and splits multi-file inputs per file (S6 in SURVEY.md §2.1). */
  def readIssues(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(issueSchema).json(path)

  def readPages(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(pageSchema).json(path)

  /** Input row for the typed rebuild fold. */
  case class CiInput(
      ci_id: String,
      st: String,
      sm: String,
      lg: Option[String],
      tp: Option[String],
      title: Option[String],
      ro: Option[Int],
      iiif_link: Option[String],
      coords: Option[Seq[Int]],
      pp: Seq[Int],
      pages: Seq[PageInput])

  case class PageInput(
      page_no: Int,
      page_id: String,
      cc: Option[Boolean],
      regions: Seq[CRegion])

  /** Explode issues into content items with inherited issue metadata
    * (R1 `rejoin_cis`, rebuilders/helpers.py:314-361). Source type/medium
    * default to newspaper/print when the canonical data predates those
    * fields (core.py:196-206). */
  def contentItems(issues: DataFrame): DataFrame =
    issues
      .withColumn("st", coalesce(col("st"), lit("newspaper")))
      .withColumn("sm", coalesce(col("sm"), lit("print")))
      .select(col("id").as("issue_id"), col("st"), col("sm"),
        explode(col("i")).as("ci"))
      .select(
        col("ci.m.id").as("ci_id"),
        col("issue_id"), col("st"), col("sm"),
        coalesce(col("ci.m.lg"), col("ci.m.l")).as("lg"),
        col("ci.m.tp").as("tp"),
        col("ci.m.t").as("title"),
        col("ci.m.ro").as("ro"),
        // m takes precedence for the link, the CI top level for coords
        // (get_iiif_and_coords, helpers.py:430-434)
        coalesce(col("ci.m.iiif_link"), col("ci.iiif_link")).as("iiif_link"),
        coalesce(col("ci.c"), col("ci.m.c")).as("coords"),
        array_sort(array_distinct(col("ci.m.pp"))).as("pp"))

  /** Pages keyed for the join: issue id + numeric page number parsed from
    * the canonical page id (C2/C25). */
  def keyedPages(pages: DataFrame): DataFrame =
    pages.select(
      regexp_replace(col("id"), "-p\\d+$", "").as("issue_id"),
      regexp_extract(col("id"), "-p(\\d+)$", 1).cast("int").as("page_no"),
      col("id").as("page_id"), col("cc"), col("r"))

  /** The joined, per-CI-grouped frame ready for the typed fold. Rows with
    * `missing_page = true` must be quarantined, not rebuilt (F5).
    *
    * CI metadata rides through the page-ref explode and is regrouped
    * with `first()` — one scan of the issues and two shuffles total
    * (the page join and the per-CI regroup). The alternative join-back
    * against the CI frame costs a third shuffle plus a second scan of
    * the issues at 100 TB. The duplicated metadata per exploded row is
    * bounded: `pp` arrays are a handful of page refs. */
  def joined(issues: DataFrame, pages: DataFrame): DataFrame = {
    val cis = contentItems(issues)
    val kp = keyedPages(pages)
    // explode_outer: a CI with no page refs keeps one null row and lands
    // in quarantine instead of vanishing (F4, rebuilder.py:182-199)
    cis.select(col("ci_id"), col("issue_id"),
      // CI metadata rides the explode packed in ONE struct so the regroup
      // pays a single first() buffer instead of ten
      struct(col("st"), col("sm"), col("lg"), col("tp"), col("title"),
        col("ro"), col("iiif_link"), col("coords"), col("pp")).as("meta"),
      explode_outer(col("pp")).as("page_no"))
      .join(kp, Seq("issue_id", "page_no"), "left")
      // region surgery stays inside the row: no shuffle (SURVEY §2.3 J3-J8)
      .withColumn("regions",
        filter(col("r"), r => r.getField("pOf") === col("ci_id")))
      .groupBy(col("ci_id"))
      .agg(
        sort_array(collect_list(struct(
          col("page_no"), col("page_id"), col("cc"), col("regions"))))
          .as("pages"),
        max(col("page_id").isNull.cast("int")).as("missing_page"),
        first(col("meta")).as("meta"))
      .select(col("ci_id"), col("pages"), col("missing_page"),
        col("meta.*"))
  }

  /** Language filter (rebuilder.py:272-274 `ci["lg"] in filter_language`)
    * applied BEFORE the rebuild fold — `lg` passes through the fold
    * unchanged, so filtering early is semantics-preserving and skips the
    * expensive recompose for excluded languages. A null `lg` is excluded
    * when a filter is set, matching Python `in`. */
  private def langFilter(languages: Option[Seq[String]]): Column =
    languages.filter(_.nonEmpty)
      .map(ls => col("lg").isin(ls: _*)).getOrElse(lit(true))

  /** Full solr rebuild (R5, rebuilders/helpers.py:176-259).
    *
    * @param ts injected run timestamp — parameterized so golden tests are
    *           reproducible (the reference stamps wall-clock, which its
    *           own tests must exclude; SURVEY.md §7.4 risk 6).
    * @param languages optional language allow-list (rebuilder.py:272).
    */
  def rebuildSolr(spark: SparkSession, issues: DataFrame, pages: DataFrame,
      ts: String, languages: Option[Seq[String]] = None): Dataset[RebuiltCI] = {
    import spark.implicits._
    joined(issues, pages)
      .filter(col("missing_page") === 0 && langFilter(languages))
      .as[CiInput]
      .map(ci => rebuildOne(ci, ts))
  }

  /** Passim-format rebuild (R6, rebuilders/helpers.py:262-311). Unlike
    * solr, images are not skipped (the reference recomposes every CI). */
  def rebuildPassim(spark: SparkSession, issues: DataFrame,
      pages: DataFrame,
      languages: Option[Seq[String]] = None): Dataset[PassimDoc] = {
    import spark.implicits._
    joined(issues, pages)
      .filter(col("missing_page") === 0 && langFilter(languages))
      .as[CiInput]
      .map { ci =>
        val alias = ci.ci_id.split("-").head
        val d = ci.ci_id.split("-").slice(1, 4).mkString("-")
        val ccs = ci.pages.map(_.cc)
        val cc = if (ccs.nonEmpty && ccs.forall(_.isDefined))
          Some(ccs.forall(_.contains(true))) else None
        var text = ""
        val pagesOut = ci.pages.map { p =>
          val fold = PaperRebuild.rebuildPagePassim(p.regions, ci.lg, text)
          text = fold.text
          PassimPage(p.page_id, p.page_no, fold.regions)
        }
        PassimDoc(alias, d, ci.ci_id, cc, mapType(ci.tp), ci.lg, ci.title,
          pagesOut, text)
      }
  }

  // ---- audio (radio broadcast) path: records replace pages, time codes
  // replace boxes (audio_rebuilders.py; SURVEY.md §7.4 risk 8 — the
  // polymorphism is two typed pipelines sharing the CI assembly) ----

  /** Declared schema for canonical audio records. */
  val recordSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("cc", BooleanType),
    StructField("stt", StringType),
    StructField("dur", DoubleType),
    StructField("s", ArrayType(StructType(Seq(
      StructField("tc", ArrayType(DoubleType)),
      StructField("pOf", StringType),
      StructField("u", ArrayType(StructType(Seq(
        StructField("tc", ArrayType(DoubleType)),
        StructField("speaker", StringType),
        StructField("ss", ArrayType(StructType(Seq(
          StructField("tc", ArrayType(DoubleType)),
          StructField("t", ArrayType(StructType(Seq(
            StructField("tc", ArrayType(DoubleType)),
            StructField("tx", StringType)))))))))))))))))))

  /** Declared schema for audio issues (radio broadcasts). */
  val audioIssueSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("st", StringType),
    StructField("sm", StringType),
    StructField("rc", StringType),
    StructField("rp", StringType),
    StructField("i", ArrayType(StructType(Seq(
      StructField("m", StructType(Seq(
        StructField("id", StringType),
        StructField("tp", StringType),
        StructField("rr", ArrayType(IntegerType)),
        StructField("lg", StringType),
        StructField("t", StringType),
        StructField("ro", IntegerType))))))))))

  def readAudioIssues(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(audioIssueSchema).json(path)

  def readRecords(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(recordSchema).json(path)

  case class AudioCiInput(
      ci_id: String,
      st: String,
      sm: String,
      rc: Option[String],
      rp: Option[String],
      lg: Option[String],
      tp: Option[String],
      title: Option[String],
      ro: Option[Int],
      rr: Seq[Int],
      records: Seq[RecordInput])

  case class RecordInput(
      rec_no: Int,
      rec_id: String,
      stt: Option[String],
      dur: Option[Double],
      sections: Seq[ASection])

  /** Audio solr rebuild: same plan shape as the paper path — explode CIs,
    * join records on (issueId, recNo), in-row section filter by pOf,
    * ordered group, typed fold (R1/R2/R4/R8 audio variants). */
  def rebuildAudioSolr(spark: SparkSession, issues: DataFrame,
      records: DataFrame, ts: String,
      languages: Option[Seq[String]] = None): Dataset[RebuiltAudioCI] = {
    import spark.implicits._
    joinedAudio(spark, issues, records, languages)
      .map(ci => rebuildAudioOne(ci, ts))
  }

  /** Audio passim rebuild — the working completion of the reference's
    * TODO audio passim path (see [[graft.model.Canonical.PassimAudio]]):
    * passim docs with an `audios` array of per-token time-coded regions.
    */
  def rebuildAudioPassim(spark: SparkSession, issues: DataFrame,
      records: DataFrame,
      languages: Option[Seq[String]] = None): Dataset[PassimAudioDoc] = {
    import spark.implicits._
    joinedAudio(spark, issues, records, languages).map { ci =>
      val alias = ci.ci_id.split("-").head
      val d = ci.ci_id.split("-").slice(1, 4).mkString("-")
      var text = ""
      val audios = ci.records.map { r =>
        val fold = graft.text.AudioRebuild
          .rebuildRecordPassim(r.sections, ci.lg, text)
        text = fold.text
        PassimAudio(r.rec_id, r.rec_no, fold.regions)
      }
      // audio cc is true by default (helpers.py:221)
      PassimAudioDoc(alias, d, ci.ci_id, Some(true), mapType(ci.tp), ci.lg,
        ci.title, audios, text)
    }
  }

  private def joinedAudio(spark: SparkSession, issues: DataFrame,
      records: DataFrame,
      languages: Option[Seq[String]] = None): Dataset[AudioCiInput] = {
    import spark.implicits._
    joinedAudioRaw(issues, records)
      .filter(col("missing_rec") === 0 && langFilter(languages))
      .as[AudioCiInput]
  }

  private def joinedAudioRaw(issues: DataFrame,
      records: DataFrame): DataFrame = {
    val cis = issues
      .withColumn("st", coalesce(col("st"), lit("radio_broadcast")))
      .withColumn("sm", coalesce(col("sm"), lit("audio")))
      .select(col("id").as("issue_id"), col("st"), col("sm"),
        col("rc"), col("rp"), explode(col("i")).as("ci"))
      .select(
        col("ci.m.id").as("ci_id"),
        col("issue_id"), col("st"), col("sm"), col("rc"), col("rp"),
        col("ci.m.lg").as("lg"),
        col("ci.m.tp").as("tp"),
        col("ci.m.t").as("title"),
        col("ci.m.ro").as("ro"),
        array_sort(array_distinct(col("ci.m.rr"))).as("rr"))
    val kr = records.select(
      regexp_replace(col("id"), "-r\\d+$", "").as("issue_id"),
      regexp_extract(col("id"), "-r(\\d+)$", 1).cast("int").as("rec_no"),
      col("id").as("rec_id"), col("stt"), col("dur"), col("s"))
    // same two-shuffle shape as the paper path: metadata rides through
    // the record-ref explode, no join-back
    cis.select(col("ci_id"), col("issue_id"), col("st"), col("sm"),
      col("rc"), col("rp"), col("lg"), col("tp"), col("title"), col("ro"),
      col("rr"),
      explode_outer(col("rr")).as("rec_no"))
      .join(kr, Seq("issue_id", "rec_no"), "left")
      .withColumn("sections",
        filter(col("s"), sec => sec.getField("pOf") === col("ci_id")))
      .groupBy(col("ci_id"))
      .agg(
        sort_array(collect_list(struct(col("rec_no"), col("rec_id"),
          col("stt"), col("dur"), col("sections")))).as("records"),
        max(col("rec_id").isNull.cast("int")).as("missing_rec"),
        first(col("st")).as("st"), first(col("sm")).as("sm"),
        first(col("rc")).as("rc"), first(col("rp")).as("rp"),
        first(col("lg")).as("lg"), first(col("tp")).as("tp"),
        first(col("title")).as("title"), first(col("ro")).as("ro"),
        first(col("rr")).as("rr"))
  }

  def rebuildAudioOne(ci: AudioCiInput, ts: String): RebuiltAudioCI = {
    val ciNum = ci.ci_id.split("-").last
    val d = ci.ci_id.split("-").slice(1, 4).mkString("-")
    val mappedTp = mapType(ci.tp)
    val ro = ci.ro.getOrElse(ciNum.drop(1).toInt)
    // radio broadcasts never have OLR (helpers.py:225)
    val olr = false
    // stt/dur come from the CI's first record (helpers.py:341-353)
    val first = ci.records.headOption
    var ft = ""
    val ssb = Seq.newBuilder[Int]
    val ub = Seq.newBuilder[Int]
    val sbk = Seq.newBuilder[Int]
    val rreb = ci.records.map { r =>
      val fold = graft.text.AudioRebuild.rebuildRecord(r.sections, ci.lg, ft)
      ft = fold.text
      ssb ++= fold.speechSegOffsets
      ub ++= fold.utteranceOffsets
      sbk ++= fold.sectionOffsets
      RebuiltRecord(r.rec_id, r.rec_no, fold.tokens, Nil, fold.sections)
    }
    RebuiltAudioCI(ci.ci_id, ts, ci.rr, d, cc = true, olr, ci.st, ci.sm,
      ci.lg, mappedTp, ro, ci.title, ci.rc, ci.rp,
      first.flatMap(_.stt), first.flatMap(_.dur),
      rreb, ssb.result(), ub.result(), sbk.result(), ft)
  }

  /** CIs whose pages could not be found — the quarantine side-output. */
  def quarantine(issues: DataFrame, pages: DataFrame): DataFrame =
    joined(issues, pages)
      .filter(col("missing_page") > 0)
      .select(col("ci_id"), lit("missing page").as("error"))

  /** Audio CIs whose records could not be found — the audio twin of
    * [[quarantine]] (joinedAudio drops them from the rebuild; this
    * surfaces what was dropped). */
  def quarantineAudio(issues: DataFrame, records: DataFrame): DataFrame =
    joinedAudioRaw(issues, records)
      .filter(col("missing_rec") > 0)
      .select(col("ci_id"), lit("missing record").as("error"))

  /** Rebuild a single content item (recompose_ci_from_page_solr,
    * paper_rebuilders.py:177-230). */
  def rebuildOne(ci: CiInput, ts: String): RebuiltCI = {
    val issueId = ci.ci_id.split("-").dropRight(1).mkString("-")
    val ciNum = ci.ci_id.split("-").last
    val d = ci.ci_id.split("-").slice(1, 4).mkString("-")
    val mappedTp = mapType(ci.tp)
    val ro = ci.ro.getOrElse(ciNum.drop(1).toInt)
    val olr = mappedTp.isDefined && ci.st != "radio_broadcast"
    // cc consensus: defined iff every page has cc (A9,
    // paper_rebuilders.py:314-317)
    val ccs = ci.pages.map(_.cc)
    val cc = if (ccs.nonEmpty && ccs.forall(_.isDefined))
      Some(ccs.forall(_.contains(true))) else None

    if (mappedTp.contains("img")) {
      // the canonical link points at the page's info.json (or a stale
      // image request) — reconstruct the CI's own image-area request
      // (helpers.py:231, reconstruct_iiif_link)
      RebuiltCI(ci.ci_id, ts, ci.pp, d, cc, olr, ci.st, ci.sm, ci.lg,
        mappedTp, ro, ci.title,
        graft.functions.Iiif.reconstructImageLink(ci.iiif_link, ci.coords),
        None, None, None, None, None)
    } else {
      var ft = ""
      val lb = Seq.newBuilder[Int]
      val pb = Seq.newBuilder[Int]
      val rb = Seq.newBuilder[Int]
      val ppreb = ci.pages.map { p =>
        val fold = PaperRebuild.rebuildPage(p.regions, ci.lg, ft)
        ft = fold.text
        lb ++= fold.lineOffsets
        pb ++= fold.paraOffsets
        rb ++= fold.regionOffsets
        RebuiltPage(p.page_id, p.page_no, fold.tokens, fold.regions)
      }
      RebuiltCI(ci.ci_id, ts, ci.pp, d, cc, olr, ci.st, ci.sm, ci.lg,
        mappedTp, ro, ci.title, None,
        Some(ppreb), Some(lb.result()), Some(pb.result()),
        Some(rb.result()), Some(ft))
    }
  }

  /** Write rebuilt CIs as bz2 JSONL partitioned by (alias, year) — the
    * reference's per-`{alias}-{year}` directory layout re-expressed as a
    * partitioned write (S9; a hash shuffle on (alias, year) before the
    * write replaces its FileLock + append, core.py:429-437's own TODO). */
  def writeSolr(ds: Dataset[RebuiltCI], outPath: String): Unit =
    writeJsonl(ds.toDF(), outPath)

  /** Write any rebuilt frame carrying a canonical `id` column (solr,
    * passim, audio) as bz2 JSONL partitioned by (alias, year) — the
    * shared sink behind [[writeSolr]] and [[graft.cli.RebuilderCli]].
    * Overwrites are dynamic: only the partitions actually written are
    * replaced (see [[graft.jobs.ImportJob.write]]). The rows are
    * hash-partitioned by (alias, year) into an explicit count first
    * ([[graft.jobs.ImportJob.byAliasYear]]), so each pair gets exactly
    * one file and the write runs on every shuffle partition. */
  def writeJsonl(df: DataFrame, outPath: String,
      writeMode: String = "overwrite"): Unit =
    graft.jobs.ImportJob.byAliasYear(df, col("id"))
      .write.mode(writeMode)
      .partitionBy("alias", "year")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "bzip2")
      .json(outPath)
}

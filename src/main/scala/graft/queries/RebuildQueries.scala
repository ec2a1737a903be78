package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rebuild.RebuildJob
import graft.util.Tables

/** Oracle-checked coverage for the rebuild stage (SURVEY.md §2.9).
  *
  * The rebuild consumes canonical issues/pages, not the TPC-ish tables —
  * so these queries first synthesize canonical-shaped issues and pages
  * FROM `documents` (one single-line, single-region page per document),
  * run the full RebuildJob machinery (explode → join → region filter →
  * group → typed fold), and emit fields DuckDB can recompute directly
  * from `documents`: for a single-line page the rebuilt fulltext is
  * exactly the whitespace tokens joined by single spaces plus a trailing
  * space (solr) or newline (passim).
  *
  * Synthetic ID scheme (shared with the DuckDB oracles): 20 aliases
  * `D0..D19` (doc_id mod 20), one issue per document dated
  * 2000-01-01 + (doc_id div 20) days, TWO content items per issue —
  * i0001 a rebuildable article holding the document text, i0002 an image
  * (every 5th document) or an ad with no regions — so the manifest-stats
  * queries aggregate non-trivially per (alias, year).
  */
object RebuildQueries {

  private def alias: Column = concat(lit("D"), expr("doc_id % 20"))
  private def dateStr: Column =
    date_format(date_add(lit("2000-01-01").cast("date"),
      expr("cast(doc_id div 20 as int)")), "yyyy-MM-dd")
  def issueId: Column = concat_ws("-", alias, dateStr, lit("a"))
  private def ciId(n: Int): Column = concat(issueId, lit(f"-i$n%04d"))

  /** DuckDB fragment for the same issue id. */
  val issueIdSql: String =
    "'D' || CAST(doc_id % 20 AS VARCHAR) || '-' || " +
      "strftime(DATE '2000-01-01' + CAST(doc_id // 20 AS INT), '%Y-%m-%d') || '-a'"

  private def box: Column = array(lit(0), lit(0), lit(1), lit(1))

  /** One synthetic KB DIDL issue on disk for the i1 row: the layout
    * KbImporter.detectIssues walks (newspaper/YYYY/MM/DD/
    * DDD_<record>_mpeg21/didl.xml + ALTO), a single page whose one
    * TextBlock holds the document's first 20 whitespace tokens, one
    * article zoned onto that block. Dates are pure doc_id arithmetic
    * (day/month/year below) so the DuckDB oracle can mint the same
    * issue ids; PPN `graft1` makes every issue share the alias
    * `kbgraft1` while years vary — the partitioned write writes real
    * multi-partition output. */
  private[graft] def writeKbIssue(base: java.nio.file.Path, docId: Long,
      text: String): Unit = {
    val n = docId / 10
    val day = 1 + n % 28
    val month = 1 + (n / 28) % 12
    val year = 1900 + n / 336
    val num = f"$docId%09d"
    val dir = base.resolve(f"newspaper/$year%04d/$month%02d/$day%02d/" +
      f"DDD_${num}_mpeg21")
    java.nio.file.Files.createDirectories(dir)
    val toks = text.trim.split("\\s+").filter(_.nonEmpty).take(20)
    val strings = toks.zipWithIndex.map { case (t, j) =>
      s"""<String ID="S$j" HPOS="${20 + 40 * j}" VPOS="24" WIDTH="38" """ +
        s"""HEIGHT="20" CONTENT="$t" WC="1.00"/>"""
    }.mkString("\n          ")
    val alto =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<alto xmlns="http://schema.ccs-gmbh.com/ALTO">
         | <Layout><Page ID="PAGE1"><PrintSpace ID="PS1" HPOS="0" VPOS="0" WIDTH="2000" HEIGHT="3000">
         |  <TextBlock ID="TB1" HPOS="10" VPOS="10" WIDTH="1000" HEIGHT="1000">
         |   <TextLine ID="TL1" HPOS="10" VPOS="20" WIDTH="990" HEIGHT="30">
         |          $strings
         |   </TextLine>
         |  </TextBlock>
         | </PrintSpace></Page></Layout>
         |</alto>
         |""".stripMargin
    val didl =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<didl:DIDL xmlns:didl="urn:mpeg:mpeg21:2002:02-DIDL-NS" xmlns:dc="http://purl.org/dc/elements/1.1/" xmlns:dcterms="http://purl.org/dc/terms/" xmlns:dcx="http://krait.kb.nl/coop/tel/handbook/telterms.html" xmlns:ddd="http://www.kb.nl/namespaces/ddd" xmlns:srw_dc="info:srw/schema/1/dc-v1.1" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
         | <didl:Item dc:identifier="ddd:$num:mpeg21">
         |  <didl:Component dc:identifier="ddd:$num:mpeg21:metadata">
         |   <didl:Resource mimeType="text/xml"><srw_dc:dcx>
         |    <dc:identifier xsi:type="dcx:PPN">graft1</dc:identifier>
         |    <dc:language xsi:type="dcterms:ISO639-1">nl</dc:language>
         |   </srw_dc:dcx></didl:Resource>
         |  </didl:Component>
         |  <didl:Item dc:identifier="ddd:$num:mpeg21:p001">
         |   <didl:Component dc:identifier="ddd:$num:mpeg21:p001:alto">
         |    <didl:Resource mimeType="text/xml" dcx:filename="alto_001.xml"/>
         |   </didl:Component>
         |   <didl:Item dc:identifier="ddd:$num:mpeg21:p001:a0001" ddd:article_id="ddd:$num:mpeg21:a0001">
         |    <didl:Component dc:identifier="ddd:$num:mpeg21:p001:a0001:zoning">
         |     <didl:Resource mimeType="text/xml"><dcx:zoning>
         |      <dcx:coordinates image="page.jp2">
         |       <dcx:area hpos="10" vpos="10" width="1000" height="1000"/>
         |      </dcx:coordinates>
         |     </dcx:zoning></didl:Resource>
         |    </didl:Component>
         |   </didl:Item>
         |  </didl:Item>
         |  <didl:Item dc:identifier="ddd:$num:mpeg21:a0001">
         |   <didl:Component dc:identifier="ddd:$num:mpeg21:a0001:metadata">
         |    <didl:Resource mimeType="text/xml"><srw_dc:dcx>
         |     <dc:subject>artikel</dc:subject>
         |     <dc:title>T$docId</dc:title>
         |    </srw_dc:dcx></didl:Resource>
         |   </didl:Component>
         |  </didl:Item>
         | </didl:Item>
         |</didl:DIDL>
         |""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("didl.xml"), didl)
    java.nio.file.Files.writeString(dir.resolve("alto_001.xml"), alto)
  }

  /** Canonical-shaped issues frame derived from `documents`. The img CI
    * (every 5th document) carries a page-level `info.json` IIIF link in
    * `m` plus image coords in `m.c`, exercising the reconstruction path
    * of reconstruct_iiif_link (helpers.py:441-485). */
  def syntheticIssues(s: SparkSession, d: String): DataFrame = {
    val noCoords = lit(null).cast("array<int>")
    val imgLink = when(expr("doc_id % 5 = 0"),
      concat(lit("https://iiif.example.org/img/"), issueId,
        lit("-p0001/info.json")))
    val imgCoords = when(expr("doc_id % 5 = 0"),
      array(lit(10), lit(20), expr("cast(100 + doc_id % 50 as int)"), lit(80)))
    Tables.documents(s, d).select(
      issueId.as("id"),
      lit(null).cast("string").as("st"),
      lit(null).cast("string").as("sm"),
      array(concat(issueId, lit("-p0001"))).as("pp"),
      array(
        struct(
          struct(
            ciId(1).as("id"),
            lit("article").as("tp"),
            array(lit(1)).as("pp"),
            lit(null).cast("string").as("lg"),
            lit(null).cast("string").as("l"),
            lit(null).cast("string").as("t"),
            lit(null).cast("int").as("ro"),
            lit(null).cast("string").as("iiif_link"),
            noCoords.as("c")).as("m"),
          noCoords.as("c"),
          lit(null).cast("string").as("iiif_link")),
        struct(
          struct(
            ciId(2).as("id"),
            when(expr("doc_id % 5 = 0"), "image").otherwise("ad").as("tp"),
            array(lit(1)).as("pp"),
            lit(null).cast("string").as("lg"),
            lit(null).cast("string").as("l"),
            lit(null).cast("string").as("t"),
            lit(null).cast("int").as("ro"),
            imgLink.as("iiif_link"),
            imgCoords.as("c")).as("m"),
          noCoords.as("c"),
          lit(null).cast("string").as("iiif_link"))).as("i"))
  }

  /** Canonical-shaped pages frame: one region/para/line holding the
    * document's whitespace tokens, attributed to content item i0001. */
  def syntheticPages(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      concat(issueId, lit("-p0001")).as("id"),
      lit(true).as("cc"),
      array(struct(
        box.as("c"),
        ciId(1).as("pOf"),
        array(struct(
          box.as("c"),
          array(struct(
            box.as("c"),
            transform(split(trim(col("text")), "\\s+"), t => struct(
              box.as("c"),
              t.as("tx"),
              lit(null).cast("int").as("s"),
              lit(null).cast("boolean").as("hy"),
              lit(null).cast("string").as("nf"),
              lit(null).cast("boolean").as("gn"))).as("t"))).as("l"))).as("p")))
        .as("r"))

  /** Audio variant: one issue per document, one record holding the
    * document's tokens as a single section/utterance/speech-segment. */
  def syntheticAudioIssues(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      issueId.as("id"),
      lit("radio_broadcast").as("st"),
      lit("audio").as("sm"),
      lit("RSR1").as("rc"),
      lit("News").as("rp"),
      array(struct(struct(
        ciId(1).as("id"),
        lit("radio_episode").as("tp"),
        array(lit(1)).as("rr"),
        lit(null).cast("string").as("lg"),
        lit(null).cast("string").as("t"),
        lit(null).cast("int").as("ro")).as("m"))).as("i"))

  def syntheticRecords(s: SparkSession, d: String): DataFrame = {
    val tc = array(lit(0.0), lit(1.0))
    Tables.documents(s, d).select(
      concat(issueId, lit("-r0001")).as("id"),
      lit(true).as("cc"),
      lit("10:00:00").as("stt"),
      col("n_chars").cast("double").as("dur"),
      array(struct(
        tc.as("tc"),
        ciId(1).as("pOf"),
        array(struct(
          tc.as("tc"),
          lit("spk1").as("speaker"),
          array(struct(
            tc.as("tc"),
            transform(split(trim(col("text")), "\\s+"), t => struct(
              tc.as("tc"), t.as("tx"))).as("t"))).as("ss"))).as("u")))
        .as("s"))
  }

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R4/R8 — audio solr rebuild over synthesized records (sections →
    // utterances → speech segments → tokens, time-coded)
    "r4_rebuild_audio" -> ((s, d) => {
      RebuildJob.rebuildAudioSolr(s, syntheticAudioIssues(s, d),
        syntheticRecords(s, d), ts = "2020-01-01T00:00:00Z")
        .toDF()
        .select(col("id"), col("ft"),
          size(element_at(col("rreb"), 1).getField("t")).as("n_spans"),
          element_at(col("ssb"), -1).as("last_ssb"),
          col("d"), col("ro"), col("olr"), col("cc"),
          col("rc"), col("rp"), col("stt"), col("dur"))
        .orderBy(col("id"))
    }),
    // R1/R2/R3/R5 — full solr rebuild pipeline over synthesized canonical
    // data (rejoin, region join, fold, assembly); article CIs only
    "r3_rebuild_solr" -> ((s, d) => {
      RebuildJob.rebuildSolr(s, syntheticIssues(s, d), syntheticPages(s, d),
        ts = "2020-01-01T00:00:00Z")
        .toDF()
        .filter(col("id").endsWith("-i0001"))
        .select(col("id"), col("ft"),
          size(element_at(col("ppreb"), 1).getField("t")).as("n_spans"),
          element_at(col("lb"), -1).as("last_lb"),
          col("d"), col("ro"), col("olr"), col("cc"))
        .orderBy(col("id"))
    }),

    // I1 — the ENTIRE import pipeline as one driver-checked row
    // (SURVEY.md §3.1, the c1 whole-pipeline convention applied to
    // import): synthesize a KB DIDL issue tree on disk from
    // `documents` (one issue/page/article per 10th document, the
    // first 20 whitespace tokens as ALTO strings), then run the REAL
    // chain — Formats.detect("kb") directory walk → generic
    // ImportJob.run XML parse → quarantine (must stay empty: a lost
    // issue is a missing oracle row) → validated partitioned bz2
    // write → declared-schema read-back → rebuildSolr — and emit
    // per-CI fulltext facts DuckDB recomputes from `documents`
    // directly. One row exercising S1+S2+S3+S7/S8+S6+R1-R5 end to
    // end under the driver's check.
    "i1_import_pipeline" -> ((s, d) => {
      import graft.jobs.ImportJob
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
        .collect() // bounded: corpus/10 driver rows, the c1 contract
      val base = java.nio.file.Files.createTempDirectory("i1-kb-tree")
      // each issue lands in its own directory, so the synthesis is
      // embarrassingly parallel — serially this driver-side file loop
      // was a measurable slice of the row (guide §5: keep the driver
      // out of data work; here the work is unavoidable, so spread it)
      java.util.Arrays.stream(docs).parallel().forEach { r =>
        writeKbIssue(base, r.getLong(0), r.getString(1))
      }
      val results = ImportJob.run[graft.cli.Formats.IssueHandle](s,
        graft.cli.Formats.detect("kb", base.toString), _.issueId,
        _.parse("2020-01-01 00:00:00", "2020-01-01 00:00:00"))
      val out = java.nio.file.Files.createTempDirectory("i1-out").toString
      ImportJob.write(results, out)
      val issues = RebuildJob.readIssues(s, s"$out/issues")
      val pages = RebuildJob.readPages(s, s"$out/pages")
      RebuildJob.rebuildSolr(s, issues, pages,
        ts = "2020-01-01T00:00:00Z")
        .toDF()
        .select(col("id"),
          length(col("ft")).cast("bigint").as("n_chars"),
          md5(col("ft")).as("ft_md5"))
        .orderBy(col("id"))
    }),

    // S12 manifest — canonical stats nested per title with totals
    "s12_manifest" -> ((s, d) => {
      graft.operators.Manifest.byTitle(
        graft.operators.Stats.canonicalStats(syntheticIssues(s, d)))
        .select(col("alias"),
          size(col("media_stats")).as("n_years"),
          element_at(col("media_stats"), 1).getField("year").as("first_year"),
          col("total_n_issues"), col("total_n_content_items"),
          col("total_n_images"), col("total_n_pages"))
        .orderBy(col("alias"))
    }),

    // Patch reprocessing — reading-order stamp over nested CI arrays
    // (canonical_patch_5_rero add_ro_to_items as a pure Column transform)
    "p1_patch_ro" -> ((s, d) => {
      graft.jobs.PatchJob.patchAddReadingOrder(syntheticIssues(s, d))
        .select(explode(col("i")).as("ci"))
        .select(col("ci.m.id").as("id"), col("ci.m.ro").as("ro"))
        .orderBy(col("id"))
    }),

    // Patch 5 — the full RERO job shape: reading-order stamp restricted
    // to the patched title list (canonical_patch_5_rero.py:60-89
    // RERO_2_3_TITLES + :37-42 add_ro_to_items); other titles are never
    // read. The synthetic alias universe is D0..D19; the "RERO" list
    // here picks six of them.
    "p5_patch_rero" -> ((s, d) => {
      graft.jobs.PatchJob.patch5AddReadingOrder(syntheticIssues(s, d),
        Seq("D2", "D3", "D5", "D7", "D11", "D13"))
        .select(explode(col("i")).as("ci"))
        .select(col("ci.m.id").as("id"), col("ci.m.ro").as("ro"))
        .orderBy(col("id"))
    }),

    // Patch 7 — coordinate rescale via a broadcast resolution table
    // (canonical_patch_7_rero_olive scale_coords/convert_issue_coords):
    // issues with doc_id % 3 = 0 rescale 300→150; only img CIs
    // (doc_id % 5 = 0) carry coords, so `patched` is true on the
    // intersection and coords halve with Python-int truncation
    "p7_patch_scale" -> ((s, d) => {
      val res = Tables.documents(s, d).filter(expr("doc_id % 3 = 0"))
        .select(issueId.as("issue_id"),
          lit(300).as("curr_res"), lit(150).as("dest_res"))
      graft.jobs.PatchJob.patch7RescaleIssues(syntheticIssues(s, d), res)
        .select(col("id"), col("patched"),
          element_at(col("i"), 2).getField("m").getField("c").as("c"))
        .select(col("id"), col("patched"),
          element_at(col("c"), 1).as("x0"), element_at(col("c"), 2).as("y0"),
          element_at(col("c"), 3).as("x1"), element_at(col("c"), 4).as("y1"))
        .orderBy(col("id"))
    }),

    // R6/R7 audio variant — passim rebuild over audio records (time-coded
    // token regions inside an `audios` array)
    "r5_audio_passim" -> ((s, d) => {
      RebuildJob.rebuildAudioPassim(s, syntheticAudioIssues(s, d),
        syntheticRecords(s, d))
        .toDF()
        .select(col("id"), col("series"), col("date"), col("tp"), col("lg"),
          col("text"),
          size(element_at(col("audios"), 1).getField("sections"))
            .as("n_regions"),
          element_at(element_at(col("audios"), 1).getField("sections"), -1)
            .getField("start").as("last_start"))
        .orderBy(col("id"))
    }),

    // C16/R5 — img CIs get their iiif_link reconstructed from the
    // canonical info.json link + m.c coords (helpers.py:441-485)
    "r7_img_iiif" -> ((s, d) => {
      RebuildJob.rebuildSolr(s, syntheticIssues(s, d), syntheticPages(s, d),
        ts = "2020-01-01T00:00:00Z")
        .toDF()
        .filter(col("tp") === "img")
        .select(col("id"), col("iiif_link"), col("d"), col("olr"))
        .orderBy(col("id"))
    }),

    // R6/R7 — passim-format rebuild (newline line ends)
    "r6_rebuild_passim" -> ((s, d) => {
      RebuildJob.rebuildPassim(s, syntheticIssues(s, d), syntheticPages(s, d))
        .toDF()
        .filter(col("id").endsWith("-i0001"))
        .select(col("id"), col("series"), col("date"), col("tp"),
          col("text"), size(element_at(col("pages"), 1).getField("regions"))
            .as("n_regions"))
        .orderBy(col("id"))
    })
  )

  val sql: Map[String, String] = Map(
    // i1: mint the same issue ids from the doc_id date arithmetic and
    // rebuild the fulltext facts directly — first 20 whitespace
    // tokens, single-space joined, the solr trailing space
    "i1_import_pipeline" ->
      """WITH src AS (
        |  SELECT doc_id, doc_id // 10 AS n,
        |    list_slice(list_filter(
        |      regexp_split_to_array(trim(text), '\s+'), t -> t <> ''),
        |      1, 20) AS toks
        |  FROM documents WHERE doc_id % 10 = 0),
        |ft AS (
        |  SELECT 'kbgraft1-' ||
        |      lpad(CAST(1900 + n // 336 AS VARCHAR), 4, '0') || '-' ||
        |      lpad(CAST(1 + (n // 28) % 12 AS VARCHAR), 2, '0') || '-' ||
        |      lpad(CAST(1 + n % 28 AS VARCHAR), 2, '0') || '-a-i0001'
        |      AS id,
        |    array_to_string(toks, ' ') || ' ' AS t
        |  FROM src)
        |SELECT id, CAST(length(t) AS BIGINT) AS n_chars, md5(t) AS ft_md5
        |FROM ft ORDER BY id""".stripMargin,

    "r4_rebuild_audio" ->
      s"""WITH toks AS (
         |  SELECT doc_id, n_chars, $issueIdSql AS iid,
         |    regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents)
         |SELECT iid || '-i0001' AS id,
         |  array_to_string(tk, ' ') || ' ' AS ft,
         |  CAST(len(tk) AS INT) AS n_spans,
         |  CAST(length(array_to_string(tk, ' ')) AS INT) AS last_ssb,
         |  substr(iid, position('-' IN iid) + 1, 10) AS d,
         |  1 AS ro, false AS olr, true AS cc,
         |  'RSR1' AS rc, 'News' AS rp, '10:00:00' AS stt,
         |  CAST(n_chars AS DOUBLE) AS dur
         |FROM toks ORDER BY id""".stripMargin,
    "r3_rebuild_solr" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $issueIdSql AS iid,
         |    regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents)
         |SELECT iid || '-i0001' AS id,
         |  array_to_string(tk, ' ') || ' ' AS ft,
         |  CAST(len(tk) AS INT) AS n_spans,
         |  CAST(length(array_to_string(tk, ' ')) AS INT) AS last_lb,
         |  substr(iid, position('-' IN iid) + 1, 10) AS d,
         |  1 AS ro, true AS olr, true AS cc
         |FROM toks ORDER BY id""".stripMargin,

    "s12_manifest" ->
      s"""WITH yearly AS (
         |  SELECT 'D' || CAST(doc_id % 20 AS VARCHAR) AS alias,
         |    CAST(year(DATE '2000-01-01' + CAST(doc_id // 20 AS INT)) AS INT) AS year,
         |    count(*) AS n_issues,
         |    CAST(2 * count(*) AS BIGINT) AS n_content_items,
         |    CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_images,
         |    CAST(count(*) AS BIGINT) AS n_pages
         |  FROM documents GROUP BY 1, 2)
         |SELECT alias,
         |  CAST(count(*) AS INT) AS n_years,
         |  CAST(min(year) AS INT) AS first_year,
         |  CAST(SUM(n_issues) AS BIGINT) AS total_n_issues,
         |  CAST(SUM(n_content_items) AS BIGINT) AS total_n_content_items,
         |  CAST(SUM(n_images) AS BIGINT) AS total_n_images,
         |  CAST(SUM(n_pages) AS BIGINT) AS total_n_pages
         |FROM yearly GROUP BY alias ORDER BY alias""".stripMargin,

    "p1_patch_ro" ->
      s"""WITH ids AS (
         |  SELECT $issueIdSql AS iid FROM documents)
         |SELECT iid || '-i0001' AS id, 1 AS ro FROM ids
         |UNION ALL
         |SELECT iid || '-i0002' AS id, 2 AS ro FROM ids
         |ORDER BY id""".stripMargin,

    "p5_patch_rero" ->
      s"""WITH ids AS (
         |  SELECT $issueIdSql AS iid FROM documents
         |  WHERE doc_id % 20 IN (2, 3, 5, 7, 11, 13))
         |SELECT iid || '-i0001' AS id, 1 AS ro FROM ids
         |UNION ALL
         |SELECT iid || '-i0002' AS id, 2 AS ro FROM ids
         |ORDER BY id""".stripMargin,

    "p7_patch_scale" ->
      s"""SELECT $issueIdSql AS id,
         |  (doc_id % 3 = 0 AND doc_id % 5 = 0) AS patched,
         |  CASE WHEN doc_id % 5 = 0 THEN
         |    CAST(CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 10 END AS INT) END AS x0,
         |  CASE WHEN doc_id % 5 = 0 THEN
         |    CAST(CASE WHEN doc_id % 3 = 0 THEN 10 ELSE 20 END AS INT) END AS y0,
         |  CASE WHEN doc_id % 5 = 0 THEN
         |    CAST(CASE WHEN doc_id % 3 = 0 THEN (100 + doc_id % 50) // 2
         |      ELSE 100 + doc_id % 50 END AS INT) END AS x1,
         |  CASE WHEN doc_id % 5 = 0 THEN
         |    CAST(CASE WHEN doc_id % 3 = 0 THEN 40 ELSE 80 END AS INT) END AS y1
         |FROM documents ORDER BY id""".stripMargin,

    "r5_audio_passim" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $issueIdSql AS iid,
         |    'D' || CAST(doc_id % 20 AS VARCHAR) AS series,
         |    regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents)
         |SELECT iid || '-i0001' AS id, series,
         |  substr(iid, position('-' IN iid) + 1, 10) AS date,
         |  'radio_episode' AS tp, CAST(NULL AS VARCHAR) AS lg,
         |  array_to_string(tk, ' ') || chr(10) AS text,
         |  CAST(len(tk) AS INT) AS n_regions,
         |  CAST(CASE WHEN len(tk) = 1 THEN 0
         |    ELSE length(array_to_string(tk[1:len(tk)-1], ' ')) + 1
         |    END AS INT) AS last_start
         |FROM toks ORDER BY id""".stripMargin,

    "r7_img_iiif" ->
      s"""SELECT $issueIdSql || '-i0002' AS id,
         |  'https://iiif.example.org/img/' || $issueIdSql ||
         |    '-p0001/10,20,' || CAST(100 + doc_id % 50 AS VARCHAR) ||
         |    ',80/full/0/default.jpg' AS iiif_link,
         |  substr($issueIdSql, position('-' IN $issueIdSql) + 1, 10) AS d,
         |  true AS olr
         |FROM documents WHERE doc_id % 5 = 0 ORDER BY id""".stripMargin,

    "r6_rebuild_passim" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $issueIdSql AS iid,
         |    'D' || CAST(doc_id % 20 AS VARCHAR) AS series,
         |    regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents)
         |SELECT iid || '-i0001' AS id, series,
         |  substr(iid, position('-' IN iid) + 1, 10) AS date, 'ar' AS tp,
         |  array_to_string(tk, ' ') || chr(10) AS text,
         |  CAST(len(tk) AS INT) AS n_regions
         |FROM toks ORDER BY id""".stripMargin
  )
}

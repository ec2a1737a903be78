package graft.parse

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.util.{FsWalk, Json}
import graft.util.Json._

/** SWISSINFO radio-bulletin importer (OCR-JSON input, typescript
  * medium): one content item per issue holding the whole bulletin.
  *
  * Re-expression of text_preparation/importers/swissinfo/
  * {classes.py,helpers.py,detect.py}. Input is the preprocessed OCR
  * JSON produced from the bulletin PDFs
  * (importer_scripts/preprocessing/swissinfo_extract_ocr_from_pdfs.py):
  * per page, `blocks_with_lines` → lines → `spans` tokens, all with
  * `rescaled_bbox` in x1y1x2y2; every page carries the jp2 facsimile
  * size. Distinctives, ported faithfully:
  *
  *  - each page becomes ONE region aggregating all block bboxes
  *    (helpers.py compute_agg_coords), paragraphs = blocks;
  *  - when any page's blocks look line-split (mean block size < 3.5
  *    lines or > 20 blocks), ALL pages' paragraphs are merged into a
  *    single paragraph per region (classes.py split_page_blocks);
  *  - cross-line hyphenation: a trailing '-' token gets `hy`, the
  *    follower's first token a merged `nf` (helpers.py:30-115);
  *  - the single CI is a `radio_bulletin` unless the bulletin metadata
  *    file (SOC_rb_metadata.json) matches the source PDF's archive key,
  *    in which case it is a `chronicle` with title/var_t/program;
  *  - `st`/`sm` are radio_bulletin/typescript (SourceType.RB,
  *    SourceMedium.TPS — the "typescript" medium of core.py:196-198).
  */
object SwissInfoImporter {

  val IiifEndpoint = "https://impresso-project.ch/api/proxy/iiif/"
  val MetadataFilename = "SOC_rb_metadata.json"
  val DataDirname = "WW2-SOC-bulletins-json"
  val RbChannel = "SOC (KWD)"
  val St = "radio_bulletin"
  val Sm = "typescript"

  case class IssueRef(alias: String, date: String, edition: String,
      path: String, metadataFile: String) extends IssueKey

  private val mapper = new ObjectMapper()

  /** Directory layout: base/WW2-SOC-bulletins-json/<alias>/<yyyy>/<mm>/
    * <dd>/<edition> (swissinfo/detect.py:74-103). */
  def detectIssues(baseDir: String): Seq[IssueRef] = {
    val root = FsWalk.child(baseDir, DataDirname)
    if (!FsWalk.isDir(root)) return Nil
    val metadataFile = FsWalk.child(root, MetadataFilename)
    for {
      alias <- FsWalk.subdirs(root)
      year <- FsWalk.subdirs(alias.path)
      month <- FsWalk.subdirs(year.path)
      day <- FsWalk.subdirs(month.path)
      edition <- FsWalk.subdirs(day.path)
    } yield IssueRef(alias.name,
      s"${year.name}-${month.name}-${day.name}",
      edition.name, edition.path, metadataFile)
  }

  /** x1y1x2y2 → xywh with int truncation first (utils.py:271-285). */
  def coordsToXywh(n: JsonNode): Seq[Int] = {
    val c = (0 until n.size).map(i => n.get(i).asDouble.toInt)
    Seq(c(0), c(1), c(2) - c(0), c(3) - c(1))
  }

  case class ParsedPage(json: JValue, missingOcr: Boolean)

  /** Port of helpers.py parse_lines: blocks → paragraphs with
    * hyphenation handling; returns (block x1y1x2y2 bboxes, paragraphs).
    */
  def parseLines(blocks: JsonNode, pgId: String,
      pgNotes: mutable.Buffer[String]): (Seq[Seq[Double]], Seq[JObj]) = {
    val allBlockCoords = mutable.ArrayBuffer.empty[Seq[Double]]
    val paragraphs = mutable.ArrayBuffer.empty[JObj]
    var hyphenAtLast = false
    for (blockId <- 0 until blocks.size) {
      val block = blocks.get(blockId)
      val bbox = block.get("rescaled_bbox")
      allBlockCoords += (0 until bbox.size).map(i => bbox.get(i).asDouble)
      val blockLines = mutable.ArrayBuffer.empty[JObj]
      val lines = block.get("lines")
      for (lineId <- 0 until lines.size) {
        val line = lines.get(lineId)
        val tokens = mutable.ArrayBuffer.empty[JObj]
        val spans = line.get("spans")
        var tId = 0
        while (tId < spans.size) {
          val span = spans.get(tId)
          val tx = span.get("text").asText
          if (tx == " ") { tId += 1 } // skip space-only tokens
          else {
            var fields = Seq[(String, JValue)](
              "c" -> Json.ints(coordsToXywh(span.get("rescaled_bbox"))),
              "tx" -> JStr(tx),
              "gn" -> JBool(false))
            // NB: the reference indexes the RAW span list, so a leading
            // space-only span suppresses the merge (helpers.py:52)
            if ((blockId != 0 || lineId != 0) && tId == 0 && hyphenAtLast) {
              // previous line's last token (last line of the previous
              // block once any paragraph exists, helpers.py:92-98)
              val prev: Option[JObj] =
                if (paragraphs.isEmpty)
                  blockLines.lastOption.flatMap(_.fields.collectFirst {
                    case ("t", JArr(ts)) => ts.last.asInstanceOf[JObj] })
                else paragraphs.lastOption.flatMap(_.fields.collectFirst {
                  case ("l", JArr(ls)) => ls.last.asInstanceOf[JObj] })
                  .flatMap(_.fields.collectFirst {
                    case ("t", JArr(ts)) => ts.last.asInstanceOf[JObj] })
              val prevHasHy = prev.exists(_.fields.exists(_._1 == "hy"))
              // warn only in the reference's two sub-cases
              // (helpers.py:53-88)
              if (((lineId != 0 && paragraphs.isEmpty) ||
                  (blockId != 0 && lineId == 0)) && !prevHasHy)
                pgNotes += (s"block $blockId ('number' " +
                  s"${Option(block.get("number")).map(_.asText).getOrElse("?")}), " +
                  s"line $lineId, token $tId - problem with hyphenation: " +
                  "hyphen_at_last is true but no 'hy' in previous token.")
              val prevTx = prev.flatMap(_.fields.collectFirst {
                case ("tx", JStr(v)) => v }).getOrElse("")
              fields = fields :+ ("nf" ->
                (JStr(prevTx.split("-")(0) + tx): JValue))
            }
            hyphenAtLast = false
            tokens += JObj(fields)
            tId += 1
          }
        }
        // a multi-token line ending in '-' starts a hyphenation
        if (tokens.length > 1 && tokens.last.fields.collectFirst {
            case ("tx", JStr(v)) => v }.exists(_.endsWith("-"))) {
          tokens(tokens.length - 1) =
            JObj(tokens.last.fields :+ ("hy" -> (JBool(true): JValue)))
          hyphenAtLast = true
        } else hyphenAtLast = false
        blockLines += JObj(Seq(
          "c" -> Json.ints(coordsToXywh(line.get("rescaled_bbox"))),
          "t" -> JArr(tokens.toSeq)))
      }
      paragraphs += JObj(Seq(
        "c" -> Json.ints(coordsToXywh(block.get("rescaled_bbox"))),
        "l" -> JArr(blockLines.toSeq)))
    }
    (allBlockCoords.toSeq, paragraphs.toSeq)
  }

  /** Enclosing x1y1x2y2 box (helpers.py compute_agg_coords). */
  def aggCoords(all: Seq[Seq[Double]]): Seq[Int] = {
    val x1 = all.map(_(0)).min.toInt
    val y1 = all.map(_(1)).min.toInt
    val x2 = all.map(_(2)).max.toInt
    val y2 = all.map(_(3)).max.toInt
    Seq(x1, y1, x2 - x1, y2 - y1)
  }

  def parseIssue(ref: IssueRef, ts: String): ParsedIssue = {
    val issueNotes = mutable.ArrayBuffer.empty[String]
    val jsonFile = FsWalk.child(ref.path, s"${ref.issueId}.json")
    if (!FsWalk.isFile(jsonFile))
      throw new IllegalStateException(
        s"${ref.issueId} - The issue's folder ${ref.path} does not contain " +
          "any the required json file . Issue cannot be processed as a result.")
    val bulletin = mapper.readTree(FsWalk.readBytes(jsonFile))

    val lang = bulletin.get("lang").asText
    val srcPdf = bulletin.get("original_path").asText
      .split("/").takeRight(3).mkString("/")
    val ocrPages = bulletin.get("ocr_pages")
    val jp2Paths = bulletin.get("jp2_full_paths")

    // page discovery pass (classes.py _find_pages)
    var splitPageBlocks = false
    val missing = mutable.ArrayBuffer.empty[Int]
    val pageMeta = (0 until ocrPages.size).map { idx =>
      val page = ocrPages.get(idx)
      val rawNo = page.get("page_num").asInt
      val pageNo = rawNo + 1
      val blocks = page.get("blocks_with_lines")
      if (blocks.size == 0) {
        missing += pageNo
        issueNotes += s"${ref.issueId}, page $pageNo has no block with " +
          "lines, it will not contain text."
      } else {
        val parSizes = (0 until blocks.size)
          .map(i => blocks.get(i).get("lines").size)
        splitPageBlocks = splitPageBlocks ||
          parSizes.sum.toDouble / parSizes.size < 3.5 || parSizes.size > 20
      }
      val pageId = f"${ref.issueId}-p$pageNo%04d"
      // the jp2 facsimile must agree with the canonical page numbering
      val imgName = jp2Paths.get(rawNo).asText.split("/").last.split("\\.")(0)
      require(imgName == pageId,
        s"${ref.issueId} problem with page numbering/naming, " +
          s"page_img_name ($imgName) != page_id ($pageId)")
      issueNotes += s"Page $pageNo: page size within OCR before coord " +
        s"rescaling: ${page.get("ocr_page_size")}"
      (pageNo, pageId, page)
    }
    if (pageMeta.size == missing.size)
      throw new IllegalStateException(
        s"${ref.issueId}, No OCR in any of the pages! This issue won't be ingested.")

    val ciId = s"${ref.issueId}-i0001"

    // bulletin metadata enrichment (classes.py _add_bulletin_metadata)
    val metaEntry: Option[JsonNode] = {
      val mf = ref.metadataFile
      if (!FsWalk.isFile(mf)) None
      else {
        val archiveKey = srcPdf.split("/").last.split("\\.")(0)
        val arr = mapper.readTree(FsWalk.readBytes(mf))
        (0 until arr.size).map(arr.get)
          .find(_.get("archive_key").asText == archiveKey)
      }
    }
    val program: Option[String] = metaEntry.map { m =>
      val sub = m.get("program_subtitle").asText
      val base = m.get("program_title").asText
      if (sub.nonEmpty) s"$base - $sub" else base
    }

    val ciM = JObj(Seq(
      "id" -> JStr(ciId),
      "lg" -> JStr(lang),
      "pp" -> Json.ints(pageMeta.map(_._1)),
      "tp" -> JStr(metaEntry.map(_ => "chronicle").getOrElse("radio_bulletin")),
      "ro" -> JInt(1)) ++
      metaEntry.map(m => "t" -> (JStr(m.get("segment_title").asText): JValue)) ++
      metaEntry.map(m => "var_t" -> (JStr(m.get("program_title").asText): JValue)))
    val ci = JObj(Seq("m" -> ciM, "l" -> JObj(Seq("source" -> JStr(srcPdf)))))

    // page parse pass (classes.py parse + _extract_regions)
    val pageJsons = pageMeta.map { case (pageNo, pageId, page) =>
      val pgNotes = mutable.ArrayBuffer.empty[String]
      val (blockCoords, paragraphs0) =
        parseLines(page.get("blocks_with_lines"), pageId, pgNotes)
      val regions: Seq[JValue] =
        if (blockCoords.isEmpty) Nil
        else {
          val regionCoords = aggCoords(blockCoords)
          val paragraphs =
            if (splitPageBlocks) {
              // one merged paragraph spanning the whole region
              val allLines = paragraphs0.flatMap(_.fields.collectFirst {
                case ("l", JArr(ls)) => ls }.getOrElse(Nil))
              Seq(JObj(Seq(
                "c" -> Json.ints(regionCoords),
                "l" -> JArr(allLines))))
            } else paragraphs0
          Seq(JObj(Seq(
            "c" -> Json.ints(regionCoords),
            "p" -> JArr(paragraphs),
            "pOf" -> JStr(ciId))))
        }
      val jp2Size = page.get("jp2_img_size")
      pageId -> Json.render(JObj(Seq(
        "id" -> JStr(pageId),
        "ts" -> JStr(ts),
        "r" -> JArr(regions),
        // NB: unlike other importers, SwissInfo's base URI INCLUDES the
        // info.json descriptor — faithful to the reference
        // (swissinfo/classes.py:44 joins IIIF_SUFFIX into iiif_base_uri)
        "iiif_img_base_uri" -> JStr(s"$IiifEndpoint$pageId/info.json"),
        "st" -> JStr(St),
        "sm" -> JStr(Sm),
        "cc" -> JBool(true),
        "fw" -> JInt(jp2Size.get(0).asLong),
        "fh" -> JInt(jp2Size.get(1).asLong),
        "n" -> Json.strs(pgNotes.toSeq),
        "parag_avg_size" -> JNull)))
    }

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "ts" -> JStr(ts),
      "st" -> JStr(St),
      "sm" -> JStr(Sm),
      "i" -> JArr(Seq(ci)),
      "pp" -> Json.strs(pageMeta.map(_._2)),
      "rc" -> JStr(RbChannel)) ++
      program.map(p => "rp" -> (JStr(p): JValue)) ++
      Seq("n" -> Json.strs(issueNotes.toSeq)))

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }
}

package graft.parse

import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.util.{FsWalk, Json}
import graft.util.Json._

/** BCUL (Scriptorium) ABBYY FineReader importer.
  *
  * Re-expression of text_preparation/importers/bcul/{classes.py,
  * helpers.py, detect.py}. Distinctives:
  *  - pages are ABBYY XML (possibly bz2): `block blockType=Text` →
  *    regions; tokens are assembled from per-CHARACTER `charParams`
  *    elements (wordStart/wordFirst flags + spaces; helpers.py:150-236),
  *    falling back to `formatting` line text;
  *  - ABBYY boxes are (l, t, r, b) → converted to [x, y, w, h];
  *  - page == content item, plus segmented Picture/Table blocks as their
  *    own CIs ordered by coordinates;
  *  - two mit-file flavours: JSON (page ids + iiif from file names,
  *    fully offline) and XML (page list in the mit; iiif links come from
  *    the live Scriptorium IIIF API in the reference — here a pluggable
  *    [[CanvasProvider]], with an offline fallback that derives a
  *    deterministic identifier instead of dropping pages, per SURVEY.md
  *    §7.4 risk 3: side-effecting sources become enrichment inputs).
  */
object BculImporter {

  val IiifPresBase = "https://scriptorium.bcu-lausanne.ch/api/iiif"
  val IiifImgBase = s"$IiifPresBase-img"

  /** Enrichment input standing in for the reference's live IIIF API
    * (classes.py:204-271): given an issue and page number, the page's
    * iiif image base uri. */
  trait CanvasProvider extends Serializable {
    def pageIiif(issueId: String, pageFileStem: String, pageNo: Int): Option[String]
  }

  /** Offline default: identifier derived from the page file name —
    * keeps pages importable without network (regions are unaffected). */
  object OfflineCanvasProvider extends CanvasProvider {
    def pageIiif(issueId: String, stem: String, pageNo: Int): Option[String] =
      Some(s"$IiifImgBase/$stem")
  }

  case class IssueRef(alias: String, date: String, edition: String,
      path: String, mitFileType: String) extends IssueKey

  def findMitFile(dir: String): Option[FsWalk.Dir] =
    FsWalk.files(dir)
      .find(f => f.name.split("\\.")(0).endsWith("mit"))

  /** Detect issues: journal dirs from the aliases JSON, walked down to
    * `year/month/day/<issue-number>` leaves (detect.py:128-180); plus a
    * legacy layout where an issue directory with an
    * `ALIAS_yyyy_mm_dd_*mit.*` file sits directly under the base (the
    * in-repo FAL sample) — alias and date then come from the file name. */
  def detectIssues(baseDir: String): Seq[IssueRef] = {
    val aliasFile = Seq("access_rights_and_aliases.json", "bcul_aliases.json")
      .map(FsWalk.child(baseDir, _))
      .find(FsWalk.isFile)
    val aliases: Map[String, (String, String)] = aliasFile.map { f =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(FsWalk.readBytes(f))
      val it = root.properties().iterator()
      val m = mutable.Map.empty[String, (String, String)]
      while (it.hasNext) {
        val e = it.next()
        m += e.getKey -> (e.getValue.get("alias").asText,
          e.getValue.get("file_type").asText)
      }
      m.toMap
    }.getOrElse(Map.empty)

    // directory names may be NFD on disk while JSON keys are NFC
    def nfc(s: String): String =
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val aliasesNfc = aliases.map { case (k, v) => nfc(k) -> v }

    val out = mutable.ArrayBuffer.empty[IssueRef]
    for (dir <- FsWalk.subdirs(baseDir)) {
      aliasesNfc.get(nfc(dir.name)) match {
        case Some((alias, fileType)) =>
          // walk to issue leaves: any directory holding >1 file
          def walk(d: String): Unit = {
            val files = FsWalk.files(d)
            if (files.size > 1 && !d.contains("solr")) {
              val comps = d.split("/")
              val (y, m, dd) = (comps(comps.length - 4),
                comps(comps.length - 3), comps(comps.length - 2))
              if (y.matches("\\d{4}")) {
                // edition from position among sibling issue dirs
                val siblings = FsWalk.subdirs(FsWalk.parent(d))
                  .map(_.name).sorted
                val ed = graft.functions.Ids.editionLetter(
                  math.max(siblings.indexOf(FsWalk.baseName(d)), 0))
                out += IssueRef(alias, s"$y-$m-$dd", ed, d, fileType)
              }
            }
            FsWalk.subdirs(d).foreach(sd => walk(sd.path))
          }
          walk(dir.path)
        case None =>
          // legacy flat layout: the dir itself is an issue, mit name
          // carries alias and date
          findMitFile(dir.path).foreach { mit =>
            val re = "([A-Za-z0-9]+)_(\\d{4})_(\\d{2})_(\\d{2}).*".r
            mit.name match {
              case re(alias, y, m, d) =>
                out += IssueRef(alias, s"$y-$m-$d", "a", dir.path,
                  mit.name.split("\\.").last)
              case _ => ()
            }
          }
      }
    }
    out.toSeq
  }

  // ---- ABBYY parsing (helpers.py:131-263) ----

  private def attr(n: Node, name: String): Option[String] =
    n.attribute(name).map(_.text)

  /** ABBYY (l, t, r, b) box → [x, y, w, h]. */
  def divCoords(n: Node): Option[Seq[Int]] =
    for {
      b <- attr(n, "b"); l <- attr(n, "l")
      r <- attr(n, "r"); t <- attr(n, "t")
    } yield Seq(l.toInt, t.toInt, r.toInt - l.toInt, b.toInt - t.toInt)

  /** Character-level token assembly (helpers.py:150-236): word starts on
    * wordStart/wordFirst flags or after a space; widths grow with each
    * appended character. */
  def parseCharTokens(chars: Seq[Node]): Seq[(Seq[Int], String)] = {
    val tokens = mutable.ArrayBuffer.empty[(Seq[Int], String)]
    var tx: Option[String] = None
    var coords: Seq[Int] = Nil
    var lastTokenSpace = true
    for ((t, idx) <- chars.zipWithIndex) {
      val isWordStart = attr(t, "wordStart").exists(v => v == "true" || v == "1")
      val isWordFirst = attr(t, "wordFirst").exists(v => v == "true" || v == "1")
      val currT = t.text
      if (idx == 0 || isWordStart || isWordFirst || lastTokenSpace) {
        if (currT != " " && currT != null) {
          if (tx.isDefined && coords.nonEmpty) tokens += ((coords, tx.get))
          tx = Some(currT)
          coords = divCoords(t).getOrElse(Nil)
          lastTokenSpace = false
        }
      } else {
        if (currT == " " || currT == null) lastTokenSpace = true
        else {
          tx = tx.map(_ + currT)
          for (b <- attr(t, "b"); r <- attr(t, "r") if coords.nonEmpty) {
            coords = Seq(coords(0), coords(1),
              r.toInt - coords(0), b.toInt - coords(1))
          }
        }
      }
    }
    if (tx.isDefined && coords.nonEmpty) tokens += ((coords, tx.get))
    tokens.toSeq
  }

  /** `<line>` → canonical line (helpers.py:239-263). */
  def parseLine(line: Node): JValue = {
    val lineCoords = divCoords(line).getOrElse(Nil)
    val chars = line \\ "charParams"
    val tokens: Seq[JValue] =
      if (chars.nonEmpty)
        parseCharTokens(chars).map { case (c, tx) =>
          JObj(Seq("c" -> Json.ints(c), "tx" -> JStr(tx)))
        }
      else (line \\ "formatting").map(f =>
        JObj(Seq("c" -> Json.ints(lineCoords), "tx" -> JStr(f.text))))
    JObj(Seq("c" -> Json.ints(lineCoords), "t" -> JArr(tokens)))
  }

  /** `<block blockType=Text>` → canonical region (helpers.py:266-287). */
  def parseTextBlock(block: Node, pageCiId: String): JValue = {
    val coords = divCoords(block).getOrElse(Nil)
    val lines = (block \\ "line").map(parseLine)
    JObj(Seq(
      "c" -> Json.ints(coords),
      "p" -> JArr(Seq(JObj(Seq(
        "c" -> Json.ints(coords),
        "l" -> JArr(lines))))),
      "pOf" -> JStr(pageCiId)))
  }

  // ---- issue parse ----

  private def loadXml(f: FsWalk.Dir): Elem =
    if (f.name.endsWith("bz2")) {
      val in = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(FsWalk.open(f.path))
      try XML.load(in) finally in.close()
    } else Xml.load(f.path)

  def parseIssue(ref: IssueRef, cdt: String, ts: String,
      canvases: CanvasProvider = OfflineCanvasProvider): ParsedIssue = {
    val notes = mutable.ArrayBuffer.empty[String]
    val mit = findMitFile(ref.path).getOrElse(
      throw new IllegalStateException(s"no mit file in ${ref.path}"))

    // discover pages: (pageNo, file, fileStem)
    val dirFiles = FsWalk.files(ref.path)
    val pages: Seq[(Int, FsWalk.Dir, String)] =
      if (ref.mitFileType == "json") {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        dirFiles.filter(f => f.name.split("\\.")(0).endsWith("exif"))
          .flatMap { exif =>
            val fileId = exif.name.split("\\.")(0).replace("_exif", "")
            val pageFile = Seq(s"$fileId.xml", s"$fileId.xml.bz2")
              .flatMap(n => dirFiles.find(_.name == n)).headOption
            pageFile match {
              case None =>
                notes += s"Couldn't find the page corresponding to $fileId"
                None
              case Some(pf) =>
                val src = mapper.readTree(FsWalk.readBytes(exif.path))
                  .get(0).get("SourceFile")
                  .asText.split("/").last
                val seg = src.split("\\.")(0).split("_").last
                if (seg.nonEmpty && seg.forall(_.isDigit))
                  Some((seg.toInt, pf, fileId))
                else {
                  notes += s"Page $src has no numeric page number; skipped."
                  None
                }
            }
          }
      } else {
        val mitDoc = loadXml(mit)
        val names = (mitDoc \\ "image")
          .flatMap(i => attr(i, "xml").map(_.split("/").last)).sorted
        names.flatMap { p =>
          dirFiles.filter(_.name.contains(p)).headOption match {
            case None =>
              notes += s"Page $p missing: not found in ${ref.path} or on API."
              None
            case Some(f) =>
              val no = f.name.split("\\.")(0).split("_").last.toInt
              Some((no, f, f.name.split("\\.")(0)))
          }
        }
      }

    val sortedPages = pages.sortBy(_._1)
    val pageXml = mutable.Map.empty[Int, Elem]
    def xmlOf(no: Int): Elem =
      pageXml.getOrElseUpdate(no, loadXml(sortedPages.find(_._1 == no).get._2))

    // content items: one per page + Picture/Table blocks (classes.py:358-412)
    val cis = mutable.ArrayBuffer.empty[(String, JValue)]
    val ciMeta = mutable.ArrayBuffer.empty[(String, Seq[Int])] // id -> pp
    for (((no, _, _), n) <- sortedPages.zipWithIndex) {
      val ciId = f"${ref.issueId}-i${n + 1}%04d"
      ciMeta += ((ciId, Seq(no)))
      cis += ((ciId, JObj(Seq("m" -> JObj(Seq(
        "id" -> JStr(ciId),
        "pp" -> Json.ints(Seq(no)),
        "tp" -> JStr("page")))))))
    }
    var n = cis.size + 1
    for ((no, _, stem) <- sortedPages) {
      val blocks = (xmlOf(no) \\ "block").filter(b =>
        attr(b, "blockType").exists(t => t == "Picture" || t == "Table"))
      val typed = blocks.flatMap(b =>
        divCoords(b).map(c => (attr(b, "blockType").get, c)))
      for ((blockType, coords) <- typed.sortBy(_._2)(
        scala.math.Ordering.Implicits.seqOrdering)) {
        val ciId = f"${ref.issueId}-i$n%04d"
        val tp = if (blockType == "Picture") "image" else "table"
        val mFields = Seq(
          "id" -> (JStr(ciId): JValue),
          "pp" -> (Json.ints(Seq(no)): JValue),
          "tp" -> (JStr(tp): JValue)) ++
          (if (tp == "image")
            Seq("iiif_link" -> (JStr(
              s"${canvases.pageIiif(ref.issueId, stem, no).getOrElse(s"$IiifImgBase/$stem")}/info.json"): JValue))
          else Nil)
        val ci = JObj(Seq("m" -> JObj(mFields)) ++
          (if (tp == "image") Seq("c" -> (Json.ints(coords): JValue)) else Nil))
        ciMeta += ((ciId, Seq(no)))
        cis += ((ciId, ci))
        n += 1
      }
    }

    // reading order over (pp, ci number) — pp already filled here
    val ro = ciMeta
      .sortBy(_._1.split("-i").last.toInt)
      .sortBy(_._2)(scala.math.Ordering.Implicits.seqOrdering)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val cisWithRo = cis.map { case (id, ci) =>
      val obj = ci.asInstanceOf[JObj]
      val m = obj.fields.collectFirst { case ("m", o: JObj) => o }.get
      JObj(obj.fields.map {
        case ("m", _) => "m" -> JObj(m.fields :+ ("ro" -> JInt(ro(id).toLong)))
        case other => other
      })
    }

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(cisWithRo.toSeq),
      "pp" -> Json.strs(sortedPages.map(p => f"${ref.issueId}-p${p._1}%04d")),
      "iiif_manifest_uri" ->
        JStr(s"$IiifPresBase/${FsWalk.baseName(ref.path)}/manifest"),
      "n" -> Json.strs(notes.toSeq)))

    val pageJsons = sortedPages.zipWithIndex.map { case ((no, _, stem), idx) =>
      val pid = f"${ref.issueId}-p$no%04d"
      // the reference's page.ci_id replaces p→i in the PAGE id (number
      // based), while the CI list enumerates — faithful to classes.py:105
      val pageCiId = f"${ref.issueId}-i$no%04d"
      val regions = (xmlOf(no) \\ "block")
        .filter(b => attr(b, "blockType").contains("Text"))
        .map(b => parseTextBlock(b, pageCiId))
      val iiif = canvases.pageIiif(ref.issueId, stem, no)
        .getOrElse(s"$IiifImgBase/$stem")
      val json = JObj(Seq(
        "id" -> JStr(pid),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "iiif_img_base_uri" -> JStr(iiif),
        "cc" -> JBool(true),
        "r" -> JArr(regions)))
      pid -> Json.render(json)
    }

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }
}

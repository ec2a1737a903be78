package graft.parse

import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.model.Canonical._
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** BNL/Luxembourg Mets/Alto importer: one issue directory → canonical
  * Issue JSON + Page JSONs.
  *
  * Re-expression of text_preparation/importers/lux/classes.py (issue parse
  * :131-606, page parse :48-128), lux/helpers.py and lux/detect.py as pure
  * executor-side functions. Determinism requirements preserved exactly
  * (docs/architecture.rst:46):
  *  - dmdSec sections sort by the STRING after the first underscore of
  *    their ID (classes.py:248-249 — lexicographic, so ARTICLE10 sorts
  *    before ARTICLE2);
  *  - the CI counter advances even for skipped ads-as-pictures
  *    (classes.py:296-302), leaving ID gaps;
  *  - reading order is computed BEFORE page lists are filled, so it ranks
  *    purely by CI number (classes.py:576-584 + utils.py:139-158).
  */
object LuxImporter {

  val IiifEndpoint = "https://iiif.eluxemburgensia.lu/image/iiif/2"
  val EditionsMappings = Map(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d", 5 -> "e")

  /** Work-unit descriptor (lux/detect.py LuxIssueDir). */
  case class IssueRef(alias: String, date: String, edition: String, path: String) extends IssueKey

  /** `<base>/<batch>/<dir with "newspaper">` → IssueRef (detect.py:38-85). */
  def dirToIssue(path: String): IssueRef = {
    val name = FsWalk.baseName(path)
    val parts = name.split("_")
    val edition =
      if (parts.length == 4) "a" else EditionsMappings(parts(4).toInt)
    IssueRef(parts(2), parts(3), edition, path)
  }

  def detectIssues(baseDir: String): Seq[IssueRef] =
    FsWalk.subdirs(baseDir).flatMap { b =>
      FsWalk.subdirs(b.path)
        .filter(_.name.contains("newspaper"))
        .map(d => dirToIssue(d.path))
    }

  // ---- content-item building ----

  case class CiPart(role: Option[String], id: Option[String],
      fileId: String, pageNo: Int)

  /** Mutable CI under construction (the reference mutates dicts). */
  final class Ci(
      val id: String,
      var tp: String,
      val title: Option[String],
      val lang: Option[String],
      val legacyId: Option[String],
      var parts: Seq[CiPart],
      val canonicalParts: Option[Seq[String]],
      val divType: Option[String] = None) {
    var pp: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
    var ro: Int = 0
    var coords: Option[Seq[Int]] = None
    var iiifLink: Option[String] = None
    var partsDeleted: Boolean = false
    def num: Int = id.split("-i").last.toInt
  }

  private def attr(n: Node, name: String): Option[String] =
    n.attribute(name).map(_.text)

  /** Legacy `parts` of a CI div (classes.py:194-230): direct children give
    * the component role, recursive `<area>`s the component ids. */
  def parseMetsDiv(div: Node): Seq[CiPart] =
    div.child.collect { case e: Elem => e }.flatMap { child =>
      val role = attr(child, "TYPE").map(_.toLowerCase)
      (child \\ "area").map { area =>
        val fileId = attr(area, "FILEID").getOrElse("")
        CiPart(role, attr(area, "BEGIN"), fileId,
          fileId.replace("ALTO", "").toInt)
      }
    }

  /** Image resolutions per page from fileGrp + amdSec
    * (mets_alto/mets.py:10-90); defaults 300. The reference's y-default
    * bug (falls back to the X default) is inconsequential since both
    * defaults are 300. */
  def parseImageProperties(doc: Elem): Map[Int, (Int, Int)] = {
    val imgGroup = (doc \\ "fileGrp")
      .find(g => attr(g, "USE").exists(_.equalsIgnoreCase("images")))
    val pageToAdm = imgGroup.toSeq.flatMap(g => (g \\ "file").flatMap { f =>
      for (seq <- attr(f, "SEQ"); adm <- attr(f, "ADMID"))
        yield seq.toInt -> adm
    }).toMap
    val amdSecs = (doc \\ "amdSec")
      .flatMap(a => attr(a, "ID").map(_ -> a)).toMap
    pageToAdm.map { case (pageNo, admId) =>
      val res = for {
        amd <- amdSecs.get(admId)
      } yield {
        def resOf(tag: String): Int =
          (amd \\ tag).headOption.map(_.text.trim)
            .flatMap(t => scala.util.Try(t.toInt).toOption).getOrElse(300)
        (resOf("xOpticalResolution"), resOf("yOpticalResolution"))
      }
      pageNo -> res.getOrElse((300, 300))
    }
  }

  /** iiif coordinate conversion (lux/helpers.py:13-39): v·(res/254),
    * truncated toward zero like Python's int(). */
  def convertCoordinates(c: Seq[Int], xRes: Int, yRes: Int): Seq[Int] = {
    val Seq(x, y, w, h) = c.take(4)
    Seq((xRes / 254.0) * x, (yRes / 254.0) * y,
      (xRes / 254.0) * w, (yRes / 254.0) * h).map(_.toInt)
  }

  def encodeArk(ark: String): String = ark.replace("/", "%2f")

  /** getText().replace("\n"," ").strip() equivalent. */
  private def titleText(n: Node): String = n.text.replace("\n", " ").trim

  private def sortKey(id: String): String = {
    val parts = id.split("_")
    if (parts.length > 1) parts(1) else ""
  }

  /** Descendant `<div>`s EXCLUDING the node itself (bs4 findChildren
    * semantics; scala-xml's `\\` is descendant-or-self). */
  private def descendantDivs(n: Node): Seq[Node] =
    n.child.flatMap { c =>
      (if (c.isInstanceOf[Elem] && c.label == "div") Seq(c) else Nil) ++
        descendantDivs(c)
    }.toSeq

  /** `div_has_body` (helpers.py:54-69). */
  private def divHasBody(div: Node): Boolean =
    div.child.collect { case e: Elem if e.label == "div" => e }
      .flatMap(attr(_, "TYPE")).map(_.toLowerCase).contains("body")

  /** `section_is_article` (helpers.py:72-89). */
  private def sectionIsArticle(div: Node): Boolean = {
    val nonArticle = Set("advertisement", "death_notice")
    val types = descendantDivs(div)
      .map(d => attr(d, "TYPE").getOrElse("").toLowerCase)
      .filterNot(t => t == "body" || t == "body_content")
    !types.forall(nonArticle.contains)
  }

  /** Parse one issue directory end-to-end: mets + all ALTO pages.
    * Throws on unrecoverable structural problems — callers wrap in Either
    * for quarantine (one bad issue never kills the job). */
  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue = {
    val metsFile = FsWalk.files(ref.path)
      .filter(f => f.name.toLowerCase.endsWith("-mets.xml")).head
    val doc = Xml.load(metsFile.path)
    val notes = mutable.ArrayBuffer.empty[String]

    val imageProps = parseImageProperties(doc)

    // pages from the text/ directory (classes.py:153-191)
    val pageFiles = FsWalk.files(FsWalk.child(ref.path, "text"))
      .filter(f => !f.name.startsWith(".") && f.name.contains(".xml"))
    val pageNoRe = ".*?(\\d{5}).*".r
    val pages = pageFiles.map { f =>
      val pageNoRe(numStr) = f.name
      (numStr.toInt, f)
    }.toSeq

    val allDivs = (doc \\ "div")
    def divByDmdid(id: String): Option[Node] =
      allDivs.find(d => attr(d, "DMDID").contains(id))

    // 1. dmdSec ARTICLE/PICT items (classes.py:231-305)
    val dmdSecs = (doc \\ "dmdSec").sortBy(s => sortKey(attr(s, "ID").getOrElse("")))
    val cis = mutable.ArrayBuffer.empty[Ci]
    var counter = 1
    for (section <- dmdSecs) {
      val sectionId = attr(section, "ID").getOrElse("")
      if (sectionId.contains("ARTICLE") || sectionId.contains("PICT")) {
        val title = (section \\ "titleInfo").headOption.map(titleText)
          .filter(_.nonEmpty)
        val itemDiv = divByDmdid(sectionId)
        if (itemDiv.isEmpty)
          notes += s"<div DMID=$sectionId> not found ${ref.path}"
        val parts = itemDiv.map(parseMetsDiv).getOrElse(Nil)
        val isArticle = sectionId.contains("ARTICLE")
        val lang =
          if (isArticle) (section \\ "languageTerm").headOption.map(_.text)
          else None
        val adAsPict = itemDiv.isDefined && sectionId.contains("PICT") &&
          attr(itemDiv.get, "TYPE").contains("ADVERTISEMENT")
        if (!adAsPict) {
          cis += new Ci(f"${ref.issueId}-i$counter%04d",
            if (isArticle) "article" else "image",
            title, lang, Some(sectionId), parts, None,
            itemDiv.flatMap(attr(_, "TYPE")))
        }
        counter += 1
      }
    }

    // 2. logical structMap ads/death notices/weather (classes.py:307-365)
    val logical = (doc \\ "structMap")
      .find(s => attr(s, "TYPE").contains("LOGICAL"))
    val structDivs = Seq("ADVERTISEMENT", "DEATH_NOTICE", "WEATHER").flatMap {
      t => logical.toSeq.flatMap(l =>
        (l \\ "div").filter(d => attr(d, "TYPE").contains(t)))
    }.sortBy(d => attr(d, "ID").getOrElse(""))
    for (div <- structDivs) {
      // canonical full-word type constants (importers/__init__.py):
      // ad / weather / death_notice — the short codes are rebuild-side
      val tp = attr(div, "TYPE").get.toLowerCase match {
        case "advertisement" => "ad"
        case "weather" => "weather"
        case "death_notice" => "death_notice"
      }
      cis += new Ci(f"${ref.issueId}-i$counter%04d", tp,
        attr(div, "LABEL"), None, attr(div, "ID"), parseMetsDiv(div), None)
      counter += 1
    }

    // 3. section reconstruction (classes.py:453-537)
    val sections = mutable.ArrayBuffer.empty[Ci]
    for (section <- dmdSecs) {
      val sectionId = attr(section, "ID").getOrElse("")
      if (sectionId.contains("SECT")) {
        divByDmdid(sectionId) match {
          case None =>
            notes += s"<div [DMID]=$sectionId> not found ${ref.path}"
          case Some(div) =>
            if (divHasBody(div) && sectionIsArticle(div)) {
              val articleLids = descendantDivs(div)
                .filter(d => attr(d, "TYPE").contains("ARTICLE"))
                .flatMap(d => attr(d, "DMDID"))
              val canonical = articleLids.flatMap(lid =>
                cis.find(_.legacyId.contains(lid)).map(_.id))
              val title = (section \\ "titleInfo").headOption.map(titleText)
                .filter(_.nonEmpty)
              sections += new Ci(f"${ref.issueId}-i$counter%04d", "article",
                title, None, Some(sectionId), parseMetsDiv(div),
                Some(canonical.toSeq))
              counter += 1
            }
        }
      }
    }

    // 4. drop CIs contained in sections, keep images (helpers.py:120-152)
    val toRemove = sections.flatMap(_.canonicalParts.getOrElse(Nil)).toSet
    val kept = cis.filter(ci => !toRemove.contains(ci.id) || ci.tp == "image")
    val contentItems = (kept ++ sections).toSeq

    // 5. ark (classes.py:572-574)
    val arkId = attr(doc, "OBJID").getOrElse("")
      .replace("https://persist.lu/ark:/", "ark:")

    // 6. reading order BEFORE pp fill (classes.py:576-584; utils.py:139-158)
    val ro = contentItems
      .sortBy(_.num)
      .sortBy(_.pp.toSeq)(scala.math.Ordering.Implicits.seqOrdering)
      .zipWithIndex.map { case (ci, i) => ci.id -> (i + 1) }.toMap

    // page XML cache for image CIs + page parse
    val pageXml = mutable.Map.empty[Int, Elem]
    def loadPage(no: Int): Elem =
      pageXml.getOrElseUpdate(no,
        Xml.load(pages.find(_._1 == no).get._2.path))

    // 7. fill pp / process images (classes.py:585-599)
    for (ci <- contentItems) {
      if (ci.tp == "image") processImageCi(ci, ref, arkId, imageProps,
        pages.map(_._1), loadPage, notes)
      else if (ci.tp != null)
        for (p <- ci.parts.map(_.pageNo)) if (!ci.pp.contains(p)) ci.pp += p
      ci.ro = ro(ci.id)
    }

    // 8. issue JSON
    val pageIds = pages.map { case (no, _) => f"${ref.issueId}-p$no%04d" }
    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(contentItems.map(ciJson)),
      "pp" -> Json.strs(pageIds)) ++
      (if (notes.nonEmpty) Seq("n" -> JStr(notes.mkString("\n"))) else Nil))

    // 9. page JSONs (LuxNewspaperPage; mets_alto/classes.py:120-135)
    val mappings = contentItems.filter(!_.partsDeleted)
      .flatMap(ci => ci.parts.flatMap(p => p.id.map(_ -> ci.id))).toMap
    val pageJsons = pages.map { case (no, _) =>
      val pid = f"${ref.issueId}-p$no%04d"
      val xml = loadPage(no)
      val ps = (xml \\ "PrintSpace").headOption
      val (rawRegions, pageNotes) = Alto.parsePrintSpace(ps, mappings)
      val (cc, regions) = imageProps.get(no) match {
        case Some((xr, yr)) =>
          (true, rawRegions.map(r => convertRegion(r, xr, yr)))
        case None => (false, rawRegions)
      }
      val styles = (xml \\ "TextStyle").map(Alto.parseStyle)
      val iiif = s"$IiifEndpoint/${encodeArk(arkId)}%2fpages%2f$no"
      val json = JObj(Seq(
        "id" -> JStr(pid),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "cc" -> JBool(cc),
        "iiif_img_base_uri" -> JStr(iiif),
        "s" -> JArr(styles.map(styleJson)),
        "r" -> JArr(regions.map(regionJson))) ++
        (if (pageNotes.nonEmpty) Seq("n" -> Json.strs(pageNotes)) else Nil))
      pid -> Json.render(json)
    }

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }

  /** Image CI completion (classes.py:366-451): tables get their parts'
    * pages; illustrations get converted coordinates + iiif link from the
    * ALTO graphical element. */
  private def processImageCi(ci: Ci, ref: IssueRef, arkId: String,
      imageProps: Map[Int, (Int, Int)], pageNos: Seq[Int],
      loadPage: Int => Elem, notes: mutable.ArrayBuffer[String]): Unit = {
    // the div TYPE was captured at dmdSec parse time (the reference
    // re-finds the div by the CI's legacy id, classes.py:370-377)
    val legacy = ci.legacyId.getOrElse(return)
    val itemDivType = ci.divType.getOrElse(return)
    itemDivType.toLowerCase match {
      case "table" =>
        ci.tp = "table"
        for (p <- ci.parts.map(_.pageNo)) if (!ci.pp.contains(p)) ci.pp += p
      case "illustration" =>
        val imagePart = ci.parts.find(_.role.contains("image"))
        imagePart match {
          case None =>
            notes += s"$legacy without image subpart; $legacy has ${ci.parts}"
          case Some(part) =>
            val pageNo = part.pageNo
            if (!pageNos.contains(pageNo))
              throw new IllegalStateException(
                s"page $pageNo for image CI ${ci.id} not found")
            if (!ci.pp.contains(pageNo)) ci.pp += pageNo
            try {
              val xml = loadPage(pageNo)
              val composed = (xml \\ "ComposedBlock")
                .find(b => part.id.exists(attr(b, "ID").contains))
              val graphic = composed match {
                case Some(cb) => (cb \\ "GraphicalElement").headOption
                  .orElse((xml \\ "Illustration").headOption)
                case None => (xml \\ "Illustration")
                  .find(b => part.id.exists(attr(b, "ID").contains))
              }
              val g = graphic.get
              val coords = Seq("HPOS", "VPOS", "WIDTH", "HEIGHT")
                .map(a => attr(g, a).get.toInt)
              val (xr, yr) = imageProps(pageNo)
              ci.coords = Some(convertCoordinates(coords, xr, yr))
              ci.iiifLink = Some(
                s"$IiifEndpoint/${encodeArk(arkId)}%2fpages%2f$pageNo/info.json")
              ci.partsDeleted = true
            } catch {
              case e: Exception =>
                notes += (s"An error occurred with page $pageNo of ${ref.path}. " +
                  s"<ComposedBlock> @ID ${part.id.getOrElse("")} not found")
            }
        }
      case _ => ()
    }
  }

  private def convertRegion(r: CRegion, xr: Int, yr: Int): CRegion =
    CRegion(convertCoordinates(r.c, xr, yr), r.pOf,
      r.p.map(pa => CPara(convertCoordinates(pa.c, xr, yr),
        pa.l.map(li => CLine(convertCoordinates(li.c, xr, yr),
          li.t.map(t => t.copy(c = convertCoordinates(t.c, xr, yr))))))))

  // ---- JSON builders ----

  private def styleJson(s: Alto.FontStyle): JValue =
    JObj(Seq(
      "id" -> s.id.map(JStr).getOrElse(JNull),
      "fs" -> s.fs.map(JDouble).getOrElse(JNull),
      "f" -> s.f.map(JStr).getOrElse(JNull)))

  private def tokenJson(t: CToken): JValue =
    JObj(Seq("c" -> Json.ints(t.c)) ++
      t.tx.map(v => "tx" -> (JStr(v): JValue)) ++
      t.hy.map(v => "hy" -> (JBool(v): JValue)) ++
      t.nf.map(v => "nf" -> (JStr(v): JValue)))

  private def regionJson(r: CRegion): JValue =
    JObj(Seq("c" -> Json.ints(r.c)) ++
      r.pOf.map(v => "pOf" -> (JStr(v): JValue)) ++
      Seq("p" -> JArr(r.p.map(pa => JObj(Seq(
        "c" -> Json.ints(pa.c),
        "l" -> JArr(pa.l.map(li => JObj(Seq(
          "c" -> Json.ints(li.c),
          "t" -> JArr(li.t.map(tokenJson))))))))))))

  private def ciJson(ci: Ci): JValue = {
    val m = JObj(Seq(
      "id" -> JStr(ci.id),
      "pp" -> Json.ints(ci.pp.toSeq),
      "tp" -> JStr(ci.tp)) ++
      ci.title.map(t => "t" -> (JStr(t): JValue)) ++
      ci.lang.map(l => "lg" -> (JStr(l): JValue)) ++
      ci.iiifLink.map(l => "iiif_link" -> (JStr(l): JValue)) ++
      Seq("ro" -> JInt(ci.ro.toLong)))
    val l = JObj(
      Seq("id" -> (ci.legacyId.map(JStr).getOrElse(JNull): JValue)) ++
        (if (!ci.partsDeleted) Seq("parts" -> partsJson(ci.parts)) else Nil) ++
        ci.canonicalParts.map(cp => "canonical_parts" -> (Json.strs(cp): JValue)))
    JObj(Seq("m" -> m, "l" -> l) ++
      ci.coords.map(c => "c" -> (Json.ints(c): JValue)))
  }

  private def partsJson(parts: Seq[CiPart]): JValue =
    JArr(parts.map(p => JObj(Seq(
      "comp_role" -> p.role.map(JStr).getOrElse(JNull),
      "comp_id" -> p.id.map(JStr).getOrElse(JNull),
      "comp_fileid" -> JStr(p.fileId),
      "comp_page_no" -> JInt(p.pageNo.toLong)))))
}

package graft.parse

import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.model.Canonical._
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** RERO2/RERO3 Mets/Alto importer.
  *
  * Re-expression of text_preparation/importers/rero/{classes.py,
  * detect.py}. Distinctives: content items come from the direct children
  * of the logical CONTENT div, sorted case-insensitively by ID; `Section`
  * divs are recursively decomposed into their DMDID-carrying descendants
  * (classes.py:354-383); image CIs pick the largest-area part
  * (classes.py:452-513); RERO2 image resolutions are 0 so coordinates
  * pass through unconverted; the CI `t` (title) field is present even
  * when null, matching the reference's metadata dict.
  */
object ReroImporter {

  val IiifEndpoint = "https://impresso-project.ch/api/proxy/iiif/"
  val EditionsMappings = Map(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d", 5 -> "e")

  case class IssueRef(alias: String, date: String, edition: String,
      path: String) extends IssueKey

  /** `<base>/<journal>/data/<ALIAS>/<yyyymmdd_ed>` (detect.py:39-85). */
  def detectIssues(baseDir: String): Seq[IssueRef] = {
    for {
      journal <- FsWalk.subdirs(baseDir)
      alias <- FsWalk.subdirs(FsWalk.child(journal.path, "data"))
      issueDir <- FsWalk.subdirs(alias.path)
      parts = issueDir.name.split("_") if parts.length >= 2
    } yield {
      val d = parts(0)
      IssueRef(alias.name,
        s"${d.substring(0, 4)}-${d.substring(4, 6)}-${d.substring(6, 8)}",
        EditionsMappings(parts(1).toInt), issueDir.path)
    }
  }

  private def attr(n: Node, name: String): Option[String] =
    n.attribute(name).map(_.text)

  private case class Part(role: Option[String], id: Option[String],
      fileId: String, pageNo: Int)

  private final class Ci(val id: String, val tp: String,
      val title: Option[String], val lang: Option[String],
      val legacyId: Option[String], val parts: Seq[Part]) {
    var pp: Seq[Int] = Nil
    var ro: Int = 0
    var coords: Option[Seq[Int]] = None
    var iiifLink: Option[String] = None
    def isImage: Boolean = tp == "image"
    def num: Int = id.split("-i").last.toInt
  }

  private def parseParts(div: Node): Seq[Part] =
    div.child.collect { case e: Elem => e }.flatMap { child =>
      val role = attr(child, "TYPE").map(_.toLowerCase)
      (child \\ "area").map { area =>
        val fileId = attr(area, "FILEID").getOrElse("")
        Part(role, attr(area, "BEGIN"), fileId,
          fileId.replace("ALTO", "").toInt)
      }
    }

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue = {
    val metsFile = FsWalk.files(ref.path)
      .find(_.name.toLowerCase.contains("mets.xml"))
      .getOrElse(throw new IllegalStateException(
        s"Could not find METS file in ${ref.path}"))
    val doc = Xml.load(metsFile.path)

    // pages: ALTO/<NNNNN>.xml, page number from the file name
    val pageFiles = FsWalk.files(FsWalk.child(ref.path, "ALTO"))
      .filter(f => !f.name.startsWith(".") && f.name.contains(".xml"))
    val pages = pageFiles.map(f => (f.name.split("\\.")(0).toInt, f))
    val pageXml = mutable.Map.empty[Int, Elem]
    def loadPage(no: Int): Elem =
      pageXml.getOrElseUpdate(no,
        Xml.load(pages.find(_._1 == no).get._2.path))

    // RERO2: ImageWidth/ImageLength resolutions default 0 → no conversion
    val allDivs = doc \\ "div"
    val content = allDivs
      .find(d => attr(d, "TYPE").contains("CONTENT"))
      .getOrElse(throw new IllegalStateException("no CONTENT div"))

    def decomposeSection(div: Node): Seq[Node] = {
      val sectionDivs = (div \\ "div")
        .filter(d => (d ne div) && attr(d, "DMDID").isDefined)
        .sortBy(d => attr(d, "ID").getOrElse("").toLowerCase)
      sectionDivs.flatMap { d =>
        attr(d, "TYPE").map(_.toLowerCase) match {
          case Some("section") => decomposeSection(d)
          case Some(_) => Seq(d)
          case None => Nil
        }
      }
    }

    val topDivs = content.child.collect { case e: Elem if e.label == "div" => e }
      .sortBy(d => attr(d, "ID").getOrElse("").toLowerCase)
    val itemDivs = topDivs.flatMap { div =>
      if (attr(div, "TYPE").exists(_.toLowerCase == "section"))
        decomposeSection(div)
      else Seq(div)
    }

    // languages: the reference looks the term up under the CI's dmdSec
    // with a namespace-PREFIXED tag name its own parser never produces
    // (classes.py:283-302 find("MODS:languageTerm") under lxml-xml), so
    // the lookup never matches and `lg` is absent — preserved.
    val cis = itemDivs.zipWithIndex.map { case (div, idx) =>
      val rawType = attr(div, "TYPE").getOrElse("").toLowerCase
      val tp = if (rawType == "picture" || rawType == "illustration") "image"
        else rawType
      new Ci(f"${ref.issueId}-i${idx + 1}%04d", tp, attr(div, "LABEL"),
        None, attr(div, "ID"), parseParts(div))
    }

    for (ci <- cis) {
      ci.pp = ci.parts.map(_.pageNo).distinct
      if (ci.isImage) {
        val pageNo = ci.pp.head
        var best: Option[Seq[Int]] = None
        var maxArea = 0L
        for (part <- ci.parts; pid <- part.id) {
          val el = (loadPage(pageNo) \\ "_").find(e =>
            (e.label == "ComposedBlock" || e.label == "TextBlock") &&
              attr(e, "ID").contains(pid))
          el.foreach { e =>
            val c = Seq("HPOS", "VPOS", "WIDTH", "HEIGHT")
              .map(a => attr(e, a).map(_.toDouble.toInt).getOrElse(0))
            val area = c(2).toLong * c(3)
            if (area > maxArea) { maxArea = area; best = Some(c) }
          }
        }
        ci.coords = best
        ci.iiifLink = Some(
          s"$IiifEndpoint${f"${ref.issueId}-p$pageNo%04d"}/info.json")
      }
    }
    val ro = cis
      .sortBy(_.num)
      .sortBy(_.pp)(scala.math.Ordering.Implicits.seqOrdering)
      .zipWithIndex.map { case (ci, i) => ci.id -> (i + 1) }.toMap
    cis.foreach(ci => ci.ro = ro(ci.id))

    val pageIds = pages.map { case (no, _) => f"${ref.issueId}-p$no%04d" }
    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(cis.map(ciJson)),
      "pp" -> Json.strs(pageIds)))

    val mappings = cis.flatMap(ci =>
      ci.parts.flatMap(p => p.id.map(_ -> ci.id))).toMap
    val pageJsons = pages.map { case (no, _) =>
      val pid = f"${ref.issueId}-p$no%04d"
      val xml = loadPage(no)
      val ps = (xml \\ "PrintSpace").headOption
      val (regions, notes) = Alto.parsePrintSpace(ps, mappings)
      val json = JObj(Seq(
        "id" -> JStr(pid),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "cc" -> JBool(true),
        "iiif_img_base_uri" -> JStr(s"$IiifEndpoint$pid"),
        "r" -> JArr(regions.map(regionJson))) ++
        (if (notes.nonEmpty) Seq("n" -> Json.strs(notes)) else Nil))
      pid -> Json.render(json)
    }

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }

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
      "tp" -> JStr(ci.tp),
      "pp" -> Json.ints(ci.pp),
      // `t` is always present in RERO metadata, null when no LABEL
      "t" -> ci.title.map(JStr).getOrElse(JNull)) ++
      ci.lang.map(l => "lg" -> (JStr(l): JValue)) ++
      (if (ci.isImage)
        Seq("iiif_link" -> ci.iiifLink.map(JStr).getOrElse(JNull))
      else Nil) ++
      Seq("ro" -> JInt(ci.ro.toLong)))
    JObj(Seq("m" -> m,
      "l" -> JObj(Seq(
        "id" -> ci.legacyId.map(JStr).getOrElse(JNull),
        "parts" -> partsJson(ci.parts)))) ++
      (if (ci.isImage) Seq("c" -> ci.coords.map(Json.ints).getOrElse(JNull))
      else Nil))
  }

  private def partsJson(parts: Seq[Part]): JValue =
    JArr(parts.map(p => JObj(Seq(
      "comp_role" -> p.role.map(JStr).getOrElse(JNull),
      "comp_id" -> p.id.map(JStr).getOrElse(JNull),
      "comp_fileid" -> JStr(p.fileId),
      "comp_page_no" -> JInt(p.pageNo.toLong)))))
}

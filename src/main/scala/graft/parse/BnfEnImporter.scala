package graft.parse

import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.model.Canonical._
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** BNF-Europeana (Gallica) Mets/Alto importer.
  *
  * Re-expression of text_preparation/importers/bnf_en/{classes.py,
  * detect.py}. Distinctives vs the plain BNF variant:
  *  - issue directories are `<Journal-Name>/<yyyymmdd[_ed]_1>/` with the
  *    METS beside an `ALTO/` page directory;
  *  - every issue carries a Gallica IIIF ark id; the reference resolves
  *    them from the live Gallica Issues API at detect time
  *    (bnf_en/detect.py:162-263) — here the ark table is a prefetched
  *    enrichment input (SURVEY.md §7.4 risk 3: parse stays pure and
  *    retry-safe; Spark tasks may re-execute), and issues missing from
  *    it are dropped exactly like the reference's None filter;
  *  - content items come from dmdSecs sorted by lowercased ID, matched
  *    to divs of the LOGICAL structMap's CONTENT div; `section` divs
  *    decompose recursively into content-typed children sorted by ID
  *    (classes.py:252-283);
  *  - image AND table CIs get top-level coords `c` from the largest
  *    ALTO block among their parts plus an `m.iiif_link` onto the ark
  *    (classes.py:341-399); coordinates stay raw ALTO values (the
  *    reference's conversion call is commented out, classes.py:396);
  *  - `m.pp` keeps first-encounter part order, deduped but NOT sorted
  *    (classes.py:243-246).
  */
object BnfEnImporter {

  val IiifEndpoint = "https://gallica.bnf.fr/iiif/ark:/12148/"

  /** bnf_en/classes.py:37-40 — only these two types are translated. */
  val TypeTranslation: Map[String, String] =
    Map("illustration" -> "image", "advertisement" -> "ad")

  /** bnf/helpers.py:16 BNF_CONTENT_TYPES (used for section decompose). */
  val ContentTypes: Set[String] =
    Set("article", "advertisement", "illustration", "ornament", "freead", "table")

  /** detect.py:19 EDITIONS_MAPPINGS. */
  val EditionsMappings: Map[Int, String] =
    Map(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d", 5 -> "e")

  case class IssueRef(alias: String, date: String, edition: String,
      path: String, arkLink: String) extends IssueKey

  private def attr(n: Node, name: String): Option[String] =
    n.attribute(name).map(_.text)

  /** Directory scan (detect.py:335-358) with the ark table as an
    * offline enrichment input keyed by canonical issue id; issues
    * without an ark are dropped (dir2issue returning None). */
  def detectIssues(baseDir: String, arkTable: Map[String, String]): Seq[IssueRef] = {
    val journalDirs = FsWalk.subdirs(baseDir)
    journalDirs.flatMap { j =>
      val alias = j.name.toLowerCase.replace("-", "").trim
      FsWalk.subdirs(j.path).flatMap { issueDir =>
          val parts = issueDir.name.split("_")
          if (parts.length < 2) None
          else {
            val raw = parts(0)
            // non-conforming dir names are skipped, not fatal: detect
            // runs driver-side, outside the per-issue quarantine
            // (length cap keeps toInt from overflowing)
            if (!raw.matches("\\d{8}") || !parts(1).matches("\\d{1,9}")) None
            else {
              val date = s"${raw.take(4)}-${raw.slice(4, 6)}-${raw.slice(6, 8)}"
              // "<date>_1" → edition a; "<date>_02_1" → second edition
              val edition = EditionsMappings.getOrElse(parts(1).toInt, "a")
              val id = s"$alias-$date-$edition"
              arkTable.get(id).map(ark =>
                IssueRef(alias, date, edition, issueDir.path, ark))
            }
          }
        }
    }.toSeq
  }

  private case class Part(role: Option[String], id: Option[String],
      fileId: String, pageNo: Int)

  private final class Ci(val id: String, val tp: String,
      val title: Option[String], val lg: Option[String],
      val legacyId: Option[String], val parts: Seq[Part]) {
    val pp: Seq[Int] = parts.map(_.pageNo).distinct // dedup, keep order
    var ro: Int = 0
    var coords: Option[Seq[Int]] = None
    var iiifLink: Option[String] = None
    def isVisual: Boolean = tp == "image" || tp == "table"
    def num: Int = id.split("-i").last.toInt
  }

  /** Legacy parts of a content div: direct children contribute their
    * `area` descendants with the child's TYPE as role
    * (classes.py:142-180); non-ALTO file ids cannot carry a page. */
  private def parseContentParts(div: Node): Seq[Part] =
    div.child.collect { case e: Elem => e }.flatMap { child =>
      val role = attr(child, "TYPE").map(_.toLowerCase)
      (child \\ "area").flatMap { area =>
        val fileId = attr(area, "FILEID").getOrElse("")
        val num = fileId.replace("ALTO", "")
        if (num.nonEmpty && num.forall(_.isDigit))
          Some(Part(role, attr(area, "BEGIN"), fileId, num.toInt))
        else None
      }
    }

  /** Section decomposition (classes.py:252-283): all content-typed
    * DESCENDANT divs sorted by lowercased ID. The reference's recursion
    * branch is unreachable — its candidate filter keeps only
    * BNF_CONTENT_TYPES (which excludes `section`), and `findAll` is
    * already recursive, so nested sections' children surface in the one
    * flat sorted pass. Reproduced exactly. */
  private def decomposeSection(div: Node): Seq[Node] =
    (div \\ "div")
      .filter(d => (d ne div) &&
        attr(d, "TYPE").exists(t => ContentTypes.contains(t.toLowerCase)))
      .sortBy(d => attr(d, "ID").getOrElse("").toLowerCase)

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue = {
    val metsFile = FsWalk.files(ref.path)
      .find(_.name.toLowerCase.endsWith("mets.xml"))
      .getOrElse(throw new IllegalStateException(
        s"Could not find METS file in ${ref.path}"))
    val doc = Xml.load(metsFile.path)

    // pages from the ALTO dir (classes.py:108-141); sorted for
    // determinism where the reference keeps listdir order
    val altoDir = FsWalk.child(ref.path, "ALTO")
    if (!FsWalk.isDir(altoDir))
      throw new IllegalStateException(
        s"Could not find pages for ${ref.issueId}, non-existing path: $altoDir")
    val pageFiles = FsWalk.files(altoDir)
      .filter(f => !f.name.startsWith(".") && f.name.contains(".xml"))
    // page number from the trailing numeric segment; stray non-page XML
    // is skipped instead of failing the issue (same guard as BL/ONB)
    val pages: Seq[(Int, FsWalk.Dir)] = pageFiles.flatMap { f =>
      val seg = f.name.split("\\.")(0).split("-").last
      if (seg.nonEmpty && seg.forall(_.isDigit)) Some((seg.toInt, f))
      else None
    }.toSeq
    lazy val pageXml: Map[Int, Elem] =
      pages.map { case (no, f) => no -> Xml.load(f.path) }.toMap

    // content items: dmdSecs sorted by lowercased ID → CONTENT divs
    // (classes.py:285-339)
    val structContent = (doc \\ "div")
      .find(d => attr(d, "TYPE").contains("CONTENT"))
      .getOrElse(throw new IllegalStateException("no CONTENT div"))
    val contentDivs = structContent \\ "div"

    def ciLanguage(dmdid: Option[String]): Option[String] =
      dmdid.flatMap { id =>
        (doc \\ "dmdSec").find(s => attr(s, "ID").contains(id))
          .flatMap(s => (s \\ "languageTerm").headOption.map(_.text))
      }

    val cis = mutable.ArrayBuffer.empty[Ci]
    var counter = 1
    def parseContentItem(div: Node): Unit = {
      val divType0 = attr(div, "TYPE").map(_.toLowerCase).getOrElse("")
      val tp = TypeTranslation.getOrElse(divType0, divType0)
      val id = f"${ref.issueId}-i$counter%04d"
      counter += 1
      cis += new Ci(id, tp, attr(div, "LABEL"),
        ciLanguage(attr(div, "DMDID")), attr(div, "ID"),
        parseContentParts(div))
    }

    val sortedDmd = (doc \\ "dmdSec")
      .sortBy(s => attr(s, "ID").getOrElse("").toLowerCase)
    for (s <- sortedDmd) {
      val secId = attr(s, "ID").getOrElse("")
      val divs = contentDivs.filter(d => attr(d, "DMDID").contains(secId))
      // 0 matches → skip; >1 matches → warn-and-skip (classes.py:302-311)
      if (divs.length == 1) {
        val div = divs.head
        if (attr(div, "TYPE").map(_.toLowerCase).contains("section"))
          decomposeSection(div).foreach(parseContentItem)
        else parseContentItem(div)
      }
    }

    // reading order (utils.py get_reading_order: sort by pp list then num)
    val ro = cis.toSeq
      .sortBy(_.num)
      .sortBy(_.pp)(scala.math.Ordering.Implicits.seqOrdering)
      .zipWithIndex.map { case (ci, i) => ci.id -> (i + 1) }.toMap
    cis.foreach(ci => ci.ro = ro(ci.id))

    // image/table coords + iiif (classes.py:341-399): largest part block
    for (ci <- cis if ci.isVisual) {
      require(ci.pp.length == 1, "Image is on more than one page")
      val pageNo = ci.pp.head
      require(ci.parts.nonEmpty, s"No parts for image ${ci.id}")
      var maxArea = 0L
      for (part <- ci.parts; compId <- part.id) {
        val blocks = (pageXml(pageNo) \\ "_").filter(e =>
          (e.label == "ComposedBlock" || e.label == "TextBlock") &&
            attr(e, "ID").contains(compId))
        for (b <- blocks.headOption) {
          val c = for {
            h <- attr(b, "HPOS"); v <- attr(b, "VPOS")
            w <- attr(b, "WIDTH"); ht <- attr(b, "HEIGHT")
          } yield Seq(h, v, w, ht).map(x => x.toDouble.toInt)
          c.foreach { cc =>
            val area = cc(2).toLong * cc(3)
            if (area > maxArea) { maxArea = area; ci.coords = Some(cc) }
          }
        }
      }
      ci.iiifLink = Some(s"$IiifEndpoint${ref.arkLink}/f$pageNo/info.json")
    }

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(cis.toSeq.map(ciJson)),
      "pp" -> Json.strs(pages.map(p => f"${ref.issueId}-p${p._1}%04d")),
      "iiif_manifest_uri" ->
        JStr(s"$IiifEndpoint${ref.arkLink}/manifest.json")))

    // page parse with comp_id → CI mappings (MetsAltoCanonicalPage.parse)
    val mappings = cis.flatMap(ci =>
      ci.parts.flatMap(p => p.id.map(_ -> ci.id))).toMap
    val pageJsons = pages.map { case (no, _) =>
      val pid = f"${ref.issueId}-p$no%04d"
      val ps = (pageXml(no) \\ "PrintSpace").headOption
      val (regions, notes) = Alto.parsePrintSpace(ps, mappings)
      val json = JObj(Seq(
        "id" -> JStr(pid),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "cc" -> JBool(true),
        "iiif_img_base_uri" ->
          JStr(s"$IiifEndpoint${ref.arkLink}/f$no"),
        "r" -> JArr(regions.map(CanonicalJson.regionJson))) ++
        (if (notes.nonEmpty) Seq("n" -> Json.strs(notes)) else Nil))
      pid -> Json.render(json)
    }

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }

  // ---- JSON ----


  private def ciJson(ci: Ci): JValue = {
    val m = JObj(Seq(
      "id" -> JStr(ci.id),
      "tp" -> JStr(ci.tp),
      "pp" -> Json.ints(ci.pp)) ++
      ci.title.map(t => "t" -> (JStr(t): JValue)) ++
      ci.lg.map(l => "lg" -> (JStr(l): JValue)) ++
      ci.iiifLink.map(l => "iiif_link" -> (JStr(l): JValue)) ++
      Seq("ro" -> JInt(ci.ro.toLong)))
    JObj(Seq("m" -> m,
      "l" -> JObj(
        ci.legacyId.map(i => "id" -> (JStr(i): JValue)).toSeq ++
          Seq("parts" -> partsJson(ci.parts)))) ++
      ci.coords.map(c => "c" -> (Json.ints(c): JValue)))
  }

  private def partsJson(parts: Seq[Part]): JValue =
    JArr(parts.map(p => JObj(Seq(
      "comp_role" -> p.role.map(JStr).getOrElse(JNull),
      "comp_id" -> p.id.map(JStr).getOrElse(JNull),
      "comp_fileid" -> JStr(p.fileId),
      "comp_page_no" -> JInt(p.pageNo.toLong)))))
}

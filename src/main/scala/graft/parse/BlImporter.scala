package graft.parse

import java.io.File
import scala.xml.Node

import graft.model.Canonical._
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** BL (British Library) Mets/Alto importer.
  *
  * Re-expression of text_preparation/importers/bl/{classes.py,detect.py}.
  * Distinctives: content items are the LOGICAL ISSUE div's descendants
  * sorted case-insensitively by DMDID; their physical parts resolve
  * through the structLink's smLocatorLink groups into the PHYSICAL
  * structmap (page-typed targets expand to all their child divs); no
  * image properties (coordinates pass through, cc=true); alias is the
  * NLP id directory name.
  */
object BlImporter {

  val IiifEndpoint = "https://impresso-project.ch/api/proxy/iiif/"

  case class IssueRef(alias: String, date: String, edition: String,
      path: String) extends IssueKey

  /** `<base>/<blip-batch>/<nlp-id>/<year>/<MMDD>` (detect.py:129-196). */
  def detectIssues(baseDir: String): Seq[IssueRef] = {
    for {
      blip <- FsWalk.subdirs(baseDir)
      alias <- FsWalk.subdirs(blip.path)
      year <- FsWalk.subdirs(alias.path) if year.name.matches("\\d{4}")
      monthDay <- FsWalk.subdirs(year.path)
        if monthDay.name.matches("\\d{4}")
    } yield {
      val md = monthDay.name
      IssueRef(alias.name,
        s"${year.name}-${md.substring(0, 2)}-${md.substring(2, 4)}",
        "a", monthDay.path)
    }
  }

  /** Zip-shaped dump (bl/detect.py:113-196): extract every `*.zip` in
    * `baseDir` into `tmpDir`, then walk the extracted BLIP tree. Kept as
    * a driver-side staging step exactly like the reference — per-entry
    * streaming from [[graft.sources.ZipSource]] is preferable when the
    * archives are per ISSUE (Olive), but BL zips span whole BLIP batches
    * whose members are re-read many times during parse. */
  def detectIssuesFromZips(baseDir: String, tmpDir: String): Seq[IssueRef] = {
    val zips = FsWalk.files(baseDir).filter(_.name.endsWith(".zip"))
    for (z <- zips) FsWalk.withLocalFile(z.path) { local =>
      val zf = new java.util.zip.ZipFile(local)
      try {
        val entries = zf.entries()
        while (entries.hasMoreElements) {
          val e = entries.nextElement()
          val target = new File(tmpDir, e.getName)
          // zip-slip guard: refuse entries escaping the destination
          if (!target.getCanonicalPath.startsWith(
              new File(tmpDir).getCanonicalPath + File.separator))
            throw new IllegalArgumentException(
              s"zip entry escapes destination: ${e.getName}")
          if (e.isDirectory) target.mkdirs()
          else {
            target.getParentFile.mkdirs()
            val in = zf.getInputStream(e)
            try java.nio.file.Files.copy(in, target.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            finally in.close()
          }
        }
      } finally zf.close()
    }
    detectIssues(tmpDir)
  }

  private def attr(n: Node, name: String): Option[String] = {
    // BL attributes include namespace-prefixed xlink:href; scala-xml keys
    // prefixed attributes by local name, so match either form
    val it = n.attributes.iterator
    it.find(a => a.key == name ||
      (a.prefixedKey != null && a.prefixedKey == name)).map(_.value.text)
  }

  private case class Part(role: Option[String], id: String, fileId: String,
      pageNo: Int)

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue = {
    val entries = FsWalk.files(ref.path)
    val metsFile = entries
      .find(_.name.toLowerCase.contains("mets.xml"))
      .getOrElse(throw new IllegalStateException(
        s"Could not find METS file in ${ref.path}"))
    val doc = Xml.load(metsFile.path)

    val pageFiles = entries
      .filter(f => !f.name.startsWith(".") && f.name.contains(".xml") &&
        !f.name.toLowerCase.contains("mets"))
    // page number from the trailing numeric segment of the stem; files
    // without one (stray sidecar XML) are skipped rather than failing
    // the whole issue
    val pages = pageFiles.flatMap { f =>
      val seg = f.name.split("\\.")(0).split("_").last
      if (seg.nonEmpty && seg.forall(_.isDigit)) Some((seg.toInt, f))
      else None
    }.toSeq.sortBy(_._1)

    val structMaps = doc \\ "structMap"
    val logical = structMaps
      .find(s => attr(s, "TYPE").contains("LOGICAL"))
      .getOrElse(throw new IllegalStateException("no LOGICAL structMap"))
    val physical = structMaps
      .find(s => attr(s, "TYPE").contains("PHYSICAL"))
      .getOrElse(throw new IllegalStateException("no PHYSICAL structMap"))
    val structLink = (doc \\ "structLink").headOption
      .getOrElse(throw new IllegalStateException("no structLink"))

    val issueDiv = (logical \\ "div")
      .find(d => attr(d, "TYPE").contains("ISSUE"))
      .getOrElse(throw new IllegalStateException("no ISSUE div"))
    val itemDivs = (issueDiv \\ "div").filter(_ ne issueDiv)
      .filter(d => attr(d, "DMDID").isDefined)
      .sortBy(d => attr(d, "DMDID").get.toLowerCase)

    // physical divs indexed by ID, with their parent ORDER (page number)
    val physDivs: Map[String, (Node, Option[Int])] = {
      def walk(n: Node, parentOrder: Option[Int]): Seq[(String, (Node, Option[Int]))] = {
        val order = attr(n, "ORDER").map(_.toInt).orElse(parentOrder)
        n.child.flatMap { c =>
          val self =
            if (c.label == "div") attr(c, "ID").map(_ -> (c, order)).toSeq
            else Nil
          self ++ walk(c, if (c.label == "div") attr(c, "ORDER").map(_.toInt)
            .orElse(order) else order)
        }.toSeq
      }
      walk(physical, None).toMap
    }

    // structLink groups: href -> sibling hrefs
    val linkGroups: Seq[Seq[String]] = (structLink \\ "smLinkGrp").map { g =>
      (g \\ "smLocatorLink").flatMap(l => attr(l, "href")).map(_.stripPrefix("#"))
    }

    def partDict(div: Node, role: Option[String], parentOrder: Option[Int]): Part = {
      val area = (div \\ "area")
        .find(a => attr(a, "BETYPE").contains("IDREF"))
      Part(
        role.orElse(attr(div, "TYPE").map(_.toLowerCase)),
        attr(div, "ID").getOrElse(""),
        area.flatMap(attr(_, "FILEID")).getOrElse(""),
        parentOrder.getOrElse(0))
    }

    def partsOf(itemId: String): Seq[Part] = {
      val group = linkGroups.find(_.contains(itemId)).getOrElse(Nil)
      group.filterNot(_ == itemId).flatMap { pid =>
        physDivs.get(pid).toSeq.flatMap { case (div, order) =>
          val role = attr(div, "TYPE").map(_.toLowerCase)
          if (role.contains("page"))
            (div \\ "div").filter(_ ne div).map(d =>
              partDict(d, None, attr(div, "ORDER").map(_.toInt)))
          else Seq(partDict(div, role, order))
        }
      }
    }

    val cis = itemDivs.zipWithIndex.map { case (div, idx) =>
      val rawType = attr(div, "TYPE").getOrElse("").toLowerCase
      val tp = rawType match {
        case "picture" => "image"
        case "advert" => "ad"
        case t => t
      }
      val dmdId = attr(div, "DMDID").get
      val lang = (doc \\ "dmdSec")
        .find(s => attr(s, "ID").contains(dmdId))
        .flatMap(s => (s \\ "languageTerm").headOption).map(_.text)
      val parts = partsOf(attr(div, "ID").getOrElse(""))
      val pp = parts.map(_.pageNo).distinct
      (f"${ref.issueId}-i${idx + 1}%04d", tp, lang, attr(div, "ID"),
        parts, pp)
    }

    // reading order over (pp, ci number)
    val ro = cis
      .sortBy(_._1.split("-i").last.toInt)
      .sortBy(_._6)(scala.math.Ordering.Implicits.seqOrdering)
      .zipWithIndex.map { case (ci, i) => ci._1 -> (i + 1) }.toMap

    val ciJsons = cis.map { case (id, tp, lang, legacyId, parts, pp) =>
      val m = JObj(Seq(
        "id" -> JStr(id),
        "tp" -> JStr(tp),
        "pp" -> Json.ints(pp)) ++
        lang.map(l => "lg" -> (JStr(l): JValue)) ++
        Seq("ro" -> JInt(ro(id).toLong)))
      JObj(Seq("m" -> m, "l" -> JObj(Seq(
        "id" -> legacyId.map(JStr).getOrElse(JNull),
        "parts" -> JArr(parts.map(p => JObj(Seq(
          "comp_role" -> p.role.map(JStr).getOrElse(JNull),
          "comp_id" -> JStr(p.id),
          "comp_fileid" -> JStr(p.fileId),
          "comp_page_no" -> JInt(p.pageNo.toLong)))))))))
    }

    val pageIds = pages.map(p => f"${ref.issueId}-p${p._1}%04d")
    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(ciJsons),
      "pp" -> Json.strs(pageIds)))

    // page parse: generic ALTO with comp-id mappings
    val mappings = cis.flatMap { case (id, _, _, _, parts, _) =>
      parts.map(p => p.id -> id)
    }.toMap
    val pageJsons = pages.map { case (no, f) =>
      val pid = f"${ref.issueId}-p$no%04d"
      val xml = Xml.load(f.path)
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
        "r" -> JArr(regions.map(CanonicalJson.regionJson))) ++
        (if (notes.nonEmpty) Seq("n" -> Json.strs(notes)) else Nil))
      pid -> Json.render(json)
    }

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }

}

package graft.parse

import scala.xml.XML

import graft.util.{FsWalk, Json}
import graft.util.Json._

/** ONB (Austrian National Library, ANNO) importer.
  *
  * The reference implements ONLY detection for this format
  * (onb_annop/detect.py; classes.py is empty — SURVEY.md §2.8 "parser
  * not yet"). Here:
  *  - [[detectIssues]] handles the documented `ANNO/alias/yyyy/mm/dd`
  *    layout faithfully, plus the in-repo sample's
  *    `ANNOP/alias/yyyy/<issueNo>` layout — issue numbers are not dates,
  *    so those issues get a provisional `yyyy-01-01` date with editions
  *    assigned by issue-number order (documented beyond-reference
  *    choice: the reference cannot mint ids for this layout at all);
  *  - [[parseIssue]] goes beyond the reference: the pages are standard
  *    ALTO v2, so the generic [[Alto]] core parses them with
  *    page == content item (no Mets exists, the SWA posture).
  */
object OnbImporter {

  case class IssueRef(alias: String, date: String, edition: String,
      path: String) extends IssueKey

  private def dirs(path: String): Seq[FsWalk.Dir] = FsWalk.subdirs(path)

  def detectIssues(baseDir: String): Seq[IssueRef] = {
    def walkRoots(root: String): Seq[IssueRef] = {
      val anno = FsWalk.child(root, "ANNO")
      val annop = FsWalk.child(root, "ANNOP")
      val documented = if (FsWalk.isDir(anno)) for {
        alias <- dirs(anno)
        year <- dirs(alias.path) if year.name.matches("\\d{4}")
        month <- dirs(year.path) if month.name.matches("\\d{2}")
        day <- dirs(month.path)
      } yield IssueRef(alias.name,
        s"${year.name}-${month.name}-${day.name}", "a", day.path)
      else Nil
      val provisional = if (FsWalk.isDir(annop)) for {
        alias <- dirs(annop)
        year <- dirs(alias.path) if year.name.matches("\\d{4}")
        (issueNo, i) <- dirs(year.path).zipWithIndex
      } yield IssueRef(alias.name, s"${year.name}-01-01",
        graft.functions.Ids.editionLetter(i), issueNo.path)
      else Nil
      documented ++ provisional
    }
    // the sample nests the roots one level down (ONB/anno_sample/ANNOP)
    walkRoots(baseDir) match {
      case refs if refs.nonEmpty => refs
      case _ => dirs(baseDir).flatMap(d => walkRoots(d.path))
    }
  }

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue = {
    val issueNotes = scala.collection.mutable.ArrayBuffer.empty[String]
    val files = FsWalk.files(ref.path)
      .filter(f => f.name.endsWith(".xml") && !f.name.startsWith("."))
    // page number from the numeric stem; non-numeric stems (mets files,
    // stray XML) are diverted to a note instead of failing the issue
    val (numbered, unnumbered) = files.partition { f =>
      val stem = f.name.split("\\.")(0).split("_")(0)
      stem.nonEmpty && stem.forall(_.isDigit)
    }
    unnumbered.foreach(f =>
      issueNotes += s"${ref.issueId} - skipping non-page xml ${f.name}")
    // `_2` variants replace the base only when no base file exists
    val byNumber = numbered.groupBy(
      _.name.split("\\.")(0).split("_")(0).toInt)
    val pages = byNumber.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((_, variants), i) => (i + 1, variants.minBy(_.name.length))
    }
    if (pages.isEmpty)
      throw new IllegalStateException(s"no pages for ${ref.issueId}")

    val cis = pages.map { case (n, _) =>
      JObj(Seq("m" -> JObj(Seq(
        "id" -> JStr(f"${ref.issueId}-i$n%04d"),
        "pp" -> Json.ints(Seq(n)),
        "tp" -> JStr("page")))))
    }
    val pageIds = pages.map(p => f"${ref.issueId}-p${p._1}%04d")
    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(cis),
      "pp" -> Json.strs(pageIds)) ++
      (if (issueNotes.nonEmpty) Seq("n" -> Json.strs(issueNotes.toSeq))
       else Nil))

    val pageJsons = pages.map { case (n, f) =>
      val pid = f"${ref.issueId}-p$n%04d"
      val ciId = f"${ref.issueId}-i$n%04d"
      val xml = Xml.load(f.path)
      val ps = (xml \\ "PrintSpace").headOption
      val mappings = ps.toSeq.flatMap(p => (p \\ "TextBlock"))
        .flatMap(b => b.attribute("ID").map(_.text -> ciId)).toMap
      val (regions, notes) = Alto.parsePrintSpace(ps, mappings)
      val json = JObj(Seq(
        "id" -> JStr(pid),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "cc" -> JBool(true),
        "r" -> JArr(regions.map(CanonicalJson.regionJson))) ++
        (if (notes.nonEmpty) Seq("n" -> Json.strs(notes)) else Nil))
      pid -> Json.render(json)
    }
    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }
}

package graft.parse

import java.util.zip.ZipFile
import scala.collection.mutable
import scala.xml.XML

import graft.util.{FsWalk, Json}
import graft.util.Json._

/** SWA (Basel Wirtschaftsarchiv) Alto importer: CSV-driven detection,
  * one zip archive per title-year, page == content item.
  *
  * Re-expression of text_preparation/importers/swa/{detect.py,classes.py}.
  * SWA has no Mets file — an issue is just its pages; the impresso CSV
  * maps manifest ids to page ids and in-archive XML paths. Zip entries
  * are read directly (no temp-dir extraction; see graft.sources.ZipSource
  * rationale). Page numbers are ENUMERATED over the sorted page list
  * (classes.py:196-206), not parsed from the page id — preserved quirk.
  */
object SwaImporter {

  val IiifImgBase = "https://ub-sipi.ub.unibas.ch/impresso"
  val IiifPresBase = "https://ub-iiifpresentation.ub.unibas.ch/impresso_sb"

  case class IssueRef(alias: String, date: String, edition: String,
      archivePath: String, pages: Seq[(String, String)]) extends IssueKey

  /** Rows of the impresso ids CSV (detect.py header):
    * manifest_id, identifier_impresso, filename, xml_file, full_xml_path,
    * goobi_name, newspaper. */
  private def readCsvLines(dir: String): Seq[Array[String]] = {
    val direct = FsWalk.files(dir).find(_.name.endsWith(".csv"))
    val lines: Seq[String] = direct match {
      case Some(csv) =>
        new String(FsWalk.readBytes(csv.path), "utf-8")
          .split("\r?\n").toList
      case None =>
        // the sample layout ships the CSV inside impresso_ids.zip next to
        // the journal directory
        val zips = Seq(FsWalk.child(dir, "impresso_ids.zip"),
          FsWalk.child(FsWalk.parent(dir), "impresso_ids.zip"))
          .filter(FsWalk.isFile)
        zips.headOption.map { z =>
          FsWalk.withLocalFile(z) { local =>
          val zf = new ZipFile(local)
          try {
            val entry = scala.jdk.CollectionConverters
              .EnumerationHasAsScala(zf.entries).asScala
              .find(_.getName.endsWith(".csv"))
            entry.map { e =>
              new String(zf.getInputStream(e).readAllBytes(), "utf-8")
                .split("\r?\n").toSeq
            }.getOrElse(Nil)
          } finally zf.close()
          }
        }.getOrElse(Nil)
    }
    lines.drop(1).filter(_.nonEmpty).map(_.split(",", -1))
  }

  /** CSV-driven detect (detect.py:153-186): group rows by manifest id,
    * keep issues whose archive exists under the journal directory. */
  def detectIssues(baseDir: String): Seq[IssueRef] =
    FsWalk.subdirs(baseDir).flatMap { dir =>
      val rows = readCsvLines(dir.path)
      rows.groupBy(_(0)).toSeq.sortBy(_._1).flatMap {
        case (manifestId, group) =>
          val pages = group.map(r => (r(1), r(4))).toSeq
          val archives = group.map(_(5)).distinct.sorted
          val archive = FsWalk.child(dir.path, archives.head + ".zip")
          val split = manifestId.split("-").dropRight(1)
          if (split.length == 5 && FsWalk.isFile(archive))
            Some(IssueRef(split(0),
              s"${split(1)}-${split(2)}-${split(3)}", split(4),
              archive, pages))
          else None
      }
    }

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue =
    FsWalk.withLocalFile(ref.archivePath) { local =>
    val zf = new ZipFile(local)
    try {
      val notes = mutable.ArrayBuffer.empty[String]
      // pages numbered by enumeration over the SORTED page list
      val numbered = ref.pages.sorted.zipWithIndex.map {
        case ((pageId, path), n) => (pageId, path, n + 1)
      }
      val existing = numbered.filter { case (pageId, path, _) =>
        val ok = zf.getEntry(path) != null
        if (!ok) notes += s"Alto file for $pageId missing $path"
        ok
      }
      if (existing.isEmpty)
        throw new IllegalStateException(
          s"Could not find any page for ${ref.issueId}")

      // page == content item (classes.py:208-220), sorted by page id
      val cis = existing.sortBy(_._1).map { case (_, _, n) =>
        JObj(Seq("m" -> JObj(Seq(
          "id" -> JStr(ref.issueId + "-i" + f"$n%04d"),
          "pp" -> Json.ints(Seq(n)),
          "tp" -> JStr("page")))))
      }

      // per-page fault tolerance: a corrupt/empty ALTO entry drops that
      // page only (the reference's process_supports catches per page,
      // core.py:308-327) — the issue and its other pages survive
      val pageJsons = existing.flatMap { case (pageId, path, n) =>
        try Some(parsePage(zf, pageId, path, cdt, ts))
        catch {
          case e: Exception =>
            notes += s"Page $pageId failed to parse: ${e.getMessage}"
            None
        }
      }
      ParsedIssue(ref.issueId, Json.render(JObj(Seq(
        "id" -> JStr(ref.issueId),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "i" -> JArr(cis),
        "pp" -> Json.strs(existing.map(_._1)),
        "iiif_manifest_uri" ->
          JStr(s"$IiifPresBase/${ref.issueId}-issue/manifest"),
        "notes" -> Json.strs(notes.toSeq)))), pageJsons)
    } finally zf.close()
    }

  private def parsePage(zf: ZipFile, pageId: String, path: String,
      cdt: String, ts: String): (String, String) = {
    val ciId = {
      val parts = pageId.split("-")
      (parts.dropRight(1) :+ parts.last.replace("p", "i")).mkString("-")
    }
    val raw = new String(zf.getInputStream(zf.getEntry(path))
      .readAllBytes(), "utf-8")
    val xml = XML.loadString(raw.stripPrefix("﻿"))
    val ps = (xml \\ "PrintSpace").headOption
    if (ps.isEmpty)
      throw new IllegalStateException(s"no PrintSpace in $path")
    val mappings = ps.toSeq.flatMap(p => (p \\ "TextBlock"))
      .flatMap(b => b.attribute("ID").map(_.text -> ciId)).toMap
    val (regions, pageNotes) = Alto.parsePrintSpace(ps, mappings)
    val filename = path.split("/").last
    val json = JObj(Seq(
      "id" -> JStr(pageId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "cc" -> JBool(true),
      "iiif_img_base_uri" ->
        JStr(s"$IiifImgBase/${filename.split("\\.").head}"),
      "r" -> JArr(regions.map(CanonicalJson.regionJson))) ++
      (if (pageNotes.nonEmpty) Seq("n" -> Json.strs(pageNotes)) else Nil))
    pageId -> Json.render(json)
  }

  import graft.model.Canonical._

}

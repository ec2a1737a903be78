package graft.parse

import java.util.zip.GZIPInputStream
import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.model.Canonical._
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** BNF (Gallica) Mets/Alto importer.
  *
  * Re-expression of text_preparation/importers/bnf/{classes.py,
  * parsers.py, helpers.py, detect.py}. Distinctives vs the Lux variant:
  *  - detection reads each issue's `manifest.xml` (dmdSec DMD.2 date,
  *    possibly a dual date → secondary date note; editions assigned a, b,
  *    c… when several issues share a day);
  *  - CIs are discovered per TYPE via dmdSec→structMap links plus
  *    unreferenced CONTENT divs, with sections flattened into their
  *    children; numbering follows type-first-encounter order
  *    (python dict insertion order — preserved with LinkedHashMap);
  *  - a parent article's id is minted BEFORE its embedded CIs but the
  *    parent is appended after them (classes.py:330-337);
  *  - pages may be gzip'd; the ALTO PrintSpace parse recurses into
  *    ComposedBlocks (parsers.py:39-44);
  *  - page iiif links come from the page's ALTO fileIdentifier ark.
  */
object BnfImporter {

  val IiifEndpoint = "https://gallica.bnf.fr/iiif"

  val ContentTypes: Set[String] =
    Set("article", "advertisement", "illustration", "ornament", "freead", "table")

  /** bnf/helpers.py:32-39 — targets are the canonical full-word type
    * constants (importers/__init__.py); the short codes only appear later
    * in the rebuild's TYPE_MAPPINGS. */
  val TypeTranslation: Map[String, String] = Map(
    "illustration" -> "image", "advertisement" -> "ad",
    "ornament" -> "death_notice", "table" -> "table",
    "article" -> "article", "freead" -> "ad")

  case class IssueRef(alias: String, date: String, edition: String,
      path: String, secondaryDate: Option[String]) extends IssueKey

  private def attr(n: Node, name: String): Option[String] =
    n.attribute(name).map(_.text)

  /** Parse a (possibly dual) BNF date string (helpers.py:90-176). */
  def parseDate(s: String): Option[(String, Option[String])] = {
    def norm(d: String): Option[String] = {
      val t = d.replace('/', '-')
      if (t.matches("\\d{4}-\\d{2}-\\d{2}")) Some(t) else None
    }
    if (s.length < 10) None
    else if (s.length > 10) {
      // two dates: try separators between two full dates
      Seq("/", "-").view
        .map(sep => s.split(java.util.regex.Pattern.quote(sep), -1))
        .find(_.length == 2)
        .flatMap { parts =>
          for (a <- norm(parts(0))) yield (a, norm(parts(1)))
        }
        // a 21-char "yyyy-mm-dd/yyyy-mm-dd" splits on "/" first; pure
        // "-" separated dual dates split into 6 fragments and fail above,
        // so retry on the middle dash
        .orElse {
          if (s.length == 21) for {
            a <- norm(s.substring(0, 10)); b = norm(s.substring(11))
          } yield (a, b)
          else None
        }
    } else norm(s).map(d => (d, None))
  }

  /** Journal alias from the issue path (helpers.py:73-86). */
  def journalAlias(issuePath: String): String = {
    val parts = issuePath.split("/")
    parts(parts.length - 2).split("-").mkString("").toLowerCase
  }

  def detectIssues(baseDir: String): Seq[IssueRef] = {
    val journalDirs = FsWalk.subdirs(baseDir)
      .filterNot(_.name.startsWith("2"))
    val raw = journalDirs.flatMap { j =>
      FsWalk.subdirs(j.path).flatMap { issueDir =>
          val manifest = FsWalk.child(issueDir.path, "manifest.xml")
          if (!FsWalk.isFile(manifest)) None
          else {
            val doc = Xml.load(manifest)
            val dmd2 = (doc \\ "dmdSec")
              .find(s => attr(s, "ID").contains("DMD.2"))
            for {
              d <- dmd2
              dateEl <- (d \\ "date").headOption
              (date, secondary) <- parseDate(dateEl.text.trim)
            } yield IssueRef(journalAlias(issueDir.path), date, "a",
              issueDir.path, secondary)
          }
        }
    }.toSeq
    // assign editions a, b, c… within duplicated (alias, date), ordered
    // by the issue's original number (detect.py:84-108)
    raw.groupBy(r => (r.alias, r.date)).toSeq.sortBy(_._1).flatMap {
      case (_, group) =>
        if (group.size == 1) group
        else group.sortBy(_.path.split("/").last).zipWithIndex.map {
          case (r, i) => r.copy(edition = ('a' + i).toChar.toString)
        }
    }
  }

  // ---- issue parse ----

  private case class Part(role: Option[String], id: Option[String],
      fileId: String, pageNo: Int)

  private final class Ci(val id: String, val tp: String,
      val title: Option[String], val pOf: Option[String],
      val parts: Seq[Part]) {
    var pp: Seq[Int] = Nil
    var ro: Int = 0
    var coords: Option[Seq[Int]] = None
    var iiifLink: Option[String] = None
    var isImage: Boolean = tp == "image"
    def num: Int = id.split("-i").last.toInt
  }

  /** Direct children NOT of a content type contribute their areas
    * (parsers.py:76-113). */
  private def parseDivParts(div: Node): Seq[Part] =
    div.child.collect { case e: Elem => e }.flatMap { child =>
      val role = attr(child, "TYPE").map(_.toLowerCase)
      if (role.exists(ContentTypes.contains)) Nil
      else (child \\ "area").map { area =>
        val fileId = attr(area, "FILEID").getOrElse("")
        Part(role, attr(area, "BEGIN"), fileId, fileId.split("\\.")(1).toInt)
      }
    }

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue = {
    val uid = FsWalk.baseName(ref.path)
    val metsFile = FsWalk.files(FsWalk.child(ref.path, "toc"))
      .find(_.name.endsWith(s"$uid.xml"))
      .getOrElse(throw new IllegalStateException(
        s"Could not find METS file in ${ref.path}"))
    val doc = Xml.load(metsFile.path)

    // pages: ocr/X<number>.xml[.gz] (classes.py:171-201)
    val pageFiles = FsWalk.files(FsWalk.child(ref.path, "ocr"))
      .filter(f => !f.name.startsWith(".") && f.name.contains(".xml"))
    val pagesByNo: Map[Int, (FsWalk.Dir, Elem)] = pageFiles.map { f =>
      val no = f.name.split("\\.")(0).drop(1).toInt
      no -> (f, loadPageXml(f))
    }.toMap
    def pageArk(no: Int): String =
      (pagesByNo(no)._2 \\ "fileIdentifier").headOption.map(_.text).getOrElse("")

    // divs by type in first-encounter order (classes.py:205-258)
    val byType = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, Option[String])]]
    def addDiv(tp: String, id: Option[String], label: Option[String]): Unit =
      if ((ContentTypes.contains(tp) || tp == "section") && id.isDefined)
        byType.getOrElseUpdate(tp, mutable.ArrayBuffer.empty) += ((id.get, label))

    val structMap = (doc \\ "structMap")
      .find(s => attr(s, "TYPE").contains("logical"))
      .getOrElse(throw new IllegalStateException("no logical structMap"))
    val structContent = (structMap \\ "div")
      .find(d => attr(d, "TYPE").contains("CONTENT"))
      .getOrElse(throw new IllegalStateException("no CONTENT div"))
    val allDivs = structMap \\ "div"

    for (s <- (doc \\ "dmdSec") if (s \\ "mods").nonEmpty) {
      val secId = attr(s, "ID").getOrElse("")
      val divs = allDivs.filter(d => attr(d, "DMDID").contains(secId))
      if (divs.length > 1) {
        (s \\ "classification").headOption.map(_.text.toLowerCase) match {
          case Some(tp) =>
            divs.foreach(d => addDiv(tp, attr(d, "ID"), attr(d, "LABEL")))
          case None => ()
        }
      } else if (divs.length == 1) {
        val d = divs.head
        attr(d, "TYPE").map(_.toLowerCase)
          .foreach(tp => addDiv(tp, attr(d, "ID"), attr(d, "LABEL")))
      }
    }
    for (c <- structContent.child.collect { case e: Elem if e.label == "div" => e }) {
      if (attr(c, "DMDID").isEmpty && attr(c, "TYPE").isDefined)
        addDiv(attr(c, "TYPE").get.toLowerCase, attr(c, "ID"), attr(c, "LABEL"))
    }
    // flatten sections into their content-typed children (classes.py:260-291)
    for (sections <- byType.remove("section"); (divId, lab) <- sections) {
      (structContent \\ "div").find(d => attr(d, "ID").contains(divId))
        .foreach { div =>
          for (d <- div.child.collect { case e: Elem if e.label == "div" => e }) {
            val tp = attr(d, "TYPE").map(_.toLowerCase).getOrElse("")
            if (attr(d, "DMDID").isEmpty && ContentTypes.contains(tp))
              addDiv(tp, attr(d, "ID"), attr(d, "LABEL").orElse(lab))
          }
        }
    }

    // parse each div into CIs (classes.py:292-337, 375-396)
    val cis = mutable.ArrayBuffer.empty[Ci]
    var counter = 1
    for ((divType, divs) <- byType; (divId, label) <- divs) {
      val divNode = allDivs.find(d => attr(d, "ID").contains(divId))
      divNode.foreach { dn =>
        val body = (dn \\ "div")
          .find(d => attr(d, "TYPE").contains("BODY")).getOrElse(dn)
        val parts = parseDivParts(body)
        val parentId = if (parts.nonEmpty) {
          val id = f"${ref.issueId}-i$counter%04d"
          counter += 1
          Some(id)
        } else None
        // embedded CIs first in list order, parent appended after
        val embedded = body.child.collect { case e: Elem => e }.flatMap { child =>
          val role = attr(child, "TYPE").map(_.toLowerCase)
          if (role.exists(ContentTypes.contains)) {
            val tp = TypeTranslation.getOrElse(role.get, role.get)
            val id = f"${ref.issueId}-i$counter%04d"
            counter += 1
            Some(new Ci(id, tp,
              attr(child, "LABEL").orElse(label), parentId,
              parseDivParts(child)))
          } else None
        }
        cis ++= embedded
        parentId.foreach { id =>
          cis += new Ci(id, TypeTranslation.getOrElse(divType, divType),
            label, None, parts)
        }
      }
    }

    // pages, images, reading order (classes.py:398-414)
    for (ci <- cis) {
      ci.pp = ci.parts.map(_.pageNo).distinct.sorted
      if (ci.tp == "image") {
        val imageParts = ci.parts.filter(_.role.contains("image"))
        if (imageParts.length == 1) {
          val p = imageParts.head
          val block = (pagesByNo(p.pageNo)._2 \\ "Illustration")
            .find(b => p.id.exists(attr(b, "ID").contains))
          block.foreach { b =>
            ci.coords = Alto.distillCoordinates(b)
            ci.iiifLink =
              Some(s"$IiifEndpoint/${pageArk(p.pageNo)}/info.json")
          }
        }
      }
    }
    val ro = cis.toSeq
      .sortBy(_.num)
      .sortBy(_.pp)(scala.math.Ordering.Implicits.seqOrdering)
      .zipWithIndex.map { case (ci, i) => ci.id -> (i + 1) }.toMap
    cis.foreach(ci => ci.ro = ro(ci.id))

    val pageNos = pagesByNo.keys.toSeq.sorted
    val iiifManifest = {
      val ark = pageArk(pageNos.head)
      val dir = ark.split("/").dropRight(1).mkString("/")
      s"$IiifEndpoint/$dir/manifest.json"
    }

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(cis.toSeq.map(ciJson)),
      "pp" -> Json.strs(pageNos.map(n => f"${ref.issueId}-p$n%04d")),
      "iiif_manifest_uri" -> JStr(iiifManifest)) ++
      ref.secondaryDate.map(sd =>
        "n" -> (Json.strs(Seq(s"Secondary date $sd")): JValue)))

    // page parse: mappings, ComposedBlock-recursive printspace
    val mappings = cis.flatMap(ci =>
      ci.parts.flatMap(p => p.id.map(_ -> ci.id))).toMap
    val pageJsons = pageNos.map { no =>
      val pid = f"${ref.issueId}-p$no%04d"
      val xml = pagesByNo(no)._2
      val ps = (xml \\ "PrintSpace").headOption
      val (regions, notes) = parsePrintSpaceRecursive(ps, mappings)
      val styles = (xml \\ "TextStyle").map(Alto.parseStyle)
      val json = JObj(Seq(
        "id" -> JStr(pid),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "cc" -> JBool(true),
        "iiif_img_base_uri" -> JStr(s"$IiifEndpoint/${pageArk(no)}"),
        "s" -> JArr(styles.map(styleJson)),
        "r" -> JArr(regions.map(regionJson))) ++
        (if (notes.nonEmpty) Seq("n" -> Json.strs(notes)) else Nil))
      pid -> Json.render(json)
    }

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }

  private def loadPageXml(f: FsWalk.Dir): Elem =
    if (f.name.endsWith("gz")) {
      val in = new GZIPInputStream(FsWalk.open(f.path))
      try XML.load(in) finally in.close()
    } else Xml.load(f.path)

  /** BNF PrintSpace parse: recurses into ComposedBlocks
    * (bnf/parsers.py:19-73). */
  def parsePrintSpaceRecursive(element: Option[Node],
      mappings: Map[String, String]): (Seq[CRegion], Seq[String]) = {
    val notes = Seq.newBuilder[String]
    def walk(el: Node): Seq[CRegion] =
      el.child.collect { case e: Elem => e }.flatMap { block =>
        if (block.label == "ComposedBlock") walk(block)
        else {
          val pOf = attr(block, "ID").flatMap(mappings.get)
          Alto.distillCoordinates(block).map { coords =>
            val parsed = (block \\ "TextLine").map(Alto.parseTextLine)
            parsed.foreach(p => notes ++= p._2)
            CRegion(coords, pOf, Seq(CPara(coords, parsed.map(_._1))))
          }.toSeq
        }
      }
    (element.toSeq.flatMap(walk), notes.result())
  }

  // ---- JSON ----

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
      "tp" -> JStr(ci.tp),
      "pp" -> Json.ints(ci.pp)) ++
      ci.title.map(t => "t" -> (JStr(t): JValue)) ++
      ci.pOf.map(p => "pOf" -> (JStr(p): JValue)) ++
      (if (ci.isImage)
        Seq("iiif_link" -> ci.iiifLink.map(JStr).getOrElse(JNull))
      else Nil) ++
      Seq("ro" -> JInt(ci.ro.toLong)))
    JObj(Seq("m" -> m,
      "l" -> JObj(Seq("parts" -> partsJson(ci.parts)))) ++
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

package graft.parse

import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.model.Canonical._
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** KB (Koninklijke Bibliotheek / Delpher "DDD") importer — BEYOND the
  * reference: sample data ships under
  * text_preparation/data/sample_data/KB but no importer exists in the
  * reference (its TYPE_MAPPINGS carries the TODO "KB data: add familial
  * announcement?", rebuilders/helpers.py:50). Format per the samples:
  *
  *  - one MPEG-21 DIDL per issue (`didl.xml`): issue metadata (PPN
  *    title identifier, date, languages), page items `p00N` referencing
  *    the page's ALTO file, per-page article items `p00N:a00M` carrying
  *    `ddd:article_id` plus zoning areas (hpos/vpos/width/height on the
  *    access jp2), and global article items `a00M` with the article
  *    title, subject and OCR text filename;
  *  - one CCS ALTO per page (standard PrintSpace/TextBlock tree).
  *
  * ALTO blocks carry no article links, so region attribution is a
  * geometric join: each TextBlock goes to the article whose zone on
  * that page overlaps it most (ties by article order). CI types map
  * artikel→article, advertentie→advertisement, familiebericht→
  * death_notice (answering the reference's TODO), illustratie→image.
  */
object KbImporter {

  val TypeMapping: Map[String, String] = Map(
    "artikel" -> "article",
    "advertentie" -> "advertisement",
    "familiebericht" -> "death_notice",
    "illustratie met onderschrift" -> "image")

  case class IssueRef(alias: String, date: String, edition: String,
      path: String) extends IssueKey

  private def attrCI(n: Node, name: String): Option[String] =
    n.attributes.asAttrMap.collectFirst {
      case (k, v) if k == name || k.endsWith(s":$name") => v
    }

  /** DIDL files in the wild use the xsi prefix without declaring it;
    * declare it on the root before parsing. */
  private def loadDidl(f: String): Elem = {
    val raw = new String(FsWalk.readBytes(f), "utf-8")
    val patched =
      if (raw.contains("xmlns:xsi")) raw
      else raw.replaceFirst("<didl:DIDL ",
        "<didl:DIDL xmlns:xsi=\"http://www.w3.org/2001/XMLSchema-instance\" ")
    XML.loadString(patched)
  }

  private def ppnOf(didl: Elem): Option[String] =
    (didl \\ "identifier")
      .find(n => attrCI(n, "type").exists(_.endsWith("PPN")))
      .map(_.text.trim)

  /** Walk `base/newspaper/YYYY/MM/DD/DDD_*_mpeg21`; alias = `kb<PPN>`
    * from the DIDL, editions assigned a, b, … among same-day records. */
  def detectIssues(baseDir: String): Seq[IssueRef] = {
    val raw = for {
      medium <- FsWalk.subdirs(baseDir)
      year <- FsWalk.subdirs(medium.path) if year.name.matches("\\d{4}")
      month <- FsWalk.subdirs(year.path) if month.name.matches("\\d{2}")
      day <- FsWalk.subdirs(month.path) if day.name.matches("\\d{2}")
      rec <- FsWalk.subdirs(day.path) if rec.name.endsWith("_mpeg21")
      didlFile = FsWalk.child(rec.path, "didl.xml")
      if FsWalk.isFile(didlFile)
      ppn <- ppnOf(loadDidl(didlFile))
    } yield (s"kb$ppn",
      s"${year.name}-${month.name}-${day.name}", rec.path)
    raw.groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1).flatMap {
      case (_, group) => group.sortBy(_._3).zipWithIndex.map {
        case ((alias, date, path), i) =>
          IssueRef(alias, date, graft.functions.Ids.editionLetter(i), path)
      }
    }
  }

  private case class Zone(pageNo: Int, articleNum: Int, box: Seq[Int])
  private case class KbArticle(num: Int, recordId: String,
      title: Option[String], subject: Option[String], ocrFile: Option[String])

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue = {
    val didl = loadDidl(FsWalk.child(ref.path, "didl.xml"))
    // record number from the directory name DDD_ddd_<number>_mpeg21
    val recordNum = FsWalk.baseName(ref.path).split("_")
      .find(s => s.nonEmpty && s.forall(_.isDigit)).getOrElse("")

    val lang = (didl \\ "language").headOption.map(_.text.trim)

    val ArticleId = """ddd:\d+:mpeg21:a(\d+)""".r
    val PageId = """ddd:\d+:mpeg21:p(\d+)""".r
    val PageArticleId = """ddd:\d+:mpeg21:p(\d+):a(\d+)""".r

    val items = (didl \\ "Item")

    // pages: p00N items with an :alto component filename
    val pages: Seq[(Int, String)] = items.flatMap { it =>
      attrCI(it, "identifier") match {
        case Some(PageId(no)) =>
          val alto = (it \ "Component").find(c =>
            attrCI(c, "identifier").exists(_.endsWith(":alto")))
          alto.flatMap(c => (c \\ "Resource").headOption
            .flatMap(attrCI(_, "filename")))
            .map(no.toInt -> _)
        case _ => None
      }
    }.sortBy(_._1)

    // zones: page-article items with coordinates areas
    val zones: Seq[Zone] = items.flatMap { it =>
      attrCI(it, "identifier") match {
        case Some(PageArticleId(p, _)) =>
          attrCI(it, "article_id").toSeq.flatMap {
            case ArticleId(a) =>
              (it \\ "area").flatMap { area =>
                for {
                  h <- attrCI(area, "hpos"); v <- attrCI(area, "vpos")
                  w <- attrCI(area, "width"); ht <- attrCI(area, "height")
                } yield Zone(p.toInt, a.toInt,
                  Seq(h.toInt, v.toInt, w.toInt, ht.toInt))
              }
            case _ => Nil
          }
        case _ => None
      }
    }

    // global articles (no page prefix), in DIDL order
    val articles: Seq[KbArticle] = items.flatMap { it =>
      attrCI(it, "identifier") match {
        case Some(id @ ArticleId(num)) =>
          val meta = (it \ "Component").find(c =>
            attrCI(c, "identifier").exists(_.endsWith(":metadata")))
          val ocr = (it \ "Component").find(c =>
            attrCI(c, "identifier").exists(_.endsWith(":ocr")))
          Some(KbArticle(num.toInt, id,
            meta.flatMap(m => (m \\ "title").headOption.map(_.text)),
            meta.flatMap(m => (m \\ "subject").headOption.map(_.text)),
            ocr.flatMap(c => (c \\ "Resource").headOption
              .flatMap(attrCI(_, "filename")))))
        case _ => None
      }
    }

    val ppByArticle: Map[Int, Seq[Int]] = zones.groupBy(_.articleNum)
      .view.mapValues(_.map(_.pageNo).distinct.sorted).toMap

    def ciId(num: Int): String = f"${ref.issueId}-i$num%04d"

    // reading order: (pages spanned, article number)
    val ro = articles
      .sortBy(_.num)
      .sortBy(a => ppByArticle.getOrElse(a.num, Nil))(
        scala.math.Ordering.Implicits.seqOrdering)
      .zipWithIndex.map { case (a, i) => a.num -> (i + 1) }.toMap

    val cis = articles.map { a =>
      val m = JObj(Seq(
        "id" -> JStr(ciId(a.num)),
        "tp" -> JStr(a.subject.flatMap(s =>
          TypeMapping.get(s.toLowerCase)).getOrElse("article")),
        "pp" -> Json.ints(ppByArticle.getOrElse(a.num, Nil))) ++
        a.title.filter(_.nonEmpty).map(t => "t" -> (JStr(t): JValue)) ++
        lang.map(l => "lg" -> (JStr(l): JValue)) ++
        Seq("ro" -> JInt(ro(a.num).toLong)))
      val l = JObj(Seq("id" -> (JStr(a.recordId): JValue)) ++
        a.ocrFile.map(f => "source" -> (JStr(f): JValue)))
      JObj(Seq("m" -> m, "l" -> l))
    }

    // page parse: geometric block→article attribution, then the shared
    // ALTO PrintSpace parse with the derived mappings
    def overlap(a: Seq[Int], b: Seq[Int]): Long = {
      val dx = math.min(a(0) + a(2), b(0) + b(2)) - math.max(a(0), b(0))
      val dy = math.min(a(1) + a(3), b(1) + b(3)) - math.max(a(1), b(1))
      if (dx <= 0 || dy <= 0) 0L else dx.toLong * dy
    }
    val pageJsons = pages.map { case (no, altoName) =>
      val pid = f"${ref.issueId}-p$no%04d"
      val xml = Xml.load(FsWalk.child(ref.path, altoName))
      val pageZones = zones.filter(_.pageNo == no)
      val mappings: Map[String, String] =
        (xml \\ "TextBlock").flatMap { b =>
          val box = for {
            h <- attrCI(b, "HPOS"); v <- attrCI(b, "VPOS")
            w <- attrCI(b, "WIDTH"); ht <- attrCI(b, "HEIGHT")
          } yield Seq(h.toDouble.toInt, v.toDouble.toInt,
            w.toDouble.toInt, ht.toDouble.toInt)
          for {
            bx <- box
            id <- attrCI(b, "ID")
            best <- pageZones
              .map(z => z -> overlap(bx, z.box))
              .filter(_._2 > 0)
              .sortBy { case (z, o) => (-o, z.articleNum) }
              .headOption
          } yield id -> ciId(best._1.articleNum)
        }.toMap
      val ps = (xml \\ "PrintSpace").headOption
      val (regions, notes) = Alto.parsePrintSpace(ps, mappings)
      val json = JObj(Seq(
        "id" -> JStr(pid),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "cc" -> JBool(true),
        "iiif_img_base_uri" ->
          JStr(s"https://resolver.kb.nl/resolve?urn=ddd:" +
            s"$recordNum:mpeg21:p${"%03d".format(no)}:image"),
        "r" -> JArr(regions.map(CanonicalJson.regionJson))) ++
        (if (notes.nonEmpty) Seq("n" -> Json.strs(notes)) else Nil))
      pid -> Json.render(json)
    }

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(cis),
      "pp" -> Json.strs(pages.map(p => f"${ref.issueId}-p${p._1}%04d"))))

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
  }

}

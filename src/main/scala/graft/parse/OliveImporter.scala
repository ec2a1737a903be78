package graft.parse

import java.util.zip.ZipFile
import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.text.Whitespace
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** Olive XML importer (GDL/JDG/IMP — Le Temps corpus family).
  *
  * Re-expression of text_preparation/importers/olive/{classes.py,
  * parsers.py, helpers.py}. The hardest importer (SURVEY.md §7.2 step 4):
  *  - one zip (or unpacked `Document/` tree) per issue; article XML in
  *    windows-1252 with UPPERCASE tags/attributes (read
  *    case-insensitively — the reference's bs4-lxml parser lowercases);
  *  - multipart articles follow continuation links; recomposition walks
  *    a deque exactly like classes.py:348-383 so CI numbering matches;
  *  - ToC recomposition joins toc entries to parsed articles by legacy
  *    id (J3) and pictures to image XML metadata (J4);
  *  - Olive does not encode whitespace: `normalize_line` merges pseudo
  *    tokens (`qid`), normalizes end-of-line hyphenation and sets `gn`
  *    glue flags from the language whitespace rules (C12/C13);
  *  - pages are recomposed from article elements via the ToC order and
  *    article clusters (J5); coordinate conversion requires the original
  *    image files (`image-info.json` + scale strategies, C8) — the
  *    image info is an OPTIONAL enrichment input here: without it pages
  *    keep source coordinates and `cc: false`, mirroring the reference's
  *    failure path.
  */
object OliveImporter {

  val IiifEndpoint = "https://impresso-project.ch/api/proxy/iiif/"

  // ---- archive abstraction: Document.zip or unpacked Document/ dir ----

  trait Archive {
    def namelist: Seq[String]
    def read(name: String): Array[Byte]
    /** Release any underlying handle / staged temp copy. */
    def close(): Unit = ()
  }

  final class ZipDocArchive(path: String) extends Archive {
    private val local = FsWalk.localFile(path)
    private val zf = new ZipFile(local)
    val namelist: Seq[String] = {
      val es = scala.jdk.CollectionConverters.EnumerationHasAsScala(zf.entries)
        .asScala.toList
      es.filterNot(_.isDirectory).map(_.getName)
    }
    def read(name: String): Array[Byte] =
      zf.getInputStream(zf.getEntry(name)).readAllBytes()
    override def close(): Unit = {
      zf.close()
      if (!FsWalk.isLocal(path)) local.delete()
    }
  }

  final class DirDocArchive(dir: String) extends Archive {
    val namelist: Seq[String] = {
      def walk(d: String, prefix: String): Seq[String] =
        FsWalk.list(d).flatMap { e =>
          if (e.isDir) walk(e.path, s"$prefix${e.name}/")
          else Seq(s"$prefix${e.name}")
        }
      walk(dir, "")
    }
    def read(name: String): Array[Byte] =
      FsWalk.readBytes(FsWalk.child(dir, name))
  }

  // ---- case-insensitive XML helpers (reference parses with bs4 lxml,
  // which lowercases tags and attributes) ----

  private def attrCI(n: Node, name: String): Option[String] = {
    val it = n.attributes.iterator
    it.find(_.key.equalsIgnoreCase(name)).map(_.value.text)
  }

  private def descCI(n: Node, label: String): Seq[Node] =
    (n \\ "_").filter(_.label.equalsIgnoreCase(label))

  case class IssueRef(alias: String, date: String, edition: String,
      path: String) extends IssueKey

  def detectIssues(baseDir: String): Seq[IssueRef] = {
    for {
      alias <- FsWalk.subdirs(baseDir)
      year <- FsWalk.subdirs(alias.path) if year.name.matches("\\d{4}")
      month <- FsWalk.subdirs(year.path)
      day <- FsWalk.subdirs(month.path)
      (ed, path) <- {
        val eds = FsWalk.subdirs(day.path).filter(_.name.matches("[a-z]"))
        if (eds.isEmpty) Seq("a" -> day.path)
        else eds.map(e => e.name -> e.path)
      }
      toc = FsWalk.child(path, "TOC.xml")
      if FsWalk.isFile(toc)
    } yield IssueRef(alias.name,
      s"${year.name}-${month.name}-${day.name}", ed, path)
  }

  // ---- parsed article model ----

  final class OToken(var c: Seq[Int], var tx: String, var s: Int,
      var nf: Option[String], var qid: Option[String],
      var hy: Boolean = false, var gn: Boolean = false)
  final class OLine(var c: Seq[Int], var t: mutable.ArrayBuffer[OToken])
  final class OPara(var l: mutable.ArrayBuffer[OLine])
  final class ORegion(var c: Seq[Int], var p: mutable.ArrayBuffer[OPara])

  final class ArticlePart(
      val legacyId: String,
      val source: String,
      val lang: Option[String],
      val title: String,
      val pageNo: Int,
      val typeRaw: String,
      val contFrom: Option[String],
      val contTo: Option[String],
      val regions: Seq[ORegion])

  final class Article(
      val legacyIds: Seq[String],
      val sources: Seq[String],
      val lang: Option[String],
      val title: String,
      val pageNos: Seq[Int],
      val typeRaw: String)

  def normalizeLanguage(language: String): Option[String] =
    Map("french" -> "fr", "english" -> "en", "german" -> "de")
      .get(language.toLowerCase)

  /** olive_parser (parsers.py:137-253). */
  def parseArticleXml(bytes: Array[Byte]): ArticlePart = {
    val text = new String(bytes, "windows-1252")
    val doc = XML.loadString(stripProlog(text))
    val root = descCI(doc, "xmd-entity")
      .headOption.getOrElse(doc)
    val lang = attrCI(root, "language").flatMap(normalizeLanguage)
    val meta = descCI(doc, "meta").head
    val link = descCI(doc, "link").head
    val qwByQid: Map[String, String] = descCI(doc, "qw")
      .flatMap(q => attrCI(q, "qid").map(_ -> q.text)).toMap

    val regions = descCI(doc, "primitive").flatMap { primitive =>
      val region = new ORegion(
        attrCI(primitive, "box").get.trim.split(" +").map(_.toInt).toSeq,
        mutable.ArrayBuffer.empty)
      var para: OPara = null
      var line: OLine = null
      var lineCounter = 0
      for (tag <- primitive.child.collect { case e: Elem => e }) {
        tag.label.toLowerCase match {
          case "l" =>
            if (para == null && line == null) {
              para = new OPara(mutable.ArrayBuffer.empty)
              line = new OLine(Nil, mutable.ArrayBuffer.empty)
            }
            if (lineCounter > 0 && line != null) {
              normalizeLine(line, lang)
              para.l += line
            }
            if (attrCI(tag, "p").exists(p => p == "S" || p == "SA") &&
              lineCounter > 0) {
              region.p += para
              para = new OPara(mutable.ArrayBuffer.empty)
            }
            line = new OLine(
              attrCI(tag, "box").get.trim.split(" +").map(_.toInt).toSeq,
              mutable.ArrayBuffer.empty)
            lineCounter += 1
          case "w" | "q" =>
            val t = new OToken(
              attrCI(tag, "box").get.trim.split(" +").map(_.toInt).toSeq,
              tag.text,
              attrCI(tag, "style_ref").get.toInt,
              None, None)
            if (tag.label.equalsIgnoreCase("q")) {
              attrCI(tag, "qid").foreach { qid =>
                t.nf = qwByQid.get(qid)
                t.qid = Some(qid)
              }
            }
            line.t += t
          case _ => ()
        }
      }
      if (line != null) {
        normalizeLine(line, lang)
        para.l += line
      }
      region.p += para
      if (para != null) Some(region) else None
    }

    new ArticlePart(
      attrCI(root, "id").get,
      attrCI(link, "source").getOrElse(""),
      lang,
      attrCI(meta, "name").getOrElse(""),
      attrCI(root, "page_no").get.toInt,
      attrCI(root, "entity_type").get,
      attrCI(root, "continuation_from"),
      attrCI(root, "continuation_to"),
      regions)
  }

  private def stripProlog(s: String): String = {
    // declared encoding is windows-1252 but we already decoded: drop the
    // prolog so the XML parser does not re-interpret it
    val i = s.indexOf("?>")
    if (s.startsWith("<?xml") && i > 0) s.substring(i + 2) else s
  }

  /** normalize_line (helpers.py:170-214): pseudo-token merges,
    * hyphenation, nf/qid cleanup, glue flags. */
  def normalizeLine(line: OLine, lang: Option[String]): Unit = {
    if (line.t.exists(_.qid.isDefined)) {
      mergePseudoTokens(line)
      normalizeHyphenation(line)
    }
    for ((token, i) <- line.t.zipWithIndex) {
      if (token.qid.isEmpty && token.nf.isDefined) token.nf = None
      if (token.qid.isDefined) token.qid = None
      val next = if (i != line.t.length - 1) Some(line.t(i + 1).tx) else None
      val prev = if (i != 0) Some(line.t(i - 1).tx) else None
      if (!Whitespace.insertAfter(Option(token.tx), next, prev, lang))
        token.gn = true
    }
  }

  /** merge_pseudo_tokens (helpers.py:55-97). */
  def mergePseudoTokens(line: OLine): Unit = {
    val qids = line.t.flatMap(_.qid).distinct
    val inlineQids = qids.filter(q => line.t.count(_.qid.contains(q)) > 1)
    for (qid <- inlineQids) {
      val members = line.t.zipWithIndex.filter(_._1.qid.contains(qid))
      if (members.length >= 2) {
        val insertAt = members.head._2
        val toMerge = members.map(_._1)
        line.t --= toMerge
        val merged = new OToken(
          toMerge.head.c.take(2) ++ toMerge.last.c.drop(2),
          toMerge.map(_.tx).mkString,
          toMerge.head.s, None, None)
        line.t.insert(math.min(insertAt, line.t.length), merged)
      }
    }
  }

  /** normalize_hyphenation (helpers.py:100-125). */
  def normalizeHyphenation(line: OLine): Unit = {
    val lastIdx = line.t.length - 1
    if (lastIdx >= 0) {
      val token = line.t(lastIdx)
      if (token.tx.nonEmpty && token.tx.last == '-') token.hy = true
      if (token.tx == "-" && token.nf.isDefined && lastIdx >= 1) {
        val prev = line.t(lastIdx - 1)
        val merged = new OToken(
          prev.c.take(2) ++ token.c.drop(2),
          prev.tx + token.tx,
          token.s, None, None, hy = token.hy)
        line.t.remove(lastIdx - 1, 2)
        line.t += merged
      }
    }
  }

  // ---- ToC / image / style parsing ----

  case class TocItem(legacyId: String, id: String, tpe: String, seq: Int,
      embeddedInto: Option[String])

  /** olive_toc_parser (parsers.py:78-134): windows-1252, global CI
    * counter across pages in document order. */
  def parseToc(tocFile: String, issueId: String):
      mutable.LinkedHashMap[Int, mutable.LinkedHashMap[String, TocItem]] = {
    val text = new String(FsWalk.readBytes(tocFile), "windows-1252")
    val doc = XML.loadString(stripProlog(text))
    val out = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, TocItem]]
    var counter = 0
    for (page <- descCI(doc, "page")) {
      val pageData = mutable.LinkedHashMap.empty[String, TocItem]
      for ((entity, n) <- descCI(page, "entity").zipWithIndex) {
        counter += 1
        val legacy = attrCI(entity, "id").get
        val tpe = attrCI(entity, "entity_type").getOrElse("")
        val embedded = if (tpe.equalsIgnoreCase("picture"))
          attrCI(entity, "embedded_into") else None
        pageData += legacy -> TocItem(legacy,
          f"$issueId-i${counter}%04d", tpe, n + 1, embedded)
      }
      out += attrCI(page, "page_no").get.toInt -> pageData
    }
    out
  }

  case class OliveImage(id: String, coords: Seq[Int], name: String,
      resolution: Option[String], filepath: Option[String])

  /** olive_image_parser (parsers.py:52-76). */
  def parseImageXml(bytes: Array[Byte]): Option[OliveImage] = {
    try {
      val doc = XML.loadString(stripProlog(new String(bytes, "windows-1252")))
      val root = descCI(doc, "xmd-entity").headOption.getOrElse(return None)
      val img = descCI(root, "img").headOption.getOrElse(return None)
      val meta = descCI(root, "meta").headOption.getOrElse(return None)
      Some(OliveImage(
        attrCI(root, "id").get,
        attrCI(img, "box").get.trim.split(" +").map(_.toInt).toSeq,
        attrCI(meta, "name").getOrElse(""),
        attrCI(meta, "images_resolution"),
        attrCI(img, "href")))
    } catch { case _: Exception => None }
  }

  /** parse_styles (parsers.py:15-49). */
  def parseStyles(text: String): Seq[JValue] = {
    val re = "(\\d{3})=(\".*?\"),(\\d+\\.?\\d+),(\\(.*?\\))".r
    text.split("\r\n").filter(_.nonEmpty).flatMap { line =>
      re.findFirstMatchIn(line).map { m =>
        JObj(Seq(
          "id" -> JInt(m.group(1).toInt.toLong),
          "f" -> JStr(m.group(2).replace("\"", "")),
          "fs" -> JDouble(m.group(3).toDouble),
          "rgb" -> Json.ints(m.group(4).replace("(", "").replace(")", "")
            .split(",").map(_.trim.toInt).toSeq)))
      }
    }.toSeq
  }

  // ---- issue parse ----

  /** Per-page image-info enrichment record (`image-info.json` entries:
    * {pg, strat, s} — olive/classes.py:449-468). */
  case class ImageInfo(strat: String, source: String)

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue =
    parseIssue(ref, cdt, ts, _ => None, _ => None)

  /** Full parse with the optional image-info enrichment: `imageInfo`
    * maps a page number to its image-info record, `readImage` supplies
    * raw image bytes by name (jpg_uniq strategy; falls back to the
    * issue archive). With the enrichment present, page and picture
    * coordinates are converted via [[OliveBoxes]] (C8) and `cc` flips
    * to true; without it the source coordinates are kept with
    * `cc: false`, exactly like the reference without image dirs. */
  def parseIssue(ref: IssueRef, cdt: String, ts: String,
      imageInfo: Int => Option[ImageInfo],
      readImage: String => Option[Array[Byte]]): ParsedIssue = {
    val archive: Archive = {
      val zip = FsWalk.child(ref.path, "Document.zip")
      if (FsWalk.isFile(zip)) new ZipDocArchive(zip)
      else {
        val doc = FsWalk.child(ref.path, "Document")
        if (FsWalk.isDir(doc)) new DirDocArchive(doc)
        else throw new IllegalStateException(
          s"Could not find archive Document.zip for ${ref.issueId}")
      }
    }

    try {
    val tocData = parseToc(FsWalk.child(ref.path, "TOC.xml"), ref.issueId)

    // image metadata (J4 input)
    val images = archive.namelist
      .filter(n => n.contains(".xml") && !n.startsWith("._") && n.contains("/Pc"))
      .flatMap(n => parseImageXml(archive.read(n)))

    // articles via continuation-chain walk (classes.py:348-383)
    val (articles, contentElements) = parseArticles(archive)

    val contentItems = recomposeToc(tocData, articles, images)
    val clusters: Map[String, Seq[String]] =
      articles.map(a => a.legacyIds.head -> a.legacyIds).toMap

    val styles =
      if (archive.namelist.contains("styleGallery.txt"))
        try parseStyles(new String(archive.read("styleGallery.txt"), "windows-1252"))
        catch { case _: Exception => Nil }
      else Nil

    val pageXmlFiles: Map[Int, String] = archive.namelist
      .filter(n => n.contains(".xml") && !n.startsWith("._") && n.contains("/Pg"))
      .map(n => n.split("/")(0).toInt -> n).toMap

    // C8: per-page scale factor from the image-info enrichment
    def archiveRead(n: String): Option[Array[Byte]] =
      readImage(n).orElse(
        try Some(archive.read(n)) catch { case _: Exception => None })
    val sfCache = mutable.Map.empty[Int, Option[Double]]
    def pageScale(no: Int): Option[Double] = sfCache.getOrElseUpdate(no,
      imageInfo(no).flatMap { info =>
        pageXmlFiles.get(no).flatMap { name =>
          try OliveBoxes.scaleFactor(
            XML.loadString(stripProlog(
              new String(archive.read(name), "windows-1252"))),
            info.strat, info.source, archiveRead)
          catch { case _: Exception => None }
        }
      })

    val pageIds = tocData.keys.toSeq.map(n => f"${ref.issueId}-p$n%04d")

    // picture CIs on pages WITH an image-info record become `image` CIs
    // with converted coords and a CI-level cc flag (classes.py:470-500,
    // convert_image_coordinates); conversion failure → cc=false
    val finalCis = contentItems.map(ci =>
      convertPictureCi(ci, imageInfo, pageScale))

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "s" -> JArr(styles),
      "i" -> JArr(finalCis.map(_.json)),
      "pp" -> Json.strs(pageIds)))

    // page recomposition (J5, helpers.py:359-417); coordinates stay in
    // source space (cc=false) without the image-info enrichment
    val elementsByLegacy: Map[String, ArticlePart] =
      contentElements.map(p => p.legacyId -> p).toMap
    val pageJsons = tocData.toSeq.map { case (pageNo, pageToc) =>
      val pid = f"${ref.issueId}-p$pageNo%04d"
      val idMappings = pageToc.map { case (lid, item) => lid -> item.id }
      val regions = mutable.ArrayBuffer.empty[JValue]
      for (el <- pageToc.values.toSeq.sortBy(_.seq)) {
        val lid = el.legacyId
        if (lid.contains("Ar") || lid.contains("Ad")) {
          val partOf: Option[String] =
            if (clusters.contains(lid)) Some(lid)
            else clusters.collectFirst {
              case (key, members) if members.contains(lid) => key
            }
          elementsByLegacy.get(lid).foreach { element =>
            val mappedId = partOf.flatMap(idMappings.get)
            element.regions.foreach(r => regions += regionJson(r, mappedId))
          }
        }
      }
      // C8: convert region/line/token boxes when the enrichment gives a
      // scale factor (convert_page_coordinates, helpers.py:605-648)
      val sf = pageScale(pageNo)
      val finalRegions = sf match {
        case Some(f) => regions.toSeq.map(r => scaleRegionJson(r, f))
        case None => regions.toSeq
      }
      val json = JObj(Seq(
        "id" -> JStr(pid),
        "cdt" -> JStr(cdt),
        "ts" -> JStr(ts),
        "st" -> JStr("newspaper"),
        "sm" -> JStr("print"),
        "r" -> JArr(finalRegions),
        "iiif_img_base_uri" -> JStr(s"$IiifEndpoint$pid"),
        "cc" -> JBool(sf.isDefined)))
      pid -> Json.render(json)
    }

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsons)
    } finally archive.close()
  }

  /** Continuation-chain article walk (classes.py:348-383). */
  def parseArticles(archive: Archive): (Seq[Article], Seq[ArticlePart]) = {
    val articles = mutable.ArrayBuffer.empty[Article]
    val contentElements = mutable.ArrayBuffer.empty[ArticlePart]
    var items: List[String] = archive.namelist
      .filter(n => n.contains(".xml") && !n.startsWith("._") &&
        (n.contains("/Ar") || n.contains("/Ad")))
      .sorted.toList

    while (items.nonEmpty) {
      val parts = mutable.ArrayBuffer.empty[ArticlePart]
      val internal = mutable.Queue(items.head)
      items = items.tail
      while (internal.nonEmpty) {
        val item = internal.dequeue()
        val data = parseArticleXml(archive.read(item))
        val pendingFrom = data.contFrom.exists(t => items.exists(_.contains(t)))
        if (pendingFrom) {
          items = items :+ item
        } else {
          parts += data
          data.contTo.foreach { nextId =>
            items.find(_.contains(nextId)).foreach { next =>
              internal.enqueue(next)
              items = items.filterNot(_ == next)
            }
          }
        }
      }
      contentElements ++= parts
      if (parts.nonEmpty) {
        val first = parts.head
        articles += new Article(parts.map(_.legacyId).toSeq,
          parts.map(_.source).toSeq, first.lang, first.title,
          parts.map(_.pageNo).toSeq, first.typeRaw)
      }
    }
    (articles.toSeq, contentElements.toSeq)
  }

  // ---- ToC recomposition (helpers.py:240-355) ----

  final case class ContentItem(json: JValue)

  private def keepTitle(t: String): Boolean =
    !Set("untitled article", "untitled ad", "untitled picture")
      .contains(t.toLowerCase)

  def recomposeToc(
      tocData: mutable.LinkedHashMap[Int, mutable.LinkedHashMap[String, TocItem]],
      articles: Seq[Article],
      images: Seq[OliveImage]): Seq[ContentItem] = {
    val all = tocData.values.flatMap(_.values).toSeq.sortBy(_.seq)
    val out = mutable.ArrayBuffer.empty[ContentItem]
    val processedIds = mutable.Map.empty[String, String] // legacy -> canonical
    for (item <- all) {
      if (item.tpe == "Article" || item.tpe == "Ad") {
        articles.find(a => a.legacyIds.head == item.legacyId) match {
          case None => () // member of a multipart article — skipped
          case Some(article) =>
            processedIds += item.legacyId -> item.id
            val single = article.legacyIds.length == 1
            val m = JObj(Seq(
              "id" -> JStr(item.id),
              "pp" -> Json.ints(article.pageNos),
              "lg" -> article.lang.map(JStr).getOrElse(JNull),
              "tp" -> JStr(article.typeRaw.toLowerCase)) ++
              (if (keepTitle(article.title))
                Seq("t" -> (JStr(article.title): JValue)) else Nil))
            val l = JObj(Seq(
              "id" -> (if (single) JStr(article.legacyIds.head)
                else Json.strs(article.legacyIds)),
              "source" -> (if (single) JStr(article.sources.head)
                else Json.strs(article.sources))))
            out += ContentItem(JObj(Seq("m" -> m, "l" -> l)))
        }
      } else if (item.tpe == "Picture") {
        val pageNo = tocData.collectFirst {
          case (pn, items) if items.contains(item.legacyId) => pn
        }
        images.find(_.id == item.legacyId) match {
          case None => () // faulty image XML — skipped like the reference
          case Some(image) =>
            val m = JObj(Seq(
              "id" -> JStr(item.id),
              "tp" -> JStr("picture"),
              "pp" -> Json.ints(pageNo.toSeq)) ++
              (if (keepTitle(image.name))
                Seq("t" -> (JStr(image.name): JValue)) else Nil))
            val l = JObj(Seq(
              "id" -> JStr(item.legacyId),
              "res" -> image.resolution.map(JStr).getOrElse(JNull),
              "path" -> image.filepath.map(JStr).getOrElse(JNull)))
            val pOf = item.embeddedInto.flatMap { contId =>
              pageNo.flatMap(pn => tocData(pn).get(contId)).map { cont =>
                processedIds.getOrElse(cont.legacyId, cont.id)
              }
            }
            out += ContentItem(JObj(Seq("m" -> m, "l" -> l,
              "c" -> Json.ints(image.coords)) ++
              pOf.map(p => "pOf" -> (JStr(p): JValue))))
        }
      }
    }
    out.toSeq
  }

  // ---- page JSON ----

  private def tokenJson(t: OToken): JValue =
    JObj(Seq("c" -> Json.ints(t.c), "tx" -> JStr(t.tx),
      "s" -> JInt(t.s.toLong)) ++
      (if (t.hy) Seq("hy" -> (JBool(true): JValue)) else Nil) ++
      t.nf.map(v => "nf" -> (JStr(v): JValue)) ++
      (if (t.gn) Seq("gn" -> (JBool(true): JValue)) else Nil))

  private def regionJson(r: ORegion, pOf: Option[String]): JValue =
    JObj(Seq("c" -> Json.ints(r.c),
      "p" -> JArr(r.p.toSeq.map(pa => JObj(Seq(
        "l" -> JArr(pa.l.toSeq.map(li => JObj(Seq(
          "c" -> Json.ints(li.c),
          "t" -> JArr(li.t.toSeq.map(tokenJson)))))))))),
      "pOf" -> pOf.map(JStr).getOrElse(JNull)))

  // ---- C8 coordinate conversion over built JSON ----

  private def intsOf(v: JValue): Seq[Int] = v match {
    case JArr(xs) => xs.collect { case JInt(i) => i.toInt }
    case _ => Nil
  }

  /** Convert `c` boxes at region, line and token level (paragraphs have
    * no own box in the Olive format) — convert_page_coordinates
    * converts exactly these three (helpers.py:634-641). */
  private def scaleRegionJson(region: JValue, sf: Double): JValue = {
    def conv(c: JValue): JValue =
      Json.ints(OliveBoxes.convertBox(intsOf(c), sf))
    region match {
      case JObj(fields) => JObj(fields.map {
        case ("c", c) => "c" -> conv(c)
        case ("p", JArr(paras)) => "p" -> JArr(paras.map {
          case JObj(pf) => JObj(pf.map {
            case ("l", JArr(lines)) => "l" -> JArr(lines.map {
              case JObj(lf) => JObj(lf.map {
                case ("c", c) => "c" -> conv(c)
                case ("t", JArr(toks)) => "t" -> JArr(toks.map {
                  case JObj(tf) => JObj(tf.map {
                    case ("c", c) => "c" -> conv(c)
                    case other => other
                  })
                  case other => other
                })
                case other => other
              })
              case other => other
            })
            case other => other
          })
          case other => other
        })
        case other => other
      })
      case other => other
    }
  }

  /** Picture CIs on a page with an image-info record: convert the
    * CI-level `c` box, set `cc`, and retype picture → image
    * (classes.py:470-500 + convert_image_coordinates). CIs on pages
    * without a record are left untouched. */
  private def convertPictureCi(item: ContentItem,
      imageInfo: Int => Option[ImageInfo],
      pageScale: Int => Option[Double]): ContentItem = item.json match {
    case JObj(fields) =>
      val mFields = fields.collectFirst { case ("m", JObj(mf)) => mf }
        .getOrElse(Nil)
      val isPicture = mFields.contains(("tp", JStr("picture")))
      val pageNo = mFields.collectFirst { case ("pp", JArr(xs)) => xs }
        .getOrElse(Nil).collectFirst { case JInt(v) => v.toInt }
      (isPicture, pageNo.filter(p => imageInfo(p).isDefined)) match {
        case (true, Some(pn)) =>
          val newM = JObj(mFields.map {
            case ("tp", _) => "tp" -> (JStr("image"): JValue)
            case other => other
          })
          val rest = fields.filterNot(_._1 == "m")
          val converted = pageScale(pn) match {
            case Some(sf) => rest.map {
              case ("c", c) => "c" -> (Json.ints(
                OliveBoxes.convertBox(intsOf(c), sf)): JValue)
              case other => other
            } :+ ("cc" -> (JBool(true): JValue))
            case None => rest :+ ("cc" -> (JBool(false): JValue))
          }
          ContentItem(JObj(("m" -> (newM: JValue)) +: converted))
        case _ => item
      }
    case _ => item
  }
}

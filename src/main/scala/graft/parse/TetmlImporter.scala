package graft.parse

import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.text.Whitespace
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** TETML (PDFlib TET) importer — Swiss Federal Archive family.
  *
  * Re-expression of text_preparation/importers/tetml/{classes.py,
  * parsers.py, helpers.py}. One `.tetml` file per article (word-level
  * granularity); article pages map onto consecutive issue pages by
  * cumulative page counts. Distinctives:
  *  - pt→px coordinate conversion against the original tif dimensions
  *    (C9) — the reference's y2 formula mixes the height and width
  *    ratios (helpers.py:276-281); preserved verbatim for parity;
  *  - TET dehyphenation: a 2-box Word is a line-spanning hyphenation —
  *    first box becomes an `hy` token, second box opens the next line
  *    with the normalized form (`nf`);
  *  - token filtering (FILTER_WORDS) and header page-number removal;
  *  - `gn` glue flags from the whitespace rules per line;
  *  - the CI language lives under the deprecated `m.l` key (faithful).
  */
object TetmlImporter {

  val IiifEndpoint = "https://impresso-project.ch/api/proxy/iiif/"
  val FilterWords = Set("#", "ST", "#ST", "ST#", "#ST#")

  case class IssueRef(alias: String, date: String, edition: String,
      path: String) extends IssueKey

  def detectIssues(baseDir: String): Seq[IssueRef] =
    for {
      alias <- FsWalk.subdirs(baseDir)
      year <- FsWalk.subdirs(alias.path) if year.name.matches("\\d{4}")
      month <- FsWalk.subdirs(year.path)
      day <- FsWalk.subdirs(month.path)
    } yield IssueRef(alias.name,
      s"${year.name}-${month.name}-${day.name}", "a", day.path)

  private def attr(n: Node, name: String): Option[String] =
    n.attribute(name).map(_.text)

  /** compute_box (helpers.py:226-284), faithful including the mixed
    * ratio in y2. */
  def computeBox(llx: Double, lly: Double, urx: Double, ury: Double,
      pageHeight: Double, imageHeight: Double, imageWidth: Double,
      placedW: Double, placedH: Double): Seq[Int] = {
    val ratioH = imageHeight / placedH
    val ratioW = imageWidth / placedW
    val x = llx * ratioW
    val y = (pageHeight - ury) * ratioH
    val x2 = urx * ratioW
    val y2 = (pageHeight - ury) * ratioW + (ury - lly) * ratioW
    Seq(math.ceil(x).toInt, math.floor(y).toInt,
      math.ceil(x2 - x).toInt, math.ceil(y2 - y).toInt)
  }

  def computeBb(boxes: Seq[Seq[Int]]): Seq[Int] = {
    val x1 = boxes.map(_(0)).min
    val y1 = boxes.map(_(1)).min
    val x2 = boxes.map(b => b(0) + b(2)).max
    val y2 = boxes.map(b => b(1) + b(3)).max
    Seq(x1, y1, x2 - x1, y2 - y1)
  }

  private final class Tok(val tx: String, val c: Seq[Int],
      val nf: Option[String], val hy: Boolean, var gn: Boolean = false)

  case class ArticleData(
      id: String,
      title: String,
      language: String,
      npages: Int,
      pages: Seq[JValue], // page "r" arrays pre-pOf
      pageRegions: Seq[Seq[(Seq[Int], Seq[JValue])]]) // unused placeholder

  case class ParsedArticle(title: String, language: String, npages: Int,
      pages: Seq[Seq[JValue]]) // per page: region JSONs (pOf added later)

  /** tetml_parser (parsers.py:22-170) for one article file. */
  def parseArticle(f: FsWalk.Dir, language: String = "de"): ParsedArticle = {
    val doc = Xml.load(f.path)
    val pagesOut = mutable.ArrayBuffer.empty[Seq[JValue]]
    for (page <- doc \\ "Page") {
      val placed = (page \\ "PlacedImage").headOption
      if (placed.isEmpty) {
        // no OCR text in this article: stop like the reference (returns
        // the partially filled data)
        return ParsedArticle(f.name, language, (doc \\ "Page").size,
          pagesOut.toSeq)
      }
      val imgId = attr(placed.get, "image").get
      val img = (doc \\ "Image")
        .find(i => attr(i, "id").contains(imgId)).get
      val (imageW, imageH) = (attr(img, "width").get.toInt,
        attr(img, "height").get.toInt)
      val placedW = attr(placed.get, "width").get.toDouble
      val placedH = attr(placed.get, "height").get.toDouble
      val pageHeight = attr(page, "height").get.toDouble

      def box(n: Node): Option[Seq[Int]] =
        for {
          llx <- attr(n, "llx"); lly <- attr(n, "lly")
          urx <- attr(n, "urx"); ury <- attr(n, "ury")
        } yield computeBox(llx.toDouble, lly.toDouble, urx.toDouble,
          ury.toDouble, pageHeight, imageH, imageW, placedW, placedH)

      val paras = (page \\ "Para") match {
        case ps if ps.nonEmpty => ps
        case _ if (page \\ "Line").isEmpty =>
          pagesOut += Nil // empty page: keep it with no regions
          Seq.empty
        case _ => Seq(page) // full-page tables without Para nodes
      }

      val paraJsons = mutable.ArrayBuffer.empty[(Seq[Int], JValue)]
      for (para <- paras) {
        val lineJsons = mutable.ArrayBuffer.empty[(Seq[Int], JValue)]
        var hyphenated: Option[Tok] = None
        for (line <- para \\ "Line") {
          val toks = mutable.ArrayBuffer.empty[Tok]
          hyphenated.foreach(toks += _)
          hyphenated = None
          var iWord = 0
          for (word <- line \\ "Word") {
            val boxes = word.child.collect {
              case e: Elem if e.label == "Box" => e
            }
            val text = (word \ "Text").headOption.map(_.text)
            val parsed: Option[Tok] = boxes.length match {
              case 1 =>
                text.flatMap(t => box(boxes.head).map(c =>
                  new Tok(t, c, None, hy = false)))
              case 2 =>
                val tx1 = (boxes(0) \ "Glyph").map(_.text).mkString
                val tx2 = (boxes(1) \ "Glyph").map(_.text).mkString
                for (c1 <- box(boxes(0)); c2 <- box(boxes(1))) yield {
                  hyphenated = Some(new Tok(tx2, c2, text, hy = false))
                  new Tok(tx1, c1, None, hy = true)
                }
              case n if n > 2 =>
                text.flatMap { t =>
                  val bs = boxes.flatMap(box)
                  if (bs.isEmpty) None
                  else Some(new Tok(t, computeBb(bs.toSeq), None, hy = false))
                }
              case _ => None
            }
            parsed.foreach { tok =>
              val isFiltered = FilterWords.contains(tok.tx)
              val isPageNo = tok.tx.exists(_.isDigit) && tok.tx.length < 4 &&
                lineJsons.isEmpty && paraJsons.isEmpty && iWord < 3
              if (!isFiltered && !isPageNo) toks += tok
            }
            iWord += 1
          }
          // gn flags over the line (helpers.py:345-373)
          for ((t, i) <- toks.zipWithIndex) {
            val next = if (i < toks.length - 1) Some(toks(i + 1).tx) else None
            val prev = if (i > 0) Some(toks(i - 1).tx) else None
            if (!Whitespace.insertAfter(Some(t.tx), next, prev, Some(language)))
              t.gn = true
          }
          if (toks.nonEmpty) {
            val lineCoords = computeBb(toks.map(_.c).toSeq)
            lineJsons += ((lineCoords, JObj(Seq(
              "c" -> Json.ints(lineCoords),
              "t" -> JArr(toks.toSeq.map(tokJson))))))
          }
        }
        if (lineJsons.nonEmpty) {
          val paraCoords = computeBb(lineJsons.map(_._1).toSeq)
          paraJsons += ((paraCoords, JObj(Seq(
            "c" -> Json.ints(paraCoords),
            "l" -> JArr(lineJsons.map(_._2).toSeq)))))
        }
      }
      if (paraJsons.nonEmpty) {
        val regionCoords = computeBb(paraJsons.map(_._1).toSeq)
        pagesOut += Seq(JObj(Seq(
          "c" -> Json.ints(regionCoords),
          "p" -> JArr(paraJsons.map(_._2).toSeq))))
      } else if (paras.nonEmpty) pagesOut += Nil
    }
    ParsedArticle(f.name, language, (doc \\ "Page").size, pagesOut.toSeq)
  }

  private def tokJson(t: Tok): JValue =
    JObj(Seq("c" -> Json.ints(t.c), "tx" -> JStr(t.tx)) ++
      (if (t.hy) Seq("hy" -> (JBool(true): JValue)) else Nil) ++
      t.nf.map(v => "nf" -> (JStr(v): JValue)) ++
      (if (t.gn) Seq("gn" -> (JBool(true): JValue)) else Nil))

  def parseIssue(ref: IssueRef, cdt: String, ts: String): ParsedIssue = {
    val files = FsWalk.walkFiles(ref.path)
      .filter(_.name.endsWith(".tetml"))

    var currentPage = 1
    val cis = mutable.ArrayBuffer.empty[JValue]
    val pageJsonsAcc = mutable.ArrayBuffer.empty[(String, String)]
    for ((f, i) <- files.zipWithIndex) {
      val art = parseArticle(f)
      val ciId = f"${ref.issueId}-i${i + 1}%04d"
      val pageEnd = currentPage + art.npages
      val pp = (currentPage until pageEnd).toSeq
      currentPage = pageEnd
      cis += JObj(Seq("m" -> JObj(Seq(
        "t" -> JStr(art.title),
        "l" -> JStr(art.language),
        "id" -> JStr(ciId),
        "tp" -> JStr("article"),
        "pp" -> Json.ints(pp)))))
      for ((pageNo, regions) <- pp.zip(art.pages)) {
        val pid = f"${ref.issueId}-p$pageNo%04d"
        val withPof = regions.map {
          case o: JObj => JObj(o.fields :+ ("pOf" -> (JStr(ciId): JValue)))
          case other => other
        }
        pageJsonsAcc += pid -> Json.render(JObj(Seq(
          "id" -> JStr(pid),
          "cdt" -> JStr(cdt),
          "ts" -> JStr(ts),
          "st" -> JStr("newspaper"),
          "sm" -> JStr("print"),
          "cc" -> JBool(true),
          "iiif_img_base_uri" -> JStr(s"$IiifEndpoint$pid"),
          "r" -> JArr(withPof))))
      }
    }

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(cis.toSeq),
      "pp" -> Json.strs(pageJsonsAcc.map(_._1).toSeq)))

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsonsAcc.toSeq)
  }
}

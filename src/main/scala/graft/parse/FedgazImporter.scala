package graft.parse

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

import graft.functions.FuzzyMatch
import graft.util.{FsWalk, Json}
import graft.util.Json._

/** FedGaz (Swiss Federal Gazette) importer: the TETML variant with an
  * issue-level metadata enrichment table and fuzzy in-page article
  * boundaries.
  *
  * Re-expression of text_preparation/importers/fedgaz/classes.py:
  *  - `metadata.tsv` at the title root supplies per-article titles,
  *    languages and full-page spans (J6 — at Spark scale this is the
  *    broadcast-dimension join of SURVEY.md §2.3);
  *  - articles flagged `pruned` share their last scanned page with the
  *    following article: the follower's title is located in its text by
  *    fuzzy match, paragraphs before the boundary are reassigned to the
  *    pruned article as a new leading region, and the pruned article's
  *    duplicate last page is dropped (classes.py:242-401).
  *
  * Deviation, documented: the reference fuzzily matches with the `regex`
  * module's weighted costs (cheap insertions for bad OCR); here
  * [[graft.functions.FuzzyMatch]] performs a bounded-Levenshtein window
  * scan with tolerance max(2, len/5) — same contract (leftmost best
  * match of the ≤30-char lowercased title), different cost model.
  */
object FedgazImporter {

  case class ArticleMeta(title: String, language: String,
      pageFirst: Int, pageLast: Int, pruned: Boolean)

  /** Parse metadata.tsv (tab-separated; columns article_docid,
    * article_title, volume_language, canonical_page_first,
    * canonical_page_last, pruned, issue_date). */
  def parseMetadata(f: String, issueDate: String): Map[String, ArticleMeta] = {
    val lines = new String(FsWalk.readBytes(f), "utf-8")
      .split("\r?\n").toList
    if (lines.isEmpty) return Map.empty
    val header = lines.head.split("\t").map(_.trim)
    val idx = header.zipWithIndex.toMap
    lines.tail.filter(_.nonEmpty).flatMap { line =>
      val c = line.split("\t", -1)
      def get(col: String): Option[String] = idx.get(col).map(c(_).trim)
      for {
        docid <- get("article_docid")
        date <- get("issue_date") if date.startsWith(issueDate)
        title <- get("article_title")
        lang <- get("volume_language")
        pf <- get("canonical_page_first")
        pl <- get("canonical_page_last")
      } yield docid -> ArticleMeta(title, lang, pf.toInt, pl.toInt,
        get("pruned").exists(p => p == "True" || p == "true" || p == "1"))
    }.toMap
  }

  private val mapper = new ObjectMapper()

  def detectIssues(baseDir: String): Seq[TetmlImporter.IssueRef] =
    TetmlImporter.detectIssues(baseDir)

  def parseIssue(ref: TetmlImporter.IssueRef, cdt: String,
      ts: String): ParsedIssue = {
    // metadata.tsv lives at the title root (…/<alias>/metadata.tsv)
    val aliasRoot = {
      var d = ref.path
      while (d != null && FsWalk.baseName(d) != ref.alias)
        d = FsWalk.parent(d)
      Option(d).getOrElse(ref.path)
    }
    val metaFile = FsWalk.child(aliasRoot, "metadata.tsv")
    if (!FsWalk.isFile(metaFile))
      throw new IllegalStateException(
        "File with additional metadata needs to be placed in the top " +
          "newspaper directory and named metadata.tsv")
    val metadata = parseMetadata(metaFile, ref.date)

    val files = FsWalk.walkFiles(ref.path)
      .filter(_.name.endsWith(".tetml"))

    // parse each article with the base TETML parser, then redefine from
    // the metadata table
    case class Art(docid: String, ciId: String, var title: String,
        var lang: String, var pp: Seq[Int],
        var pages: mutable.ArrayBuffer[mutable.ArrayBuffer[RegionT]],
        pruned: Boolean,
        // set when the shared last page was actually handed to a follower
        // — a trailing pruned article has no follower, keeps its page
        var lastPageDropped: Boolean = false)
    val arts = files.zipWithIndex.map { case (f, i) =>
      val parsed = TetmlImporter.parseArticle(f)
      val docid = f.name.split("\\.")(0)
      val ciId = f"${ref.issueId}-i${i + 1}%04d"
      val meta = metadata.get(docid)
      val pp = meta.map(m => (m.pageFirst to m.pageLast).toSeq)
        .getOrElse(Seq.tabulate(parsed.npages)(_ + 1))
      Art(docid, ciId,
        meta.map(_.title).getOrElse(parsed.title),
        meta.map(_.language).getOrElse("de"),
        pp,
        mutable.ArrayBuffer.from(parsed.pages.map(regionsOf)),
        meta.exists(_.pruned))
    }

    // fuzzy in-page boundary: a pruned article's remainder sits on the
    // first page of the NEXT article; locate the next article's title
    // there and move preceding paragraphs back (classes.py:242-401)
    for (i <- 1 until arts.length) {
      val prev = arts(i - 1)
      if (prev.pruned) {
        // the shared page is dropped from the pruned article regardless
        // of whether the boundary search can run or succeed — otherwise
        // the relation to the corresponding scan breaks and the page id
        // would be emitted twice (classes.py:330-333 deletes it in the
        // failure path too)
        if (arts(i).pages.isEmpty || arts(i).pages.head.isEmpty) {
          prev.pages.dropRightInPlace(1)
          prev.lastPageDropped = true
        } else {
        val page0 = arts(i).pages.head
        // flatten tokens of the follower's first page with para positions
        val tokens = mutable.ArrayBuffer.empty[(String, Int, Int)] // tx, region, para
        for ((reg, ri) <- page0.zipWithIndex;
             (para, pi) <- reg.paras.zipWithIndex;
             line <- para.lines; t <- line.tokens)
          tokens += ((t.tx, ri, pi))
        val text = tokens.map(_._1).mkString(" ").toLowerCase
        val title = arts(i).title.toLowerCase.take(30)
        FuzzyMatch.find(text, title,
          Some(math.max(2, title.length / 5))) match {
          case Some((offset, _)) =>
            // boundary token = the token whose span contains the match
            // offset, derived from token positions in the joined text
            // (space-counting miscounts when a token itself contains a
            // space — the reference's count(" ") remap has that flaw)
            val starts = new Array[Int](tokens.length)
            var acc = 0
            for (k <- tokens.indices) {
              starts(k) = acc
              acc += tokens(k)._1.length + 1
            }
            val tokIdx = math.max(0, starts.lastIndexWhere(_ <= offset))
            val (_, ri, pi) = tokens(tokIdx)
            // everything before the boundary belongs to the pruned
            // article: whole regions before ri, plus the paragraphs
            // before pi within region ri (the reference only moves the
            // in-region paragraphs, stranding earlier regions with the
            // follower — classes.py:349-401's TODO acknowledges the
            // partial reassignment; we move both)
            for (r <- 0 until ri) page0(r).pOfOverride = Some(prev.ciId)
            if (pi > 0) {
              val reg = page0(ri)
              val moved = reg.paras.take(pi)
              reg.paras.remove(0, pi)
              if (moved.nonEmpty) {
                val newRegion = new RegionT(mutable.ArrayBuffer.from(moved))
                newRegion.pOfOverride = Some(prev.ciId)
                page0.insert(ri, newRegion)
              }
            }
            prev.pages.dropRightInPlace(1)
            prev.lastPageDropped = true
          case None =>
            // page dropped regardless of matching, else the relation to
            // the corresponding scan is broken (classes.py:330-333)
            prev.pages.dropRightInPlace(1)
            prev.lastPageDropped = true
        }
        }
      }
    }

    val cis = arts.map { a =>
      JObj(Seq("m" -> JObj(Seq(
        "t" -> JStr(a.title),
        "l" -> JStr(a.lang),
        "id" -> JStr(a.ciId),
        "tp" -> JStr("article"),
        "pp" -> Json.ints(a.pp)))))
    }

    // pages: a pruned article contributes one page fewer only when a
    // follower actually consumed its last page — a trailing pruned
    // article keeps its final parsed page
    val pageJsonsAcc = mutable.ArrayBuffer.empty[(String, String)]
    for (a <- arts) {
      val canPages = if (a.lastPageDropped) a.pp.dropRight(1) else a.pp
      for ((pageNo, regions) <- canPages.zip(a.pages)) {
        val pid = f"${ref.issueId}-p$pageNo%04d"
        val rJson = regions.toSeq.map(r => r.json(a.ciId))
        pageJsonsAcc += pid -> Json.render(JObj(Seq(
          "id" -> JStr(pid),
          "cdt" -> JStr(cdt),
          "ts" -> JStr(ts),
          "st" -> JStr("newspaper"),
          "sm" -> JStr("print"),
          "cc" -> JBool(true),
          "iiif_img_base_uri" ->
            JStr(s"${TetmlImporter.IiifEndpoint}$pid"),
          "r" -> JArr(rJson))))
      }
    }

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "cdt" -> JStr(cdt),
      "ts" -> JStr(ts),
      "st" -> JStr("newspaper"),
      "sm" -> JStr("print"),
      "i" -> JArr(cis),
      "pp" -> Json.strs(pageJsonsAcc.map(_._1).toSeq)))

    ParsedIssue(ref.issueId, Json.render(issueJson), pageJsonsAcc.toSeq)
  }

  // ---- lightweight mutable region model over the TETML page JSON ----

  final class TokT(val tx: String, val json: JValue)
  final class LineT(val tokens: Seq[TokT], val json: JValue)
  final class ParaT(val lines: Seq[LineT], val json: JValue)
  final class RegionT(val paras: mutable.ArrayBuffer[ParaT]) {
    var pOfOverride: Option[String] = None
    def json(defaultPof: String): JValue = {
      val coords: Seq[Seq[Int]] = paras.toSeq.flatMap(p => coordsOf(p.json))
      val c = if (coords.nonEmpty) TetmlImporter.computeBb(coords) else Nil
      JObj(Seq(
        "c" -> Json.ints(c),
        "p" -> JArr(paras.toSeq.map(_.json)),
        "pOf" -> JStr(pOfOverride.getOrElse(defaultPof))))
    }
  }

  private def coordsOf(j: JValue): Option[Seq[Int]] = j match {
    case JObj(fields) => fields.collectFirst {
      case ("c", JArr(vs)) => vs.collect { case JInt(v) => v.toInt }
    }
    case _ => None
  }

  /** Rebuild the mutable region model from the TETML page region JSON. */
  private def regionsOf(regions: Seq[JValue]): mutable.ArrayBuffer[RegionT] =
    mutable.ArrayBuffer.from(regions.map {
      case JObj(fields) =>
        val paras = fields.collectFirst { case ("p", JArr(ps)) => ps }
          .getOrElse(Nil).map { pj =>
            val lines = (pj match {
              case JObj(pf) => pf.collectFirst { case ("l", JArr(ls)) => ls }
                .getOrElse(Nil)
              case _ => Nil
            }).map { lj =>
              val toks = (lj match {
                case JObj(lf) => lf.collectFirst { case ("t", JArr(ts)) => ts }
                  .getOrElse(Nil)
                case _ => Nil
              }).map { tj =>
                val tx = tj match {
                  case JObj(tf) => tf.collectFirst {
                    case ("tx", JStr(v)) => v
                  }.getOrElse("")
                  case _ => ""
                }
                new TokT(tx, tj)
              }
              new LineT(toks, lj)
            }
            new ParaT(lines, pj)
          }
        new RegionT(mutable.ArrayBuffer.from(paras))
      case other => new RegionT(mutable.ArrayBuffer.empty)
    })
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded KB (Delpher DIDL + ALTO) source tree, in the layout
  * `KbImporter.detectIssues` walks: `newspaper/YYYY/MM/DD/
  * DDD_<record>_mpeg21/{didl.xml, alto_NNN.xml}`.
  *
  * Compared with the one-page issues the `i1` oracle row synthesizes,
  * issues here have skewed page counts (a fixed multiset in a fixed
  * order: mostly small dailies and a few 16–32-page issues), several
  * text blocks per page, articles that span blocks and pages, several
  * aliases over a decade of years, and a fixed number of issues whose
  * ALTO is cut off mid-element (the planted quarantine set). The shape
  * is fixed by [[KbGen.Spec]]; the seed picks dates, words, article
  * boundaries and which two-page issues are corrupt, so every seed
  * does the same amount of work.
  */
object KbGen {

  final case class Spec(aliases: Int, years: Int, issuesPerYear: Int,
      pageCounts: Seq[Int], blocksPerPage: Int, linesPerBlock: Int,
      tokensPerLine: Int, corrupt: Int) {
    require(pageCounts.size == aliases * years * issuesPerYear,
      "one page count per issue")
  }

  /** What a correct import and rebuild of the tree must produce. */
  final case class Expected(
      corrupt: Set[String],
      issuePages: Map[String, Int],
      pagesByPartition: Map[(String, Int), Int],
      issuesByPartition: Map[(String, Int), Int],
      pageTokens: Map[String, Array[String]],
      ciTokens: Map[String, Array[String]],
      sourcePages: Int,
      sourceBytes: Long) {
    def goodPages: Int = pageTokens.size
  }

  val FirstYear = 1900

  def write(base: Path, seed: Long, spec: Spec): Expected = {
    // page counts sit at fixed positions of the (alias, date) order the
    // importer detects issues in, so the issues share out over tasks
    // the same way for every seed
    val pageCounts = new scala.util.Random(42).shuffle(spec.pageCounts)
      .toIndexedSeq
    val rnd = new scala.util.Random(seed)
    // corrupt issues are always two-page ones, so every seed imports
    // the same number of pages
    val corrupt = rnd.shuffle(pageCounts.indices.filter(pageCounts(_) == 2)
      .toList).take(spec.corrupt).toSet
    val pagesByPartition = mutable.Map[(String, Int), Int]()
    val issuesByPartition = mutable.Map[(String, Int), Int]()
    val pageTokens = mutable.Map[String, Array[String]]()
    val ciTokens = mutable.Map[String, Array[String]]()
    val corruptIds = mutable.Set[String]()
    val issuePages = mutable.Map[String, Int]()
    var sourcePages = 0
    var bytes = 0L
    var issueNo = 0
    for (a <- 0 until spec.aliases; y <- 0 until spec.years) {
      val alias = s"kbbench$a"
      val year = FirstYear + y
      // distinct (month, day) per alias-year, so every issue is the
      // only one of its alias on its date (edition "a")
      val days = rnd.shuffle((0 until 12 * 28).toList)
        .take(spec.issuesPerYear).sorted
      for (dayIdx <- days) {
        val month = 1 + dayIdx / 28
        val day = 1 + dayIdx % 28
        val issueId = f"$alias-$year%04d-$month%02d-$day%02d-a"
        val bad = corrupt(issueNo)
        val issue = genIssue(rnd, spec, issueId, pageCounts(issueNo))
        val record = f"${seed.abs % 1000}%03d${issueNo}%06d"
        val dir = base.resolve(f"newspaper/$year%04d/$month%02d/$day%02d/" +
          s"DDD_${record}_mpeg21")
        Files.createDirectories(dir)
        bytes += writeFile(dir.resolve("didl.xml"),
          didl(record, s"bench$a", issue))
        val badPage = if (bad) rnd.nextInt(issue.pages.size) else -1
        issue.pages.zipWithIndex.foreach { case (page, i) =>
          val xml = alto(page)
          bytes += writeFile(dir.resolve(f"alto_${i + 1}%03d.xml"),
            if (i == badPage) xml.substring(0, xml.length * 3 / 5) else xml)
        }
        sourcePages += issue.pages.size
        issuePages(issueId) = issue.pages.size
        if (bad) corruptIds += issueId
        else {
          val key = (alias, year)
          pagesByPartition(key) =
            pagesByPartition.getOrElse(key, 0) + issue.pages.size
          issuesByPartition(key) = issuesByPartition.getOrElse(key, 0) + 1
          issue.pages.zipWithIndex.foreach { case (p, i) =>
            pageTokens(f"$issueId-p${i + 1}%04d") =
              p.blocks.flatMap(_.lines.flatten).toArray
          }
          issue.articles.foreach { art =>
            ciTokens(f"$issueId-i${art.num}%04d") = art.tokens.toArray
          }
        }
        issueNo += 1
      }
    }
    Expected(corruptIds.toSet, issuePages.toMap, pagesByPartition.toMap,
      issuesByPartition.toMap, pageTokens.toMap, ciTokens.toMap,
      sourcePages, bytes)
  }

  private def writeFile(p: Path, s: String): Long = {
    val b = s.getBytes(UTF_8)
    Files.write(p, b)
    b.length.toLong
  }

  private final case class Block(article: Int, box: Seq[Int],
      lines: Seq[Seq[String]])
  private final case class Page(blocks: Seq[Block])
  private final case class Article(num: Int, subject: String,
      tokens: Seq[String])
  private final case class Issue(pages: Seq[Page], articles: Seq[Article])

  /** Articles cover whole blocks: each block either continues the
    * previous block's article or opens a new one, and the first block
    * of a page may continue the last article of the page before. */
  private def genIssue(rnd: scala.util.Random, spec: Spec,
      issueId: String, nPages: Int): Issue = {
    var article = 0
    val pages = (0 until nPages).map { p =>
      Page((0 until spec.blocksPerPage).map { b =>
        val opens =
          if (b == 0) p == 0 || rnd.nextDouble() >= 0.3
          else rnd.nextDouble() < 0.5
        if (opens) article += 1
        val box = Seq(100, 100 + b * 700, 1800, 600)
        Block(article, box, Seq.fill(spec.linesPerBlock)(
          Seq.fill(spec.tokensPerLine)(Words.pick(rnd))))
      })
    }
    // a CI's rebuilt text is its blocks in (page, block) order
    val byArticle = pages.flatMap(_.blocks).groupBy(_.article)
    val articles = (1 to article).map { n =>
      Article(n, if (rnd.nextDouble() < 0.15) "advertentie" else "artikel",
        byArticle(n).flatMap(_.lines.flatten))
    }
    Issue(pages, articles)
  }

  private def alto(page: Page): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= "<alto xmlns=\"http://schema.ccs-gmbh.com/ALTO\">\n"
    sb ++= " <Layout><Page ID=\"PAGE1\"><PrintSpace ID=\"PS1\" HPOS=\"0\" " +
      "VPOS=\"0\" WIDTH=\"2000\" HEIGHT=\"3000\">\n"
    page.blocks.zipWithIndex.foreach { case (blk, b) =>
      val Seq(x, y, w, h) = blk.box
      sb ++= s"""  <TextBlock ID="TB$b" HPOS="$x" VPOS="$y" WIDTH="$w" HEIGHT="$h">\n"""
      blk.lines.zipWithIndex.foreach { case (toks, l) =>
        val ly = y + 10 + l * 60
        sb ++= s"""   <TextLine ID="TL${b}_$l" HPOS="${x + 10}" VPOS="$ly" WIDTH="${w - 20}" HEIGHT="50">\n"""
        toks.zipWithIndex.foreach { case (t, k) =>
          sb ++= s"""    <String ID="S${b}_${l}_$k" HPOS="${x + 10 + k * 160}" VPOS="$ly" WIDTH="150" HEIGHT="50" CONTENT="$t" WC="0.93"/>\n"""
        }
        sb ++= "   </TextLine>\n"
      }
      sb ++= "  </TextBlock>\n"
    }
    sb ++= " </PrintSpace></Page></Layout>\n</alto>\n"
    sb.toString
  }

  private def didl(num: String, ppn: String, issue: Issue): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= """<didl:DIDL xmlns:didl="urn:mpeg:mpeg21:2002:02-DIDL-NS" xmlns:dc="http://purl.org/dc/elements/1.1/" xmlns:dcterms="http://purl.org/dc/terms/" xmlns:dcx="http://krait.kb.nl/coop/tel/handbook/telterms.html" xmlns:ddd="http://www.kb.nl/namespaces/ddd" xmlns:srw_dc="info:srw/schema/1/dc-v1.1" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">""" + "\n"
    sb ++= s""" <didl:Item dc:identifier="ddd:$num:mpeg21">
  <didl:Component dc:identifier="ddd:$num:mpeg21:metadata">
   <didl:Resource mimeType="text/xml"><srw_dc:dcx>
    <dc:identifier xsi:type="dcx:PPN">$ppn</dc:identifier>
    <dc:language xsi:type="dcterms:ISO639-1">nl</dc:language>
   </srw_dc:dcx></didl:Resource>
  </didl:Component>
"""
    issue.pages.zipWithIndex.foreach { case (page, i) =>
      val p = f"p${i + 1}%03d"
      sb ++= s"""  <didl:Item dc:identifier="ddd:$num:mpeg21:$p">
   <didl:Component dc:identifier="ddd:$num:mpeg21:$p:alto">
    <didl:Resource mimeType="text/xml" dcx:filename="alto_${p.drop(1)}.xml"/>
   </didl:Component>
"""
      page.blocks.groupBy(_.article).toSeq.sortBy(_._1).foreach {
        case (art, blocks) =>
          val a = f"a$art%04d"
          sb ++= s"""   <didl:Item dc:identifier="ddd:$num:mpeg21:$p:$a" ddd:article_id="ddd:$num:mpeg21:$a">
    <didl:Component dc:identifier="ddd:$num:mpeg21:$p:$a:zoning">
     <didl:Resource mimeType="text/xml"><dcx:zoning><dcx:coordinates image="page.jp2">
"""
          blocks.foreach { blk =>
            val Seq(x, y, w, h) = blk.box
            sb ++= s"""      <dcx:area hpos="$x" vpos="$y" width="$w" height="$h"/>\n"""
          }
          sb ++= "     </dcx:coordinates></dcx:zoning></didl:Resource>\n" +
            "    </didl:Component>\n   </didl:Item>\n"
      }
      sb ++= "  </didl:Item>\n"
    }
    issue.articles.foreach { art =>
      val a = f"a${art.num}%04d"
      sb ++= s"""  <didl:Item dc:identifier="ddd:$num:mpeg21:$a">
   <didl:Component dc:identifier="ddd:$num:mpeg21:$a:metadata">
    <didl:Resource mimeType="text/xml"><srw_dc:dcx>
     <dc:subject>${art.subject}</dc:subject>
     <dc:title>T${art.num}</dc:title>
    </srw_dc:dcx></didl:Resource>
   </didl:Component>
  </didl:Item>
"""
    }
    sb ++= " </didl:Item>\n</didl:DIDL>\n"
    sb.toString
  }
}

/** A fixed vocabulary (independent of the run seed) of lower-case
  * words built from syllables; runs draw words from it by seed. */
object Words {
  private val syllables = Seq("de", "van", "het", "een", "kra", "ter",
    "stad", "raad", "mor", "gen", "lan", "bu", "ren", "to", "ma", "ni",
    "schip", "ha", "ven", "dag", "blad", "pro", "vin", "cie", "wet",
    "ber", "ich", "ten", "markt", "prijs", "koop", "man", "huis", "zee")

  val vocabulary: IndexedSeq[String] = {
    val r = new scala.util.Random(7)
    Iterator.continually(
      Seq.fill(1 + r.nextInt(3))(syllables(r.nextInt(syllables.size)))
        .mkString)
      .distinct.take(400).toIndexedSeq
  }

  def pick(rnd: scala.util.Random): String =
    vocabulary(rnd.nextInt(vocabulary.size))
}

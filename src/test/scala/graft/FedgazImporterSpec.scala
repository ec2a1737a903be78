package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.parse.{FedgazImporter, ParsedIssue, TetmlImporter}

/** FedGaz importer specs. No metadata.tsv ships with the reference's
  * sample data (its own test cannot run either), so the fixture copies
  * the FedGazDe 1857-09-26 issue into a temp tree and synthesizes the
  * metadata table — including a pruned article whose remainder sits on
  * the next article's first scan, so the fuzzy boundary path executes
  * against real TETML content.
  */
class FedgazImporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private val srcIssue = Paths.get(
    "/root/reference/text_preparation/data/sample_data/Tetml/FedGazDe/1857/09/26")
  private val mapper = new ObjectMapper()

  /** First `n` token texts of the para-th paragraph on the given page of
    * the plain-TETML parse (used to build realistic titles). */
  private def tokensOf(parsed: ParsedIssue, pageId: String,
      para: Int, n: Int): String = {
    val page = mapper.readTree(parsed.pageJsons.toMap.apply(pageId))
    val paras = page.get("r").get(0).get("p")
    val p = paras.get(math.min(para, paras.size - 1))
    val ts = p.get("l").get(0).get("t")
    (0 until math.min(n, ts.size)).map(ts.get(_).get("tx").asText)
      .mkString(" ")
  }

  private lazy val fixture: Path = {
    val base = Files.createTempDirectory("fedgaz")
    val issueDir = base.resolve("FedGazDe/1857/09/26")
    Files.createDirectories(issueDir)
    Files.list(srcIssue).forEach { f =>
      if (f.toString.endsWith(".tetml"))
        Files.copy(f, issueDir.resolve(f.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
    }
    // realistic titles from the actual article texts
    val plainRef = TetmlImporter.detectIssues(base.toString).head
    val plain = TetmlImporter.parseIssue(plainRef, "C", "T")
    val t1 = tokensOf(plain, "FedGazDe-1857-09-26-a-p0001", 0, 4)
    val t2 = tokensOf(plain, "FedGazDe-1857-09-26-a-p0003", 0, 4)
    // follower's title comes from its SECOND paragraph so the fuzzy
    // boundary reassigns the first paragraph to the pruned article
    val t3 = tokensOf(plain, "FedGazDe-1857-09-26-a-p0004", 1, 4)
    val t4 = tokensOf(plain, "FedGazDe-1857-09-26-a-p0006", 0, 4)
    val t5 = tokensOf(plain, "FedGazDe-1857-09-26-a-p0008", 0, 4)
    val rows = Seq(
      "article_docid\tarticle_title\tvolume_language\tcanonical_page_first\tcanonical_page_last\tpruned\tissue_date",
      s"10002300\t$t1\tde\t1\t2\tFalse\t1857-09-26",
      s"10002301\t$t2\tde\t3\t3\tTrue\t1857-09-26",
      s"10002302\t$t3\tfr\t3\t4\tFalse\t1857-09-26",
      s"10002303\t$t4\tde\t5\t6\tFalse\t1857-09-26",
      s"10002304\t$t5\tde\t7\t12\tFalse\t1857-09-26")
    Files.writeString(base.resolve("FedGazDe/metadata.tsv"),
      rows.mkString("\n"))
    base
  }

  private lazy val parsed = {
    val ref = FedgazImporter.detectIssues(fixture.toString).head
    FedgazImporter.parseIssue(ref, "C", "T")
  }

  test("metadata table redefines titles, languages and page spans") {
    val issue = mapper.readTree(parsed.issueJson)
    val cis = issue.get("i")
    assert(cis.size == 5)
    val byId = (0 until cis.size).map { i =>
      cis.get(i).get("m").get("id").asText -> cis.get(i).get("m")
    }.toMap
    assert(byId("FedGazDe-1857-09-26-a-i0003").get("l").asText == "fr")
    val pp2 = byId("FedGazDe-1857-09-26-a-i0002").get("pp")
    assert(pp2.size == 1 && pp2.get(0).asInt == 3)
    val pp3 = byId("FedGazDe-1857-09-26-a-i0003").get("pp")
    assert((0 until pp3.size).map(pp3.get(_).asInt) == Seq(3, 4))
  }

  test("pruned article drops its shared page; no duplicate page ids") {
    val ids = parsed.pageJsons.map(_._1)
    assert(ids.distinct.size == ids.size, "page ids must be unique")
    // the pruned article (single-page span) contributes no page of its
    // own: its scan is parsed with the follower
    assert(!ids.contains("FedGazDe-1857-09-26-a-p0013"))
    assert(ids.size == 12)
  }

  test("trailing pruned article keeps its last page (no follower consumed it)") {
    // same issue, but the LAST article is flagged pruned: there is no
    // follower to hand the shared page to, so all its pages must survive
    val base = Files.createTempDirectory("fedgaz-trail")
    val issueDir = base.resolve("FedGazDe/1857/09/26")
    Files.createDirectories(issueDir)
    Files.list(srcIssue).forEach { f =>
      if (f.toString.endsWith(".tetml"))
        Files.copy(f, issueDir.resolve(f.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
    }
    val plainRef = TetmlImporter.detectIssues(base.toString).head
    val plain = TetmlImporter.parseIssue(plainRef, "C", "T")
    val t1 = tokensOf(plain, "FedGazDe-1857-09-26-a-p0001", 0, 4)
    val t5 = tokensOf(plain, "FedGazDe-1857-09-26-a-p0008", 0, 4)
    val rows = Seq(
      "article_docid\tarticle_title\tvolume_language\tcanonical_page_first\tcanonical_page_last\tpruned\tissue_date",
      s"10002300\t$t1\tde\t1\t2\tFalse\t1857-09-26",
      s"10002301\tx\tde\t3\t3\tFalse\t1857-09-26",
      s"10002302\ty\tfr\t4\t4\tFalse\t1857-09-26",
      s"10002303\tz\tde\t5\t6\tFalse\t1857-09-26",
      s"10002304\t$t5\tde\t7\t12\tTrue\t1857-09-26")
    Files.writeString(base.resolve("FedGazDe/metadata.tsv"),
      rows.mkString("\n"))
    val parsedTrail = FedgazImporter.parseIssue(
      FedgazImporter.detectIssues(base.toString).head, "C", "T")
    val ids = parsedTrail.pageJsons.map(_._1)
    assert(ids.distinct.size == ids.size)
    // the trailing pruned article's full span survives, incl. p0012
    assert(ids.contains("FedGazDe-1857-09-26-a-p0012"))
  }

  test("fuzzy boundary reassigns leading paragraphs to the pruned article") {
    // the follower's first page: its first region must now belong to the
    // pruned article i0002
    val followerFirstPage = parsed.pageJsons.toMap
      .apply("FedGazDe-1857-09-26-a-p0003")
    val r = mapper.readTree(followerFirstPage).get("r")
    assert(r.size >= 2, "boundary split produced a leading region")
    assert(r.get(0).get("pOf").asText == "FedGazDe-1857-09-26-a-i0002")
    assert(r.get(1).get("pOf").asText == "FedGazDe-1857-09-26-a-i0003")
  }
}

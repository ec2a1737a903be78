package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Formats
import graft.jobs.ImportJob
import graft.parse.ReroImporter

/** Golden-output tests for the RERO importer against the reference's
  * canonical output for BLB / EZR / FZG / LLE. Issue comparison per the
  * reference's golden contract (CI id sets + legacy `l`), plus
  * tp/pp/titles; image coordinates compare against the goldens' old
  * location (`m.c` — current code stores them at the CI top level).
  */
class ReroImporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sampleDir =
    "/root/reference/text_preparation/data/sample_data/RERO2"
  private val outDir =
    "/root/reference/text_preparation/data/out/canonical_out"
  private val mapper = new ObjectMapper()

  private lazy val results =
    ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("rero", sampleDir), _.issueId,
      _.parse("2020-01-01 00:00:00", "2020-01-01T00:00:00Z")).collect()

  private val issues = Seq(
    ("BLB-1845-12-28-a", "BLB-1845"), ("EZR-1840-02-21-a", "EZR-1840"),
    ("FZG-1972-03-02-a", "FZG-1972"), ("LLE-1946-09-02-a", "LLE-1946"))

  private def readBz2Lines(path: String): Seq[String] = {
    val in = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(new java.io.FileInputStream(path))
    val lines = scala.io.Source.fromInputStream(in, "utf-8").getLines().toList
    in.close()
    lines
  }

  test("detect finds the four RERO sample issues") {
    assert(ReroImporter.detectIssues(sampleDir).map(_.issueId).toSet ==
      issues.map(_._1).toSet)
    assert(results.length == 4 && results.flatMap(_.error).isEmpty)
  }

  for ((iid, title) <- issues) {
    test(s"$title: CI ids, legacy parts, types, pages, titles match goldens") {
      val golden = mapper.readTree(
        readBz2Lines(s"$outDir/$title-issues.jsonl.bz2").head)
      val mine = mapper.readTree(
        results.find(_.issueId == iid).get.issueJson.get)
      def byId(n: JsonNode): Map[String, JsonNode] =
        (0 until n.get("i").size()).map { i =>
          val ci = n.get("i").get(i)
          ci.get("m").get("id").asText -> ci
        }.toMap
      val (gm, mm) = (byId(golden), byId(mine))
      assert(gm.keySet == mm.keySet)
      for (cid <- gm.keySet) {
        val (g, m) = (gm(cid), mm(cid))
        assert(m.get("l") == g.get("l"), s"$cid legacy")
        assert(m.get("m").get("tp") == g.get("m").get("tp"), s"$cid tp")
        assert(m.get("m").get("pp") == g.get("m").get("pp"), s"$cid pp")
        assert(m.get("m").get("t") == g.get("m").get("t"), s"$cid title")
        // image coordinates: goldens store them under m.c (old format)
        val goldC = Option(g.get("m").get("c")).orElse(Option(g.get("c")))
          .filterNot(_.isNull)
        goldC.foreach { c =>
          assert(m.get("c") == c, s"$cid image coords")
        }
      }
    }

    test(s"$title: all page region trees match goldens") {
      val goldenPages = readBz2Lines(s"$outDir/pages/$iid-pages.jsonl.bz2")
        .map { l =>
          val n = mapper.readTree(l)
          n.get("id").asText -> n
        }.toMap
      val mine = results.find(_.issueId == iid).get.pages.toMap
      assert(mine.keySet == goldenPages.keySet)
      for ((pid, myJson) <- mine) {
        assert(mapper.readTree(myJson).get("r") == goldenPages(pid).get("r"),
          s"$pid regions differ")
      }
    }
  }
}

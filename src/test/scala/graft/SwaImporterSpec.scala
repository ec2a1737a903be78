package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Formats
import graft.jobs.ImportJob
import graft.parse.SwaImporter

/** Golden-output tests for the SWA importer (CSV detect, zip archives,
  * page == content item). Mirrors tests/importers/test_swa_importer.py.
  */
class SwaImporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sampleDir =
    "/root/reference/text_preparation/data/sample_data/SWA"
  private val goldenPagesDir =
    "/root/reference/text_preparation/data/out/canonical_out/pages"
  private val mapper = new ObjectMapper()

  private lazy val results =
    ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("swa", sampleDir), _.issueId,
      _.parse("2020-01-01 00:00:00", "2020-01-01T00:00:00Z")).collect()

  test("detect finds issues from the impresso-ids CSV") {
    val refs = SwaImporter.detectIssues(sampleDir)
    assert(refs.size > 300)
    assert(refs.forall(r => r.archivePath.endsWith(".zip")))
    assert(refs.exists(_.issueId == "arbeitgeber-1908-07-04-a"))
    assert(refs.exists(_.issueId == "handelsztg-1884-01-22-a"))
  }

  test("issues without pages in the sample archives are quarantined") {
    val ok = results.filter(_.error.isEmpty).map(_.issueId).toSet
    // only the two issues whose ALTO files ship in the sample zips parse
    assert(ok == Set("arbeitgeber-1908-07-04-a", "handelsztg-1884-01-22-a"))
    assert(results.count(_.error.isDefined) > 300)
  }

  private def checkGolden(issueId: String): Unit = {
    val mine = results.find(_.issueId == issueId).get.pages.toMap
    val golden = scala.io.Source.fromInputStream(
      new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(new java.io.FileInputStream(
        s"$goldenPagesDir/$issueId-pages.jsonl.bz2")), "utf-8")
      .getLines().map { l =>
        mapper.readTree(l).get("id").asText -> l
      }.toMap
    assert(mine.keySet == golden.keySet,
      s"${mine.keySet} vs ${golden.keySet}")
    for ((pid, myJson) <- mine) {
      val m = mapper.readTree(myJson)
      val g = mapper.readTree(golden(pid))
      assert(m.get("r") == g.get("r"), s"$pid regions differ")
      assert(m.get("cc") == g.get("cc"), s"$pid cc")
    }
  }

  test("arbeitgeber pages match the reference goldens") {
    checkGolden("arbeitgeber-1908-07-04-a")
  }

  test("handelsztg pages match goldens, dropping the empty ALTO page") {
    // p0002 is a zero-byte zip entry: dropped per-page exactly like the
    // reference's process_supports error path — issue and 5 pages survive
    checkGolden("handelsztg-1884-01-22-a")
    val issue = mapper.readTree(
      results.find(_.issueId == "handelsztg-1884-01-22-a").get.issueJson.get)
    assert(issue.get("pp").size() == 6)   // the page is still listed
    assert(results.find(_.issueId == "handelsztg-1884-01-22-a")
      .get.pages.size == 5)               // but has no page JSON
  }

  test("page == content item: one CI per page with tp=page") {
    val issue = mapper.readTree(
      results.find(_.issueId == "arbeitgeber-1908-07-04-a").get.issueJson.get)
    val cis = issue.get("i")
    assert(cis.size() == 8)
    (0 until cis.size()).foreach { i =>
      assert(cis.get(i).get("m").get("tp").asText == "page")
      assert(cis.get(i).get("m").get("pp").size() == 1)
    }
  }
}

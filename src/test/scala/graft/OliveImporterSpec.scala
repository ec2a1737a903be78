package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Formats
import graft.jobs.ImportJob
import graft.parse.OliveImporter

/** Golden-output tests for the Olive importer against the reference's
  * expected issue JSONs (tests/importers/test_olive_importer.py +
  * utils.py:92-136: identical CI id sets, identical legacy metadata).
  * The goldens key the CI language as `m.l` (deprecated name for `lg`,
  * rebuilders/helpers.py:203-207) — mapped during comparison.
  */
class OliveImporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sampleDir =
    "/root/reference/text_preparation/data/sample_data/Olive"
  private val expectedDir =
    "/root/reference/text_preparation/data/out/canonical_out/expected/Olive"
  private val mapper = new ObjectMapper()

  private lazy val results =
    ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("olive", sampleDir), _.issueId,
      _.parse("2020-01-01 00:00:00", "2020-01-01T00:00:00Z")).collect()

  test("detect finds issues; those without a Document archive quarantine") {
    val refs = OliveImporter.detectIssues(sampleDir)
    assert(refs.size == 8)
    val ok = results.filter(_.error.isEmpty).map(_.issueId).toSet
    assert(ok == Set("GDL-1900-01-02-a", "IMP-1901-09-03-a"))
    assert(results.count(_.error.isDefined) == 6)
  }

  for (iid <- Seq("GDL-1900-01-02-a", "IMP-1901-09-03-a")) {
    test(s"$iid: CI ids, legacy, languages, types, titles, styles match goldens") {
      val golden = mapper.readTree(
        new java.io.File(s"$expectedDir/$iid-issue.json"))
      val mine = mapper.readTree(
        results.find(_.issueId == iid).get.issueJson.get)
      assert(mine.get("s") == golden.get("s"), "styles")
      assert(mine.get("pp") == golden.get("pp"), "page list")
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
        // golden keys language as m.l (deprecated); rename before compare
        val gMeta = g.get("m").deepCopy[ObjectNode]()
        Option(gMeta.remove("l")).foreach(v => gMeta.replace("lg", v))
        assert(m.get("m") == gMeta, s"$cid metadata")
        assert(m.get("c") == g.get("c"), s"$cid coords")
        assert(m.get("pOf") == g.get("pOf"), s"$cid pOf")
      }
    }
  }

  test("pages recompose with style refs, glue flags and pOf links") {
    val pages = results.find(_.issueId == "GDL-1900-01-02-a").get.pages
    assert(pages.size == 4)
    val p1 = mapper.readTree(pages.head._2)
    assert(p1.get("r").size > 0, "page has recomposed regions")
    assert(p1.get("cc").asBoolean == false,
      "without image-info enrichment coords stay unconverted")
    var styleRefs, glue, pofs = 0
    for (i <- 0 until p1.get("r").size) {
      val r = p1.get("r").get(i)
      if (!r.get("pOf").isNull) pofs += 1
      val ps = r.get("p")
      for (j <- 0 until ps.size; l <- 0 until ps.get(j).get("l").size) {
        val line = ps.get(j).get("l").get(l)
        for (k <- 0 until line.get("t").size) {
          val t = line.get("t").get(k)
          if (t.has("s")) styleRefs += 1
          if (t.has("gn")) glue += 1
        }
      }
    }
    assert(styleRefs > 100, "tokens carry style references")
    assert(glue > 0, "whitespace rules produced glue flags")
    assert(pofs > 0, "regions link to their content items")
  }
}

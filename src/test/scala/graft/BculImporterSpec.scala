package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Formats
import graft.jobs.ImportJob
import graft.parse.BculImporter

/** Golden-output tests for the BCUL (ABBYY) importer against the
  * reference's canonical output for FAL (xml-mit flavour) and FAM
  * (json-mit flavour).
  *
  * The checked-in goldens predate the reference's char→word token
  * assembly (each `charParams` character was its own token), so pages
  * compare on structure + coordinates of regions/paragraphs/lines
  * exactly, and on per-line TEXT with whitespace stripped (the
  * characters are identical; only the grouping evolved). Image
  * coordinates live under `m.c` in the goldens (old location).
  */
class BculImporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sampleDir =
    "/root/reference/text_preparation/data/sample_data/BCUL"
  private val outDir =
    "/root/reference/text_preparation/data/out/canonical_out"
  private val mapper = new ObjectMapper()

  private lazy val results =
    ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("bcul", sampleDir), _.issueId,
      _.parse("2020-01-01 00:00:00", "2020-01-01T00:00:00Z")).collect()

  private def readBz2Lines(path: String): Seq[String] = {
    val in = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(new java.io.FileInputStream(path))
    val lines = scala.io.Source.fromInputStream(in, "utf-8").getLines().toList
    in.close()
    lines
  }

  test("detect finds both mit flavours, incl. non-ASCII journal dirs") {
    val refs = BculImporter.detectIssues(sampleDir)
    assert(refs.map(_.issueId).toSet == Set("FAL-1762-12-07-a",
      "ACI-1832-01-01-a", "CL-1883-01-01-a", "FAM-1937-01-30-a"))
    assert(refs.find(_.issueId == "FAL-1762-12-07-a").get.mitFileType == "xml")
    assert(refs.find(_.issueId == "FAM-1937-01-30-a").get.mitFileType == "json")
  }

  test("all four issues parse without quarantine") {
    assert(results.length == 4)
    assert(results.flatMap(_.error).isEmpty, results.flatMap(_.error).toSeq)
  }

  for ((iid, title) <- Seq(("FAL-1762-12-07-a", "FAL-1762"),
    ("FAM-1937-01-30-a", "FAM-1937"))) {

    test(s"$title: CI ids, types, pages and image coords match goldens") {
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
        assert(m.get("m").get("tp") == g.get("m").get("tp"), s"$cid tp")
        assert(m.get("m").get("pp") == g.get("m").get("pp"), s"$cid pp")
        // goldens stored coords under m.c and also for tables; current
        // code emits top-level c for images only
        if (g.get("m").get("tp").asText == "image")
          Option(g.get("m").get("c")).foreach { c =>
            assert(m.get("c") == c, s"$cid image coords (golden m.c)")
          }
      }
    }

    test(s"$title: page structure, coords and text match goldens") {
      val goldenPages = readBz2Lines(s"$outDir/pages/$iid-pages.jsonl.bz2")
        .map { l =>
          val n = mapper.readTree(l)
          n.get("id").asText -> n
        }.toMap
      val mine = results.find(_.issueId == iid).get.pages.toMap
      assert(mine.keySet == goldenPages.keySet)
      for ((pid, myJson) <- mine) {
        val (mr, gr) = (mapper.readTree(myJson).get("r"),
          goldenPages(pid).get("r"))
        assert(mr.size == gr.size, s"$pid region count")
        for (i <- 0 until mr.size) {
          val (a, b) = (mr.get(i), gr.get(i))
          assert(a.get("c") == b.get("c"), s"$pid r[$i] coords")
          // old goldens used the PAGE id as pOf; current code (and we)
          // use the page's content-item id (p → i)
          assert(a.get("pOf").asText ==
            b.get("pOf").asText.reverse.replaceFirst("p", "i").reverse,
            s"$pid r[$i] pOf")
          val (ap, bp) = (a.get("p").get(0), b.get("p").get(0))
          assert(ap.get("l").size == bp.get("l").size, s"$pid r[$i] lines")
          for (j <- 0 until ap.get("l").size) {
            val (al, bl) = (ap.get("l").get(j), bp.get("l").get(j))
            assert(al.get("c") == bl.get("c"), s"$pid r[$i] l[$j] coords")
            def lineText(l: JsonNode): String =
              (0 until l.get("t").size).map { k =>
                Option(l.get("t").get(k).get("tx")).map(_.asText).getOrElse("")
              }.mkString.replaceAll("\\s", "")
            assert(lineText(al) == lineText(bl), s"$pid r[$i] l[$j] text")
          }
        }
      }
    }
  }
}

package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Formats
import graft.jobs.ImportJob
import graft.parse.BnfImporter

/** Golden-output tests for the BNF importer against the reference's
  * checked-in canonical output for excelsior / lafronde / marieclaire /
  * oeuvre. The issue comparison follows the reference's own golden
  * contract (utils.py:92-136): identical CI id sets and identical legacy
  * `l` metadata per CI; we additionally check tp/pp/titles. Page regions
  * compare exactly after unwrapping the goldens' tuple-era line encoding
  * (each line serialized as [line, notes] by the old parse_textline).
  */
class BnfImporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sampleDir =
    "/root/reference/text_preparation/data/sample_data/BNF"
  private val outDir =
    "/root/reference/text_preparation/data/out/canonical_out"
  private val mapper = new ObjectMapper()

  private lazy val results =
    ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("bnf", sampleDir), _.issueId,
      _.parse("2020-01-01 00:00:00", "2020-01-01T00:00:00Z")).collect()

  private val issues = Seq(
    ("excelsior-1910-11-16-a", "excelsior-1910"),
    ("lafronde-1898-02-14-a", "lafronde-1898"),
    ("marieclaire-1939-01-27-a", "marieclaire-1939"),
    ("oeuvre-1915-12-01-a", "oeuvre-1915"))

  private def readBz2Lines(path: String): Seq[String] = {
    val in = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(new java.io.FileInputStream(path))
    val lines = scala.io.Source.fromInputStream(in, "utf-8").getLines().toList
    in.close()
    lines
  }

  test("detect finds all four sample issues with manifest dates") {
    val refs = BnfImporter.detectIssues(sampleDir)
    assert(refs.map(_.issueId).toSet == issues.map(_._1).toSet)
  }

  test("all four issues parse without quarantine") {
    assert(results.length == 4)
    assert(results.flatMap(_.error).isEmpty, results.flatMap(_.error).toSeq)
  }

  for ((iid, title) <- issues) {
    test(s"$title: CI ids, types, titles and legacy parts match goldens") {
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
        assert(m.get("l") == g.get("l"), s"$cid legacy parts")
        assert(m.get("m").get("tp") == g.get("m").get("tp"), s"$cid tp")
        assert(m.get("m").get("t") == g.get("m").get("t"), s"$cid title")
        // pp as a set: the golden's order is CPython set iteration order
        def ppSet(n: JsonNode) = (0 until n.get("m").get("pp").size())
          .map(n.get("m").get("pp").get(_).asInt).toSet
        assert(ppSet(m) == ppSet(g), s"$cid pp")
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
        val m = mapper.readTree(myJson).get("r")
        val g = goldenPages(pid).get("r")
        unwrapTupleLines(g)
        assert(m == g, s"$pid regions differ")
      }
    }
  }

  /** Goldens predate the (line, notes) unzip in alto.parse_textline:
    * every line is serialized as a 2-element array [line, notes]. */
  private def unwrapTupleLines(r: JsonNode): Unit =
    (0 until r.size()).foreach { i =>
      val ps = r.get(i).get("p")
      (0 until ps.size()).foreach { j =>
        val para = ps.get(j).asInstanceOf[ObjectNode]
        val lines = para.get("l").asInstanceOf[ArrayNode]
        val unwrapped = mapper.createArrayNode()
        (0 until lines.size()).foreach { k =>
          val l = lines.get(k)
          unwrapped.add(if (l.isArray) l.get(0) else l)
        }
        para.replace("l", unwrapped)
      }
    }
}

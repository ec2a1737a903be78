package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Formats
import graft.jobs.ImportJob
import graft.parse.LuxImporter

/** Golden-output tests for the Lux importer: parse the reference's
  * checked-in BNL sample data and compare page regions against the
  * reference's own canonical output (pages JSONL.bz2), mirroring
  * tests/importers/test_lux_importer.py + utils.py:92-136.
  */
class LuxImporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sampleDir =
    "/root/reference/text_preparation/data/sample_data/Luxembourg"
  private val goldenPagesDir =
    "/root/reference/text_preparation/data/out/canonical_out/pages"
  private val mapper = new ObjectMapper()

  private lazy val results =
    ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("lux", sampleDir), _.issueId,
      _.parse("2020-01-01 00:00:00", "2020-01-01T00:00:00Z")).collect()

  test("detect finds the four sample issues with correct ids") {
    val refs = LuxImporter.detectIssues(sampleDir)
    assert(refs.map(_.issueId).toSet ==
      Set("armeteufel-1904-01-17-a", "indeplux-1913-06-10-a",
        "luxzeit1858-1858-12-07-a", "tageblatt-1950-10-16-a"))
  }

  test("detect and parse work through a scheme'd Hadoop URI (file:)") {
    // the FsWalk migration's point: issue trees on any Hadoop-reachable
    // store. file: is the scheme'd stand-in for hdfs:/s3a: in tests.
    val refs = LuxImporter.detectIssues(s"file:$sampleDir")
    assert(refs.map(_.issueId).toSet ==
      LuxImporter.detectIssues(sampleDir).map(_.issueId).toSet)
    // force a scheme'd ISSUE path too: detect's listings come back
    // scheme-less for local files, so without this the parse stage
    // would only ever see plain paths
    val ref = refs.find(_.issueId == "armeteufel-1904-01-17-a").get
    val parsed = LuxImporter.parseIssue(
      ref.copy(path = s"file:${ref.path}"),
      "2020-01-01 00:00:00", "2020-01-01T00:00:00Z")
    assert(parsed.pageJsons.nonEmpty)
  }

  test("all sample issues parse without quarantine") {
    assert(results.length == 4)
    val errs = results.flatMap(_.error)
    assert(errs.isEmpty, errs.mkString("; "))
  }

  private def goldenPages(title: String, issueDate: String): Map[String, String] = {
    val f = s"$goldenPagesDir/$title-$issueDate-a-pages.jsonl.bz2"
    val in = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(new java.io.FileInputStream(f))
    val lines = scala.io.Source.fromInputStream(in, "utf-8").getLines().toList
    in.close()
    lines.map { l =>
      val id = mapper.readTree(l).get("id").asText
      id -> l
    }.toMap
  }

  /** Compare page regions against the golden, exact on structure, coords
    * and tokens. The checked-in goldens predate the reference's section
    * reconstruction ("bugfix by Edoardo", lux/classes.py:453-537): blocks
    * the current code attributes to a SECTION content item are attributed
    * to the section's member articles (since removed by
    * remove_section_cis) — or to nothing — in the golden. Such pOf values
    * are accepted iff the golden's article is one of the section's
    * canonical_parts.
    */
  private def checkPagesAgainstGolden(issueId: String, title: String,
      date: String): Unit = {
    val res = results.find(_.issueId == issueId).get
    val mine = res.pages.toMap
    val golden = goldenPages(title, date)
    // section CI id -> its member article ids
    val issue = mapper.readTree(res.issueJson.get)
    val sectionParts: Map[String, Set[String]] =
      (0 until issue.get("i").size()).flatMap { i =>
        val ci = issue.get("i").get(i)
        Option(ci.get("l").get("canonical_parts")).map { cp =>
          ci.get("m").get("id").asText ->
            (0 until cp.size()).map(cp.get(_).asText).toSet
        }
      }.toMap
    assert(mine.keySet == golden.keySet,
      s"page id sets differ: ${mine.keySet} vs ${golden.keySet}")
    for ((pid, myJson) <- mine) {
      val m = mapper.readTree(myJson)
      val g = mapper.readTree(golden(pid))
      assert(m.get("cc") == g.get("cc"), s"$pid cc")
      val (mr, gr) = (m.get("r"), g.get("r"))
      assert(mr.size == gr.size, s"$pid region count ${mr.size} vs ${gr.size}")
      for (i <- 0 until mr.size) {
        val (a, b) = (mr.get(i).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode],
          gr.get(i).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        val myPof = Option(a.get("pOf")).map(_.asText)
        val gPof = Option(b.get("pOf")).map(_.asText)
        val pofOk = (myPof, gPof) match {
          case (x, y) if x == y => true
          case (Some(s), Some(art)) =>
            sectionParts.get(s).exists(_.contains(art))
          case (Some(s), None) => sectionParts.contains(s)
          case _ => false
        }
        assert(pofOk, s"$pid r[$i] pOf: mine=$myPof golden=$gPof")
        a.remove("pOf"); b.remove("pOf")
        assert(a == b, s"$pid r[$i] differs beyond pOf")
      }
    }
  }

  test("luxzeit1858 page regions match the reference goldens") {
    checkPagesAgainstGolden("luxzeit1858-1858-12-07-a", "luxzeit1858",
      "1858-12-07")
  }

  test("armeteufel page regions match the reference goldens") {
    checkPagesAgainstGolden("armeteufel-1904-01-17-a", "armeteufel",
      "1904-01-17")
  }

  test("indeplux page regions match the reference goldens") {
    checkPagesAgainstGolden("indeplux-1913-06-10-a", "indeplux",
      "1913-06-10")
  }

  test("tageblatt page regions match the reference goldens") {
    checkPagesAgainstGolden("tageblatt-1950-10-16-a", "tageblatt",
      "1950-10-16")
  }

  test("issue CIs: deterministic ids, reading order, hyphenation flags") {
    val issue = mapper.readTree(
      results.find(_.issueId == "luxzeit1858-1858-12-07-a").get.issueJson.get)
    val cis = issue.get("i")
    assert(cis.size() > 0)
    // ids are sequential-with-gaps, zero-padded, unique
    val ids = (0 until cis.size()).map(i => cis.get(i).get("m").get("id").asText)
    assert(ids.distinct.size == ids.size)
    assert(ids.forall(_.matches("luxzeit1858-1858-12-07-a-i\\d{4}")))
    // reading order present and positive
    (0 until cis.size()).foreach { i =>
      assert(cis.get(i).get("m").get("ro").asInt > 0)
    }
    // pages of the issue are listed
    assert(issue.get("pp").size() == 4)
  }

  test("import output feeds the rebuild stage end-to-end") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("lux").toString
    val ds = ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("lux", sampleDir), _.issueId,
      _.parse("2020-01-01 00:00:00", "2020-01-01T00:00:00Z"))
    ImportJob.write(ds, out)
    val issues = graft.rebuild.RebuildJob.readIssues(spark, s"$out/issues")
    val pages = graft.rebuild.RebuildJob.readPages(spark, s"$out/pages")
    val rebuilt = graft.rebuild.RebuildJob.rebuildSolr(spark, issues, pages, "T")
    val n = rebuilt.count()
    assert(n > 0)
    assert(rebuilt.filter(col("ft").isNotNull).count() > 0)
  }
}

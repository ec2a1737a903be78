package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Formats
import graft.jobs.ImportJob
import graft.parse.{BnfEnImporter, KbImporter}
import graft.queries.RebuildQueries

/** Generic import job: any (detect, parse) pair runs distributed with
  * quarantine + partitioned bz2 output. Driven here with the KB and
  * BNF-EN importers and with synthesized results. */
class ImportJobSpec extends AnyFunSuite {
  import SparkTestSession._

  test("KB import runs distributed; output reads back partitioned") {
    val refs = KbImporter.detectIssues(
      "/root/reference/text_preparation/data/sample_data/KB")
    val results = ImportJob.run[KbImporter.IssueRef](spark, refs,
      _.issueId,
      KbImporter.parseIssue(_, "C", "T"))
    assert(results.count() == 3)
    assert(ImportJob.quarantine(results).count() == 0)
    val out = java.nio.file.Files.createTempDirectory("kb-out").toString
    ImportJob.write(results, out)
    // issues read back via the declared rebuild schema, one per record
    val issues = graft.rebuild.RebuildJob.readIssues(spark,
      s"$out/issues/alias=kb852886098/year=1813")
    assert(issues.count() == 1)
    assert(issues.select(size(col("i"))).head().getInt(0) == 4)
    val pages = spark.read.text(s"$out/pages/alias=kb852886098/year=1813")
    assert(pages.count() == 2)
  }

  test("a corrupt issue quarantines without failing the job") {
    val refs = KbImporter.detectIssues(
      "/root/reference/text_preparation/data/sample_data/KB") :+
      KbImporter.IssueRef("kbX", "1900-01-01", "a", "/nonexistent/path")
    val results = ImportJob.run[KbImporter.IssueRef](spark, refs,
      _.issueId,
      KbImporter.parseIssue(_, "C", "T"))
    assert(results.count() == 4)
    val q = ImportJob.quarantine(results).collect()
    assert(q.length == 1 && q.head.getString(0) == "kbX-1900-01-01-a")
  }

  test("write-time validation quarantines malformed documents") {
    import spark.implicits._
    val goodIssue = """{"id":"kbx-1900-01-01-a","cdt":"2020-01-01 00:00:00",""" +
      """"pp":["kbx-1900-01-01-a-p0001"],""" +
      """"i":[{"m":{"id":"kbx-1900-01-01-a-i0001","tp":"article","pp":[1]}}]}"""
    val goodPage = """{"id":"kbx-1900-01-01-a-p0001","cc":true,"r":[]}"""
    // missing cdt, CI id of ANOTHER issue, CI pp pointing past the page list
    val badIssue = """{"id":"kbx-1900-01-02-a",""" +
      """"pp":["kbx-1900-01-02-a-p0001"],""" +
      """"i":[{"m":{"id":"other-1900-01-02-a-i0001","tp":"article","pp":[2]}}]}"""
    // token coords must be 4 ints
    val badPage = """{"id":"kbx-1900-01-02-a-p0001","cc":true,""" +
      """"r":[{"c":[1,2,3,4],"pOf":"kbx-1900-01-02-a-i0001",""" +
      """"p":[{"l":[{"t":[{"c":[1,2,3],"tx":"x"}]}]}]}]}"""
    val results = spark.createDataset(Seq(
      ImportJob.ImportResult("kbx-1900-01-01-a", Some(goodIssue),
        Seq(("kbx-1900-01-01-a-p0001", goodPage)), None),
      ImportJob.ImportResult("kbx-1900-01-02-a", Some(badIssue),
        Seq(("kbx-1900-01-02-a-p0001", badPage)), None)))
    val out = java.nio.file.Files.createTempDirectory("val-out").toString
    ImportJob.write(results, out)
    val failed = spark.read.json(s"$out/failed").collect()
    assert(failed.length == 2, failed.mkString("\n"))
    val issueViols = failed.find(_.getAs[String]("doc_id") == "kbx-1900-01-02-a")
      .get.getAs[scala.collection.Seq[String]]("violations")
    assert(issueViols.contains("missing_cdt"))
    assert(issueViols.contains("ci_id_not_of_issue"))
    assert(issueViols.contains("ci_pp_not_in_issue"))
    val pageViols = failed.find(_.getAs[String]("doc_id") == "kbx-1900-01-02-a-p0001")
      .get.getAs[scala.collection.Seq[String]]("violations")
    assert(pageViols.contains("bad_token_coords"))
    // the valid issue+page are written; the invalid ones are excluded
    val issues = spark.read.text(s"$out/issues").collect().map(_.getString(0))
    assert(issues.length == 1 && issues.head.contains("kbx-1900-01-01-a"))
    val pages = spark.read.text(s"$out/pages").collect().map(_.getString(0))
    assert(pages.length == 1 && pages.head.contains("-p0001"))
    // both canonical sinks carry a completion marker
    for (sink <- Seq("issues", "pages"))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, sink, "_SUCCESS")), sink)
  }

  test("a failed sink write joins its sibling and releases the cache") {
    import spark.implicits._
    val results = spark.createDataset((1 to 8).map { d =>
      val id = f"kbx-1900-01-$d%02d-a"
      ImportJob.ImportResult(id,
        Some(s"""{"id":"$id","cdt":"2020-01-01 00:00:00","pp":["$id-p0001"],""" +
          s""""i":[{"m":{"id":"$id-i0001","tp":"article","pp":[1]}}]}"""),
        Seq((s"$id-p0001", s"""{"id":"$id-p0001","cc":true,"r":[]}""")), None)
    })
    val out = java.nio.file.Files.createTempDirectory("fail-out")
    // the issues sink's target is a plain file: that write fails
    java.nio.file.Files.write(out.resolve("issues"), "a file".getBytes)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](ImportJob.write(results, out.toString))
    // the concurrent pages write was joined, not left running detached:
    // it has committed (no staging dir left) by the time write throws
    val pagesOut = java.nio.file.Files.walk(out.resolve("pages")).toArray
      .map(_.toString)
    assert(!pagesOut.exists(_.contains(".spark-staging")),
      pagesOut.mkString("\n"))
    assert(pagesOut.exists(_.endsWith(".txt.bz2")), pagesOut.mkString("\n"))
    assert(spark.read.text(out.resolve("pages").toString).count() == 8)
    // the store is incomplete, so neither sink is marked complete
    assert(!java.nio.file.Files.exists(out.resolve("issues/_SUCCESS")))
    assert(!java.nio.file.Files.exists(out.resolve("pages/_SUCCESS")))
    // and the write's cache of the parsed results is released
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
  }

  test("KB import writes one file per (alias, year) per sink on every core") {
    // locals, not fields: the parse closure ships to tasks
    val cdt = "2020-01-01 00:00:00"
    val base = java.nio.file.Files.createTempDirectory("kb-groups")
    // issue year = 1900 + docId / 3360: three issues in each of four years
    for (y <- 0 until 4; k <- 0 until 3) {
      val docId = y * 3360L + k * 10
      RebuildQueries.writeKbIssue(base, docId,
        (0 until 8 + k).map(j => s"w${docId}_$j").mkString(" "))
    }
    val results = ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("kb", base.toString), _.issueId, _.parse(cdt, cdt))
    val out = java.nio.file.Files.createTempDirectory("kb-groups-out")

    val stages = org.apache.spark.TestBus.stages(spark.sparkContext)(
      ImportJob.write(results, out.toString))
    // one shuffle per (alias, year)-partitioned sink, none before the parse
    assert(stages.count(_._2 > 0) == 2, stages)
    // the parse with the failed/ write, the two shuffles and the
    // issues/ and pages/ writes: none in one task
    assert(stages.size >= 5 && stages.forall(_._1 > 1), stages)

    def ls(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      java.nio.file.Files.list(p).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
    for (sink <- Seq("issues", "pages")) {
      val dirs = ls(out.resolve(sink))
        .filter(_.getFileName.toString.startsWith("alias=")).flatMap(ls)
      assert(dirs.map(_.getFileName.toString).sorted ==
        (1900 to 1903).map(y => s"year=$y"), sink)
      for (d <- dirs) {
        val parts = ls(d).filter(_.toString.endsWith(".bz2"))
        assert(parts.size == 1, s"$d: $parts")
      }
    }
    val want = KbImporter.detectIssues(base.toString)
      .map(KbImporter.parseIssue(_, cdt, cdt))
    def read(sink: String): Set[String] =
      spark.read.text(out.resolve(sink).toString).collect()
        .map(_.getString(0)).toSet
    assert(read("issues") == want.map(_.issueJson).toSet)
    assert(read("pages") == want.flatMap(_.pageJsons.map(_._2)).toSet)
  }

  test("issues of one (alias, year) still parse on every core") {
    val cdt = "2020-01-01 00:00:00"
    val base = java.nio.file.Files.createTempDirectory("kb-one-year")
    for (k <- 0 until 6)
      RebuildQueries.writeKbIssue(base, k * 10L, s"w$k lorem ipsum")
    val results = ImportJob.run[Formats.IssueHandle](spark,
      Formats.detect("kb", base.toString), _.issueId, _.parse(cdt, cdt))
    val sizes = results.rdd.glom().map(_.length).collect()
    assert(sizes.length == math.min(6, spark.sparkContext.defaultParallelism))
    assert(sizes.forall(_ > 0) && sizes.sum == 6, sizes.toSeq)
  }

  test("BNF-EN runs through the same generic job") {
    val refs = BnfEnImporter.detectIssues(
      "/root/reference/text_preparation/data/sample_data/BNF-EN",
      Map("lepji-1900-06-03-a" -> "bpt6k6169427"))
    val results = ImportJob.run[BnfEnImporter.IssueRef](spark, refs,
      _.issueId,
      BnfEnImporter.parseIssue(_, "C", "T"))
    assert(results.count() == 1)
    assert(results.head().pages.size == 8)
  }
}

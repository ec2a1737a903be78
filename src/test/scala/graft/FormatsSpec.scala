package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Formats
import graft.jobs.ImportJob
import graft.parse.KbImporter
import graft.queries.RebuildQueries

/** The format registry: `Formats.detect` → `ImportJob.run`, the one
  * import path every format goes through. */
class FormatsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("an unknown format is rejected with the list of known formats") {
    val e = intercept[IllegalArgumentException](
      Formats.detect("nope", Files.createTempDirectory("fmt").toString))
    assert(e.getMessage.startsWith("unknown format 'nope'"))
    assert(Formats.names.size == 14)
    for (name <- Formats.names) assert(e.getMessage.contains(name), name)
  }

  test("every registered format dispatches to its importer") {
    val empty = Files.createTempDirectory("fmt-empty").toString
    // an empty tree holds no issues in any format; a name the registry
    // does not dispatch would throw instead
    for (name <- Formats.names)
      assert(Formats.detect(name, empty).isEmpty, name)
  }

  test("KB through the generic job returns exactly what the importer parses") {
    // locals, not fields: the parse closure ships to tasks
    val cdt = "2020-01-01 00:00:00"
    val ts = "2020-01-01T00:00:00Z"
    val base = Files.createTempDirectory("fmt-kb")
    val texts = (0 until 8).map(i =>
      (i * 10L, (0 until 12 + i).map(j => s"w${i}_$j").mkString(" ")))
    for ((docId, text) <- texts)
      RebuildQueries.writeKbIssue(base, docId, text)
    val handles = Formats.detect("kb", base.toString)
    val refs = KbImporter.detectIssues(base.toString)
    assert(refs.size == texts.size)
    assert(handles.map(_.issueId) == refs.map(_.issueId))
    val results = ImportJob.run[Formats.IssueHandle](spark, handles,
      _.issueId, _.parse(cdt, ts))
    assert(ImportJob.quarantine(results).count() == 0)
    val got = results.collect()
      .map(r => (r.issueId, r.issueJson, r.pages)).sortBy(_._1).toSeq
    val want = refs.map(KbImporter.parseIssue(_, cdt, ts))
      .map(p => (p.issueId, Some(p.issueJson), p.pageJsons)).sortBy(_._1)
    assert(got == want)
  }
}

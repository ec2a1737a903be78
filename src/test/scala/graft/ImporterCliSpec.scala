package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.ImporterCli
import graft.queries.RebuildQueries

/** `writeKbIssue` trees and `ImporterCli.run` calls on them. */
object ImporterCliSpec {
  import SparkTestSession._

  /** `n` KB issues `step` doc ids apart (a `writeKbIssue` year spans
    * 3,360 ids), the first one's ALTO cut off when `truncate`. */
  def kbTree(n: Int, step: Long, truncate: Boolean): Path = {
    val base = Files.createTempDirectory("cli-kb")
    for (k <- 0 until n)
      RebuildQueries.writeKbIssue(base, k * step, s"w$k lorem ipsum dolor")
    if (truncate) {
      val alto = Files.walk(base).iterator().asScala
        .filter(_.getFileName.toString == "alto_001.xml").toSeq.sorted.head
      val xml = Files.readString(alto)
      Files.writeString(alto, xml.substring(0, xml.length * 3 / 5))
    }
    base
  }

  /** `ImporterCli.run --format=kb` with fixed clocks. */
  def importKb(in: Path, out: Path, flags: String*): ImporterCli.Summary =
    ImporterCli.run(spark, ImporterCli.parseArgs(Array("--format=kb",
      s"--input-dir=$in", s"--output-dir=$out",
      "--cdt=2020-01-01 00:00:00", "--ts=2020-01-01 00:00:00") ++ flags))
}

class ImporterCliSpec extends AnyFunSuite {
  import SparkTestSession._
  import ImporterCliSpec._

  test("a missing --input-dir is rejected before any sink is touched") {
    val root = Files.createTempDirectory("cli-missing")
    val missing = root.resolve("no-such-dir").toString
    val out = root.resolve("out")
    val e = intercept[IllegalArgumentException](ImporterCli.run(spark,
      ImporterCli.parseArgs(Array("--format=kb", s"--input-dir=$missing",
        s"--output-dir=$out"))))
    assert(e.getMessage.contains(missing))
    assert(!Files.exists(out))
  }

  test("the summary counts detected, skipped, imported and quarantined " +
      "issues") {
    // six issues over two years, one truncated
    val in = kbTree(6, 1120L, truncate = true)
    val out = Files.createTempDirectory("cli-summary-out")

    assert(importKb(in, out) == ImporterCli.Summary(detected = 6,
      selected = 6, skipped = 0, imported = 5, quarantined = 1))
    assert(spark.read.json(s"$out/quarantine").count() == 1)
    assert(spark.read.text(s"$out/issues").count() == 5)
    // the truncated issue was never written, so only it is imported again
    assert(importKb(in, out, "--incremental") == ImporterCli.Summary(
      detected = 6, selected = 6, skipped = 5, imported = 0,
      quarantined = 1))
    assert(spark.read.json(s"$out/quarantine").count() == 2)
    assert(spark.read.text(s"$out/issues").count() == 5)
  }

  test("an incremental run with nothing new imports nothing") {
    val in = kbTree(2, 10L, truncate = false)
    val out = Files.createTempDirectory("cli-nothing-new-out")
    assert(importKb(in, out) == ImporterCli.Summary(2, 2, 0, 2, 0))
    assert(importKb(in, out, "--incremental") ==
      ImporterCli.Summary(2, 2, 2, 0, 0))
    assert(spark.read.text(s"$out/pages").count() == 2)
  }
}

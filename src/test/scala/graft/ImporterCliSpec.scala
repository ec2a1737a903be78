package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.ImporterCli

class ImporterCliSpec extends AnyFunSuite {
  import SparkTestSession._

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
}

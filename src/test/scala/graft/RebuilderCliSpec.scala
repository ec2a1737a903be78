package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.RebuilderCli

class RebuilderCliSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a missing --input-dir is rejected before any sink is touched") {
    val root = Files.createTempDirectory("rebuild-missing")
    val missing = root.resolve("no-such-dir").toString
    val out = root.resolve("out")
    val e = intercept[IllegalArgumentException](RebuilderCli.run(spark,
      RebuilderCli.parseArgs(Array(s"--input-dir=$missing",
        s"--output-dir=$out", s"--stats-dir=$out/stats"))))
    assert(e.getMessage.contains(missing))
    assert(!Files.exists(out))
  }
}

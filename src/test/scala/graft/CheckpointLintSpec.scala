package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to checkpoint: every checkpoint, observed checkpoint count
  * and release in the program goes through `graft.util.Iter.scoped`.
  * Scans the program's sources (comments skipped) for the calls that
  * would get round the scope. Each allowed use outside
  * `graft/util/Iter.scala` is listed here by file, with its reason. */
class CheckpointLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val scope = "graft/util/Iter.scala"

  /** The three lazy caches: each fills during an action its call
    * already runs, where an eager checkpoint would add a job. */
  private val lazyCaches = Map(
    "graft/jobs/ImportJob.scala" ->
      "parsed results cached for the concurrent sink writes",
    "graft/cli/ImporterCli.scala" ->
      "parse results cached for the write and the failed/ sink",
    "graft/operators/LogReg.scala" -> "feature rows cached for the fit")

  /** Write-side observations: counts that ride a write, not a
    * checkpoint. */
  private val writeObservations = Map(
    "graft/cli/CurateCli.scala" ->
      "Summary counts ride the input read and the two writes",
    "graft/cli/ImporterCli.scala" ->
      "the quarantined count rides the failed/ write")

  private val rules: Seq[(String, Map[String, String])] = Seq(
    ".checkpoint(" -> Map.empty,
    ".localCheckpoint(" -> Map.empty,
    "Iter.release" -> Map.empty,
    "Iter.materialize(" -> Map.empty,
    "Observation(" -> writeObservations,
    ".persist(" -> lazyCaches,
    ".cache()" -> lazyCaches,
    ".unpersist(" -> lazyCaches)

  /** Source lines with line comments and scaladoc/block-comment lines
    * dropped. */
  private def code(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
      case (line, i) if !Seq("*", "/*").exists(line.trim.startsWith) =>
        (line.split("//", 2)(0), i + 1)
    }

  test("checkpoints, releases and observations go through Iter.scoped") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(p => root.relativize(p).toString == scope))
    val violations = for {
      p <- sources
      rel = root.relativize(p).toString.replace('\\', '/')
      if rel != scope
      (line, n) <- code(p)
      (pattern, allowed) <- rules
      if line.contains(pattern) && !allowed.contains(rel)
    } yield s"$rel:$n uses $pattern: ${line.trim}"
    assert(violations.isEmpty, violations.mkString("\n", "\n", ""))
  }
}

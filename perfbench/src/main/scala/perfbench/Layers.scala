package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cli.{CurateCli, Formats}
import graft.jobs.{ImportJob, Validate}
import graft.operators.Stats
import graft.parse.KbImporter
import graft.rebuild.RebuildJob

/** The traced run's direct calls into each layer's public functions,
  * each inside its own span. The calls follow the composition the CLI
  * entry points use, so the layer times add up to what a user waits
  * for; spans and the listeners do the attribution. */
final class Layers(spark: SparkSession, trace: Trace, work: String,
    seed: Long) {
  import Layers.cdt
  private val metrics = Seq.newBuilder[(String, Double, String)]
  def result: Seq[(String, Double, String)] = metrics.result()
  private def put(name: String, v: Double, unit: String): Unit =
    metrics += ((name, v, unit))
  private def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = trace.span(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** discover: the driver-side directory walk and DIDL reads. */
  def discover(kbDir: String): Unit = {
    val (handles, s) = timed("discover.detect")(Formats.detect("kb", kbDir))
    put("discover.detect_s", s, "s")
    put("discover.issues", handles.size, "count")
  }

  /** parse: `KbImporter.parseIssue` on this thread over a seeded sample
    * of good issues; validate: the write-time checks over a cached
    * frame of the JSON those parses produced. */
  def parseAndValidate(kbDir: String, corrupt: Set[String]): Unit = {
    val refs = KbImporter.detectIssues(kbDir).filterNot(r =>
      corrupt(r.issueId))
    val sample = new scala.util.Random(seed ^ 0xba5e).shuffle(refs).take(40)
    val srcBytes = sample.map(r => Fs.bytesUnder(r.path)).sum
    val (parsed, s) = timed("parse.parseIssue")(
      sample.map(r => KbImporter.parseIssue(r, cdt, cdt)))
    val pages = parsed.map(_.pageJsons.size).sum
    put("parse.us_per_page", s * 1e6 / pages, "us")
    put("parse.source_mb_per_s", srcBytes / 1048576.0 / s, "MB/s")

    import spark.implicits._
    // ten copies of the sample, so the check (not the job) dominates
    val copies = 10
    val pageDf = Seq.fill(copies)(parsed.flatMap(p =>
        p.pageJsons.map(j => (p.issueId, j._2)))).flatten
      .toDF("issue_id", "json").repartition(spark.sparkContext
        .defaultParallelism).persist(StorageLevel.MEMORY_ONLY)
    val issueDf = Seq.fill(copies)(parsed.map(p => (p.issueId, p.issueJson)))
      .flatten.toDF("issue_id", "json").persist(StorageLevel.MEMORY_ONLY)
    val docs = pageDf.count() + issueDf.count()
    val (violations, vs) = timed("validate.violations") {
      val pv = pageDf.select(size(Validate.pageViolationsOf(
        Validate.parsedPage(col("json")), col("issue_id"))).as("n"))
        .agg(sum("n")).head().getLong(0)
      val iv = issueDf.select(size(Validate.issueViolationsOf(
        Validate.parsedIssue(col("json")))).as("n"))
        .agg(sum("n")).head().getLong(0)
      pv + iv
    }
    pageDf.unpersist(blocking = true)
    issueDf.unpersist(blocking = true)
    put("validate.us_per_doc", vs * 1e6 / docs, "us")
    put("validate.violations", violations, "count")
  }

  /** jobs: `ImportJob.run`/`write`/`quarantine` as `ImporterCli.run`
    * composes them. Returns the canonical store it wrote. */
  def importJobs(kbDir: String): String = {
    val out = s"$work/layers-import"
    val handles = Formats.detect("kb", kbDir)
    val (results, rs) = timed("import.run")(
      ImportJob.run[Formats.IssueHandle](spark, handles, _.issueId,
        h => h.parse(cdt, cdt)).persist(StorageLevel.MEMORY_AND_DISK))
    val (_, ws) = timed("import.write")(ImportJob.write(results, out))
    val (_, qs) = timed("import.quarantine") {
      val q = ImportJob.quarantine(results)
      if (q.count() > 0) q.write.mode("append").json(s"$out/quarantine")
    }
    results.unpersist(blocking = true)
    put("import.run_s", rs, "s")
    put("import.write_s", ws, "s")
    put("import.quarantine_s", qs, "s")
    put("import.files_out", Fs.filesUnder(out), "count")
    put("import.mb_out", Fs.bytesUnder(out) / 1048576.0, "MB")
    out
  }

  /** rebuild: reads, quarantine, fold + write and stats as
    * `RebuilderCli.run` composes them, then `rebuildOne` on this thread
    * over the collected fold inputs. Returns the solr output and its
    * stats rows. */
  def rebuild(canonical: String): (String, Seq[Row]) = {
    val out = s"$work/layers-rebuild"
    val ((issues, pages), rs) = timed("rebuild.read")(
      (RebuildJob.readIssues(spark, s"$canonical/issues"),
        RebuildJob.readPages(spark, s"$canonical/pages")))
    val (_, qs) = timed("rebuild.quarantine")(
      RebuildJob.quarantine(issues, pages).count())
    val (_, ws) = timed("rebuild.write")(RebuildJob.writeJsonl(
      RebuildJob.rebuildSolr(spark, issues, pages, cdt).toDF(),
      s"$out/solr"))
    val (stats, ss) = timed("rebuild.stats")(
      Stats.rebuiltStats(spark.read.json(s"$out/solr")).collect())
    import spark.implicits._
    val cis = RebuildJob.joined(issues, pages)
      .filter(col("missing_page") === 0).as[RebuildJob.CiInput].collect()
    val (_, fs) = timed("rebuild.fold")(
      cis.foreach(ci => RebuildJob.rebuildOne(ci, cdt)))
    put("rebuild.read_s", rs, "s")
    put("rebuild.quarantine_s", qs, "s")
    put("rebuild.write_s", ws, "s")
    put("rebuild.stats_s", ss, "s")
    put("rebuild.fold_us_per_ci", fs * 1e6 / cis.length.max(1), "us")
    (s"$out/solr", stats.toSeq)
  }

  /** operators + Iter: `CurateCli.pipeline` as its own call (its eager
    * checkpoints run inside it). */
  def curate(docsDir: String, evalDir: String): Unit = {
    val docs = graft.util.Tables.documents(spark, docsDir)
    val eval = graft.util.Tables.documents(spark, evalDir)
    val (_, s) = timed("curate.pipeline")(
      CurateCli.pipeline(spark, docs, Some(eval), minWords = 20,
        maxOverlap = 2))
    put("curate.pipeline_s", s, "s")
  }
}

object Layers {
  /** Fixed creation time stamped into canonical documents. */
  val cdt = "2020-01-01 00:00:00"
}

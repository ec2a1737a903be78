package graft.cli

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.ImportJob
import graft.rebuild.RebuildJob
import graft.operators.Stats

/** CLI entry point for the rebuild stage — the user surface of the
  * reference's `rebuilder.py` docopt main (rebuilders/rebuilder.py:
  * 295-344: --input-bucket, --output-dir, --filter-config, --format,
  * --languages).
  *
  * Usage:
  * {{{
  * graft.cli.RebuilderCli --input-dir=DIR --output-dir=DIR
  *   [--filter-config=FILE]  JSON array of {alias: [startYear, endYearExcl]}
  *                           batches (config/rebuilt_config/GDL.json shape)
  *   [--format=solr|passim]  rebuilt format (default solr, rebuilder.py:18)
  *   [--languages=fr,de]     language allow-list (rebuilder.py:272-274)
  *   [--medium=print|audio]  pages vs audio-record supports
  *   [--ts=TS]               injected timestamp (default: current UTC)
  *   [--stats-dir=DIR]       write per-(alias, year) manifest stats
  * }}}
  *
  * The reference iterates its config batch-by-batch, year-by-year on
  * the driver — a Dask memory-management artifact (rebuilder.py:
  * 365-385). Here the whole config compiles into ONE Column predicate
  * over the canonical layout's (alias, year) partition columns, so
  * Catalyst prunes the scan to exactly the configured partitions and
  * the entire rebuild is a single distributed job: no driver loop, no
  * per-year barrier, and the (alias, year) output partitioning comes
  * from the same shuffle the rebuild already pays.
  */
object RebuilderCli {

  /** One config batch: rebuild `alias` for `[startYear, endYear)` —
    * end-exclusive like the reference's `range(start_year, end_year)`
    * (rebuilder.py:375). */
  case class Batch(alias: String, startYear: Int, endYear: Int)

  case class Args(
      inputDir: String, outputDir: String,
      filterConfig: Option[String] = None, format: String = "solr",
      languages: Option[Seq[String]] = None, medium: String = "print",
      ts: Option[String] = None, statsDir: Option[String] = None)

  def parseArgs(argv: Array[String]): Args = {
    val kv = "--([a-z-]+)=(.*)".r
    val flag = "--([a-z-]+)".r
    val m = argv.collect {
      case kv(k, v) => k -> v
      case flag(k) => k -> "true"
    }.toMap
    def req(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing required --$k=..."))
    val format = m.getOrElse("format", "solr")
    require(format == "solr" || format == "passim",
      s"--format must be solr or passim, got '$format'")
    Args(
      inputDir = req("input-dir"),
      outputDir = req("output-dir"),
      filterConfig = m.get("filter-config"),
      format = format,
      languages = m.get("languages").map(_.split(",").map(_.trim).toSeq),
      medium = m.getOrElse("medium", "print"),
      ts = m.get("ts"), statsDir = m.get("stats-dir"))
  }

  /** Parse the reference's rebuilt-config JSON: an array of one-entry
    * objects `{alias: [startYear, endYearExclusive]}`
    * (config/rebuilt_config/GDL.json). Multiple batches for the same
    * alias union. */
  def parseBatches(json: String): Seq[Batch] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    require(root.isArray, "filter config must be a JSON array of batches")
    (0 until root.size).flatMap { i =>
      root.get(i).properties().iterator().asScala.map { e =>
        val span = e.getValue
        Batch(e.getKey, span.get(0).asInt, span.get(1).asInt)
      }
    }
  }

  /** Compile batches into one predicate over (alias, year). On the
    * canonical partitioned layout both are partition columns, so this
    * prunes the scan to the configured slices. */
  def batchPredicate(batches: Seq[Batch]): Column =
    batches.map { b =>
      col("alias") === b.alias &&
        col("year") >= b.startYear && col("year") < b.endYear
    }.reduce(_ || _)

  /** Select the configured slice of a canonical frame. Partitioned
    * layouts carry (alias, year) as partition columns — filter them
    * directly (partition pruning). Flat JSONL inputs (the reference's
    * own sample data) derive both from the canonical id. */
  def selectBatches(df: DataFrame, batches: Seq[Batch]): DataFrame =
    if (batches.isEmpty) df
    else {
      val withKeys =
        if (df.columns.contains("alias") && df.columns.contains("year")) df
        else df
          .withColumn("alias", ImportJob.aliasOf(col("id")))
          .withColumn("year", ImportJob.yearOf(col("id")).cast("int"))
      withKeys.filter(batchPredicate(batches))
        .drop("alias", "year")
    }

  case class Summary(rebuilt: Long, quarantined: Long)

  def run(spark: SparkSession, args: Args): Summary = {
    graft.util.LocalFs.install(spark)
    // name the path up front, as ImporterCli does, rather than fail in
    // whichever read first resolves it
    require(graft.util.FsWalk.isDir(args.inputDir),
      s"--input-dir is not a directory: ${args.inputDir}")
    val batches = args.filterConfig.map { f =>
      parseBatches(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8"))
    }.getOrElse(Nil)

    val ts = args.ts.getOrElse(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)))

    // canonical layout (ImportJob.write): issues/ + pages/, each
    // (alias, year)-partitioned bz2 JSONL; audio records live in the
    // pages/ slot (Formats: InaImporter record JSONs)
    val issuesPath = s"${args.inputDir}/issues"
    val supportsPath = s"${args.inputDir}/pages"

    val (rebuilt: DataFrame, quarantined: Long) =
      if (args.medium == "audio") {
        val issues = selectBatches(
          RebuildJob.readAudioIssues(spark, issuesPath), batches)
        val records = selectBatches(
          RebuildJob.readRecords(spark, supportsPath), batches)
        val q = RebuildJob.quarantineAudio(issues, records)
        val nq = q.count()
        if (nq > 0)
          q.write.mode("overwrite").json(s"${args.outputDir}/quarantine")
        val df =
          if (args.format == "solr")
            RebuildJob.rebuildAudioSolr(spark, issues, records, ts,
              args.languages).toDF()
          else
            RebuildJob.rebuildAudioPassim(spark, issues, records,
              args.languages).toDF()
        (df, nq)
      } else {
        val issues = selectBatches(
          RebuildJob.readIssues(spark, issuesPath), batches)
        val pages = selectBatches(
          RebuildJob.readPages(spark, supportsPath), batches)
        val q = RebuildJob.quarantine(issues, pages)
        val nq = q.count()
        if (nq > 0)
          q.write.mode("overwrite").json(s"${args.outputDir}/quarantine")
        val df =
          if (args.format == "solr")
            RebuildJob.rebuildSolr(spark, issues, pages, ts,
              args.languages).toDF()
          else
            RebuildJob.rebuildPassim(spark, issues, pages,
              args.languages).toDF()
        (df, nq)
      }

    val out = s"${args.outputDir}/${args.format}"
    RebuildJob.writeJsonl(rebuilt, out)

    // manifest stats over what was just written (rebuilder.py:46
    // compute_stats_in_rebuilt_bag → manifest.add_by_title_year); read
    // back rather than recompute so the fold runs once. An all-filtered
    // run leaves no JSON to infer a schema from — that's 0 docs, not an
    // error
    val written = scala.util.Try(spark.read.json(out)).toOption
      .filter(_.columns.contains("id"))
    args.statsDir.foreach { sd =>
      written.foreach { w =>
        val stats =
          if (args.format == "solr" && args.medium == "print")
            Stats.rebuiltStats(w)
          else w
            .groupBy(ImportJob.aliasOf(col("id")).as("alias"),
              ImportJob.yearOf(col("id")).cast("int").as("year"))
            .agg(count(lit(1)).as("n_cis"))
        stats.coalesce(1).write.mode("overwrite").json(sd)
      }
    }
    Summary(written.map(_.count()).getOrElse(0L), quarantined)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = SparkSession.builder()
      .appName(s"graft-rebuild-${args.format}")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    val s = run(spark, args)
    println(s"[rebuilder] format=${args.format} medium=${args.medium} " +
      s"rebuilt=${s.rebuilt} quarantined=${s.quarantined}")
  }
}

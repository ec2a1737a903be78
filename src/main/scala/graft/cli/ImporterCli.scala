package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.discover.Discover
import graft.jobs.ImportJob

/** CLI entry point for the import stage — the user surface of the
  * reference's per-format importer scripts
  * (generic_importer.py:162-200 docopt args: --input-dir,
  * --output-dir, --config-file, --incremental, ...).
  *
  * Usage:
  * {{{
  * graft.cli.ImporterCli --format=lux --input-dir=DIR --output-dir=DIR
  *   [--config-file=FILE]   selection config (Discover.parseConfig JSON)
  *   [--incremental]        skip issues already in the output, append new
  *   [--cdt=TS] [--ts=TS]   injected clocks (default: current UTC time)
  *   [--ark-file=TSV]       bnf_en ark lookup table
  * }}}
  *
  * Everything after arg parsing is the library path: Formats.detect →
  * config selection via [[Discover.select]]'s Column predicates →
  * incremental anti-filter against the existing output →
  * [[ImportJob.run]]/[[ImportJob.write]] (validated, partitioned,
  * quarantined). Exit code 0 even with quarantined issues (the
  * reference's contract: corrupt inputs are logged, never fatal).
  */
object ImporterCli {

  case class Args(
      format: String, inputDir: String, outputDir: String,
      configFile: Option[String] = None, incremental: Boolean = false,
      cdt: Option[String] = None, ts: Option[String] = None,
      opts: Map[String, String] = Map.empty)

  def parseArgs(argv: Array[String]): Args = {
    val kv = "--([a-z-]+)=(.*)".r
    val flag = "--([a-z-]+)".r
    val m = argv.collect {
      case kv(k, v) => k -> v
      case flag(k) => k -> "true"
    }.toMap
    def req(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing required --$k=..."))
    Args(
      format = req("format"),
      inputDir = req("input-dir"),
      outputDir = req("output-dir"),
      configFile = m.get("config-file"),
      incremental = m.contains("incremental"),
      cdt = m.get("cdt"), ts = m.get("ts"),
      opts = m -- Seq("format", "input-dir", "output-dir", "config-file",
        "incremental", "cdt", "ts"))
  }

  case class Summary(detected: Int, selected: Int, skipped: Int,
      imported: Long, quarantined: Long)

  def run(spark: SparkSession, args: Args): Summary = {
    graft.util.LocalFs.install(spark)
    import spark.implicits._
    // every importer's detect lists nothing under a missing directory:
    // without this check the run would succeed with empty sinks
    require(graft.util.FsWalk.isDir(args.inputDir),
      s"--input-dir is not a directory: ${args.inputDir}")
    val handles = Formats.detect(args.format, args.inputDir, args.opts)

    // config selection reuses Discover.select's Column predicates over
    // the (alias, date, edition) descriptor frame
    val selected = args.configFile.map { f =>
      val cfg = Discover.parseConfig(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f)), "UTF-8"))
      val df = handles.zipWithIndex
        .map { case (h, i) => (i, h.alias, java.sql.Date.valueOf(h.date)) }
        .toDF("idx", "alias", "date")
      val keep = Discover.select(df, cfg)
        .select("idx").collect().map(_.getInt(0)).toSet
      handles.zipWithIndex.collect { case (h, i) if keep(i) => h }
    }.getOrElse(handles)

    // incremental skip (generic_importer.py:240-249): left-anti join the
    // detected descriptors against the output's (alias, date, edition)
    // keys via Discover.incremental — the prior output is scanned on
    // executors, never materialized on the driver; only the surviving
    // descriptor indices (the new work, by definition small) come back
    val todo: Seq[Formats.IssueHandle] =
      if (!args.incremental) selected
      else scala.util.Try {
        val descr = selected.zipWithIndex
          .map { case (h, i) =>
            (i, h.alias, java.sql.Date.valueOf(h.date), h.edition) }
          .toDF("idx", "alias", "date", "edition")
        val done = spark.read.text(s"${args.outputDir}/issues")
          .select(get_json_object(col("value"), "$.id").as("id"))
          .select(
            ImportJob.aliasOf(col("id")).as("alias"),
            to_date(regexp_extract(col("id"), "-(\\d{4}-\\d{2}-\\d{2})-", 1))
              .as("date"),
            regexp_extract(col("id"), "-([^-]+)$", 1).as("edition"))
        val keep = Discover.incremental(descr, done)
          .select("idx").collect().map(_.getInt(0)).toSet
        selected.zipWithIndex.collect { case (h, i) if keep(i) => h }
      }.getOrElse(selected)
    val anySkipped = todo.size < selected.size

    val now = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
    val cdt = args.cdt.getOrElse(now)
    val ts = args.ts.getOrElse(now)

    val results = ImportJob.run[Formats.IssueHandle](spark, todo,
      _.issueId, h => h.parse(cdt, ts))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `run` yields one result per ref; the quarantined count rides the
    // write's first job (the `failed/` write, which fills its cache of
    // the validated documents) as an observed metric
    val quarantined = new org.apache.spark.sql.Observation()
    ImportJob.write(
      results.observe(quarantined, count(col("error")).as("n")),
      args.outputDir,
      writeMode = if (args.incremental && anySkipped) "append" else "overwrite")
    val nQuarantined = quarantined.get("n").asInstanceOf[Long]
    if (nQuarantined > 0)
      ImportJob.quarantine(results)
        .write.mode("append").json(s"${args.outputDir}/quarantine")
    val summary = Summary(handles.size, selected.size, selected.size - todo.size,
      todo.size - nQuarantined, nQuarantined)
    results.unpersist()
    summary
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = SparkSession.builder()
      .appName(s"graft-import-${args.format}")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    val s = run(spark, args)
    // stdout summary stands in for the reference's logger output
    println(s"[importer] format=${args.format} detected=${s.detected} " +
      s"selected=${s.selected} skipped=${s.skipped} " +
      s"imported=${s.imported} quarantined=${s.quarantined}")
  }
}

package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.parse.ParsedIssue

/** Generic distributed import: any format's (detect, parse) pair runs
  * as one Spark pipeline — the role of the reference's
  * `generic_importer.main(issue_class, detect_func, select_func)`
  * (generic_importer.py:162).
  *
  * Shape (SURVEY.md §3.1): detect is a cheap driver-side listing; the
  * refs ship to executors (broadcast of the descriptor list, an index
  * Dataset for partitioning) and each issue parses in a task. A corrupt
  * issue becomes a quarantine row, never a job failure (core.py:110-146
  * dir2issue's per-item try/except). Every format imports through
  * this one path: [[graft.cli.Formats.detect]] supplies the refs and
  * their parse, [[write]] and [[quarantine]] sink the results.
  */
object ImportJob {

  case class ImportResult(
      issueId: String,
      issueJson: Option[String],
      pages: Seq[(String, String)],
      error: Option[String])

  /** @param refs   driver-detected issue descriptors (any type).
    * @param idOf   canonical issue id of a descriptor (for quarantine).
    * @param parse  ref → its [[ParsedIssue]]; exceptions quarantine
    *               the single issue.
    */
  def run[R](spark: SparkSession, refs: Seq[R], idOf: R => String,
      parse: R => ParsedIssue): Dataset[ImportResult] = {
    import spark.implicits._
    val refsB = spark.sparkContext.broadcast(refs.toIndexedSeq)
    val parallelism = math.max(1, math.min(refs.size,
      spark.sparkContext.defaultParallelism))
    spark.createDataset(refs.indices.toList)
      .repartition(parallelism)
      .map { i =>
        val ref = refsB.value(i)
        try {
          val p = parse(ref)
          ImportResult(p.issueId, Some(p.issueJson), p.pageJsons, None)
        } catch {
          case e: Exception =>
            ImportResult(idOf(ref), None, Nil,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      }
  }

  def quarantine(results: Dataset[ImportResult]): DataFrame = {
    import results.sparkSession.implicits._
    results.flatMap(r => r.error.map(e => (r.issueId, e)))
      .toDF("issue_id", "error")
  }

  /** Write imported issues and pages as bz2 JSONL partitioned by
    * (alias, year) — S7/S8's partitioned-write replacement for the
    * reference's FileLock + append.
    *
    * Every document is schema-validated before it is written
    * ([[Validate]], the reference's write-time guard at
    * core.py:285-291/617-618): documents with violations are diverted
    * to a `failed/` quarantine sink (issue_id, doc_id, violations,
    * json) and excluded from the canonical outputs — the job never
    * dies on an invalid document, mirroring write_error + failed_log.
    *
    * @param writeMode "overwrite" (full re-import) or "append" (incremental
    *             run adds new part files). Overwrites are dynamic —
    *             only the (alias, year) partitions actually written are
    *             replaced, so re-importing one alias never wipes the
    *             others' output.
    *
    * `issues/_SUCCESS` and `pages/_SUCCESS` mark a complete store:
    * both are removed before the writes and created only once both
    * partitioned writes have committed (a dynamic overwrite commits
    * through a staging dir and leaves no marker of its own). */
  def write(results: Dataset[ImportResult], outPath: String,
      writeMode: String = "overwrite"): Unit = {
    import org.apache.spark.sql.functions._
    import results.sparkSession.implicits._
    val markers = Seq("issues", "pages").map(d =>
      new Path(s"$outPath/$d/_SUCCESS"))
    val fs = markers.head.getFileSystem(
      results.sparkSession.sparkContext.hadoopConfiguration)
    markers.foreach(fs.delete(_, false))
    // three write actions follow; without a persist each would re-run
    // the full XML parse of every issue (the dominant cost at scale) —
    // the same reuse point the reference persists its issue bag at
    // (core.py:402)
    val ok = results.filter(_.error.isEmpty)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // parse each document ONCE in its own projection and validate the
    // parsed struct: the constraint predicates reference the document
    // ~10 times, and `from_json` (CodegenFallback) re-parses per
    // reference when inlined — the validation stage was ~75% of the
    // pipeline's executor time before this split (guide §1.2/§4.1:
    // don't recompute what several expressions consume)
    val issues = ok.flatMap(r => r.issueJson.map(j => (r.issueId, j)))
      .toDF("issue_id", "json")
      .withColumn("parsed", Validate.parsedIssue(col("json")))
      .withColumn("violations", Validate.issueViolationsOf(col("parsed")))
      .drop("parsed")
    val pages = ok.flatMap(r => r.pages.map { case (pid, j) => (r.issueId, pid, j) })
      .toDF("issue_id", "doc_id", "json")
      .withColumn("parsed", Validate.parsedPage(col("json")))
      .withColumn("violations",
        Validate.pageViolationsOf(col("parsed"), col("issue_id")))
      .drop("parsed")
    def partitioned(df: DataFrame): DataFrame = df
      // aliases never contain '-' (the canonical id separator) but may
      // contain '_' (e.g. SwissInfo's SOC_CJ) — match up to the first '-'
      .withColumn("alias",
        regexp_extract(col("issue_id"), "^([^-]+)-", 1))
      .withColumn("year", regexp_extract(col("issue_id"), "-(\\d{4})-", 1))
      .repartition(col("alias"), col("year"))
      .select(col("json").as("value"), col("alias"), col("year"))
    // the failed write runs FIRST (its job computes the XML parse and
    // fills the persist); the issues and pages writes then read the
    // cache and are independent of each other — distinct sinks, no
    // shared shuffle — so they run CONCURRENTLY and one write's task
    // tail back-fills with the other's tasks (guide §2.6)
    try {
      issues.filter(size(col("violations")) > 0)
        .select(col("issue_id"), col("issue_id").as("doc_id"),
          col("violations"), col("json"))
        .unionByName(pages.filter(size(col("violations")) > 0)
          .select(col("issue_id"), col("doc_id"), col("violations"), col("json")))
        .write.mode(writeMode).json(s"$outPath/failed")
      graft.util.Par.all(
        () => partitioned(issues.filter(size(col("violations")) === 0)
          .select(col("issue_id"), col("json")))
          .write.mode(writeMode).partitionBy("alias", "year")
          .option("partitionOverwriteMode", "dynamic")
          .option("compression", "bzip2").text(s"$outPath/issues"),
        () => partitioned(pages.filter(size(col("violations")) === 0)
          .select(col("issue_id"), col("json")))
          .write.mode(writeMode).partitionBy("alias", "year")
          .option("partitionOverwriteMode", "dynamic")
          .option("compression", "bzip2").text(s"$outPath/pages"))
      markers.foreach(fs.create(_, true).close())
    } finally ok.unpersist()
  }
}

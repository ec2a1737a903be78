package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.parse.ParsedIssue

/** Generic distributed import: any format's (detect, parse) pair runs
  * as one Spark pipeline — the role of the reference's
  * `generic_importer.main(issue_class, detect_func, select_func)`
  * (generic_importer.py:162).
  *
  * Shape (SURVEY.md §3.1): detect is a cheap driver-side listing; the
  * refs ship to executors (a broadcast of the descriptor list, an
  * index RDD sliced over the cores) and each issue parses in a task.
  * [[write]] validates every document once and hash-partitions each
  * sink's documents by (alias, year) before it writes them. A corrupt
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

  /** The alias of a canonical id (`alias-YYYY-MM-DD-edition[-...]`).
    * Aliases never contain '-', the id separator, but may contain '_'
    * (e.g. SwissInfo's SOC_CJ): the alias runs up to the first '-'. */
  private[graft] def aliasOf(id: Column): Column =
    regexp_extract(id, "^([^-]+)-", 1)

  /** The year of a canonical id, as a string ("" if it has none). */
  private[graft] def yearOf(id: Column): Column =
    regexp_extract(id, "-(\\d{4})-", 1)

  /** `df` with the (alias, year) of its canonical id column `id`,
    * hash-partitioned on them into the session's shuffle-partition
    * count: a partitioned write of the result gets exactly one file per
    * (alias, year), written by that many tasks. The count is explicit
    * because AQE coalesces a column-only repartition of a small frame
    * into ONE partition, which leaves a single task compressing every
    * bz2 file in turn; it never coalesces an explicit count. */
  private[graft] def byAliasYear(df: DataFrame, id: Column): DataFrame =
    df.withColumn("alias", aliasOf(id)).withColumn("year", yearOf(id))
      .repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("alias"), col("year"))

  /** @param refs   driver-detected issue descriptors (any type).
    * @param idOf   canonical issue id of a descriptor (for quarantine).
    * @param parse  ref → its [[ParsedIssue]]; exceptions quarantine
    *               the single issue.
    * @return one result per ref, parsed in
    *         min(#refs, defaultParallelism) tasks.
    */
  def run[R](spark: SparkSession, refs: Seq[R], idOf: R => String,
      parse: R => ParsedIssue): Dataset[ImportResult] = {
    import spark.implicits._
    val refsB = spark.sparkContext.broadcast(refs.toIndexedSeq)
    val parallelism = math.max(1, math.min(refs.size,
      spark.sparkContext.defaultParallelism))
    spark.createDataset(
        spark.sparkContext.parallelize(refs.indices, parallelism))
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
    * The parse and the validation run once, in `results`' own
    * partitions (min(#refs, defaultParallelism) from [[run]]), and the
    * validated documents are cached. `failed/` is written straight
    * from that cache; `issues/` and `pages/` are each a filter of it,
    * shuffled by [[byAliasYear]], so each gets one file per
    * (alias, year), written by `spark.sql.shuffle.partitions` tasks.
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
    import results.sparkSession.implicits._
    val markers = Seq("issues", "pages").map(d =>
      new Path(s"$outPath/$d/_SUCCESS"))
    val fs = markers.head.getFileSystem(
      results.sparkSession.sparkContext.hadoopConfiguration)
    markers.foreach(fs.delete(_, false))
    // one frame of every document with its violations. Each document's
    // `from_json` is its own projection, referenced by the ~10
    // constraint predicates: inlined, `from_json` (CodegenFallback)
    // would re-parse per reference (guide §1.2/§4.1). The frame is
    // persisted: three writes read it, and without the cache each
    // would re-run the validation and (unless `results` is cached) the
    // parse — the same reuse point the reference persists its issue
    // bag at (core.py:402)
    val docs = results.flatMap { r =>
        r.issueJson.map(j => (r.issueId, r.issueId, true, j)).toSeq ++
          r.pages.map { case (pid, j) => (r.issueId, pid, false, j) }
      }.toDF("issue_id", "doc_id", "is_issue", "json")
      .withColumn("issue",
        when(col("is_issue"), Validate.parsedIssue(col("json"))))
      .withColumn("page",
        when(!col("is_issue"), Validate.parsedPage(col("json"))))
      .select(col("issue_id"), col("doc_id"), col("is_issue"), col("json"),
        when(col("is_issue"), Validate.issueViolationsOf(col("issue")))
          .otherwise(Validate.pageViolationsOf(col("page"), col("issue_id")))
          .as("violations"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def sink(dir: String, isIssue: Boolean): () => Unit = () =>
      byAliasYear(docs.filter(col("is_issue") === isIssue &&
          size(col("violations")) === 0), col("issue_id"))
        .select(col("json").as("value"), col("alias"), col("year"))
        .write.mode(writeMode).partitionBy("alias", "year")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "bzip2").text(s"$outPath/$dir")
    // the failed write runs first and fills the cache; the issues and
    // pages writes then read it and are independent of each other, so
    // they run concurrently and one write's task tail back-fills with
    // the other's tasks (guide §2.6)
    try {
      docs.filter(size(col("violations")) > 0)
        .select(col("issue_id"), col("doc_id"), col("violations"), col("json"))
        .write.mode(writeMode).json(s"$outPath/failed")
      graft.util.Par.all(sink("issues", isIssue = true),
        sink("pages", isIssue = false))
      markers.foreach(fs.create(_, true).close())
    } finally docs.unpersist()
  }
}

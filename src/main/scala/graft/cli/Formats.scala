package graft.cli

import graft.parse._

/** Uniform handle over every importer's (detect, parse) pair — the
  * registry behind [[ImporterCli]], playing the role of the
  * reference's per-format CLI scripts that all funnel into
  * `generic_importer.main(issue_class, detect_func, select_func)`
  * (generic_importer.py:162-200; script list in setup.py).
  *
  * A handle closes over its format-typed ref and exposes the canonical
  * (alias, date, edition) triple for config selection plus a
  * `(cdt, ts) => ParsedIssue` thunk; handles are broadcast to executors
  * by [[graft.jobs.ImportJob.run]], so the closures must stay
  * serializable (they capture only the ref case class and the
  * importer's `parseIssue`).
  */
object Formats {

  final case class IssueHandle(
      alias: String, date: String, edition: String,
      parse: (String, String) => ParsedIssue) extends IssueKey

  /** Formats whose inputs are a plain directory walk. */
  val names: Seq[String] = Seq("lux", "olive", "rero", "swa", "bnf",
    "bnf_en", "bcul", "bl", "tetml", "fedgaz", "ina", "swissinfo",
    "onb", "kb")

  /** Detect all issues of `format` under `inputDir`.
    *
    * @param opts format-specific extras: `ark-file` (bnf_en) points to a
    *             two-column TSV `issueId<TAB>ark` replacing the
    *             reference's live Gallica API lookup (SURVEY §7.4).
    */
  def detect(format: String, inputDir: String,
      opts: Map[String, String] = Map.empty): Seq[IssueHandle] =
    format match {
      case "lux" => handles(LuxImporter.detectIssues(inputDir))(
        LuxImporter.parseIssue)
      case "olive" => handles(OliveImporter.detectIssues(inputDir))(
        OliveImporter.parseIssue(_, _, _))
      case "rero" => handles(ReroImporter.detectIssues(inputDir))(
        ReroImporter.parseIssue)
      case "swa" => handles(SwaImporter.detectIssues(inputDir))(
        SwaImporter.parseIssue)
      case "bnf" => handles(BnfImporter.detectIssues(inputDir))(
        BnfImporter.parseIssue)
      case "bnf_en" =>
        val arks = opts.get("ark-file").map { f =>
          new String(graft.util.FsWalk.readBytes(f), "utf-8")
            .split("\r?\n").iterator
            .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
        }.getOrElse(Map.empty[String, String])
        handles(BnfEnImporter.detectIssues(inputDir, arks))(
          BnfEnImporter.parseIssue)
      case "bcul" => handles(BculImporter.detectIssues(inputDir))(
        BculImporter.parseIssue(_, _, _))
      case "bl" => handles(BlImporter.detectIssues(inputDir))(
        BlImporter.parseIssue)
      case "tetml" => handles(TetmlImporter.detectIssues(inputDir))(
        TetmlImporter.parseIssue)
      case "fedgaz" => handles(FedgazImporter.detectIssues(inputDir))(
        FedgazImporter.parseIssue)
      case "ina" => handles(InaImporter.detectIssues(inputDir))(
        (r, _, t) => InaImporter.parseIssue(r, t))
      case "swissinfo" => handles(SwissInfoImporter.detectIssues(inputDir))(
        (r, _, t) => SwissInfoImporter.parseIssue(r, t))
      case "onb" => handles(OnbImporter.detectIssues(inputDir))(
        OnbImporter.parseIssue)
      case "kb" => handles(KbImporter.detectIssues(inputDir))(
        KbImporter.parseIssue)
      case other => throw new IllegalArgumentException(
        s"unknown format '$other' (expected one of ${names.mkString(", ")})")
    }

  /** One handle per ref; `parse(ref, cdt, ts)` is the format's
    * `parseIssue`. */
  private def handles[R <: IssueKey](refs: Seq[R])(
      parse: (R, String, String) => ParsedIssue): Seq[IssueHandle] =
    refs.map(r => IssueHandle(r.alias, r.date, r.edition,
      (cdt, ts) => parse(r, cdt, ts)))
}

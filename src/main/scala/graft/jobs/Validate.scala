package graft.jobs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write-time validation of serialized canonical documents — the role
  * of the reference's JSON-schema check before every issue/page write
  * (text_preparation/utils.py:71-89 validate_issue_schema /
  * validate_page_schema, called at importers/core.py:285-291 and
  * :617-618; failures land in the failed log via write_error, they
  * never kill the job).
  *
  * The impresso-schemas submodule is empty in this checkout, so the
  * exact JSON-schema files are unavailable; this validates the same
  * invariants the schemas encode — required fields, canonical id
  * formats, pp/rr page-reference consistency, 4-int coordinate boxes —
  * as pure constraint Column expressions over `from_json` of the
  * declared schemas. Everything is codegen-able column logic: one parse
  * + a fixed set of predicates per document, no UDFs, linear in
  * document size, so the check adds no shuffle and scales with the
  * write itself.
  */
object Validate {

  /** Canonical ids: alias (no '-') + ISO date + edition letter, with a
    * `-iNNNN` / `-pNNNN` / `-rNNNN` suffix for CIs / pages / records. */
  val IssueIdRe = "^[A-Za-z0-9_]+-\\d{4}-\\d{2}-\\d{2}-[a-z]$"
  val CiIdRe = "^[A-Za-z0-9_]+-\\d{4}-\\d{2}-\\d{2}-[a-z]-i\\d{4}$"
  val PageIdRe = "^[A-Za-z0-9_]+-\\d{4}-\\d{2}-\\d{2}-[a-z]-[pr]\\d{4}$"

  /** Fields the issue constraints inspect (a subset of the canonical
    * issue document; unknown keys are ignored, like JSON-schema's
    * additionalProperties). */
  private val issueValSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("cdt", StringType),
    StructField("pp", ArrayType(StringType)),
    StructField("rr", ArrayType(StringType)),
    StructField("i", ArrayType(StructType(Seq(
      StructField("m", StructType(Seq(
        StructField("id", StringType),
        StructField("tp", StringType),
        StructField("pp", ArrayType(IntegerType)),
        StructField("rr", ArrayType(IntegerType)))))))))))

  /** Page/record fields the constraints inspect: id plus the nested
    * region→paragraph→line→token coordinate tree. Deliberately
    * NARROWER than the rebuild's full pageSchema (token text and
    * style fields are dropped): `from_json` still tokenizes the whole
    * document but materializes only schema fields, and the validation
    * parse was the import pipeline's hottest expression.
    *
    * Divergence from the reference: a type error in a dropped token
    * field (say a string-valued style id `s`, or a non-boolean `hy`)
    * is NOT flagged, since `from_json` never materializes that field.
    * Such a page passes as valid and is written to the canonical
    * output, where the reference's full-schema check would send it to
    * the failed log. */
  private val pageValSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("r", ArrayType(StructType(Seq(
      StructField("c", ArrayType(IntegerType)),
      StructField("pOf", StringType),
      StructField("p", ArrayType(StructType(Seq(
        StructField("l", ArrayType(StructType(Seq(
          StructField("t", ArrayType(StructType(Seq(
            StructField("c", ArrayType(IntegerType))))))))))))))))))))

  private def violationArray(checks: Seq[Column]): Column =
    filter(array(checks: _*), v => v.isNotNull)

  /** `from_json` parse of an issue document against the validation
    * schema. Compute this ONCE in its own projection and feed the
    * result to [[issueViolationsOf]]: `from_json` is a CodegenFallback
    * expression, so the ~10 constraint predicates referencing it
    * directly would each re-parse the document per row (measured on
    * i1: the validation stage was ~75% of the pipeline's executor
    * time). A multiply-referenced non-cheap alias also survives
    * CollapseProject, so the single parse is stable in the plan. */
  def parsedIssue(json: Column): Column = from_json(json, issueValSchema)

  /** [[parsedIssue]] for page/record documents. */
  def parsedPage(json: Column): Column = from_json(json, pageValSchema)

  /** Violations of the canonical-issue invariants for a serialized
    * issue JSON column. Empty array = valid. */
  def issueViolations(json: Column): Column =
    issueViolationsOf(parsedIssue(json))

  /** [[issueViolations]] over an already-parsed document (one
    * `from_json` per row instead of one per constraint). */
  def issueViolationsOf(p: Column): Column = {
    // support id of a CI's n-th page/record ref within this issue
    def refId(kind: String, n: Column): Column =
      concat(p("id"), lit(s"-$kind"), lpad(n.cast("string"), 4, "0"))
    violationArray(Seq(
      when(p.isNull, lit("malformed_json")),
      when(p.isNotNull && p("id").isNull, lit("missing_id")),
      when(p("id").isNotNull && !p("id").rlike(IssueIdRe), lit("bad_issue_id")),
      when(p.isNotNull && p("cdt").isNull, lit("missing_cdt")),
      when(p.isNotNull && p("i").isNull, lit("missing_content_items")),
      when(exists(p("i"), ci => ci("m").isNull || ci("m")("id").isNull),
        lit("ci_missing_id")),
      when(exists(p("i"), ci => ci("m")("id").isNotNull &&
        !ci("m")("id").rlike(CiIdRe)), lit("bad_ci_id")),
      when(p("id").isNotNull && exists(p("i"), ci =>
        ci("m")("id").isNotNull && !ci("m")("id").startsWith(p("id"))),
        lit("ci_id_not_of_issue")),
      when(exists(p("i"), ci => ci("m")("tp").isNull), lit("ci_missing_tp")),
      // every CI page/record number must resolve to the issue's pp/rr
      // list (the reference's cross-reference the schemas encode via
      // the pages list; helpers join on exactly these refs)
      when(p("pp").isNotNull && exists(p("i"), ci =>
        exists(ci("m")("pp"), n =>
          !array_contains(p("pp"), refId("p", n)))),
        lit("ci_pp_not_in_issue")),
      when(p("rr").isNotNull && exists(p("i"), ci =>
        exists(ci("m")("rr"), n =>
          !array_contains(p("rr"), refId("r", n)))),
        lit("ci_rr_not_in_issue"))))
  }

  /** Violations of the canonical page/record invariants. `issueId` is
    * the id of the issue the page was written under (prefix check). */
  def pageViolations(json: Column, issueId: Column): Column =
    pageViolationsOf(parsedPage(json), issueId)

  /** [[pageViolations]] over an already-parsed document. */
  def pageViolationsOf(p: Column, issueId: Column): Column = {
    def badBox(c: Column): Column = c.isNotNull && size(c) =!= 4
    violationArray(Seq(
      when(p.isNull, lit("malformed_json")),
      when(p.isNotNull && p("id").isNull, lit("missing_id")),
      when(p("id").isNotNull && !p("id").rlike(PageIdRe), lit("bad_page_id")),
      when(p("id").isNotNull && issueId.isNotNull &&
        !p("id").startsWith(concat(issueId, lit("-"))),
        lit("page_not_of_issue")),
      when(exists(p("r"), r => r("pOf").isNotNull && !r("pOf").rlike(CiIdRe)),
        lit("bad_region_pOf")),
      when(exists(p("r"), r => badBox(r("c"))), lit("bad_region_coords")),
      when(exists(p("r"), r => exists(r("p"), pr => exists(pr("l"), l =>
        exists(l("t"), t => badBox(t("c")))))), lit("bad_token_coords"))))
  }
}

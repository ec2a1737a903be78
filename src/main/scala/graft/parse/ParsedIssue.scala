package graft.parse

/** The canonical (alias, date, edition) triple of one issue, and the
  * issue id it names. Every format's detect descriptor (`IssueRef`)
  * and [[graft.cli.Formats.IssueHandle]] carry it. */
trait IssueKey {
  def alias: String
  def date: String
  def edition: String
  def issueId: String = s"$alias-$date-$edition"
}

/** One parsed issue: its canonical issue JSON and `(id, json)` of each
  * page — or, for the radio formats (INA), of each audio record.
  * Every importer's `parseIssue` returns this. */
final case class ParsedIssue(issueId: String, issueJson: String,
    pageJsons: Seq[(String, String)])

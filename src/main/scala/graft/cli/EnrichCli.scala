package graft.cli

import org.apache.spark.sql.SparkSession

import graft.enrich.{Enrich, GallicaArks, ScriptoriumCanvases}

/** CLI entry point for the offline enrichment fetch stage — the
  * runnable-job form of the reference's in-line API calls
  * (bnf_en/detect.py:162-263 construct_iiif_arks,
  * bcul/classes.py:204-271 query_iiif_api). Run ONCE before an
  * import; the importers then consume the written parquet with zero
  * network.
  *
  * Usage:
  * {{{
  * # BNF-EN issue arks from the Gallica Issues service:
  * graft.cli.EnrichCli --job=gallica-arks --out=DIR \
  *   --journals=oerennes:ark:/12148/cb32830550k[,alias:ark...]
  *
  * # BCUL per-page IIIF bases from Scriptorium presentation manifests;
  * # the manifest list file holds one `issueId<TAB>manifestUrl` per line:
  * graft.cli.EnrichCli --job=scriptorium-canvases --out=DIR \
  *   --manifest-file=FILE
  *
  * # both jobs: [--retries=N] (total attempts, default 3 — the
  * # reference's paced 3-try contract, bcul/classes.py:204-244)
  * }}}
  *
  * The import side picks the tables up via
  * `GallicaArks.loadArkTable(spark, DIR)` (→ ImporterCli --ark-file /
  * BnfEnImporter.detectIssues) and
  * `ScriptoriumCanvases.tableCanvasProvider(spark, DIR)` (→
  * BculImporter.parseIssue). Specs exercise both jobs against mocked
  * endpoints (EnrichFetchersSpec); this main only wires the real
  * [[Enrich.httpClient]] transport.
  */
object EnrichCli {

  def main(argv: Array[String]): Unit = {
    val kv = "--([a-z-]+)=(.*)".r
    val m = argv.collect { case kv(k, v) => k -> v }.toMap
    def req(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing required --$k=..."))
    val retries = m.get("retries").map(_.toInt).getOrElse(3)
    val http = Enrich.withRetries(Enrich.httpClient(), retries)

    val spark = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.util.LocalFs.install(spark)
    spark.sparkContext.setLogLevel("WARN")

    req("job") match {
      case "gallica-arks" =>
        val journals = req("journals").split(",").map { j =>
          val Array(alias, ark) = j.split(":", 2)
          alias -> ark
        }.toMap
        val df = GallicaArks.buildArkTable(spark, http, journals, req("out"))
        println(s"gallica-arks: ${df.count()} issue arks -> ${req("out")}")
      case "scriptorium-canvases" =>
        val manifests = scala.io.Source.fromFile(req("manifest-file"))
          .getLines().filter(_.nonEmpty).map { line =>
            val Array(id, url) = line.split("\t", 2)
            id -> url
          }.toSeq
        val df = ScriptoriumCanvases.buildCanvasTable(
          spark, http, manifests, req("out"))
        println(s"scriptorium-canvases: ${df.count()} page canvases -> " +
          req("out"))
      case other =>
        throw new IllegalArgumentException(s"unknown --job=$other " +
          "(gallica-arks | scriptorium-canvases)")
    }
    spark.stop()
  }
}

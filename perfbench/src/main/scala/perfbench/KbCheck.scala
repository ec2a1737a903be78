package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Output checks for the import and rebuild workloads, against what
  * the generator wrote (never against values captured from a run). */
object KbCheck {

  private def partitionCounts(spark: SparkSession,
      path: String): Map[(String, Int), Long] =
    if (!new java.io.File(path).exists) Map.empty
    else spark.read.text(path).groupBy(col("alias"), col("year")).count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap

  private def lines(spark: SparkSession, path: String): Long =
    if (!new java.io.File(path).exists) 0L
    else spark.read.text(path).count()

  def imported(spark: SparkSession, out: String, exp: KbGen.Expected,
      seed: Long, tokensSchema: StructType): Long = {
    val planted = exp.corrupt
    val quarantined: Set[String] =
      if (!new java.io.File(s"$out/quarantine").exists) Set.empty
      else spark.read.json(s"$out/quarantine").select("issue_id").collect()
        .map(_.getString(0)).toSet
    val written: Set[String] = spark.read.text(s"$out/issues")
      .select(get_json_object(col("value"), "$.id")).collect()
      .map(_.getString(0)).toSet
    val good = exp.issuePages.keySet -- planted
    val wrongIssues = (quarantined -- planted) ++ (planted -- quarantined) ++
      (written & planted) ++ (good -- written)
    val byPartition = partitionCounts(spark, s"$out/pages")
    val partitionMiss = (byPartition.keySet ++ exp.pagesByPartition.keySet)
      .toSeq.map { k =>
        (byPartition.getOrElse(k, 0L) - exp.pagesByPartition.getOrElse(k, 0))
          .abs
      }.sum
    val issueMiss = partitionCounts(spark, s"$out/issues").toSeq.map {
      case (k, n) => (n - exp.issuesByPartition.getOrElse(k, 0)).abs
    }.sum
    val failedDocs = lines(spark, s"$out/failed")
    // round trip: a seeded sample of pages keeps its tokens in order
    val sample = new scala.util.Random(seed ^ 0x5eed).shuffle(
      exp.pageTokens.keys.toSeq.sorted).take(32).toSet
    val back: Map[String, Seq[String]] = spark.read.schema(tokensSchema)
      .json(s"$out/pages").filter(col("id").isin(sample.toSeq: _*))
      .collect().map { r =>
        r.getString(0) -> tokensOf(r)
      }.toMap
    val roundTripMiss = sample.count(id =>
      !back.get(id).exists(_ == exp.pageTokens(id).toSeq))
    val wrongPages = wrongIssues.toSeq
      .map(exp.issuePages.getOrElse(_, 1).toLong).sum
    wrongPages + partitionMiss + issueMiss + failedDocs + roundTripMiss
  }

  private def tokensOf(page: Row): Seq[String] =
    Option(page.getSeq[Row](1)).getOrElse(Nil).flatMap { region =>
      Option(region.getSeq[Row](0)).getOrElse(Nil).flatMap { para =>
        Option(para.getSeq[Row](0)).getOrElse(Nil).flatMap { line =>
          Option(line.getSeq[Row](0)).getOrElse(Nil).map(_.getString(0))
        }
      }
    }

  /** Counted in content items: CIs missing, extra or with a token
    * digest other than the generator's, and the CIs of every (alias,
    * year) whose stats row disagrees. */
  def rebuilt(spark: SparkSession, solr: String, stats: Seq[Row],
      exp: KbGen.Expected): Long = {
    val expDigest = exp.ciTokens.view.mapValues(t =>
      Workload.md5(t.mkString(" "))).toMap
    val got: Map[String, String] = spark.read.json(solr)
      .select(col("id"), col("ft")).collect()
      .map(r => r.getString(0) -> Workload.md5(
        Option(r.getString(1)).getOrElse("").trim.split("\\s+")
          .filter(_.nonEmpty).mkString(" ")))
      .toMap
    val ciMiss = (got.keySet ++ expDigest.keySet)
      .count(id => got.get(id) != expDigest.get(id)).toLong
    // stats rows per (alias, year): CI and whitespace-token totals
    val expStats = exp.ciTokens.toSeq.groupBy { case (id, _) =>
      (id.takeWhile(_ != '-'), id.split("-")(1).toInt)
    }.view.mapValues(cis => (cis.size.toLong, cis.map(_._2.length.toLong).sum))
      .toMap
    val gotStats = stats.map { r =>
      def field(f: String): String = r.getAs[Any](f).toString
      (field("alias"), field("year").toInt) ->
        (field("n_cis").toLong, field("n_tokens").toLong)
    }.toMap
    val statsMiss = (gotStats.keySet ++ expStats.keySet).toSeq
      .filter(k => gotStats.get(k) != expStats.get(k))
      .map(k => expStats.get(k).map(_._1).getOrElse(1L)).sum
    ciMiss + statsMiss
  }
}

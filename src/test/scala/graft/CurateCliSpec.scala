package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.cli.CurateCli

/** `CurateCli.run`'s [[CurateCli.Summary]] and storage accounting on
  * small written corpora whose every verdict is derived by hand. Each
  * run is time-limited: a Summary count read from an observed metric
  * whose action never ran would block forever. */
class CurateCliSpec extends AnyFunSuite with TimeLimits {
  import SparkTestSession._

  implicit val signaler: Signaler = ThreadSignaler

  /** `n` distinct vowel-free words, unique to `doc`: no syllables (so
    * Flesch stays positive), no repeats (entropy log2(n) bits), and no
    * 24-char run shared with another document's words. */
  private def words(doc: Int, n: Int): String =
    (1 to n).map(i => s"w${doc}q$i").mkString(" ")

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = Files.createTempDirectory("curate-in").toString
    spark.createDataFrame(rows).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(in: String, flags: String*): (CurateCli.Summary, String) = {
    val out = Files.createTempDirectory("curate-out").toString
    val s = failAfter(180.seconds) {
      CurateCli.run(spark, CurateCli.parseArgs(Array(
        s"--input-dir=$in", s"--output-dir=$out", "--shards=2") ++ flags))
    }
    (s, out)
  }

  test("Summary: every field on a corpus each default stage drops from") {
    val in = corpus(Seq(
      1L -> words(1, 25),
      2L -> words(2, 25),
      3L -> words(3, 25),
      4L -> words(4, 25),
      5L -> words(5, 25),
      6L -> words(6, 25),
      7L -> words(7, 5), // 5 words < 20: short
      8L -> words(1, 25), // doc 1's text: exact duplicate, 1 survives
      // doc 2's text and 5 more words: one near-dup cluster {2, 9},
      // the longer member 9 survives
      9L -> (words(2, 25) + " " + words(9, 5)),
      10L -> Seq.fill(30)("w10q1").mkString(" "))) // 1 type / 30: repetitive
    // the eval corpus quotes doc 3's first six words: 4 shared 3-word
    // shingles, over --max-overlap 2
    val evalDir = corpus(Seq(100L -> words(3, 6)))
    val (s, out) = run(in, s"--eval-dir=$evalDir")

    val curated = spark.read.parquet(s"$out/curated")
    val bySplit = curated.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s == CurateCli.Summary(
      input = 10L, lowQuality = 2L, exactDups = 1L, nearDups = 1L,
      semanticDups = 0L, contaminated = 1L, curated = 5L,
      splits = bySplit, distillWeights = None, dsirDropped = 0L,
      strippedEmpty = 0L, gopherDropped = 0L, pplTailDropped = 0L,
      langDropped = 0L), s.toString)
    assert(bySplit.values.sum == 5L && bySplit.values.forall(_ > 0L))
    assert(curated.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 4L, 5L, 6L, 9L))
    val dropped = spark.read.parquet(s"$out/dropped").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(dropped == Map(
      7L -> ("quality", "short"),
      10L -> ("quality", "repetitive"),
      8L -> ("exact_dup", "duplicate_text"),
      2L -> ("near_dup", "duplicate_span"),
      3L -> ("decontaminate", "eval_overlap")))
  }

  test("Summary: a corpus where every document is dropped") {
    val in = corpus((1 to 3).map(d => d.toLong -> words(d, 5)))
    val (s, out) = run(in)
    assert(s == CurateCli.Summary(
      input = 3L, lowQuality = 3L, exactDups = 0L, nearDups = 0L,
      semanticDups = 0L, contaminated = 0L, curated = 0L,
      splits = Map.empty), s.toString)
    assert(spark.read.parquet(s"$out/dropped").count() == 3L)
  }

  test("run releases every checkpoint it made") {
    val sc = spark.sparkContext
    val evalDir = Files.createTempDirectory("curate-eval").toString
    graft.util.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0)
      .write.parquet(s"$evalDir/documents.parquet")
    val before = sc.getPersistentRDDs.keySet
    run(sf, s"--eval-dir=$evalDir")
    assert(sc.getPersistentRDDs.keySet == before, "default stages")
    run(sf, "--ppl-cut")
    assert(sc.getPersistentRDDs.keySet == before, "--ppl-cut")
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cli.{CurateCli, ImporterCli}

/** One benchmark workload: inputs generated from the seed, one call of
  * a user entry point, and a check of everything that call wrote. */
trait Workload {
  /** Generates the inputs under `dir`; timed inside `setup_s`. */
  def generate(spark: SparkSession, dir: String): Unit
  /** The measured call: one `...Cli.run`, output under `out`. */
  def run(spark: SparkSession, out: String): Unit
  /** Wrong outcomes in `out`, in units of [[attempted]]. */
  def check(spark: SparkSession, out: String): Long
  /** Items one call attempts, and the items it delivers when correct. */
  def attempted: Long
  def items: Long
  /** Generated input: named parts and their bytes. */
  def inputs: Seq[(String, Long)]
}

object Workload {
  /** The KB tree: 3 aliases × 12 years × 2 issues (72 issues, 230
    * pages); page counts mostly 1–4 with an 8–32-page tail; 3 blocks ×
    * 6 lines × 10 tokens per page; 3 truncated issues. */
  val kbSpec: KbGen.Spec = KbGen.Spec(aliases = 3, years = 12,
    issuesPerYear = 2,
    pageCounts = Seq.fill(20)(1) ++ Seq.fill(24)(2) ++ Seq.fill(14)(3) ++
      Seq.fill(8)(4) ++ Seq.fill(3)(8) ++ Seq.fill(2)(16) ++ Seq(32),
    blocksPerPage = 3, linesPerBlock = 6, tokensPerLine = 10, corrupt = 3)

  val docsSpec: DocsGen.Spec = DocsGen.Spec(docs = 2000, exactDup = 100,
    nearDup = 100, contaminated = 60, short = 60, repetitive = 40)

  def apply(name: String, seed: Long, oracle: Seq[String]): Workload =
    name match {
      case "import_kb" => new ImportKb(seed)
      case "curate" => new Curate(seed, oracle)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (import_kb, curate)")
    }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
}

/** `ImporterCli.run --format=kb` over a generated KB tree. */
final class ImportKb(seed: Long) extends Workload {
  var kbDir = ""
  var expected: KbGen.Expected = _

  def generate(spark: SparkSession, dir: String): Unit = {
    kbDir = s"$dir/kb"
    expected = KbGen.write(Paths.get(kbDir), seed, Workload.kbSpec)
  }

  def run(spark: SparkSession, out: String): Unit =
    ImporterCli.run(spark, ImporterCli.parseArgs(Array("--format=kb",
      s"--input-dir=$kbDir", s"--output-dir=$out")))

  def attempted: Long = expected.sourcePages
  def items: Long = expected.goodPages
  def inputs: Seq[(String, Long)] = Seq("kb_tree_bytes" -> expected.sourceBytes)

  val tokensSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("r", ArrayType(StructType(Seq(
      StructField("p", ArrayType(StructType(Seq(
        StructField("l", ArrayType(StructType(Seq(
          StructField("t", ArrayType(StructType(Seq(
            StructField("tx", StringType)))))))))))))))))))

  /** Counted in source pages: the pages of an issue wrongly quarantined
    * or wrongly written, pages missing from or extra in an (alias,
    * year) partition, documents diverted to `failed/`, and sampled
    * pages whose tokens did not round-trip. */
  def check(spark: SparkSession, out: String): Long = KbCheck.imported(spark,
    out, expected, seed, tokensSchema)
}

/** `CurateCli.run` (default stages, `--eval-dir`) over a generated
  * corpus, checked row by row against the `c1_curate_pipeline` oracle
  * SQL run by DuckDB over the same corpus. */
final class Curate(seed: Long, oracle: Seq[String]) extends Workload {
  var docsDir = ""
  var evalDir = ""
  var bytes = 0L
  /** doc_id → "stage\treason\tsplit", from the oracle. */
  var expected: Map[Long, String] = Map.empty

  def generate(spark: SparkSession, dir: String): Unit = {
    docsDir = s"$dir/docs"
    evalDir = s"$dir/eval"
    bytes = DocsGen.write(spark, DocsGen.generate(seed, Workload.docsSpec),
      docsDir, evalDir)
  }

  /** Runs the oracle over the generated corpus (not part of set-up). */
  def loadOracle(work: String): Unit = {
    val sqlFile = Paths.get(s"$work/c1.sql")
    Files.write(sqlFile,
      graft.SparkEntry.oracleSql("c1_curate_pipeline").getBytes(UTF_8))
    val rows = Paths.get(s"$work/c1_expected.tsv")
    val p = new ProcessBuilder((oracle ++ Seq(s"$docsDir/documents.parquet",
      sqlFile.toString, rows.toString)): _*).inheritIO().start()
    val rc = p.waitFor()
    require(rc == 0, s"DuckDB oracle exited with $rc")
    expected = Files.readAllLines(rows, UTF_8).toArray(Array[String]())
      .map { l => val i = l.indexOf('\t'); l.take(i).toLong -> l.drop(i + 1) }
      .toMap
  }

  def run(spark: SparkSession, out: String): Unit =
    CurateCli.run(spark, CurateCli.parseArgs(Array(s"--input-dir=$docsDir",
      s"--output-dir=$out", s"--eval-dir=$evalDir")))

  def attempted: Long = Workload.docsSpec.docs.toLong
  def items: Long = Workload.docsSpec.docs.toLong
  def inputs: Seq[(String, Long)] = Seq("documents_bytes" -> bytes)

  /** Counted in documents: every doc_id whose output row (curated with
    * its split, or dropped with stage and reason) differs from the
    * oracle's, is missing, or is not unique. */
  def check(spark: SparkSession, out: String): Long = {
    val curated = spark.read.parquet(s"$out/curated")
      .select(col("doc_id"), concat_ws("\t", lit("curated"), lit(""),
        col("split")).as("row"))
    val dropped = spark.read.parquet(s"$out/dropped")
      .select(col("doc_id"), concat_ws("\t", col("stage"), col("reason"),
        lit("")).as("row"))
    val got = curated.unionByName(dropped).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byId = got.groupBy(_._1)
    val ids = byId.keySet ++ expected.keySet
    ids.count { id =>
      byId.get(id) match {
        case Some(Array((_, row))) => !expected.get(id).contains(row)
        case _ => true
      }
    }.toLong
  }
}

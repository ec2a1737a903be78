package perfbench

import org.apache.spark.sql.SparkSession

/** Seeded `documents` corpus for the curation workload, with the
  * schema of the `documents` test table (doc_id, text, lang, source,
  * n_chars).
  *
  * Fixed counts of planted cases, placed by the seed: exact copies of
  * other documents, near-duplicates (a copy with two words replaced),
  * documents carrying an 8-word run of an eval document (the eval
  * subset is `doc_id % 10 = 0`, as in the `c1_curate_pipeline` oracle
  * row), short documents and repetitive ones. The rest are ~50-word,
  * ~300-character documents with sentence punctuation.
  */
object DocsGen {

  final case class Spec(docs: Int, exactDup: Int, nearDup: Int,
      contaminated: Int, short: Int, repetitive: Int)

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  def generate(seed: Long, spec: Spec): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val copies = spec.exactDup + spec.nearDup + spec.contaminated
    val kinds = rnd.shuffle(
      Seq.fill(spec.exactDup)("exact") ++ Seq.fill(spec.nearDup)("near") ++
        Seq.fill(spec.contaminated)("contam") ++
        Seq.fill(spec.short)("short") ++
        Seq.fill(spec.repetitive)("rep") ++
        Seq.fill(spec.docs - copies - spec.short - spec.repetitive)("plain"))
      .toIndexedSeq
    val texts = kinds.map {
      case "plain" => plainText(rnd, 45 + rnd.nextInt(10))
      case "short" => plainText(rnd, 5 + rnd.nextInt(10))
      case "rep" =>
        val w = Seq.fill(3)(Words.pick(rnd))
        Seq.fill(30)(w(rnd.nextInt(3))).mkString(" ")
      case _ => ""
    }.toArray
    // every copy has its own plain source, so duplicate clusters are
    // pairs whatever the seed (the near-dup clustering loop runs the
    // same number of rounds); contaminated documents quote eval
    // documents, the other copies quote documents outside the eval set
    val plain = kinds.indices.filter(kinds(_) == "plain")
    val (evalSrc, otherSrc) = plain.partition(_ % 10 == 0)
    val evalPool = rnd.shuffle(evalSrc).iterator
    val otherPool = rnd.shuffle(otherSrc).iterator
    kinds.indices.foreach { i =>
      kinds(i) match {
        case "exact" => texts(i) = texts(otherPool.next())
        case "near" =>
          val w = texts(otherPool.next()).split(" ")
          val a = w.length / 2 + rnd.nextInt(w.length / 2)
          val b = rnd.nextInt(w.length / 4)
          w(a) = Words.pick(rnd); w(b) = Words.pick(rnd)
          texts(i) = w.mkString(" ")
        case "contam" =>
          val src = texts(evalPool.next()).split(" ")
          val at = rnd.nextInt(src.length - 8)
          texts(i) = plainText(rnd, 20) + " " +
            src.slice(at, at + 8).mkString(" ") + " " + plainText(rnd, 20)
        case _ => ()
      }
    }
    texts.indices.map { i =>
      Doc(i.toLong, texts(i), "en", s"src${i % 7}", texts(i).length.toLong)
    }
  }

  /** Words with a full stop every 6–12 words. */
  private def plainText(rnd: scala.util.Random, nWords: Int): String = {
    val sb = new StringBuilder
    var untilStop = 6 + rnd.nextInt(7)
    for (i <- 0 until nWords) {
      if (i > 0) sb += ' '
      sb ++= Words.pick(rnd)
      untilStop -= 1
      if (untilStop == 0 || i == nWords - 1) {
        sb += '.'; untilStop = 6 + rnd.nextInt(7)
      }
    }
    sb.toString
  }

  /** Writes `dir/documents.parquet` (the corpus) and `evalDir/
    * documents.parquet` (its `doc_id % 10 = 0` subset); returns the
    * bytes written. */
  def write(spark: SparkSession, docs: IndexedSeq[Doc], dir: String,
      evalDir: String): Long = {
    import spark.implicits._
    val df = docs.toDF()
    df.coalesce(1).write.parquet(s"$dir/documents.parquet")
    df.filter($"doc_id" % 10 === 0).coalesce(1)
      .write.parquet(s"$evalDir/documents.parquet")
    Fs.bytesUnder(dir) + Fs.bytesUnder(evalDir)
  }
}

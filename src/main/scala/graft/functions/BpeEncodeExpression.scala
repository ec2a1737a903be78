package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE corpus encode — the b2 merge-fold collapser.
  *
  * [[graft.operators.Bpe.bpeEncode]]'s declarative form applies each
  * of the K trained merges as its own nested `transform`+`aggregate`
  * HOF pass: the round-12 sf0.1 profile (BENCH_NOTES.md, "b2 native
  * merge-fold") measured the
  * baseline char-split scan at 0.87 s and each added merge at ~1 s —
  * the expression tree (and the plan's cost) grows LINEARLY with K,
  * and every fold step re-allocates the accumulator array, so a
  * realistic 32k-merge vocabulary is unplannable, not just slow. This
  * expression applies the whole merge list to a document in ONE
  * native call:
  *
  *  - whitespace split + code-point split + all K merge passes run as
  *    tight JVM loops per word — no per-step array copies;
  *  - a per-word symbol-presence set skips the merges whose left or
  *    right symbol cannot occur (two hash probes instead of a scan),
  *    so per-word cost is O(K probes + applicable-merge scans), not
  *    O(K·wordLen) — with K ≫ wordLen almost every probe misses;
  *  - a bounded per-task word→tokens memo (Zipfian corpora repeat
  *    words; the cache collapses occurrence-local encode cost toward
  *    the per-partition distinct-word count, keeping the zero-shuffle
  *    occurrence-local plan shape that motivated bpeEncode while
  *    recovering the dictionary variant's economics).
  *
  * Merge semantics are EXACTLY the declarative fold's (and therefore
  * the training fixpoint's, which the b2 oracle replays): merges apply
  * strictly in rank order, each as one leftmost-greedy non-overlapping
  * pass that joins the accumulator's last symbol with the incoming
  * one — "aaaa" under (a,a) → [aa][aa], "aaa" → [aa][a]. BpeSpec pins
  * native ≡ HOF on golden words and on corpus text.
  */
class BpeEncoder(merges: Array[(String, String)],
    byteLevel: Boolean = false) extends Serializable {

  // per-task after deserialization (tasks are single-threaded), so an
  // unsynchronized map is safe; bounded so adversarial vocabularies
  // degrade to cache-miss encoding, never to memory growth
  @transient private lazy val cache =
    new java.util.HashMap[String, Array[UTF8String]]()
  private val maxCacheEntries = 1 << 16

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  /** All tokens of one document, word by word in order. */
  def encodeText(text: UTF8String): GenericArrayData = {
    val words = ws.split(text.toString, -1)
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        var toks = cache.get(w)
        if (toks == null) {
          toks = encodeWord(w)
          if (cache.size() < maxCacheEntries) cache.put(w, toks)
        }
        var j = 0
        while (j < toks.length) { out.add(toks(j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  private val HexDigits = "0123456789ABCDEF"

  private def encodeWord(w: String): Array[UTF8String] = {
    var syms = new java.util.ArrayList[String]()
    if (byteLevel) {
      // UTF-8 byte symbols as two-char uppercase hex — the GPT-2
      // byte-fallback alphabet rendered replayably: 256 possible base
      // symbols, so NO word can contain an out-of-vocabulary unit
      // (where code-point BPE meets unseen characters, byte BPE meets
      // at worst unseen SEQUENCES). Hex (Spark's hex(binary) casing)
      // keeps the DuckDB oracle's replay byte-for-byte identical.
      val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        syms.add(new String(Array(HexDigits.charAt(b >> 4),
          HexDigits.charAt(b & 0xf))))
        i += 1
      }
    } else {
      // code-point symbols — the unit Spark's length/substr use
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val n = Character.charCount(cp)
        syms.add(w.substring(i, i + n))
        i += n
      }
    }
    // superset of symbols ever present — false positives only cost a
    // scan, so merged-away symbols are never removed
    val present = new java.util.HashSet[String](syms)
    var k = 0
    while (k < merges.length && syms.size() > 1) {
      val l = merges(k)._1
      val r = merges(k)._2
      if (present.contains(l) && present.contains(r)) {
        var applied = false
        val nb = new java.util.ArrayList[String](syms.size())
        var j = 0
        while (j < syms.size()) {
          val x = syms.get(j)
          if (!nb.isEmpty && nb.get(nb.size() - 1) == l && x == r) {
            nb.set(nb.size() - 1, l + r)
            applied = true
          } else nb.add(x)
          j += 1
        }
        if (applied) {
          syms = nb
          present.add(l + r)
        }
      }
      k += 1
    }
    val out = new Array[UTF8String](syms.size())
    var j = 0
    while (j < syms.size()) {
      out(j) = UTF8String.fromString(syms.get(j))
      j += 1
    }
    out
  }
}

/** `bpe_encode_tokens(text): array<string>` — see [[BpeEncoder]].
  * `byteLevel` switches the base alphabet from code points to UTF-8
  * bytes (hex-pair symbols, the b7 vocabulary). */
case class BpeEncodeTokens(child: Expression,
    merges: Seq[(String, String)],
    byteLevel: Boolean = false) extends UnaryExpression {

  private val encoder = new BpeEncoder(merges.toArray, byteLevel)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_encode_tokens needs a string column, got $other")
    }
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode_tokens"

  override def nullSafeEval(input: Any): Any =
    encoder.encodeText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncoder", encoder,
      classOf[BpeEncoder].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encodeText($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

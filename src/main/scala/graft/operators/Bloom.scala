package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.BinaryType

/** Explicit Bloom-filter semi-join pruning — the runtime-filter
  * pattern (Spark's `InjectRuntimeFilter`, Trino's dynamic filters)
  * as a first-class operator the caller controls.
  *
  * The problem it solves at 100 TB: a fact table joined to a
  * SELECTIVE key set that is too large to broadcast-join outright
  * still pays a full fact-table shuffle, because non-matching fact
  * rows only die AT the join. A Bloom filter of the key set is small
  * enough to ship as a literal (≈1.2 MB per million keys at 1% fpp),
  * so the fact side can be pruned DURING ITS SCAN — before the
  * shuffle — and only candidate rows pay shuffle I/O. False positives
  * pass the filter but die in the real join, so the composition is
  * EXACT: `bloomJoin ≡ join`, which is precisely what the j13 DuckDB
  * oracle (a plain join) verifies.
  *
  * Build/probe both hash with `xxhash64`, matching what Spark's own
  * injected runtime filters use; the build is ONE partial-aggregated
  * pass over the key side (Bloom bitsets OR-combine map-side), and
  * the driver holds only the finished bitset.
  */
object Bloom {

  /** Serialized Bloom filter of `df`'s `keyCol` values, sized for the
    * side's exact cardinality at `fpp`. One aggregation job; the
    * result is the only driver state (bounded: n·ln(1/fpp)/ln²2 bits). */
  def keyBloom(df: DataFrame, keyCol: String, fpp: Double = 0.01,
      knownCount: Long = -1L): Array[Byte] = {
    // the filter must be SIZED from the key count before the build
    // aggregate runs, so a caller that already knows the count (e.g.
    // from an observed metric on a checkpoint) skips a whole pass
    // over the key derivation
    val n = if (knownCount >= 0L) knownCount else df.count()
    require(n > 0, "cannot build a Bloom filter of an empty key side")
    val numBits = math.ceil(
      -n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(GraftColumns.expression(col(keyCol)))),
      Literal(n), Literal(numBits)).toAggregateExpression()
    df.select(GraftColumns.column(agg).as("bf")).first().getAs[Array[Byte]](0)
  }

  /** `might_contain` probe of `key` against a pre-built filter literal. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    GraftColumns.column(BloomFilterMightContain(
      Literal.create(bloom, BinaryType),
      new XxHash64(Seq(GraftColumns.expression(key)))))

  /** Equi-join `fact ⋈ keys` where the fact side is Bloom-pruned
    * before its shuffle. Result is row-identical to the plain join —
    * the filter only discards rows that cannot match (false positives
    * are eliminated by the join itself). Use when `keys` is selective
    * but above the broadcast threshold; below it, `broadcast(keys)`
    * already avoids the fact shuffle entirely. */
  def bloomJoin(fact: DataFrame, keys: DataFrame,
      factKey: String, keysKey: String, fpp: Double = 0.01): DataFrame = {
    val bloom = keyBloom(keys, keysKey, fpp)
    fact.filter(mightContain(bloom, col(factKey)))
      .join(keys, col(factKey) === col(keysKey))
  }
}

package graft

import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bloom

class BloomSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._

  private def lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
  private def urgent = spark.read.parquet(s"$sf/orders.parquet")
    .filter(col("o_orderpriority") === "1-URGENT")

  test("bloomJoin is row-identical to the plain join; the filter actually prunes") {
    val plain = lineitem
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val bloomed = Bloom.bloomJoin(lineitem, urgent, "l_orderkey", "o_orderkey")
      .select(col("l_orderkey"), col("l_linenumber")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(bloomed == plain)

    // the pre-shuffle prune is real: the filter keeps every matching
    // row (no false negatives — Bloom's guarantee) but drops most
    // non-matching ones (~selectivity + fpp)
    val bloom = Bloom.keyBloom(urgent, "o_orderkey")
    val total = lineitem.count()
    val kept = lineitem.filter(Bloom.mightContain(bloom, col("l_orderkey"))).count()
    val matching = lineitem.join(urgent.select("o_orderkey").distinct(),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(kept >= matching, "a Bloom filter must never drop a matching row")
    assert(kept < total * 0.5,
      s"filter kept $kept of $total rows — not pruning (matching=$matching)")
  }

  test("bloom probe sits below the fact side's join exchange (prune before shuffle)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffled join the operator exists to cheapen
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Bloom.bloomJoin(lineitem, urgent, "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      df.collect()
      val exchangesWithProbe = collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if collect(e) {
          case f: FilterExec if f.condition.toString.contains("might_contain") => f
        }.nonEmpty => e
      }
      assert(exchangesWithProbe.nonEmpty,
        "might_contain must filter the fact scan BELOW its shuffle exchange:\n" +
          df.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a scoped key checkpoint is released when the Bloom build throws") {
    val empty = spark.range(10).filter(col("id") < 0).toDF("k")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // the key side is materialized with its count observed, then
    // keyBloom's n > 0 check throws inside the scope
    intercept[IllegalArgumentException](graft.util.Iter.scoped { s =>
      val (keys, n) = s.observed(empty,
        Seq(org.apache.spark.sql.functions.count(lit(1)).as("n")))
      Bloom.keyBloom(keys, "k", knownCount = n.getLong(0))
    })
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
  }
}

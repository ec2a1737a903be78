package graft

import org.scalatest.funsuite.AnyFunSuite

/** The iterative-loop stats contract (guide §3.1 + §5): every frame
  * out of a scope's `materialize` must carry MEASURED statistics, read
  * synchronously from the block-manager master — never the
  * listener-lagged storage listing, never the checkpointed query's
  * compounding estimate. The join shapes the plan gates assert (x12
  * broadcast split, pagerank edge-side no-reshuffle) all hang off this
  * determinism.
  */
class IterStatsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("measuredSize sees localCheckpoint blocks immediately (sync read)") {
    import spark.implicits._
    // 10 runs back-to-back: the old getRDDStorageInfo path missed the
    // async status store intermittently; the master RPC never does.
    (1 to 10).foreach { i =>
      val mat = (1 to 1000).toDF("v").withColumn("tag",
        org.apache.spark.sql.functions.lit(i)).localCheckpoint()
      val m = graft.util.Iter.measuredSize(mat)
      assert(m.exists(_ > 0), s"run $i: no measured size visible")
      mat.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist()
        case _ => ()
      }
    }
  }

  test("materialize declares measured stats, small frames stay broadcastable") {
    import spark.implicits._
    graft.util.Iter.scoped { s =>
      val mat = s.materialize((1 to 100).toDF("v"))
      val size = mat.queryExecution.optimizedPlan.stats.sizeInBytes
      // measured bytes: strictly positive, far below the 1 TiB fallback
      // and the Long.Max default — i.e. the planner may broadcast it
      assert(size > 0 && size < BigInt(10) * 1024 * 1024,
        s"expected measured kilobytes, got $size")
    }
  }

  test("fallback stat is finite and non-broadcastable, never the estimate") {
    assert(graft.util.Iter.fallbackStats == (BigInt(1) << 40))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // the cap must sit far above any broadcast threshold in use
    assert(graft.util.Iter.fallbackStats > BigInt(512) * 1024 * 1024)
  }
}

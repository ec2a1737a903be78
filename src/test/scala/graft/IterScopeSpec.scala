package graft

import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Iter

/** The checkpoint scope's contract (see [[graft.util.Iter]]): what a
  * scope frees on a throw and on a return, what survives, who adopts
  * it, and which frames an early release accepts. */
class IterScopeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def sc = spark.sparkContext
  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
  private def leaves(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.id
    }.toSet

  test("a throw after two materializes frees both, blocks included") {
    val rdds = persisted
    val blocks = TestBus.rddBlocks(sc)
    intercept[IllegalStateException](Iter.scoped { s =>
      val a = s.materialize(spark.range(100).toDF("v"))
      s.materialize(a.select((col("v") * 2).as("w")))
      assert(persisted.size == rdds.size + 2)
      throw new IllegalStateException("failed after two checkpoints")
    })
    assert(persisted == rdds)
    assert(TestBus.rddBlocks(sc) == blocks)
  }

  test("a nested scope's result is adopted and freed when the outer scope exits") {
    val before = persisted
    Iter.scoped { _ =>
      val inner = Iter.scoped { s =>
        val tmp = s.materialize(spark.range(10).toDF("v"))
        s.materialize(tmp.select((col("v") + 1).as("w")))
      }
      // the inner scope freed its scratch checkpoint, kept the result's
      assert(persisted -- before == leaves(inner))
      assert(inner.agg(sum("w")).first().getLong(0) == 55L)
    }
    assert(persisted == before)
  }

  test("at top level the result's checkpoint survives and every other is freed") {
    val before = persisted
    val (out, tag) = Iter.scoped { s =>
      val a = s.materialize(spark.range(10).toDF("v"))
      val b = s.materialize(a.select((col("v") * 3).as("w")))
      (b.filter(col("w") > 0), "tuple results are searched too")
    }
    assert(tag.nonEmpty)
    val added = persisted -- before
    assert(added.size == 1 && added == leaves(out), s"$added vs ${leaves(out)}")
    assert(out.count() == 9L)
    added.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
  }

  test("release accepts only frames over this scope's own checkpoints") {
    val before = persisted
    Iter.scoped { outer =>
      val a = outer.materialize(spark.range(10).toDF("v"))
      Iter.scoped { inner =>
        intercept[IllegalArgumentException](inner.release(a))
        // a frame over no checkpoint at all is refused as well
        intercept[IllegalArgumentException](
          inner.release(spark.range(3).toDF("v")))
      }
      assert(a.count() == 10L, "a refused release frees nothing")
      outer.release(a.filter(col("v") > 3))
      assert(persisted == before)
      // released means no longer owned
      intercept[IllegalArgumentException](outer.release(a))
    }
  }

  test("observed returns the metrics row of the checkpoint action") {
    Iter.scoped { s =>
      val (df, row) = s.observed(spark.range(1, 5).toDF("v"),
        Seq(count(lit(1)).as("n"), sum(col("v")).as("total")))
      assert(row.getLong(0) == 4L && row.getLong(1) == 10L)
      assert(df.count() == 4L)
    }
  }

  /** Runs `body` with the `k`-th optimization of a plan over a
    * checkpoint failing on this thread: a round of an iterative
    * operator throws while earlier rounds' checkpoints are live. */
  private def failingRound(k: Int)(body: => Any): Unit = {
    val thread = Thread.currentThread
    var n = 0
    val fail = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if ((Thread.currentThread eq thread) &&
            plan.exists(_.isInstanceOf[LogicalRDD])) {
          n += 1
          if (n == k) throw new IllegalStateException(s"round failure $k")
        }
        plan
      }
    }
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ fail
    try intercept[Exception](body)
    finally spark.experimental.extraOptimizations = prev
    assert(n >= k, "the injected failure never fired")
  }

  test("Bpe and kCore that throw mid-loop leave no persisted RDD") {
    import spark.implicits._
    val before = persisted
    val text = Seq("abab abab abab ab ab abc abcd abcde").toDF("text")
    failingRound(4)(graft.operators.Bpe.bpeMerges(text, "text", 6).collect())
    assert(persisted == before, "bpeMerges")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (5L, 6L)).toDF("src", "dst")
    failingRound(3)(graft.operators.Graph.kCore(edges, "src", "dst", 2)
      .collect())
    assert(persisted == before, "kCore")
  }

  test("pageRankConverged that does not converge leaves no persisted RDD") {
    import spark.implicits._
    val before = persisted
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    intercept[IllegalStateException](graft.operators.Graph
      .pageRankConverged(edges, "src", "dst", tol = 1e-12, maxIter = 2))
    assert(persisted == before)
  }
}

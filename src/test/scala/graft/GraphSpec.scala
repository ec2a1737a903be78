package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("materialize with clusterBy declares the layout it physically made") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count => cnt, sum}
    // keys deliberately adversarial for hash placement: negatives,
    // zero, dense and sparse ranges
    val df = (-500L until 500L).map(k => (k, k * 3)).toDF("k", "v")
    graft.util.Iter.scoped { s =>
      val m = s.materialize(df, clusterBy = Seq("k"))
      // every key lands in exactly ONE partition under the declared
      // partitioning: a key-grouped count over the clustered frame must
      // agree with the plain frame (a wrong declaration would split
      // groups across partitions and double-count keys)
      assert(m.groupBy(col("k"))
        .agg(cnt(org.apache.spark.sql.functions.lit(1))).count() == 1000)
      assert(m.agg(sum(col("v"))).first().getLong(0) ==
        df.agg(sum(col("v"))).first().getLong(0))
      // a self-equi-join through the declared layout returns every key
      // exactly once (co-partitioning honored on both sides)
      val m2 = s.materialize(
        df.select(col("k"), (col("v") * 2).as("w")), clusterBy = Seq("k"))
      assert(m.join(m2, "k").count() == 1000)
    }
  }

  test("pageRank: zero iterations is the uniform vector") {
    val r = ranks(Seq((1L, 2L), (2L, 3L)), 0)
    assert(r.keySet == Set(1L, 2L, 3L))
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-15))
  }

  test("pageRank: one hand-computed round on a 3-cycle plus a chord") {
    // edges: 1->2, 2->3, 3->1, 1->3. outdeg: 1:2, 2:1, 3:1. n=3.
    // after 1 round from uniform 1/3:
    //   in(2) = 1/3 / 2            = 1/6
    //   in(3) = 1/3 / 2 + 1/3 / 1  = 1/2
    //   in(1) = 1/3 / 1            = 1/3
    val r = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)), 1)
    def expect(in: Double) = 0.15 / 3 + 0.85 * in
    assert(math.abs(r(1L) - expect(1.0 / 3)) < 1e-12)
    assert(math.abs(r(2L) - expect(1.0 / 6)) < 1e-12)
    assert(math.abs(r(3L) - expect(1.0 / 2)) < 1e-12)
  }

  test("pageRank: parallel edges weight the contribution") {
    // 1->2 twice and 1->3 once: outdeg(1)=3, so 2 receives 2/3 of
    // rank(1) and 3 receives 1/3
    val r = ranks(Seq((1L, 2L), (1L, 2L), (1L, 3L)), 1)
    val base = 0.15 / 3
    assert(math.abs(r(2L) - (base + 0.85 * (1.0 / 3) * (2.0 / 3))) < 1e-12)
    assert(math.abs(r(3L) - (base + 0.85 * (1.0 / 3) * (1.0 / 3))) < 1e-12)
  }

  test("pageRank: dangling nodes leak mass (documented variant)") {
    // 1->2, 2 dangling: total mass after a round is below 1
    val r = ranks(Seq((1L, 2L)), 1)
    assert(r.values.sum < 1.0)
    // without dangling nodes the mass is conserved (cycle)
    val c = ranks(Seq((1L, 2L), (2L, 1L)), 3)
    assert(math.abs(c.values.sum - 1.0) < 1e-12)
  }

  test("pageRank: more in-links rank higher after convergence rounds") {
    // star: everyone points at hub 99 (and 99 points at 1 to avoid a
    // fully dangling hub)
    val edges = (1L to 8L).map(i => (i, 99L)) :+ ((99L, 1L))
    val r = ranks(edges, 5)
    assert(r(99L) > r(2L) * 4, s"hub should dominate: $r")
  }

  test("pageRank: dangling redistribution — one hand-computed round, mass exactly conserved") {
    import spark.implicits._
    // 1->2, 2 dangling, n=2, uniform start 1/2. dm = 1/2.
    // base = 0.15/2 + 0.85*(1/2)/2 = 0.2875
    // r(1) = base; r(2) = base + 0.85*(1/2) = 0.7125
    val r = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"),
        "src", "dst", 1, redistributeDangling = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.2875) < 1e-12)
    assert(math.abs(r(2L) - 0.7125) < 1e-12)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
  }

  test("pageRank: dangling-heavy graph — redistribution conserves mass, rescales but never reorders the converged vector") {
    import spark.implicits._
    // spokes feed a hub that feeds a popular dangling leaf, beside an
    // independent 2-cycle: a skewed-dangling-mass graph
    val edges = ((1L to 6L).map(i => (i, 7L)) ++
      Seq((7L, 8L), (20L, 21L), (21L, 20L))).toDF("src", "dst")
    val (leaky, itL) = Graph.pageRankConverged(edges, "src", "dst")
    val (redist, itR) = Graph.pageRankConverged(edges, "src", "dst",
      redistributeDangling = true)
    val l = leaky.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d = redist.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(itL >= 2 && itR >= 2)
    // mass: leaky decays below 1, redistribution holds exactly 1
    assert(l.values.sum < 0.999)
    assert(math.abs(d.values.sum - 1.0) < 1e-9)
    // values genuinely differ (redistribution pays the leak back)
    assert(d(20L) > l(20L) * 1.05)
    // but the converged ORDER is identical — the recycled term is a
    // uniform constant, so the fixed point is a scalar rescale (the
    // operator's documented honesty note)
    assert(l.toSeq.sortBy(x => (-x._2, x._1)).map(_._1) ==
      d.toSeq.sortBy(x => (-x._2, x._1)).map(_._1))
  }

  test("pageRankConverged: stops at the fixed point and matches the fixed-round form") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val (r, iters) = Graph.pageRankConverged(edges, "src", "dst",
      tol = 1e-10, maxIter = 200)
    assert(iters > 1 && iters < 200)
    val conv = r.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // the same number of fixed rounds lands on the same vector
    val fixed = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)), iters)
    conv.foreach { case (k, v) => assert(math.abs(v - fixed(k)) < 1e-12) }
    // one more round moves nothing beyond tol
    val more = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)), iters + 1)
    conv.foreach { case (k, v) => assert(math.abs(v - more(k)) < 1e-10) }
    // and an unreachable tolerance throws instead of lying
    intercept[IllegalStateException] {
      Graph.pageRankConverged(edges, "src", "dst", tol = 1e-300,
        maxIter = 3)
    }
  }

  test("triangleCount: K4, a square, and canonicalization noise") {
    import spark.implicits._
    // K4 on {1..4} (4 triangles, 3 per node), a 4-cycle on {5..8}
    // (0 triangles), plus duplicate / reversed / self-loop edges that
    // canonicalization must absorb
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), (1L, 1L), // noise: reversed dups, self-loop
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L)
    ).toDF("src", "dst")
    val rows = Graph.triangleCount(edges, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = rows.view.mapValues(_._1).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 0L, 6L -> 0L, 7L -> 0L, 8L -> 0L), got.toString)
    // global count = sum / 3
    assert(got.values.sum / 3 == 4)
    // K4 clustering coefficient is exactly 1 (2·3/(3·2)); the square's
    // is 0; degrees carried through canonicalization
    assert(rows(1L) == ((3L, 3L, 1000000L)), rows(1L).toString)
    assert(rows(5L) == ((0L, 2L, 0L)))
    // a skew-shaped star plus one closing rim edge: exactly 1
    // triangle, and the hub participates once — the orientation sends
    // the hub's edges inward, so no C(hubdeg, 2) wedge explosion is
    // needed to find it (the plan-shape claim; here just correctness)
    val star = (1L to 50L).map(i => (0L, i)) :+ (7L, 9L)
    val got2 = Graph.triangleCount(star.toDF("src", "dst"),
      "src", "dst").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got2(0L) == 1L && got2(7L) == 1L && got2(9L) == 1L)
    assert(got2.values.sum == 3L)
  }

  test("triangleCountApprox: p=1 is exact, the gate is deterministic, scale-up is 1/p^3") {
    import spark.implicits._
    // a clique union: K5 on {1..5} (10 triangles) + K4 on {10..13}
    // (4 triangles)
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val k4 = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val edges = (k5 ++ k4).toDF("src", "dst")
    val full = Graph.triangleCountApprox(edges, "src", "dst", p = 1.0)
      .head()
    assert(full.getLong(0) == k5.size + k4.size) // all edges kept
    assert(full.getLong(1) == 14L && full.getLong(2) == 14L)
    // p = 0.5: the md5 gate is a hash, not a coin — two runs agree
    // row for row, and the estimate is exactly sampled/p^3
    val a = Graph.triangleCountApprox(edges, "src", "dst", 0.5).head()
    val b = Graph.triangleCountApprox(edges, "src", "dst", 0.5).head()
    assert(a == b)
    assert(a.getLong(2) == math.floor(a.getLong(1) / 0.125).toLong)
    assert(a.getLong(0) < k5.size + k4.size,
      "the gate must actually drop edges on this graph")
    // empty sample degenerates to a 0 estimate, never a crash
    val none = Graph.triangleCountApprox(edges, "src", "dst", 0.0001)
      .head()
    assert(none.getLong(1) == 0L && none.getLong(2) == 0L)
  }

  test("connectedComponents: min-label components, path diameter, singletons absent") {
    import spark.implicits._
    // component {1,2,3} (triangle), component {10..15} (a path — the
    // diameter case pointer-doubling exists for), component {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (21L, 20L)).toDF("src", "dst")
    val got = Graph.connectedComponents(edges, "src", "dst")
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L), (14L, 10L),
      (15L, 10L),
      (20L, 20L), (21L, 20L)))
    // a node with no edges never appears: components are defined over
    // the edge list's nodes (callers union isolated ids if needed)
    assert(!got.map(_._1).contains(99L))
  }

  test("kCore: cascading peel, pendant trees fall, cycles and cliques survive") {
    import spark.implicits._
    // K5 (nodes 1-5) with a pendant chain 5-10-11-12: at k=3 the
    // chain peels away over CASCADING rounds (each removal exposes
    // the next) and K5 survives with in-core degree 4 everywhere
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val got = Graph.kCore((k5 ++ chain).toDF("src", "dst"),
        "src", "dst", k = 3, peels = 10)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (1L to 5L).map(n => (n, 4L)))
    // a pure path has NO 2-core (peels from both ends to nothing);
    // a cycle IS its own 2-core
    val path = (0L until 6L).map(i => (i, i + 1))
    assert(Graph.kCore(path.toDF("src", "dst"), "src", "dst",
      k = 2, peels = 10).count() == 0)
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6))
    val cyc = Graph.kCore(cycle.toDF("src", "dst"), "src", "dst",
        k = 2, peels = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cyc.length == 6 && cyc.forall(_._2 == 2L))
    // exactly-N semantics: extra rounds past the fixpoint change
    // nothing (the free early stop is an equivalence, not a policy)
    val a = Graph.kCore((k5 ++ chain).toDF("src", "dst"), "src",
      "dst", 3, peels = 3).orderBy("node").collect().map(_.toSeq).toSeq
    val b = Graph.kCore((k5 ++ chain).toDF("src", "dst"), "src",
      "dst", 3, peels = 10).orderBy("node").collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}

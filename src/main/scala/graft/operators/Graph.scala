package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Iter

/** Graph analytics over edge-list DataFrames — the iterative-fixpoint
  * family ([[Dedup.dupClusters]] is its connected-components sibling).
  * PageRank here is the classic damped power iteration (Page et al.
  * 1999; the Spark GraphX/Pregel formulation re-expressed as plain
  * DataFrame joins so Catalyst plans every round).
  *
  * Scale shape (100 TB of edges): each round is ONE join of the edge
  * list against the current rank vector (both sides hash-partitioned
  * on the join key — AQE reuses the exchange-level partitioning of the
  * static edge side across rounds once it is materialized) plus one
  * dst-keyed partial-aggregated shuffle whose output is one row per
  * NODE, not per edge. Ranks are materialized per round
  * ([[graft.util.Iter.Scope.materialize]]) to cut lineage growth — the
  * d7 lesson: an unmaterialized loop re-executes every prior round per
  * reference and its plan grows quadratically.
  */
object Graph {

  /** The per-run static state every round rejoins. `dangling` is only
    * built when the caller's variant reads it (redistribution). Its
    * checkpoints pass to the caller's scope, which frees them once the
    * final rank vector no longer depends on them. */
  private[graft] case class Ctx(nodes: DataFrame, n: Long, contrib: DataFrame,
      dangling: Option[DataFrame])

  private[graft] def prepare(edges: DataFrame, srcCol: String,
      dstCol: String, needDangling: Boolean = true): Ctx = Iter.scoped { s =>
    // materialized FIRST: nodes, deg, contrib and dangling all derive
    // from the edge frame, and an un-materialized `e` would re-run
    // the caller's edge construction (often a join) once per derived
    // frame — four scans where one suffices. Freed when this scope
    // exits: the derived frames are checkpoints of their own.
    val e = s.materialize(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")))
    // materialized like contrib: the node set is referenced in every
    // round (and twice more for n and the initial vector) — left live
    // it would re-run the full edge scan + distinct per reference.
    // Clustered on node so the per-round rank-update join (node = dst
    // of the freshly aggregated inbound mass) is exchange-free on
    // this side too.
    // the node count rides the clustering checkpoint as an observed
    // metric — the separate count() job this replaces re-scanned the
    // freshly checkpointed node set once per invocation
    val (nodes, nRow) = s.observed(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct(), Seq(count(lit(1)).as("n")), clusterBy = Seq("node"))
    val n = nRow.getLong(0)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // static per-round payload: (src, dst, deg) — materialized ONCE,
    // hash-clustered on src with the layout DECLARED on the
    // checkpoint scan (materialize's clusterBy), so every round's
    // edge⋈rank join sees the edge side already placed on the join
    // key and only the rank vector moves: the per-round cost
    // collapses to one V-row rank exchange plus the dst-keyed
    // partial-agg shuffle — the edge table, the 100 TB side, never
    // moves again (plan-gated in PlanAuditSpec; measured at sf10 in
    // BENCH_NOTES).
    val contrib = s.materialize(e.join(deg, "src"), clusterBy = Seq("src"))
    // only the redistribution variant reads the dangling set — the
    // leaky default (g1) was paying this checkpoint chain for nothing
    val dangling = if (!needDangling) None else Some(s.materialize(
      nodes.join(e.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti")))
    Ctx(nodes, n, contrib, dangling)
  }

  /** One power-iteration round. With `redistributeDangling` the
    * dangling nodes' mass is summed (ONE extra scalar aggregate over
    * the materialized rank vector — a bounded driver action, the
    * documented price of the variant) and paid back uniformly, so
    * total mass is conserved; the leaky form lets it evaporate. */
  private[graft] def round(ctx: Ctx, ranks: DataFrame, damping: Double,
      redistributeDangling: Boolean): DataFrame = {
    val inbound = ctx.contrib
      .join(ranks, col("src") === col("node"))
      .groupBy(col("dst"))
      .agg(sum(col("rank") / col("deg")).as("inb"))
    val teleport = (1.0 - damping) / ctx.n
    // the redistribution variant's dangling-mass sum rides the round's
    // OWN plan as a broadcast 1-row aggregate (a cross join the planner
    // broadcasts) instead of a separate first() driver action — one
    // job per round, not two. The double arithmetic keeps the exact
    // operation order of the former driver-side expression
    // (teleport + (damping·dm)/n, then + damping·inb), so rank values
    // are bit-identical to the two-job form.
    val updated =
      if (!redistributeDangling)
        ctx.nodes.join(inbound, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(teleport) + lit(damping) *
              coalesce(col("inb"), lit(0.0))).as("rank"))
      else {
        val dmRow = ranks.join(ctx.dangling.get, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
        ctx.nodes.join(inbound, col("node") === col("dst"), "left")
          .crossJoin(broadcast(dmRow))
          .select(col("node"),
            ((lit(teleport) +
              lit(damping) * col("__dm") / lit(ctx.n.toDouble)) +
              lit(damping) * coalesce(col("inb"), lit(0.0))).as("rank"))
      }
    Iter.scoped(_.materialize(updated))
  }

  /** Damped PageRank after exactly `iters` power-iteration rounds.
    *
    * Semantics (mirrored literally by the unrolled oracle SQL):
    * ranks start uniform at 1/n over the DISTINCT src ∪ dst node set;
    * each round every edge carries rank(src)/outdeg(src) to its dst
    * (parallel edges count — outdeg is edge multiplicity), and
    * `rank' = (1−d)/n + d·Σ inbound`. Dangling nodes (no out-edges)
    * leak their rank by default — the plain leaky variant, the right
    * default because the redistribution variant costs an extra global
    * aggregate per round and changes no RANKING on graphs whose
    * dangling mass is uniform. Set `redistributeDangling` when rank
    * VALUES are consumed as a probability distribution (sampling
    * weights, quota allocation): each round pays the dangling sum
    * back uniformly, so total mass stays exactly 1 where the leaky
    * form decays.
    *
    * Honesty note on the two variants: at the FIXED POINT, uniform
    * redistribution cannot reorder ranks — the recycled term
    * d·(Σ dangling rank)/n is the same constant for every node, so it
    * folds into the teleport base and the converged vector is a
    * scalar multiple of the leaky one (r = c·(I−dMᵀ)⁻¹·1 either way,
    * only c differs). What changes is the VALUES (a true distribution
    * vs a decayed one) and finite-iteration snapshots; a ranking
    * CHANGE would require non-uniform (personalized) redistribution,
    * which this operator deliberately does not do. The spec pins all
    * three facts (mass conservation, converged order equality, value
    * difference) on a dangling-heavy graph.
    *
    * The node count `n` rides the node checkpoint as an observed
    * metric, so it costs no job of its own.
    *
    * @return (node, rank) — rank a plain double; callers cut to
    *         decimal for cross-engine comparison. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    Iter.scoped { s =>
      val ctx = prepare(edges, srcCol, dstCol,
        needDangling = redistributeDangling)
      var ranks = ctx.nodes.select(col("node"),
        lit(1.0 / ctx.n).as("rank"))
      for (i <- 1 to iters) {
        val next = round(ctx, ranks, damping, redistributeDangling)
        // round i-1's checkpointed vector is dead once round i is live —
        // without the release a long run pins one rank copy per round
        // (i == 1 skips: the initial vector is a view over ctx.nodes)
        if (i > 1) s.release(ranks)
        ranks = next
      }
      ranks
    }
  }

  /** Iterate-until-converged PageRank: rounds run until the L∞ rank
    * delta drops below `tol` (one extra max-abs-diff aggregate per
    * round, over two already-materialized vectors) or `maxIter` is
    * hit — in which case it THROWS rather than return ranks that look
    * converged but are not (the d7 non-convergence contract). The
    * fixed-iteration [[pageRank]] stays the oracle row; this is the
    * production form for graphs whose mixing time is unknown.
    *
    * Sizing maxIter: the worst-case contraction per round is exactly
    * `damping` (a cycle component realizes it), so tol = ε needs up
    * to ln ε / ln d rounds — ~85 for 1e-6 at d = 0.85, ~113 for
    * 1e-8. The defaults pair accordingly.
    *
    * @return (ranks, roundsRun). */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
      tol: Double = 1e-6, maxIter: Int = 100, damping: Double = 0.85,
      redistributeDangling: Boolean = false): (DataFrame, Int) = {
    require(tol > 0 && maxIter >= 1)
    Iter.scoped { s =>
      val ctx = prepare(edges, srcCol, dstCol,
        needDangling = redistributeDangling)
      var ranks = s.materialize(ctx.nodes.select(col("node"),
        lit(1.0 / ctx.n).as("rank")))
      var it = 0
      var converged = false
      while (!converged && it < maxIter) {
        val next = round(ctx, ranks, damping, redistributeDangling)
        it += 1
        val delta = next.as("a").join(ranks.as("b"), "node")
          .agg(max(abs(col("a.rank") - col("b.rank")))).first().getDouble(0)
        // the previous vector is dead once the delta is taken — release
        // it, or a slow-mixing graph pins maxIter copies of the ranks
        s.release(ranks)
        ranks = next
        converged = delta < tol
      }
      if (!converged) throw new IllegalStateException(
        s"pageRank did not converge to $tol within $maxIter rounds")
      (ranks, it)
    }
  }

  /** Exact TRIANGLE COUNT of the undirected simple graph spanned by
    * `edges` — the classic forward/compact-forward algorithm
    * (Latapy 2008; Suri & Vassilvitskii 2011's MapReduce form)
    * expressed as three relational passes:
    *
    *  1. canonicalize: undirected simple edges (min, max), self-loops
    *     and multiplicity dropped;
    *  2. ORIENT each edge from its lower-(degree, id) endpoint to the
    *     higher — every triangle then has exactly ONE wedge whose
    *     center precedes both tips, so each is counted once, and the
    *     orientation bounds out-degree: Σ C(outdeg, 2) ≤ O(m^{3/2})
    *     regardless of skew (a 10⁶-degree hub ORIENTS ALL ITS EDGES
    *     INWARD unless the neighbor is even hotter — the naive
    *     undirected wedge count would explode as C(10⁶, 2));
    *  3. wedges (center → tip₁ < tip₂) semi-joined against the
    *     oriented edge set — the closing edge's existence IS the
    *     triangle.
    *
    * Scale shape: two degree-keyed shuffles (degree + orientation
    * join), one self-join on the wedge center, one closing join on
    * the (tip₁, tip₂) pair — all partial-aggregating counts, no
    * driver-side state, no window. Returns per-NODE triangle
    * participation (node, n_triangles) — the local clustering
    * numerator — with the global count = Σ/3.
    */
  def triangleCount(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Iter.scoped { s =>
    // materialized: e feeds the degree pass (twice via unionAll), the
    // orientation join, and the final node list — left live, an
    // expensive upstream edge construction (g3's lineitem self-join)
    // re-runs ~5x per action (the pageRank prepare lesson)
    val e = s.materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient from lower (deg, id) to higher; the tip's degree rides
    // along because the WEDGE must order its tips by the same
    // (deg, id) total order — then the closing edge, if it exists, is
    // oriented exactly tip₁ → tip₂ (ordering tips by raw id instead
    // would probe the wrong direction whenever id order disagrees
    // with degree order — e.g. a hub with a larger id than its rim)
    val oriented = s.materialize(e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"),
        col("e.dv").as("dv")))
    val e1 = oriented.select(col("u"), col("v").as("t1"),
      col("dv").as("d1"))
    val e2 = oriented.select(col("u"), col("v").as("t2"),
      col("dv").as("d2"))
    val wedges = e1.join(e2, "u")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("t1") < col("t2")))
    val closing = oriented
      .select(col("u").as("cu"), col("v").as("cv"))
    val tri = wedges.join(closing,
        col("t1") === col("cu") && col("t2") === col("cv"), "left_semi")
      .select(col("u").as("n1"), col("t1").as("n2"), col("t2").as("n3"))
    val perNode = tri.select(col("n1").as("node"))
      .unionAll(tri.select(col("n2").as("node")))
      .unionAll(tri.select(col("n3").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    // cc = 2·t / (deg·(deg−1)) — the LOCAL CLUSTERING COEFFICIENT,
    // free once degree and triangle participation exist; e6-floored
    // (the standing decimal-cut convention), 0 for degree-1 nodes
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).cast("bigint")
          .as("n_triangles"),
        col("deg").cast("bigint").as("deg"))
      .withColumn("cc_e6",
        when(col("deg") >= 2,
          floor(col("n_triangles").cast("double") * 2000000.0 /
            (col("deg") * (col("deg") - 1)).cast("double"))
            .cast("bigint"))
          .otherwise(lit(0L)))
  }

  /** APPROXIMATE global triangle count by deterministic edge
    * sampling — DOULION (Tsourakakis et al., KDD 2009): keep each
    * canonical edge independently with probability `p` (a seeded
    * md5 hash gate on the edge pair, so the "coin" is
    * engine/partitioning/retry-stable and the DuckDB oracle replays
    * it bit-for-bit), count triangles EXACTLY on the sampled graph
    * ([[triangleCount]]'s O(m_s^{1.5}) forward pass on p·m edges),
    * and scale by 1/p³ — each surviving triangle needed all three of
    * its edges kept. E[estimate] = T exactly (unbiased); DOULION's
    * variance bound is T·(1/p³ − 1) + 2k·(1/p − 1)/p² over
    * edge-sharing triangle pairs k, shrinking as p³ work falls.
    * This is the 100 TB path where the EXACT count's own output is
    * the wall (the co-supplier sweep: 1.24 B triangles at sf1) —
    * p = 0.1 does ~0.1^1.5 = 3% of the wedge work.
    *
    * @return one row (sampled_edges, sampled_triangles,
    *         est_triangles = floor(sampled/p³)). */
  def triangleCountApprox(edges: DataFrame, srcCol: String,
      dstCol: String, p: Double,
      seed: String = "doulion"): DataFrame = Iter.scoped { s =>
    require(p > 0 && p <= 1, s"p must be in (0,1], got $p")
    // the edge coin is an integer gate on [0, 10000) — quantize p
    // ONCE and derive BOTH the draw threshold and the 1/p³ scale-up
    // from the same quantized probability: scaling by the unquantized
    // p would bias the estimator for any p off the 1e-4 grid, and a
    // p below the grid's resolution would silently keep zero edges
    // and report est_triangles = 0
    val q = math.round(p * 10000).toInt
    require(q >= 1,
      s"p = $p quantizes to a zero draw gate; smallest supported p is 1e-4")
    val pq = q / 10000.0
    // materialized ONCE: the sampled frame feeds triangleCount (whose
    // own eager materialization would re-derive it — including
    // whatever join produced `edges` upstream) AND the sampled_edges
    // count — two executions of the full canonicalize+hash-gate scan
    // where one suffices (the pageRank-prepare lesson). Freed when the
    // scope exits: triangleCount checkpoints its own derived frames
    // eagerly, so nothing downstream re-reads this one.
    val e = s.materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .filter(Curation.sampleDraw(seed,
        concat_ws("-", col("a"), col("b"))) < lit(q)))
    val tri = triangleCount(e, "a", "b")
    val edgeCount = e.count()
    tri.agg(coalesce((sum(col("n_triangles")) / 3).cast("bigint"),
        lit(0L)).as("sampled_triangles"))
      .select(lit(edgeCount).as("sampled_edges"),
        col("sampled_triangles"),
        floor(col("sampled_triangles").cast("double") /
          lit(pq * pq * pq)).cast("bigint").as("est_triangles"))
  }

  /** Connected components over an undirected edge list — the
    * first-class graph surface of the min-label pointer-doubling
    * propagation [[Dedup.dupClusters]] runs for near-dup clusters
    * (one algorithm, two callers: a duplicate cluster IS a connected
    * component of the pair graph).
    *
    * Scale shape (why pointer-doubling, not plain label propagation):
    * plain min-label propagation needs O(diameter) rounds — a chain
    * of re-posted boilerplate or a long citation path makes diameter
    * grow with the corpus; the label-chase shortcut halves the
    * remaining distance per round, so rounds grow as O(log diameter)
    * (Kiveris et al., SoCC'14) at 3 bounded shuffles per round, and a
    * non-converged exit THROWS rather than returning plausible
    * half-propagated labels.
    *
    * @return (node, component) — one row per distinct node,
    *         component = the min node id of its component. */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 20): DataFrame =
    Dedup.dupClusters(
        edges.select(col(srcCol).as("a"), col(dstCol).as("b")),
        "a", "b", maxIter)
      .select(col("member_id").as("node"),
        col("cluster_id").as("component"))

  /** k-core: the maximal subgraph in which every node keeps degree
    * ≥ k — the standard dense-region extractor (spam rings, tight
    * co-occurrence clusters, the "real" community once hangers-on
    * are peeled away). Computed by iterative peeling: each round
    * drops every node whose degree AMONG SURVIVORS fell below k;
    * dropping a node can only lower its neighbors' degrees, so the
    * survivor set shrinks monotonically to the unique fixpoint
    * (Matula & Beck 1983).
    *
    * Semantics: EXACTLY `peels` rounds (with a free early stop when a
    * round removes nothing — post-fixpoint rounds are no-ops by
    * definition, so exactly-N and until-fixpoint-capped-at-N agree),
    * which is what lets a round-unrolled SQL replay check the result.
    * Peeling depth is bounded by the peel sequence's length, in
    * practice a handful of rounds on organic graphs (3 at the oracle
    * SF); size `peels` like pagerank's round count.
    *
    * Scale shape per round: two survivor semi-joins (node-keyed, the
    * small side is the shrinking survivor set) + one partial-agg'd
    * degree count — all bounded by the CURRENT subgraph, monotonically
    * shrinking; frames are materialized per round (the d7 lineage
    * lesson).
    *
    * @return (node, core_deg) — the k-core's members with their
    *         degree INSIDE the core. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, peels: Int = 12): DataFrame = Iter.scoped { s =>
    require(k >= 1, s"k must be >= 1, got $k")
    require(peels >= 1, s"peels must be >= 1, got $peels")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val sym = s.materialize(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst"))))
    // survivor counts ride each checkpoint action as observed metrics
    // (the dupClusters convergence trick): one job per peel instead of
    // two — the separate count() was a full extra job per round
    def n = Seq(count(lit(1)).as("n"))
    val (surv0, n0) = s.observed(
      sym.select(col("src").as("node")).distinct(), n)
    var surv = surv0
    var survN = n0.getLong(0)
    var done = false
    var i = 0
    while (i < peels && !done) {
      val (next, nextRow) = s.observed(
        sym.join(surv.select(col("node").as("src")), Seq("src"))
          .join(surv.select(col("node").as("dst")), Seq("dst"))
          .groupBy(col("src")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k)
          .select(col("src").as("node")), n)
      val nextN = nextRow.getLong(0)
      // next ⊆ surv always, so equal counts mean equal sets
      if (nextN == survN) done = true
      s.release(surv)
      surv = next
      survN = nextN
      i += 1
    }
    sym.join(surv.select(col("node").as("src")), Seq("src"))
      .join(surv.select(col("node").as("dst")), Seq("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Graph
import graft.util.Iter

/** TRIEST-style streaming triangle estimation (De Stefani et al.,
  * KDD 2016 — "TRIÈST: Counting Local and Global Triangles in
  * Fully-dynamic Streams with Fixed Memory Size") — the e-row form of
  * [[graft.operators.Graph.triangleCountApprox]]'s DOULION: where g4
  * gates each edge by an independent coin (state-free but
  * sample-size-unbounded — p·m edges grows with the stream), TRIEST
  * holds a FIXED-capacity uniform edge reservoir, so gate state is
  * bounded by construction no matter how long the stream runs.
  *
  * Determinism (the replay convention every gate here follows): the
  * paper's RNG reservoir is arrival-order-dependent, which no
  * exactly-once replay could pin. This implementation uses the
  * bottom-m PRIORITY formulation (Cohen & Kaplan 2007's bottom-k
  * sketches): each canonical edge draws a seeded md5 priority, and the
  * reservoir after t distinct edges is the m smallest by
  * (priority, a, b) — a uniformly random m-subset (the hash is the
  * coin), but ORDER-INDEPENDENT and MERGEABLE:
  * bottom-m(A ∪ B) = bottom-m(bottom-m(A) ∪ bottom-m(B)), so
  * micro-batch boundaries, shuffles, retries, and replays cannot
  * change it, a production topology can pre-reduce per partition
  * before the single merge point, and the DuckDB oracle replays the
  * exact reservoir with ORDER BY priority LIMIT m.
  *
  * Estimate: triangles are counted EXACTLY on the reservoir graph and
  * scaled by the inverse probability that all three edges of a
  * triangle survive uniform m-of-t sampling without replacement:
  * est = sampled · t(t−1)(t−2) / (m(m−1)(m−2)) — unbiased
  * (E[est] = T), exact (scale 1) while t ≤ m. This is TRIEST-base's
  * estimator; its variance shrinks as (t/m)³ work falls, and the
  * reservoir's O(m^1.5) exact count is a constant-cost emission at
  * any stream length.
  *
  * Stream contract: each canonical undirected edge arrives ONCE (the
  * paper's simple-graph stream model — the exactly-once ingest the
  * rest of this package provides). Duplicates within a micro-batch
  * and duplicates of edges currently IN the reservoir are detected
  * and dropped for free; a duplicate of an already-EVICTED edge is
  * indistinguishable from a new edge and inflates the seen count —
  * feed the gate distinct edges, or front it with the winnow/bloom
  * machinery when the source can repeat.
  */
// Serializable: the flatMapGroupsWithState update closure calls
// countTrianglesLocal/scaleUp, so tasks capture this (stateless)
// module reference
object TriangleStream extends Serializable {

  /** One reservoir entry: canonical edge + its seeded priority. */
  private[streaming] case class ResEdge(a: Long, b: Long, pr: Long)

  /** Reservoir state: distinct-canonical-edges seen, and the bottom-m
    * entries by (pr, a, b). */
  private[streaming] case class ResState(seen: Long, edges: Seq[ResEdge])

  /** Per-micro-batch emission: the estimate after folding the batch
    * into the reservoir. */
  case class TriangleEstimate(seen_edges: Long, reservoir_edges: Long,
      sampled_triangles: Long, est_triangles: Long)

  /** The seeded edge priority — 60 bits of md5("seed:a-b"), the
    * [[graft.operators.Curation.sampleDraw]] construction widened so
    * boundary ties are edge-population-rare (ties are still totally
    * ordered by (pr, a, b)). Replay: DuckDB
    * `CAST('0x' || substr(md5(...), 1, 15) AS BIGINT)`. */
  private def priority(seed: String) =
    conv(substring(md5(concat(lit(seed + ":"),
      col("a").cast("string"), lit("-"), col("b").cast("string"))),
      1, 15), 16, 10).cast("long")

  private def canonical(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))

  /** BATCH form — the oracle-facing replay of the streaming gate: the
    * reservoir is order-independent, so folding the whole edge set at
    * once yields byte-identically the state any micro-batch split
    * reaches (spec-pinned). One row out:
    * (seen_edges, reservoir_edges, sampled_triangles, est_triangles).
    *
    * Scale shape: canonicalize+distinct is the one edge-keyed
    * shuffle; the bottom-m selection is a sort-limit
    * (TakeOrderedAndProject — per-partition top-m partials, one
    * m-sized merge, never a global sort); the exact count runs on m
    * edges ([[Graph.triangleCount]]'s oriented pass, O(m^1.5) on the
    * RESERVOIR, independent of stream length). */
  def triangleEstimateReservoir(edges: DataFrame, srcCol: String,
      dstCol: String, m: Int,
      seed: String = "triest"): DataFrame = Iter.scoped { s =>
    require(m >= 3, s"reservoir must hold >= 3 edges, got $m")
    // materialized: the canonical edge set feeds the seen count AND
    // the reservoir selection (the g4 single-derivation lesson)
    val canon = s.materialize(
      canonical(edges, srcCol, dstCol).distinct())
    val t = canon.count()
    val res = canon.select(col("a"), col("b"), priority(seed).as("pr"))
      .orderBy(col("pr"), col("a"), col("b")).limit(m)
      .select(col("a"), col("b"))
    val tri = Graph.triangleCount(res, "a", "b")
    tri.agg(coalesce((sum(col("n_triangles")) / 3).cast("bigint"),
        lit(0L)).as("sampled_triangles"))
      .select(lit(t).as("seen_edges"),
        lit(math.min(t, m.toLong)).as("reservoir_edges"),
        col("sampled_triangles"),
        estimate(col("sampled_triangles"), t, m).as("est_triangles"))
  }

  /** est = floor(sampled · t(t−1)(t−2) / (m(m−1)(m−2))), exact while
    * t ≤ m. Arithmetic order is pinned left-associative
    * ((sampled · num) / den, all doubles) so the DuckDB replay is
    * bit-identical. */
  private def estimate(sampled: org.apache.spark.sql.Column, t: Long,
      m: Int): org.apache.spark.sql.Column =
    if (t <= m) sampled
    else floor(sampled.cast("double") * lit(scaleUp(t, m)))
      .cast("bigint")

  /** t(t−1)(t−2) / (m(m−1)(m−2)) as left-associative DOUBLE products
    * (a BIGINT product overflows past t ≈ 2.1 M edges — a stream this
    * operator exists for); the DuckDB replay mirrors the same op
    * order term for term. */
  private[graft] def scaleUp(t: Long, m: Int): Double =
    t.toDouble * (t - 1).toDouble * (t - 2).toDouble /
      (m.toDouble * (m - 1).toDouble * (m - 2).toDouble)

  /** STREAMING form: fold each micro-batch of edges into the
    * checkpointed reservoir and emit one [[TriangleEstimate]] row per
    * batch — the running estimate after that batch. State is EXACTLY
    * (seen count, m reservoir entries): bounded for any stream
    * length, the property DOULION's grows-with-p·t sample lacks.
    *
    * The single merge group is the documented funnel: every batch's
    * canonical edges pass one task, which then runs the O(m^1.5)
    * local exact count. Size micro-batches accordingly; beyond that,
    * the reservoir's mergeability is the scale-out path (per-shard
    * bottom-m pre-reduction upstream of the merge point — the same
    * partial-combine shape the batch form's sort-limit already
    * executes).
    *
    * Emitted estimates match [[triangleEstimateReservoir]] on the
    * union of all batches so far, whatever the batch split
    * (spec-pinned): the reservoir is order-independent and the local
    * counter is exact. */
  def triangleEstimateStream(edges: DataFrame, srcCol: String,
      dstCol: String, m: Int,
      seed: String = "triest"): Dataset[TriangleEstimate] = {
    require(m >= 3, s"reservoir must hold >= 3 edges, got $m")
    val spark = edges.sparkSession
    import spark.implicits._

    def update(key: Int, rows: Iterator[ResEdge],
        state: GroupState[ResState]): Iterator[TriangleEstimate] = {
      val st = state.getOption.getOrElse(ResState(0L, Seq.empty))
      val inReservoir = st.edges.map(e => (e.a, e.b)).toSet
      // in-batch dedup + drop duplicates of current reservoir
      // entries — the only repeats the bounded state CAN see
      val fresh = scala.collection.mutable.LinkedHashMap
        .empty[(Long, Long), ResEdge]
      rows.foreach { e =>
        val k = (e.a, e.b)
        if (!inReservoir.contains(k) && !fresh.contains(k))
          fresh(k) = e
      }
      val seen = st.seen + fresh.size
      val merged = (st.edges ++ fresh.values)
        .sortBy(e => (e.pr, e.a, e.b)).take(m)
      state.update(ResState(seen, merged))
      val sampled = countTrianglesLocal(
        merged.map(e => (e.a, e.b)).toArray)
      val est =
        if (seen <= m) sampled
        else math.floor(sampled.toDouble * scaleUp(seen, m)).toLong
      Iterator(TriangleEstimate(seen, merged.size.toLong, sampled, est))
    }

    canonical(edges, srcCol, dstCol)
      .select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"), priority(seed).as("pr"))
      .as[ResEdge]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Exact triangle count of a small in-memory edge list — the
    * forward algorithm ([[Graph.triangleCount]]'s orientation, run
    * locally over the m-edge reservoir at emission time): orient each
    * edge from its lower-(degree, id) endpoint, then every triangle
    * is exactly one wedge whose closing edge exists. O(m^1.5). */
  private[graft] def countTrianglesLocal(
      edges: Array[(Long, Long)]): Long = {
    val deg = new java.util.HashMap[Long, Int]()
    edges.foreach { case (a, b) =>
      deg.merge(a, 1, Integer.sum)
      deg.merge(b, 1, Integer.sum)
    }
    // total order: (degree, id) — precedes means "orients outward"
    def precedes(x: Long, y: Long): Boolean = {
      val dx = deg.get(x); val dy = deg.get(y)
      dx < dy || (dx == dy && x < y)
    }
    val adj = new java.util.HashMap[Long,
      scala.collection.mutable.ArrayBuffer[Long]]()
    val adjSet = new java.util.HashMap[Long,
      java.util.HashSet[Long]]()
    edges.foreach { case (a, b) =>
      val (u, v) = if (precedes(a, b)) (a, b) else (b, a)
      adj.computeIfAbsent(u,
        _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += v
      adjSet.computeIfAbsent(u,
        _ => new java.util.HashSet[Long]()).add(v)
    }
    var count = 0L
    val it = adj.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      val out = en.getValue
      var i = 0
      while (i < out.length) {
        var j = 0
        while (j < out.length) {
          // wedge tips ordered by the SAME total order as the
          // orientation, so the closing edge is probed u→v exactly
          if (i != j && precedes(out(i), out(j))) {
            val s = adjSet.get(out(i))
            if (s != null && s.contains(out(j))) count += 1
          }
          j += 1
        }
        i += 1
      }
    }
    count
  }
}

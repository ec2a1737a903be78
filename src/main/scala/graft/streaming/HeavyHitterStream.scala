package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming heavy hitters as a bounded-state ingest signal (e15):
  * "which keys are hot on this stream, right now" — top domains /
  * hosts / users on an ingest feed, the per-source quota alarm a
  * 100 TB crawl pipeline watches while it runs.
  *
  * Determinism (the replay convention every gate here follows):
  * Misra–Gries/SpaceSaving summaries are ARRIVAL-ORDER-dependent —
  * the same multiset folded in two orders keeps different survivor
  * sets, so no exact replay could pin their emissions (the batch sk4
  * row handles that family with the envelope pattern instead). This
  * gate's state is a count-min sketch: d·w pure ADDITIVE counters —
  * commutative, associative, mergeable — so the state after any
  * prefix depends only on the prefix MULTISET, never on arrival
  * order, micro-batch boundaries, shuffles, retries, or the merge
  * tree. Per batch it emits every key OF THAT BATCH whose sketch
  * estimate clears an exact integer threshold,
  * `est · 1000 ≥ θ‰ · n_prefix` — no float anywhere in the decision,
  * so the DuckDB oracle replays emissions bit-exactly from the same
  * md5 cell hashes.
  *
  * Guarantees (CMS): `est ≥ true_count` always (hash collisions only
  * ADD), and `est ≤ true_count + εN` with probability 1−δ for
  * w = ⌈e/ε⌉, d = ⌈ln(1/δ)⌉ — so no true heavy hitter is ever
  * missed; collisions can only promote a near-threshold key, and the
  * spec pins the over-count envelope. State is d·w longs + one total
  * regardless of key cardinality or stream length — the property
  * that makes this deployable where an exact per-key count table
  * (unbounded keys) is not.
  *
  * Batch semantics: `batchCol` is a DATA-derived epoch (a day, an
  * ingest file id) — not the trigger's micro-batch id — so emissions
  * are replayable. The streaming form folds whatever epochs a
  * micro-batch carries in ascending order; for the per-epoch
  * `n_prefix` to mean "everything up to this epoch", feed epochs
  * non-decreasing (the event-time ordered ingest the rest of this
  * package assumes). Emission identity with the batch fold
  * additionally needs micro-batches EPOCH-ALIGNED (an epoch never
  * straddles two triggers — one ingest file per epoch, the spec's
  * convention): if a trigger boundary splits an epoch, that epoch's
  * keys emit once per slice at the partial prefix each slice saw —
  * monotonically growing (est, n_prefix), so a downstream
  * keep-LAST-per-(batch, key) collapses them to exactly the batch
  * fold's row. The FINAL state is order-independent regardless —
  * additive counters cannot disagree about the union.
  */
object HeavyHitterStream extends Serializable {

  /** One emission: `key` was flagged hot after folding epoch `batch`;
    * `est` its sketch count over the prefix, `n_prefix` the prefix
    * total. */
  case class HeavyHit(batch: Long, key: String, est: Long,
      n_prefix: Long)

  // private[streaming], NOT private: an unqualified-private member of
  // an object compiles to accessors Janino-generated encoder code
  // cannot resolve ("no applicable method cells()"); the qualified
  // form keeps them public in bytecode (the ResState convention)
  private[streaming] case class HhState(n: Long, cells: Seq[Long])

  /** Row-j cell of `key`: 60 bits of md5("seed:j:key") mod w — the
    * seeded-draw construction ([[TriangleStream]]'s priority, the
    * sampleDraw family), replayable in DuckDB as
    * `CAST('0x' || substr(md5(seed||':'||j||':'||key), 1, 15) AS
    * BIGINT) % w`. */
  private def cellCol(seed: String, j: Int, w: Int,
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit(s"$seed:$j:"), key)), 1, 15),
      16, 10).cast("long") % w

  private def cellJvm(seed: String, j: Int, w: Int, key: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s"$seed:$j:$key".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % w).toInt
  }

  /** BATCH form — the oracle-facing replay of the streaming gate:
    * fold epochs in `batchCol` order, emit each epoch's flagged keys.
    * Identical emissions to the streamed fold on any epoch-ordered
    * split (spec-pinned; the counters are additive so the state can
    * never diverge).
    *
    * Scale shape: ONE corpus-sized exchange — the per-(epoch, key,
    * row, cell) count partial-agg (d rows per event map-side,
    * combined before the shuffle), MATERIALIZED once because three
    * frames derive from it (the g4 single-derivation lesson): the
    * cell increments, the per-epoch totals (its j=0 slice — each
    * event lands exactly once per sketch row), and the candidate
    * keys. Everything downstream is key- or sketch-bounded: the
    * cumulative window runs over ≤ d·w·B rows, the epoch totals over
    * B rows, both join back broadcast. The materialized frame is
    * distinct-(epoch, key)-bounded, never event-bounded, and is left
    * checkpointed (a localCheckpoint cannot be recomputed after
    * release while the caller still holds the result). */
  def heavyHittersBatch(events: DataFrame, keyCol: String,
      batchCol: String, d: Int, w: Int, thetaPermille: Int,
      seed: String): DataFrame = graft.util.Iter.scoped { s =>
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d w=$w")
    require(thetaPermille >= 1 && thetaPermille <= 1000,
      s"thetaPermille in [1,1000], got $thetaPermille")
    val ev = events.select(col(batchCol).cast("long").as("batch"),
      col(keyCol).cast("string").as("key"))
    // d (j, cell) pairs per event in ONE scan, collapsed to
    // per-(epoch, key) counts in the single corpus-sized exchange
    val kc = s.materialize(
      ev.select(col("batch"), col("key"),
          explode(array((0 until d).map(j =>
            struct(lit(j).as("j"),
              cellCol(seed, j, w, col("key")).as("cell"))): _*)).as("p"))
        .groupBy(col("batch"), col("key"), col("p.j").as("j"),
          col("p.cell").as("cell"))
        .agg(count(lit(1)).as("cnt")))
    val bc = kc.groupBy(col("j"), col("cell"), col("batch"))
      .agg(sum(col("cnt")).as("c"))
    val wCum = Window.partitionBy(col("j"), col("cell"))
      .orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bc.select(col("j"), col("cell"), col("batch"),
      sum(col("c")).over(wCum).as("cum"))
    // per-epoch totals and the prefix total: B rows — the
    // single-partition window is over the EPOCH COUNT, never the data
    val wNp = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val np = kc.filter(col("j") === 0)
      .groupBy(col("batch")).agg(sum(col("cnt")).as("nb"))
      .select(col("batch"), sum(col("nb")).over(wNp).as("n_prefix"))
    val cand = kc.select(col("batch"), col("key"), col("j"),
      col("cell"))
    cand.join(broadcast(cum), Seq("j", "cell", "batch"))
      .groupBy(col("batch"), col("key"))
      .agg(min(col("cum")).as("est"))
      .join(broadcast(np), Seq("batch"))
      .filter(col("est") * lit(1000L) >=
        lit(thetaPermille.toLong) * col("n_prefix"))
      .select(col("batch"), col("key"), col("est"), col("n_prefix"))
  }

  /** The gate's state computed OFFLINE over a finished corpus — the
    * additive counters make this one distributed aggregation (per
    * (row, cell) sums + the total), never a sequential replay. What a
    * fresh gate deployment seeds from ([[writeHhGateState]] persists
    * it; [[heavyHittersStream]]'s `initialState` resumes from it) so
    * the stream starts already warm on the lake instead of
    * re-counting history. */
  def hhGateState(events: DataFrame, keyCol: String, d: Int, w: Int,
      seed: String): (Long, Vector[Long]) = {
    val ev = events.select(col(keyCol).cast("string").as("key"))
    val cells = ev.select(
        explode(array((0 until d).map(j =>
          struct(lit(j).as("j"),
            cellCol(seed, j, w, col("key")).as("cell"))): _*)).as("p"))
      .groupBy(col("p.j").as("j"), col("p.cell").as("cell"))
      .agg(count(lit(1)).as("c"))
      .collect() // ≤ d·w rows — sketch-bounded driver state
    val counters = new Array[Long](d * w)
    cells.foreach { r =>
      counters(r.getInt(0) * w + r.getLong(1).toInt) = r.getLong(2)
    }
    // every event contributes to exactly d cells, so the total rides
    // in the one aggregation — no second source scan
    val n = cells.map(_.getLong(2)).sum / d
    (n, counters.toVector)
  }

  /** Persist a gate state as a warehouse artifact with its geometry
    * pinned in `_meta` (the embed-gate convention: a gate can never
    * resume under foreign hashes). */
  def writeHhGateState(spark: org.apache.spark.sql.SparkSession,
      n: Long, cells: Seq[Long], d: Int, w: Int, seed: String,
      table: String): Unit = {
    import spark.implicits._
    graft.operators.Bucketing.dropTableAndLocation(spark, table)
    graft.operators.Bucketing.dropTableAndLocation(spark,
      s"${table}_meta")
    cells.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("idx", "c")
      .write.mode("overwrite").saveAsTable(table)
    Seq((n, d, w, seed)).toDF("n", "d", "w", "seed")
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Load a [[writeHhGateState]] artifact; the caller's (d, w, seed)
    * must match the table's own pinned geometry or the load REFUSES
    * (resuming under foreign hashes is silently wrong, never
    * approximate). */
  def loadHhGateState(spark: org.apache.spark.sql.SparkSession,
      table: String, d: Int, w: Int,
      seed: String): (Long, Vector[Long]) = {
    val meta = spark.table(s"${table}_meta").head()
    require(meta.getInt(1) == d && meta.getInt(2) == w &&
      meta.getString(3) == seed,
      s"gate state $table was written under geometry " +
        s"(d=${meta.getInt(1)}, w=${meta.getInt(2)}, " +
        s"seed=${meta.getString(3)}); refusing to resume under " +
        s"(d=$d, w=$w, seed=$seed)")
    val cells = new Array[Long](d * w)
    spark.table(table).collect().foreach { r =>
      cells(r.getInt(0)) = r.getLong(1)
    }
    (meta.getLong(0), cells.toVector)
  }

  /** STREAMING form: fold each micro-batch's epochs (ascending) into
    * the checkpointed d·w counters and emit that epoch's flagged
    * keys. State is EXACTLY d·w longs + the prefix total — bounded
    * for any stream length and key cardinality.
    *
    * `initial` (e.g. a loaded [[writeHhGateState]] artifact) seeds
    * the counters so a NEW query — changed topology, fresh
    * checkpoint — resumes warm instead of re-counting the lake;
    * additivity makes seeded-then-stream ≡ streaming the
    * concatenation (spec-pinned).
    *
    * The single merge group is the documented funnel (the e14 shape);
    * the scale-out path is the additive counters' mergeability:
    * per-partition sketch partials merge associatively upstream of
    * the merge point, the same partial-combine the batch form's
    * groupBy already executes. */
  def heavyHittersStream(events: DataFrame, keyCol: String,
      batchCol: String, d: Int, w: Int, thetaPermille: Int,
      seed: String,
      initial: Option[(Long, Seq[Long])] = None): Dataset[HeavyHit] = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d w=$w")
    require(thetaPermille >= 1 && thetaPermille <= 1000,
      s"thetaPermille in [1,1000], got $thetaPermille")
    initial.foreach { case (_, cells) =>
      require(cells.length == d * w,
        s"initial state carries ${cells.length} counters; " +
          s"geometry d=$d w=$w needs ${d * w}")
    }
    val spark = events.sparkSession
    import spark.implicits._

    def update(g: Int, rows: Iterator[(Long, String)],
        state: GroupState[HhState]): Iterator[HeavyHit] = {
      val st = state.getOption.getOrElse(
        HhState(0L, Vector.fill(d * w)(0L)))
      var n = st.n
      val cells = st.cells.toArray
      val out = scala.collection.mutable.ArrayBuffer[HeavyHit]()
      rows.toArray.groupBy(_._1).toSeq.sortBy(_._1).foreach {
        case (b, evs) =>
          val counts = scala.collection.mutable.HashMap[String, Long]()
          evs.foreach { case (_, k) =>
            counts.update(k, counts.getOrElse(k, 0L) + 1L)
          }
          counts.foreach { case (k, c) =>
            var j = 0
            while (j < d) {
              cells(j * w + cellJvm(seed, j, w, k)) += c
              j += 1
            }
          }
          n += evs.length
          counts.keysIterator.toSeq.sorted.foreach { k =>
            var est = Long.MaxValue
            var j = 0
            while (j < d) {
              est = math.min(est, cells(j * w + cellJvm(seed, j, w, k)))
              j += 1
            }
            if (est * 1000L >= thetaPermille.toLong * n)
              out += HeavyHit(b, k, est, n)
          }
      }
      state.update(HhState(n, cells.toVector))
      out.iterator
    }

    val grouped = events.select(col(batchCol).cast("long").as("batch"),
        col(keyCol).cast("string").as("key"))
      .as[(Long, String)]
      .groupByKey(_ => 0)
    initial match {
      case Some((n0, cells0)) =>
        val init = spark.createDataset(
          Seq((0, HhState(n0, cells0.toVector))))
          .groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout, init)(update)
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(update)
    }
  }
}

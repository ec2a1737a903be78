package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming distribution-drift gate (e17): per data epoch, the
  * Population Stability Index of that epoch's bucket distribution
  * against the REFERENCE epoch (the first one seen) — the online form
  * of the batch x16 rule ([[graft.operators.Curation.driftPsi]]), the
  * alarm an ingest pipeline rings when a source's shape moves
  * (language mix, length profile, score distribution).
  *
  * Third member of the bounded-gate-state family: e15 holds additive
  * COUNTS, e16 idempotent MAXes, e17 holds ONE histogram — the
  * reference epoch's `nBuckets` counts, fixed after the first epoch
  * — plus nothing else; each epoch's own histogram is micro-batch
  * local. Emissions replay bit-exactly: counts are integers, the
  * Laplace-smoothed p/q and the (p−q)·ln(p/q) terms are per-bucket
  * float expressions mirrored literally (the x16 formula), and the
  * epoch PSI is their left fold in bucket order (the e16 ordered-sum
  * recipe; ln on both engines per the b6/t13 precedent).
  *
  * Epoch semantics are the family's: `batchCol` is a data-derived
  * epoch fed non-decreasing, epoch-aligned micro-batches for emission
  * identity. Buckets outside [0, nBuckets) are dropped from counts
  * AND totals (driftPsi's precondition enforcement, verbatim).
  */
object DriftStream extends Serializable {

  /** One emission: epoch `batch` (n_cur in-range events) scored
    * `psi_e9` = floor(PSI · 1e9) against the reference epoch;
    * `drifted` = PSI > threshold. */
  case class DriftScore(batch: Long, n_cur: Long, psi_e9: Long,
      drifted: Boolean)

  /** The gate's only cross-epoch state: the pinned reference
    * histogram (public: [[writePsiGateRef]]/[[loadPsiGateRef]] carry
    * it across deployments). */
  case class RefState(refBatch: Long, refTotal: Long,
      refCounts: Seq[Long])

  /** The shared PSI recipe over full `nBuckets` histograms — Laplace
    * smoothing and term shape are [[graft.operators.Curation
    * .driftPsi]]'s, summed as a left fold in bucket order. */
  private[streaming] def psi(ref: Array[Long], refTotal: Long,
      cur: Array[Long], curTotal: Long): Double = {
    val n = ref.length
    var s = 0.0
    var j = 0
    while (j < n) {
      val q = (ref(j).toDouble + 1.0) / (refTotal.toDouble + n)
      val p = (cur(j).toDouble + 1.0) / (curTotal.toDouble + n)
      s += (p - q) * math.log(p / q)
      j += 1
    }
    s
  }

  /** BATCH form — the oracle-facing replay: the minimum epoch is the
    * reference; every epoch (the reference included — its PSI is an
    * exact 0) scores against it.
    *
    * Scale shape: ONE corpus-sized exchange (the per-(epoch, bucket)
    * count partial-agg); the grid, term expressions, and ordered fold
    * run over ≤ nBuckets·B rows — histogram-sized,
    * corpus-independent. */
  def psiGateBatch(events: DataFrame, bucketCol: String,
      batchCol: String, nBuckets: Int,
      psiThreshold: Double): DataFrame = graft.util.Iter.scoped { s =>
    require(nBuckets > 0, "need nBuckets > 0")
    val spark = events.sparkSession
    val ev = events.select(col(batchCol).cast("long").as("batch"),
        col(bucketCol).cast("int").as("bucket"))
      .filter(col("bucket").isNotNull && col("bucket") >= 0 &&
        col("bucket") < nBuckets)
    // materialized: totals, the reference histogram, and the grid all
    // derive from it (the g4/e15 single-derivation lesson); the frame
    // is histogram-sized (≤ nBuckets·B rows), left checkpointed
    val bc = s.materialize(
      ev.groupBy(col("batch"), col("bucket"))
        .agg(count(lit(1)).as("n")))
    val totals = bc.groupBy(col("batch")).agg(sum(col("n")).as("tot"))
    // the reference epoch's full histogram, one tiny frame
    val refB = totals.agg(min(col("batch")).as("ref_batch"))
    val spine = spark.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    val refH = spine.crossJoin(broadcast(refB))
      .join(bc.withColumnRenamed("batch", "ref_batch"),
        Seq("ref_batch", "bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n"), lit(0L)).as("ref_n"))
    val refTot = refH.agg(sum(col("ref_n")).as("ref_tot"))
    // per-epoch full histograms on the grid
    val grid = totals.select(col("batch"), col("tot"))
      .crossJoin(spine)
      .join(bc, Seq("batch", "bucket"), "left")
      .select(col("batch"), col("tot"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("cur_n"))
      .join(broadcast(refH), Seq("bucket"))
      .crossJoin(broadcast(refTot))
    val arr = grid
      .groupBy(col("batch"), col("tot"))
      .agg(sort_array(collect_list(struct(col("bucket"),
        col("cur_n"), col("ref_n"), col("ref_tot")))).as("a"))
    // left fold in bucket order: each term re-derived inside the
    // lambda so the float expression is identical per element
    val psiCol = aggregate(col("a"), lit(0.0), (acc, x) => {
      val qq = (x("ref_n").cast("double") + lit(1.0)) /
        (x("ref_tot").cast("double") + lit(nBuckets.toDouble))
      val pp = (x("cur_n").cast("double") + lit(1.0)) /
        (col("tot").cast("double") + lit(nBuckets.toDouble))
      acc + (pp - qq) * log(pp / qq)
    })
    arr.select(col("batch"), col("tot").as("n_cur"),
        psiCol.as("psi"))
      .select(col("batch"), col("n_cur"),
        floor(col("psi") * lit(1e9)).cast("bigint").as("psi_e9"),
        (col("psi") > lit(psiThreshold)).as("drifted"))
  }

  /** Persist/load the pinned reference histogram (the gate's only
    * cross-epoch state) — the b12/e15/e16 artifact convention, with
    * the bucket count pinned in `_meta` so a gate can never score
    * against a foreign-width reference. */
  def writePsiGateRef(spark: org.apache.spark.sql.SparkSession,
      refBatch: Long, refTotal: Long, refCounts: Seq[Long],
      table: String): Unit = {
    import spark.implicits._
    graft.operators.Bucketing.dropTableAndLocation(spark, table)
    graft.operators.Bucketing.dropTableAndLocation(spark,
      s"${table}_meta")
    refCounts.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("bucket", "n")
      .write.mode("overwrite").saveAsTable(table)
    Seq((refBatch, refTotal, refCounts.length))
      .toDF("ref_batch", "ref_total", "n_buckets")
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
  }

  def loadPsiGateRef(spark: org.apache.spark.sql.SparkSession,
      table: String, nBuckets: Int): RefState = {
    val meta = spark.table(s"${table}_meta").head()
    require(meta.getInt(2) == nBuckets,
      s"reference $table was written with ${meta.getInt(2)} buckets; " +
        s"refusing to score $nBuckets-bucket epochs against it")
    val counts = new Array[Long](nBuckets)
    spark.table(table).collect().foreach { r =>
      counts(r.getInt(0)) = r.getLong(1)
    }
    RefState(meta.getLong(0), meta.getLong(1), counts.toVector)
  }

  /** STREAMING form: the first epoch seen becomes the pinned
    * reference histogram (the ONLY cross-epoch state); every epoch —
    * the reference included — emits its score as it completes.
    * `initial` (a loaded [[writePsiGateRef]] artifact) pins the
    * reference up front, so a resumed gate scores against the SAME
    * baseline as its predecessor instead of re-electing one. */
  def psiGateStream(events: DataFrame, bucketCol: String,
      batchCol: String, nBuckets: Int, psiThreshold: Double,
      initial: Option[RefState] = None): Dataset[DriftScore] = {
    require(nBuckets > 0, "need nBuckets > 0")
    initial.foreach { st =>
      require(st.refCounts.length == nBuckets,
        s"initial reference carries ${st.refCounts.length} buckets; " +
          s"need $nBuckets")
    }
    val spark = events.sparkSession
    import spark.implicits._

    def update(g: Int, rows: Iterator[(Long, Int)],
        state: GroupState[RefState]): Iterator[DriftScore] = {
      var st = state.getOption.orNull
      val out = scala.collection.mutable.ArrayBuffer[DriftScore]()
      rows.toArray.groupBy(_._1).toSeq.sortBy(_._1).foreach {
        case (b, evs) =>
          val h = new Array[Long](nBuckets)
          evs.foreach { case (_, bk) =>
            if (bk >= 0 && bk < nBuckets) h(bk) += 1L
          }
          val tot = h.sum
          if (st == null) {
            st = RefState(b, tot, h.toVector)
          }
          val p = psi(st.refCounts.toArray, st.refTotal, h, tot)
          out += DriftScore(b, tot,
            math.floor(p * 1e9).toLong, p > psiThreshold)
      }
      if (st != null) state.update(st)
      out.iterator
    }

    val grouped = events
      .select(col(batchCol).cast("long").as("batch"),
        col(bucketCol).cast("int").as("bucket"))
      .filter(col("bucket").isNotNull && col("bucket") >= 0 &&
        col("bucket") < nBuckets)
      .as[(Long, Int)]
      .groupByKey(_ => 0)
    initial match {
      case Some(st0) =>
        val init = spark.createDataset(Seq((0, st0)))
          .groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout, init)(update)
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(update)
    }
  }
}

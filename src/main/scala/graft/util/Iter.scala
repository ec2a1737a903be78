package graft.util

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative DataFrame algorithms (connected
  * components, Lloyd rounds): every round must cut the plan or it
  * grows with the iteration count.
  *
  * Two forms, picked by session configuration:
  *  - a session WITH a checkpoint dir gets reliable `checkpoint()` —
  *    blocks are written to the checkpoint store, so losing an
  *    executor mid-loop recomputes from there instead of failing the
  *    query (the right trade on preemption-prone clusters);
  *  - otherwise `localCheckpoint()` — executor-storage blocks, no
  *    extra write, the right trade for local/test runs and stable
  *    clusters.
  */
object Iter {
  def materialize(df: DataFrame): DataFrame = {
    val mat =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint()
      else df.localCheckpoint()
    // Replace the checkpoint leaf's stats with the MEASURED size of
    // what was just materialized. Dataset.checkpoint records the
    // checkpointed query's ESTIMATED stats; in an iterative loop that
    // estimate compounds multiplicatively (each round's joins multiply
    // the previous checkpoint's estimate), so by round ~15 the driver
    // is multiplying million-digit BigIntegers inside stats estimation
    // — observed as a hung CC loop. Measured bytes also let the
    // planner broadcast genuinely small iterated state (rank/label
    // vectors) and refuse to broadcast genuinely big state — the
    // scale-adaptive join pick, from truth instead of estimates.
    measuredSize(mat) match {
      case Some(bytes) =>
        org.apache.spark.sql.GraftDatasets.declareStats(mat, bytes)
      case None =>
        // Never keep the recorded (compounding) estimate: cap it at a
        // fixed 1 TiB — big enough that nothing is wrongly broadcast,
        // finite so round-over-round stats can never blow up planning.
        org.apache.spark.sql.GraftDatasets.declareStats(mat, fallbackStats)
    }
  }

  /** Fallback stat when no measurement is visible: large enough to
    * disqualify broadcasts, finite so it cannot compound. */
  private[graft] val fallbackStats: BigInt = BigInt(1) << 40

  /** Actual byte size of a materialized frame's backing storage:
    * persisted block sizes for `localCheckpoint` (read SYNCHRONOUSLY
    * from the block-manager master — the listener-driven
    * `getRDDStorageInfo` lags eager checkpoints under load, which made
    * the measured-stats path, and so every downstream join shape,
    * timing-dependent), checkpoint-file bytes for reliable
    * `checkpoint`. None when neither is visible (the caller then
    * declares a capped fallback, never the compounding estimate). */
  private[graft] def measuredSize(df: DataFrame): Option[BigInt] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val sc = df.sparkSession.sparkContext
        val fromBlocks = Some(org.apache.spark.GraftStorage
          .rddBlockBytes(sc, l.rdd.id, l.rdd.getNumPartitions))
          .filter(_ > 0)
        fromBlocks.orElse(l.rdd.getCheckpointFile.map { dir =>
          val p = new org.apache.hadoop.fs.Path(dir)
          BigInt(p.getFileSystem(sc.hadoopConfiguration)
            .getContentSummary(p).getLength)
        }).map(_.max(BigInt(1)))
      case _ => None
    }

  /** [[materialize]] for a loop's STATIC table: hash-partition and
    * sort on `keys` first (an EXPLICIT partition count, which AQE
    * never coalesces, so the layout is exactly murmur3(keys) mod n),
    * then checkpoint, then re-declare that layout on the returned
    * frame ([[org.apache.spark.sql.GraftDatasets.declareClustered]] —
    * plain checkpoints come back `UnknownPartitioning`). Every
    * subsequent join or aggregation keyed on `keys` reads the frame
    * exchange-free: the one-time shuffle here replaces a per-round
    * shuffle of the table — the difference between re-moving 100 TB
    * of edges every PageRank round and never moving them again. */
  def materializeClustered(df: DataFrame, keys: Seq[String]): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cols = keys.map(org.apache.spark.sql.functions.col)
    val mat = materialize(
      df.repartition(n, cols: _*).sortWithinPartitions(cols: _*))
    org.apache.spark.sql.GraftDatasets.declareClustered(mat, keys,
      sorted = true)
  }

  /** Free the storage behind a frame returned by [[materialize]] once
    * the loop no longer references it: unpersists the checkpointed
    * RDD's blocks and deletes reliable-checkpoint files. Without this
    * a long run (thousands of BPE merge rounds, a slow-mixing
    * PageRank) pins one full copy of the iterated table PER ROUND —
    * storage grows linearly with the iteration count.
    *
    * Contract: pass ONLY frames that came straight out of
    * [[materialize]] (their plan is a single checkpoint-backed leaf);
    * on any other frame the leaf scan may be shared state this would
    * yank from under live frames. */
  def release(df: DataFrame): Unit =
    checkpoints(df).foreach(free(df, _))

  /** [[release]] for the checkpoints an operator made for itself: frees
    * those `out` reads that `in`, the operator's still-live input, does
    * not. For an operator that returns a frame over its own checkpoint
    * (`Curation.perplexityBuckets`), once the caller has materialized
    * what it needed from `out`. */
  def releaseOwn(out: DataFrame, in: DataFrame): Unit = {
    val live = checkpoints(in).map(_.id).toSet
    checkpoints(out).filterNot(r => live(r.id)).foreach(free(out, _))
  }

  private def checkpoints(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.distinctBy(_.id)

  private def free(df: DataFrame, rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }
}

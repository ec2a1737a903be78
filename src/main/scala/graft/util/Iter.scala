package graft.util

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftDatasets, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Checkpoints, and the one scope that owns them. A checkpoint cuts a
  * frame's lineage: an iterative loop (connected components, PageRank,
  * BPE merges) must cut its plan every round or the plan grows with
  * the round count, and a frame several actions read is computed once.
  * Every checkpoint in the program is made inside [[scoped]]:
  *
  *  - '''Ownership.''' A scope owns the checkpoints its
  *    [[Scope.materialize]] / [[Scope.observed]] made and those it
  *    adopted from scopes nested in it.
  *  - '''Exit.''' On a throw every owned checkpoint is freed. On a
  *    return, those the returned value's frames read survive (the
  *    value is searched through tuples, case classes, options, arrays
  *    and strict collections); the rest are freed.
  *  - '''Adoption.''' Survivors pass to the enclosing scope (the
  *    innermost one open on the calling thread), which frees them when
  *    it exits unless its own result reads them. With none, they live
  *    as long as the caller's lazy frame (a battery query's result).
  *  - '''Early release.''' [[Scope.release]] frees a loop's dead round
  *    before exit, and refuses a frame over any checkpoint this scope
  *    does not own.
  *  - '''Blocking release.''' A free unpersists with `blocking = true`,
  *    so the storage is gone when the scope returns, and deletes
  *    reliable-checkpoint files.
  *
  * A session WITH a checkpoint dir gets reliable `checkpoint()`
  * (losing an executor mid-loop recomputes from the store instead of
  * failing the query); otherwise `localCheckpoint()` (executor-storage
  * blocks, no extra write — local runs and stable clusters). */
object Iter {

  /** The checkpoints one [[scoped]] body made or adopted. */
  final class Scope private[Iter] () {
    private val owned =
      scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]

    /** Checkpoint `df` eagerly; the returned frame declares the
      * checkpoint's MEASURED size as its statistics. `clusterBy` (for a
      * loop's STATIC table) first hash-partitions on those keys with an
      * EXPLICIT partition count (never coalesced by AQE, so the layout
      * is exactly murmur3(keys) mod n), sorts within partitions and
      * declares that layout on the result ([[GraftDatasets.declare]]):
      * every later join keyed on them reads it exchange-free, so the
      * 100 TB edge side of a PageRank round never moves again. */
    def materialize(df: DataFrame, clusterBy: Seq[String] = Nil): DataFrame = {
      val laid =
        if (clusterBy.isEmpty) df
        else {
          val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
          val keys = clusterBy.map(col)
          df.repartition(n, keys: _*).sortWithinPartitions(keys: _*)
        }
      val cp =
        if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
          laid.checkpoint()
        else laid.localCheckpoint()
      checkpoints(cp).foreach(own)
      // measured size, or the capped fallback: never the estimate
      GraftDatasets.declare(cp, measuredSize(cp).getOrElse(fallbackStats),
        clusterBy)
    }

    /** [[materialize]] with `metrics` (aggregate columns, as for
      * `Dataset.observe`) observed on the checkpoint action itself, so
      * a count or a convergence bit costs no job of its own.
      * @return the frame and the metrics' row, in `metrics` order. */
    def observed(df: DataFrame, metrics: Seq[Column],
        clusterBy: Seq[String] = Nil): (DataFrame, Row) = {
      require(metrics.nonEmpty, "observed: no metric columns")
      val obs = new Observation()
      val mat = materialize(df.observe(obs, metrics.head, metrics.tail: _*),
        clusterBy)
      (mat, Await.result(obs.future, Duration.Inf))
    }

    /** Free `df`'s checkpoints now. Every checkpoint `df` reads must be
      * owned by this scope: a frame over another scope's checkpoint, or
      * over none, is refused. */
    def release(df: DataFrame): Unit = synchronized {
      val rdds = checkpoints(df)
      require(rdds.nonEmpty && rdds.forall(r => owned.contains(r.id)),
        "release: the frame reads checkpoints " +
          rdds.map(_.id).mkString("[", ", ", "]") + "; this scope owns " +
          owned.keys.mkString("[", ", ", "]"))
      rdds.foreach { r => owned.remove(r.id); free(r) }
    }

    private[Iter] def own(rdd: RDD[_]): Unit = synchronized(owned(rdd.id) = rdd)

    /** Free every owned checkpoint not in `keep`; return the kept ones. */
    private[Iter] def exit(keep: Set[Int]): Seq[RDD[_]] = synchronized {
      val (kept, dead) = owned.values.toSeq.partition(r => keep(r.id))
      owned.clear()
      dead.foreach(free)
      kept
    }
  }

  /** Innermost open scope per thread (not inherited by threads). */
  private val current = new ThreadLocal[Scope]

  /** Run `body` with a fresh [[Scope]]; see [[Iter]]. */
  def scoped[T](body: Scope => T): T = {
    val outer = current.get
    val s = new Scope
    current.set(s)
    var keep = Set.empty[Int]
    try {
      val result = body(s)
      keep = framesIn(result).flatMap(checkpoints).map(_.id).toSet
      result
    } finally {
      current.set(outer)
      val survivors = s.exit(keep)
      if (outer != null) survivors.foreach(outer.own)
    }
  }

  private def framesIn(v: Any): Iterator[Dataset[_]] = v match {
    case d: Dataset[_] => Iterator(d)
    case a: Array[_] => a.iterator.flatMap(framesIn)
    case xs: Iterable[_] => xs.iterator.flatMap(framesIn)
    case p: Product => p.productIterator.flatMap(framesIn)
    case _ => Iterator.empty
  }

  /** The checkpoint RDDs a frame's plan reads, subqueries included. */
  private def checkpoints(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRDD => l.rdd: RDD[_]
    }.distinctBy(_.id)

  private def free(rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = true)
    rdd.getCheckpointFile.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
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
      case l: LogicalRDD =>
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
}

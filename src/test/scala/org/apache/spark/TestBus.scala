package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.storage.BlockId

/** Specs that count listener events or storage blocks:
  * `listenerBus.waitUntilEmpty` and the block-manager master are
  * Spark-internal. */
object TestBus {

  /** Runs `body` and returns, in completion order, the task count and
    * shuffle bytes written of every stage it ran. */
  def stages(sc: SparkContext)(body: => Unit): Seq[(Int, Long)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        seen.add((e.stageInfo.numTasks,
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    seen.toArray(Array.empty[(Int, Long)]).toSeq
  }

  /** Runs `body` and returns, in start order, the call sites of every
    * job it started (each job's stage names, e.g. "first at
    * Bloom.scala:48", space-joined). Jobs `body` started before it
    * threw are counted too. */
  def jobs(sc: SparkContext)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.map(_.name).mkString(" "))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try body
    finally {
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** Every RDD block the block managers hold right now. */
  def rddBlocks(sc: SparkContext): Set[BlockId] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).toSet
}

package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Specs that count listener events: `listenerBus.waitUntilEmpty` is
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
}

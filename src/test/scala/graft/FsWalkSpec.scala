package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkEnv
import org.scalatest.funsuite.AnyFunSuite

import graft.util.FsWalk

/** Confs seen by tasks; tasks of a `local[*]` session run in this JVM
  * and reach this object statically, not through the closure. */
object FsWalkSpecSeen {
  val confs = new ConcurrentLinkedQueue[Configuration]()
}

/** [[FsWalk]] inside Spark tasks, where no session is active and every
  * importer's file reads resolve through the off-session Hadoop conf. */
class FsWalkSpec extends AnyFunSuite {
  import SparkTestSession._

  private def taskConfs(): Seq[Configuration] = {
    FsWalkSpecSeen.confs.clear()
    spark.sparkContext.parallelize(1 to 32, 8)
      .foreach(_ => FsWalkSpecSeen.confs.add(FsWalk.hadoopConf))
    val seen = FsWalkSpecSeen.confs.toArray(Array.empty[Configuration]).toSeq
    assert(seen.size == 32)
    seen
  }

  test("tasks of one job share one Hadoop conf") {
    val seen = taskConfs()
    assert(seen.forall(_ eq seen.head),
      s"${seen.map(System.identityHashCode).distinct.size} distinct confs")
    // the off-session conf, not the driver's session conf
    assert(seen.head ne spark.sparkContext.hadoopConfiguration)
    // and the same one again in the next job
    assert(taskConfs().head eq seen.head)
  }

  test("the task conf carries every spark.hadoop.* entry of the SparkConf") {
    val shipped = SparkEnv.get.conf.getAllWithPrefix("spark.hadoop.")
    assert(shipped.toMap.get("graft.spec.marker").contains("from-sparkconf"))
    val conf = taskConfs().head
    shipped.foreach { case (k, v) =>
      assert(conf.get(k) == v, s"$k in the task conf")
    }
  }

  test("a file read in a task returns the driver's bytes") {
    val f = Files.createTempFile("fswalk", ".bin")
    Files.write(f, Array.tabulate[Byte](70000)(i => (i * 31 % 251).toByte))
    val path = f.toString
    val inTask = spark.sparkContext.parallelize(Seq(path), 1)
      .map(FsWalk.readBytes).collect().head
    assert(inTask.sameElements(FsWalk.readBytes(path)))
    assert(inTask.length == 70000)
    Files.delete(f)
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Local-disk helpers for generated inputs and run outputs. */
object Fs {
  private def regularFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  def bytesUnder(dir: String): Long = regularFiles(dir).map(Files.size).sum

  def filesUnder(dir: String): Int = regularFiles(dir).size

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}

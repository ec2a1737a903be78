package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The `file:` filesystem of graft's pipelines: Hadoop's checksummed
  * `LocalFileSystem` (same `.crc` sidecars, same bytes), over a raw
  * filesystem that sets permissions in-process.
  *
  * Without `libhadoop` (`NativeIO` unavailable), the stock
  * `RawLocalFileSystem.setPermission` forks `chmod` for every call, and
  * a local write calls it for every file it creates, again for that
  * file's `.crc`, and for every directory level `mkdirs` makes. One
  * `chmod` fork costs about 2 ms; `Files.setPosixFilePermissions` sets
  * the same mode in 0.005–0.02 ms (a 2 GB JVM on a 4-vCPU x86 host, 200
  * calls each, one thread). An import of 72 issues makes about 300
  * such calls, many of them on executor task threads.
  *
  * The mode is the one Hadoop would pass to `chmod`. Two cases still go
  * through the stock path: a mode with bits outside `rwxrwxrwx` (the
  * sticky bit; NIO has no way to set it) and a store with no POSIX
  * attribute view.
  */
class LocalFs extends LocalFileSystem(new LocalFs.NioRawLocalFs)

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` uses NIO where NIO can
    * express the mode. */
  private final class NioRawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: the ordinal-th permission is mode bit 8 - ordinal
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) s.add(p)
    }
    s
  }

  /** Makes [[LocalFs]] the `file:` filesystem of `spark`'s
    * SparkContext: this changes the Hadoop conf that every session of
    * the caller's context shares. Write tasks and job commits take their
    * conf from it, so both use [[LocalFs]].
    *
    * The `file:` cache is bypassed: a stock instance cached by any
    * earlier `FileSystem.get` in this JVM would otherwise keep being
    * returned and the new `fs.file.impl` would silently do nothing. A
    * context whose conf already names its own `fs.file.impl` is left as
    * it is. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val name = classOf[LocalFs].getName
    val impl = Option(conf.getTrimmed("fs.file.impl")).getOrElse("")
    if (impl.isEmpty || impl == name) {
      conf.set("fs.file.impl", name)
      conf.setBoolean("fs.file.impl.disable.cache", true)
    }
  }
}

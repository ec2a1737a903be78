package graft.util

import java.lang.ref.WeakReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession

/** Directory listing over Hadoop's `FileSystem` API, so driver-side
  * issue-tree walks ([[graft.discover.Discover]],
  * [[graft.sources.IssueTreeSource]]) work against any store Spark can
  * reach — local disk in tests, HDFS/object stores at deployment —
  * instead of being hard-wired to `java.io.File`. The reference walks a
  * POSIX mount (importers/detect.py os.listdir); a 100 TB deployment
  * lists a remote store, same pruning.
  */
object FsWalk {

  /** A listed subdirectory: `name` is the final path segment, `path`
    * round-trips into the next [[subdirs]] call or into file-opening
    * code (local paths come back scheme-less so `java.io`-based parsers
    * keep working). */
  case class Dir(name: String, path: String)

  /** The active session's Hadoop conf (carries fs.* credentials). On
    * executors there is no active session, but dropping to a bare
    * `new Configuration()` would silently lose every `spark.hadoop.*`
    * setting the job was submitted with (the standard way to pass
    * object-store credentials) — so off-session the executor's
    * SparkConf is re-applied onto the default conf, reproducing what
    * the driver's `sparkContext.hadoopConfiguration` contains.
    *
    * The off-session conf is built once per executor JVM and shared by
    * every call and task there: a fresh `Configuration` re-parses the
    * Hadoop default resources on first use (about 10 ms on a 4-vCPU
    * x86 host), which every file an import task opens would otherwise
    * pay. It is rebuilt when the
    * `SparkEnv` changes (a new SparkContext in the same JVM) and holds
    * that env only weakly. The returned conf is READ-ONLY: it is
    * shared, so a caller that needs different settings copies it
    * (`new Configuration(FsWalk.hadoopConf)`) and changes the copy. */
  def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(offSessionConf(SparkEnv.get))

  /** The shared off-session conf and the env it was built from (null
    * when built with no SparkEnv in the JVM). */
  private final class OffSession(val env: WeakReference[SparkEnv],
      val conf: Configuration) {
    def builtFor(e: SparkEnv): Boolean =
      if (e == null) env == null else env != null && (env.get eq e)
  }

  private var offSession: OffSession = null

  private def offSessionConf(env: SparkEnv): Configuration = synchronized {
    if (offSession == null || !offSession.builtFor(env)) {
      val conf = new Configuration()
      if (env != null)
        env.conf.getAllWithPrefix("spark.hadoop.").foreach {
          case (k, v) => conf.set(k, v)
        }
      // load the default resources now, so no reader of the shared conf
      // triggers (or races on) the lazy load
      conf.size()
      offSession = new OffSession(
        if (env == null) null else new WeakReference(env), conf)
    }
    offSession.conf
  }

  private def externalForm(p: Path): String = {
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
    else p.toString
  }

  /** A listed entry (file or directory). */
  case class Entry(name: String, path: String, isDir: Boolean)

  /** All entries of `base`, sorted by name; a missing base lists as
    * empty (detect over an absent alias is zero issues, not a crash). */
  def list(base: String): Seq[Entry] = {
    val p = new Path(base)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .map(s => Entry(s.getPath.getName, externalForm(s.getPath),
        s.isDirectory))
      .sortBy(_.name)
  }

  /** Subdirectories of `base`, sorted by name; missing base → empty. */
  def subdirs(base: String): Seq[Dir] =
    list(base).filter(_.isDir).map(e => Dir(e.name, e.path))

  /** Plain files of `base`, sorted by name; missing base → empty. */
  def files(base: String): Seq[Dir] =
    list(base).filterNot(_.isDir).map(e => Dir(e.name, e.path))

  def exists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(hadoopConf).exists(p)
  }

  /** One metadata RPC; false when missing. */
  def isDir(path: String): Boolean = status(path).exists(_.isDirectory)

  /** One metadata RPC; false when missing (File.isFile equivalent —
    * prefer over `exists && !isDir`, which costs three RPCs). */
  def isFile(path: String): Boolean = status(path).exists(_.isFile)

  private def status(path: String): Option[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(path)
    try Some(p.getFileSystem(hadoopConf).getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Open a path for reading on whatever store owns it. Buffered; the
    * caller closes. On executors, where no session is active, the
    * store is resolved through the executor's shared [[hadoopConf]]:
    * the default Hadoop resources plus every `spark.hadoop.*` entry of
    * the executor's SparkConf. */
  def open(path: String): java.io.InputStream = {
    val p = new Path(path)
    new java.io.BufferedInputStream(p.getFileSystem(hadoopConf).open(p))
  }

  /** Read a path fully. */
  def readBytes(path: String): Array[Byte] = {
    val in = open(path)
    try in.readAllBytes() finally in.close()
  }

  /** Final path segment (File.getName for URI-or-local paths). */
  def baseName(path: String): String = new Path(path).getName

  /** Parent path (File.getParent equivalent); null at the root. */
  def parent(path: String): String = {
    val p = new Path(path).getParent
    if (p == null) null else externalForm(p)
  }

  /** Recursive file listing: descends depth-first in name order (the
    * same traversal a sorted java.io.File walk produces). */
  def walkFiles(base: String): Seq[Dir] =
    list(base).flatMap { e =>
      if (e.isDir) walkFiles(e.path) else Seq(Dir(e.name, e.path))
    }

  /** Whether `path` lives on the local filesystem. */
  def isLocal(path: String): Boolean = {
    val scheme = new Path(path).toUri.getScheme
    scheme == null || scheme == "file"
  }

  /** A local `java.io.File` for `path`: the file itself when it lives
    * on the local FS, otherwise a temp copy staged to executor-local
    * scratch. Exists for readers that need random access —
    * `java.util.zip.ZipFile` wants a seekable local file; the
    * reference stages zip archives to temp dirs the same way
    * (bl/detect.py). Sequential readers should prefer [[open]].
    *
    * Lifecycle: the CALLER owns a staged copy — delete it when done
    * (use [[withLocalFile]] for scoped use; long-lived holders check
    * [[isLocal]] and delete on close). A long-lived executor that
    * staged thousands of archives without deleting would fill local
    * scratch; deleteOnExit is only the last-resort backstop. */
  def localFile(path: String): java.io.File = {
    val p = new Path(path)
    if (isLocal(path)) new java.io.File(p.toUri.getPath)
    else {
      val fs = p.getFileSystem(hadoopConf)
      val tmp = java.io.File.createTempFile("graft-stage-",
        "-" + p.getName)
      tmp.deleteOnExit()
      val local = new Path(tmp.getAbsolutePath)
      fs.copyToLocalFile(false, p, local, true)
      tmp
    }
  }

  /** Scoped [[localFile]]: a staged temp copy is deleted when `f`
    * returns; a pass-through local file is left alone. */
  def withLocalFile[T](path: String)(f: java.io.File => T): T = {
    val file = localFile(path)
    try f(file)
    finally if (!isLocal(path)) file.delete()
  }

  /** Child path under `base` (File(base, name) equivalent). */
  def child(base: String, name: String): String =
    externalForm(new Path(base, name))
}

package graft

import java.net.URI
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

import graft.util.LocalFs

/** Committed after the body of [[LocalFsSpec.forks]]: once the stream
  * has delivered it, it has delivered every event committed before. */
@jdk.jfr.Name("graft.spec.Fence")
class JfrFence extends jdk.jfr.Event

/** [[LocalFs]]: local writes set permissions without forking, to the
  * same modes as Hadoop's stock `LocalFileSystem`. */
class LocalFsSpec extends AnyFunSuite {
  import SparkTestSession._
  import ImporterCliSpec.importKb

  private val Keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")

  /** Runs `body` with the context's `fs.file.impl` and its cache switch
    * unset but for `settings`, then restores both. */
  private def withFileImpl[T](settings: (String, String)*)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Keys.map(k => k -> Option(conf.get(k)))
    Keys.foreach(conf.unset)
    settings.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Hadoop's own checksummed local filesystem, uncached: the JVM-wide
    * cache may hold a `file:` instance of another class. */
  private val Stock = Seq("fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Commands of the processes this JVM started while `body` ran. */
  private def forks(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]
    val fenced = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[JfrFence])
      rs.onEvent("jdk.ProcessStart", e => seen.add(e.getString("command")))
      rs.onEvent("graft.spec.Fence", _ => fenced.countDown())
      rs.startAsync()
      body
      new JfrFence().commit()
      assert(fenced.await(60, TimeUnit.SECONDS), "no fence from the stream")
    } finally rs.close()
    seen.asScala.toSeq
  }

  private def chmods(cmds: Seq[String]): Seq[String] =
    cmds.filter(_.split(" ").headOption.exists(_.endsWith("chmod")))

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Five issues over three years, one of them truncated. */
  private def kbTree(): Path = ImporterCliSpec.kbTree(5, 1680L, truncate = true)

  /** Every file and directory under `root`, its name with the write's
    * part numbers and job uuids blanked, mapped to its modes and
    * contents. */
  private def tree(root: Path): Map[String, Set[(Int, String)]] =
    Files.walk(root).iterator().asScala.filter(_ != root).toSeq.map { p =>
      val name = root.relativize(p).toString
        .replaceAll("part-\\d+-[0-9a-f-]{36}", "part-*")
      val body =
        if (Files.isDirectory(p)) "dir"
        else java.util.Base64.getEncoder.encodeToString(Files.readAllBytes(p))
      name -> (mode(p), body)
    }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }

  test("ImporterCli.run forks no chmod") {
    val in = kbTree()
    val out = Files.createTempDirectory("localfs-out")
    // without libhadoop a stock local write forks, and the stream sees it
    val stock = forks(withFileImpl(Stock: _*)(
      importKb(in, out.resolve("stock"))))
    if (!NativeIO.isAvailable) assert(chmods(stock).nonEmpty, stock)
    val mine = forks(importKb(in, out.resolve("nio")))
    assert(chmods(mine).isEmpty,
      s"${chmods(mine).size} chmod forks: ${chmods(mine).take(3)}")
  }

  test("files, .crc sidecars and directories: same modes and bytes as " +
      "the stock LocalFileSystem") {
    val in = kbTree()
    val out = Files.createTempDirectory("localfs-modes")
    val s0 = withFileImpl(Stock: _*)(importKb(in, out.resolve("stock")))
    val s1 = withFileImpl()(importKb(in, out.resolve("nio")))
    assert(s0 == s1 && s1.quarantined == 1)
    val (stock, nio) = (tree(out.resolve("stock")), tree(out.resolve("nio")))
    assert(nio == stock)
    val names = nio.keySet
    for (suffix <- Seq(".txt.bz2", ".txt.bz2.crc", "_SUCCESS.crc", ".json"))
      assert(names.exists(_.endsWith(suffix)), suffix)
    assert(names.exists(_.matches("pages/alias=[^/]+/year=\\d{4}")), names)
  }

  test("install takes effect after a stock file: instance was cached") {
    withFileImpl() {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new URI("file:///")
      // whichever class the cache holds (which depends on the jars and
      // on who asked first), it is not ours
      assert(!FileSystem.get(root, conf).isInstanceOf[LocalFs])
      LocalFs.install(spark)
      assert(FileSystem.get(root, conf).getClass == classOf[LocalFs])
      assert(new HPath(Files.createTempDirectory("localfs-get").toUri)
        .getFileSystem(conf).getClass == classOf[LocalFs])
    }
  }

  test("a context that names its own fs.file.impl keeps it") {
    val own = classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName
    withFileImpl("fs.file.impl" -> own) {
      val conf = spark.sparkContext.hadoopConfiguration
      LocalFs.install(spark)
      assert(conf.get("fs.file.impl") == own)
      assert(conf.get("fs.file.impl.disable.cache") == null)
    }
  }

  test("a sticky directory mode is still set, through the stock path") {
    val fs = new LocalFs
    fs.initialize(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("localfs-sticky")
    val (sticky, plain) = (dir.resolve("sticky"), dir.resolve("plain"))
    val cmds = forks {
      for ((p, m) <- Seq(sticky -> 0x3ff, plain -> 0x1e8)) {
        val hp = new HPath(p.toUri)
        assert(fs.mkdirs(hp))
        fs.setPermission(hp, new FsPermission(m.toShort))
      }
    }
    assert(mode(sticky) == 0x3ff, Integer.toOctalString(mode(sticky)))
    assert(mode(plain) == 0x1e8, Integer.toOctalString(mode(plain)))
    // 01777 needs the stock path; 0750 (and mkdirs) do not
    if (!NativeIO.isAvailable)
      assert(chmods(cmds).map(_.split(" ")(1)) == Seq("1777"), cmds)
    fs.close()
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, closed loop (one
  * caller runs one `...Cli.run` after another on a `local[cores]`
  * session in this JVM). Writes its result as JSON to `--result`.
  *
  * {{{
  * perfbench.Main --workload=import_kb|curate --seed=N
  *   --seconds=S --trace=0|1 --cores=N --work=DIR --result=FILE
  *   --trace-file=FILE --python=PYTHON --oracle=oracle.py
  * }}}
  *
  * Untraced (`--trace=0`): one cold set-up (session start, input
  * generation, one untimed warm-up call), timed as `setup_s`;
  * then calls are timed until `--seconds` have passed and at least
  * [[MinCalls]] have run, each output checked and deleted.
  * Traced (`--trace=1`): [[TracedPairs]] pairs of one call without
  * listeners and one traced call, then the direct layer calls of
  * [[Layers]]; the spans go to `--trace-file`.
  */
object Main {
  val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Calls an untraced run times at the least. The calls still speed
    * up after the warm-up call (the second timed call is about a tenth
    * faster than the first), so `run_s` is a median over the same
    * calls only when every run makes the same number of them. */
  val MinCalls = 2

  /** Plain/traced call pairs of a traced run (plain first, then traced
    * first); `trace.overhead_s` is the median of their differences. */
  val TracedPairs = 2

  /** Modules whose jobs the traced run counts separately. */
  val Modules = Seq("ImporterCli", "ImportJob", "RebuilderCli", "RebuildJob",
    "CurateCli", "Curation", "Dedup", "Iter", "Stats", "Tables")

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, work: String, result: String,
      traceFile: String, oracle: Seq[String])

  def parse(argv: Array[String]): Opts = {
    val kv = "--([a-z-]+)=(.*)".r
    val m = argv.collect { case kv(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k=..."))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("cores").toInt, req("work"), req("result"),
      req("trace-file"), Seq(req("python"), req("oracle")))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bench's fixed-work host-noise canary, in milliseconds. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    seconds(t0) * 1e3
  }

  def peakRssMb(): Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status"), UTF_8)
      .toArray(Array[String]()).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in status"))
    hwm.split("\\s+")(1).toDouble / 1024.0
  }

  /** Peak use of each JVM memory pool (heap generations, metaspace,
    * code cache) since the JVM started, in MB. */
  def poolPeaksMb(): Map[String, Double] =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .map(p => p.getName -> p.getPeakUsage.getUsed / 1048576.0).toMap

  /** Heap in use after a full collection: what the calls so far left
    * live. Spark frees the blocks of unreachable RDDs (local checkpoints
    * among them) from a cleaner thread once a collection has found
    * them, so the listener bus is drained and the heap collected a few
    * times, with a pause for the cleaner, before reading it. */
  def liveHeapMb(spark: SparkSession): Double = {
    for (_ <- 0 until 3) {
      System.gc()
      Thread.sleep(200)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
    }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Outcome of one measured call: wall seconds (None if it threw) and
    * wrong outcomes. */
  final case class Call(seconds: Option[Double], wrong: Long)

  def call(spark: SparkSession, w: Workload, out: String,
      body: (=> Unit) => Unit = b => b): Call = {
    System.gc()
    val t0 = System.nanoTime()
    Try(body(w.run(spark, out))) match {
      case Success(_) =>
        val dt = seconds(t0)
        val wrong = Try(w.check(spark, out)) match {
          case Success(n) => n.min(w.attempted)
          case Failure(e) =>
            System.err.println(s"[perfbench] check failed: $e"); w.attempted
        }
        Call(Some(dt), wrong)
      case Failure(e) =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        Call(None, w.attempted)
    }
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    Files.createDirectories(Paths.get(o.work))
    val w = Workload(o.workload, o.seed, o.oracle)
    val out = if (o.trace) traced(o, w) else untraced(o, w)
    Files.write(Paths.get(o.result), Json.writeValueAsBytes(out))
  }

  private def metric(v: Double, unit: String): Map[String, Any] =
    Map("value" -> v, "unit" -> unit)

  /** One untimed call, and one canary so that the canary's samples
    * are warm too. */
  private def warmUp(spark: SparkSession, w: Workload, work: String): Unit = {
    w.run(spark, s"$work/warmup")
    Fs.delete(s"$work/warmup")
    canary(spark)
  }

  def untraced(o: Opts, w: Workload): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = session(o)
    val t1 = System.nanoTime()
    w.generate(spark, s"${o.work}/in")
    val t2 = System.nanoTime()
    warmUp(spark, w, o.work)
    val setupS = seconds(t0)
    val phases = Seq((t1 - t0) / 1e9, (t2 - t1) / 1e9, seconds(t2))
    w match { case c: Curate => c.loadOracle(o.work); case _ => () }

    val runs = ArrayBuffer[Double]()
    val canaries = ArrayBuffer[Double]()
    var attempted, failed, bytesOut = 0L
    var liveMb = 0.0
    val start = System.nanoTime()
    var i = 0
    while (i < MinCalls || seconds(start) < o.seconds) {
      canaries += canary(spark)
      val dir = s"${o.work}/out$i"
      val c = call(spark, w, dir)
      c.seconds.foreach(runs += _)
      if (bytesOut == 0L && c.seconds.isDefined) bytesOut = Fs.bytesUnder(dir)
      attempted += w.attempted
      failed += c.wrong
      Fs.delete(dir)
      // after a fixed number of calls (warm-up and this one), so what
      // the program keeps per call shows the same way on every run
      if (i == 0) liveMb = liveHeapMb(spark)
      i += 1
    }
    spark.stop()
    if (runs.isEmpty) throw new IllegalStateException("every call failed")
    val runS = median(runs.toSeq)
    val inputBytes = w.inputs.map(_._2).sum
    Map(
      "correct" -> (failed == 0L),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Map(
        "setup_s" -> metric(setupS, "s"),
        "run_s" -> metric(runS, "s"),
        "items_per_s" -> metric(w.items / runS, "1/s"),
        "live_heap_mb" -> metric(liveMb, "MB"),
        "bytes_out_per_byte_in" ->
          metric(bytesOut.toDouble / inputBytes, "B/B")),
      "record" -> Map(
        "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
        "setup_session_generate_warmup_s" -> phases,
        "run_s_samples" -> runs.toSeq,
        "items_per_call" -> w.items,
        "attempted_per_call" -> w.attempted,
        "failed_share" -> failed.toDouble / attempted,
        "inputs" -> w.inputs.toMap,
        "bytes_out" -> bytesOut,
        "peak_rss_mb" -> peakRssMb(),
        "pool_peak_mb" -> poolPeaksMb(),
        "canary_ms" -> canaries.toSeq))
  }

  def traced(o: Opts, w: Workload): Map[String, Any] = {
    val spark = session(o)
    val in = s"${o.work}/in"
    w.generate(spark, in)
    // two warm-up calls: the calls speed up fastest over the first few,
    // and the pairs below should sit where the curve is flatter
    warmUp(spark, w, o.work)
    warmUp(spark, w, o.work)
    w match { case c: Curate => c.loadOracle(o.work); case _ => () }
    // the layer calls need every kind of input; make what this
    // workload's set-up did not
    val sweep = s"${o.work}/sweep"
    val kb = w match {
      case k: ImportKb => k
      case _ => val k = new ImportKb(o.seed); k.generate(spark, sweep); k
    }
    val docs = w match {
      case c: Curate => c
      case _ => val c = new Curate(o.seed, Nil); c.generate(spark, sweep); c
    }

    var attempted, failed = 0L
    def measured(c: Call): Double = {
      attempted += w.attempted
      failed += c.wrong
      c.seconds.getOrElse(throw new IllegalStateException("the call failed"))
    }
    // plain and traced calls, the listeners registered only around the
    // traced ones and the block manager read outside every timer; the
    // pairs alternate which goes first, so the calls' own speed-up over
    // a run cancels from the difference
    val trace = new Trace(spark)
    val plain, traced, canaries = ArrayBuffer[Double]()
    val left = ArrayBuffer[(Int, Long)]()
    def plainCall(): Unit = {
      plain += measured(call(spark, w, s"${o.work}/plain"))
      Fs.delete(s"${o.work}/plain")
    }
    def tracedCall(k: Int): Unit = {
      val before = Storage.cached(spark).map(_._1).toSet
      trace.start()
      trace.iteration = k
      traced += measured(call(spark, w, s"${o.work}/traced",
        body => trace.span("cli.run")(body)))
      trace.stop()
      val added = Storage.cached(spark).filterNot(r => before(r._1))
      left += ((added.size, added.map(_._2).sum))
      Fs.delete(s"${o.work}/traced")
    }
    for (k <- 1 to TracedPairs) {
      canaries += canary(spark)
      if (k % 2 == 1) { plainCall(); tracedCall(k) }
      else { tracedCall(k); plainCall() }
    }
    val figures = trace.sparkMetrics("cli.run", o.cores, Modules)
    trace.start()
    trace.iteration = 0
    val layers = new Layers(spark, trace, o.work, o.seed)
    layers.discover(kb.kbDir)
    layers.parseAndValidate(kb.kbDir, kb.expected.corrupt)
    val canonical = layers.importJobs(kb.kbDir)
    val (solr, stats) = layers.rebuild(canonical)
    layers.curate(docs.docsDir, docs.evalDir)
    // the layer calls' outputs are checked like the workloads' own
    attempted += kb.attempted + kb.expected.ciTokens.size
    failed += KbCheck.imported(spark, canonical, kb.expected, o.seed,
      kb.tokensSchema) + KbCheck.rebuilt(spark, solr, stats, kb.expected)
    trace.stop()
    Files.write(Paths.get(o.traceFile), Json.writeValueAsBytes(trace.record))
    spark.stop()

    val all = layers.result ++ figures ++ Seq(
      ("storage.rdds_left", median(left.map(_._1.toDouble).toSeq), "count"),
      ("storage.mb_left", median(left.map(_._2 / 1048576.0).toSeq), "MB"),
      ("trace.overhead_s", median(traced.zip(plain).map { case (t, u) =>
        t - u }.toSeq), "s"),
      ("host.canary_ms", median(canaries.toSeq), "ms"))
    Map(
      "correct" -> (failed == 0L),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> all.map { case (n, v, u) => n -> metric(v, u) }.toMap,
      "record" -> Map(
        "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
        "untraced_run_s_samples" -> plain.toSeq,
        "traced_run_s_samples" -> traced.toSeq,
        "canary_ms" -> canaries.toSeq,
        "trace_file" -> o.traceFile))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps
import graft.streaming.EventStream
import graft.util.Tables

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  // the file-stream source requires a directory; stage the single parquet
  private lazy val eventsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("readEvents normalizes ts identically to the batch reader") {
    // the one place a testdata regeneration that switches the ts
    // physical type can fail loudly: every downstream equivalence test
    // assumes the streaming and batch readers produce identical rows
    val q = EventStream.readEvents(spark, eventsPath)
      .writeStream.outputMode("append")
      .format("memory").queryName("rawevents")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rawevents").orderBy("event_id").collect()
    val batch = Tables.events(spark, sf).orderBy("event_id").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("readEvents handles the legacy long-nanos events form identically") {
    // the driver has shipped events.ts as both TIMESTAMP(NANOS)/long
    // and plain micros; the current testdata is micros, so the nanos
    // branch gets its own synthesized table (BIGINT nanos — the form
    // ScaleUp also writes) to keep both reader branches pinned
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events-nanos")
    Seq((1L, 1600000000000000000L, 10L, "click", 1.5, "{}"),
      (2L, 1600000003600000000L, 11L, "purchase", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val q = EventStream.readEvents(spark, s"$dir/events.parquet")
      .writeStream.outputMode("append")
      .format("memory").queryName("nanosevents")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("nanosevents").orderBy("event_id").collect()
    val batch = Tables.events(spark, dir.toString).orderBy("event_id").collect()
    assert(streamed.length == 2 && batch.length == 2)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    // and the normalized value is the truncated-to-micros timestamp
    assert(batch(0).getTimestamp(1).getTime == 1600000000000L)
  }

  test("readEvents is definable on an empty directory (start-before-data)") {
    // the schema probe cannot infer from zero files; the reader must
    // fall back instead of throwing at stream-definition time, and the
    // stream must pick up files that arrive after it starts
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events-empty").toString
    val stream = EventStream.readEvents(spark, dir) // must not throw
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("emptystart")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    assert(spark.table("emptystart").count() == 0)
    q.stop()
    // data arrives in the fallback shape (tz-naive micros + props):
    // a fresh AvailableNow pass reads it with ts normalized
    Seq((1L, java.time.LocalDateTime.of(2020, 9, 13, 12, 26, 40),
      10L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(dir)
    val q2 = EventStream.readEvents(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("emptystart2")
      .trigger(Trigger.AvailableNow()).start()
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.table("emptystart2")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "2020-09-13 12:26:40")
  }

  test("streaming windowed agg equals the batch tumbling agg") {
    val stream = EventStream.readEvents(spark, eventsPath)
    val agg = EventStream.windowedAgg(stream, "1 hour", "10 minutes")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("w_start"), col("event_type"), col("n"), col("sum_value"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("winagg")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("winagg")
      .orderBy("w_start", "event_type").collect()
    val batch = EventOps.tumblingAgg(Tables.events(spark, sf), "1 hour")
      .orderBy("w_start", "event_type").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getString(0) == b.getString(0))
      assert(s.getString(1) == b.getString(1))
      assert(s.getLong(2) == b.getLong(2))
      assert(s.getDouble(3) == b.getDouble(3))
    }
  }

  test("streaming dedup collapses an at-least-once re-delivery to the batch distinct") {
    // stage the SAME events file twice: a source re-delivering every event
    val dir = java.nio.file.Files.createTempDirectory("events-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("b.parquet"))
    val deduped = EventStream.dedupEvents(
      EventStream.readEvents(spark, dir.toString), "10 minutes")
      .select("event_id", "user_id", "event_type", "value")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("evdedup")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("evdedup").orderBy("event_id").collect()
    val batch = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id").collect()
    assert(streamed.length == batch.length, "duplicates survived the stream")
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("stream-static enrichment equals the batch broadcast join") {
    val stream = EventStream.readEvents(spark, eventsPath)
    val dim = Tables.customer(spark, sf)
    val enriched = EventStream.enrich(stream, dim, "user_id", "c_custkey")
      .select("event_id", "user_id", "c_mktsegment")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("enrich").orderBy("event_id").collect()
    val batch = EventStream.enrich(Tables.events(spark, sf), dim,
        "user_id", "c_custkey")
      .select("event_id", "user_id", "c_mktsegment")
      .orderBy("event_id").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("stream-stream interval join equals the batch interval join") {
    val stream = EventStream.readEvents(spark, eventsPath)
    val joined = EventStream.intervalJoin(stream, windowHours = 6,
      watermark = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssjoin")
      .orderBy("purchase_id", "click_id").collect()
    val batch = EventOps.intervalJoin(Tables.events(spark, sf), 6)
      .orderBy("purchase_id", "click_id").collect()
    assert(streamed.length == batch.length && batch.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("incremental import drains each file exactly once across runs") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val in = Files.createTempDirectory("inc-in").toString
    val cp = Files.createTempDirectory("inc-cp").toString
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("v", IntegerType)))
    def writeFile(name: String, rows: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(in, name),
        rows.mkString("\n").getBytes)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Unit =
      graft.streaming.IncrementalImport.runAvailableNow(
        spark, in, schema, cp,
        (df, _) => seen.synchronized {
          seen ++= df.collect().map(_.getString(0))
        })
    writeFile("a.jsonl", Seq("""{"id":"A-1900-01-01-a","v":1}""",
      """{"id":"A-1900-01-02-a","v":2}"""))
    writeFile("b.jsonl", Seq("""{"id":"B-1900-01-01-a","v":3}"""))
    drain()
    assert(seen.sorted == Seq("A-1900-01-01-a", "A-1900-01-02-a",
      "B-1900-01-01-a"))
    // second run with a new file: ONLY the new file's rows arrive
    seen.clear()
    writeFile("c.jsonl", Seq("""{"id":"C-1900-01-01-a","v":4}"""))
    drain()
    assert(seen.toSeq == Seq("C-1900-01-01-a"))
    // third run with nothing new: no rows
    seen.clear()
    drain()
    assert(seen.isEmpty)
  }

  test("exactly-once sink: replayed batch ids are skipped, restarts append only new data") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val in = Files.createTempDirectory("eo-in").toString
    val cp = Files.createTempDirectory("eo-cp").toString
    val out = Files.createTempDirectory("eo-out").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("v", IntegerType)))
    def writeFile(name: String, rows: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(in, name),
        rows.mkString("\n").getBytes)
    def drain(): Unit =
      graft.streaming.IncrementalImport.runAvailableNow(
        spark, in, schema, cp,
        (df, id) => graft.streaming.ExactlyOnceSink.parquetBatch(out)(df, id))
    writeFile("a.jsonl", Seq("""{"id":"a","v":1}""", """{"id":"b","v":2}"""))
    drain()
    // crash-replay simulation: the SAME batch id re-delivers the same
    // rows — the sink must skip, not duplicate
    val replay = spark.read.schema(schema).json(s"$in/a.jsonl")
    assert(!graft.streaming.ExactlyOnceSink.parquetBatch(out)(replay, 0L),
      "replayed batch id must be skipped")
    // a restart with new input appends ONLY the new rows (new batch id)
    writeFile("b.jsonl", Seq("""{"id":"c","v":3}"""))
    drain()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3, "duplicated or lost rows")
    assert(rows.select("id").orderBy("id").collect().map(_.getString(0))
      .toSeq == Seq("a", "b", "c"))
    // the batch partition column is readable (retention unit)
    assert(rows.select("batch").distinct().count() == 2)
  }

  test("stateful streaming sessionization agrees with batch sessionize") {
    val stream = EventStream.readEvents(spark, eventsPath)
    val updates = EventStream.sessionize(stream, 30)
    val q = updates.toDF().writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions")
    val batch = EventOps.sessionize(Tables.events(spark, sf), 30)
    // closed sessions + one open session per user == batch session count
    assert(streamed.count() == batch.count())
    // per-user total event counts agree
    val sTotals = streamed.groupBy("user_id")
      .agg(sum("n_events").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bTotals = batch.groupBy("user_id")
      .agg(sum("n_events").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sTotals == bTotals)
  }

  test("event-time timeout closes abandoned sessions; closed set == batch once the watermark passes") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("sesstmo").toString
    // f0: user 1 (2 events), user 2 (1 event); f1: user 2 returns
    // after the gap (gap-closes session 1); f2: a sentinel user far
    // in the future pushes the watermark past every horizon — user
    // 1's session must close by TIMEOUT (no successor event exists,
    // the case plain sessionize keeps open forever)
    val batches = Seq(
      Seq((1L, ts("2024-01-01 10:00:00"), 1L),
        (2L, ts("2024-01-01 10:05:00"), 1L),
        (3L, ts("2024-01-01 10:00:00"), 2L)),
      Seq((4L, ts("2024-01-01 11:00:00"), 2L)),
      Seq((5L, ts("2024-01-01 13:00:00"), 99L)))
    batches.zipWithIndex.foreach { case (evs, i) =>
      evs.toDF("event_id", "ts", "user_id").coalesce(1)
        .write.parquet(s"$dir/f$i")
      Thread.sleep(5)
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*")
    val q = EventStream.sessionizeTimeout(stream, gapMinutes = 30,
        watermark = "1 minute")
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("sesstmo")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sesstmo")
      .orderBy("user_id", "start_us").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(4)))
    // every emission is a CLOSED session (no open echoes)
    assert(closed.forall(_._3))
    // user 1: timeout-closed (n=2, never had a successor event);
    // user 2: session 1 gap-closed, session 2 timeout-closed; the
    // sentinel's own session is still inside its horizon — open,
    // unemitted
    assert(closed.map(c => (c._1, c._2)).toSeq ==
      Seq((1L, 2), (2L, 1), (2L, 1)))
    // closed set == the batch sessionization of the non-sentinel
    // corpus (timeout closure converges to the batch answer)
    val batch = EventOps.sessionize(
        batches.flatten.filter(_._3 != 99L)
          .toDF("event_id", "ts", "user_id"), 30)
      .orderBy("user_id", "start_ts").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(batch.toSeq == Seq((1L, 2L), (2L, 1L), (2L, 1L)))
  }

  test("stateful streaming gap fill replays to the batch resample exactly") {
    val stream = EventStream.readEvents(spark, eventsPath)
    val filled = EventStream.gapFill(stream)
    val q = filled.toDF().writeStream.outputMode("append")
      .format("memory").queryName("gapfill")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    // closed ∪ open rows == the batch grid, row for row (the batch
    // operator's final bucket per user is the stream's open bucket)
    val streamed = spark.table("gapfill")
      .select(col("user_id"), col("bucket"), col("n"),
        floor(col("fill_value") * lit(1000000.0)).cast("bigint")
          .as("fill_e6"))
      .collect().map(_.toSeq).toSet
    val batch = EventOps.resampleFill(Tables.events(spark, sf))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.exists(r => r(2) == 0L), "the corpus has gap rows")
  }

  test("winnow ingest gate: streamed survivors == exact batch survivors") {
    import graft.operators.Dedup
    import graft.streaming.IngestGate
    // corpus = docs % 5 != 0, stream = docs % 5 == 0 — the d13 split
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batchDocs = docs.filter(col("doc_id") % 5 === 0)
    val direct = Dedup.incrementalWinnowNew(batchDocs, corpus,
      "doc_id", "text").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // stage the stream side as parquet files
    val dir = java.nio.file.Files.createTempDirectory("docs-stream")
    batchDocs.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(batchDocs.schema).parquet(dir.toString)
    val gated = IngestGate.winnowGate(stream,
      Dedup.winnowedFingerprints(corpus, "doc_id", "text"), "text")
    val q = gated.select("doc_id").writeStream.outputMode("append")
      .format("memory").queryName("winnowgate")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("winnowgate")
      .collect().map(_.getLong(0)).toSet
    // Bloom false positives can only DROP extra docs (survivor subset);
    // at fpp 1e-6 on this corpus the sets are identical
    assert(streamed == direct)
    assert(direct.nonEmpty && direct.size < batchDocs.count(),
      "the split must exercise both keeps and drops")
  }

  test("embed ingest gate: streamed survivors == batch banded-cosine cut") {
    import graft.operators.Similarity
    import graft.streaming.IngestGate
    val e = Tables.embeddings(spark, sf)
    val lake = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    // the batch reference: the d17 indexed path, uncapped
    Similarity.writeRhpIndex(lake, "vec_id", "embedding",
      "spec_e12_rhp_idx", bands = 16, bits = 4)
    val direct = Similarity.incrementalEmbedNewIndexed(spark,
      "spec_e12_rhp_idx", batch, "vec_id", "embedding",
      threshold = 0.35, maxBucket = Int.MaxValue)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val gated = IngestGate.embedGate(batch, lake, "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gated == direct,
      s"extra=${gated -- direct} missing=${direct -- gated}")
    assert(direct.nonEmpty && direct.size < batch.count(),
      "the split must exercise both keeps and drops")
    // streamed == static
    val dir = java.nio.file.Files.createTempDirectory("embed-stream")
    batch.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(batch.schema)
      .parquet(dir.toString)
    val q = IngestGate.embedGate(stream, lake, "embedding", 0.35)
      .select("vec_id").writeStream.outputMode("append")
      .format("memory").queryName("embedgate")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("embedgate").collect()
      .map(_.getLong(0)).toSet == direct)
    // a wrong-dimension vector produces no band keys and survives —
    // the batch probe's no-rows behavior; a whole-NULL vector must
    // survive the same way (filter(!NULL) would silently drop it)
    import spark.implicits._
    val odd = Seq((900001L, Array(1.0f, 2.0f)),
      (900002L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    assert(IngestGate.embedGate(odd, lake, "embedding", 0.35)
      .count() == 2L)
    // an under-sized geometry is REFUSED, not silently brute-forced
    val ex = intercept[IllegalArgumentException] {
      IngestGate.embedGate(batch, lake, "embedding", 0.35,
        maxAvgBucket = 10)
    }
    assert(ex.getMessage.contains("rhpGeometry"), ex.getMessage)
  }

  test("kn perplexity gate: bounded model only raises xent; full-coverage == batch scoring") {
    import graft.operators.Curation
    import graft.streaming.IngestGate
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val streamDocs = docs.filter(col("doc_id") % 5 === 0)
    // topN far beyond the corpus' distinct-bigram count = full model
    val full = Curation.knGateModel(corpus, "doc_id", "text",
      topN = 10000000)
    val bounded = Curation.knGateModel(corpus, "doc_id", "text",
      topN = 50)
    assert(bounded.bigrams.size == 50 &&
      full.bigrams.size > bounded.bigrams.size)
    assert(full.lnUnseen == bounded.lnUnseen) // same whole-model min
    def score(m: Curation.KnGateModel) = {
      val (nb, xe) = IngestGate.knScoreCols(m, "text")
      streamDocs.select(col("doc_id"), nb.as("m"), xe.as("x"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    }
    val sFull = score(full)
    val sBounded = score(bounded)
    // the ⊆ side: flooring dropped transitions to min lnp can only
    // RAISE xent, so bounded survivors ⊆ full survivors at ANY cut
    sFull.foreach { case (id, (m, x)) =>
      assert(sBounded(id)._1 == m)
      assert(sBounded(id)._2 >= x, s"doc $id: bounded < full")
    }
    assert(sBounded.exists { case (id, (_, x)) => x > sFull(id)._2 },
      "the 50-bigram bound must actually floor some transition")
    // full-coverage gate scoring == the batch t13 self-score, doc for
    // doc (same n·lnp products; addition order differs by ulps the
    // e6 floor absorbs)
    val batch = Curation.knBigramScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val (nb, xe) = IngestGate.knScoreCols(full, "text")
    val gateSelf = corpus
      .select(col("doc_id"), nb.as("m"), xe.as("x"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(gateSelf.keySet == batch.keySet)
    batch.foreach { case (id, (m, x)) =>
      assert(gateSelf(id)._1 == m, s"doc $id n_bigrams")
      assert(gateSelf(id)._2 == x, s"doc $id xent: ${gateSelf(id)._2} vs $x")
    }
  }

  test("language gate: survivors == the batch t3 allowlist + confidence cut") {
    import graft.functions.TextAnalysis
    import graft.streaming.IngestGate
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val batch = docs
      .select(col("doc_id"), TextAnalysis.langId(col("text"))
        .as("pred"),
        greatest(TextAnalysis.LangStopwords.map { case (l, _) =>
          TextAnalysis.langScore(col("text"), l) }: _*).as("conf"))
      .filter(col("pred").isin("en", "de") && col("conf") >= 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gated = IngestGate.langGate(docs, Set("en", "de"), "text",
        minHits = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gated == batch)
    assert(batch.nonEmpty && batch.size < docs.count(),
      "the corpus must exercise both keeps and drops")
    // null text scores 0 everywhere -> 'und' -> dropped, never a crash
    val edge = Seq((1L, null.asInstanceOf[String]),
      (2L, "the cat and the dog of the house"))
      .toDF("doc_id", "text")
    assert(IngestGate.langGate(edge, Set("en"), "text")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // unknown languages are refused, not silently never-matched
    val ex = intercept[IllegalArgumentException] {
      IngestGate.langGate(docs, Set("xx"), "text")
    }
    assert(ex.getMessage.contains("unknown language"), ex.getMessage)
  }

  test("persisted gate artifacts round-trip: loaded KN model and embed index gate identically") {
    import graft.operators.Curation
    import graft.streaming.IngestGate
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val trained = Curation.knGateModel(corpus, "doc_id", "text",
      topN = 500)
    Curation.writeKnGateModel(spark, trained, "spec_kn_model")
    val loaded = Curation.loadKnGateModel(spark, "spec_kn_model")
    assert(loaded == trained) // map, unseen floor, discount — exact
    val cut = 3500000L
    assert(
      IngestGate.knGate(batch, loaded, "text", cut)
        .select("doc_id").collect().map(_.getLong(0)).toSet ==
      IngestGate.knGate(batch, trained, "text", cut)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    // embed index: persisted geometry + vectors gate identically to
    // the direct lake path
    val e = Tables.embeddings(spark, sf)
    val lake = e.filter(col("vec_id") % 5 =!= 0)
    val vbatch = e.filter(col("vec_id") % 5 === 0)
    IngestGate.writeEmbedGateIndex(spark, lake, "embedding",
      "spec_embed_idx")
    val direct = IngestGate.embedGate(vbatch, lake, "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val viaIdx = IngestGate.embedGateIndexed(vbatch, spark,
        "spec_embed_idx", "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaIdx == direct,
      s"extra=${viaIdx -- direct} missing=${direct -- viaIdx}")
    // incremental refresh: index(half) + append(other half) gates
    // identically to index(whole) — banded under the table's OWN meta
    // geometry, so the artifact can never mix planes
    val half1 = lake.filter(col("vec_id") % 2 === 0)
    val half2 = lake.filter(col("vec_id") % 2 =!= 0)
    IngestGate.writeEmbedGateIndex(spark, half1, "embedding",
      "spec_embed_idx2")
    IngestGate.appendEmbedGateIndex(spark, half2, "embedding",
      "spec_embed_idx2")
    val viaAppend = IngestGate.embedGateIndexed(vbatch, spark,
        "spec_embed_idx2", "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaAppend == direct,
      s"extra=${viaAppend -- direct} missing=${direct -- viaAppend}")
  }

  test("kn perplexity gate: streamed survivors == static gate; short docs pass") {
    import graft.operators.Curation
    import graft.streaming.IngestGate
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val streamDocs = docs.filter(col("doc_id") % 5 === 0)
    val model = Curation.knGateModel(corpus, "doc_id", "text",
      topN = 2000)
    // a cut at the stream's median score must split it
    val xents = streamDocs
      .select(IngestGate.knScoreCols(model, "text")._2.as("x"))
      .collect().map(_.getLong(0)).sorted
    val cut = xents(xents.length / 2)
    val direct = IngestGate.knGate(streamDocs, model, "text", cut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(direct.nonEmpty && direct.size < xents.length)
    val dir = java.nio.file.Files.createTempDirectory("kn-stream")
    streamDocs.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(streamDocs.schema).parquet(dir.toString)
    val q = IngestGate.knGate(stream, model, "text", cut)
      .select("doc_id").writeStream.outputMode("append")
      .format("memory").queryName("kngate")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("kngate")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == direct)
    // < 2 tokens → xent 0 → passes any non-negative cut; novel-token
    // docs score via the unseen floor, never NULL/crash
    val edge = Seq((1L, "solo"), (2L, ""), (3L, null),
      (4L, "zzz qqq zzz qqq")).toDF("doc_id", "text")
    val kept = IngestGate.knGate(edge, model, "text", 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
    val novel = edge.filter(col("doc_id") === 4L)
      .select(IngestGate.knScoreCols(model, "text")._2).head().getLong(0)
    assert(novel ==
      math.floor(-model.lnUnseen * 1000000.0).toLong,
      s"novel transitions must score the unseen floor, got $novel")
  }

  test("streaming CDC apply: versioned upserts, idempotent under replay") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val lakeDir = java.nio.file.Files.createTempDirectory("cdc-lake")
      .toString
    val updDir = java.nio.file.Files.createTempDirectory("cdc-upd")
      .toString
    val seed = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // two update files -> two micro-batches (maxFilesPerTrigger=1)
    Seq((2L, "B!"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$updDir/u1.parquet")
    Seq((4L, "d")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$updDir/u2.parquet")
    val stream = spark.readStream.schema(seed.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$updDir/*.parquet")
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        ExactlyOnceSink.upsertBatch(lakeDir, Seq("k"), seed)(df, id): Unit
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cdc-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val (v, path) = ExactlyOnceSink.latestVersion(spark, lakeDir).get
    val table = spark.read.parquet(path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(table == Map(1L -> "a", 2L -> "B!", 3L -> "c", 4L -> "d"))
    // replaying a committed batch id is skipped, table unchanged
    val replay = ExactlyOnceSink.upsertBatch(lakeDir, Seq("k"), seed)(
      Seq((9L, "ghost")).toDF("k", "v"), v)
    assert(replay == -1L)
    val after = spark.read.parquet(
      ExactlyOnceSink.latestVersion(spark, lakeDir).get._2)
      .collect().map(_.getLong(0)).toSet
    assert(!after.contains(9L))
    // every committed version has its marker; versions are retained
    assert(ExactlyOnceSink.latestVersion(spark, lakeDir).get._1 == v)
  }

  test("CDC vacuum: keeps newest versions, sweeps stale partials, latest still resolves") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val lakeDir = java.nio.file.Files.createTempDirectory("cdc-vac")
      .toString
    val seed = Seq((1L, "a")).toDF("k", "v")
    (0L to 3L).foreach { id =>
      ExactlyOnceSink.upsertBatch(lakeDir, Seq("k"), seed)(
        Seq((10L + id, s"v$id")).toDF("k", "v"), id): Unit
    }
    // a stale PARTIAL (no _SUCCESS) older than the latest commit: a
    // mid-write crash batch 2 superseded
    val partial = new java.io.File(lakeDir, "v=9")
    assert(partial.mkdirs())
    new java.io.File(partial, "part-0.parquet").createNewFile()
    // an in-flight partial NEWER than latest must survive vacuum
    val removed = ExactlyOnceSink.vacuumVersions(spark, lakeDir, keep = 2)
    val left = new java.io.File(lakeDir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(left == Set("v=2", "v=3", "v=9"),
      s"got $left removed=$removed")
    assert(removed == 2)
    assert(ExactlyOnceSink.latestVersion(spark, lakeDir).get._1 == 3L)
    val table = spark.read.parquet(
      ExactlyOnceSink.latestVersion(spark, lakeDir).get._2)
      .collect().map(_.getLong(0)).toSet
    assert(table == Set(1L, 10L, 11L, 12L, 13L))
  }

  test("CDC in-place apply: rewrites only touched partitions, idempotent under replay") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val lakeDir = java.nio.file.Files.createTempDirectory("cdc-inplace")
      .toString
    // partition column is a pure function of the key (k % 4)
    def withPart(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("p", col("k") % 4)
    val b0 = withPart(Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"),
      (4L, "e")).toDF("k", "v"))
    assert(ExactlyOnceSink.upsertBatchInPlace(lakeDir, Seq("k"), "p")(b0, 0L))
    val dataDir = new java.io.File(lakeDir, "data")
    def files(part: String): Set[String] =
      new java.io.File(dataDir, part).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val p3Before = files("p=3")
    // batch 1 touches partitions 0 (update k=0,4) and 1 (insert k=5)
    val b1 = withPart(Seq((0L, "A!"), (4L, "E!"), (5L, "f")).toDF("k", "v"))
    assert(ExactlyOnceSink.upsertBatchInPlace(lakeDir, Seq("k"), "p")(b1, 1L))
    def table(): Map[Long, String] = spark.read.parquet(dataDir.toString)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(table() == Map(0L -> "A!", 1L -> "b", 2L -> "c", 3L -> "d",
      4L -> "E!", 5L -> "f"))
    // untouched partition p=3 kept its exact files (no O(lake) rewrite)
    assert(files("p=3") == p3Before)
    // replay of a committed id is skipped and changes nothing
    assert(!ExactlyOnceSink.upsertBatchInPlace(lakeDir, Seq("k"), "p")(
      withPart(Seq((9L, "ghost")).toDF("k", "v")), 1L))
    assert(table() == Map(0L -> "A!", 1L -> "b", 2L -> "c", 3L -> "d",
      4L -> "E!", 5L -> "f"))
    // a NEW batch id with identical content converges (idempotent by
    // content — the crash-mid-overwrite recovery argument)
    assert(ExactlyOnceSink.upsertBatchInPlace(lakeDir, Seq("k"), "p")(b1, 2L))
    assert(table() == Map(0L -> "A!", 1L -> "b", 2L -> "c", 3L -> "d",
      4L -> "E!", 5L -> "f"))
    // crash-torn state: a prior attempt of batch 3 parked p=1 in _old
    // without swapping the staged copy in (the one non-atomic window) —
    // replay must restore the parked partition before merging, so no
    // key is lost
    val oldDir = new java.io.File(lakeDir, "_old/3")
    assert(oldDir.mkdirs())
    assert(new java.io.File(dataDir, "p=1")
      .renameTo(new java.io.File(oldDir, "p=1")))
    assert(ExactlyOnceSink.upsertBatchInPlace(lakeDir, Seq("k"), "p")(
      withPart(Seq((5L, "F2")).toDF("k", "v")), 3L))
    assert(table() == Map(0L -> "A!", 1L -> "b", 2L -> "c", 3L -> "d",
      4L -> "E!", 5L -> "F2"))
    // commit cleaned up its staging/park dirs
    assert(!new java.io.File(lakeDir, "_old/3").exists())
    assert(!new java.io.File(lakeDir, "_stage/3").exists())
  }

  test("phash ingest gate: streamed image survivors == exact band-collision cut") {
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.IngestGate
    // corpus = image ids % 5 != 0, stream = % 5 == 0: variant groups
    // straddle the split, so streamed members of corpus-resident
    // groups must drop while singleton-content images survive
    val all = Multimodal.imagePhash(
      Multimodal.syntheticVariantImages(spark, sf))
    val corpus = all.filter(col("media_id") % 5 =!= 0)
    val arriving = all.filter(col("media_id") % 5 === 0)
    // exact batch cut: any shared band key with the corpus -> dup
    val cKeys = corpus
      .select(explode(Dedup.bandKeys64(col("phash"), 4)).as("key"))
      .distinct()
    val dupIds = arriving
      .select(col("media_id"), explode(Dedup.bandKeys64(col("phash"), 4))
        .as("key"))
      .join(cKeys, "key").select("media_id").distinct()
    val direct = arriving.join(dupIds, Seq("media_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    // stage the arriving hashes as a file stream (the payload decode
    // already happened row-locally via imagePhash, which streams too)
    val dir = java.nio.file.Files.createTempDirectory("phash-stream")
    arriving.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(arriving.schema)
      .parquet(dir.toString)
    val q = IngestGate.phashGate(stream, corpus)
      .select("media_id").writeStream.outputMode("append")
      .format("memory").queryName("phashgate")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("phashgate")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == direct)
    assert(direct.size < arriving.count(),
      "the split must exercise drops")
  }

  test("streaming curation gate: survivors == the batch quality→winnow chain, one stateless plan") {
    import graft.operators.{Curation, Dedup}
    import graft.streaming.IngestGate
    val docs = graft.util.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val arriving = docs.filter(col("doc_id") % 5 === 0)
    // batch twin: x11 keep set, then d13's incremental winnow check
    val q = Curation.qualityFilter(arriving, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val batchKeep = Dedup.incrementalWinnowNew(
        arriving.join(q, "doc_id"), corpus, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // the gate as a real stream
    val dir = java.nio.file.Files.createTempDirectory("curate-stream")
    arriving.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(arriving.schema)
      .parquet(dir.toString)
    val gated = IngestGate.curateGate(stream,
      Dedup.winnowedFingerprints(corpus, "doc_id", "text"), "text")
    val sq = gated.select("doc_id").writeStream.outputMode("append")
      .format("memory").queryName("curategate")
      .trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable()
    val metrics = sq.recentProgress.toSeq
      .flatMap(p => scala.jdk.CollectionConverters
        .MapHasAsScala(p.observedMetrics).asScala)
      .groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2.getLong(0)).sum }
    sq.stop()
    val streamed = spark.table("curategate")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batchKeep)
    // per-stage drop accounting rides the stream's progress events:
    // rows in == the arriving split, each stage monotonically
    // non-increasing, the last tap == the survivor count
    assert(metrics("gate_in") == arriving.count(), metrics.toString)
    assert(metrics("gate_quality") <= metrics("gate_in"))
    assert(metrics("gate_winnow") <= metrics("gate_quality"))
    assert(metrics("gate_winnow") == streamed.size.toLong,
      metrics.toString)
    assert(batchKeep.nonEmpty && batchKeep.size < arriving.count(),
      "the corpus must exercise both keeps and drops")
    // the gate is one narrow chain: no exchange, no state store
    val plan = IngestGate.curateGate(arriving,
      Dedup.winnowedFingerprints(corpus, "doc_id", "text"), "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"gate must stay shuffle-free:\n${plan.take(1500)}")
    // with the embedding sidecar joined on, the optional embed stage
    // composes in and stays a narrow projection: survivors = the
    // composed chain ∩ the e12 gate's own keep set
    val e = graft.util.Tables.embeddings(spark, sf)
    val withVecs = arriving.join(
      e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val lake = e.filter(col("vec_id") % 5 =!= 0)
    val composed = IngestGate.curateGate(withVecs,
        Dedup.winnowedFingerprints(corpus, "doc_id", "text"), "text",
        embedLake = Some(lake))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val embedOnly = IngestGate.embedGate(withVecs, lake,
        "embedding", 0.35)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val base = withVecs.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(composed == (batchKeep & base & embedOnly),
      s"composed=${composed.size} expected=${(batchKeep & base & embedOnly).size}")
    assert(embedOnly.size < base.size,
      "the embed stage must drop something here")
  }

  test("dsir gate: survivors == the batch resampling epoch's keep set, stateless plan") {
    import graft.operators.Curation
    import graft.streaming.IngestGate
    val docs = graft.util.Tables.documents(spark, sf)
    // ds2's geometry: target = the %7 slice, raw = the rest; the
    // model is fitted on the same corpus the gate filters, so the
    // gate's keep set must equal dsirResample's epoch exactly
    val raw = docs.filter(col("doc_id") % 7 =!= 0)
    val target = docs.filter(col("doc_id") % 7 === 0)
    val model = Curation.dsirModel(raw, target, "doc_id", "text")
    val epoch = Curation.dsirResample(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // zero-token raws pass through the gate (they carry no score row
    // in the batch epoch and survive to dedup in the CLI composition)
    val expected = raw.select("doc_id").collect().map(_.getLong(0))
      .filter(id => epoch.getOrElse(id, true)).toSet
    assert(expected.nonEmpty && expected.size < epoch.size,
      "the corpus must exercise both keeps and drops")
    val dir = java.nio.file.Files.createTempDirectory("dsir-stream")
    raw.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(raw.schema)
      .parquet(dir.toString)
    val sq = IngestGate.dsirGate(stream, model, "doc_id", "text")
      .select("doc_id").writeStream.outputMode("append")
      .format("memory").queryName("dsirgate")
      .trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable()
    sq.stop()
    val streamed = spark.table("dsirgate")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == expected)
    // stateless: the model rides as literals — no join, no exchange
    val plan = IngestGate.dsirGate(raw, model, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"dsir gate must stay a narrow filter:\n${plan.take(1500)}")
  }

  test("score gate: survivors == batch classifier keep set, stateless plan") {
    import graft.operators.LogReg
    import graft.streaming.IngestGate
    val docs = graft.util.Tables.documents(spark, sf)
    val lake = docs.filter(col("doc_id") % 5 =!= 0)
    val arriving = docs.filter(col("doc_id") % 5 === 0)
    // offline training on the lake with the lr1 recipe
    val toks = org.apache.spark.sql.functions.filter(
      split(trim(col("text")), "\\s+"), w => w =!= "")
    def feats(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        size(toks).cast("double").as("nw"),
        col("n_chars").cast("double").as("nc"),
        size(array_distinct(toks)).cast("double").as("nd"))
      .filter(col("nw") > 0)
      .select(col("doc_id"), (col("nw") / lit(100.0)).as("f1"),
        (col("nc") / col("nw") / lit(10.0)).as("f2"),
        (col("nd") / col("nw")).as("f3"),
        when(col("nw") >= 30 && col("nw") <= 5000 &&
            col("nd") / col("nw") >= 0.3, 1.0).otherwise(0.0).as("y"))
    val fs = Seq("f1", "f2", "f3")
    val w = LogReg.train(feats(lake), "y", fs)
    // batch twin: score the arrivals with the trained weights; tau at
    // the median arrival score so the gate exercises keeps AND drops
    val scores = feats(arriving)
      .select(col("doc_id"), (LogReg.score(w, fs).cast("decimal(24,6)") *
        lit(1000000L).cast("decimal(7,0)")).cast("bigint").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val tau = scores.map(_._2).sorted.apply(scores.length / 2)
    val batchKeep = scores.filter(_._2 >= tau).map(_._1).toSet
    // the gate as a real stream (features recomputed in-row from text)
    val dir = java.nio.file.Files.createTempDirectory("score-stream")
    arriving.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(arriving.schema)
      .parquet(dir.toString)
    val sq = IngestGate.scoreGate(stream, w, "text", tau)
      .select("doc_id").writeStream.outputMode("append")
      .format("memory").queryName("scoregate")
      .trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable()
    sq.stop()
    val streamed = spark.table("scoregate")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batchKeep)
    assert(batchKeep.nonEmpty && batchKeep.size < arriving.count(),
      "the corpus must exercise both keeps and drops")
    val plan = IngestGate.scoreGate(arriving, w, "text", tau)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"score gate must stay a narrow filter:\n${plan.take(1500)}")
  }

  test("phash ingest gate: refuses a band-key-saturated lake") {
    import graft.streaming.IngestGate
    // ~1000 spread fingerprints fill >1% of the 4x16-bit key space —
    // the regime where any-band collision rejects unrelated images
    val lake = spark.range(1000)
      .select(xxhash64(col("id")).as("phash"))
    val arriving = spark.range(5)
      .select(col("id").as("media_id"), xxhash64(col("id") + 77).as("phash"))
    val e = intercept[IllegalArgumentException] {
      IngestGate.phashGate(arriving, lake)
    }
    assert(e.getMessage.contains("phashGateExact"))
  }

  test("phash ingest gate: a saturated lake is refused before the Bloom build") {
    import graft.operators.Dedup
    import graft.streaming.IngestGate
    import org.apache.spark.TestBus
    val sc = spark.sparkContext
    val lake = spark.range(1000)
      .select(xxhash64(col("id")).as("phash"))
    val arriving = spark.range(5)
      .select(col("id").as("media_id"), xxhash64(col("id") + 77).as("phash"))
    // the jobs of the gate's key checkpoint alone, count observed
    val keyJobs = TestBus.jobs(sc) {
      graft.util.Iter.scoped(_.observed(
        lake.select(explode(Dedup.bandKeys64(col("phash"), 4)).as("key"))
          .distinct(), Seq(count(lit(1)).as("n"))))
    }
    val before = sc.getPersistentRDDs.keySet
    // the key count rides the key checkpoint, and the saturation check
    // reads it before any Bloom aggregate is built
    val jobs = TestBus.jobs(sc) {
      intercept[IllegalArgumentException](IngestGate.phashGate(arriving, lake))
    }
    assert(keyJobs.nonEmpty)
    assert(jobs.size == keyJobs.size,
      "a refused lake runs the key checkpoint's jobs and no Bloom " +
        jobs.mkString("aggregate:\n", "\n", ""))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("phash exact gate: survivors == batch band-collision + Hamming cut, saturation-immune") {
    import graft.operators.Dedup
    import graft.streaming.IngestGate
    // a lake big enough to SATURATE the candidate gate's key space,
    // where phashGate refuses (previous test); the exact gate keeps
    // working: unrelated arrivals survive, near-dups drop
    val lake = spark.range(2000)
      .select(col("id").as("media_id"), xxhash64(col("id")).as("phash"))
    // arrivals: 3 exact copies, 2 one-bit flips (hamming 1 <= 3),
    // 5 unrelated
    val copies = spark.range(3)
      .select((col("id") + 10000L).as("media_id"),
        xxhash64(col("id")).as("phash"))
    val flips = spark.range(2)
      .select((col("id") + 20000L).as("media_id"),
        xxhash64(col("id") + 500).bitwiseXOR(lit(1L)).as("phash"))
    val fresh = spark.range(5)
      .select((col("id") + 30000L).as("media_id"),
        xxhash64(col("id") + 999888L).as("phash"))
    val arriving = copies.unionByName(flips).unionByName(fresh)
    val got = IngestGate.phashGateExact(arriving, lake, maxDist = 3)
      .collect().map(_.getLong(0)).toSet
    // batch rule, computed directly: shared band key AND hamming <= 3
    val aK = arriving.select(col("media_id"),
      explode(Dedup.bandKeys64(col("phash"), 4)).as("key"),
      col("phash").as("ah"))
    val lK = lake.select(
      explode(Dedup.bandKeys64(col("phash"), 4)).as("key"),
      col("phash").as("lh"))
    val dropped = aK.join(lK, "key")
      .filter(bit_count(col("ah").bitwiseXOR(col("lh"))) <= 3)
      .select("media_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val want = arriving.collect().map(_.getLong(0)).toSet -- dropped
    assert(got == want)
    // the designed structure held: copies+flips dropped, and the
    // unrelated arrivals were NOT rejected by mere band saturation
    assert((10000L until 10003L).forall(!got.contains(_)))
    assert((20000L until 20002L).forall(!got.contains(_)))
    assert((30000L until 30005L).forall(got.contains))
  }

  test("sharded gates: N-way lake split gates identically to one gate") {
    import graft.streaming.IngestGate
    // embed: "near-dup of the lake" = "∃ shard whose sub-lake
    // matches", so the chained per-shard gates drop exactly the
    // union of the per-shard drops — the unsharded keep set
    val e = Tables.embeddings(spark, sf)
    val lake = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    val direct = IngestGate.embedGate(batch, lake, "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val sharded = IngestGate.embedGateSharded(batch, lake,
        "embedding", 0.35, nShards = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sharded == direct,
      s"extra=${sharded -- direct} missing=${direct -- sharded}")
    // more shards than a tiny lake can populate: the empty shards
    // are identity stages, not "empty lake" aborts
    val tiny = lake.limit(3)
    val tinyDirect = IngestGate.embedGate(batch, tiny, "embedding",
        0.35).select("vec_id").collect().map(_.getLong(0)).toSet
    val tinySharded = IngestGate.embedGateSharded(batch, tiny,
        "embedding", 0.35, nShards = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(tinySharded == tinyDirect)
    // phash sibling, on the saturated-lake fixture the exact gate
    // exists for
    val plake = spark.range(2000)
      .select(xxhash64(col("id")).as("phash"))
    val arriving = spark.range(3)
        .select((col("id") + 10000L).as("media_id"),
          xxhash64(col("id")).as("phash"))
      .unionByName(spark.range(5)
        .select((col("id") + 30000L).as("media_id"),
          xxhash64(col("id") + 999888L).as("phash")))
    val pDirect = IngestGate.phashGateExact(arriving, plake,
        maxDist = 3).select("media_id")
      .collect().map(_.getLong(0)).toSet
    val pSharded = IngestGate.phashGateExactSharded(arriving, plake,
        nShards = 4, maxDist = 3).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(pSharded == pDirect,
      s"extra=${pSharded -- pDirect} missing=${pDirect -- pSharded}")
    assert(pDirect.nonEmpty && pDirect.size < 8,
      "the fixture must exercise both keeps and drops")
  }

  test("gate index compaction: files collapse, survivors and meta identical") {
    import graft.streaming.IngestGate
    val e = Tables.embeddings(spark, sf)
    val lake = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    // an append-churned artifact: base + 4 incremental refreshes
    IngestGate.writeEmbedGateIndex(spark,
      lake.filter(col("vec_id") % 5 === 1), "embedding",
      "spec_embed_cmp")
    (2 to 4).foreach { r =>
      IngestGate.appendEmbedGateIndex(spark,
        lake.filter(col("vec_id") % 5 === r), "embedding",
        "spec_embed_cmp")
    }
    def files(): Seq[java.io.File] = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), "spec_embed_cmp")
      .listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    val before = files().size
    val metaBefore = spark.table("spec_embed_cmp_meta").collect().toSeq
    val survBefore = IngestGate.embedGateIndexed(batch, spark,
        "spec_embed_cmp", "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    IngestGate.compactEmbedGateIndex(spark, "spec_embed_cmp")
    assert(files().size < before,
      s"compaction did not reduce files: $before -> ${files().size}")
    assert(files().size == 1, "index fits one target-size file here")
    val survAfter = IngestGate.embedGateIndexed(batch, spark,
        "spec_embed_cmp", "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survAfter == survBefore)
    assert(spark.table("spec_embed_cmp_meta").collect().toSeq ==
      metaBefore, "compaction must never touch the pinned geometry")
    // and the artifact still matches the direct lake gate
    assert(survAfter == IngestGate.embedGate(batch, lake, "embedding",
      0.35).select("vec_id").collect().map(_.getLong(0)).toSet)
  }
}

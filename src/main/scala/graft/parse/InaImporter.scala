package graft.parse

import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.util.{FsWalk, Json}
import graft.util.Json._

/** INA radio-broadcast (ASR XML) importer — the audio source path.
  *
  * Re-expression of text_preparation/importers/ina/{classes.py,
  * helpers.py, detect.py}. One issue per broadcast directory; a single
  * audio record whose sections/utterances/speech-segments carry time
  * codes instead of boxes. Utterances are runs of consecutive speech
  * segments with the same speaker id (ina/helpers.py:30-89).
  *
  * Deviations, documented:
  *  - the record duration needs the MP3 header (ina/classes.py:104-106,
  *    mutagen); the sample data ships no MP3s, so a missing file yields
  *    `dur: ""` plus a note instead of failing the record — the
  *    out-of-engine enrichment posture of SURVEY.md §2.7 C24;
  *  - the reference picks the LEXICOGRAPHICALLY max language key from
  *    its Counter (`max(langs)`, classes.py:249 — not the most
  *    frequent); preserved faithfully.
  */
object InaImporter {

  val IiifEndpoint = "https://impresso-project.ch/media/audio/"
  val LangMapping = Map("fre" -> "fr")
  val MetadataFilename = "ina_metadata.json"

  case class IssueRef(alias: String, date: String, edition: String,
      path: String, metadataFile: String) extends IssueKey

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def detectIssues(baseDir: String): Seq[IssueRef] = {
    val metaFile = FsWalk.child(baseDir, MetadataFilename)
    if (!FsWalk.isFile(metaFile)) return Nil
    val meta = mapper.readTree(FsWalk.readBytes(metaFile))
    FsWalk.subdirs(baseDir)
      .filter(d => meta.has(d.name))
      .flatMap { d =>
        val m = meta.get(d.name)
        val alias = m.get("Alias Collection").asText
        val raw = m.get("Date d'enregistrement").asText // dd/MM/yyyy
        val parts = raw.split("/")
        if (parts.length == 3)
          Some(IssueRef(alias, s"${parts(2)}-${parts(1)}-${parts(0)}", "a",
            d.path, metaFile))
        else None
      }
  }

  private def attr(n: Node, name: String): Option[String] =
    n.attribute(name).map(_.text)

  /** Utterance construction: runs of same-speaker speech segments
    * (ina/helpers.py:30-89). Returns JSON utterance values.
    *
    * Faithful quirks: segments MISSING a speaker id group together
    * (`None == None` is the reference's same-speaker case, so an
    * initial missing-speaker run keeps the 0.0 start time), mid-stream
    * missing-speaker runs are dropped at the next speaker change (the
    * save is guarded on `last_speaker is not None`), but the FINAL run
    * is always emitted — with `"speaker": null` when it had no id
    * (helpers.py:79-88 saves unconditionally on the last segment). */
  def utterances(doc: Elem): Seq[JValue] = {
    val segs = (doc \\ "SpeechSegment")
    val out = mutable.ArrayBuffer.empty[JValue]
    var run = mutable.ArrayBuffer.empty[JValue]
    var lastSpeaker: Option[String] = None
    var uttStime = 0.0
    var uttEtime = 0.0
    def segJson(ss: Node): JValue = {
      val stime = attr(ss, "stime").get.toDouble
      val etime = attr(ss, "etime").get.toDouble
      val tokens = (ss \\ "Word").map { w =>
        JObj(Seq(
          "tc" -> JArr(Seq(JDouble(attr(w, "stime").get.toDouble),
            JDouble(attr(w, "dur").get.toDouble))),
          "tx" -> JStr(w.text)))
      }
      JObj(Seq(
        "tc" -> JArr(Seq(JDouble(stime), JDouble(etime - stime))),
        "t" -> JArr(tokens)))
    }
    def emit(): Unit =
      out += JObj(Seq(
        "tc" -> JArr(Seq(JDouble(uttStime), JDouble(uttEtime - uttStime))),
        "speaker" -> lastSpeaker.map(JStr).getOrElse(JNull),
        "ss" -> JArr(run.toSeq)))
    for ((ss, idx) <- segs.zipWithIndex) {
      val spk = attr(ss, "spkid")
      if (spk == lastSpeaker) {
        // same speaker (or both missing) — extend the current run
        run += segJson(ss)
        uttEtime = attr(ss, "etime").get.toDouble
      } else {
        // new speaker: save the previous run only if it had a speaker
        if (lastSpeaker.isDefined) emit()
        uttStime = attr(ss, "stime").get.toDouble
        uttEtime = attr(ss, "etime").get.toDouble
        lastSpeaker = spk
        run = mutable.ArrayBuffer(segJson(ss))
      }
      // the last segment always saves the current run
      if (idx == segs.length - 1) emit()
    }
    out.toSeq
  }

  /** H:M:S duration from an MP3 file if present (C24 enrichment). A
    * minimal MPEG-1 Layer III CBR estimate: fileSize·8 / bitrate. */
  def mp3Duration(path: String): Option[String] = {
    if (!FsWalk.isFile(path)) return None
    try {
      val in = FsWalk.open(path)
      val header = new Array[Byte](4096)
      // readNBytes, not read: a remote stream may short-read one packet
      val n = in.readNBytes(header, 0, header.length)
      in.close()
      var i = 0
      while (i < n - 4 && !((header(i) & 0xFF) == 0xFF && (header(i + 1) & 0xE0) == 0xE0))
        i += 1
      if (i >= n - 4) return None
      val bitrateIdx = (header(i + 2) & 0xF0) >> 4
      val bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
        192, 224, 256, 320, 0)
      val kbps = bitrates(bitrateIdx)
      if (kbps == 0) return None
      val bytes = {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(FsWalk.hadoopConf).getFileStatus(p).getLen
      }
      val secs = (bytes * 8 / (kbps * 1000)).toInt
      Some(f"${secs / 3600}%02d:${secs % 3600 / 60}%02d:${secs % 60}%02d")
    } catch { case _: Exception => None }
  }

  def parseIssue(ref: IssueRef, ts: String): ParsedIssue = {
    val notes = mutable.ArrayBuffer.empty[String]
    val meta = mapper.readTree(FsWalk.readBytes(ref.metadataFile))
      .get(FsWalk.baseName(ref.path))
    def metaStr(key: String): Option[String] =
      Option(meta.get(key)).filterNot(_.isNull).map(_.asText)

    val xmlFiles = FsWalk.files(ref.path)
      .filter(_.name.endsWith(".xml"))
    if (xmlFiles.length > 1) {
      val msg = s"${ref.issueId} - There is more than one xml file in dir!!"
      notes += msg
      throw new IllegalStateException(msg)
    }
    val xmlFile = xmlFiles.headOption.getOrElse(
      throw new IllegalStateException(s"${ref.issueId} - no ASR xml"))
    val doc = Xml.load(xmlFile.path)

    val recordId = metaStr("Audio Record ID").getOrElse(s"${ref.issueId}-r0001")
    val ciId = s"${ref.issueId}-i0001"

    // language: metadata hint, else lexicographic max of observed langs
    val lang: String = metaStr("Résumé") match {
      case Some(r) if r.contains("En anglais") => "en"
      case _ =>
        val langs = ((doc \\ "Speaker") ++ (doc \\ "SpeechSegment"))
          .flatMap(attr(_, "lang"))
        if (langs.isEmpty) "fr"
        else LangMapping.getOrElse(langs.max, langs.max)
    }

    val utts = utterances(doc)
    val segs = doc \\ "SpeechSegment"
    val sectionStime = utts.headOption.map(_.asInstanceOf[JObj]).map { u =>
      u.fields.collectFirst { case ("tc", JArr(vs)) =>
        vs.head.asInstanceOf[JDouble].v }.get
    }.getOrElse(0.0)
    val sectionEtime = if (segs.nonEmpty)
      segs.flatMap(attr(_, "etime")).map(_.toDouble).max else 0.0

    val mp3 = xmlFile.path.replace(".xml", ".MP3")
    val dur = mp3Duration(mp3).getOrElse {
      notes += s"${ref.issueId} - The issue's audio record MP3 file $mp3 cannot be found!"
      ""
    }

    val iiif = {
      val internal = recordId.replace("-", "/").split("/").dropRight(1)
        .mkString("/")
      s"${IiifEndpoint}INA/$internal/$recordId.mp3"
    }

    val recordJson = JObj(Seq(
      "id" -> JStr(recordId),
      "ts" -> JStr(ts),
      "s" -> JArr(Seq(JObj(Seq(
        "tc" -> JArr(Seq(JDouble(sectionStime),
          JDouble(sectionEtime - sectionStime))),
        "u" -> JArr(utts),
        "pOf" -> JStr(ciId))))),
      "iiif_base_uri" -> JStr(iiif),
      "stt" -> JStr("00:00:00"),
      "dur" -> JStr(dur),
      "st" -> JStr("radio_broadcast"),
      "sm" -> JStr("audio"),
      "cc" -> JBool(true)))

    val ciM = JObj(Seq(
      "id" -> JStr(ciId),
      "lg" -> JStr(lang),
      "rr" -> Json.ints(Seq(1)),
      "tp" -> JStr("radio_broadcast_episode"),
      "ro" -> JInt(1)) ++
      metaStr("Titre propre").map(t => "t" -> (JStr(t): JValue)) ++
      metaStr("Résumé").map(r => "archival_note" -> (JStr(r): JValue)))
    val ciL = JObj(Seq("source" -> Json.strs(Seq(
      s"Identifiant de la notice (in metadata): ${metaStr("Identifiant de la notice").getOrElse("")}",
      s"Noms fichers (in metadata): ${metaStr("Noms fichers").getOrElse("")}",
      s"Noms fichers (in practice): ${xmlFile.name.stripSuffix(".xml")}"))))

    val program = metaStr("Titre collection")
    val channel = metaStr("Canal de diffusion").map { c =>
      metaStr("Société de programmes") match {
        case Some(soc) => s"$c ($soc)"
        case None => c
      }
    }

    val issueJson = JObj(Seq(
      "id" -> JStr(ref.issueId),
      "ts" -> JStr(ts),
      "st" -> JStr("radio_broadcast"),
      "sm" -> JStr("audio"),
      "i" -> JArr(Seq(JObj(Seq("m" -> ciM, "l" -> ciL)))),
      "rr" -> Json.strs(Seq(recordId))) ++
      program.map(p => "rp" -> (JStr(p): JValue)) ++
      channel.map(c => "rc" -> (JStr(c): JValue)) ++
      Seq("n" -> Json.strs(notes.toSeq)))

    ParsedIssue(ref.issueId, Json.render(issueJson),
      Seq(recordId -> Json.render(recordJson)))
  }
}

package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.parse.InaImporter
import graft.rebuild.RebuildJob

/** INA ASR importer specs: structure checks on the sample broadcasts
  * (no canonical goldens exist for INA) plus the full audio chain —
  * imported records feed rebuildAudioSolr end-to-end.
  */
class InaImporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sampleDir =
    "/root/reference/text_preparation/data/sample_data/INA"
  private val mapper = new ObjectMapper()

  private lazy val refs = InaImporter.detectIssues(sampleDir)
  private lazy val parsed = refs.map(r => InaImporter.parseIssue(r, "T"))

  test("detect reads the metadata table and finds the sample broadcasts") {
    assert(refs.size == 3)
    assert(refs.map(_.issueId).toSet ==
      Set("CFCE-1996-09-08-a", "CFCE-1996-09-15-a", "RDN-1950-01-12-a"))
  }

  test("records carry sections/utterances/speech segments with time codes") {
    for (p <- parsed) {
      val rec = mapper.readTree(p.pageJsons.head._2)
      assert(rec.get("st").asText == "radio_broadcast")
      assert(rec.get("sm").asText == "audio")
      val sections = rec.get("s")
      assert(sections.size == 1)
      val utts = sections.get(0).get("u")
      assert(utts.size > 0, s"${p.issueId} has utterances")
      // utterances are same-speaker runs with [start, duration] coords
      for (i <- 0 until utts.size) {
        val u = utts.get(i)
        assert(u.get("tc").size == 2)
        assert(u.get("ss").size > 0)
        assert(u.has("speaker"))
      }
      // section pOf links to the episode content item
      assert(sections.get(0).get("pOf").asText == s"${p.issueId}-i0001")
    }
  }

  test("utterance runs: missing speakers group; final run always saved") {
    import graft.parse.InaImporter
    def seg(spk: Option[String], s: Double, e: Double) = {
      val spkAttr = spk.map(v => s"""spkid="$v" """).getOrElse("")
      s"""<SpeechSegment $spkAttr stime="$s" etime="$e">
         |  <Word stime="$s" dur="0.5">w</Word>
         |</SpeechSegment>""".stripMargin
    }
    def parse(segs: String*): Seq[(Option[String], Double, Double)] = {
      val doc = scala.xml.XML.loadString(
        s"<AudioDoc>${segs.mkString("\n")}</AudioDoc>")
      InaImporter.utterances(doc).map { u =>
        val f = u.asInstanceOf[graft.util.Json.JObj].fields.toMap
        val spk = f("speaker") match {
          case graft.util.Json.JStr(v) => Some(v)
          case _ => None
        }
        val tc = f("tc").asInstanceOf[graft.util.Json.JArr].vs
          .map(_.asInstanceOf[graft.util.Json.JDouble].v)
        (spk, tc.head, tc(1))
      }
    }
    // plain same-speaker run then a new speaker
    assert(parse(seg(Some("S1"), 0, 2), seg(Some("S1"), 2, 4),
      seg(Some("S2"), 4, 6)) ==
      Seq((Some("S1"), 0.0, 4.0), (Some("S2"), 4.0, 2.0)))
    // a FINAL missing-speaker run is emitted with speaker null and
    // groups consecutive missing ids (helpers.py None == None case)
    assert(parse(seg(Some("S1"), 0, 2), seg(None, 2, 4), seg(None, 4, 6)) ==
      Seq((Some("S1"), 0.0, 2.0), (None, 2.0, 4.0)))
    // a MID-stream missing-speaker run is dropped at the next change
    assert(parse(seg(Some("S1"), 0, 2), seg(None, 2, 4),
      seg(Some("S2"), 4, 6)) ==
      Seq((Some("S1"), 0.0, 2.0), (Some("S2"), 4.0, 2.0)))
    // an INITIAL missing-speaker run keeps the 0.0 start time quirk
    // (last_utt_stime never set before the first same-speaker branch)
    assert(parse(seg(None, 1, 2), seg(None, 2, 3)) ==
      Seq((None, 0.0, 3.0)))
  }

  test("issue carries the episode CI with language, rr refs, rc/rp") {
    val issue = mapper.readTree(
      parsed.find(_.issueId == "RDN-1950-01-12-a")
        .getOrElse(parsed.head).issueJson)
    val ci = issue.get("i").get(0)
    assert(ci.get("m").get("tp").asText == "radio_broadcast_episode")
    assert(ci.get("m").get("lg").asText == "fr")
    assert(ci.get("m").get("rr").size == 1)
    assert(issue.get("rr").size == 1)
    assert(issue.get("st").asText == "radio_broadcast")
  }

  test("imported records rebuild end-to-end through the audio pipeline") {
    import spark.implicits._
    val issues = spark.read.schema(RebuildJob.audioIssueSchema)
      .json(spark.createDataset(parsed.map(_.issueJson)))
    val records = spark.read.schema(RebuildJob.recordSchema)
      .json(spark.createDataset(parsed.flatMap(_.pageJsons.map(_._2))))
    val rebuilt = RebuildJob.rebuildAudioSolr(spark, issues, records, "T")
      .collect()
    assert(rebuilt.length == 3)
    rebuilt.foreach { ci =>
      assert(ci.st == "radio_broadcast" && ci.sm == "audio")
      assert(ci.ft.nonEmpty, s"${ci.id} has rebuilt fulltext")
      assert(ci.rreb.head.t.nonEmpty)
      // breaks sorted and within bounds
      assert(ci.ssb == ci.ssb.sorted)
      ci.ssb.foreach(b => assert(b >= 0 && b <= ci.ft.length))
      assert(ci.olr == false)
    }
  }
}

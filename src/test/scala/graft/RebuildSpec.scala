package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Canonical._
import graft.text.{PaperRebuild, Whitespace}
import graft.rebuild.RebuildJob

class RebuildSpec extends AnyFunSuite {
  import SparkTestSession._

  private val canonicalDir =
    "/root/reference/text_preparation/data/out/canonical_out"

  def tok(tx: String, c: Seq[Int] = Seq(0, 0, 10, 10),
      hy: Option[Boolean] = None, nf: Option[String] = None): CToken =
    CToken(c, Some(tx), None, hy, nf, None)

  test("whitespace rules: fr punctuation classes") {
    assert(Whitespace.insertAfter(Some("Au"), Some("revoir"), None, Some("fr")))
    assert(!Whitespace.insertAfter(Some("x"), Some(","), None, Some("fr")))
    assert(!Whitespace.insertAfter(Some("("), Some("x"), None, Some("fr")))
    assert(!Whitespace.insertAfter(Some("'"), Some("Etat"), Some("L"), Some("fr")))
    assert(!Whitespace.insertAfter(Some(","), Some("5"), Some("1"), Some("fr")))
    assert(Whitespace.insertAfter(Some(","), Some("x"), Some("1"), Some("fr")))
    // unknown language inserts whitespace (matches golden rebuilt output)
    assert(Whitespace.insertAfter(Some(","), Some("x"), None, None))
  }

  test("rebuild fold: hyphenation, offsets and breaks, hand-computed") {
    // line 1: "Au re-"  (re- is the first half of a hyphenated word)
    // line 2: "voir[nf=revoir] , 123"
    val page = Seq(CRegion(Seq(0, 0, 100, 50), Some("X-i0001"), Seq(
      CPara(Seq(0, 0, 100, 25), Seq(
        CLine(Seq(0, 0, 100, 10),
          Seq(tok("Au"), tok("re-", hy = Some(true)))),
        CLine(Seq(0, 10, 100, 10),
          Seq(tok("voir", nf = Some("revoir")), tok(","), tok("123"))))))))
    val f = PaperRebuild.rebuildPage(page, Some("fr"), "")
    assert(f.text == "Au revoir, 123 ")
    assert(f.lineOffsets == Seq(3, 14))
    assert(f.paraOffsets == Seq.empty)
    assert(f.regionOffsets == Seq.empty)
    val spans = f.tokens.map(t => (t.s, t.l, t.hy1.isDefined, t.hy2.isDefined))
    assert(spans == Seq((0, 2, false, false), (3, 1, true, false),
      (3, 6, false, true), (9, 1, false, false), (11, 3, false, false)))
  }

  test("second page appends to the first page's fulltext") {
    val mk = (txt: String) => Seq(CRegion(Seq(0, 0, 1, 1), None,
      Seq(CPara(Seq(0, 0, 1, 1), Seq(CLine(Seq(0, 0, 1, 1), Seq(tok(txt))))))))
    val f1 = PaperRebuild.rebuildPage(mk("one"), None, "")
    val f2 = PaperRebuild.rebuildPage(mk("two"), None, f1.text)
    assert(f2.text == "one two ")
    // second region's offset is recorded because text precedes it
    assert(f2.regionOffsets == Seq(4))
    assert(f2.tokens.head.s == 4)
  }

  test("end-to-end rebuild of LLE-1946 canonical data") {
    val issues = RebuildJob.readIssues(spark,
      s"$canonicalDir/LLE-1946-issues.jsonl.bz2")
    val pages = RebuildJob.readPages(spark,
      s"$canonicalDir/pages/LLE-1946-09-02-a-pages.jsonl.bz2")
    val rebuilt = RebuildJob.rebuildSolr(spark, issues, pages, "T")
      .collect()
    assert(rebuilt.length > 0)
    // every CI rebuilt from this title is an article or ad
    assert(rebuilt.forall(ci => ci.tp.contains("ar") || ci.tp.contains("ad")))
    rebuilt.filterNot(_.tp.contains("img")).foreach { ci =>
      val ft = ci.ft.get
      val allSpans = ci.ppreb.get.flatMap(_.t)
      // token starts are monotone non-decreasing; spans stay inside ft
      assert(allSpans.map(_.s) == allSpans.map(_.s).sorted, ci.id)
      allSpans.filter(_.hy1.isEmpty).foreach { t =>
        assert(t.s + t.l <= ft.length, s"${ci.id}: span ${t.s}+${t.l} > ${ft.length}")
      }
      // break offsets sorted and within bounds
      Seq(ci.lb.get, ci.pb.get, ci.rb.get).foreach { breaks =>
        assert(breaks == breaks.sorted, ci.id)
        breaks.foreach(b => assert(b >= 0 && b <= ft.length, ci.id))
      }
      // reading order defaults to the CI number when missing
      assert(ci.ro > 0)
      assert(ci.d == "1946-09-02")
      assert(ci.st == "newspaper" && ci.sm == "print")
    }
    // at least some CIs have real text
    assert(rebuilt.count(_.ft.exists(_.length > 100)) > 10)
  }

  test("reconstructImageLink ports reconstruct_iiif_link faithfully") {
    import graft.functions.Iiif.reconstructImageLink
    val cs = Some(Seq(10, 20, 30, 40))
    // info.json link: strip descriptor, append coords + default suffix
    assert(reconstructImageLink(
      Some("https://x.org/iiif/ABC-p0001/info.json"), cs)
      .contains("https://x.org/iiif/ABC-p0001/10,20,30,40/full/0/default.jpg"))
    // already-correct image request is kept verbatim
    val ok = "https://x.org/iiif/ABC-p0001/10,20,30,40/full/0/default.jpg"
    assert(reconstructImageLink(Some(ok), cs).contains(ok))
    // image request with stale coords: drop region/size/rotation and rebuild
    assert(reconstructImageLink(
      Some("https://x.org/iiif/ABC-p0001/1,2,3,4/full/0/default.jpg"), cs)
      .contains("https://x.org/iiif/ABC-p0001/10,20,30,40/full/0/default.jpg"))
    // endpoint-specific suffixes (SWA / BCUL) chosen by base containment
    assert(reconstructImageLink(
      Some("https://ub-sipi.ub.unibas.ch/impresso/ABC/info.json"), cs)
      .contains("https://ub-sipi.ub.unibas.ch/impresso/ABC/10,20,30,40/max/0/default.jpg"))
    assert(reconstructImageLink(
      Some("https://scriptorium.bcu-lausanne.ch/api/ABC/info.json"), cs)
      .contains("https://scriptorium.bcu-lausanne.ch/api/ABC/10,20,30,40/300,/0/default.jpg"))
    // missing link or coords → None (get_iiif_and_coords guard)
    assert(reconstructImageLink(None, cs).isEmpty)
    assert(reconstructImageLink(Some("https://x.org/i/info.json"), None).isEmpty)
    assert(reconstructImageLink(Some("https://x.org/i/info.json"), Some(Nil)).isEmpty)
  }

  test("golden: FZG-1972 img CI keeps its canonical image link verbatim") {
    val issues = RebuildJob.readIssues(spark,
      s"$canonicalDir/FZG-1972-issues.jsonl.bz2")
    val pages = RebuildJob.readPages(spark,
      s"$canonicalDir/pages/FZG-1972-03-02-a-pages.jsonl.bz2")
    val rebuilt = RebuildJob.rebuildSolr(spark, issues, pages, "T").collect()
    val img = rebuilt.find(_.id == "FZG-1972-03-02-a-i0076").get
    assert(img.tp.contains("img"))
    // top-level iiif_link + m.c coords; the link already embeds the right
    // coords and suffix so reconstruct_iiif_link returns it unchanged
    assert(img.iiif_link.contains(
      "https://impresso-project.ch/api/proxy/iiif/FZG-1972-03-02-a-p0008/" +
        "3180,1223,548,375/full/0/default.jpg"))
    assert(img.ft.isEmpty && img.ppreb.isEmpty)
    // FAM-style img CI (m.c but no link anywhere) must yield no link
    val fam = RebuildJob.rebuildSolr(spark,
      RebuildJob.readIssues(spark, s"$canonicalDir/FAM-1937-issues.jsonl.bz2"),
      RebuildJob.readPages(spark,
        s"$canonicalDir/pages/FAM-1937-01-30-a-pages.jsonl.bz2"), "T")
      .collect().find(_.id == "FAM-1937-01-30-a-i0005").get
    assert(fam.tp.contains("img") && fam.iiif_link.isEmpty)
  }

  test("CIs referencing missing pages are quarantined, not dropped or fatal") {
    import spark.implicits._
    val issues = RebuildJob.readIssues(spark,
      s"$canonicalDir/LLE-1946-issues.jsonl.bz2")
    // withhold all pages: every CI must land in quarantine
    val noPages = RebuildJob.readPages(spark,
      s"$canonicalDir/pages/LLE-1946-09-02-a-pages.jsonl.bz2")
      .filter(lit(false))
    val q = RebuildJob.quarantine(issues, noPages).collect()
    val nCis = issues.select(explode(col("i"))).count()
    assert(q.length == nCis)
    assert(RebuildJob.rebuildSolr(spark, issues, noPages, "T").count() == 0)
  }

  test("audio CIs with missing records quarantine; language filter applies") {
    import spark.implicits._
    val issues = spark.read.schema(RebuildJob.audioIssueSchema).json(Seq(
      """{"id":"RSR-1950-01-01-a","st":"radio_broadcast","sm":"audio",
        |"rc":"RSR","rp":"News","i":[
        |{"m":{"id":"RSR-1950-01-01-a-i0001","tp":"radio_episode",
        |"rr":[1],"lg":"fr","t":"t1","ro":1}},
        |{"m":{"id":"RSR-1950-01-01-a-i0002","tp":"radio_episode",
        |"rr":[9],"lg":"de","t":"t2","ro":2}}]}""".stripMargin
        .replaceAll("\n", "")).toDS())
    val records = spark.read.schema(RebuildJob.recordSchema).json(Seq(
      """{"id":"RSR-1950-01-01-a-r0001","cc":true,"stt":"10:00:00",
        |"dur":60.0,"s":[{"tc":[0.0,60.0],"pOf":"RSR-1950-01-01-a-i0001",
        |"u":[{"tc":[0.0,60.0],"speaker":"sp","ss":[{"tc":[0.0,60.0],
        |"t":[{"tc":[0.0,1.0],"tx":"bonjour"}]}]}]}]}""".stripMargin
        .replaceAll("\n", "")).toDS())
    // i0002 references record r0009 which does not exist → quarantined
    val q = RebuildJob.quarantineAudio(issues, records).collect()
    assert(q.map(_.getString(0)).toSeq == Seq("RSR-1950-01-01-a-i0002"))
    assert(q.head.getString(1) == "missing record")
    // and excluded from the rebuild, which keeps the resolvable CI
    val all = RebuildJob.rebuildAudioSolr(spark, issues, records, "T")
      .collect().map(_.id).toSeq
    assert(all == Seq("RSR-1950-01-01-a-i0001"))
    // the audio language filter matches the paper path's semantics
    assert(RebuildJob.rebuildAudioSolr(spark, issues, records, "T",
      Some(Seq("de"))).count() == 0)
    assert(RebuildJob.rebuildAudioPassim(spark, issues, records,
      Some(Seq("fr"))).count() == 1)
  }

  test("writeSolr produces partitioned bz2 JSONL that reads back") {
    val issues = RebuildJob.readIssues(spark,
      s"$canonicalDir/LLE-1946-issues.jsonl.bz2")
    val pages = RebuildJob.readPages(spark,
      s"$canonicalDir/pages/LLE-1946-09-02-a-pages.jsonl.bz2")
    val out = java.nio.file.Files.createTempDirectory("rebuilt").toString
    val ds = RebuildJob.rebuildSolr(spark, issues, pages, "T")
    RebuildJob.writeSolr(ds, out)
    val back = spark.read.json(s"$out/alias=LLE/year=1946")
    assert(back.count() == ds.count())
    // absent optional fields are omitted from the JSON, not null-filled
    val row = back.filter(col("ft").isNotNull).head()
    assert(row.schema.fieldNames.contains("ppreb"))
  }

  test("writeJsonl writes one file per (alias, year) from every shuffle partition") {
    import spark.implicits._
    val ids = for (a <- Seq("aa", "bb"); y <- 1900 to 1902; d <- 1 to 3)
      yield f"$a-$y-01-$d%02d-a-i0001"
    val out = java.nio.file.Files.createTempDirectory("jsonl-out")
    val stages = org.apache.spark.TestBus.stages(spark.sparkContext)(
      RebuildJob.writeJsonl(ids.map(i => (i, s"text of $i")).toDF("id", "ft"),
        out.toString))
    // the write stage completes last; AQE must not merge it into one task
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(stages.last._1 >= n, stages)
    val dirs = for (a <- Seq("aa", "bb"); y <- 1900 to 1902)
      yield out.resolve(s"alias=$a/year=$y")
    for (d <- dirs) {
      val parts = java.nio.file.Files.list(d).toArray.toSeq
        .map(_.toString).filter(_.endsWith(".bz2"))
      assert(parts.size == 1, s"$d: $parts")
    }
    assert(spark.read.json(out.toString).count() == ids.size)
  }
}

package graft.etl

import graft.SparkSpec
import graft.sources.ZipCentral
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import scala.util.Random

class AuditPipelineSpec extends SparkSpec {

  test("processDir lists exactly the archives a binaryFile scan reads, with the same path strings") {
    val dir = Files.createTempDirectory("audits_listing").toString
    def put(rel: String, bytes: Array[Byte] = Fixtures.minimalZip): Unit = {
      val p = Paths.get(dir, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("a__x.org__2026-01-01.zip")
    put("with space.zip")
    put("nested/deeper/b.zip")
    put("nested/c.ZIP")
    put("readme.txt", "not an archive".getBytes)
    put("nested/notes.zip.txt")
    put("_hidden.zip")
    put(".dot.zip")
    put("_underscore_dir/d.zip")
    put(".dot_dir/e.zip")
    put("nested/_f.zip")
    put("empty.zip", Array.emptyByteArray)

    val scan = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .option("recursiveFileLookup", "true")
      .load(dir).select("path").collect().map(_.getString(0)).sorted.toSeq
    val listed = AuditPipeline.listArchives(spark, dir).map(_.path.toString).sorted
    assert(listed == scan)
    assert(listed.map(_.split('/').last).toSet == Set("a__x.org__2026-01-01.zip",
      "with space.zip", "b.zip"))
    assert(AuditPipeline.processDir(spark, dir).collect().map(_.path).sorted.toSeq == scan)
  }

  test("packing: each archive in exactly one bin, the bin count by rule, no bin past mean + largest") {
    val rnd = new Random(20261020L)
    def archives(n: Int): Seq[AuditPipeline.Archive] = Seq.tabulate(n) { i =>
      val len = rnd.nextInt(4) match {
        case 0 => 1L + rnd.nextInt(1000)
        case 1 => 1L + rnd.nextInt(1 << 20)
        case 2 => 1L + (rnd.nextLong() & 0xFFFFFFFFFL)
        case _ => 4096L
      }
      AuditPipeline.Archive(new Path(s"file:/a/$i.zip"), len, Nil)
    }
    for (trial <- 0 until 400) {
      val in = archives(rnd.nextInt(300))
      val minBins = 1 + rnd.nextInt(40)
      val bins = AuditPipeline.pack(in, minBins, Long.MaxValue)
      assert(bins.flatten.sortBy(_.path.toString).toSeq == in.sortBy(_.path.toString), s"trial $trial")
      assert(bins.length == math.min(in.length, minBins), s"trial $trial")
      if (in.nonEmpty) {
        val loads = bins.map(_.map(_.length).sum)
        val bound = in.map(_.length).sum.toDouble / bins.length + in.map(_.length).max
        assert(loads.forall(l => l > 0 && l <= bound), s"trial $trial: $loads > $bound")
      }
      // A cap on bytes per bin opens more bins; only a lone archive may exceed it.
      val cap = 1L + rnd.nextInt(1 << 22)
      val capped = AuditPipeline.pack(in, minBins, cap)
      assert(capped.flatten.sortBy(_.path.toString).toSeq == in.sortBy(_.path.toString))
      assert(capped.length >= math.min(in.length, minBins))
      assert(capped.forall(b => b.length == 1 || b.map(_.length).sum <= cap), s"trial $trial")
    }

    val dir = Files.createTempDirectory("audits_bins").toString
    for (i <- 0 until 30)
      Files.write(Paths.get(s"$dir/c$i.zip"), if (i % 3 == 0) Fixtures.fullZip else Fixtures.minimalZip)
    val want = math.min(30, AuditPipeline.BinsPerCore * spark.sparkContext.defaultParallelism)
    assert(AuditPipeline.processDir(spark, dir).rdd.getNumPartitions == want)
  }

  test("a bin prefers the three hosts holding most of its bytes, never localhost") {
    def a(name: String, len: Long, hosts: String*) =
      AuditPipeline.Archive(new Path(s"hdfs://nn/a/$name.zip"), len, hosts)
    val bin = Seq(a("p", 100, "h1", "h2"), a("q", 70, "h3", "localhost"),
      a("r", 40, "h2", "h4"), a("s", 30, "h4", "h5"), a("t", 5))
    assert(AuditPipeline.preferredHosts(bin) == Seq("h2", "h1", "h3"))
    assert(AuditPipeline.preferredHosts(Seq(a("u", 9, "localhost"), a("v", 1))).isEmpty)

    // The local file system reports one block on `localhost`: no preference.
    val dir = Files.createTempDirectory("audits_hosts").toString
    Files.write(Paths.get(s"$dir/one.zip"), Fixtures.minimalZip)
    val Seq(one) = AuditPipeline.listArchives(spark, dir)
    assert(one.hosts == Seq("localhost") && AuditPipeline.preferredHosts(Seq(one)).isEmpty)
  }

  test("an archive deleted after listing is its own ok=false row; the other rows are unchanged") {
    val dir = Files.createTempDirectory("audits_deleted").toString
    Files.write(Paths.get(s"$dir/acme__example.com__2026-08-12.zip"), Fixtures.fullZip)
    Files.write(Paths.get(s"$dir/beta__other.org__2026-08-12.zip"), Fixtures.minimalZip)
    Files.write(Paths.get(s"$dir/gone__x.org__2026-08-12.zip"), Fixtures.minimalZip)
    val before = AuditPipeline.processDir(spark, dir).collect().map(r => r.client -> r).toMap
    val ds = AuditPipeline.processDir(spark, dir)
    Files.delete(Paths.get(s"$dir/gone__x.org__2026-08-12.zip"))
    val after = ds.collect().map(r => r.client -> r).toMap
    assert(after.keySet == Set("acme", "beta", "gone"))
    assert(after("acme") == before("acme") && after("beta") == before("beta"))
    val gone = after("gone")
    assert(!gone.ok && gone.domain == "x.org" && gone.path == before("gone").path)
    assert(gone.error.startsWith("java.io.FileNotFoundException"), gone.error)
    assert(gone.normalizedJson.isEmpty && gone.scoresJson.isEmpty && gone.manifestJson.isEmpty)
  }

  test("an archive past the byte limit is its own ok=false row, read no further") {
    val dir = Files.createTempDirectory("audits_big").toString
    Files.write(Paths.get(s"$dir/big__x.org__r.zip"), Fixtures.fullZip)
    val Seq(a) = AuditPipeline.listArchives(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val row = AuditPipeline.processArchive(a, conf, maxBytes = Fixtures.fullZip.length - 1L)
    assert(!row.ok && row.client == "big" && row.error.startsWith("java.io.IOException"))
    assert(row.error.contains(s"${Fixtures.fullZip.length} bytes, over the"))
    assert(AuditPipeline.processArchive(a, conf).ok)
  }

  test("processDir maps the audit kernel over the listed archives") {
    val dir = Files.createTempDirectory("audits").toString
    Files.write(Paths.get(s"$dir/acme__example.com__2026-08-12.zip"),
      Fixtures.fullZip)
    Files.write(Paths.get(s"$dir/beta__other.org__2026-08-12.zip"),
      Fixtures.minimalZip)
    Files.write(Paths.get(s"$dir/broken__x__y.zip"), Fixtures.notAZip)

    val rows = AuditPipeline.processDir(spark, dir).collect()
    assert(rows.length == 3)
    val byClient = rows.map(r => r.client -> r).toMap
    assert(byClient("acme").ok && byClient("beta").ok)
    assert(!byClient("broken").ok)
    assert(byClient("broken").error.contains("not a ZIP"))
    assert(byClient("acme").domain == "example.com")
    // The distributed row carries the same JSON the kernel produces.
    val local = AuditEtl.processZip(Fixtures.fullZip, "acme", "example.com",
      "2026-08-12")
    assert(byClient("acme").normalizedJson == local.normalized.toJson)
    assert(byClient("acme").scoresJson == local.scores.toJson)
  }

  test("distributed golden path: processDir outputs byte-match the committed goldens per archive") {
    val dir = Files.createTempDirectory("audits_golden").toString
    // Four archives spanning the kernel's branch coverage: the full kit
    // (whose ahrefs_keywords.csv is UTF-16LE — the SmartCsv re-decode
    // path), the minimal kit, the nested-zip-partial archive (valid outer
    // ZIP, garbage inner site-audit ZIP), and a non-ZIP body.
    Files.write(Paths.get(s"$dir/acme__example.com__2026-08-12.zip"),
      Fixtures.fullZip)
    Files.write(Paths.get(s"$dir/acme2__minimal.org__2026-08-12.zip"),
      Fixtures.minimalZip)
    Files.write(Paths.get(s"$dir/gamma__partial.net__2026-08-12.zip"),
      Fixtures.nestedPartialZip)
    Files.write(Paths.get(s"$dir/broken__x__y.zip"), Fixtures.notAZip)

    val rows = AuditPipeline.processDir(spark, dir).collect()
    assert(rows.length == 4)
    val byClient = rows.map(r => r.client -> r).toMap

    // The committed goldens (manually audited against the reference, then
    // locked by AuditEtlSpec) must byte-match what the DISTRIBUTED path
    // emitted — closing the single-archive-kernel → distributed fan-out
    // loop end to end. Golden fixtures use client=acme/domain=example.com,
    // so only the full archive byte-matches all three documents; minimal's
    // manifest/scores (client-independent) byte-match its golden.
    def golden(scenario: String, doc: String): String =
      Files.readString(Paths.get(s"src/test/resources/golden/$scenario/$doc"))
    assert(byClient("acme").normalizedJson == golden("full", "normalized_audit.json"))
    assert(byClient("acme").scoresJson == golden("full", "scores.json"))
    assert(byClient("acme").manifestJson == golden("full", "etl_manifest.json"))
    assert(byClient("acme2").scoresJson == golden("minimal", "scores.json"))
    assert(byClient("acme2").manifestJson == golden("minimal", "etl_manifest.json"))

    // Per-archive manifest rows: each archive carries ITS OWN manifest —
    // the partial archive keeps ok=true with the one degraded entry
    // (status partial + exception note), while its keywords entry is full.
    val pm = byClient("gamma")
    assert(pm.ok)
    assert(pm.manifestJson.contains(
      "\"ahrefs_site_audit.zip\":{\"status\":\"partial\",\"size\":16," +
      "\"note\":\"java.util.zip.ZipException: not a zip archive (bad magic)\"}"))
    assert(pm.manifestJson.contains(
      "\"ahrefs_keywords.csv\":{\"status\":\"present\",\"size\":304,\"rows\":7}"))
    assert(!byClient("broken").ok &&
      byClient("broken").error.contains("not a ZIP") &&
      byClient("broken").manifestJson.isEmpty)
  }

  private def store(): (AuditPipeline.DirKvStore, String) = {
    val dir = Files.createTempDirectory("kv").toString
    (new AuditPipeline.DirKvStore(dir), dir)
  }
  private def read(dir: String, name: String): String =
    Files.readString(Paths.get(dir, name))

  test("runActor echoes input then rejects missing fields with the reference message") {
    val (kv, dir) = store()
    val partial = J.JObj("client" -> J.str("acme"), "domain" -> J.str("ex.com"))
    val e = intercept[IllegalArgumentException] {
      AuditPipeline.runActor(Some(partial), kv, fetch = _ => fail("must not fetch"))
    }
    assert(e.getMessage ==
      "Missing required input: client, domain, runDate, zipUrl. " +
      "Paste JSON under the Input tab (not only Run options).")
    // Echo happens BEFORE validation (main.js:15) and carries the raw input.
    assert(read(dir, "INPUT_ECHO.json") == """{"client":"acme","domain":"ex.com"}""")
    assert(!Files.exists(Paths.get(dir, "OUTPUT")))
  }

  test("runActor treats empty strings as missing (JS truthiness) and null input as {}") {
    val (kv, dir) = store()
    intercept[IllegalArgumentException] {
      AuditPipeline.runActor(Some(J.JObj("client" -> J.str(""), "domain" -> J.str("d"),
        "runDate" -> J.str("r"), "zipUrl" -> J.str("u"))), kv, fetch = _ => Array.empty)
    }
    val (kv2, dir2) = store()
    intercept[IllegalArgumentException] { AuditPipeline.runActor(None, kv2) }
    assert(read(dir2, "INPUT_ECHO.json") == "{}")
  }

  test("runActor dumps ZIP_DEBUG.bin when the body is not a ZIP") {
    val (kv, dir) = store()
    val input = J.JObj("client" -> J.str("acme"), "domain" -> J.str("ex.com"),
      "runDate" -> J.str("2026-08-12"), "zipUrl" -> J.str("http://x/bad.zip"))
    val e = intercept[IllegalArgumentException] {
      AuditPipeline.runActor(Some(input), kv, fetch = _ => Fixtures.notAZip)
    }
    assert(e.getMessage.contains("not a ZIP"))
    assert(Files.readAllBytes(Paths.get(dir, "ZIP_DEBUG.bin"))
      .sameElements(Fixtures.notAZip))
    assert(!Files.exists(Paths.get(dir, "normalized_audit.json")))
  }

  test("runActor success path writes the three documents, OUTPUT pointer and header dump") {
    val (kv, dir) = store()
    val input = J.JObj("client" -> J.str("acme"), "domain" -> J.str("ex.com"),
      "runDate" -> J.str("2026-08-12"), "zipUrl" -> J.str("file:///audit.zip"))
    val r = AuditPipeline.runActor(Some(input), kv, fetch = _ => Fixtures.fullZip)
    assert(read(dir, "normalized_audit.json") == r.normalized.toJson)
    assert(read(dir, "scores.json") == r.scores.toJson)
    assert(read(dir, "etl_manifest.json") == r.manifest.toJson)
    assert(read(dir, "OUTPUT") ==
      """{"normalized":"normalized_audit.json","scores":"scores.json","etl_manifest":"etl_manifest.json"}""")
    // The keywords header dump (etl.js:119-121): the RAW headers actually
    // seen — including the fixture's deliberate NBSP, which is the whole
    // point of the dump (you can see why pickCol had to normalize).
    assert(read(dir, "ahrefs_keywords_headers.json") ==
      "[\"Keyword\",\"Current Position\",\"Volume\"]")
    assert(read(dir, "INPUT_ECHO.json").contains("\"zipUrl\""))
  }

  test("scoresFrame lifts score scalars into SQL-queryable columns") {
    val dir = Files.createTempDirectory("audits2").toString
    Files.write(Paths.get(s"$dir/acme__example.com__2026-08-12.zip"),
      Fixtures.fullZip)
    Files.write(Paths.get(s"$dir/beta__other.org__2026-08-12.zip"),
      Fixtures.minimalZip)
    val scores = AuditPipeline.scoresFrame(AuditPipeline.processDir(spark, dir))
    scores.createOrReplaceTempView("audit_scores")
    val top = spark.sql(
      "SELECT client, oss, lss, oss_coverage FROM audit_scores ORDER BY oss DESC")
      .collect()
    assert(top.length == 2)
    // full fixture: oss 37.9 / lss 65.2; minimal fixture: oss 83.3 / lss 0.
    val byClient = top.map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(byClient("acme") == (37.9, 65.2))
    assert(byClient("beta") == (83.3, 0.0))
  }

  test("a zip bomb fails one archive: ok=false for the archive, partial for an inner zip") {
    // Zeros deflate about 1000:1: this entry is ~17 KB in the archive and
    // inflates past the ratio guard, which stops it before it is buffered.
    val bomb = Fixtures.zip("ahrefs_keywords.csv" ->
      new Array[Byte]((ZipCentral.RatioFloorBytes + (1 << 20)).toInt))
    assert(bomb.length * ZipCentral.MaxRatio < ZipCentral.RatioFloorBytes)
    val row = AuditPipeline.process(AuditPipeline.AuditJob("bomb.zip", "c", "d", "r", bomb))
    assert(!row.ok)
    assert(row.error.startsWith("java.util.zip.ZipException") && row.error.contains("limit"))

    val outer = Fixtures.zip("ahrefs_keywords.csv" -> Fixtures.ahrefsKeywords,
      "ahrefs_site_audit.zip" -> bomb)
    val nested = AuditPipeline.process(AuditPipeline.AuditJob("outer.zip", "c", "d", "r", outer))
    assert(nested.ok)
    assert(nested.manifestJson.contains("\"ahrefs_site_audit.zip\":{\"status\":\"partial\""))
    assert(nested.manifestJson.contains("inflates"))
  }
}

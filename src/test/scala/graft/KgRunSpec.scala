package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.jsonld.JsonLdError

/** End-to-end wiring of the resumable job, through the shipped body
  * `KgRun.run`: one pass produces triples + quarantine + manifest +
  * adjacency; a second identical run is a no-op (all partitions done);
  * the core invariants hold on the written data. */
class KgRunSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Rows of the quarantine table; a run that quarantined nothing leaves a
    * directory without parquet footers, which reads as zero rows. */
  private def quarantine(out: String): Array[QuarantineRow] = {
    import spark.implicits._
    try spark.read.parquet(s"$out/quarantine").drop("partition_key").as[QuarantineRow].collect()
    catch { case _: org.apache.spark.sql.AnalysisException => Array.empty }
  }

  test("resumable job: write, audit, publish, resume-as-noop") {
    val out = java.nio.file.Files.createTempDirectory("kgrun").toString
    val nPages = 300L
    val pages = PageGen.pages(spark, nPages, 42L, 8).toDF()

    val status = KgRun.run(spark, pages, out)
    assert(status.contains(""""status":"done"""") && status.contains(s""""pending":$nPages,"""),
      s"fresh run: everything pending — $status")
    val written = spark.read.parquet(s"$out/triples")
    val nWritten = written.count()
    assert(nWritten > 0 && status.contains(s""""triples_total":$nWritten,"""), status)
    // manifest triple counts equal the written partition counts
    val manifest = Lineage.readManifest(spark, s"$out/lineage")
    val mTotal = manifest.agg(sum(col("triple_count"))).collect()(0).getLong(0)
    assert(mTotal == nWritten)
    // the generator embeds only well-formed blocks: nothing quarantines
    assert(quarantine(out).isEmpty && status.contains(""""quarantined":0,"""), status)
    // adjacency over the written table
    val adj = spark.read.parquet(s"$out/adjacency")
    assert(adj.count() > 0)
    assert(adj.filter(col("truncated")).count() == 0, "no hub exceeds the cap at this scale")

    // second run: nothing pending
    assert(KgRun.run(spark, pages, out) ==
      s"""{"job":"kg","status":"up-to-date","pages":$nPages,"pending":0}""",
      "identical input must resume as a no-op")

    // a NEW page invalidates exactly its partition's fingerprint
    val morePages = PageGen.pages(spark, nPages + 1, 42L, 8).toDF()
    val pending3 = Lineage.pendingPages(morePages, manifest)
    val changedKeys = pending3.select(col("partition_key")).distinct().count()
    assert(pending3.count() > 0 && changedKeys == 1,
      s"one new page must re-open exactly one partition, got $changedKeys")
  }

  test("a 50,000-deep page and a truncated block quarantine without aborting the job") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("kgpoison").toString
    def page(url: String, block: String): Page = {
      val html = s"""<html><head><script type="application/ld+json">$block</script></head><body></body></html>"""
      Page(url, new java.sql.Timestamp(0L), html.getBytes(java.nio.charset.StandardCharsets.UTF_8), "", "en")
    }
    val deep = "[" * 50000 + "]" * 50000
    val truncated = """{"@context":{"s":"http://schema.org/"},"@id":"https://bad.example/t","s:name":"trunc"""
    val poison = Seq(page("https://deep.example/p", deep), page("https://trunc.example/p", truncated)).toDS()
    val pages = PageGen.pages(spark, 40, 42L, 4).union(poison).toDF()

    val status = KgRun.run(spark, pages, out)
    assert(status.contains(""""status":"done"""") && status.contains(""""quarantined":2,"""), status)
    val got = quarantine(out).map(q => (q.url, q.block_idx, q.errorCode)).toSet
    assert(got == Set(
      ("https://deep.example/p", 0, TripleEmit.StackExhausted),
      ("https://trunc.example/p", 0, JsonLdError.ParseError.text)), got)
    assert(spark.read.parquet(s"$out/triples").count() > 0)
  }

  test("re-run partition with zero rows fully supersedes prior state (ADVICE r2)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("kgrerun").toString
    def keyed(rows: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
      rows.toDF("subj", "partition_key")
    def pages(urls: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
      urls.toDF("url", "partition_key")
    // run 1: partitions hbA and hbB both produce rows
    Lineage.writeWithLineage(spark,
      keyed(Seq(("s1", "hbA"), ("s2", "hbB"))),
      pages(Seq(("https://a/1", "hbA"), ("https://b/1", "hbB"))),
      s"$out/triples", s"$out/lineage")
    assert(spark.read.parquet(s"$out/triples").count() == 2)
    // run 2 re-processes BOTH partitions but hbB now yields zero rows
    // (e.g. its pages all quarantine): stale hbB files must be gone and
    // the manifest must agree with the data
    Lineage.writeWithLineage(spark,
      keyed(Seq(("s1", "hbA"))),
      pages(Seq(("https://a/1", "hbA"), ("https://b/2", "hbB"))),
      s"$out/triples", s"$out/lineage")
    val data = spark.read.parquet(s"$out/triples")
    assert(data.count() == 1, "stale hbB rows must be deleted")
    val m = Lineage.readManifest(spark, s"$out/lineage")
      .select("partition_key", "triple_count").as[(String, Long)].collect().toMap
    assert(m("hbA") == 1L && m("hbB") == 0L, s"manifest must match data: $m")
  }
}

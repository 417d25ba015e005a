package graftbench

import graft.jsonld._
import graft.pipeline.Extract

/** Per-document layers timed in a single-threaded loop over a
  * corpus sample: extraction, then parse → expand → toRDF → normalize on
  * each extracted block. One warm-up pass, then the median of three. */
object CoreProbe {

  final case class Pass(extractUs: Double, parseUs: Double, expandUs: Double, toRdfUs: Double,
                        normalizeUs: Double)

  def run(pages: IndexedSeq[graft.pipeline.Page]): Map[String, Double] = {
    val htmls = pages.map(p => new String(p.html, java.nio.charset.StandardCharsets.UTF_8))
    var jsonldBlocks, microdataBlocks = 0L
    val docs = pages.indices.flatMap { i =>
      val blocks = Extract.scriptBlocksTolerant(htmls(i))
      val micro = Extract.microdataBlocks(htmls(i))
      jsonldBlocks += blocks.size
      microdataBlocks += micro.size
      (blocks ++ micro).map(b => (pages(i).url, b))
    }
    var quads, errors = 0L

    def pass(): Pass = {
      quads = 0L
      errors = 0L
      val t0 = System.nanoTime()
      htmls.foreach { h => Extract.scriptBlocksTolerant(h); Extract.microdataBlocks(h) }
      val extractNs = System.nanoTime() - t0
      var parseNs, expandNs, toRdfNs, normNs = 0L
      docs.foreach { case (url, payload) =>
        try {
          val opts = JsonLdOptions(base = url)
          val a = System.nanoTime()
          val parsed = Json.parse(payload)
          val b = System.nanoTime()
          val expanded = JsonLdProcessor.expand(parsed, opts)
          val c = System.nanoTime()
          val api = new JsonLdApi(expanded, opts)
          val ds = api.toRDF()
          val d = System.nanoTime()
          api.normalize(ds)
          val e = System.nanoTime()
          parseNs += b - a; expandNs += c - b; toRdfNs += d - c; normNs += e - d
          quads += ds.graphNames.iterator.map(g => ds.getQuads(g).size.toLong).sum
        } catch { case _: Exception => errors += 1 }
      }
      val n = math.max(1, docs.size - errors.toInt).toDouble
      Pass(extractNs / 1e3 / htmls.size, parseNs / 1e3 / n, expandNs / 1e3 / n, toRdfNs / 1e3 / n,
        normNs / 1e3 / n)
    }

    pass()
    val ps = Seq.fill(3)(pass())
    def med(f: Pass => Double) = Stats.median(ps.map(f))
    Map(
      "extract.us_per_page" -> med(_.extractUs),
      "extract.jsonld_blocks" -> jsonldBlocks.toDouble,
      "extract.microdata_blocks" -> microdataBlocks.toDouble,
      "jsonld.parse_us" -> med(_.parseUs),
      "jsonld.expand_us" -> med(_.expandUs),
      "jsonld.tordf_us" -> med(_.toRdfUs),
      "jsonld.normalize_us" -> med(_.normalizeUs),
      "jsonld.quads_per_doc" -> quads.toDouble / math.max(1L, docs.size - errors),
      "jsonld.error_ratio" -> errors.toDouble / math.max(1, docs.size),
    )
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

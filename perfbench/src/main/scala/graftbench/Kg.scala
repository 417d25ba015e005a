package graftbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline._

/** The KG-construction job as `KgRun` ships it, plus the corpus, the
  * reference and the output checks the benchmark wraps around it. */
object Kg {

  val TripleCols = Seq("subj", "pred", "objKind", "objValue", "objDatatype", "objLang", "graph")

  /** The 8 of 64 host buckets whose manifest rows a resume run deletes. */
  val ResumeBuckets: Seq[String] = (0 until 8).map(b => s"hb$b")

  // ---- corpus -------------------------------------------------------

  /** Malformed blocks HEAD quarantines per document: truncated JSON, a
    * remote `@context` absent from the (empty) context cache, and a
    * non-string `@id`. About 1% of pages get exactly one. */
  def malformedBlock(seed: Long, i: Long): Option[String] = {
    val r = PageGen.mix64(seed * 0x2545F4914F6CDD1DL + i)
    if (java.lang.Long.remainderUnsigned(r, 100L) != 0L) None
    else java.lang.Long.remainderUnsigned(r >>> 32, 3L).toInt match {
      case 0 => Some(s"""{"@context":{"s":"http://schema.org/"},"@id":"https://bad.example/t$i","s:name":"trunc""")
      case 1 => Some(s"""{"@context":"https://contexts.example/missing-$i.jsonld","@id":"https://bad.example/r$i","name":"x"}""")
      case _ => Some(s"""{"@id":$i,"http://schema.org/name":"bad id $i"}""")
    }
  }

  /** Page `i` of the corpus: `PageGen.pageAt` plus its malformed block. */
  def page(seed: Long, i: Long): Page = {
    val p = PageGen.pageAt(seed, i)
    malformedBlock(seed, i).fold(p) { bad =>
      val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        .replace("</head>", s"""<script type="application/ld+json">$bad</script>\n</head>""")
      p.copy(html = html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  def injectedBlocks(seed: Long, n: Long): Long = (0L until n).count(i => malformedBlock(seed, i).isDefined).toLong

  /** Writes the seeded corpus: `PageGen.pages` with the malformed blocks
    * spliced in. Returns the number of injected blocks. */
  def writeCorpus(spark: SparkSession, seed: Long, n: Long, partitions: Int, path: String): Long = {
    import spark.implicits._
    PageGen.pages(spark, n, seed, partitions).map { p =>
      val i = p.url.substring(p.url.lastIndexOf('/') + 1).toLong
      if (malformedBlock(seed, i).isEmpty) p else page(seed, i)
    }.write.mode(SaveMode.Overwrite).parquet(path)
    injectedBlocks(seed, n)
  }

  // ---- the job ----------------------------------------------------------

  final case class Paths(out: String) {
    val triples = s"$out/triples"
    val manifest = s"$out/lineage"
    val adjacency = s"$out/adjacency"
    val quarantine = s"$out/quarantine"
  }

  /** `KgRun`'s call sequence (KgRun.scala, from the manifest read to the
    * adjacency write) on `pages`. Spans mark each call when tracing.
    * Returns the pending page count (0: up to date, nothing written) and
    * the cached pending frame, for the caller to release after timing
    * stops; `KgRun` ends its session there instead. */
  def job(spark: SparkSession, pages: DataFrame, p: Paths, tr: Tracer): (Long, DataFrame) = {
    import spark.implicits._
    val manifest = tr.span("lineage.read_manifest")(Lineage.readManifest(spark, p.manifest))
    val pending = Lineage.pendingPages(pages, manifest).cache()
    val nPending = tr.span("lineage.pending")(pending.count())
    if (nPending == 0) return (0L, pending)

    val emitted = TripleEmit.emitKeyed(pending.drop("partition_key").as[Page])
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val obs = org.apache.spark.sql.Observation("kg_metrics")
    val triplesKeyed = emitted.filter(col("kind") === 0)
      .select((TripleCols :+ "partition_key").map(col): _*)
      .dropDuplicates()
      .observe(obs, count(lit(1)).as("triples_written"),
        sum(when(col("objKind") === 2, 1L).otherwise(0L)).as("literal_triples"))
    tr.span("lineage.write") {
      tr.open("lineage.write_audit")
      Lineage.writeWithLineage(spark, triplesKeyed, pending, p.triples, p.manifest,
        beforePublish = runKeys => {
          tr.close()
          tr.span("lineage.quarantine_sink") {
            Lineage.deletePartitions(spark, p.quarantine, runKeys)
            emitted.filter(col("kind") === 1)
              .select(col("url"), col("block_idx"), col("errorCode"), col("errorDetail"),
                col("partition_key"))
              .write.mode(SaveMode.Overwrite).partitionBy("partition_key").parquet(p.quarantine)
          }
          tr.open("lineage.publish")
        })
      tr.close()
    }
    emitted.unpersist()
    tr.span("adjacency") {
      val written = spark.read.parquet(p.triples)
      GraphMaterialize.adjacency(written.drop("partition_key").as[Triple])
        .write.mode(SaveMode.Overwrite).parquet(p.adjacency)
    }
    (nPending, pending)
  }

  // ---- reference and checks ---------------------------------------------

  /** Count and order-independent checksum of a keyed triple table. */
  final case class Digest(rows: Long, checksum: BigDecimal)

  def digest(df: DataFrame): Digest = {
    val cols = (TripleCols :+ "partition_key").map(c => col(c).cast("string"))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    Digest(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** What a correct job writes, computed with `emitKeyed` plus a
    * per-partition `dropDuplicates` and no writer. */
  final case class Reference(triples: Digest, subjects: Long, emitted: Long, quarantined: Long,
                             pagesByKey: Map[String, Long])

  def reference(spark: SparkSession, pages: DataFrame): Reference = {
    import spark.implicits._
    val em = TripleEmit.emitKeyed(pages.as[Page]).persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val distinct = em.filter(col("kind") === 0)
        .select((TripleCols :+ "partition_key").map(col): _*).dropDuplicates()
      val byKind = em.groupBy(col("kind")).count().collect().map(r => r.getByte(0) -> r.getLong(1)).toMap
      val pagesByKey = pages.select(Lineage.partitionKeyCol.as("k")).groupBy("k").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Reference(digest(distinct), distinct.select("subj").distinct().count(),
        byKind.getOrElse(0, 0L), byKind.getOrElse(1, 0L), pagesByKey)
    } finally em.unpersist()
  }

  /** Rows of the quarantine table. A run that quarantined nothing leaves
    * a directory without parquet footers, which reads as zero rows, as in
    * `KgRun`. */
  def quarantineRows(spark: SparkSession, p: Paths): Long =
    try spark.read.parquet(p.quarantine).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  /** Failures of the written tables against the reference, by name. */
  def check(spark: SparkSession, p: Paths, ref: Reference, injected: Long): Seq[String] = {
    val got = digest(spark.read.parquet(p.triples))
    val quarantine = quarantineRows(spark, p)
    val adjacency = spark.read.parquet(p.adjacency).count()
    Seq(
      Option.when(got != ref.triples)(s"triples $got != reference ${ref.triples}"),
      Option.when(quarantine != injected)(s"quarantine rows $quarantine != injected $injected"),
      Option.when(quarantine != ref.quarantined)(s"quarantine rows $quarantine != reference ${ref.quarantined}"),
      Option.when(adjacency != ref.subjects)(s"adjacency rows $adjacency != distinct subjects ${ref.subjects}"),
    ).flatten
  }

  /** Files and bytes under `dir`, recursively. */
  def du(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        val files = st.filter(java.nio.file.Files.isRegularFile(_)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.length.toLong, files.map(java.nio.file.Files.size).sum)
      } finally st.close()
    }
  }

  def manifestRows(spark: SparkSession, p: Paths): Seq[String] =
    spark.read.parquet(p.manifest)
      .select(col("partition_key").cast("string"), col("input_fingerprint"), col("triple_count"), col("status"))
      .collect().map(_.mkString("|")).sorted.toSeq
}

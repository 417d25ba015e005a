package graftbench

import graft.KgRun
import graft.pipeline.PageGen

/** Checks that the benchmark's copy of `KgRun`'s call sequence writes what
  * `KgRun.main` writes: same triple count and checksum, quarantine count
  * and manifest rows, at seed 42 with `KgRun`'s default page count and
  * partitioning. Prints one JSON line; exit code 0 when they agree. */
object Parity {
  val KgRunPages = 100000L

  def run(work: String): Int = {
    val shipped = Kg.Paths(s"$work/kgrun")
    val ours = Kg.Paths(s"$work/bench")
    KgRun.main(Array(shipped.out, KgRunPages.toString, Main.Cores.toString)) // stops its session
    val spark = Main.session(work)
    val pages = PageGen.pages(spark, KgRunPages, 42L, Main.Partitions).toDF()
    val (nPending, pending) = Kg.job(spark, pages, ours, new Tracer(false, spark.sparkContext))
    pending.unpersist()
    def side(p: Kg.Paths) = (Kg.digest(spark.read.parquet(p.triples)),
      Kg.quarantineRows(spark, p), Kg.manifestRows(spark, p))
    val (a, b) = (side(shipped), side(ours))
    val same = a == b && nPending == KgRunPages
    println(Main.json(Map("parity" -> same, "pages" -> KgRunPages,
      "kgrun_triples" -> a._1.rows, "bench_triples" -> b._1.rows,
      "kgrun_checksum" -> a._1.checksum.toString, "bench_checksum" -> b._1.checksum.toString,
      "kgrun_quarantined" -> a._2, "bench_quarantined" -> b._2,
      "manifest_rows" -> a._3.size, "manifest_equal" -> (a._3 == b._3))))
    spark.stop()
    if (same) 0 else 1
  }
}

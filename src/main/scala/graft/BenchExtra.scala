package graft

/** Optimization-round helper bench: times a SUBSET of SparkEntry queries
  * with the same action and protocol as graft.Bench (count(), multi-pass,
  * min over successful passes) so per-query A/B comparisons don't pay a
  * full 114-query session. Separate main by design — `Bench` is frozen
  * for measurement (guide §1.4: extra benchmarks live beside the
  * harness, never inside it).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *          sbt "runMain graft.BenchExtra q_kg_hits q_bpe_merges"
  * Env: SPARK_GRAFT_QUERY_PASSES (default 3), SPARK_GRAFT_NOOP=1 to use
  * the noop sink instead of count() (guide §1.4 isolation).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchExtra <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val useNoop = sys.env.get("SPARK_GRAFT_NOOP").contains("1")
    val spark = GraftSession.local(cpus)
    AuxTables.ensure(spark, sfDir)
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "240").toLong * 1000L
    // same session warm-up as Bench so the first query doesn't absorb JIT
    QueryGuard.run(spark, "warmup", timeoutMs) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
      spark.read.parquet(s"$sfDir/documents.parquet").count(): Unit
    }
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_QUERY_PASSES", "3").toInt)
    val results = args.toSeq.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val ok = QueryGuard.run(spark, name, timeoutMs) {
          val df = fn(spark, sfDir)
          if (useNoop) df.write.format("noop").mode("overwrite").save()
          else df.count(): Unit
        }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      name -> times
    }
    val qs = results.map { case (k, v) =>
      val ok = v.filter(_._1).map(_._2)
      val mn = if (ok.nonEmpty) f"${ok.min}%.3f" else "null"
      val all = v.map { case (o, t) => if (o) f"$t%.3f" else f"-$t%.3f" }
        .mkString("[", ",", "]")
      s""""$k":{"min":$mn,"passes":$all}"""
    }.mkString("{", ",", "}")
    println(s"""{"bench":"extra","sf":"$sfDir","cpus":$cpus,"queries":$qs}""")
    spark.stop()
  }
}

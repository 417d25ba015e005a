package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Per-task wall-clock guard: runs `body` on a cancellable worker thread
  * under a Spark job group; on timeout, cancels the group's jobs (task
  * interruption enabled) so one runaway query can never consume the whole
  * budget — round 1's q_minhash_neardups alone zeroed both BENCH and
  * CORRECTNESS for the round. Returns true iff the body completed
  * WITHOUT throwing (review r4: a body exception used to report true,
  * letting Bench publish a fast "min" for a pass that never finished). */
object QueryGuard {
  def run(spark: SparkSession, name: String, timeoutMs: Long)(body: => Unit): Boolean = {
    val group = s"guard-$name"
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try body
      catch { case e: Throwable =>
        failed.set(true)
        System.err.println(s"[guard] $name failed: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutMs)
    if (worker.isAlive) {
      System.err.println(s"[guard] $name TIMED OUT after ${timeoutMs / 1000}s — cancelling")
      spark.sparkContext.cancelJobGroup(group)
      worker.join(30000)
      false
    } else !failed.get()
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: dump only these queries (incremental
    // rounds re-verify just what they touched; the driver passes none)
    val subset = args.drop(2).toSet
    val spark = GraftSession.local(GraftSession.cores)
    new java.io.File(outDir).mkdirs()
    // materialize the aux oracle tables up front so no query's guard
    // budget is spent building them; queries hit the _READY fast path
    val auxDir = AuxTables.ensure(spark, sfDir)
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "240").toLong * 1000L
    val toRun =
      if (subset.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(subset).toMap
    toRun.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = QueryGuard.run(spark, name, timeoutMs) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      if (ok)
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {AUX} resolves to this run's materialized aux-table dir: the oracle
    // SQL reads those parquet files directly via read_parquet()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{AUX}", auxDir))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence artifact (plans/r06/<query>_{before,after}.txt).
  * Not part of the frozen measurement harness (Bench/Verify untouched).
  *
  * Usage: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1 q2 ...]"
  * With no query names, dumps every SparkEntry query.
  *
  * NOTE: several operators are eager by contract (they localCheckpoint
  * during DataFrame construction), so their dumped plan is the
  * post-checkpoint consumer plan — the same convention the round-5 plan
  * audit used.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [names...]")
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    val subset = args.drop(3).toSet
    Files.createDirectories(outDir)
    val spark = GraftSession.local(GraftSession.cores)
    // static plans, like PlanAudit: AQE re-plans at runtime; the formatted
    // dump shows Catalyst's static choices (join strategy, exchanges,
    // pushdown) which is what the before/after diff should compare
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val unknown = subset.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        "a typo here would silently leave a stale plan file in place")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subset.isEmpty || subset(n))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        println(s"dumped $name")
      } catch {
        case e: Exception =>
          println(s"FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

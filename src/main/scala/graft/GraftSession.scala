package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder of the mains and the test suites (the
  * frozen `Bench` keeps its own). A caller that needs a different setting
  * sets it on the returned session with `spark.conf.set`, next to its
  * reason. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per core, UTC session time,
    * no UI and WARN logging. Reuses a running session (`getOrCreate`), so
    * a caller that already built one gets it back. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

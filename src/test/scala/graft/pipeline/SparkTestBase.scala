package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Shared local session for all Spark suites (one JVM, forked by sbt with
  * the JDK17 add-opens flags from build.sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val spark = GraftSession.local(4)
    // more reduce partitions than task slots (8 on 4 cores)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark
  }
}

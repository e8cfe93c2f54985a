package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession of the test JVM. Every suite runs in one forked JVM, and a
  * JVM holds one active session, so a spec that built its own would only set the
  * master and confs when it happened to run first. Never stop it inside a spec.
  */
trait SharedSparkSession {
  lazy val spark: SparkSession = SharedSparkSession.spark
}

object SharedSparkSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

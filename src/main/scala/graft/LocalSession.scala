package graft

import org.apache.spark.sql.SparkSession

/** The session every command-line main runs on: `local[cpus]` with one
  * shuffle partition per core, the INT64-nanos shim [[Tables.events]]
  * needs, a UTC clock, no UI, and [[plans.GraftExtensions]]. Smoke builds
  * its own session, without the extension.
  */
object LocalSession {
  def apply(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}

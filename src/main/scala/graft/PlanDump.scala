package graft

import java.nio.file.{Files, Paths}

/** Batch plan-dump tool for the optimization rounds: writes the
  * `explain("formatted")` output of each named query to
  * `plans/<tag>/<query>_<suffix>.txt` in one JVM (Explain spins up a
  * session per query, which is too slow for a before/after sweep across
  * the slowest-40).
  *
  * Usage: runMain graft.PlanDump <tag> <suffix> <queryPrefix>...
  *   e.g. runMain graft.PlanDump r20 before q36 q71 q135
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01 — plan SHAPE is SF-independent
  * here; every input is a single parquet file per table), SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query>...")
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus, logLevel = "ERROR")
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    for (a <- names) {
      val key = SparkEntry.queries.keys.find(k => k == a || k.startsWith(a))
        .getOrElse(sys.error(s"no query matches '$a'"))
      val shortKey = key.takeWhile(_ != '_')
      try {
        val df = SparkEntry.queries(key)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${shortKey}_$suffix.txt"), plan)
        println(s"[plandump] wrote ${shortKey}_$suffix.txt (${plan.length} B)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $key FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

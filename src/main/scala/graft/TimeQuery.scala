package graft

/** Ad-hoc per-query timing probe: `runMain graft.TimeQuery q38 q36 ...`
  * under SPARK_GRAFT_SF_DIR/SPARK_GRAFT_CPUS, same session config as Bench.
  * Accepts full query keys or unique prefixes; repeats each query
  * SPARK_GRAFT_REPS times (default 2) so warm cost is visible next to cold.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = LocalSession(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val keys = args.toSeq.map { a =>
      SparkEntry.queries.keys.find(k => k == a || k.startsWith(a))
        .getOrElse(sys.error(s"no query matches '$a'"))
    }
    for (k <- keys; r <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(k)(spark, sfDir).count()
      println(f"[time] $k rep$r: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}

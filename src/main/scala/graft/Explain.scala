package graft

/** Plan audit tool: prints the formatted physical plan of one named query.
  * Usage: runMain graft.Explain <queryName> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}

package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Ad-hoc per-query JOB-LEVEL profile: `runMain graft.JobProfile q75 ...`
  * under SPARK_GRAFT_SF_DIR/SPARK_GRAFT_CPUS, same session config as Bench.
  * For each rep it prints the number of driver jobs, completed stages,
  * tasks, and total shuffle-read/write bytes the execution scheduled —
  * the guide-§1 counters that raw wall time hides (a recompute shows up
  * as duplicated stages; a dead action as an extra job). Reps make warm
  * (memoized-probe) cost visible next to cold. It is also the ad-hoc
  * timing probe: each rep's `[prof]` line carries its seconds and row
  * count.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = LocalSession(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shufRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val keys = args.toSeq.map { a =>
      SparkEntry.queries.keys.find(k => k == a || k.startsWith(a))
        .getOrElse(sys.error(s"no query matches '$a'"))
    }
    // the listener bus is async and private[spark]; a short settle sleep is
    // enough at this granularity (counters, not timings)
    def drain(sc: SparkContext): Unit = Thread.sleep(400)
    val dumpExec = sys.env.contains("SPARK_GRAFT_EXECPLAN")
    for (k <- keys; r <- 1 to reps) {
      drain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0); shufRead.set(0L); shufWrite.set(0L)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, sfDir)
      // collect() (not count()) when dumping: only the dataset's OWN
      // queryExecution carries the final adaptive plan after execution
      val n = if (dumpExec) df.collect().length.toLong else df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      drain(spark.sparkContext)
      println(f"[prof] $k rep$r: $sec%.2f s ($n rows) jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} " +
        f"shufRead=${shufRead.get / 1024}KiB shufWrite=${shufWrite.get / 1024}KiB")
      if (dumpExec && r == reps) {
        // the FINAL adaptive plan — where runtime exchange/stage reuse is
        // visible (the static dump never shows ReusedExchange under AQE)
        println(s"[prof] $k executedPlan:\n${df.queryExecution.executedPlan.toString}")
      }
    }
    spark.stop()
  }
}

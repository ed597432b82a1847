package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds the session, runs one workload's
  * set-up and timed phase, and writes the raw observations as JSON for
  * `run.py`, which computes the reported metrics and checks.
  *
  * Usage: `Main <workload> <seconds> <trace 0|1> <inputDir> <workDir> <out.json>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, secs, trace, input, work, out) = args
    val load1Start = load1()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // set-up counts from JVM launch: class loading is set-up too
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, trace == "1")
    val ctx = Ctx(spark, tracer, secs.toDouble, Paths.get(input), Paths.get(work))
    val r = workload match {
      case "inventory" => InventoryWorkload.run(ctx)
      case "crawl" => CrawlWorkload.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    tracer.drain()
    r("session_s") = sessionS
    r("setup_wall_s") = (ctx.timedStartMs - jvmStartMs) / 1e3
    r("load1_start") = load1Start
    r("load1_end") = load1()
    r("cores") = Runtime.getRuntime.availableProcessors()
    r("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    if (tracer.enabled) {
      r("spans") = tracer.spans.map(s => Map(
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "op" -> s.op)).toSeq
      r("self_s") = tracer.selfSeconds
    }
    tracer.stop()
    spark.stop()
    Files.writeString(Paths.get(out), Json(r.toMap))
  }

  /** Layer metrics per unit of work (a query or a shard pass);
    * the `states` keys are levels, not totals, and stay as they are.
    */
  def perUnit(units: Int, states: Set[String])(kv: (String, Double)*): Map[String, Double] =
    kv.map { case (k, v) => k -> (if (states(k)) v else v / math.max(1, units)) }.toMap

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }
}

/** What every workload gets: the session, the tracer, the timed-phase
  * length, the generated inputs and a scratch directory for tables.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seconds: Double,
                     input: Path, work: Path) {
  /** A fresh copy of `src` under the scratch directory: re-reading inputs
    * from new paths makes every file-fingerprinted memo miss, the way a
    * new crawl or a new table version would.
    */
  def freshCopy(src: Path, tag: String): Path = {
    val dst = work.resolve(tag)
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      Files.copy(f, dst.resolve(f.getFileName))
    }
    dst
  }

  /** Wall-clock start of the timed phase; everything before it is set-up. */
  var timedStartMs = 0L

  def startTimed(): Unit = {
    tracer.startTimed()
    timedStartMs = System.currentTimeMillis()
  }

  /** The timed phase: runs `body` whole, at least `min` times, and again
    * while one more run of the mean length still ends within the requested
    * seconds. After each run, outside the timed window, a full collection
    * samples the heap still in use.
    */
  def repeat(min: Int)(body: => Unit): Timed = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMillis = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
    var n = 0
    var elapsed, gcS, peakMb = 0.0
    while (n < min || elapsed * (n + 1) / n <= seconds) {
      val (t0, gc0) = (System.nanoTime(), gcMillis)
      body
      elapsed += (System.nanoTime() - t0) / 1e9
      gcS += (gcMillis - gc0) / 1e3
      peakMb = math.max(peakMb, liveHeapMb())
      n += 1
    }
    Timed(n, elapsed, peakMb, gcS)
  }

  /** Heap in use once garbage is gone: Spark's cleaner drops cached
    * blocks only after a collection finds their owners unreachable, so
    * collect until the heap stops shrinking.
    */
  private def liveHeapMb(): Double = {
    val memory = ManagementFactory.getMemoryMXBean
    var before = Long.MaxValue
    var used = memory.getHeapMemoryUsage.getUsed
    var rounds = 0
    while (rounds < 5 && used < before - (1L << 20)) {
      before = used
      System.gc()
      Thread.sleep(100)
      used = memory.getHeapMemoryUsage.getUsed
      rounds += 1
    }
    used / 1048576.0
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** What the timed phase measured: runs, their seconds, the peak heap in
  * use after a full collection at the end of a run, and the JVM's
  * collection seconds during the runs.
  */
final case class Timed(n: Int, elapsed: Double, heapPeakMb: Double, gcS: Double)

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The mutable result record a workload fills. */
object Result {
  def apply(): mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

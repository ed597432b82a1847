package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A JVM-global memo for planning metadata (footer schemas, manifests,
  * statistics, sidecars, dispatch probes): a thread-safe, access-ordered
  * LRU holding at most `capacity` entries. Past the cap it evicts ONE
  * entry, the least recently used — never a wholesale clear, which would
  * forget every entry at once and let a burst of recomputation follow.
  *
  * [[apply]] computes outside the lock, so a slow compute (a footer read,
  * a probe job) never blocks lookups of other keys; two threads missing
  * on one key may both compute, and the later put wins — every value is
  * a deterministic function of its key. Whatever the compute returns is
  * cached, `None` included; a compute that throws caches nothing. Values
  * live for the JVM only and are never persisted.
  */
final class Memo[K, V](capacity: Int) {
  require(capacity > 0, s"memo capacity must be positive, got $capacity")

  private val entries =
    new java.util.LinkedHashMap[K, V](16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > capacity
    }

  def apply(key: K)(compute: => V): V = get(key) match {
    case Some(v) => v
    case None =>
      val v = compute
      put(key, v)
      v
  }

  /** The cached value, marking it most recently used. */
  def get(key: K): Option[V] = entries.synchronized {
    if (entries.containsKey(key)) Some(entries.get(key)) else None
  }

  def put(key: K, value: V): Unit = entries.synchronized {
    entries.put(key, value)
    ()
  }

  def size: Int = entries.synchronized(entries.size)
}

object Memo {

  /** The (modification time, length) of the file at `path`, read through
    * Hadoop's FileSystem so any registered scheme works. A path with no
    * scheme is a local file — the same file `java.nio` would open. The
    * Hadoop configuration is the running session's (schemes registered
    * there resolve), else a default one. Throws when the file is absent.
    */
  def stamp(path: String): (Long, Long) = {
    val s = fileSystem(path).getFileStatus(new Path(path))
    (s.getModificationTime, s.getLen)
  }

  /** The FileSystem [[stamp]] reads `path` through. */
  private[graft] def fileSystem(path: String): FileSystem = {
    val p = new Path(path)
    if (p.toUri.getScheme == null) FileSystem.getLocal(hadoopConf)
    else p.getFileSystem(hadoopConf)
  }

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(defaultConf)
  private lazy val defaultConf = new org.apache.hadoop.conf.Configuration()

  /** The session confs that change the schema Spark infers from a parquet
    * footer (an unannotated BINARY reads as string or binary, INT96 and
    * INT64-nanos as timestamps or longs, an un-adjusted timestamp as NTZ
    * or not). Every footer-schema memo keys on their values, so sessions
    * that disagree on them never share a schema.
    */
  private val ParquetInferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  def parquetInference(spark: SparkSession): String =
    ParquetInferenceConfs.map(k => spark.conf.getOption(k).getOrElse(""))
      .mkString(",")
}

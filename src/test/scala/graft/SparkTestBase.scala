package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, tuned for local[*]. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Serialize session-conf mutations across PARALLEL suites: specs share
    * ONE SparkSession, so a test that flips a conf and restores it in a
    * finally can interleave with another suite's conf-sensitive plan pin
    * (observed: a broadcast-threshold restore landing mid-collect turned
    * a pinned sort-merge attach into a broadcast join). Every test that
    * mutates session conf must run its WHOLE body under this helper. */
  def withSessionConf[T](kvs: (String, String)*)(body: => T): T =
    SparkTestBase.confLock.synchronized {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** A fresh temp directory named `prefix…`, deleted with its content
    * when the test JVM exits (tests fork, so that is the end of the run). */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    SparkTestBase.tempDirs.add(d)
    d.getPath
  }
}

object SparkTestBase {
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(tempDirs.forEach(graft.sources.DerivedStore.deleteLocal(_)))

  /** See [[SparkTestBase.withSessionConf]]. */
  val confLock = new Object
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

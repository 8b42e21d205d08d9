package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (lazy, reused across tests). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val builder = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.file.transferTo", "false")
    // no-chmod local FS (see GraftSession.localFsConf): the test suite
    // runs the same streaming/write paths the bench does
    graft.core.GraftSession.localFsConf.foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
  }

  /** Runs `f` and counts the Spark jobs that ran meanwhile. */
  def countingJobs[T](f: => T): (T, Long) = {
    val jobs = new graft.perf.MetricsListener
    spark.sparkContext.addSparkListener(jobs)
    val out = try f finally {
      jobs.settle()
      spark.sparkContext.removeSparkListener(jobs)
    }
    (out, jobs.jobsCompleted.get)
  }

  val Sf0001 = "/root/testdata/sf0.001"
}

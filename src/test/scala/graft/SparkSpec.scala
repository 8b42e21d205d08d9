package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (lazy, reused across tests), built
  * through the engine's one session factory on a fixed four cores so the
  * specs do not depend on the host. Each suite releases it when done, so
  * no suite hands its temp views, caches or persisted RDDs to the next.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.GraftSession.local(cores = 4)

  override protected def afterAll(): Unit =
    try graft.core.GraftSession.release(spark) finally super.afterAll()

  /** Runs `f` and counts the Spark jobs that ran meanwhile. */
  def countingJobs[T](f: => T): (T, Long) = {
    val jobs = new graft.perf.MetricsListener
    spark.sparkContext.addSparkListener(jobs)
    val out = try f finally {
      jobs.settle(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
    }
    (out, jobs.jobsCompleted.get)
  }

  val Sf0001 = "/root/testdata/sf0.001"

  /** Cancels the test unless each of `dirs` (e.g. `source_crm`) is a
    * directory under [[graft.queries.Medallion.ReferenceRoot]]: the
    * reference-CSV tests assert counts of the reference checkout's own files,
    * so they run wherever that checkout is and nowhere else.
    */
  def assumeReferenceCsvs(dirs: String*): Unit = dirs.foreach { d =>
    val dir = java.nio.file.Paths.get(graft.queries.Medallion.ReferenceRoot, d)
    assume(java.nio.file.Files.isDirectory(dir), s"reference checkout absent: $dir")
  }
}

package graft.queries

import graft.SparkSpec

/** The certification streams' wait: it returns once a running stream has
  * processed its input, and a stream stopped from outside (Bench's sf1 cap
  * stops every active stream) surfaces as an error, never as a partial sink.
  */
class StreamHarnessSpec extends SparkSpec {

  private def startCopy(name: String) = {
    val dir = graft.core.GraftSession.scratchDir("graft_harness_spec_")
    spark.range(0, 100).write.parquet(s"$dir/drops")
    spark.readStream.schema(spark.read.parquet(s"$dir/drops").schema).parquet(s"$dir/drops")
      .writeStream.format("memory").queryName(name).start()
  }

  test("a running stream is waited for until its sink holds every row") {
    val q = startCopy("graft_harness_running")
    try Pipeline.awaitAllAvailable(q) finally q.stop()
    assert(spark.table("graft_harness_running").count() == 100)
  }

  test("a stream stopped before the wait makes the wait throw") {
    val q = startCopy("graft_harness_stopped")
    q.stop()
    val e = intercept[IllegalStateException](Pipeline.awaitAllAvailable(q))
    assert(e.getMessage.contains(q.id.toString))
  }
}

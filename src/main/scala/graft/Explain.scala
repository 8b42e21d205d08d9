package graft

/** Plan inspector: prints the formatted physical plan for the named queries
  * (or all) at the given sf dir. Used to audit pushdown / pruning /
  * broadcast / codegen coverage per round. A query that fails to build or
  * plan is named on stderr and the run goes on to the next.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = SparkEntry.select(args.drop(1).toSeq)
    val spark = core.GraftSession.local()
    selected.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.run(spark, n, sfDir)(_.explain("formatted"))
        ._1.swap.foreach(e => System.err.println(s"[explain] $n failed: $e"))
    }
    spark.stop()
  }
}

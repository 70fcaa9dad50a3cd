package graft.tools

import graft.Harness

/** Ad-hoc measurement probe (not on any query/bench path): edit `main`
  * to build the pipeline under study through the public API and time it.
  * Usage: runMain graft.tools.Scratch [sfDir] — default /root/testdata/sf0.1.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"SCRATCH $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    Harness.warmup(spark, dir)
    for (rep <- 1 to 3) time(s"q01_pricing_summary #$rep") {
      Harness.materialize(graft.SparkEntry.queries("q01_pricing_summary")(spark, dir))
    }
    spark.stop()
  }
}

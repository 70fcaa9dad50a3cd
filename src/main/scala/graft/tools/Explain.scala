package graft.tools
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("q03_broadcast_filter", "g11_filters_pushdown", "q02_join_revenue")) {
      println(s"===== $name")
      graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}

package graft.tools

import graft.Harness

/** Per-lane profiling driver for the optimization rounds: runs named
  * queries in isolation (fresh-JVM comparable), times `reps` executions
  * with the SAME action as the bench (`Harness.materialize`), and
  * optionally dumps `.explain("formatted")` to a file per query.
  *
  * Usage:
  *   runMain graft.tools.Prof <sfDir> <reps> <outDirOrNONE> <q1,q2,...>
  *
  * Prints one JSON line per (query, rep) and a min line per query; a
  * query whose rep throws gets an "err" marker and sec -1 on its min line.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val outDir = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      if (outDir != "NONE") {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name.txt"), plan)
      }
      var rep = 0
      val (ts, err) = Harness.steadyReps(reps) {
        rep += 1
        spark.sparkContext.setJobDescription(s"prof:$name#$rep")
        Harness.materialize(fn(spark, sfDir))
      }
      ts.zipWithIndex.foreach { case (sec, i) =>
        println(s"""{"prof":"$name","rep":${i + 1},"sec":$sec}""")
      }
      val min = if (err.isEmpty) ts.minOption.getOrElse(-1.0) else -1.0
      println(s"""{"prof_min":"$name","sec":$min,"reps":$reps${Harness.errField(err)}}""")
    }
    spark.stop()
  }
}

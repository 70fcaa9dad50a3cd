package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.SparkEntry

/** One-off record of the change of bench action: for each of the 30 batch
  * lanes, seconds of `count()` beside seconds of the materializing `noop`
  * write, same session, interleaved per lane, min over the repetitions
  * after one untimed warm pass. `perfbench/transition.py` runs it.
  *
  * Arguments: <input dir> <work dir> <output json>
  */
object Transition {
  val Repetitions = 2

  def main(args: Array[String]): Unit = {
    val Array(dataDir, work, out) = args
    val spark = Main.session("perfbench-transition", work)
    try {
      val lanes = Batch.RasterGeo ++ Batch.TextPipeline
      lanes.foreach(l => Batch.materialize(SparkEntry.queries(l)(spark, dataDir)))
      val counted = mutable.Map[String, Double]().withDefaultValue(Double.MaxValue)
      val materialized = mutable.Map[String, Double]().withDefaultValue(Double.MaxValue)
      def secs(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      for (_ <- 1 to Repetitions; l <- lanes) {
        counted(l) = math.min(counted(l), secs(SparkEntry.queries(l)(spark, dataDir).count()))
        materialized(l) = math.min(materialized(l),
          secs(Batch.materialize(SparkEntry.queries(l)(spark, dataDir))))
      }
      val rows = lanes.map(l => l -> Json.obj(
        "count_s" -> Json.num(counted(l)), "materialized_s" -> Json.num(materialized(l))))
      val (st, mt) = Obs.calibrate()
      Files.writeString(Paths.get(out), Json.obj(
        "repetitions" -> Json.num(Repetitions.toLong),
        "estimator" -> Json.str("min over repetitions after one warm pass"),
        "calibration_s" -> Json.num(st),
        "calibration_mt_s" -> Json.num(mt),
        "count_total_s" -> Json.num(lanes.map(counted).sum),
        "materialized_total_s" -> Json.num(lanes.map(materialized).sum),
        "lanes" -> Json.obj(rows: _*)).render)
    } finally spark.stop()
  }
}

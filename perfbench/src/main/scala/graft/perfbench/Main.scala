package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** JVM side of one benchmark run. `perfbench/run.py` starts it with
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <input dir> --work <scratch dir> --record <json path>
  *
  * and reads the run record it writes. Any exception during set-up (the
  * fixture writes, the warm-up or correctness dump) ends the process with a
  * non-zero status and no record.
  */
object Main {
  /** Spark as every run uses it: local[4], the contract's session settings,
    * scratch space under `work`. */
  def session(name: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val spark = session(s"perfbench-$workload", work)
    var status = 1
    try {
      var firstOpMs = 0L
      val firstOp = () => firstOpMs = System.currentTimeMillis()
      val result = workload match {
        case "tile_serving" =>
          TileServing.run(spark, seed, seconds, trace, opt("data"), firstOp)
        case "text_geo_batch" =>
          Batch.run(spark, seed, seconds, trace, opt("data"), work, firstOp)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val (calST, calMT) = Obs.calibrate()
      val record = Json.obj(
        "workload" -> Json.str(workload),
        "seed" -> Json.num(seed),
        "trace" -> Json.bool(trace),
        "first_op_epoch_ms" -> Json.num(firstOpMs),
        "calibration_s" -> Json.num(calST),
        "calibration_mt_s" -> Json.num(calMT),
        "cores" -> Json.num(Runtime.getRuntime.availableProcessors().toLong),
        "result" -> result)
      Files.writeString(Paths.get(opt("record")), record.render)
      status = 0
    } catch {
      case e: Throwable => e.printStackTrace()
    } finally {
      graft.QueryLib.clearCaches()
      graft.raster.FrameCache.clear()
      spark.stop()
    }
    System.exit(status)
  }
}

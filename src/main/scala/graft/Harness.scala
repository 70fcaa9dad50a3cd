package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one driver harness shared by Bench, Verify, Prof, the soaks, the
  * WMS main and the test session: how a session is built, how a lane is
  * driven and timed, how the warm-up runs and how a failure becomes an
  * error marker. The reference evaluates a view one way (`get_data` under
  * the configured scheduler); every driver here does the same. */
object Harness {
  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_MASTER` (a deployment setting, e.g.
    * `local-cluster[4,8,4096]` to run on separate executor JVMs), else
    * `local[cpus]`. */
  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** The contract session: UTC session time, parquet nanos read as longs,
    * no TIMESTAMP_NTZ inference, UI off. */
  def session(master: String = master, partitions: Int = cpus,
      logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    // local-cluster executors are separate JVMs launched from SPARK_HOME:
    // they need this build's classes on their classpath
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath",
        sys.props.getOrElse("java.class.path", ""))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Produce every row and every column of `df` and discard them — the
    * work `Verify` writes. A `count()` lets Catalyst prune columns and
    * joins down to a much smaller plan, so it is never the timed action. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed warm-up: JIT/codegen priming plus the shared source-frame
    * cache (the TableRasterSource reshape is a per-session cost, reused
    * by every raster query). A failing warm-up ends the run with its
    * exception: a driver that went on would time the cold path it was
    * meant to exclude. The session is stopped first so its threads
    * cannot keep the JVM alive. */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      SparkEntry.entry(spark).count()
      val g = QueryLib.eventsGrid(spark, sfDir)
      QueryLib.eventsRaster(sfDir, g).frame(QueryLib.fullReq(g))(spark).count()
    } catch { case e: Throwable => spark.stop(); throw e }

  /** A failure as a one-line, JSON-safe marker: class + truncated message. */
  def errorMarker(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").take(120).replaceAll("[\"\\\\\n\r]", " ")

  /** `,"err":"<marker>"` for a JSON line, or nothing. */
  def errField(err: Option[String]): String =
    err.map(e => s""","err":"$e"""").getOrElse("")

  /** Wall seconds of `body`, or the error marker of its throw. */
  private def timed(body: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { body; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(errorMarker(e)) }
  }

  /** One timed lane: build `df` and materialize it. A lane that throws
    * reports its error marker, never a timing built from the failure's
    * fast path. */
  def lane(df: => DataFrame): Either[String, Double] = timed(materialize(df))

  /** Rep runner for the steady lane and Prof: times up to `reps`
    * executions of `body`; the FIRST throw aborts the lane and is
    * returned as an error marker. Completed reps' timings are still
    * returned for the reps array. */
  def steadyReps(reps: Int)(body: => Unit): (Seq[Double], Option[String]) = {
    val ts = scala.collection.mutable.ArrayBuffer[Double]()
    var err: Option[String] = None
    while (ts.length < reps && err.isEmpty) timed(body) match {
      case Right(sec) => ts += sec
      case Left(e)    => err = Some(e)
    }
    (ts.toSeq, err)
  }

  /** Heap pools, for per-lane peak heap: pool high-water marks are reset
    * before a lane and summed after it, so usage is attributed to the
    * lane rather than to the process. */
  private[graft] def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def lanePeakMb: Long = heapPools.map(_.getPeakUsage.getUsed).sum >> 20
}

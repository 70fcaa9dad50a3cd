package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.raster.FrameCache

/** `text_geo_batch`: a seeded order of text-pipeline, geometry and sink
  * lanes, each materialized. An untimed pass first writes every lane's rows
  * the way `graft.Verify` does: the correctness dump, which also warms the
  * JIT. Then timed passes run while another whole pass fits in the run's
  * seconds, at least one. */
object Batch {
  /** The text-pipeline lanes of the contract, corpus-sized string exchanges
    * and per-row kernels with no raster, frame cache, codec or service
    * work. */
  val TextPipeline: Seq[String] = Seq(
    "p44_remove_dup_spans", "p20_decontaminate", "p48_decontaminate_bloom",
    "p42_window_dedup", "p34_semdedup", "p39_clean_with_lm",
    "p33_bigram_perplexity", "p38_trigram_perplexity", "p07_minhash_lsh",
    "p14_ivf_topk", "p24_tfidf_topk", "p11_embed_near_dups")

  /** The workload's lanes. Five text-pipeline lanes are those whose cost
    * a `count()` hid most (the exact-substring span removal, the two
    * decontamination variants, the windowed dedup and SemDeDup): string
    * exchanges and per-row kernels. The other five exercise the layers the
    * text lanes leave out: two spatial joins (geometry), two DSv2 writes
    * that read back through the connectors (sources, codecs), and a raster
    * lane over the same events raster as the DSv2 raster write, so the
    * second of them reuses its frame from `FrameCache`. Ten lanes keep a
    * run inside the benchmark's time budget (see perfbench/README.md). */
  val Lanes: Seq[String] = Seq(
    "p44_remove_dup_spans", "p20_decontaminate", "p48_decontaminate_bloom",
    "p42_window_dedup", "p34_semdedup",
    "g28_spatial_join", "g31_knn_join", "g33_dsv2_fgb_write", "r65_dsv2_write",
    "r21_cumulative")

  /** Raster kernels, zonal statistics, spatial joins and six sink lanes
    * that write through the codecs and DSv2 writers. The transition record
    * runs them all; a workload of its own does not fit the benchmark's
    * time budget, so `Lanes` takes five of them (see perfbench/README.md). */
  val RasterGeo: Seq[String] = Seq(
    "r28_rasterize", "r35_smooth_linear", "r19_temporal_sum", "r21_cumulative",
    "r33_elemwise_suite", "r36_utm_warp", "r37_cog_overview",
    "z01_zonal_mean", "z03_zonal_crs",
    "g28_spatial_join", "g29_spatial_within", "g31_knn_join",
    "g17_gpkg_roundtrip", "g20_flatgeobuf", "g33_dsv2_fgb_write",
    "r58_zarr_sharded", "r65_dsv2_write", "r55_zarr_v3")

  /** The timed action: a `noop` write drives every column of the lane's
    * result, which a `count()` would let Catalyst prune away. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def errorClass(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").replaceAll("[0-9]+", "N").replaceAll("\\s+", " ").take(120)

  /** JSON string with Verify's escaping, for `oracle_sql.json`. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  final case class LaneRun(lane: String, ms: Double, err: Option[String])

  private def pass(spark: SparkSession, order: Seq[String], dataDir: String): (Seq[LaneRun], Double) = {
    val t0 = System.nanoTime()
    val runs = order.map { lane =>
      val s = System.nanoTime()
      try {
        materialize(SparkEntry.queries(lane)(spark, dataDir))
        LaneRun(lane, (System.nanoTime() - s) / 1e6, None)
      } catch {
        case NonFatal(e) => LaneRun(lane, (System.nanoTime() - s) / 1e6, Some(errorClass(e)))
      }
    }
    (runs, (System.nanoTime() - t0) / 1e9)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
      dataDir: String, outDir: String, firstOp: () => Unit): Json.J = {
    val order = new scala.util.Random(seed).shuffle(Lanes)

    // correctness dump, which also warms the JIT; any failure aborts the run
    val verifyDir = s"$outDir/verify"
    val d0 = System.nanoTime()
    for (lane <- order)
      SparkEntry.queries(lane)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$verifyDir/$lane")
    val oracle = SparkEntry.oracleSql.filter(kv => order.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"), oracle)
    val dumpS = (System.nanoTime() - d0) / 1e9

    firstOp()
    val passes = mutable.ArrayBuffer[(Seq[LaneRun], Double)]()
    val t0 = System.nanoTime()
    while (passes.isEmpty ||
        (System.nanoTime() - t0) / 1e9 + passes.map(_._2).max <= seconds)
      passes += pass(spark, order, dataDir)
    val runs = passes.flatMap(_._1)
    val ok = runs.filter(_.err.isEmpty)
    // a batch user waits for the whole pass: its latency is the time of a
    // pass in which every lane succeeded (a failed lane is never fast)
    val passMs = passes.collect { case (rs, s) if rs.forall(_.err.isEmpty) => s * 1e3 }.toSeq
    val wall = passes.map(_._2).sum
    val record = mutable.LinkedHashMap[String, Json.J](
      "attempted" -> Json.num(runs.size.toLong),
      "failed" -> Json.num((runs.size - ok.size).toLong),
      "ops_per_s" -> Json.num(ok.size / wall),
      "latency_mean_ms" -> Json.num(if (passMs.isEmpty) Double.NaN else passMs.sum / passMs.size),
      "ops_ok_frac" -> Json.num(ok.size.toDouble / runs.size),
      "batch_s" -> Json.num(Stats.median(passes.map(_._2).toSeq)),
      "passes" -> Json.num(passes.size.toLong),
      "dump_s" -> Json.num(dumpS),
      "lane_order" -> Json.arr(order.map(Json.str)),
      "lane_ms" -> Json.nums(runs.groupBy(_.lane).map { case (k, rs) => k -> Stats.median(rs.map(_.ms).toSeq) }),
      "error_classes" -> Json.nums(runs.flatMap(r => r.err.map(e => s"${r.lane}: $e"))
        .groupBy(identity).map { case (k, v) => k -> v.size.toDouble }),
      "verify_dir" -> Json.str(verifyDir))
    if (trace) record ++= traced(spark, order, dataDir, Stats.median(passes.map(_._2).toSeq))
    Json.obj(record.toSeq: _*)
  }

  /** One more pass with a job group per lane, the Spark listener on, and a
    * bus drain after each lane so every lane's events are attributed; then
    * one more untraced pass. */
  private def traced(spark: SparkSession, order: Seq[String], dataDir: String,
      untracedBefore: Double): Seq[(String, Json.J)] = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val tr = new Tracer
    val hits0 = FrameCache.hitCount.get(); val misses0 = FrameCache.missCount.get()
    val gc0 = Obs.gcMs
    Obs.drain(spark)
    Obs.resetHeapPeak()
    val t0 = System.nanoTime()
    val failed = mutable.ArrayBuffer[String]()
    try {
      for ((lane, i) <- order.zipWithIndex) {
        listener.currentOp = lane
        sc.setJobGroup(lane, lane, interruptOnCancel = false)
        try tr.span(i, "lane") {
          try {
            val df = tr.span(i, "lane.construct", "lane")(SparkEntry.queries(lane)(spark, dataDir))
            tr.span(i, "lane.materialize", "lane")(materialize(df))
          } catch { case NonFatal(e) => failed += lane }
        } finally {
          sc.clearJobGroup()
          Obs.drain(spark)
        }
      }
    } finally {
      spark.listenerManager.unregister(listener)
      sc.removeSparkListener(listener)
    }
    val passS = (System.nanoTime() - t0) / 1e9
    val gcS = (Obs.gcMs - gc0) / 1e3
    val heapMb = Obs.heapPeakMb
    val hits = FrameCache.hitCount.get() - hits0
    val misses = FrameCache.missCount.get() - misses0
    // untraced again, so the overhead compares against the mean of an
    // untraced pass before and after the traced one (the JVM still warms)
    val untracedPassS = (untracedBefore + pass(spark, order, dataDir)._2) / 2
    val per = order.map(listener.snapshot)
    val laneS = order.zipWithIndex.map { case (l, i) => l -> tr.ms(i, "lane").get / 1e3 }.toMap
    val driverOnly = order.zip(per).map { case (l, t) => laneS(l) - t.jobUnionMs / 1e3 }.sum
    val layers = mutable.LinkedHashMap[String, Double](
      "lane.construct_s" -> order.indices.map(i => tr.ms(i, "lane.construct").getOrElse(0.0) / 1e3).sum,
      "spark.driver_only_s" -> driverOnly)
    layers ++= LayerListener.totals(per)
    layers ++= Seq(
      "raster.framecache_hits" -> hits.toDouble,
      "raster.framecache_misses" -> misses.toDouble,
      "jvm.gc_s" -> gcS,
      "jvm.heap_peak_mb" -> heapMb,
      "ops_failed_frac" -> failed.size.toDouble / order.size,
      "trace.overhead_pct" -> 100.0 * (passS / untracedPassS - 1))
    for (l <- order) layers(s"lane.${l}_s") = laneS(l)
    Seq("layers" -> Json.nums(layers), "spans" -> tr.toJson)
  }
}

package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Fixed pure-CPU calibration workload — no I/O, no Spark, no code
    * under test. Identical across rounds by construction, so its time
    * measures the HOST, not the repo: cross-round per-query comparisons
    * should be read against the calibration ratio (the r7 adjudication
    * found identical code varying ×1.4-1.8 between recording windows on
    * this shared host). Min of three runs after a JIT warm pass. */
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= (x >>> 33)
        i += 1
      }
      if (x == 42L) print("") // keep the loop observable (defeat DCE)
      (System.nanoTime() - t0) / 1e9
    }
    once() // JIT warm
    Seq(once(), once(), once()).min
  }

  /** Parallel calibration: the SAME LCG mix on every core at once.
    * Single-threaded calibration normalizes CPU-frequency drift but is
    * blind to MULTI-CORE contention — exactly what poisoned the r8
    * recording window (×1.8-3.0 per-query outliers that vanished on
    * re-run). Reported as `calibration_mt` (seconds for ONE thread's
    * loop while all cores run); cross-round comparisons should divide
    * by whichever calibration correlates with the drift. */
  private def calibrateMt(): Double = {
    val cores = Runtime.getRuntime.availableProcessors()
    def once(): Double = {
      val t0 = System.nanoTime()
      val threads = (0 until cores).map { k =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + k
          var i = 0
          while (i < 200000000) {
            x = x * 6364136223846793005L + 1442695040888963407L
            x ^= (x >>> 33)
            i += 1
          }
          if (x == 42L) print("")
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm
    Seq(once(), once()).min
  }

  /** Steady-lane rep runner: times `reps` executions of `body`; the
    * FIRST throw aborts the lane for this query and is returned as an
    * error marker (class + truncated message) so the caller reports an
    * error, never a timing built from the failure's fast path.
    * Completed reps' timings are still returned for the reps array. */
  private[graft] def steadyReps(reps: Int)(body: => Unit)
      : (Seq[Double], Option[String]) = {
    val ts = scala.collection.mutable.ArrayBuffer[Double]()
    var err: Option[String] = None
    var i = 0
    while (i < reps && err.isEmpty) {
      val t0 = System.nanoTime()
      try { body; ts += (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        err = Some(e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").take(120)
            .replaceAll("[\"\\\\\n\r]", " "))
      }
      i += 1
    }
    (ts.toSeq, err)
  }

  /** Peak heap across all heap pools since the last reset — the r11
    * verdict's watch item (driver captures near 14 GB vs an 8.6 GB
    * quiet run) needs per-lane attribution, not a process-wide max. */
  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def lanePeakMb: Long =
    heapPools.map(_.getPeakUsage.getUsed).sum >> 20

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val calibration = calibrate()
    val calibrationMt = calibrateMt()
    println(s"""{"bench_calibration_sec":$calibration,"bench_calibration_mt_sec":$calibrationMt}""")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT/codegen priming plus the shared source-frame
    // cache — the TableRasterSource reshape is a per-session cost (paid
    // once, reused by every raster query), not a per-query cost. Its
    // duration is reported separately so readers can see both numbers.
    // A failing warmup ends the run with its exception: a bench that went
    // on would time the cold path it was meant to exclude. The session is
    // stopped first so its threads cannot keep the JVM alive.
    val warm0 = System.nanoTime()
    try {
      SparkEntry.entry(spark).count()
      val g = QueryLib.eventsGrid(spark, sfDir)
      QueryLib.eventsRaster(sfDir, g).frame(QueryLib.fullReq(g))(spark).count()
    } catch { case e: Throwable => spark.stop(); throw e }
    val warmupSec = (System.nanoTime() - warm0) / 1e9
    // One short line per query as it completes: each survives log-tail
    // truncation on its own, so per-query timings are machine-readable
    // even when the aggregate line below gets cut mid-JSON.
    //
    // Each query runs TWICE and reports the min: single-run timings on a
    // shared host are contention-contaminated (r4's recorded bench had
    // 30-90x outliers on sub-second plans), and min-of-two is the cheapest
    // noise-immune estimator. The two samples are DECORRELATED: the full
    // query list runs as pass 1 then again as pass 2, so a query's samples
    // land minutes apart and one host-contention window can no longer
    // poison both (r5's recording had exactly that failure — both
    // back-to-back samples of p12/r15 inside one slow window). A query
    // that throws is recorded with an "err" marker instead of a fake
    // timing — a broken query must not look like a fast one.
    // optional subset run (regex on query names) — the scale soaks bench
    // one query family (e.g. '^p') at a synthetic SF without paying for
    // the whole suite
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => filter.forall(_.findFirstIn(n).isDefined))
    def runPass(pass: Int): Map[String, Either[String, Double]] =
      names.map { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val r = try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          Left(e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").take(120).replaceAll("[\"\\\\\n\r]", " "))
        }
        val v = r.fold(_ => "\"err\"", s => s.toString)
        println(s"""{"bench_pass":$pass,"query":"$name","sec":$v}""")
        name -> r
      }.toMap
    val warmupPeakMb = lanePeakMb // since JVM start: calibration + warmup
    resetHeapPeaks()
    val pass1 = runPass(1)
    val pass2 = runPass(2)
    val mainPeakMb = lanePeakMb
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = names.map { name =>
      val sec = (pass1(name), pass2(name)) match {
        case (Right(a), Right(b)) => math.min(a, b)
        case (Right(a), Left(_))  => a   // flaky second run: keep the timing
        case (Left(_), Right(b))  => b
        case (Left(e), Left(_))   => errs(name) = e; -1.0
      }
      val errField = errs.get(name).map(e => s""","err":"$e"""").getOrElse("")
      println(s"""{"bench_query":"$name","sec":$sec$errField}""")
      name -> sec
    }.to(scala.collection.immutable.ListMap)
    // steady-state lane: the top-10 slowest queries re-run 10× in one
    // session. min-of-last-5 separates plan
    // cost from JIT transients and host-contention windows, so
    // cross-round sub-second comparisons stop depending on window
    // calibration (r9 saw ST calibration swing ±18% between two
    // same-hour windows). Reported as its own JSON line.
    // Queries that errored in the main pass carry sec = -1 and are
    // excluded up front; a rep that throws INSIDE the lane marks the
    // query errored ("sec":-1 plus an err field) instead of letting its
    // fast failure path masquerade as a legitimate steady time (the r10
    // ADVICE finding: `catch { case _: Throwable => }` silently
    // corrupted cross-round comparisons).
    val top10 = results.filter(_._2 >= 0).toSeq.sortBy(-_._2).take(10)
    resetHeapPeaks()
    val steady = top10.map { case (name, _) =>
      val fn = SparkEntry.queries(name)
      val (ts, errOpt) = steadyReps(10) { fn(spark, sfDir).count(); () }
      val v = errOpt match {
        case Some(_) => -1.0
        case None    => ts.takeRight(5).min
      }
      val errField = errOpt.map(e => s""","err":"$e"""").getOrElse("")
      println(s"""{"bench_steady":"$name","sec":$v,"reps":[${
        ts.map(t => f"$t%.3f").mkString(",")}]$errField}""")
      name -> v
    }
    val steadyPeakMb = lanePeakMb
    println(s"""{"bench_heap":{"warmup_peak_mb":$warmupPeakMb,"main_peak_mb":$mainPeakMb,"steady_peak_mb":$steadyPeakMb,"max_mb":${Runtime.getRuntime.maxMemory >> 20}}}""")
    val steadyJson = steady.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"steady","unit":"sec","reps_per_query":10,"estimator":"min_of_last_5","calibration":$calibration,"calibration_mt":$calibrationMt,"main_peak_mb":$mainPeakMb,"steady_peak_mb":$steadyPeakMb,"queries":$steadyJson,"sf":"$sfDir"}""")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errs.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    val wall = (System.nanoTime() - wall0) / 1e9
    // frame-cache observability: full-suite misses ≈ distinct source-frame
    // variants; a much larger number means the LRU is thrashing
    val fcHits = graft.raster.FrameCache.hitCount.get()
    val fcMisses = graft.raster.FrameCache.missCount.get()
    // peak heap over the whole run ("would one executor of this size
    // cope") — the max of the per-lane peaks now that lanes reset the
    // pool high-water marks to attribute usage (the r11 watch item)
    val peakHeapMb =
      math.max(warmupPeakMb, math.max(mainPeakMb, steadyPeakMb))
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_timed":$total,"calibration":$calibration,"calibration_mt":$calibrationMt,"reshape_warmup":$warmupSec,"wall":$wall,"runs_per_query":2,"decorrelated_passes":true,"frame_cache_hits":$fcHits,"frame_cache_misses":$fcMisses,"peak_heap_mb":$peakHeapMb,"queries":$qs,"errors":$errJson,"sf":"$sfDir"}""")
    // The full per-query line above is ~6 KB for 179 queries and cannot
    // survive a ~2000-char log tail, which left the r15 AND r16 PERF
    // comparisons with an empty per_query map. Re-emit the same map in
    // BOUNDED chunks — every line a complete JSON object well under the
    // tail window — so the tail always ends with complete per-query
    // JSON no matter where it is cut.
    val entryStrs = results.map { case (k, v) => s"\"" + k + "\":" + v }.toSeq
    val chunks = scala.collection.mutable.ArrayBuffer[List[String]]()
    var chunkCur = List.empty[String]
    var chunkLen = 0
    for (e <- entryStrs) {
      if (chunkLen + e.length > 1100 && chunkCur.nonEmpty) {
        chunks += chunkCur.reverse; chunkCur = Nil; chunkLen = 0
      }
      chunkCur = e :: chunkCur; chunkLen += e.length + 1
    }
    if (chunkCur.nonEmpty) chunks += chunkCur.reverse
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"bench_part":${i + 1},"bench_parts":${chunks.length},"sf":"$sfDir","queries":${c.mkString("{", ",", "}")}}""")
    }
    // LAST line is a compact summary (no per-query map) so the driver's
    // 2000-char tail window always contains one complete JSON object —
    // BENCH_r02/r03 both lost the long line's front to that window.
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_timed":$total,"calibration":$calibration,"calibration_mt":$calibrationMt,"reshape_warmup":$warmupSec,"wall":$wall,"runs_per_query":2,"decorrelated_passes":true,"frame_cache_hits":$fcHits,"frame_cache_misses":$fcMisses,"peak_heap_mb":$peakHeapMb,"n_queries":${results.size},"n_errors":${errs.size},"sf":"$sfDir"}""")
    // the full per-query record ALSO lands on disk: the driver's
    // log-tail window keeps only ~50 of the per-query lines, so
    // cross-round per-query comparison needs a durable artifact
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full_last_run.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"calibration_mt":$calibrationMt,"reshape_warmup":$warmupSec,"wall":$wall,"peak_heap_mb":$peakHeapMb,"queries":$qs,"steady":$steadyJson,"errors":$errJson,"sf":"$sfDir"}""")
    catch { case _: Exception => } // read-only cwd must not fail the bench
    // durable mirror with the EXACT compact-line schema plus the full
    // per-query map — the fallback record for a driver whose log tail
    // lost the per-query lines
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","total_timed":$total,"calibration":$calibration,"calibration_mt":$calibrationMt,"reshape_warmup":$warmupSec,"wall":$wall,"runs_per_query":2,"decorrelated_passes":true,"peak_heap_mb":$peakHeapMb,"n_queries":${results.size},"n_errors":${errs.size},"queries":$qs,"errors":$errJson,"sf":"$sfDir"}""")
    catch { case _: Exception => }
    QueryLib.clearCaches()
    spark.stop()
  }
}

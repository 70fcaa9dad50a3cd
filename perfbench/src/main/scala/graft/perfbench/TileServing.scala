package graft.perfbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size, sum}
import graft.core.BlockRegistry
import graft.raster.{BaseSingleRaster, Bbox, FrameCache, GeoTiff, GeoTiffSource, Multiply, Proj,
  RasterBlock, RasterRequest, Smooth}
import graft.service.WmsServer

/** `tile_serving`: one map viewer's browser tile pool against an in-process
  * [[WmsServer]]. A closed loop of four keep-alive connections, each sending
  * its next request when the previous one has answered, over a seeded
  * request sequence:
  *   - 6 in 8: native GetMap 256×256 tiles on the COG's grid at cell sizes
  *     1, 2, 4 and 8 (340 distinct tiles), Zipf-distributed over that set;
  *   - 1 in 8: GetFeatureInfo at a random pixel of such a tile;
  *   - 1 in 8: an EPSG:3857 `/tiles/{z}/{x}/{y}.png` tile over the COG.
  * Each block of eight requests holds exactly that mix in seeded order, so
  * the failure share of a run does not depend on the draw.
  */
object TileServing {
  val Size = 4096
  val Tile = 256
  val X0 = 150000.0
  val Y0 = 450000.0
  val CellSizes = Seq(1, 2, 4, 8)
  val NoData = -9999.0
  val Gain = 1.5
  val SmoothSize = 4.0
  val VMin = 0.0
  val VMax = 150.0
  val Style = "viridis"
  val Connections = 4
  val WarmupRequests = 32
  val CheckedTiles = 4
  val SourceCheckedTiles = 2
  val TracedRequests = 10
  val TracedReps = 3

  final case class TileBox(cell: Int, x1: Double, y1: Double) {
    def bbox: Bbox = Bbox(x1, y1, x1 + Tile * cell, y1 + Tile * cell)
    def bboxParam: String = s"${bbox.x1},${bbox.y1},${bbox.x2},${bbox.y2}"
  }
  final case class Req(kind: String, uri: String, tile: Option[TileBox])
  final case class Done(idx: Int, kind: String, status: Int, startNs: Long, endNs: Long,
      body: Array[Byte], err: String) {
    def ok: Boolean = status == 200
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** The 340 grid-aligned native tiles: 16², 8², 4² and 2² per cell size. */
  val tiles: IndexedSeq[TileBox] = for {
    c <- CellSizes.toIndexedSeq
    n = Size / (Tile * c)
    j <- 0 until n
    i <- 0 until n
  } yield TileBox(c, X0 + i * Tile * c, Y0 + j * Tile * c)

  /** Seeded synthetic terrain: a sum of separable waves plus fine noise and
    * one nodata lake, written as a tiled float32 COG with overviews. */
  def writeCog(path: String, seed: Long): Unit = {
    val rnd = new java.util.Random(seed)
    val k = 6
    val xs = Array.ofDim[Double](k, Size)
    val ys = Array.ofDim[Double](k, Size)
    for (w <- 0 until k) {
      val fx = (1 + rnd.nextInt(24)) * 2 * math.Pi / Size
      val fy = (1 + rnd.nextInt(24)) * 2 * math.Pi / Size
      val px = rnd.nextDouble() * 2 * math.Pi
      val py = rnd.nextDouble() * 2 * math.Pi
      val amp = 3 + 9 * rnd.nextDouble()
      for (i <- 0 until Size) {
        xs(w)(i) = amp * math.sin(fx * i + px)
        ys(w)(i) = math.cos(fy * i + py)
      }
    }
    val lakeX = 512 + rnd.nextInt(Size - 1024)
    val lakeY = 512 + rnd.nextInt(Size - 1024)
    val lakeR2 = math.pow(100 + rnd.nextInt(200), 2)
    val noiseSeed = rnd.nextLong()
    val values = new Array[Double](Size * Size)
    var y = 0
    while (y < Size) {
      var x = 0
      while (x < Size) {
        val idx = y * Size + x
        val dx = x - lakeX; val dy = y - lakeY
        values(idx) =
          if (dx * dx + dy * dy <= lakeR2) NoData
          else {
            var v = 50.0
            var w = 0
            while (w < k) { v += xs(w)(x) * ys(w)(y); w += 1 }
            var h = (idx.toLong + noiseSeed) * 0x9E3779B97F4A7C15L
            h ^= h >>> 29
            v + ((h & 0xffff) / 65535.0 - 0.5)
          }
        x += 1
      }
      y += 1
    }
    GeoTiff.write(path, values, Size, Size, Bbox(X0, Y0, X0 + Size, Y0 + Size), 28992, NoData,
      dtypeName = "float32", tileSize = Tile, overviews = true)
  }

  def view(cogPath: String): RasterBlock = Smooth(Multiply(GeoTiffSource(cogPath), Gain), SmoothSize)

  /** `n` requests of the seeded mix; Zipf(1) over a seeded ranking of the
    * native tiles for GetMap and GetFeatureInfo. */
  def requests(seed: Long, viewJson: String, n: Int): IndexedSeq[Req] = {
    val rnd = new java.util.Random(seed)
    val layers = URLEncoder.encode(viewJson, "UTF-8")
    // rank positions take cell sizes in a fixed interleave proportional to
    // their tile counts, and the seed orders the tiles within each size: the
    // hot tiles then have the same cell-size mix, hence similar cost, for
    // every seed
    val bySize = tiles.groupBy(_.cell).map { case (c, ts) =>
      c -> new scala.util.Random(rnd.nextLong()).shuffle(ts).iterator }
    val counts = tiles.groupBy(_.cell).map { case (c, ts) => c -> ts.size }
    val taken = mutable.Map[Int, Int]().withDefaultValue(0)
    val ranked = (1 to tiles.size).map { r =>
      val c = CellSizes.maxBy(c => counts(c).toDouble * r / tiles.size - taken(c))
      taken(c) += 1
      bySize(c).next()
    }
    val cdf = {
      val w = (1 to ranked.length).map(r => 1.0 / r)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def zipfTile(): TileBox = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      ranked(math.min(ranked.length - 1, if (i >= 0) i else -i - 1))
    }
    def getMap(): Req = {
      val t = zipfTile()
      Req("getmap", getMapUri(layers, t), Some(t))
    }
    def featureInfo(): Req = {
      val t = zipfTile()
      Req("getfeatureinfo", s"/wms?service=WMS&request=GetFeatureInfo&layers=$layers" +
        s"&bbox=${t.bboxParam}&width=$Tile&height=$Tile&projection=EPSG:28992" +
        s"&i=${rnd.nextInt(Tile)}&j=${rnd.nextInt(Tile)}&info_format=application/json", Some(t))
    }
    def xyz(): Req = {
      val z = 13 + rnd.nextInt(4)
      val (mx, my) = Proj.transform("EPSG:28992", "EPSG:3857",
        X0 + rnd.nextDouble() * Size, Y0 + rnd.nextDouble() * Size)
      val span = 2 * WmsServer.MercHalf / (1L << z)
      val tx = ((mx + WmsServer.MercHalf) / span).toLong
      val ty = ((WmsServer.MercHalf - my) / span).toLong
      Req("xyz", s"/tiles/$z/$tx/$ty.png?layers=$layers&styles=$Style&vmin=$VMin&vmax=$VMax", None)
    }
    val out = mutable.ArrayBuffer[Req]()
    while (out.size < n) {
      val block = mutable.ArrayBuffer.fill(6)(getMap()) ++ Seq(featureInfo(), xyz())
      for (i <- block.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = block(i); block(i) = block(j); block(j) = t
      }
      out ++= block
    }
    out.take(n).toIndexedSeq
  }

  /** GetMap of native tile `t` for the URL-encoded view `layers`. */
  private def getMapUri(layers: String, t: TileBox): String =
    s"/wms?service=WMS&request=GetMap&layers=$layers&bbox=${t.bboxParam}" +
      s"&width=$Tile&height=$Tile&projection=EPSG:28992&styles=$Style&vmin=$VMin&vmax=$VMax"

  private def errorClass(status: Int, msg: String): String =
    s"$status " + msg.replaceAll("[0-9]+", "N").replaceAll("\\s+", " ").trim.take(120)

  /** Closed loop over `reqs` from index 0: `conns` clients, each on its own
    * keep-alive HTTP/1.1 connection, stop sending after `seconds` (at the
    * end of a block) or after `maxRequests`, whichever comes first. Bodies
    * are kept for `keep`. */
  def loop(port: Int, reqs: IndexedSeq[Req], seconds: Double, maxRequests: Int, conns: Int,
      keep: Set[Int] = Set.empty): (Seq[Done], Double) = {
    val next = new AtomicInteger(0)
    val done = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
    val t0 = System.nanoTime()
    val deadline = if (seconds >= 1e6) Long.MaxValue else t0 + (seconds * 1e9).toLong
    // requests go out in whole blocks of eight, so a run holds exactly the
    // designed mix: a block is admitted while the deadline has not passed
    val lastBlock = Array(-1)
    def admit(i: Int): Boolean = i < maxRequests && lastBlock.synchronized {
      val b = i / 8
      if (b <= lastBlock(0)) true
      else if (b == lastBlock(0) + 1 && System.nanoTime() < deadline) { lastBlock(0) = b; true }
      else false
    }
    val threads = (0 until conns).map { _ =>
      new Thread(() => {
        val c = client()
        var i = next.getAndIncrement()
        while (admit(i)) {
          done.add(send(c, port, i, reqs(i % reqs.size), keep(i)))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val all = done.asScala.toSeq.sortBy(_.idx)
    val wall = if (all.isEmpty) 0.0 else (all.map(_.endNs).max - t0) / 1e9
    (all, wall)
  }

  /** One keep-alive HTTP/1.1 connection (opened on the first request). */
  private def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Sends request `i` and waits for its answer; the body is kept if `keep`. */
  private def send(client: HttpClient, port: Int, i: Int, r: Req, keep: Boolean): Done = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.uri}")).GET().build()
    val s = System.nanoTime()
    try {
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      val e = System.nanoTime()
      val body = resp.body()
      val err = if (resp.statusCode == 200) null
        else errorClass(resp.statusCode, new String(body, "UTF-8"))
      Done(i, r.kind, resp.statusCode, s, e, if (keep) body else null, err)
    } catch {
      case ex: java.io.IOException =>
        Done(i, r.kind, -1, s, System.nanoTime(), null, errorClass(-1, ex.getClass.getSimpleName))
    }
  }

  /** The PNG the service should have sent for `t`: the engine's own values
    * through the service's public color ramp. */
  private def expectedArgb(view: RasterBlock, t: TileBox)(implicit spark: SparkSession): Array[Int] = {
    val res = view.getData(RasterRequest(t.bbox, "EPSG:28992", Tile, Tile, None, None)).get
    val span = math.max(VMax - VMin, 1e-12)
    res.values.head.map(v =>
      if (v == res.noDataValue) 0 else WmsServer.rampColor(Style, (v - VMin) / span))
  }

  private def decodedArgb(png: Array[Byte]): Array[Int] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    require(img != null && img.getWidth == Tile && img.getHeight == Tile, "response is not a 256² PNG")
    img.getRGB(0, 0, Tile, Tile, null, 0, Tile)
  }

  /** Full-resolution tiles of the view without Smooth, checked against a
    * reference that does not go through `getData`: the COG's level 0 read
    * by the codec, times the gain, through the service's color ramp. A
    * wrong value from lowering or the source read shows here even where
    * [[expectedArgb]] agrees with the service. Returns (tiles, mismatches). */
  private def sourceMismatches(port: Int, cog: String, seed: Long): (Int, Int) = {
    val layers = URLEncoder.encode(Multiply(GeoTiffSource(cog), Gain).toJson, "UTF-8")
    val picks = new scala.util.Random(seed + 11).shuffle(tiles.filter(_.cell == 1))
      .take(SourceCheckedTiles)
    val c = client()
    val bad = picks.count { t =>
      val d = send(c, port, 0, Req("getmap", getMapUri(layers, t), Some(t)), keep = true)
      !d.ok || !java.util.Arrays.equals(decodedArgb(d.body), sourceArgb(cog, t))
    }
    (picks.size, bad)
  }

  private def sourceArgb(cog: String, t: TileBox): Array[Int] = {
    val tif = GeoTiff.readLevelWindow(cog, 0, t.bbox)
    // level 0 has 1-m cells; the read covers the segments around the tile
    val col0 = math.round(t.bbox.x1 - tif.bbox.x1).toInt
    val row0 = math.round(tif.bbox.y2 - t.bbox.y2).toInt
    val span = math.max(VMax - VMin, 1e-12)
    Array.tabulate(Tile * Tile) { k =>
      val v = tif.values((row0 + k / Tile) * tif.w + col0 + k % Tile)
      if (v == tif.noData) 0 else WmsServer.rampColor(Style, (v * Gain - VMin) / span)
    }
  }

  /** Passes every request through to `store` and keeps, per call, the
    * time `store.frame` took and the frame it returned. Wrapped around the
    * view's source, it times the program's own source read on the request
    * exactly as the blocks above it grow it. */
  final case class SourceProbe(store: RasterBlock) extends BaseSingleRaster {
    val calls = mutable.ArrayBuffer[(Long, Long, DataFrame)]()
    override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
      val t0 = System.nanoTime()
      val df = store.frame(req)
      calls += ((t0, System.nanoTime(), df))
      df
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean, dataDir: String,
      firstOp: () => Unit): Json.J = {
    implicit val s: SparkSession = spark
    val cog = s"$dataDir/dem.tif"
    val t0 = System.nanoTime()
    writeCog(cog, seed)
    val fixtureS = (System.nanoTime() - t0) / 1e9
    val v = view(cog)
    val viewJson = v.toJson
    val reqs = requests(seed, viewJson, 4096)
    val server = new WmsServer(spark, 0, Seq(dataDir)).start()
    try {
      val port = server.boundPort
      // untimed warm-up (JIT, codegen); every native request must succeed
      val warm = requests(seed ^ 0x5DEECE66DL, viewJson, WarmupRequests)
        .filter(_.kind != "xyz")
      val (wd, _) = loop(port, warm, Double.MaxValue, warm.size, Connections)
      wd.find(!_.ok).foreach(d => throw new IllegalStateException(
        s"warm-up ${d.kind} request failed: ${d.err}"))
      val warmupS = (System.nanoTime() - t0) / 1e9 - fixtureS

      val rnd = new java.util.Random(seed + 7)
      val checkIdx = rnd.ints(0, 32).distinct().limit(32).toArray.toSeq
        .filter(i => reqs(i).kind == "getmap").take(CheckedTiles).toSet

      firstOp()
      val (done, wall) = loop(port, reqs, seconds, Int.MaxValue, Connections, checkIdx)
      val ok = done.filter(_.ok)
      val lat = ok.map(_.ms)
      val failures = done.filterNot(_.ok)

      // correctness, after the timed loop: decoded tiles vs. the engine's values
      val checked = done.filter(d => d.ok && d.body != null)
      val mismatches = checked.count(d =>
        !java.util.Arrays.equals(decodedArgb(d.body), expectedArgb(v, reqs(d.idx).tile.get)))
      val (sourceChecked, sourceBad) = sourceMismatches(port, cog, seed)
      val correct = checked.nonEmpty && mismatches == 0 && sourceBad == 0

      val record = mutable.LinkedHashMap[String, Json.J](
        "attempted" -> Json.num(done.size.toLong),
        "failed" -> Json.num(failures.size.toLong),
        "ops_per_s" -> Json.num(ok.size / wall),
        "latency_mean_ms" -> Json.num(if (lat.isEmpty) Double.NaN else lat.sum / lat.size),
        "latency_p50_ms" -> Json.num(if (lat.isEmpty) Double.NaN else Stats.median(lat)),
        "latency_p90_ms" -> Json.num(if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.9)),
        "ops_ok_frac" -> Json.num(ok.size.toDouble / math.max(1, done.size)),
        "successes" -> Json.num(ok.size.toLong),
        "latencies_ms" -> Json.arr(done.map(d => Json.num(if (d.ok) d.ms else -d.ms))),
        "fixture_s" -> Json.num(fixtureS),
        "warmup_s" -> Json.num(warmupS),
        "measured_s" -> Json.num(wall),
        "requests_by_kind" -> Json.nums(done.groupBy(_.kind).map { case (k, ds) => k -> ds.size.toDouble }),
        "error_classes" -> Json.nums(failures.groupBy(d => s"${d.kind}: ${d.err}")
          .map { case (k, ds) => k -> ds.size.toDouble }),
        "checked_tiles" -> Json.num(checked.size.toLong),
        "pixel_mismatched_tiles" -> Json.num(mismatches.toLong),
        "source_checked_tiles" -> Json.num(sourceChecked.toLong),
        "source_mismatched_tiles" -> Json.num(sourceBad.toLong),
        "correct" -> Json.bool(correct))
      if (trace) record ++= traced(spark, port, viewJson, cog, reqs, seconds, ok.size / wall)
      Json.obj(record.toSeq: _*)
    } finally server.stop()
  }

  /** The traced measurement. First the first GetMap requests of the
    * sequence, each several times, as three calls in rotating order: the
    * request over one connection, `getData` in-process, and `getData`
    * decomposed with a span around each layer call. Each call's time is the
    * minimum over the repetitions, so the differences between calls are
    * not swamped by run-to-run noise. Then the four-connection loop again
    * with the Spark listener on, then once more without it. */
  private def traced(spark: SparkSession, port: Int, viewJson: String, cog: String,
      reqs: IndexedSeq[Req], seconds: Double, untracedBefore: Double): Seq[(String, Json.J)] = {
    implicit val s: SparkSession = spark
    val sample = reqs.indices.filter(reqs(_).kind == "getmap").take(TracedRequests)
    val tr = new Tracer
    val c = client()
    val httpFailed = mutable.Set[Int]()
    val px = mutable.Map[Int, Double]()
    for (rep <- 0 until TracedReps; (i, k) <- sample.zipWithIndex) {
      val req = RasterRequest(reqs(i).tile.get.bbox, "EPSG:28992", Tile, Tile, None, None)
      val http = () =>
        if (!tr.span(i, "service.http1")(send(c, port, i, reqs(i), keep = false)).ok) httpFailed += i
      val getData = () => tr.span(i, "raster.getdata")(
        BlockRegistry.fromJson(viewJson).asInstanceOf[RasterBlock].getData(req))
      val decomposed = () => {
        val blk = tr.span(i, "core.view_parse")(BlockRegistry.fromJson(viewJson))
          .asInstanceOf[RasterBlock]
        val df = tr.span(i, "raster.lower")(blk.frame(req))
        tr.span(i, "spark.plan")(df.queryExecution.executedPlan)
        tr.span(i, "spark.exec")(df.collect())
        // the view once more, lowered over a probe around its source
        val probe = SourceProbe(GeoTiffSource(cog))
        Smooth(Multiply(probe, Gain), SmoothSize).frame(req)
        val t0 = probe.calls.head._1
        tr.spans += Span(i, "codec.geotiff_window", "", t0,
          t0 + probe.calls.map { case (a, b, _) => b - a }.sum)
        px(i) = probe.calls.map(_._3.select(sum(size(col("values")))).head().getLong(0)).sum.toDouble
      }
      val calls = Seq(http, getData, decomposed)
      for (j <- calls.indices) calls((j + rep + k) % calls.size)()
    }
    def best(i: Int, name: String): Double =
      tr.spans.filter(sp => sp.op == i && sp.name == name).map(_.ms).min
    def med(name: String): Double = Stats.median(sample.map(best(_, name)))
    val assemble = Stats.median(sample.map(i => best(i, "raster.getdata") -
      best(i, "raster.lower") - best(i, "spark.plan") - best(i, "spark.exec")))
    val lat1 = sample.filterNot(httpFailed).map(i => i -> best(i, "service.http1")).toMap
    val overhead = lat1.map { case (i, ms) => ms - best(i, "raster.getdata") }.toSeq

    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val hits0 = FrameCache.hitCount.get(); val misses0 = FrameCache.missCount.get()
    Obs.drain(spark)
    Obs.resetHeapPeak()
    val gc0 = Obs.gcMs
    val (done, wall) =
      try {
        val r = loop(port, reqs, seconds, Int.MaxValue, Connections)
        Obs.drain(spark)
        r
      } finally {
        spark.listenerManager.unregister(listener)
        spark.sparkContext.removeSparkListener(listener)
      }
    val gcMs = Obs.gcMs - gc0
    val heapMb = Obs.heapPeakMb
    val hits = FrameCache.hitCount.get() - hits0
    val misses = FrameCache.missCount.get() - misses0
    // untraced again, so the overhead compares against the mean of an
    // untraced loop before and after the traced one (the JVM still warms)
    val (after, afterWall) = loop(port, reqs, seconds, Int.MaxValue, Connections)
    val untracedOpsPerS = (untracedBefore + after.count(_.ok) / afterWall) / 2
    val all = listener.snapshot("")
    val lat4 = done.filter(_.ok).map(d => d.idx -> d.ms).toMap
    val queue = sample.filter(i => lat1.contains(i) && lat4.contains(i)).map(i => lat4(i) - lat1(i))
    val tracedOpsPerS = done.count(_.ok) / wall
    val failedBy = done.filterNot(_.ok).groupBy(_.kind)
    Seq(
      "layers" -> Json.nums(LayerListener.totals(Seq(all)).toMap ++ Map(
        "raster.framecache_hits" -> hits.toDouble,
        "raster.framecache_misses" -> misses.toDouble,
        "jvm.gc_s" -> gcMs / 1e3,
        "jvm.heap_peak_mb" -> heapMb,
        "core.view_parse_ms" -> med("core.view_parse"),
        "raster.lower_ms" -> med("raster.lower"),
        "codec.geotiff_window_ms" -> med("codec.geotiff_window"),
        "codec.geotiff_window_px" -> Stats.median(px.values.toSeq),
        "spark.plan_ms" -> med("spark.plan"),
        "spark.exec_ms" -> med("spark.exec"),
        "raster.assemble_ms" -> assemble,
        "service.overhead_ms" -> (if (overhead.isEmpty) Double.NaN else Stats.median(overhead)),
        "service.queue_ms" -> (if (queue.isEmpty) Double.NaN else Stats.median(queue)),
        "spark.jobs_per_op" -> all.jobs.toDouble / math.max(1, done.size),
        "spark.tasks_per_op" -> all.tasks.toDouble / math.max(1, done.size),
        "jvm.gc_ms" -> gcMs.toDouble / math.max(1, done.size),
        "ops_failed.getmap" -> failedBy.get("getmap").map(_.size.toDouble).getOrElse(0.0),
        "ops_failed.getfeatureinfo" -> failedBy.get("getfeatureinfo").map(_.size.toDouble).getOrElse(0.0),
        "ops_failed.xyz" -> failedBy.get("xyz").map(_.size.toDouble).getOrElse(0.0),
        "ops_failed_frac" -> done.count(!_.ok).toDouble / math.max(1, done.size),
        "trace.overhead_pct" -> 100.0 * (untracedOpsPerS / tracedOpsPerS - 1))),
      "spans" -> tr.toJson)
  }
}

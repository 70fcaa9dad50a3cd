package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Harness

/** Scale soak: the FULL query suite at sf1 (10× the bench's sf0.1), to
  * flush constant factors invisible at sf0.1.
  *
  * `gen <outDir>`: builds sf1 tables at `outDir` as the union of 10
  * key-shifted copies of sf0.1 — foreign keys shift consistently
  * (orders.o_custkey moves with customer.c_custkey, lineitem's three
  * FKs with their dimensions), dimension lookups (region/nation) stay
  * single-copy, and the events/documents/embeddings streams densify
  * in place (same time window and text/vector space, 10× the rows —
  * the realistic scale-up for window joins and dedup).
  *
  * `sweep <sfDir>`: ONE pass over every SparkEntry query, each lane
  * timed by `Harness.lane` (the bench's materializing action), with
  * per-query wall seconds and per-query PEAK HEAP (pool high-water
  * marks reset before each query, the Bench r11 protocol), one JSON
  * line per query + a summary line.
  */
object Soak {

  /** LIVE-SET heap (post-GC used bytes): peak high-water tracks the
    * -Xmx neighborhood under a generational collector (74 GB peak under
    * an 80 GB ceiling says nothing about retention), so soak lines also
    * record used-after-System.gc — the number that compares across
    * decades and heap ceilings. */
  private def liveSetMb: Long = {
    System.gc()
    Harness.heapPools.map(_.getUsage.getUsed).sum >> 20
  }

  /** Union of `copies` key-shifted replicas: each column in `shifts`
    * gains k * (base max + 1) in copy k, so replicated keys stay
    * unique and FK joins land inside their own replica. */
  private def replicate(df: DataFrame, shifts: Map[String, Long],
      copies: Int): DataFrame =
    (0 until copies).map { k =>
      shifts.foldLeft(df) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + lit(k * off))
      }
    }.reduce(_ unionAll _)

  def gen(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int, perturbDocs: Boolean = false): Unit = {
    def rd(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def off(t: String, key: String): Long =
      rd(t).agg(max(col(key))).head.getLong(0) + 1L
    val oCust = off("customer", "c_custkey")
    val oSupp = off("supplier", "s_suppkey")
    val oPart = off("part", "p_partkey")
    val oOrd = off("orders", "o_orderkey")
    val plan: Seq[(String, Map[String, Long])] = Seq(
      "region" -> Map.empty, "nation" -> Map.empty,
      "customer" -> Map("c_custkey" -> oCust),
      "supplier" -> Map("s_suppkey" -> oSupp),
      "part" -> Map("p_partkey" -> oPart),
      "orders" -> Map("o_orderkey" -> oOrd, "o_custkey" -> oCust),
      "lineitem" -> Map("l_orderkey" -> oOrd, "l_partkey" -> oPart,
        "l_suppkey" -> oSupp),
      "events" -> Map("event_id" -> off("events", "event_id")),
      "documents" -> Map("doc_id" -> off("documents", "doc_id")),
      "embeddings" -> Map("vec_id" -> off("embeddings", "vec_id")))
    for ((t, shifts) <- plan) {
      val out =
        if (shifts.isEmpty) rd(t) // dimension lookups stay single-copy
        else if (t == "documents" && perturbDocs) {
          // near-dup-REALISTIC replication: copy 0 is the base corpus,
          // copy k > 0 drops every (k+4)th word — deterministic true
          // near-duplicates, so MinHash/SimHash/stream-admission lanes
          // see a realistic dup/near-dup mix instead of byte-exact
          // clones
          val o = off("documents", "doc_id")
          (0 until copies).map { k =>
            val shifted = rd(t)
              .withColumn("doc_id", col("doc_id") + lit(k * o))
            if (k == 0) shifted
            else shifted.withColumn("text", expr(
              s"array_join(filter(split(text, ' '), " +
                s"(w, i) -> i % ${k + 4} != 0), ' ')"))
          }.reduce(_ unionAll _)
        } else replicate(rd(t), shifts, copies)
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"""{"soak_gen":"$t","rows":${
        spark.read.parquet(s"$outDir/$t.parquet").count()}}""")
    }
  }

  def sweep(spark: SparkSession, sfDir: String): Unit = {
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.findFirstIn(n).isDefined))
    // big grids raise the reference-compat raster-limit guard the way a
    // real user with executor headroom would (config.py raster-limit —
    // the full-grid lane requests exceed the laptop default past sf30)
    val g = graft.QueryLib.eventsGrid(spark, sfDir)
    graft.raster.RequestGuards.rasterLimitPixels = math.max(
      graft.raster.RequestGuards.rasterLimitPixels, 2L * g.w * g.h)
    Harness.warmup(spark, sfDir)
    var total = 0.0
    var worst = 0L
    val rows = names.map { name =>
      Harness.resetHeapPeaks()
      val res = Harness.lane(graft.SparkEntry.queries(name)(spark, sfDir))
      val peak = Harness.lanePeakMb
      worst = math.max(worst, peak)
      // live set AFTER the timed window: the System.gc cost lands
      // between lanes, not inside any lane's seconds
      val live = liveSetMb
      res.foreach(total += _)
      println(s"""{"soak_query":"$name","sec":${res.getOrElse(-1.0)}${
        Harness.errField(res.left.toOption)},"peak_heap_mb":$peak,"live_heap_mb":$live}""")
      name -> res
    }
    val errs = rows.collect { case (n, Left(e)) => n -> e }
    println(s"""{"soak_total_sec":$total,"n_queries":${names.size},"n_errors":${
      errs.size},"max_query_peak_heap_mb":$worst,"heap_max_mb":${
      Runtime.getRuntime.maxMemory >> 20},"sf":"$sfDir"}""")
    errs.foreach { case (n, e) => println(s"""{"soak_err":"$n","msg":"$e"}""") }
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    try args.toList match {
      case "gen" :: out :: rest =>
        val copies = rest.headOption.map(_.toInt).getOrElse(10)
        gen(spark, "/root/testdata/sf0.1", out, copies,
          perturbDocs = rest.contains("neardup"))
      case "sweep" :: dir :: _ => sweep(spark, dir)
      case other => sys.error(s"usage: gen <outDir> [copies] | sweep <sfDir> (got $other)")
    } finally {
      graft.QueryLib.clearCaches()
      spark.stop()
    }
  }
}

package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side totals of one operation (one job group). */
final class SparkTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var planNs = 0L
  var exchanges = 0L
  /** (start, end) epoch ms of every finished job. */
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  /** Wall time covered by at least one job, in ms. */
  def jobUnionMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    for ((s, e) <- jobSpans.sortBy(_._1)) {
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** Attributes Spark work to operations: jobs by their job group (set by the
  * benchmark thread before each operation, so eager side jobs run during
  * construction land in the same group), queries by the operation that is
  * current when their completion event arrives. Jobs outside any group are
  * kept under "". Reads go through [[snapshot]] after a bus drain. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val groups = mutable.HashMap[String, SparkTotals]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  @volatile var currentOp: String = ""

  private def totals(g: String): SparkTotals = groups.getOrElseUpdate(g, new SparkTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    totals(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => totals(g).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.executorRunMs += m.executorRunTime
      t.executorCpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val planNs = qe.tracker.phases.values.map(p => p.durationMs * 1000000L).sum
    val ex = LayerListener.exchanges(qe.executedPlan)
    synchronized {
      val t = totals(currentOp)
      t.planNs += planNs
      t.exchanges += ex
    }
  }

  /** Totals of one group; call after [[Obs.drain]]. */
  def snapshot(group: String): SparkTotals = synchronized(totals(group))
}

object LayerListener {
  /** The Spark per-layer metrics, summed over operations. */
  def totals(ts: Seq[SparkTotals]): Seq[(String, Double)] = {
    def sum(f: SparkTotals => Double): Double = ts.map(f).sum
    Seq(
      "spark.plan_s" -> sum(_.planNs / 1e9),
      "spark.exec_s" -> sum(_.jobUnionMs / 1e3),
      "spark.jobs" -> sum(_.jobs.toDouble),
      "spark.stages" -> sum(_.stages.toDouble),
      "spark.tasks" -> sum(_.tasks.toDouble),
      "spark.executor_run_s" -> sum(_.executorRunMs / 1e3),
      "spark.executor_cpu_s" -> sum(_.executorCpuNs / 1e9),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> sum(_.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> sum(_.spillBytes.toDouble),
      "spark.exchanges" -> sum(_.exchanges.toDouble),
      "spark.input_bytes" -> sum(_.inputBytes.toDouble),
      "spark.output_bytes" -> sum(_.outputBytes.toDouble))
  }

  /** Exchange operators in an executed plan, looking through adaptive
    * plans and query stages; a reused exchange moves no data again. */
  def exchanges(p: SparkPlan): Long = {
    val self = p match { case _: Exchange => 1L; case _ => 0L }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children ++ o.subqueries
    }
    self + kids.map(exchanges).sum
  }
}

/** JVM, host and listener-bus helpers shared by the workloads. */
object Obs {
  def drain(spark: SparkSession): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The fixed LCG loop of the repository's bench calibration: pure CPU, no
    * Spark and no code under test, so its time describes the host. */
  private def lcgLoop(seed: Long): Unit = {
    var x = seed
    var i = 0
    while (i < 200000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    if (x == 42L) print("")
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** (single-thread seconds, seconds with every core running the loop),
    * each timed once after one warm repetition of the loop. */
  def calibrate(): (Double, Double) = {
    lcgLoop(0x9E3779B97F4A7C15L)
    val st = timed(lcgLoop(0x9E3779B97F4A7C15L))
    val cores = Runtime.getRuntime.availableProcessors()
    val mt = timed {
      val ts = (0 until cores).map(k => new Thread(() => lcgLoop(0x9E3779B97F4A7C15L + k)))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    (st, mt)
  }
}

/** In-memory spans at the layer boundaries the benchmark calls into. Each
  * span carries the operation it belongs to and its parent span's name;
  * they are written out with the run record when the run ends. */
final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()

  def span[T](op: Int, name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally spans += Span(op, name, parent, t0, System.nanoTime())
  }

  def ms(op: Int, name: String): Option[Double] =
    spans.find(s => s.op == op && s.name == name).map(_.ms)

  def toJson: Json.J = Json.arr(spans.toSeq.map(s => Json.obj(
    "op" -> Json.num(s.op), "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
    "start_ns" -> Json.num(s.startNs.toDouble), "end_ns" -> Json.num(s.endNs.toDouble))))
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON output for the run record (no dependency on the code under
  * test, so a change there cannot garble the benchmark's own output). */
object Json {
  sealed trait J { def render: String }
  private final case class Raw(render: String) extends J

  def str(s: String): J = Raw(s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\""))
  def num(d: Double): J = Raw(if (d.isNaN || d.isInfinite) "null" else d.toString)
  def num(l: Long): J = Raw(l.toString)
  def bool(b: Boolean): J = Raw(b.toString)
  def arr(xs: Seq[J]): J = Raw(xs.map(_.render).mkString("[", ",", "]"))
  def obj(kvs: (String, J)*): J = Raw(kvs.map { case (k, v) => str(k).render + ":" + v.render }
    .mkString("{", ",", "}"))
  def nums(m: collection.Map[String, Double]): J =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
}

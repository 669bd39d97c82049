package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Executor-side totals of the jobs run under one job group. */
final class GroupTotals {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var liveBlockBytes = 0L
  var peakBlockBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: GroupTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    inputBytes += o.inputBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
    peakBlockBytes = math.max(peakBlockBytes, o.peakBlockBytes)
    jobIntervals ++= o.jobIntervals
  }
}

/** One timed call into an engine layer. Times are epoch milliseconds, the
  * listener bus's clock; `wallMs` comes from `nanoTime`. */
final case class Span(id: Int, name: String, request: Int, parent: Int,
    startMs: Long, endMs: Long, wallMs: Double, counts: Map[String, Double])

/** A finished span with its subtree's executor totals, `driverMs` (wall
  * minus the time any of its jobs ran) and `selfMs` (wall minus the time
  * its child spans cover). */
final case class SpanReport(span: Span, totals: GroupTotals, driverMs: Double,
    selfMs: Double)

/**
 * Spans around each call the benchmark makes into the engine. Every span
 * runs its calls under its own Spark job group; a listener sums jobs,
 * tasks, executor CPU, shuffle, input, spill, GC and peak RDD-block bytes
 * per group. Spans stay in memory; [[reports]] drains the listener bus and
 * joins the two.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String)]
  private var nextId = 0

  private val groups = new ConcurrentHashMap[String, GroupTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val rddGroup = new ConcurrentHashMap[Int, String]()
  private val blockBytes = new ConcurrentHashMap[String, (String, Long)]()

  sc.addSparkListener(this)

  private def groupOf(id: Int): String = s"perfbench-$id"
  private def totals(g: String): GroupTotals =
    groups.computeIfAbsent(g, _ => new GroupTotals)

  /** Time `body` as span `name` of request `request`; `counts` derives
    * work counts from its result. */
  def span[T](name: String, request: Int)(body: => T)(
      counts: T => Map[String, Double] = (_: T) => Map.empty[String, Double]): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, name))
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val wall = (System.nanoTime() - t0) / 1e6
      spans += Span(id, name, request, parent, startMs, System.currentTimeMillis(),
        wall, counts(r))
      r
    } finally {
      open.pop()
      open.headOption match {
        case Some((p, pName)) => sc.setJobGroup(groupOf(p), pName, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench-")).foreach { g =>
        jobStart.put(e.jobId, (g, e.time))
        e.stageInfos.foreach { s =>
          stageGroup.put(s.stageId, g)
          s.rddInfos.foreach(r => rddGroup.putIfAbsent(r.id, g))
        }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val t = totals(g)
      t.jobs += 1
      t.jobIntervals += ((t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val t = totals(g)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.inputBytes += m.inputMetrics.bytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
    }

  // Live bytes of the RDD blocks (caches, local checkpoints) each group's
  // jobs created, and their peak.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.flatMap(r => Option(rddGroup.get(r.rddId))).foreach { g =>
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = Option(blockBytes.put(key, (g, size))).map(_._2).getOrElse(0L)
      val t = totals(g)
      t.liveBlockBytes += size - prev
      t.peakBlockBytes = math.max(t.peakBlockBytes, t.liveBlockBytes)
    }
  }

  /** Every span so far, joined with its subtree's listener totals. */
  def reports(): Seq[SpanReport] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    spans.toSeq.map { s =>
      val t = new GroupTotals
      subtree(s).foreach(d => Option(groups.get(groupOf(d.id))).foreach(t.add))
      val jobMs = coveredMs(t.jobIntervals.toSeq, s.startMs, s.endMs)
      val childMs = coveredMs(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq,
        s.startMs, s.endMs)
      SpanReport(s, t, math.max(0.0, s.wallMs - jobMs), math.max(0.0, s.wallMs - childMs))
    }
  }

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  private def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered.toDouble
  }

  /** The spans as JSON lines, one object per span. */
  def json(rs: Seq[SpanReport]): String = rs.map { r =>
    val s = r.span
    val t = r.totals
    val counts = s.counts.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
    s"""{"id": ${s.id}, "name": "${s.name}", "request": ${s.request}, "parent": ${s.parent}, """ +
      s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_ms": ${Json.num(s.wallMs)}, """ +
      s""""self_ms": ${Json.num(r.selfMs)}, "driver_ms": ${Json.num(r.driverMs)}, """ +
      s""""jobs": ${t.jobs}, "tasks": ${t.tasks}, "cpu_ms": ${Json.num(t.cpuNs / 1e6)}, """ +
      s""""shuffle_write_bytes": ${t.shuffleWriteBytes}, "shuffle_read_bytes": ${t.shuffleReadBytes}, """ +
      s""""input_bytes": ${t.inputBytes}, "spill_bytes": ${t.spillBytes}, "gc_ms": ${t.gcMs}, """ +
      s""""peak_block_bytes": ${t.peakBlockBytes}, "counts": {$counts}}"""
  }.mkString("\n")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

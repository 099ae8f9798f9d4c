package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-layer accounting for the traced run.
  *
  * The client thread wraps each call into a layer in [[span]]. A
  * `SparkListener` attributes every job to the span it started in
  * (by the span id the client thread sets as a local property, or, for
  * jobs submitted from pools that do not carry it, by start time), and
  * every task to its job's span through the stage → job map. Spans
  * never overlap: there is one client thread.
  */
final class Layers(spark: SparkSession) extends SparkListener {
  import Layers._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  sc.addSparkListener(this)

  /** Run `body` as one span of `layer`; returns its result. */
  def span[T](layer: String)(body: => T): T = {
    val s = Span(spans.size, layer, System.currentTimeMillis(), System.nanoTime())
    spans.synchronized(spans += s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, null)
    }
  }

  private def spanAt(timeMs: Long): Option[Span] = spans.synchronized {
    spans.findLast(s => s.startMs <= timeMs && (s.endMs == 0L || timeMs <= s.endMs))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val byProp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).flatMap(id => spans.synchronized(spans.lift(id)))
    byProp.orElse(spanAt(e.time)).foreach { s =>
      jobs.put(e.jobId, Job(s, e.time))
      e.stageIds.foreach(stageToJob.put(_, e.jobId))
      s.synchronized(s.c.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    spanOfStage(e.stageInfo.stageId).foreach(s => s.synchronized(s.c.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    spanOfStage(e.stageId).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        val c = s.c
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.resultBytes += m.resultSize
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecords += m.inputMetrics.recordsRead
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }

  private def spanOfStage(stageId: Int): Option[Span] =
    Option(stageToJob.get(stageId)).flatMap(j => Option(jobs.get(j))).map(_.span)

  /** Mark the start of a pass; [[pass]] reads everything after it. */
  def mark(): Int = { drain(); spans.synchronized(spans.size) }

  /** Totals of the spans recorded since `from`, per layer, plus the
    * pass-wide scheduler view (gap and slot utilization).
    */
  def pass(from: Int, wallS: Double, cores: Int): Pass = {
    drain()
    val ss = spans.synchronized(spans.drop(from).toSeq)
    val ids = ss.map(_.id).toSet
    val byLayer = ss.groupBy(_.layer).map { case (l, xs) =>
      l -> Counters.sum(xs.map(s => s.synchronized(s.c.copy(wallNs = s.endNs - s.startNs))))
    }
    val intervals = jobs.values.asScala.filter(j => ids(j.span.id) && j.endMs > 0)
      .map(j => (j.startMs, j.endMs)).toSeq.sortBy(_._1)
    val covered = union(intervals) / 1e3
    val taskS = byLayer.values.map(_.taskMs).sum / 1e3
    Pass(byLayer, math.max(0.0, wallS - covered),
      if (covered > 0) taskS / (covered * cores) else 0.0)
  }

  /** (layer, counters) of each span since `from`, in order. */
  def spansSince(from: Int): Seq[(String, Counters)] = {
    drain()
    spans.synchronized(spans.drop(from).toSeq).map(s => s.layer -> s.synchronized(s.c.copy()))
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(sc)

  def close(): Unit = sc.removeSparkListener(this)
}

object Layers {
  private val SpanKey = "perfbench.span"

  final case class Counters(
      var wallNs: Long = 0L, var jobs: Long = 0L, var stages: Long = 0L,
      var tasks: Long = 0L, var taskMs: Long = 0L, var cpuNs: Long = 0L,
      var gcMs: Long = 0L, var resultBytes: Long = 0L, var shuffleRead: Long = 0L,
      var shuffleWrite: Long = 0L, var inBytes: Long = 0L, var inRecords: Long = 0L,
      var outBytes: Long = 0L, var outRecords: Long = 0L) {
    def +(o: Counters): Counters = Counters(wallNs + o.wallNs, jobs + o.jobs,
      stages + o.stages, tasks + o.tasks, taskMs + o.taskMs, cpuNs + o.cpuNs,
      gcMs + o.gcMs, resultBytes + o.resultBytes, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, inBytes + o.inBytes, inRecords + o.inRecords,
      outBytes + o.outBytes, outRecords + o.outRecords)
    /** The whole-number counters, by name, for the repeat check. */
    def counts: Seq[(String, Long)] = Seq("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "result_bytes" -> resultBytes, "shuffle_read" -> shuffleRead,
      "shuffle_write" -> shuffleWrite, "in_bytes" -> inBytes, "in_records" -> inRecords,
      "out_bytes" -> outBytes, "out_records" -> outRecords)
  }
  object Counters {
    def sum(cs: Iterable[Counters]): Counters = cs.foldLeft(Counters())(_ + _)
  }

  final case class Span(id: Int, layer: String, startMs: Long, startNs: Long) {
    @volatile var endMs: Long = 0L
    @volatile var endNs: Long = 0L
    val c: Counters = Counters()
  }

  final case class Job(span: Span, startMs: Long) {
    @volatile var endMs: Long = 0L
  }

  /** One traced pass: counters per layer, wall time not covered by any
    * running job, and task time over (covered job wall × cores).
    */
  final case class Pass(layers: Map[String, Counters], gapS: Double, slotUtil: Double) {
    def apply(layer: String): Counters = layers.getOrElse(layer, Counters())
    def total: Counters = Counters.sum(layers.values)
  }

  /** Total length of the union of [start, end] intervals (sorted by start). */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

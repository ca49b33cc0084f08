package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Span tracer of the traced run.
  *
  * Spans are recorded only around the benchmark's own calls into the
  * program's modules; each carries the trace id of the cycle or query
  * it belongs to, a parent, a start and an end. They stay in memory and
  * are written out when the run ends. With tracing off, [[span]] only
  * runs its body.
  */
object Trace {
  final case class Span(id: Long, parent: Long, trace: String, name: String,
      startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // the open span of the driving thread; callbacks on Spark's stream
  // threads attach to it, since the driving thread blocks on them
  @volatile private var current: Long = 0L
  @volatile var traceId: String = "-"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      val tr = traceId
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.synchronized { spans += Span(id, parent, tr, name, t0, t1) }
        current = parent
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Seconds spent in spans named `name`. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  /** Self time per layer: each span's duration minus the part of it
    * its child spans cover, summed by layer (the name's first part).
    */
  def selfTimeByLayer: Map[String, Double] = {
    val spansNow = all
    val childTime = spansNow.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spansNow.groupBy(_.layer).view.mapValues(_.map { s =>
      math.max(0L, s.endNs - s.startNs - childTime.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark scheduling and execution ledger: every job, stage and task
  * of the measured region, from the listener bus.
  */
final class SparkLedger extends SparkListener {
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var skew = 1.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTaskMs.remove(key).foreach { d =>
      if (d.size >= 4) {
        val sorted = d.sorted
        val med = sorted(sorted.size / 2).max(1L)
        skew = math.max(skew, sorted.last.toDouble / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }

  /** Wall time inside [fromMs, toMs] during which no job ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    val spans = jobSpans.map { case (a, b) => (a.max(fromMs), b.min(toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) covered += curB - curA
    (toMs - fromMs) - covered
  }
}

/** Structured Streaming ledger: the micro-batch phase durations of
  * every stream's progress reports.
  */
final class StreamLedger extends StreamingQueryListener {
  var batches = 0L
  var planningMs = 0L
  var walCommitMs = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) batches += 1
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    planningMs += d("queryPlanning")
    walCommitMs += d("walCommit") + d("commitOffsets")
  }
}

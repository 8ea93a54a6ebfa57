package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer tracing from outside the library: a span wraps one call
  * into a layer; Spark jobs submitted while it is the innermost open
  * span are attributed to it through a thread-local job property, and
  * a [[SparkListener]] sums their task counters per span. Spans stay
  * in memory until [[report]]. While `active` is false every call is a
  * plain pass-through, and an untraced run (`enabled = false`)
  * registers no listener, so it pays nothing. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  import Tracer._

  var active = false

  final case class Span(id: Long, name: String, parent: Long, op: Long,
                        start: Long, var end: Long = -1L)

  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1L

  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobTimes = new ConcurrentHashMap[Int, Array[Long]]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  // listener event times are wall-clock ms; spans use nanoTime
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNano(ms: Long): Long = ms * 1000000L - epochOffsetNs

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Long] =
      Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        jobSpan.put(e.jobId, s)
        jobTimes.put(e.jobId, Array(toNano(e.time), Long.MaxValue))
        counter(s).jobs += 1
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTimes.get(e.jobId)).foreach(_(1) = toNano(e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val i = e.taskInfo
        if (m != null) {
          val c = counter(s)
          c.tasks += 1
          c.runMs += m.executorRunTime
          val total = i.finishTime - i.launchTime
          val delay = total - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
          c.waitMs += math.max(0L, delay) + m.shuffleReadMetrics.fetchWaitTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.recordsRead += m.inputMetrics.recordsRead
          c.recordsWritten += m.outputMetrics.recordsWritten
          c.bytesWritten += m.outputMetrics.bytesWritten
          if (m.outputMetrics.bytesWritten > 0) c.filesWritten += 1
        }
      }
  }

  private def counter(s: Long): Counters = counters.computeIfAbsent(s, _ => new Counters)

  if (enabled) sc.addSparkListener(listener)

  /** Mark the start of timed operation `op` (spans opened until the
    * next call share this id). */
  def beginOp(op: Long): Unit = currentOp = op

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1L)
      val s = Span(nextId.incrementAndGet(), name, parent, currentOp, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Aggregate counters per span name (sums over calls) plus the call
    * count. Waits for the listener bus so every task of a finished
    * span is counted. */
  def report(): Map[String, LayerTotals] = {
    org.apache.spark.GraftListenerAccess.waitUntilListenerBusEmpty(sc)
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val t = new LayerTotals
      ss.foreach { s =>
        val dur = s.end - s.start
        val kids = children.getOrElse(s.id, Nil).map(k => k.end - k.start).sum
        val self = dur - kids
        val c = Option(counters.get(s.id)).getOrElse(new Counters)
        val ownJobs = jobSpan.asScala.collect { case (j, sp) if sp == s.id => jobTimes.get(j) }
        val busy = union(ownJobs.toSeq.map(a => (math.max(a(0), s.start), math.min(a(1), s.end))))
        t.calls += 1
        t.selfS += self / 1e9
        t.driverS += math.max(0L, self - busy) / 1e9
        t.add(c)
      }
      name -> t
    }
  }

  /** Every span as one JSON object per line. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.start, "end_ns" -> s.end)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  final class Counters {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var waitMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var recordsRead = 0L
    var recordsWritten = 0L; var bytesWritten = 0L; var filesWritten = 0L
  }

  final class LayerTotals {
    var calls = 0L; var selfS = 0.0; var driverS = 0.0
    val c = new Counters
    def add(o: Counters): Unit = {
      c.jobs += o.jobs; c.tasks += o.tasks; c.runMs += o.runMs; c.waitMs += o.waitMs
      c.shuffleBytes += o.shuffleBytes; c.spillBytes += o.spillBytes
      c.recordsRead += o.recordsRead; c.recordsWritten += o.recordsWritten
      c.bytesWritten += o.bytesWritten; c.filesWritten += o.filesWritten
    }
    /** The six per-call counters every span reports. */
    def perCall: Seq[(String, Double)] = {
      val n = math.max(1L, calls).toDouble
      Seq("self_s" -> selfS / n, "driver_s" -> driverS / n,
        "busy_s" -> c.runMs / 1e3 / n, "wait_s" -> c.waitMs / 1e3 / n,
        "tasks" -> c.tasks / n, "shuffle_mb" -> c.shuffleBytes / 1048576.0 / n)
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

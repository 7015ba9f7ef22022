package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a call the benchmark made into a layer. Times are
  * nanoseconds on the JVM's monotonic clock. */
final case class Span(id: Long, parent: Long, name: String, start: Long,
    end: Long, runId: String) {
  def dur: Long = end - start
}

/** Spark counters charged to one span (or to a whole phase). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var shuffleRead, shuffleWrite, spill, cpuNs, gcMs = 0L
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "failed_tasks" -> failedTasks.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spill_bytes" -> spill.toDouble, "task_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3)
}

/** In-memory span recorder. With `enabled = false` every call is a plain
  * pass-through, so untraced runs time the same code paths without
  * recording anything. Spans nest per thread; the open span id is also
  * set as a Spark local property, so the listener below can charge each
  * job, stage and task to the span whose call submitted it. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var sc: SparkContext = _

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      if (sc != null) sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        closed.add(Span(id, parent, name, t0, System.nanoTime(), runId))
        stack.set(outer)
        if (sc != null)
          sc.setLocalProperty(Tracer.SpanProp, outer.headOption.map(_.toString).orNull)
      }
    }

  def spans: Seq[Span] = closed.asScala.toSeq.sortBy(_.start)

  /** Self time per span id: its duration minus the union of its
    * children's intervals (children clipped to the parent). */
  def selfTimes: Map[Long, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - Tracer.covered(iv, s.start, s.end))
    }.toMap
  }

  /** For the spans named `op`: the median time their child spans cover
    * (seconds), and the share of their total time no child covers. */
  def attributed(op: String): (Double, Double) = {
    val self = selfTimes
    val ops = spans.filter(_.name == op)
    val covered = ops.map(s => (s.dur - self(s.id)) / 1e9)
    val total = ops.map(_.dur).sum
    (TransitDay.median(covered),
      if (total == 0) 1.0 else ops.map(s => self(s.id)).sum.toDouble / total)
  }

  /** Sum of duration by span name, in seconds. */
  def totalByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.dur).sum / 1e9 }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Length of the union of intervals, clipped to [from, to]. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map(p => (math.max(p._1, from), math.min(p._2, to)))
      .filter(p => p._2 > p._1).sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** SparkListener registered by the benchmark: totals for the traced
  * phase, the same counters charged per span, and the stage intervals
  * that give driver-only time (wall time with no stage running). */
final class SparkCounters extends SparkListener {
  val total = new Counters
  val bySpan = mutable.Map.empty[Long, Counters]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageStart = mutable.Map.empty[(Int, Int), Long]
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobsOpen = new AtomicLong(0)
  val lastEvent = new AtomicReference[java.lang.Long](System.nanoTime())

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
  private def charge(span: Long)(f: Counters => Unit): Unit = synchronized {
    f(total); f(bySpan.getOrElseUpdate(span, new Counters))
  }
  private def touch(): Unit = lastEvent.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    synchronized(e.stageIds.foreach(id => stageSpan(id) = s))
    jobsOpen.incrementAndGet()
    charge(s)(_.jobs += 1); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsOpen.decrementAndGet(); touch()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    synchronized {
      stageSpan(e.stageInfo.stageId) = s
      stageStart((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = System.nanoTime()
    }
    charge(s)(_.stages += 1); touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    synchronized {
      stageStart.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
        .foreach(t0 => stageIntervals += ((t0, System.nanoTime())))
    }
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = synchronized(stageSpan.getOrElse(e.stageId, 0L))
    val m = e.taskMetrics
    charge(s) { c =>
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      if (m != null) {
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
      }
    }
    touch()
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the bus has been quiet for a moment. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
      (jobsOpen.get() > 0 || System.nanoTime() - lastEvent.get() < 150000000L))
      Thread.sleep(20)
  }

  /** Seconds of [from, to] during which no stage was running. */
  def driverSeconds(from: Long, to: Long): Double = synchronized {
    (to - from - Tracer.covered(stageIntervals.toSeq, from, to)) / 1e9
  }
}

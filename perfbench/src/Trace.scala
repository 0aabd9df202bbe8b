package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's own calls into each layer, and a
  * Spark listener that bills jobs, stages, tasks, shuffle, spill and
  * input/output bytes to the span that was open when the job started.
  * The open span travels to Spark as a local property of the client
  * thread (inherited by threads it starts, e.g. a streaming query).
  *
  * With `enabled = false` spans are not recorded and no listener is
  * registered, so the untraced run measures the program alone. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 0L

  /** Per-span Spark work, filled by the listener. */
  private val work = new java.util.concurrent.ConcurrentHashMap[Long, Work]()
  private val listener = new Listener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val parent = open.headOption
      val s = Span(nextId, parent.map(_.id).getOrElse(0L), name,
        if (req >= 0) req else parent.map(_.req).getOrElse(-1L), System.nanoTime())
      open = s :: open
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        spans += s
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Runs `start`, which starts a background thread (a streaming
    * query), under a new span: every job that thread runs is billed to
    * it. The span stays open until [[end]]. */
  def detached[T](name: String)(start: => T): (Long, T) =
    if (!enabled) (-1L, start)
    else {
      nextId += 1
      val s = Span(nextId, 0L, name, -1L, System.nanoTime())
      spans += s
      sc.setLocalProperty(Key, s.id.toString)
      try (s.id, start)
      finally sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }

  def end(id: Long): Unit = spans.find(_.id == id).foreach(_.end = System.nanoTime())

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq
  def workOf(id: Long): Work = Option(work.get(id)).getOrElse(Work())

  /** Work of a span and of every span under it: a job is billed only
    * to the innermost span open when it started. */
  def subtreeWork(s: Span): Work = {
    val kids = spans.groupBy(_.parent)
    def go(x: Span): Work = kids.getOrElse(x.id, Nil).map(go).foldLeft(workOf(x.id))(_ + _)
    go(s)
  }

  /** Self time per span name: duration minus the part covered by its
    * direct children (children run on the same thread, so they never
    * overlap each other). */
  def selfMs: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ns - kids.getOrElse(s.id, Nil).map(_.ns).sum).sum / 1e6
    }
  }

  def spansJsonLines: Iterator[String] = spans.iterator.map { s =>
    val w = workOf(s.id)
    Stats.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "req" -> s.req, "start_ns" -> s.start, "end_ns" -> s.end,
      "jobs" -> w.jobs, "tasks" -> w.tasks, "records_read" -> w.recordsRead,
      "bytes_read" -> w.bytesRead, "bytes_written" -> w.bytesWritten,
      "shuffle_read" -> w.shuffleRead, "shuffle_write" -> w.shuffleWrite,
      "spill" -> w.spill, "task_ms" -> w.taskMs, "skew" -> w.skew))
  }

  /** Task busy time (ms) of every task that ended, whatever its span. */
  def taskMsTotal: Long = listener.taskMsTotal.get

  private final class Listener extends SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stageTasks =
      new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
    val taskMsTotal = new java.util.concurrent.atomic.AtomicLong()

    private def bill(id: Long)(f: Work => Work): Unit =
      if (id > 0) work.compute(id, (_, w) => f(Option(w).getOrElse(Work())))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(st => stageSpan.put(st, id))
      bill(id)(w => w.copy(jobs = w.jobs + 1))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskMsTotal.addAndGet(m.executorRunTime)
        stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
          .synchronized(stageTasks.get(e.stageId) += e.taskInfo.duration)
        bill(stageSpan.getOrDefault(e.stageId, 0L))(w => w.copy(
          tasks = w.tasks + 1,
          recordsRead = w.recordsRead + m.inputMetrics.recordsRead,
          bytesRead = w.bytesRead + m.inputMetrics.bytesRead,
          bytesWritten = w.bytesWritten + m.outputMetrics.bytesWritten,
          shuffleRead = w.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = w.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          spill = w.spill + m.diskBytesSpilled + m.memoryBytesSpilled,
          taskMs = w.taskMs + m.executorRunTime))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = e.stageInfo.stageId
      Option(stageTasks.remove(st)).filter(_.size >= 2).foreach { ds =>
        val sorted = ds.sorted
        val skew = sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
        bill(stageSpan.getOrDefault(st, 0L))(w => w.copy(skew = math.max(w.skew, skew)))
      }
    }
  }
}

object Trace {
  val Key = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, req: Long,
      start: Long, var end: Long = 0L) {
    def ns: Long = end - start
  }

  /** Spark work billed to one span. `skew` is the largest
    * max-over-median task time of any stage with two or more tasks. */
  final case class Work(jobs: Long = 0, tasks: Long = 0, recordsRead: Long = 0,
      bytesRead: Long = 0, bytesWritten: Long = 0, shuffleRead: Long = 0,
      shuffleWrite: Long = 0, spill: Long = 0, taskMs: Long = 0,
      skew: Double = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
      recordsRead + o.recordsRead, bytesRead + o.bytesRead,
      bytesWritten + o.bytesWritten, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, spill + o.spill, taskMs + o.taskMs,
      math.max(skew, o.skew))
  }

  /** JVM-wide counters read around the measured window. */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
}

package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch microseconds; `parent` is the id of
  * the span that caused this one (-1 for a root), `op` the operation id that
  * all spans of one benchmark operation share. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int) {
  def dur: Long = end - start
}

/** In-memory span store, written out once when the benchmark ends. */
final class Spans {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val ids = new AtomicInteger()
  private val buf = ArrayBuffer.empty[Span]

  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
  def newId(): Int = ids.getAndIncrement()

  def add(s: Span): Span = synchronized { buf += s; s }

  /** Run `f` inside a span; returns its value and the closed span. */
  def span[A](name: String, parent: Int, op: Int)(f: Int => A): (A, Span) = {
    val id = newId()
    val t0 = nowUs
    val a = f(id)
    (a, add(Span(id, name, t0, nowUs, parent, op)))
  }

  def all: Seq[Span] = synchronized(buf.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      Json.obj("id" -> s.id, "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end,
        "parent" -> s.parent, "op" -> s.op))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task-level counters of one operation phase, summed by [[OpListener]]. */
final class PhaseAgg {
  val jobs = new AtomicInteger()
  val stages: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()
  val tasks = new AtomicInteger()
  val taskFailures = new AtomicInteger()
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L
  @volatile var fetchWaitMs = 0L
  @volatile var outputBytes = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)] // epoch ms

  def addTask(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks.incrementAndGet()
    stages.add(e.stageId)
    if (e.reason != Success) taskFailures.incrementAndGet()
    val ti = e.taskInfo
    if (ti != null) taskIntervals += ((ti.launchTime, ti.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Attributes jobs, stages and tasks to the operation phase named by the
  * `perfbench.op` local property the harness sets around each call, and
  * records a span per job and per task under the phase's span. */
final class OpListener(spans: Spans) extends SparkListener {
  val Key = "perfbench.op"
  private val phases = new ConcurrentHashMap[String, PhaseAgg]()
  private val stageTag = new ConcurrentHashMap[Integer, String]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val jobStart = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val jobTag = new ConcurrentHashMap[Integer, String]()
  private val jobSpan = new ConcurrentHashMap[Integer, Integer]()
  /** tag → (parent span id, op id) registered by the harness before a phase. */
  private val tagSpan = new ConcurrentHashMap[String, (Int, Int)]()

  def phase(tag: String): PhaseAgg = phases.computeIfAbsent(tag, _ => new PhaseAgg)
  def bind(tag: String, parentSpan: Int, op: Int): Unit = tagSpan.put(tag, (parentSpan, op))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).orNull
    if (tag != null) {
      phase(tag).jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
      jobTag.put(e.jobId, tag)
      jobSpan.put(e.jobId, spans.newId())
      e.stageIds.foreach { s => stageTag.put(s, tag); stageJob.put(s, e.jobId) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val tag = jobTag.get(e.jobId)
    if (tag != null) {
      val (parent, op) = tagSpan.getOrDefault(tag, (-1, -1))
      spans.add(Span(jobSpan.get(e.jobId), "job", jobStart.get(e.jobId) * 1000L,
        e.time * 1000L, parent, op))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    if (tag != null) {
      phase(tag).addTask(e)
      val ti = e.taskInfo
      if (ti != null) {
        val (_, op) = tagSpan.getOrDefault(tag, (-1, -1))
        val job = stageJob.get(e.stageId)
        val parent = if (job == null) -1 else jobSpan.getOrDefault(job, -1).intValue
        spans.add(Span(spans.newId(), "task", ti.launchTime * 1000L, ti.finishTime * 1000L,
          parent, op))
      }
    }
  }
}

object Intervals {
  /** Length of the part of [lo, hi) covered by the union of `iv` (same unit). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

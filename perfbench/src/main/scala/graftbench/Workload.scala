package graftbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusFlush
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Tracing state of a traced run: spans, the listener and op ids. */
final class Tracing(spark: SparkSession) {
  val spans = new Spans
  val listener = new OpListener(spans)
  spark.sparkContext.addSparkListener(listener)
  private var nextOp = 0
  def newOp(): Int = { nextOp += 1; nextOp }
  def flush(): Unit = BusFlush.flush(spark.sparkContext)

  /** Runs `f` with the op tag set, so the listener attributes its jobs. */
  def tagged[A](tag: String, parentSpan: Int, op: Int)(f: => A): A = {
    listener.bind(tag, parentSpan, op)
    spark.sparkContext.setLocalProperty(listener.Key, tag)
    try f finally spark.sparkContext.setLocalProperty(listener.Key, null)
  }
}

/** The phases of one traced operation, with the DataFrame whose planning
  * phases it reports. */
final case class OpTrace(root: Span, phases: Seq[(String, Span, String)],
                         planned: Option[DataFrame])

/** Handle the body of an operation uses to mark its phases. */
final class Phases(tr: Option[Tracing], op: Int, rootId: Int) {
  val done = ArrayBuffer.empty[(String, Span, String)]
  var planned: Option[DataFrame] = None

  def apply[B](name: String)(f: => B): B = tr match {
    case None => f
    case Some(t) =>
      val tag = s"$op/$name"
      val (b, s) = t.spans.span(name, rootId, op)(id => t.tagged(tag, id, op)(f))
      done += ((name, s, tag))
      b
  }

  def plan(df: DataFrame): DataFrame = { planned = Some(df); df }
}

object Op {
  /** Runs one operation. Returns the body's value (or the exception it
    * threw), the wall in seconds and, when traced, the op's trace. */
  def run[A](tr: Option[Tracing], kind: String)(body: Phases => A)
      : (Either[Throwable, A], Double, Option[OpTrace]) = tr match {
    case None =>
      val ph = new Phases(None, 0, -1)
      val t0 = System.nanoTime()
      val r = try Right(body(ph)) catch { case e: Exception => Left(e) }
      (r, Stats.secs(t0), None)
    case Some(t) =>
      val op = t.newOp()
      val rootId = t.spans.newId()
      val ph = new Phases(tr, op, rootId)
      val t0 = t.spans.nowUs
      val r = try Right(body(ph)) catch { case e: Exception => Left(e) }
      val root = t.spans.add(Span(rootId, s"op.$kind", t0, t.spans.nowUs, -1, op))
      (r, root.dur / 1e6, Some(OpTrace(root, ph.done.toList, ph.planned)))
  }
}

/** One benchmark workload: set-up, then a closed loop of steps (one
  * operation each). Untraced, the loop sets the
  * end-to-end metrics. Traced, traced and untraced steps alternate, so the
  * tracing overhead is their difference, and the layer metrics follow. */
abstract class Workload(val spark: SparkSession, val a: Args, val res: Results) {
  /** Input generation and warm-up; returns set-up seconds (the checker's
    * reference computation is excluded). */
  def setup(): Double

  /** One step of the closed loop; returns its wall in seconds. */
  def step(tr: Option[Tracing]): Double

  /** End-to-end metrics from the untraced steps' walls. */
  def endToEnd(walls: Seq[Double]): Unit

  /** One round of the workload's layer timings; a traced run interleaves
    * the rounds with its loop, so both see the same warm-up. */
  def layerRound(tr: Tracing): Unit

  /** Layers specific to the workload (prefix timings, kernels, checks). */
  def workloadLayers(tr: Tracing): Unit

  protected val traces = ArrayBuffer.empty[OpTrace]

  /** Fewest steps an untraced run measures, whatever `a.seconds` says (the
    * first ops after the warm-up still run slower, from JIT). */
  val MinSteps = 4
  /** Fewest traced/untraced pairs a traced run measures. */
  val MinPairs = 2

  final def run(): Unit =
    if (!a.trace) {
      val walls = loop(MinSteps)(_ => step(None))
      res.info("step_walls_s") = walls
      endToEnd(walls)
    } else {
      val tr = new Tracing(spark)
      val untraced = ArrayBuffer.empty[Double]
      val traced = ArrayBuffer.empty[Double]
      // traced/untraced pairs in alternating order (T U, U T, T U, ...), so
      // neither kind is always the colder step of its pair; a layer round
      // before each pair and one after the last
      loop(2 * MinPairs, multiple = 2) { i =>
        if (i % 2 == 0) layerRound(tr)
        val isTraced = (i % 2 == 0) == ((i / 2) % 2 == 0)
        val w = step(if (isTraced) Some(tr) else None)
        (if (isTraced) traced else untraced) += w
        w
      }
      layerRound(tr)
      res.info("trace.pairs") = untraced.size
      endToEnd(untraced.toList)
      tr.flush()
      Engine.report(traces.toList, tr, res)
      res.layer("trace.overhead_s", Stats.median(traced) - Stats.median(untraced), "s")
      workloadLayers(tr)
      if (Files.isDirectory(CatalogPass.tablesDir(a.work))) CatalogPass.run(spark, a, res, tr)
      tr.flush()
      res.layer("trace.spans", tr.spans.all.size.toDouble, "count")
      tr.spans.write(java.nio.file.Paths.get(a.work, "spans.jsonl"))
    }

  /** Repeats `f` until `a.seconds` have passed, at least `min` times and a
    * whole number of `multiple`s. */
  protected def loop(min: Int, multiple: Int = 1)(f: Int => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val walls = ArrayBuffer.empty[Double]
    while (walls.size < min || Stats.secs(t0) < a.seconds || walls.size % multiple != 0)
      walls += f(walls.size)
    walls.toList
  }

  protected def record(kind: String, r: (Either[Throwable, Option[String]], Double, Option[OpTrace])): Double = {
    val (out, wall, trace) = r
    res.op(kind, out.fold(e => Some(e.toString), identity))
    trace.foreach(traces += _)
    spark.catalog.clearCache()
    wall
  }
}

/** Engine-layer metrics of the traced ops: driver, scheduling, executors
  * and shuffle, one value per op, reported as the median over ops. */
object Engine {
  val Names: Seq[(String, String)] = Seq(
    "driver.build_s" -> "s", "driver.build_jobs" -> "count", "driver.analysis_ms" -> "ms",
    "driver.optimization_ms" -> "ms", "driver.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.idle_s" -> "s",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.core_util" -> "ratio",
    "exec.task_failures" -> "count",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s")

  def perOp(o: OpTrace, tr: Tracing): Map[String, Double] = {
    val ph = o.phases.map { case (n, s, tag) => (n, s, tr.listener.phase(tag)) }
    val aggs = ph.map(_._3)
    val wall = o.root.dur / 1e6
    val taskS = aggs.map(_.runMs).sum / 1e3
    val iv = aggs.flatMap(p => p.synchronized(p.taskIntervals.toList))
      .map { case (x, y) => (x * 1000L, y * 1000L) }
    val busy = Intervals.covered(iv, o.root.start, o.root.end)
    val build = ph.find(_._1 == "build")
    val phases = o.planned.map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
    def phaseMs(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val mb = 1024.0 * 1024.0
    Map(
      "driver.build_s" -> build.map(_._2.dur / 1e6).getOrElse(0.0),
      "driver.build_jobs" -> build.map(_._3.jobs.get.toDouble).getOrElse(0.0),
      "driver.analysis_ms" -> phaseMs("analysis"),
      "driver.optimization_ms" -> phaseMs("optimization"),
      "driver.planning_ms" -> phaseMs("planning"),
      "sched.jobs" -> aggs.map(_.jobs.get).sum.toDouble,
      "sched.stages" -> aggs.map(_.stages.size).sum.toDouble,
      "sched.tasks" -> aggs.map(_.tasks.get).sum.toDouble,
      "sched.idle_s" -> (o.root.dur - busy) / 1e6,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> aggs.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> aggs.map(_.gcMs).sum / 1e3,
      "exec.core_util" -> (if (wall > 0) taskS / (wall * Main.Cores) else 0.0),
      "exec.task_failures" -> aggs.map(_.taskFailures.get).sum.toDouble,
      "shuffle.write_mb" -> aggs.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> aggs.map(_.shuffleRead).sum / mb,
      "shuffle.spill_mb" -> aggs.map(_.spill).sum / mb,
      "shuffle.fetch_wait_s" -> aggs.map(_.fetchWaitMs).sum / 1e3)
  }

  def report(ops: Seq[OpTrace], tr: Tracing, res: Results): Unit = {
    val per = ops.map(perOp(_, tr))
    Names.foreach { case (k, u) => res.layer(k, Stats.median(per.map(_(k))), u) }
    res.info("engine.ops") = per.size
  }
}

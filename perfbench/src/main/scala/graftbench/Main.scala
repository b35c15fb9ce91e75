package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run (see run.py). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, tiny: Boolean, wrongExpect: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("size", "full") == "tiny", m.getOrElse("wrong-expect", "0") == "1")
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Everything a run reports: end-to-end metrics (with sample counts), layer
  * metrics, op counts and the failure messages. */
final class Results {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String, samples: Int): Unit =
    e2e(name) = (value, unit, samples)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  /** Counts one operation; `problem` is None when its output checked out. */
  def op(what: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; if (failures.size < 50) failures += s"$what: $p" }
  }

  def json: String = Json.obj(
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toList,
    "e2e" -> e2e.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "samples" -> n) },
    "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "info" -> info)
}

/** Fixed single-thread CPU loop and memory pass, timed in every run so that
  * a congested host shows next to the metrics it disturbed. */
object HostProbe {
  @volatile private var sink = 0L
  // 128 MiB, touched once before any timing so the pass measures bandwidth,
  // not page faults
  private lazy val buf = { val b = new Array[Long](16 << 20); java.util.Arrays.fill(b, 1L); b }

  def cpuLoopMs(): Double = timed { () =>
    var x = 1L; var i = 0
    while (i < 50000000) { x = graft.core.SplitMix64.next(x); i += 1 }
    sink ^= x
  }

  def memPassMs(): Double = {
    val b = buf
    timed { () => memPass(b) }
  }

  private def memPass(b: Array[Long]): Unit = {
    var i = 0; var s = 0L
    while (i < b.length) { b(i) = i.toLong; i += 1 }
    i = 0
    while (i < b.length) { s += b(i); i += 1 }
    sink ^= s
  }

  private def timed(f: () => Unit): Double = {
    val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

object FsUtil {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally st.close()
  }

  /** (bytes, regular files) under `p`. */
  def usage(p: Path): (Long, Int) = {
    val st = Files.walk(p)
    try {
      val fs = st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      (fs.map(Files.size).sum, fs.size)
    } finally st.close()
  }
}

object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val work = Paths.get(a.work)
    Files.createDirectories(work)
    val res = new Results
    res.info("host.cpu_loop_ms.start") = HostProbe.cpuLoopMs()
    res.info("host.mem_pass_ms.start") = HostProbe.memPassMs()

    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = Stats.secs(t0)
    try {
      val w: Workload = a.workload match {
        case "flagship" => new Flagship(spark, a, res)
        case "manytile_commit" => new ManyTileCommit(spark, a, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setup = w.setup()
      res.info("setup.session_s") = sessionS
      res.metric("setup_s", sessionS + setup, "s", 1)
      w.run()
      res.metric("failed_op_ratio", res.failed.toDouble / math.max(1, res.attempted), "ratio",
        res.attempted)
      res.metric("peak_rss_mb", HostProbe.peakRssMb(), "MB", 1)
    } finally spark.stop()
    res.info("host.cpu_loop_ms.end") = HostProbe.cpuLoopMs()
    res.info("host.mem_pass_ms.end") = HostProbe.memPassMs()
    Files.writeString(work.resolve("report.json"), res.json)
  }
}

package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Per-query measurement loop for optimization work (guide §1: measure
  * first; NOT part of the driver contract — the frozen [[graft.Bench]] is).
  * Times `fn(spark, sfDir).count()` exactly as Bench does, min-of-N, and
  * prints the slowest stages of the last run (wall, task count, cumulative
  * task time) so the empirical loop can see WHERE a query spends its time
  * without the UI. Usage:
  *   runMain graft.tools.QueryBench [reps] name1 name2 ...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32). */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.flatMap(_.toIntOption).getOrElse(3)
    val names = (if (args.headOption.exists(_.toIntOption.isDefined)) args.drop(1)
                 else args).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stage ledger for the CURRENT run only (cleared per rep)
    case class St(name: String, wallMs: Long, tasks: Int, taskMs: Long,
                  gcMs: Long, deserMs: Long, cpuMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
          .getOrElse(0L)
        // first graft frame in the callsite stack labels the stage better
        // than the scheduler's name (broadcast builds all read
        // withThreadLocalCaptured otherwise)
        val site = i.details.linesIterator.find(_.contains("graft."))
          .getOrElse(i.name.linesIterator.next()).trim.take(110)
        stages.add(St(site, wall, i.numTasks, i.taskMetrics.executorRunTime,
          i.taskMetrics.jvmGCTime, i.taskMetrics.executorDeserializeTime,
          i.taskMetrics.executorCpuTime / 1000000L))
      }
    })

    for (name <- names) {
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"QB $name UNKNOWN")
        case Some(fn) =>
          val walls = (1 to reps).map { rep =>
            stages.clear()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            dt
          }
          println(f"QB $name%-24s min=${walls.min}%6.3f  all=${walls.map(w => f"$w%.3f").mkString(",")}")
          stages.asScala.toSeq.sortBy(-_.wallMs).take(12).foreach(s => println(
            f"QB-STAGE ${s.wallMs}%6d ms wall  ${s.tasks}%4d tasks  ${s.taskMs}%7d run  ${s.cpuMs}%7d cpu  ${s.gcMs}%5d gc  ${s.deserMs}%5d deser  ${s.name}"))
      }
    }
    spark.stop()
  }
}

package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The catalog pass of a traced run: each listed `SparkEntry.queries` query
  * once, in a seed-permuted order, over the seeded tables run.py wrote to
  * `<work>/catalog`. Each query is one traced op. Its rows are written out
  * after the op, outside the timed region, for run.py's DuckDB oracle check. */
object CatalogPass {
  val Queries: Seq[String] = Seq(
    // the largest stage launchers
    "pipeline_llm", "dedup_keep_best", "dedup_clusters", "bm25_topk", "dedup_minhash_lsh",
    "decontaminate_semantic",
    // shuffle- and compute-heavy
    "dedup_ngram_jaccard", "dedup_simhash_pairs", "streaming_join",
    // satproc surface and spatial index (smooth_stitch is left out: its
    // oracle runs for minutes)
    "extract_chips", "polygonize_dissolve", "generalize_3857", "spatial_filter_median",
    "histogram_match", "retile_64", "spatial_join_tiles", "cell_id", "knn", "pip_cell_join",
    "q1_agg")

  def tablesDir(work: String): Path = Paths.get(work, "catalog")

  def run(spark: SparkSession, a: Args, res: Results, tr: Tracing): Unit = {
    val dir = tablesDir(a.work).toString
    val out = Paths.get(a.work, "catalog_out")
    Files.createDirectories(out)
    val order = Queries.sortBy(q => Rand.mix(a.seed, q.hashCode.toLong))
    res.info("catalog.order") = order
    val done = ArrayBuffer.empty[String]
    val ops = order.map { q =>
      val (r, wall, trace) = Op.run(Some(tr), s"query.$q") { ph =>
        val df = ph("build")(ph.plan(SparkEntry.queries(q)(spark, dir)))
        (df.schema, ph("run")(df.collect()))
      }
      res.op(s"query $q", r.left.toOption.map(_.toString))
      r.foreach { case (schema, rows) =>
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.parquet(out.resolve(q).toString)
        done += q
      }
      spark.catalog.clearCache()
      res.layer(s"query.$q.wall_s", wall, "s")
      (wall, trace.get)
    }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(order.map(q => q -> SparkEntry.oracleSql(q)): _*))
    Files.writeString(out.resolve("done.json"), Json.value(done.toList))

    // engine layers of the whole pass: sums over its queries
    tr.flush()
    val per = ops.map { case (_, o) => Engine.perOp(o, tr) }
    val passS = ops.map(_._1).sum
    def total(k: String) = per.map(_(k)).sum
    res.layer("catalog.pass_s", passS, "s")
    Seq("driver.build_s" -> "s", "driver.build_jobs" -> "count", "sched.jobs" -> "count",
      "sched.stages" -> "count", "sched.tasks" -> "count", "sched.idle_s" -> "s",
      "exec.task_s" -> "s", "shuffle.write_mb" -> "MB").foreach { case (k, u) =>
      res.layer(s"catalog.$k", total(k), u)
    }
    res.layer("catalog.exec.core_util", total("exec.task_s") / (passS * Main.Cores), "ratio")
  }
}

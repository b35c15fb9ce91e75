package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.core.Geom
import graft.sources.{Fixtures, IcebergLite}
import graft.sources.Model.Page

/** North-rule end-to-end on the flagship: first run commits all tiles with
  * manifest + lineage + metrics; a crash-rerun commits nothing new; after
  * invalidating part of the manifest, resume recomputes ONLY the missing
  * tiles and the final table equals a from-scratch run. Resume picks its
  * pending tiles before the page join, so a fully committed rerun plans no
  * page scan at all, and a torn commit's tiles stay pending. */
class FlagshipResumeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  test("flagship resumable run: exactly-once commit, partial-manifest resume") {
    val tmp = Files.createTempDirectory("flagship").toString
    val table = new IcebergLite(tmp, spark)
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
    def run(): Long = PagesTiling.extractChipsResumable(spark,
      Fixtures.pages(spark, 20000), Fixtures.luxMeta(), table, Some(labels))

    assert(run() == 8) // first run commits all 8 tiles
    assert(run() == 0) // rerun: manifest anti-join finds nothing pending
    val data = table.readData("chips")
    assert(data.count() == 8)
    // lineage + metrics side-tables populated
    assert(spark.read.parquet(s"$tmp/metadata/lineage").count() == 8)
    assert(table.metrics().where(col("stage") === "chips").count() == 1)

    // simulate a partially-committed job: rebuild the table with only 3
    // manifest rows committed, then resume
    val tmp2 = Files.createTempDirectory("flagship2").toString
    val table2 = new IcebergLite(tmp2, spark)
    val all = table.readData("chips")
      .withColumn("tile_key", concat_ws("_", col("raster_id"), col("i"), col("j")))
    val part = all.limit(3)
    table2.commit(Some((part.drop("tile_key"), "chips")),
      part.select(col("tile_key").as("part_key")), "chips-append")
    val resumed = PagesTiling.extractChipsResumable(spark,
      Fixtures.pages(spark, 20000), Fixtures.luxMeta(), table2, Some(labels))
    assert(resumed == 5) // only the 5 missing tiles recomputed
    val final2 = table2.readData("chips")
    assert(final2.count() == 8)
    // the 5 committed by the resume are exactly the tiles the partial
    // manifest lacked
    val partKeys = part.select("tile_key").collect().map(_.getString(0)).toSet
    val resumedKeys = spark.read.parquet(s"$tmp2/metadata/lineage")
      .select("tile_key").collect().map(_.getString(0)).toSet
    assert(resumedKeys.size == 5 && resumedKeys.intersect(partKeys).isEmpty)
    assert((resumedKeys ++ partKeys).size == 8)
    // resumed table content equals the from-scratch run (same tiles, same counts)
    val a = data.select("raster_id", "i", "j", "n_pages").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val b = final2.select("raster_id", "i", "j", "n_pages").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(a == b)
  }

  private lazy val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }

  /** The pages as a parquet table under a recognisable directory, so a
    * job's plan says whether it scans them. */
  private lazy val pagesDir: String = {
    val dir = Files.createTempDirectory("resume-pages").resolve("pages").toString
    Fixtures.pages(spark, 20000).write.parquet(dir)
    dir
  }
  private def pages(): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(pagesDir).as[Page]
  }

  /** Jobs started under a SQL execution whose plan scans `pagesDir`. */
  private final class PageScanJobs extends SparkListener {
    private val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val jobExecs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => jobExecs.add(id.toLong))
    def count(): Int = {
      org.apache.spark.graft.ListenerBusFlush.flush(spark.sparkContext)
      val name = java.nio.file.Paths.get(pagesDir).getParent.getFileName.toString
      val n = jobExecs.toArray.count(id => Option(plans.get(id)).exists(_.contains(name)))
      jobExecs.clear()
      n
    }
  }

  private def withPageScanJobs[A](f: PageScanJobs => A): A = {
    val l = new PageScanJobs
    spark.sparkContext.addSparkListener(l)
    try f(l) finally spark.sparkContext.removeSparkListener(l)
  }

  test("fully committed rerun returns 0 and runs no job that scans the pages") {
    val table = new IcebergLite(Files.createTempDirectory("flagship-rerun").toString, spark)
    withPageScanJobs { jobs =>
      assert(PagesTiling.extractChipsResumable(spark, pages(), Fixtures.luxMeta(), table,
        Some(labels)) == 8)
      assert(jobs.count() > 0) // the listener does see the committing run's page scan
      assert(PagesTiling.extractChipsResumable(spark, pages(), Fixtures.luxMeta(), table,
        Some(labels)) == 0)
      assert(jobs.count() == 0)
    }
    assert(table.readData("chips").count() == 8)
  }

  test("torn commit leaves its tiles pending; the next call commits them") {
    val full = new IcebergLite(Files.createTempDirectory("flagship-full").toString, spark)
    assert(PagesTiling.extractChipsResumable(spark, pages(), Fixtures.luxMeta(), full,
      Some(labels)) == 8)
    val chips = full.readData("chips")
      .withColumn("tile_key", concat_ws("_", col("raster_id"), col("i"), col("j")))
      .orderBy("tile_key").collect()
    def slice(from: Int, until: Int) =
      spark.createDataFrame(java.util.Arrays.asList(chips.slice(from, until).toIndexedSeq: _*),
        chips.head.schema)

    val root = Files.createTempDirectory("flagship-torn").toString
    val table = new IcebergLite(root, spark)
    val done = slice(0, 3)
    table.commit(Some((done.drop("tile_key"), "chips")),
      done.select(col("tile_key").as("part_key")), "chips-append")
    val torn = slice(3, 5)
    table.commit(Some((torn.drop("tile_key"), "chips")),
      torn.select(col("tile_key").as("part_key")), "chips-append",
      abortBeforeVersionMove = true)
    // the torn commit's 2 tiles are pending with the 3 never attempted
    assert(PagesTiling.extractChipsResumable(spark, pages(), Fixtures.luxMeta(), table,
      Some(labels)) == 5)
    assert(PagesTiling.extractChipsResumable(spark, pages(), Fixtures.luxMeta(), table,
      Some(labels)) == 0)
    val got = table.readData("chips")
    def perTile(df: org.apache.spark.sql.DataFrame) =
      df.select("raster_id", "i", "j", "n_pages").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq.sorted
    assert(perTile(got) == perTile(full.readData("chips")))
    assert(table.manifests().count() == 8)
  }
}

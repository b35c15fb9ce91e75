package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Affine, CellIndex, Geom, TileGrid}
import graft.functions.GeoTagOps
import graft.operators.{ChipPipeline, PagesTiling}
import graft.sources.{Fixtures, IcebergLite}
import graft.sources.Model.{Page, RasterMeta}

/** Shared parts of the two tiling workloads: the page table, its reference,
  * the prefix chain of the pipeline and the single-thread kernels. */
abstract class TilingWorkload(spark: SparkSession, a: Args, res: Results)
    extends Workload(spark, a, res) {
  import spark.implicits._

  def meta: RasterMeta
  def labels: Seq[(Array[Byte], String)]
  def nPages: Long
  /** Page index i in [0, nPages), its url and its geotag. */
  def page(i: Long): Page
  def url(i: Long): String
  def latLon(i: Long): (Double, Double)
  def writePages(dir: String): Unit

  val cfg = PagesTiling.TilingConfig()
  val pagesDir = s"${a.work}/pages"
  var ref: TilingRef = _

  def pages(): Dataset[Page] = spark.read.parquet(pagesDir).as[Page]

  /** Compressed bytes of the html and text column chunks: what the scan reads. */
  def scannedMb(): Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    Files.list(Paths.get(pagesDir)).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(c => Set("html", "text").contains(c.getPath.toDotString))
          .map(_.getTotalSize).sum
        finally r.close()
      }.sum / 1048576.0
  }

  /** Generates the page table; returns its seconds. */
  protected def generate(): Double = {
    val t0 = System.nanoTime()
    writePages(pagesDir)
    val s = Stats.secs(t0)
    val r0 = System.nanoTime()
    ref = TilingRef.compute(meta, cfg.size, nPages, Main.Cores) { i =>
      val (lat, lon) = latLon(i); (url(i), lat, lon)
    }
    res.info("check.reference_s") = Stats.secs(r0)
    res.info("ref.chips") = ref.chips
    res.info("ref.binned_pages") = ref.binned
    s
  }

  /** extractChips reduced by an aggregate that keeps per-tile counts. */
  def chipsAgg(withLabels: Boolean): DataFrame =
    PagesTiling.extractChips(spark, pages(), meta, labels = if (withLabels) Some(labels) else None)
      .agg(sum("n_pages").as("n_pages"), count(lit(1)).as("chips"), sum("bad_text").as("bad_text"),
        sort_array(collect_list(struct(col("i"), col("j"), col("n_pages")))).as("tiles"))

  def expectedChips: Long = ref.chips + (if (a.wrongExpect) 1 else 0)

  def checkChips(r: Row): Option[String] = {
    val tiles = r.getSeq[Row](3).map(t => (t.getInt(0), t.getInt(1)) -> t.getLong(2)).toMap
    if (r.getLong(1) != expectedChips) Some(s"chips ${r.getLong(1)} != expected $expectedChips")
    else if (r.getLong(0) != ref.binned) Some(s"binned pages ${r.getLong(0)} != ${ref.binned}")
    else if (r.getLong(2) != 0L) Some(s"bad_text ${r.getLong(2)}")
    else if (tiles != ref.perTile) Some("per-tile n_pages differ from the reference")
    else None
  }

  def geotagged(): DataFrame = PagesTiling.geotagged(spark, pages(), cfg.cellRes)
  def tiles(): DataFrame = PagesTiling.tileCells(spark, meta, cfg)

  /** assignTiles' output (per tile: pages and xor of url hashes) against
    * the reference, counted as one op; returns the pages assigned. */
  def checkAssignments(): Long = {
    val got = try {
      PagesTiling.assignTiles(geotagged(), tiles(), cfg)
        .groupBy("i", "j").agg(count(lit(1)), bit_xor(xxhash64(col("url"))))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    } catch { case e: Exception => Map.empty[(Int, Int), (Long, Long)] }
    res.op("tile-assignment check",
      if (got == ref.assignedPerTile) None else Some("tile assignments differ from the reference"))
    got.values.map(_._1).sum
  }

  /** Runs extractChips (with or without labels) to its end the way the op
    * does; the last two prefixes. */
  def chipsPrefix(withLabels: Boolean): Unit

  /** Prefixes of the pipeline, each ended by an action; layer self time
    * = this prefix's span minus the previous prefix's span. */
  def prefixes: Seq[(String, () => Unit)] = {
    def agg(df: => DataFrame): () => Unit = () => df.collect()
    Seq(
      "scan" -> agg(pages().toDF()
        .agg(sum(octet_length(col("html"))), sum(octet_length(col("text"))))),
      "geotag" -> agg(pages().toDF()
        .withColumn("geo", GeoTagOps.geo_tag_extract(col("html"), col("text")))
        .agg(sum(col("geo.lat")), sum(col("geo.lon")), count_if(col("geo.text_ok")))),
      "cell" -> agg(geotagged().agg(bit_xor(col("cell")), count_if(col("text_ok")))),
      "join" -> agg(PagesTiling.assignTiles(geotagged(), tiles(), cfg).agg(count(lit(1)))),
      "agg_chips" -> (() => chipsPrefix(withLabels = false)),
      "mask" -> (() => chipsPrefix(withLabels = true)))
  }

  private val prefixWalls = mutable.ArrayBuffer.empty[(String, Double)]

  /** One round of the prefix chain, in chain order. */
  def layerRound(tr: Tracing): Unit = prefixes.foreach { case (name, run) =>
    val (out, wall, _) = Op.run(Some(tr), s"layer.$name") { ph => ph(name)(run()) }
    res.op(s"prefix $name", out.left.toOption.map(_.toString))
    spark.catalog.clearCache()
    prefixWalls += name -> wall
  }

  def tilingLayers(tr: Tracing): Map[String, Double] = {
    // median seconds per prefix over the rounds
    val p = prefixWalls.groupBy(_._1).map { case (n, ws) => n -> Stats.median(ws.map(_._2)) }
    res.info("trace.prefix_median_s") = p
    res.info("trace.prefix_rounds") = prefixWalls.size / prefixes.size
    res.layer("scan.input_mb", scannedMb(), "MB")
    val names = prefixes.map(_._1)
    val self = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i == 0) p(n) else p(n) - p(names(i - 1)))
    }.toMap
    res.layer("scan.self_s", self("scan"), "s")
    res.layer("geotag.self_s", self("geotag"), "s")
    res.layer("geotag.ns_per_page", self("geotag") * 1e9 / nPages, "ns")
    res.layer("cell.self_s", self("cell"), "s")
    res.layer("join.self_s", self("join"), "s")
    val candidates = geotagged().join(tiles(), Seq("cell")).count()
    val assigned = checkAssignments()
    res.layer("join.candidates", candidates.toDouble, "count")
    res.layer("join.assigned", assigned.toDouble, "count")
    res.layer("join.useful_ratio", assigned.toDouble / math.max(1L, candidates), "ratio")
    res.layer("agg_chips.self_s", self("agg_chips"), "s")
    res.layer("mask.self_s", self("mask"), "s")
    res.layer("trace.layer_sum_s", names.map(self).sum, "s")
    kernels()
    p
  }

  /** Single-thread costs of the three per-row/per-tile kernels. */
  def kernels(): Unit = {
    val n = math.min(nPages, 20000L).toInt
    val sample = (0 until n).map(i => page(i.toLong))
    val html = sample.map(_.html).toArray
    val text = sample.map(p => UTF8String.fromString(p.text)).toArray
    val pts = (0 until n).map(i => latLon(i.toLong)).toArray
    var sink = 0L
    def perCall(count: Int)(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble / count
    })
    res.layer("core.geotag_ns", perCall(n) {
      var i = 0
      while (i < n) { sink += GeoTagOps.extractRow(html(i), text(i)).numFields; i += 1 }
    }, "ns")
    res.layer("core.cell_id_ns", perCall(n) {
      var i = 0
      while (i < n) { sink ^= CellIndex.cellId(pts(i)._1, pts(i)._2, cfg.cellRes); i += 1 }
    }, "ns")
    val affine = Affine(meta.a, meta.b, meta.c, meta.d, meta.e, meta.f)
    val wins = TileGrid.squareWindows(cfg.size, cfg.step, meta.width, meta.height, cfg.mode)
      .map(_.window).take(128)
    res.layer("core.mask_ns_per_tile", perCall(wins.size) {
      wins.foreach { w =>
        sink += ChipPipeline.maskFromPolygons(labels.map(p => Geom.fromWkb(p._1)), w,
          affine.forWindow(w), extentNoBorder = false, wantBoundary = false,
          wantDistance = false)._1.length
      }
    }, "ns")
    res.info("kernel.sink") = sink
  }

  /** Op walls → wall metrics. The rates come from the best op (graft.Bench's
    * min-of-N), which a burst of load on a shared host disturbs least. */
  def setTilingMetrics(walls: Seq[Double]): Unit = {
    val n = walls.size
    val best = walls.min
    res.metric("job_wall_p50_s", Stats.median(walls), "s", n)
    res.metric("job_wall_min_s", best, "s", n)
    res.metric("pages_per_s", nPages / best, "1/s", n)
    res.metric("tiles_chips_per_s", (ref.binned + ref.chips) / best, "1/s", n)
  }
}

/** `flagship`: graft.Bench's metric — extractChips with the lux1 labels over
  * a 2M-page parquet table on lux1's 8 tiles, reduced by an aggregate. */
final class Flagship(spark: SparkSession, a: Args, res: Results)
    extends TilingWorkload(spark, a, res) {
  val nPages: Long = if (a.tiny) 20000L else 2000000L
  val off: Long = PageInputs.flagshipOffset(a.seed, nPages)
  val meta: RasterMeta = Fixtures.luxMeta()
  val labels: Seq[(Array[Byte], String)] =
    Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }

  def page(i: Long): Page = Fixtures.page(off + i)
  def url(i: Long): String = s"https://example.org/p/${off + i}"
  def latLon(i: Long): (Double, Double) = (Fixtures.pageLat(off + i), Fixtures.pageLon(off + i))
  def writePages(dir: String): Unit =
    PageInputs.flagshipPages(spark, off, nPages).write.mode("overwrite").parquet(dir)

  def step(tr: Option[Tracing]): Double = record("flagship", Op.run(tr, "flagship") { ph =>
    val df = ph("build")(ph.plan(chipsAgg(withLabels = true)))
    checkChips(ph("run")(df.collect()).head)
  })

  def setup(): Double = {
    val gen = generate()
    val t0 = System.nanoTime()
    chipsAgg(withLabels = true).collect() // page cache, codegen and JIT
    spark.catalog.clearCache()
    val warm = Stats.secs(t0)
    res.info("setup.generate_s") = gen
    res.info("setup.warmup_s") = warm
    gen + warm
  }

  def endToEnd(walls: Seq[Double]): Unit = setTilingMetrics(walls)

  def chipsPrefix(withLabels: Boolean): Unit = chipsAgg(withLabels).collect()

  def workloadLayers(tr: Tracing): Unit = tilingLayers(tr)
}

/** `manytile_commit`: 961 tiles of 128² with labels at lux1's density; each op
  * commits through extractChipsResumable into a fresh IcebergLite table,
  * then resumes, which must commit nothing. */
final class ManyTileCommit(spark: SparkSession, a: Args, res: Results)
    extends TilingWorkload(spark, a, res) {
  val meta: RasterMeta = PageInputs.manyMeta(if (a.tiny) 1024 else 4096)
  val nPages: Long = if (a.tiny) 5000L else 100000L
  val labels: Seq[(Array[Byte], String)] = PageInputs.manyLabels(meta, a.seed)

  def page(i: Long): Page = PageInputs.manyPage(meta, a.seed, i)
  def url(i: Long): String = s"https://example.org/m/$i"
  def latLon(i: Long): (Double, Double) =
    (PageInputs.manyLat(meta, a.seed, i), PageInputs.manyLon(meta, a.seed, i))
  def writePages(dir: String): Unit =
    PageInputs.manyPages(spark, meta, a.seed, nPages).write.mode("overwrite").parquet(dir)

  private var tableN = 0
  val commitWalls = mutable.ArrayBuffer.empty[Double]
  val resumeWalls = mutable.ArrayBuffer.empty[Double]
  val tableBytes = mutable.ArrayBuffer.empty[Double]
  val tableFiles = mutable.ArrayBuffer.empty[Double]
  val pendingAtResume = mutable.ArrayBuffer.empty[Double]

  def tileKey(ij: (Int, Int)): String = s"${meta.raster_id}_${ij._1}_${ij._2}"

  /** Committed chips, manifest and lineage read back against the reference. */
  def readBack(root: String, table: IcebergLite): Option[String] = {
    val chips = table.readData("chips").select("i", "j", "n_pages", "bad_text").collect()
    val manifest = table.manifests().select("part_key", "n_pages", "bad_text").collect()
    val lineage = spark.read.parquet(s"$root/metadata/lineage").select("tile_key", "i", "j").collect()
    val wantManifest = ref.perTile.map { case (ij, n) => tileKey(ij) -> n }
    if (chips.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap != ref.perTile ||
        chips.length != ref.perTile.size)
      Some("committed chips differ from the reference")
    else if (chips.exists(_.getLong(3) != 0L) || manifest.exists(_.getLong(2) != 0L))
      Some("bad_text in committed rows")
    else if (manifest.map(r => r.getString(0) -> r.getLong(1)).toMap != wantManifest ||
             manifest.length != wantManifest.size)
      Some("manifest rows differ from the reference")
    else if (lineage.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet !=
               ref.perTile.keySet.map(ij => (tileKey(ij), ij._1, ij._2)) ||
             lineage.length != ref.perTile.size)
      Some("lineage rows differ from the reference")
    else None
  }

  /** Commit into a fresh table, then resume; returns the op's wall (both calls). */
  def commitAndResume(tr: Option[Tracing]): Double = {
    tableN += 1
    val root = s"${a.work}/tables/t$tableN"
    val table = new IcebergLite(root, spark)
    var c = 0.0; var r = 0.0
    val (out, wall, trace) = Op.run(tr, "manytile_commit") { ph =>
      val t0 = System.nanoTime()
      val n1 = ph("commit")(PagesTiling.extractChipsResumable(spark, pages(), meta, table, Some(labels)))
      c = Stats.secs(t0)
      val t1 = System.nanoTime()
      val n2 = ph("resume")(PagesTiling.extractChipsResumable(spark, pages(), meta, table, Some(labels)))
      r = Stats.secs(t1)
      (n1, n2)
    }
    val problem = out match {
      case Left(e) => Left(e)
      case Right((n1, n2)) =>
        pendingAtResume += n2.toDouble / math.max(1L, n1)
        if (n1 != expectedChips) Right(Some(s"committed $n1 chips, expected $expectedChips"))
        else if (n2 != 0L) Right(Some(s"resume committed $n2 chips, expected 0"))
        else try Right(readBack(root, table)) catch { case e: Exception => Left(e) }
    }
    record("manytile_commit", (problem, wall, trace))
    if (tr.isEmpty) {
      commitWalls += c; resumeWalls += r
      val (bytes, files) = FsUtil.usage(Paths.get(root))
      tableBytes += bytes.toDouble; tableFiles += files.toDouble
    }
    FsUtil.deleteTree(Paths.get(root))
    wall
  }

  def step(tr: Option[Tracing]): Double = commitAndResume(tr)

  /** As the commit call starts: the chips persisted and counted. (Caching
    * also keeps AQE from coalescing the chip stage to one task, as it does
    * under an aggregate.) */
  def chipsPrefix(withLabels: Boolean): Unit = {
    val chips = PagesTiling.extractChips(spark, pages(), meta,
      labels = if (withLabels) Some(labels) else None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try chips.count() finally chips.unpersist()
  }

  def setup(): Double = {
    val gen = generate()
    val t0 = System.nanoTime()
    // page cache, codegen and JIT: one untimed op (commit, resume, read-back)
    val root = Paths.get(a.work, "tables", "warmup")
    val table = new IcebergLite(root.toString, spark)
    (1 to 2).foreach(_ => PagesTiling.extractChipsResumable(spark, pages(), meta, table, Some(labels)))
    readBack(root.toString, table)
    spark.catalog.clearCache()
    FsUtil.deleteTree(root)
    val warm = Stats.secs(t0)
    res.info("setup.generate_s") = gen
    res.info("setup.warmup_s") = warm
    gen + warm
  }

  def endToEnd(walls: Seq[Double]): Unit = {
    val n = walls.size
    setTilingMetrics(walls)
    res.metric("chips_committed_per_s", ref.chips / Stats.median(commitWalls), "1/s", n)
    res.metric("resume_wall_p50_s", Stats.median(resumeWalls), "s", n)
    res.metric("table_bytes_per_chip", Stats.median(tableBytes) / ref.chips, "B", n)
  }

  def workloadLayers(tr: Tracing): Unit = {
    val p = tilingLayers(tr)
    val commits = traces.toList.flatMap(_.phases.filter(_._1 == "commit"))
    val resumes = traces.toList.flatMap(_.phases.filter(_._1 == "resume"))
    res.layer("commit.self_s", Stats.median(commits.map(_._2.dur / 1e6)) - p("mask"), "s")
    res.layer("commit.bytes_written_mb",
      Stats.median(commits.map(c => tr.listener.phase(c._3).outputBytes / 1048576.0)), "MB")
    res.layer("commit.files_written", Stats.median(tableFiles), "count")
    res.layer("resume.self_s", Stats.median(resumes.map(_._2.dur / 1e6)), "s")
    // tiles the resume call still found pending, per tile the commit wrote
    res.layer("resume.pending_ratio", Stats.median(pendingAtResume), "ratio")
  }
}

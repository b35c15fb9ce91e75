package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Affine, Geom, LabelIndex, TileGrid, Window}
import graft.functions.CellFunctions
import graft.sources.Fixtures
import graft.sources.Model.{Page, RasterMeta}

/** The web-scale graft (BASELINE.json north rule): assign Common-Crawl-style
  * geotagged pages to raster tiles via batched cell encoding, then extract
  * per-tile chips (page-density rasters) + label masks — satproc's chipping
  * pipeline re-expressed over a 10^12-row pages table.
  *
  * Plan shape (all Dataset/Catalyst, no RDD):
  *
  *   pages scan → html geotag extract + text invariant check (G5)
  *     → cell_id(lat, lon, res)                 [codegen Expression, G6]
  *   tiles (from raster metadata, a tiny table)
  *     → driver-side TileGrid.squareWindows → bbox → explode(cell_cover) [G2]
  *   join on cell (broadcast when tile side is small; salted equi-join
  *   otherwise) → exact point-in-window refine on plain columns
  *     → partial agg (tile, py, px) — map-side combine caps shuffle volume
  *       at 16k rows/tile regardless of page count (skew-proof)
  *     → final per-tile assembly of the dense density chip + rescale + masks
  *       (each tile burns only the labels whose extent reaches it)
  *
  * A resumable run ([[extractChipsResumable]]) picks its pending tiles on
  * the driver, before any of this is planned: windows whose tile is already
  * committed never reach the cell join, as satproc skips a window whose
  * outputs exist before it reads it (reference: satproc/chips.py:227-233).
  *
  * At 100 TB the only wide stages are the cell join and the two-level
  * aggregation; both shuffle pre-combined, fixed-size records.
  */
object PagesTiling {

  case class TilingConfig(size: Int = 128, step: Int = 128,
                          mode: String = "whole_overlap", cellRes: Int = 16,
                          salt: Int = 1)

  /** Pages with extracted geotag + cell id. `text_ok` carries the
    * byte-identical extracted-text-per-url invariant. The extraction is a
    * native codegen Expression over the raw html bytes + the text column's
    * UTF8String ([[graft.functions.GeoTagExtract]]) — no String decode, no
    * UDF converter boxing; nondeterministic-marked so Catalyst evaluates it
    * exactly once per row. */
  def geotagged(spark: SparkSession, pages: Dataset[Page], res: Int): DataFrame = {
    pages.toDF()
      .withColumn("geo", graft.functions.GeoTagOps.geo_tag_extract(col("html"), col("text")))
      .select(col("url"), col("warc_ts"), col("lang"),
        col("geo.lat").as("lat"), col("geo.lon").as("lon"),
        col("geo.text_ok").as("text_ok"))
      .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(res)))
  }

  /** Tile table for one raster: grid windows + world bounds + covering cells
    * (exploded). Tiny relative to pages; Catalyst broadcasts it. */
  def tileCells(spark: SparkSession, meta: RasterMeta, cfg: TilingConfig): DataFrame =
    tileCells(spark, meta, cfg, windows(meta, cfg))

  private def windows(meta: RasterMeta, cfg: TilingConfig): Seq[TileGrid.GridCell] =
    TileGrid.squareWindows(cfg.size, cfg.step, meta.width, meta.height, cfg.mode)

  private def tileCells(spark: SparkSession, meta: RasterMeta, cfg: TilingConfig,
                        cells: Seq[TileGrid.GridCell]): DataFrame = {
    import spark.implicits._
    val tiles = spark.createDataset(cells.map(c =>
      (meta.raster_id, c.i, c.j, c.window.colOff, c.window.rowOff,
        c.window.width, c.window.height)))
      .toDF("raster_id", "i", "j", "col_off", "row_off", "width", "height")
      .withColumn("minx", lit(meta.c) + col("col_off") * lit(meta.a))
      .withColumn("maxx", lit(meta.c) + (col("col_off") + col("width")) * lit(meta.a))
      .withColumn("maxy", lit(meta.f) + col("row_off") * lit(meta.e))
      .withColumn("miny", lit(meta.f) + (col("row_off") + col("height")) * lit(meta.e))
    tiles.withColumn("cell", explode(CellFunctions.cell_cover(
      col("miny"), col("minx"), col("maxy"), col("maxx"), lit(cfg.cellRes))))
  }

  /** Spatial join: pages × tiles on cell, refined to exact point-in-window
    * containment. With whole_overlap grids, border pages legitimately land
    * in 2–4 overlapping tiles (same as the reference's overlapping chips).
    * `salt > 1` replicates the tile side for hot-cell skew. */
  def assignTiles(pagesGeo: DataFrame, tiles: DataFrame, cfg: TilingConfig): DataFrame = {
    val (l, r) =
      if (cfg.salt <= 1) (pagesGeo, tiles)
      else (
        pagesGeo.withColumn("salt", pmod(hash(col("url")), lit(cfg.salt))),
        tiles.withColumn("salt", explode(sequence(lit(0), lit(cfg.salt - 1)))))
    val keys = if (cfg.salt <= 1) Seq("cell") else Seq("cell", "salt")
    l.join(r, keys)
      // exact refine: point inside window's world bbox (pixel convention:
      // a pixel owns [edge, edge+px) ⇒ x in [minx, maxx), y in (miny, maxy])
      .where(col("lon") >= col("minx") && col("lon") < col("maxx") &&
             col("lat") <= col("maxy") && col("lat") > col("miny"))
      .drop("cell", "salt")
  }

  /** Full flagship: pages → density chips per tile (+ masks from labels). */
  def extractChips(spark: SparkSession, pages: Dataset[Page], meta: RasterMeta,
                   labels: Option[Seq[(Array[Byte], String)]] = None,
                   aoiWkb: Option[Array[Byte]] = None,
                   cfg: TilingConfig = TilingConfig()): DataFrame =
    chipsOver(spark, pages, meta, windows(meta, cfg), labels, aoiWkb, cfg)

  /** [[extractChips]] over the given grid windows only. */
  private def chipsOver(spark: SparkSession, pages: Dataset[Page], meta: RasterMeta,
                        cells: Seq[TileGrid.GridCell],
                        labels: Option[Seq[(Array[Byte], String)]],
                        aoiWkb: Option[Array[Byte]], cfg: TilingConfig): DataFrame = {
    import spark.implicits._
    val affine = Affine(meta.a, meta.b, meta.c, meta.d, meta.e, meta.f)
    val pagesGeo = geotagged(spark, pages, cfg.cellRes)
    var tiles = tileCells(spark, meta, cfg, cells)

    // AOI filter on tiles (F1) — tile side is tiny, do it pre-join
    aoiWkb.foreach { wkb =>
      val aoi = Geom.fromWkb(wkb)
      val env = aoi.getEnvelopeInternal
      val exact = udf { (minx: Double, miny: Double, maxx: Double, maxy: Double) =>
        Geom.box(minx, miny, maxx, maxy).intersects(aoi)
      }
      tiles = tiles.where(
        col("minx") <= lit(env.getMaxX) && col("maxx") >= lit(env.getMinX) &&
          col("miny") <= lit(env.getMaxY) && col("maxy") >= lit(env.getMinY))
        .where(exact(col("minx"), col("miny"), col("maxx"), col("maxy")))
    }

    val assigned = assignTiles(pagesGeo, tiles, cfg)

    // page → pixel inside its tile (pure column math, stays in codegen)
    val px = floor((col("lon") - lit(meta.c)) / lit(meta.a)).cast("int") - col("col_off")
    val py = floor((col("lat") - lit(meta.f)) / lit(meta.e)).cast("int") - col("row_off")

    // two-level aggregation: (tile, py, px) partial counts (map-side
    // combine) → dense chip assembly. Bounded by 16k rows per tile.
    val binned = assigned
      .withColumn("px", px).withColumn("py", py)
      .where(col("px") >= 0 && col("px") < col("width") &&
             col("py") >= 0 && col("py") < col("height"))
      .groupBy(col("raster_id"), col("i"), col("j"), col("col_off"), col("row_off"),
        col("width"), col("height"), col("py"), col("px"))
      .agg(count(lit(1)).as("n"), sum(when(col("text_ok"), 0L).otherwise(1L)).as("bad_text"))

    val labelIndex = labels.map(new LabelIndex(_))
    val chips = binned
      .groupBy("raster_id", "i", "j", "col_off", "row_off", "width", "height")
      .agg(collect_list(struct(col("py"), col("px"), col("n"))).as("bins"),
        sum(col("n")).as("n_pages"), sum(col("bad_text")).as("bad_text"))
      .as[BinnedTile]
      .map { bt =>
        val dense = new Array[Int](bt.width * bt.height)
        bt.bins.foreach(b => dense(b.py * bt.width + b.px) = b.n.toInt)
        // density → uint8 chip, skimage-style rescale to 1..255 over (0, max)
        val mx = math.max(1, dense.max)
        val img = new Array[Byte](dense.length)
        var k = 0
        while (k < dense.length) {
          img(k) = ((dense(k).toDouble / mx) * 254.0 + 1.0).toInt.toByte
          k += 1
        }
        // extent mask from labels (M4) on this tile's window
        val win = Window(bt.col_off, bt.row_off, bt.width, bt.height)
        val mask: Array[Byte] = labelIndex match {
          case None => Array.empty[Byte]
          case Some(ix) =>
            ChipPipeline.maskFromPolygons(ix.reaching(win, affine).map(_._1),
              win, affine.forWindow(win), extentNoBorder = false,
              wantBoundary = false, wantDistance = false)._1
        }
        val (minx, miny, maxx, maxy) = win.bounds(affine)
        ChipOut(bt.raster_id, bt.i, bt.j, bt.n_pages, bt.bad_text,
          s"${bt.raster_id}_${bt.i}_${bt.j}.tif", minx, miny, maxx, maxy, img, mask)
      }
    chips.toDF()
  }

  /** Flagship with the north rule's bookkeeping: chips are committed to an
    * Iceberg-style table with one manifest row per tile, a lineage row
    * mapping each output tile to its input snapshot + covering cell range,
    * and per-stage metrics. Resume picks the pending tiles before the page
    * join, as satproc does (skip-existing at job level; within-job retry is
    * Spark-native task retry): the driver reads this raster's committed
    * `part_key`s once from the manifest, which sees committed snapshots only
    * (a torn commit's tiles stay pending), drops those windows from the
    * grid, and runs the pipeline over the rest. With no window left it
    * returns 0 without planning a page scan. A window that yields no chip
    * (no page lands in it) stays pending and is re-read on every run.
    * Returns the number of chips committed in this run. */
  def extractChipsResumable(spark: SparkSession, pages: Dataset[Page],
                            meta: RasterMeta, table: graft.sources.IcebergLite,
                            labels: Option[Seq[(Array[Byte], String)]] = None,
                            cfg: TilingConfig = TilingConfig(),
                            jobId: String = "pages-chips"): Long = {
    import org.apache.spark.sql.functions.{col => c, _}
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val prefix = s"${meta.raster_id}_"
    val committed: Set[String] =
      if (table.committedSnapshots().isEmpty) Set.empty
      else table.manifests().select(c("part_key")).where(c("part_key").startsWith(prefix))
        .as[String].collect().toSet
    val cells = windows(meta, cfg).filterNot(w => committed.contains(s"$prefix${w.i}_${w.j}"))
    if (cells.isEmpty) return 0L
    val pending = chipsOver(spark, pages, meta, cells, labels, None, cfg)
      .withColumn("tile_key", concat_ws("_", c("raster_id"), c("i"), c("j")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val n = pending.count()
    if (n > 0) {
      val inputSnapshot = table.currentSnapshot()
      val manifest = pending.select(c("tile_key").as("part_key"),
        c("n_pages"), c("bad_text"))
      table.commit(Some((pending.drop("tile_key"), "chips")), manifest, "chips-append")
      // lineage: output tile → input snapshot + covering cells at cfg.cellRes
      val lineage = pending.select(c("tile_key"), c("i"), c("j"))
        .withColumn("input_snapshot", lit(inputSnapshot))
        .withColumn("cell_res", lit(cfg.cellRes))
      table.appendLineage(lineage)
      // metrics (SURVEY §7.4 north-rule field list): per-partition detail
      // rows (partition, rows_in = pages binned into the partition's tiles,
      // rows_out = tiles, checksum over tile keys, skew salt) + one summary
      // row (partition = -1, stage "chips") — single schema for the
      // append-only side-table
      val wall = System.currentTimeMillis() - t0
      val detail = pending
        .withColumn("partition", spark_partition_id())
        .groupBy("partition")
        .agg(sum(c("n_pages")).as("rows_in"), count(lit(1)).as("rows_out"),
          sum(hash(c("tile_key")).cast("long")).as("checksum"))
      val summary = detail.agg(lit(-1).as("partition"),
        sum(c("rows_in")).as("rows_in"), sum(c("rows_out")).as("rows_out"),
        sum(c("checksum")).as("checksum"))
      table.appendMetrics(
        detail.withColumn("stage", lit("chips.partitions"))
          .unionByName(summary.withColumn("stage", lit("chips")))
          .withColumn("job_id", lit(jobId))
          .withColumn("wall_ms", lit(wall))
          .withColumn("skew_salt", lit(cfg.salt)))
    }
    pending.unpersist()
    n
  }

  case class Bin(py: Int, px: Int, n: Long)
  case class BinnedTile(raster_id: String, i: Int, j: Int, col_off: Int,
                        row_off: Int, width: Int, height: Int,
                        bins: Seq[Bin], n_pages: Long, bad_text: Long)
  case class ChipOut(raster_id: String, i: Int, j: Int, n_pages: Long,
                     bad_text: Long, filename: String,
                     minx: Double, miny: Double, maxx: Double, maxy: Double,
                     img: Array[Byte], extent_mask: Array[Byte])
}

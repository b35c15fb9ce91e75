package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

import graft.core.{Geom, SplitMix64, TileGrid}
import graft.sources.Fixtures
import graft.sources.Model.{Page, RasterMeta}

/** Seeded value streams: every generated input is a pure function of
  * (seed, index), so the same seed gives the same inputs. */
object Rand {
  def mix(a: Long, b: Long): Long = SplitMix64.next(SplitMix64.next(a) ^ b)
  def unit(a: Long, b: Long): Double = (mix(a, b) >>> 11).toDouble / (1L << 53).toDouble
}

/** Page tables for the two tiling workloads. */
object PageInputs {
  /** `flagship`: graft.Bench's pages, with the page index offset by the seed. */
  def flagshipOffset(seed: Long, n: Long): Long = seed * n

  def flagshipPages(spark: SparkSession, off: Long, n: Long): Dataset[Page] = {
    import spark.implicits._
    spark.range(off, off + n, 1, 64).map(k => Fixtures.page(k))
  }

  /** `manytile_commit`: a square raster of `side`² px at lux1's pixel size. */
  def manyMeta(side: Int): RasterMeta =
    RasterMeta("many1", side, side, 1, "epsg:4326", Fixtures.LuxPxX, 0.0, Fixtures.LuxOriginX,
      0.0, Fixtures.LuxPxY, Fixtures.LuxOriginY, Double.NaN)

  def manyLon(meta: RasterMeta, seed: Long, k: Long): Double =
    meta.c + Rand.unit(seed ^ 0x4c4f4eL, k) * meta.width * meta.a
  def manyLat(meta: RasterMeta, seed: Long, k: Long): Double =
    meta.f + Rand.unit(seed ^ 0x4c4154L, k) * meta.height * meta.e

  /** Same html shape as Fixtures.pageHtml (geo.position tag + one <p>),
    * spread uniformly over the raster's extent. */
  def manyPage(meta: RasterMeta, seed: Long, k: Long): Page = {
    val lat = manyLat(meta, seed, k); val lon = manyLon(meta, seed, k)
    val text = Fixtures.pageText(k)
    Page(s"https://example.org/m/$k", new java.sql.Timestamp(1704067200000L + (k % 86400L) * 1000L),
      s"""<html><head><meta name="geo.position" content="$lat;$lon"><title>m$k</title></head><body><p>$text</p></body></html>"""
        .getBytes(UTF_8), text, Seq("en", "es", "de", "fr")((k % 4).toInt))
  }

  def manyPages(spark: SparkSession, meta: RasterMeta, seed: Long, n: Long): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, 16).map(k => manyPage(meta, seed, k))
  }

  /** Labels at lux1's density and sizes: the raster is cut into blocks of
    * lux1's extent (483 × 216 px), and each block carries a copy of
    * `Fixtures.labelGeoms` (lux1's 4 polygons), shifted by the block's
    * origin plus a seeded offset of up to one block. */
  def manyLabels(meta: RasterMeta, seed: Long): Seq[(Array[Byte], String)] = {
    val (bw, bh) = (Fixtures.LuxWidth, Fixtures.LuxHeight)
    val lux = Fixtures.labelGeoms().map { case (g, c) =>
      (g.getCoordinates.toSeq.map(p => (p.x - Fixtures.LuxOriginX, p.y - Fixtures.LuxOriginY)), c)
    }
    for {
      by <- 0 until (meta.height + bh - 1) / bh
      bx <- 0 until (meta.width + bw - 1) / bw
      (ring, cls) <- lux
    } yield {
      val s = Rand.mix(seed ^ 0x4c4142L, by.toLong * 4096L + bx)
      val dx = (bx * bw + Rand.unit(s, 0) * bw) * meta.a
      val dy = (by * bh + Rand.unit(s, 1) * bh) * meta.e
      (Geom.toWkb(Geom.polygon(ring.map { case (x, y) => (meta.c + x + dx, meta.f + y + dy) })), cls)
    }
  }
}

/** What the tiling pipeline must produce for a page set, computed in plain
  * Scala from the generator with `assignTiles`' pixel convention: a page is
  * in a tile when lon ∈ [minx, maxx) and lat ∈ (miny, maxy] of the tile's
  * world bbox, and it is binned when its pixel lands inside the window. */
final case class TilingRef(assigned: Long, binned: Long,
                           perTile: Map[(Int, Int), Long],
                           assignedPerTile: Map[(Int, Int), (Long, Long)]) {
  def chips: Long = perTile.size.toLong
}

object TilingRef {
  def urlHash(url: String): Long = {
    val b = url.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** `pages` yields (url, lat, lon) for page index k in [0, n). Work is
    * split over `threads` threads. */
  def compute(meta: RasterMeta, size: Int, n: Long, threads: Int)
             (page: Long => (String, Double, Double)): TilingRef = {
    val cells = TileGrid.squareWindows(size, size, meta.width, meta.height, "whole_overlap").toArray
    val minx = cells.map(c => meta.c + c.window.colOff.toDouble * meta.a)
    val maxx = cells.map(c => meta.c + (c.window.colOff + c.window.width).toDouble * meta.a)
    val maxy = cells.map(c => meta.f + c.window.rowOff.toDouble * meta.e)
    val miny = cells.map(c => meta.f + (c.window.rowOff + c.window.height).toDouble * meta.e)
    // candidate tiles per size×size pixel bucket
    val nbx = meta.width / size + 2; val nby = meta.height / size + 2
    val buckets = Array.fill(nbx * nby)(scala.collection.mutable.ArrayBuffer.empty[Int])
    cells.indices.foreach { t =>
      val w = cells(t).window
      for (by <- w.rowOff / size to (w.rowOff + w.height - 1) / size;
           bx <- w.colOff / size to (w.colOff + w.width - 1) / size)
        buckets(by * nbx + bx) += t
    }
    val nT = cells.length
    val chunk = (n + threads - 1) / threads
    val parts = (0 until threads).map { th =>
      val f = java.util.concurrent.CompletableFuture.supplyAsync(() => {
        val assigned = new Array[Long](nT)
        val xorH = new Array[Long](nT)
        val binned = new Array[Long](nT)
        var k = th * chunk
        val end = math.min(n, k + chunk)
        val seen = new java.util.BitSet(nT)
        while (k < end) {
          val (url, lat, lon) = page(k)
          val col = math.floor((lon - meta.c) / meta.a)
          val row = math.floor((lat - meta.f) / meta.e)
          if (!col.isNaN && !row.isNaN) {
            seen.clear()
            var h = 0L
            var hashed = false
            val bx0 = math.max(0, ((col - 1) / size).floor.toInt)
            val by0 = math.max(0, ((row - 1) / size).floor.toInt)
            for (by <- by0 to math.min(nby - 1, ((row + 1) / size).floor.toInt);
                 bx <- bx0 to math.min(nbx - 1, ((col + 1) / size).floor.toInt);
                 t <- buckets(by * nbx + bx) if !seen.get(t)) {
              seen.set(t)
              if (lon >= minx(t) && lon < maxx(t) && lat <= maxy(t) && lat > miny(t)) {
                if (!hashed) { h = urlHash(url); hashed = true }
                assigned(t) += 1
                xorH(t) ^= h
                val w = cells(t).window
                val px = col.toLong.toInt - w.colOff
                val py = row.toLong.toInt - w.rowOff
                if (px >= 0 && px < w.width && py >= 0 && py < w.height) binned(t) += 1
              }
            }
          }
          k += 1
        }
        (assigned, xorH, binned)
      })
      f
    }.map(_.join())
    val assigned = new Array[Long](nT); val xorH = new Array[Long](nT); val binned = new Array[Long](nT)
    parts.foreach { case (a, x, b) =>
      var t = 0
      while (t < nT) { assigned(t) += a(t); xorH(t) ^= x(t); binned(t) += b(t); t += 1 }
    }
    val key = (t: Int) => (cells(t).i, cells(t).j)
    TilingRef(assigned.sum, binned.sum,
      cells.indices.filter(binned(_) > 0).map(t => key(t) -> binned(t)).toMap,
      cells.indices.filter(assigned(_) > 0).map(t => key(t) -> ((assigned(t), xorH(t)))).toMap)
  }
}

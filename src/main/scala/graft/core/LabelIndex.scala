package graft.core

import org.locationtech.jts.geom.Geometry

/** The label polygons that can reach a tile. Built once from `(wkb, class)`
  * pairs; it keeps each label's world envelope, so a tile's mask burns only
  * the labels whose envelope meets the tile's bounds padded by one pixel
  * (the cheap half of Raptor's raster-vector join: each label meets only the
  * tiles its extent reaches).
  *
  * The cull is exact for [[graft.operators.ChipPipeline.maskFromPolygons]]:
  * the scanline fill burns only pixel centres between edge crossings, and a
  * boundary line only pixels between its floored end points, so a polygon
  * whose envelope misses the padded window burns nothing inside it, and the
  * distance mask is computed from those two rasters alone. The pad absorbs
  * the rounding of the world → pixel inversion. Under a rotated or sheared
  * transform a world envelope says nothing about the pixel grid, so every
  * label is kept.
  *
  * Serializable: the WKB and envelopes travel in the closure, and each task
  * decodes a WKB at most once, on first use. */
final class LabelIndex(labels: Seq[(Array[Byte], String)]) extends Serializable {
  private val wkbs: Array[Array[Byte]] = labels.map(_._1).toArray
  private val classes: Array[String] = labels.map(_._2).toArray
  // envelope k at (4k .. 4k+3) = (minx, miny, maxx, maxy)
  private val envs: Array[Double] = wkbs.flatMap { b =>
    val e = Geom.fromWkb(b).getEnvelopeInternal
    Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }
  @transient private lazy val decoded = new Array[Geometry](wkbs.length)

  private def geom(k: Int): Geometry = {
    if (decoded(k) == null) decoded(k) = Geom.fromWkb(wkbs(k))
    decoded(k)
  }

  /** Labels whose envelope meets `win` (pixel window under `t`) padded by
    * one pixel, in input order, with their classes. */
  def reaching(win: Window, t: Affine): Seq[(Geometry, String)] = {
    val out = Seq.newBuilder[(Geometry, String)]
    if (t.b != 0.0 || t.d != 0.0) {
      wkbs.indices.foreach(k => out += ((geom(k), classes(k))))
    } else {
      val (minx, miny, maxx, maxy) =
        Window(win.colOff - 1, win.rowOff - 1, win.width + 2, win.height + 2).bounds(t)
      var k = 0
      while (k < wkbs.length) {
        val o = 4 * k
        if (envs(o) <= maxx && envs(o + 2) >= minx && envs(o + 1) <= maxy && envs(o + 3) >= miny)
          out += ((geom(k), classes(k)))
        k += 1
      }
    }
    out.result()
  }
}

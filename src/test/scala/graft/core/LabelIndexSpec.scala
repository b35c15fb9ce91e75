package graft.core

import org.locationtech.jts.geom.Geometry
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ChipPipeline
import graft.sources.Fixtures

/** The label cull is exact: for every 128² window, `maskFromPolygons` over
  * the labels [[LabelIndex]] keeps equals it over all labels, byte for byte,
  * for extent, boundary, distance and `extentNoBorder`. */
class LabelIndexSpec extends AnyFunSuite {

  private val luxAffine =
    Affine(Fixtures.LuxPxX, 0.0, Fixtures.LuxOriginX, 0.0, Fixtures.LuxPxY, Fixtures.LuxOriginY)

  /** (extentNoBorder, wantBoundary, wantDistance) */
  private val maskKinds = Seq((false, false, false), (false, true, true), (true, true, true))

  private def toPairs(gs: Seq[Geometry]): Seq[(Array[Byte], String)] =
    gs.map(g => (Geom.toWkb(g), "A"))

  /** Checks every window; returns the mean number of labels kept per window. */
  private def assertCullExact(labels: Seq[(Array[Byte], String)], t: Affine,
                              windows: Seq[Window]): Double = {
    val ix = new LabelIndex(labels)
    val all = labels.map(l => Geom.fromWkb(l._1))
    var kept = 0L
    windows.foreach { win =>
      val culled = ix.reaching(win, t).map(_._1)
      kept += culled.size
      val winT = t.forWindow(win)
      maskKinds.foreach { case (noBorder, wantB, wantD) =>
        val want = ChipPipeline.maskFromPolygons(all, win, winT, noBorder, wantB, wantD)
        val got = ChipPipeline.maskFromPolygons(culled, win, winT, noBorder, wantB, wantD)
        Seq(want._1 -> got._1, want._2 -> got._2, want._3 -> got._3).zipWithIndex.foreach {
          case ((w, g), kind) =>
            assert(java.util.Arrays.equals(w, g),
              s"window $win kind $kind (noBorder=$noBorder): culled mask differs " +
                s"(${culled.size} of ${all.size} labels kept)")
        }
      }
    }
    kept.toDouble / windows.size
  }

  private def grid(width: Int, height: Int, step: Int): Seq[Window] =
    TileGrid.squareWindows(128, step, width, height, "whole_overlap").map(_.window)

  /** lux1's 4 labels copied into every lux1-sized block of a larger raster
    * at lux1's pixel size, each block's copy shifted by a seeded offset. */
  private def labelsAtLuxDensity(width: Int, height: Int, seed: Long): Seq[Geometry] = {
    val (bw, bh) = (Fixtures.LuxWidth, Fixtures.LuxHeight)
    for {
      by <- 0 until (height + bh - 1) / bh
      bx <- 0 until (width + bw - 1) / bw
      (g, _) <- Fixtures.labelGeoms()
    } yield {
      val s = SplitMix64.next(seed * 7919L + by * 4096L + bx)
      val dx = (bx * bw + SplitMix64.unitDouble(s, 0) * bw) * Fixtures.LuxPxX
      val dy = (by * bh + SplitMix64.unitDouble(s, 1) * bh) * Fixtures.LuxPxY
      val moved = g.copy()
      moved.apply(new org.locationtech.jts.geom.CoordinateFilter {
        override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
          c.x += dx; c.y += dy
        }
      })
      moved.geometryChanged()
      moved
    }
  }

  /** World rectangle over pixel columns [c0, c1] and rows [r0, r1]. */
  private def pxBox(t: Affine, c0: Double, r0: Double, c1: Double, r1: Double): Geometry = {
    val (x0, y0) = t(c0, r0); val (x1, y1) = t(c1, r1)
    Geom.box(math.min(x0, x1), math.min(y0, y1), math.max(x0, x1), math.max(y0, y1))
  }

  /** Labels whose envelope edge lies exactly on a tile edge (columns and
    * rows 128, 256), on a tile corner, and one pixel outside a tile. */
  private def edgeLabels(t: Affine): Seq[Geometry] = Seq(
    pxBox(t, 100, 140, 128, 200),          // right edge on col 128
    pxBox(t, 128, 20, 150, 60),            // left edge on col 128
    pxBox(t, 300, 100, 340, 128),          // bottom edge on row 128
    pxBox(t, 10, 128, 60, 170),            // top edge on row 128
    pxBox(t, 230, 100, 256, 128),          // bottom-right corner on (256, 128)
    pxBox(t, 256, 128, 280, 150),          // top-left corner on (256, 128)
    pxBox(t, 383, 10, 384, 11),            // one-pixel box ending on col 384
    pxBox(t, 90, 60, 127, 100),            // one pixel left of col 128
    Geom.polygon(Seq(t(200, 0), t(256, 0), t(256, 56))),   // triangle, corner at (256, 0)
    Geom.polygon(Seq(t(256.0, 128.0), t(300.0, 128.0), t(256.0, 180.0))))

  test("lux1: culled masks equal all-label masks on every 128² window (step 16)") {
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) } ++
      toPairs(edgeLabels(luxAffine))
    val windows = grid(Fixtures.LuxWidth, Fixtures.LuxHeight, 16)
    assert(windows.size > 100)
    assertCullExact(labels, luxAffine, windows)
  }

  test("several hundred labels at lux1 density: culled masks equal all-label masks, and the cull bites") {
    val (w, h) = (2560, 2048)
    Seq(1L, 2L).foreach { seed =>
      val labels = toPairs(labelsAtLuxDensity(w, h, seed) ++ edgeLabels(luxAffine))
      assert(labels.size > 200)
      val mean = assertCullExact(labels, luxAffine, grid(w, h, 128))
      assert(mean < labels.size * 0.05, s"mean kept $mean of ${labels.size}")
    }
  }

  test("rotated transform keeps every label") {
    val labels = toPairs(edgeLabels(luxAffine))
    val rotated = luxAffine.copy(b = 1e-6)
    assert(new LabelIndex(labels).reaching(Window(0, 0, 128, 128), rotated).size == labels.size)
  }
}

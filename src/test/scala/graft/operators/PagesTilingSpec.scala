package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{Geom, SplitMix64}
import graft.sources.Fixtures
import graft.sources.Model.Page

/** Web-scale graft invariants (BASELINE.json): byte-identical extracted
  * text per url; identical tile assignments across parallelism levels;
  * density chips cover the expected grid. */
class PagesTilingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  test("extracted text is byte-identical to the text column for every url") {
    import spark.implicits._
    val bad = Fixtures.pages(spark, 2000)
      .map(p => (p.url, Fixtures.extractText(p.html) == p.text))
      .filter(!_._2).count()
    assert(bad == 0)
  }

  test("every synthesized page geotag falls inside the lux1 extent") {
    import spark.implicits._
    val meta = Fixtures.luxMeta()
    val outside = Fixtures.pages(spark, 2000).map { p =>
      val (lat, lon) = Fixtures.extractLatLon(p.html)
      lon >= meta.c && lon < meta.c + meta.width * meta.a &&
        lat <= meta.f && lat > meta.f + meta.height * (-meta.e).abs * -1
    }.filter(x => !x).count()
    assert(outside == 0)
  }

  test("tile assignment is identical across partition counts (scaling invariant)") {
    val meta = Fixtures.luxMeta()
    def run(parts: Int): Set[(String, Long)] = {
      val pages = Fixtures.pages(spark, 5000, partitions = parts)
      val geo = PagesTiling.geotagged(spark, pages, 16)
      val tiles = PagesTiling.tileCells(spark, meta, PagesTiling.TilingConfig())
      PagesTiling.assignTiles(geo, tiles, PagesTiling.TilingConfig())
        .select(col("url"), col("i").cast("long") * 1000 + col("j"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    assert(run(2) == run(13))
  }

  test("salted join produces the same assignment as unsalted") {
    val meta = Fixtures.luxMeta()
    def run(salt: Int): Set[(String, Int, Int)] = {
      val cfg = PagesTiling.TilingConfig(salt = salt)
      val pages = Fixtures.pages(spark, 3000)
      val geo = PagesTiling.geotagged(spark, pages, 16)
      val tiles = PagesTiling.tileCells(spark, meta, cfg)
      PagesTiling.assignTiles(geo, tiles, cfg)
        .select("url", "i", "j").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    }
    assert(run(1) == run(4))
  }

  test("salted join on a hot cell through the shuffle path: same assignment as unsalted") {
    // broadcast off and AQE off on a private session, so the salted rows
    // really meet the hot reducer and no other suite sees these settings
    val hot = spark.newSession()
    hot.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    hot.conf.set("spark.sql.adaptive.enabled", "false")
    import hot.implicits._
    val n = 20000L
    val geo = PagesTiling.geotagged(hot,
      hot.range(0, n, 1, 8).map(k => PagesTilingSpec.hotCellPage(k)), 16)
    val maxCell = geo.groupBy("cell").count().agg(max("count")).head().getLong(0)
    assert(maxCell >= n * 9 / 10, s"hot cell holds only $maxCell of $n pages")
    val meta = Fixtures.luxMeta()
    def run(salt: Int): Set[(String, Int, Int)] = {
      val cfg = PagesTiling.TilingConfig(salt = salt, cellRes = 16)
      val joined = PagesTiling.assignTiles(geo, PagesTiling.tileCells(hot, meta, cfg), cfg)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
      joined.select("url", "i", "j").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    }
    val unsalted = run(1)
    assert(unsalted.size >= n)
    assert(unsalted == run(8))
  }

  test("flagship: density chips on all 8 tiles, no text violations, mask burned") {
    val meta = Fixtures.luxMeta()
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
    val chips = PagesTiling.extractChips(spark, Fixtures.pages(spark, 20000), meta,
      labels = Some(labels))
    val got = chips.collect()
    assert(got.length == 8) // enough pages that every tile gets hits
    assert(got.map(r => r.getAs[Long]("bad_text")).sum == 0)
    assert(got.map(r => r.getAs[Long]("n_pages")).sum >= 20000) // overlaps can duplicate
    assert(got.forall(r => r.getAs[Array[Byte]]("img").length == 128 * 128))
    val masked = got.filter(r => r.getAs[Array[Byte]]("extent_mask").exists(_ != 0))
    assert(masked.map(r => (r.getAs[Int]("i"), r.getAs[Int]("j"))).toSet ==
      Set((0, 0), (0, 1), (1, 0), (1, 1), (1, 3))) // same 5 label tiles as parity test
  }

  test("AOI filter restricts chips to intersecting tiles") {
    val meta = Fixtures.luxMeta()
    val aoi = Geom.toWkb(Geom.unaryUnion(Fixtures.aoiGeoms()))
    val chips = PagesTiling.extractChips(spark, Fixtures.pages(spark, 10000), meta,
      aoiWkb = Some(aoi))
    val tilesHit = chips.collect().map(r => (r.getAs[Int]("i"), r.getAs[Int]("j"))).toSet
    assert(tilesHit == Set((0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)))
  }
}

object PagesTilingSpec {
  /** Nine pages in ten sit in one ~1/20-cell hotspot of a single res-16
    * cell inside the lux1 extent; the tenth is the uniform fixture page. */
  def hotCellPage(k: Long): Page = {
    val p = Fixtures.page(k)
    if (k % 10 == 0) p
    else {
      val lat = 50.109 + SplitMix64.unitDouble(k, 0) * 0.0002
      val lon = 6.001 + SplitMix64.unitDouble(k, 1) * 0.0002
      p.copy(html = s"""<html><head><meta name="geo.position" content="$lat;$lon"><title>p$k</title></head><body><p>${p.text}</p></body></html>"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}

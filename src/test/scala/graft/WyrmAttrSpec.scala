package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.model.Ring
import graft.tile.Encode

/** Wyrm feature attribute semantics (linestring.rs:45-53,
  * polygon.rs:45-54): osm_id+sint → class "osm-{id}"; osm group → data-*;
  * NON-osm group → per-value class via class-name mangling. */
class WyrmAttrSpec extends AnyFunSuite {
  private val layer = LayerDef("segment_10", "linestring", "0+",
    Seq("$osm_id", "?name"))
  private val tcfg = TileCfg(TileId(0, 0, 0), 256, 8)
  private val b = TileGrid.tileBBox(0, 0, 0)
  private val ring = Ring(outer = true,
    Array(b.xmin / 2, b.xmax / 2), Array(0.0, 0.0))

  test("osm group: osm_id class + data-name") {
    val s = Encode.wyrmPath(layer, osm = true,
      Seq("1795848", "Main St"), Seq(ring), tcfg, closed = false).get
    assert(s.contains("class=\"osm-1795848\""))
    assert(s.contains("data-name=\"Main St\""))
    assert(s.startsWith("<path ") && s.contains(" d=\"m"))
  }

  test("non-osm group: values become mangled class names") {
    val s = Encode.wyrmPath(layer, osm = false,
      Seq("1795848", "Main St"), Seq(ring), tcfg, closed = false).get
    // osm_id+sint still → osm- class; name → segment-MainSt class
    assert(s.contains("osm-1795848"))
    assert(s.contains("segment-MainSt"))
    assert(!s.contains("data-name"))
  }

  test("rotate out-of-i16-range parses to 0 (point.rs:44-46)") {
    val pl = LayerDef("city_poi", "point", "0+",
      Seq("?name", "$rotate", "?big"))
    val p = Mercator.project(0.0, 0.0)
    val s = Encode.wyrmPoint(pl, Seq("X", "99999", "v"),
      Seq(Ring(outer = true, Array(p.x), Array(p.y))), tcfg)
    assert(!s.contains("rotate:")) // 99999 > Short.MaxValue → 0 → omitted
    val s2 = Encode.wyrmPoint(pl, Seq("X", "45", "v"),
      Seq(Ring(outer = true, Array(p.x), Array(p.y))), tcfg)
    assert(s2.contains("rotate: 45deg"))
    assert(s2.contains("data-big=\"v\"") &&
      s2.contains("class=\"city_poi-X\""))
  }

  test("one path builder: a polygon ring closes, a linestring does not") {
    val lake = LayerDef("lake", "polygon", "0+", Seq("$osm_id"))
    // an outer triangle and a hole, neither repeating its first point
    def tri(s: Double) = Ring(outer = s > 0.2,
      Array(-s * b.xmax, s * b.xmax, 0.0), Array(-s * b.ymax, -s * b.ymax,
        s * b.ymax))
    val rings = Seq(tri(0.5), tri(0.1))
    def d(s: String) = """ d="([^"]*)"""".r.findFirstMatchIn(s).get.group(1)
    val poly = d(Encode.wyrmPath(lake, osm = true, Seq("7"), rings, tcfg,
      closed = true).get)
    val line = d(Encode.wyrmPath(lake, osm = true, Seq("7"), rings, tcfg,
      closed = false).get)
    assert(poly.count(_ == 'm') == 2 && line.count(_ == 'm') == 2)
    assert(poly.count(_ == 'z') == 2 && poly.endsWith("z"))
    assert(!line.contains('z'))
    // closing adds the segment back to each ring's first point
    assert(poly.length > line.length + 2)
    assert(Encode.wyrmPath(lake, osm = true, Seq("7"), Seq.empty, tcfg,
      closed = true).isEmpty)
  }
}

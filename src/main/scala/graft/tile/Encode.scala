package graft.tile

import graft.core._
import graft.model.Ring

/** Per-feature geometry encoding for both output formats — pure Scala,
  * invoked inside the per-(tile, layer) aggregation stage.
  * Ports the reference encoders exactly:
  *   MVT   /root/reference/wyrmcast/src/mvtenc.rs:48-62, 88-114, 140-164
  *   Wyrm  /root/reference/wyrmcast/src/{point,linestring,polygon}.rs
  */
object Encode {

  def ringBBox(r: Ring): BBox = {
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    var i = 0
    while (i < r.xs.length) {
      if (r.xs(i) < x0) x0 = r.xs(i); if (r.xs(i) > x1) x1 = r.xs(i)
      if (r.ys(i) < y0) y0 = r.ys(i); if (r.ys(i) > y1) y1 = r.ys(i)
      i += 1
    }
    BBox(x0, y0, x1, y1)
  }

  /** Tag values for a feature: (tag, value, sint) triples in include order
    * with nulls dropped (layer.rs:347-361). */
  def tagValues(layer: LayerDef, values: Seq[String])
      : Seq[(String, String, Boolean)] =
    layer.tagValues(values.map(Option(_)))

  /** MVT feature tags; invalid sint → warn-and-drop (mvtenc.rs:33-40). */
  def mvtTags(layer: LayerDef, values: Seq[String])
      : Seq[(String, Either[String, Long])] =
    tagValues(layer, values).flatMap { case (tag, v, sint) =>
      if (sint) v.toLongOption.map(l => (tag, Right(l)))
      else Some((tag, Left(v)))
    }

  /** Same selection as [[mvtTags]], but over the RAW value byte slices
    * of a [[RingCodec.packFeat]] blob ([[RingCodec.unpackFeatRaw]]
    * offsets) — the engine hot path never materializes value Strings
    * (the UTF-8 → String → UTF-8 round trip per exploded row was ~8% of
    * serial pyramid CPU in a pv6 JFR profile). Returns (include-pattern
    * indices, value-record offsets) trimmed to the kept count; value
    * record i is [len:i32-LE][utf8] at offset o(i) in the blob. Tag names
    * and sint flags are re-derived from the layer config at assembly. */
  def mvtTagSlices(layer: LayerDef, blob: Array[Byte], valOff: Array[Int])
      : (Array[Int], Array[Int]) = {
    val inc = layer.includeTags
    val lim = math.min(inc.length, valOff.length)
    val ti = new Array[Int](lim)
    val to = new Array[Int](lim)
    var n = 0
    var i = 0
    while (i < lim) {
      val off = valOff(i)
      // off < 0 = null value (dropped, layer.rs:347-361); sint values
      // that don't parse are warned-and-dropped (mvtenc.rs:33-40)
      if (off >= 0 &&
          (!inc(i)._2 ||
            isParsableLongUtf8(blob, off + 4, RingCodec.readIntLE(blob, off)))) {
        ti(n) = i; to(n) = off; n += 1
      }
      i += 1
    }
    if (n == lim) (ti, to)
    else (java.util.Arrays.copyOf(ti, n), java.util.Arrays.copyOf(to, n))
  }

  /** [[isParsableLong]] over a UTF-8 byte slice without decoding. ASCII
    * bytes are the digits' fast path; any non-ASCII byte (which could be
    * a non-Latin decimal digit that `Character.digit` accepts) falls back
    * to the String variant for exact parity. */
  private[graft] def isParsableLongUtf8(b: Array[Byte], off: Int,
                                        len: Int): Boolean = {
    if (len == 0) return false
    var i = 0
    while (i < len) {
      if (b(off + i) < 0)
        return isParsableLong(
          new String(b, off, len, java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    i = 0
    val first = b(off)
    val neg = first == '-'
    if (neg || first == '+') i = 1
    if (i >= len) return false
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    val multmin = limit / 10
    var result = 0L
    while (i < len) {
      val c = b(off + i).toInt
      val d = if (c >= '0' && c <= '9') c - '0' else -1
      if (d < 0) return false
      if (result < multmin) return false
      result *= 10
      if (result < limit + d) return false
      result -= d
      i += 1
    }
    true
  }

  /** Allocation-free `s.toLongOption.isDefined`: the JDK parseLong
    * acceptance loop mirrored (optional +/-, `Character.digit` base-10
    * digits — including non-ASCII decimal digits, which Scala's
    * toLongOption also accepts — overflow rejected), pinned ≡
    * toLongOption by a PropertySpec property. This runs once per sint
    * tag per (feature, zoom, tile) exploded row; toLongOption's boxed
    * Some(Long) was a measured JFR hotspot. */
  private[graft] def isParsableLong(s: String): Boolean = {
    val len = s.length
    if (len == 0) return false
    var i = 0
    val first = s.charAt(0)
    val neg = first == '-'
    if (neg || first == '+') i = 1
    if (i >= len) return false
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    val multmin = limit / 10
    var result = 0L
    while (i < len) {
      val d = Character.digit(s.charAt(i), 10)
      if (d < 0) return false
      if (result < multmin) return false
      result *= 10
      if (result < limit + d) return false
      result -= d
      i += 1
    }
    true
  }

  // ------------------------------------------------------------------ MVT

  /** Encode one feature's geometry to MVT commands; empty → elide. */
  def mvtGeometry(geomTp: GeomTp, rings: Array[Ring], cfg: TileCfg)
      : Array[Long] = {
    val enc = new MvtGeomEncoder(geomTp, cfg.bbox, cfg.transform)
    mvtAddRings(enc, geomTp, rings, cfg)
    enc.encode()
  }

  /** Feed a feature's rings into `enc` (which must be armed with the
    * same geomTp/bbox/transform) — split out so the engine hot path can
    * REUSE one encoder across rows via [[MvtGeomEncoder.reset]]. Indexed
    * while loops: the generic `Seq.foreach` dispatch here was a measured
    * pv6 JFR hotspot (~6% of serial CPU). */
  private[tile] def mvtAddRings(enc: MvtGeomEncoder, geomTp: GeomTp,
                                rings: Array[Ring], cfg: TileCfg): Unit = {
    geomTp match {
      case GeomTp.Point =>
        var ri = 0
        while (ri < rings.length) {
          val r = rings(ri)
          var i = 0
          while (i < r.xs.length) {
            if (cfg.bbox.contains(Pt(r.xs(i), r.ys(i))))
              enc.addPoint(r.xs(i), r.ys(i))
            i += 1
          }
          ri += 1
        }
      case GeomTp.Linestring =>
        // segment-level clip: an excluded segment splits the geometry
        var ri = 0
        while (ri < rings.length) {
          val r = rings(ri)
          var connected = false
          var i = 0
          while (i < r.xs.length - 1) {
            val segBB = BBox(
              math.min(r.xs(i), r.xs(i + 1)), math.min(r.ys(i), r.ys(i + 1)),
              math.max(r.xs(i), r.xs(i + 1)), math.max(r.ys(i), r.ys(i + 1)))
            if (segBB.intersects(cfg.bbox)) {
              if (!connected) {
                enc.completeGeom()
                enc.addPoint(r.xs(i), r.ys(i))
              }
              enc.addPoint(r.xs(i + 1), r.ys(i + 1))
              connected = true
            } else connected = false
            i += 1
          }
          ri += 1
        }
      case GeomTp.Polygon =>
        // rings emitted whole — no geometric clip (mvtenc.rs:148-163)
        var ri = 0
        while (ri < rings.length) {
          val r = rings(ri)
          if (r.xs.length >= 2) {
            enc.completeGeom()
            var i = 0
            while (i < r.xs.length) {
              enc.addPoint(r.xs(i), r.ys(i)); i += 1
            }
            enc.completeGeom()
          }
          ri += 1
        }
    }
  }

  // ----------------------------------------------------------------- Wyrm

  /** Wyrm point feature: an inner <g> with tag attrs + a <use> per in-bbox
    * point (point.rs:20-91). Never elided once the feature is a bbox
    * candidate. */
  def wyrmPoint(layer: LayerDef, values: Seq[String], rings: Seq[Ring],
                cfg: TileCfg): String = {
    val g2 = new SvgElem("g")
    var rotate = 0
    tagValues(layer, values).foreach { case (tag, value, _) =>
      if (tag == "name") g2.cls(layer.className(Some(value)))
      else if (tag == "rotate")
        rotate = value.toShortOption.map(_.toInt).getOrElse(0)
      else g2.data(tag, value)
    }
    val marker = s"#${layer.name}-marker"
    rings.foreach { r =>
      var i = 0
      while (i < r.xs.length) {
        val p = Pt(r.xs(i), r.ys(i))
        if (cfg.bbox.contains(p)) {
          val (x, y) = cfg.xform(p)
          val u = g2.child(new SvgElem("use"))
          u.attr("href", marker)
          val style =
            (if (rotate != 0) s"rotate: ${rotate}deg; " else "") +
              s"translate: ${x}px ${y}px"
          u.attr("style", style)
        }
        i += 1
      }
    }
    g2.render()
  }

  private def pathAttrs(path: SvgElem, layer: LayerDef, osm: Boolean,
                        values: Seq[String]): Unit =
    tagValues(layer, values).foreach { case (tag, value, sint) =>
      if (tag == "osm_id" && sint) path.cls(s"osm-$value")
      else if (osm) path.data(tag, value)
      else path.cls(layer.className(Some(value)))
    }

  /** Wyrm linestring (`closed = false`, linestring.rs:40-58, 81-84) or
    * polygon (`closed = true`, polygon.rs:82-116) feature: one path over
    * the rings whose bbox meets the tile; a polygon ring is connected back
    * to its start and closed. None when no ring's bbox meets the tile. */
  def wyrmPath(layer: LayerDef, osm: Boolean, values: Seq[String],
               rings: Seq[Ring], cfg: TileCfg,
               closed: Boolean): Option[String] = {
    val hit =
      rings.filter(r => r.xs.nonEmpty && ringBBox(r).intersects(cfg.bbox))
    if (hit.isEmpty) return None
    val b = new SvgPathBuilder
    hit.foreach { r =>
      var start = true
      val chain = cfg.pointChain()
      def drainTo(n: Int): Unit =
        while (chain.len > n) chain.popFront().foreach { p =>
          val (x, y) = cfg.xform(p)
          if (start) { b.moveTo(x, y); start = false } else b.lineTo(x, y)
        }
      var i = 0
      while (i < r.xs.length) {
        chain.pushBack(Pt(r.xs(i), r.ys(i)))
        drainTo(2)
        i += 1
      }
      if (closed) chain.connect()
      drainTo(0)
      if (closed && !start) b.close()
    }
    val path = new SvgElem("path")
    pathAttrs(path, layer, osm, values)
    path.attr("d", b.result())
    Some(path.render())
  }
}

package graft.core

import scala.collection.mutable

/** Minimal protobuf writer — just what Mapbox Vector Tile 2.1 needs.
  * Written from the public MVT 2.1 spec + protobuf wire format docs
  * (the reference delegates to the `mvt` crate; see SURVEY.md §2.7 G3-G5).
  *
  * Backed by a plain unsynchronized byte array, NOT ByteArrayOutputStream:
  * its per-byte `write()` is synchronized, and with biased locking gone
  * (JDK 15+) that is an atomic op per emitted byte — ~19% of pyramid task
  * CPU in profiling, plus cross-core memory-ordering traffic.
  */
final class ProtoWriter {
  private var buf = new Array[Byte](256)
  private var len = 0

  private def ensure(n: Int): Unit =
    if (len + n > buf.length) {
      var c = buf.length << 1
      while (c < len + n) c <<= 1
      buf = java.util.Arrays.copyOf(buf, c)
    }

  def writeVarint(v0: Long): Unit = {
    ensure(10)
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      buf(len) = ((v & 0x7F) | 0x80).toByte; len += 1
      v >>>= 7
    }
    buf(len) = (v & 0x7F).toByte; len += 1
  }

  def key(field: Int, wire: Int): Unit = writeVarint((field << 3) | wire)

  def varintField(field: Int, v: Long): Unit = { key(field, 0); writeVarint(v) }

  def bytesField(field: Int, b: Array[Byte]): Unit = {
    key(field, 2); writeVarint(b.length.toLong)
    ensure(b.length)
    System.arraycopy(b, 0, buf, len, b.length)
    len += b.length
  }

  /** Length-delimited field whose body is a SLICE of `b` — the engine
    * assembly path frames geometry straight out of the shuffled payload
    * blob without an intermediate copy. */
  def bytesField(field: Int, b: Array[Byte], off: Int, n: Int): Unit = {
    key(field, 2); writeVarint(n.toLong)
    ensure(n)
    System.arraycopy(b, off, buf, len, n)
    len += n
  }

  /** Length-delimited field whose body is another writer's current
    * content — lets a reusable per-feature writer be framed into the
    * layer writer with one copy and zero `toBytes` allocation. */
  def bytesField(field: Int, o: ProtoWriter): Unit = {
    key(field, 2); writeVarint(o.len.toLong)
    append(o)
  }

  def stringField(field: Int, s: String): Unit =
    bytesField(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Raw concatenation of another writer's content (no framing). */
  def append(o: ProtoWriter): Unit = {
    ensure(o.len)
    System.arraycopy(o.buf, 0, buf, len, o.len)
    len += o.len
  }

  /** Forget the content, keep the backing buffer — reuse across features
    * instead of allocating a fresh writer per feature. */
  def reset(): Unit = len = 0

  def size: Int = len

  /** Backing array (first [[size]] bytes valid) — lets the payload codec
    * copy the content without the [[toBytes]] intermediate allocation. */
  private[graft] def buffer: Array[Byte] = buf

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
}

object ProtoWriter {
  def zigzag32(v: Int): Long = ((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL
  def zigzag64(v: Long): Long = (v << 1) ^ (v >> 63)
}

/** MVT geometry command encoder (semantics mirror the reference's use of
  * `mvt::GeomEncoder` at /root/reference/wyrmcast/src/mvtenc.rs:48-62,
  * 88-114, 140-164; command/param encoding per the public MVT 2.1 spec:
  * command integer = (id & 0x7) | (count << 3), MoveTo=1, LineTo=2,
  * ClosePath=7, params zigzag-delta).
  *
  * Points are clamped into the margin bbox, transformed, and rounded
  * half-away-from-zero — the same clamp-transform-round as TileCfg.xform.
  * Consecutive coincident integer points within a geom are dropped for
  * line/polygon types; degenerate geoms (lines < 2 pts, rings < 3 pts after
  * removing a duplicated closing point) are elided.
  */
final class MvtGeomEncoder(private var geomTp: GeomTp,
                           private var bbox: BBox,
                           private var transform: Affine) {
  // points packed as (x << 32) | (y & 0xFFFFFFFF) — no per-point tuple
  // boxing in the map-side hot path
  private val geoms = mutable.ArrayBuffer.empty[Array[Long]]
  private var current = new Array[Long](8)
  private var curLen = 0

  /** Re-arm for the next feature, keeping the backing buffers — the
    * per-feature constructor was a measured JFR hotspot at pv6 (the
    * encode stage allocates one encoder per (feature, zoom, tile) row). */
  def reset(tp: GeomTp, bb: BBox, tf: Affine): Unit = {
    geomTp = tp; bbox = bb; transform = tf
    geoms.clear(); curLen = 0
  }

  @inline private def pack(x: Int, y: Int): Long =
    (x.toLong << 32) | (y.toLong & 0xFFFFFFFFL)
  @inline private def px(p: Long): Int = (p >> 32).toInt
  @inline private def py(p: Long): Int = p.toInt

  private def push(p: Long): Unit = {
    if (curLen == current.length)
      current = java.util.Arrays.copyOf(current, curLen << 1)
    current(curLen) = p; curLen += 1
  }

  def addPoint(x: Double, y: Double): Unit = {
    val p = transform(bbox.clamp(Pt(x, y)))
    val ip = pack(Geom.rustRound(p.x), Geom.rustRound(p.y))
    geomTp match {
      case GeomTp.Point => push(ip)
      case _ =>
        if (curLen == 0 || current(curLen - 1) != ip) push(ip)
    }
  }

  /** End the current geometry (a gap in a clipped linestring, or a ring
    * boundary). */
  def completeGeom(): Unit = {
    if (curLen > 0) {
      val g: Array[Long] = geomTp match {
        case GeomTp.Point => java.util.Arrays.copyOf(current, curLen)
        case GeomTp.Linestring =>
          if (curLen >= 2) java.util.Arrays.copyOf(current, curLen)
          else Array.empty
        case GeomTp.Polygon =>
          // drop duplicated closing point (rings from OSM closed ways
          // carry first == last); ClosePath implies the closing segment
          val n =
            if (curLen >= 2 && current(0) == current(curLen - 1)) curLen - 1
            else curLen
          if (n >= 3) java.util.Arrays.copyOf(current, n) else Array.empty
      }
      if (g.nonEmpty) geoms += g
      curLen = 0
    }
  }

  def isEmpty: Boolean = geoms.isEmpty && curLen == 0

  // primitive growable command buffer (reused across encode() calls of a
  // reused encoder) — the boxed ArrayBuffer[Long] + generic foreach here
  // were ~9% of serial pyramid CPU in a pv6 JFR profile
  private var cbuf = new Array[Long](32)
  private var clen = 0
  private var lx = 0
  private var ly = 0

  @inline private def cmd(v: Long): Unit = {
    if (clen == cbuf.length)
      cbuf = java.util.Arrays.copyOf(cbuf, clen << 1)
    cbuf(clen) = v; clen += 1
  }

  @inline private def param(p: Long): Unit = {
    val x = px(p); val y = py(p)
    cmd(ProtoWriter.zigzag32(x - lx))
    cmd(ProtoWriter.zigzag32(y - ly))
    lx = x; ly = y
  }

  /** Encode to MVT command/param integers. */
  def encode(): Array[Long] = {
    completeGeom()
    clen = 0; lx = 0; ly = 0
    geomTp match {
      case GeomTp.Point =>
        var n = 0
        var gi = 0
        while (gi < geoms.length) { n += geoms(gi).length; gi += 1 }
        if (n > 0) {
          cmd(1L | (n.toLong << 3)) // MoveTo × n
          gi = 0
          while (gi < geoms.length) {
            val g = geoms(gi)
            var i = 0
            while (i < g.length) { param(g(i)); i += 1 }
            gi += 1
          }
        }
      case GeomTp.Linestring =>
        var gi = 0
        while (gi < geoms.length) {
          val g = geoms(gi)
          cmd(1L | (1L << 3)); param(g(0))
          cmd(2L | ((g.length - 1).toLong << 3))
          var i = 1
          while (i < g.length) { param(g(i)); i += 1 }
          gi += 1
        }
      case GeomTp.Polygon =>
        var gi = 0
        while (gi < geoms.length) {
          val g = geoms(gi)
          cmd(1L | (1L << 3)); param(g(0))
          cmd(2L | ((g.length - 1).toLong << 3))
          var i = 1
          while (i < g.length) { param(g(i)); i += 1 }
          cmd(7L) // ClosePath
          gi += 1
        }
    }
    java.util.Arrays.copyOf(cbuf, clen)
  }
}

/** One encoded MVT feature: geometry commands + tag values. */
final case class MvtFeature(
    geomTp: GeomTp,
    geometry: Array[Long],
    tags: Seq[(String, Either[String, Long])]) // key → string | sint value

/** MVT layer builder with key/value interning (MVT 2.1 layer message).
  * Invalid sint values are warned-and-dropped upstream (reference
  * mvtenc.rs:33-40).
  *
  * Geometry is stored PRE-VARINTED: a packed field of varints is
  * byte-identical to the concatenation of each varint, so the command
  * array can be encoded once map-side and shipped as compact bytes
  * (~1-2 B per command instead of 8 B of Long) — `addFeatureRaw` takes
  * that form directly; `addFeature` converts. */
final class MvtLayer(private var name: String, extent: Int) {
  // Features are encoded INTO `fsec` as they arrive (the dictionaries
  // only need to be complete at encode() time), so the layer never
  // buffers a per-feature tuple/Seq graph — the buffered form was the
  // top CPU consumer in a width-8 JFR profile (Vector.flatMap +
  // VectorBuilder.addAll building a boxed Seq[Long] per feature).
  private val keys = mutable.LinkedHashMap.empty[String, Int]
  // Value dictionary keyed by the RAW value object — String for string
  // values, boxed java.lang.Long for sint values. Class disjointness
  // gives exactly the Left/Right discrimination an Either key gave, but
  // String#hashCode is cached while the Either case-class hash re-mixed
  // the payload on every probe (Statics.anyHash was a measured hotspot).
  private val values = mutable.LinkedHashMap.empty[Any, Int]
  private val fsec = new ProtoWriter // accumulated field-2 feature msgs
  private val fw = new ProtoWriter   // reusable per-feature writer
  private val tw = new ProtoWriter   // reusable packed-tag-index writer
  private var n = 0

  def numFeatures: Int = n

  /** Re-arm as an empty layer builder for `newName`, keeping the backing
    * buffers and dictionary tables — semantically identical to a fresh
    * instance (both dictionaries cleared), but without the per-(tile,
    * layer) allocation that a pv6 JFR profile measured at ~4% of serial
    * assembly CPU. */
  def resetFor(newName: String): Unit = {
    name = newName
    keys.clear()
    values.clear()
    fsec.reset()
    n = 0
  }

  /** Start a feature's tag list (engine streaming path). */
  def beginTags(): Unit = tw.reset()

  /** Intern one (key, value) and append its index pair; `value` must be
    * a String (string tag) or java.lang.Long (sint tag). */
  def addTag(key: String, value: Any): Unit = {
    tw.writeVarint(keys.getOrElseUpdate(key, keys.size).toLong)
    tw.writeVarint(values.getOrElseUpdate(value, values.size).toLong)
  }

  /** Finish a feature whose geometry is a slice of `blob` (pre-varinted
    * field-4 body bytes). Must follow beginTags()/addTag() calls. */
  def endFeature(geomTp: GeomTp, blob: Array[Byte], geomOff: Int,
                 geomLen: Int): Unit = {
    fw.reset()
    fw.bytesField(2, tw)
    fw.varintField(3, geomTp match {
      case GeomTp.Point => 1L
      case GeomTp.Linestring => 2L
      case GeomTp.Polygon => 3L
    })
    fw.bytesField(4, blob, geomOff, geomLen)
    fsec.bytesField(2, fw)
    n += 1
  }

  def addFeature(f: MvtFeature): Unit = if (f.geometry.nonEmpty) {
    val gw = new ProtoWriter
    f.geometry.foreach(gw.writeVarint)
    addFeatureRaw(f.geomTp, gw.toBytes, f.tags)
  }

  /** Pre-varinted geometry payload (field-4 body bytes). */
  def addFeatureRaw(geomTp: GeomTp, geomBytes: Array[Byte],
                    tags: Seq[(String, Either[String, Long])]): Unit =
    if (geomBytes.nonEmpty) {
      beginTags()
      tags.foreach { case (k, v) =>
        addTag(k, v match {
          case Left(s) => s
          case Right(l) => java.lang.Long.valueOf(l)
        })
      }
      endFeature(geomTp, geomBytes, 0, geomBytes.length)
    }

  def encode(): Array[Byte] = {
    val w = new ProtoWriter
    w.stringField(1, name)
    w.append(fsec) // features, already framed as field-2 messages
    keys.keys.foreach(k => w.stringField(3, k))
    values.keys.foreach {
      case s: String =>
        val vw = new ProtoWriter; vw.stringField(1, s)
        w.bytesField(4, vw)
      case i: java.lang.Long =>
        val vw = new ProtoWriter
        vw.varintField(6, ProtoWriter.zigzag64(i.longValue()))
        w.bytesField(4, vw)
      case other =>
        throw new IllegalStateException(
          s"MVT value dictionary holds ${other.getClass}")
    }
    w.varintField(5, extent.toLong)
    w.varintField(15, 2L) // version
    w.toBytes
  }
}

object MvtTile {
  /** Assemble layer payloads into a tile. MVT layers are independent
    * length-delimited protobuf fields, so concatenation of the per-layer
    * field bytes IS a valid tile (SURVEY.md §2.4 A4). */
  def assemble(layerBytes: Seq[Array[Byte]]): Array[Byte] = {
    val w = new ProtoWriter
    layerBytes.foreach(b => w.bytesField(3, b))
    w.toBytes
  }
}

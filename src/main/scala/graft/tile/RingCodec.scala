package graft.tile

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import graft.model.Ring

/** Compact binary codec for a feature's ring list — the pyramid's
  * hot-path representation.
  *
  * Why: the cover join explodes each feature into one row per (zoom,
  * tile), and Spark's Dataset deserializer rebuilds the nested
  * `Seq[Ring(outer, xs, ys)]` object graph for EVERY exploded row. With
  * nullable array elements (what a parquet round trip or relational
  * lineage yields) that is a boxed `Double.valueOf` per coordinate per
  * row — measured at ~11% of all task CPU in a JFR profile of the tile
  * job, plus the matching GC pressure, and it is exactly the
  * latency-bound pointer-chasing that stops scaling when cores share an
  * LLC (ALU and streaming bandwidth both calibrate ≥0.96 efficiency
  * 1→4 on this host; the boxed deserializer does not). Packing the rings
  * into one LITTLE_ENDIAN byte blob ONCE per feature (before the
  * explode) turns the per-row cost into a byte-array copy plus a
  * primitive-array decode: zero boxing, two primitive arrays per ring.
  *
  * The tag values ride in the same blob: the per-row `values: Seq[String]`
  * deserialization was the next UTF8String.getBytes/fromBytes hotspot
  * after the rings (same MapObjects-per-row shape), so the exploded row
  * carries primitives only.
  *
  * Layout: [nVals:i32][per val: len:i32 (-1 = null) + utf8 bytes]
  * [nRings:i32] then per ring [outer:u8][n:i32][xs:f64×n][ys:f64×n]. */
object RingCodec {

  def packFeat(values: Seq[String], rings: Seq[Ring]): Array[Byte] = {
    val utf = values.map(v => if (v == null) null else v.getBytes(UTF_8))
    var bytes = 4 + 4
    utf.foreach(u => bytes += 4 + (if (u == null) 0 else u.length))
    rings.foreach(r => bytes += 5 + 16 * r.xs.length)
    val bb = ByteBuffer.allocate(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(utf.length)
    utf.foreach { u =>
      if (u == null) bb.putInt(-1)
      else { bb.putInt(u.length); bb.put(u) }
    }
    bb.putInt(rings.length)
    rings.foreach { r =>
      bb.put(if (r.outer) 1.toByte else 0.toByte)
      bb.putInt(r.xs.length)
      var i = 0
      while (i < r.xs.length) { bb.putDouble(r.xs(i)); i += 1 }
      i = 0
      while (i < r.ys.length) { bb.putDouble(r.ys(i)); i += 1 }
    }
    bb.array()
  }

  @inline private[tile] def readIntLE(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) |
      ((b(p + 2) & 0xFF) << 16) | ((b(p + 3) & 0xFF) << 24)

  /** (value-record offsets, rings) from a [[packFeat]] blob WITHOUT
    * materializing the value Strings: offset i points at value i's
    * [len:i32-LE][utf8] record (-1 = null value). The MVT encode path
    * reads sint parsability and copies value bytes straight from the
    * blob ([[Encode.mvtTagSlices]], [[PayloadCodec.packRaw]]); the
    * per-row String round trip was ~8% of serial pyramid CPU at pv6. */
  def unpackFeatRaw(b: Array[Byte]): (Array[Int], Array[Ring]) = {
    val nv = readIntLE(b, 0)
    val offs = new Array[Int](nv)
    var p = 4
    var i = 0
    while (i < nv) {
      val len = readIntLE(b, p)
      if (len < 0) { offs(i) = -1; p += 4 }
      else { offs(i) = p; p += 4 + len }
      i += 1
    }
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    bb.position(p)
    val nr = bb.getInt
    val rings = new Array[Ring](nr)
    var r = 0
    while (r < nr) {
      val outer = bb.get() == 1
      val n = bb.getInt
      val xs = new Array[Double](n)
      val ys = new Array[Double](n)
      i = 0
      while (i < n) { xs(i) = bb.getDouble; i += 1 }
      i = 0
      while (i < n) { ys(i) = bb.getDouble; i += 1 }
      rings(r) = Ring(outer, xs, ys)
      r += 1
    }
    (offs, rings)
  }

  /** (tag values with nulls, rings) from a [[packFeat]] blob: the String
    * view over [[unpackFeatRaw]]'s value offsets. */
  def unpackFeat(b: Array[Byte]): (Array[String], Array[Ring]) = {
    val (offs, rings) = unpackFeatRaw(b)
    (offs.map(o =>
      if (o < 0) null else new String(b, o + 4, readIntLE(b, o), UTF_8)),
      rings)
  }
}

package graft.tile

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import RingCodec.readIntLE

/** Binary codec for the SHUFFLED per-feature payload ([[FeatPayload]]'s
  * `blob` column).
  *
  * Why: the payload previously carried `tag_idx: Seq[Int]`,
  * `tag_vals: Seq[String]` and `content: String` as typed columns, and
  * Catalyst's object serializer runs a boxed `MapObjects` loop plus a
  * `String ⇄ UTF8String` conversion for each of them — on BOTH sides of
  * the pyramid's one `groupByKey(tile_id)` exchange. A width-8
  * JFR profile showed the deserializer conversions plus the downstream
  * per-row Seq rebuilds among the top CPU consumers; packing the whole
  * payload into one binary column reduces every (de)serialization to a
  * byte-array copy, the same fix [[RingCodec]] applied to the pre-encode
  * stage (pv4).
  *
  * A payload exists only for a feature the encoder kept for its tile, so
  * the layout carries no found flag.
  *
  * Layout (LITTLE_ENDIAN):
  *   [geomLen:i32][geom bytes]                      — pre-varinted MVT
  *                                                    commands; empty for
  *                                                    wyrm
  *   [nTags:i32][(idx:i32, valLen:i32, utf8)...]    — include-pattern
  *                                                    index + value; none
  *                                                    for wyrm
  *   [contentLen:i32][utf8]                         — wyrm SVG fragment;
  *                                                    empty for MVT
  */
object PayloadCodec {

  /** MVT payload from RAW pieces — geometry straight out of a reusable
    * [[graft.core.ProtoWriter]]'s backing buffer and tag values copied as
    * byte slices from the [[RingCodec.packFeat]] blob (offsets from
    * [[Encode.mvtTagSlices]]) — no String materialization and no
    * intermediate `toBytes` copy. Both value records are
    * [len:i32-LE][utf8], so each copies verbatim. */
  def packRaw(geomBuf: Array[Byte], geomLen: Int, tagIdx: Array[Int],
              tagOff: Array[Int], srcBlob: Array[Byte]): Array[Byte] = {
    val nTags = tagIdx.length
    var bytes = 4 + geomLen + 4 + 4
    var i = 0
    while (i < nTags) {
      bytes += 8 + readIntLE(srcBlob, tagOff(i))
      i += 1
    }
    val bb = ByteBuffer.allocate(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(geomLen)
    bb.put(geomBuf, 0, geomLen)
    bb.putInt(nTags)
    i = 0
    while (i < nTags) {
      bb.putInt(tagIdx(i))
      bb.put(srcBlob, tagOff(i), 4 + readIntLE(srcBlob, tagOff(i)))
      i += 1
    }
    bb.putInt(0) // no wyrm content on the MVT path
    bb.array()
  }

  /** Wyrm payload: the rendered SVG fragment only. */
  def packWyrm(content: String): Array[Byte] = {
    val utf = content.getBytes(UTF_8)
    val bb = ByteBuffer.allocate(12 + utf.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0) // no geometry
    bb.putInt(0) // no tags
    bb.putInt(utf.length)
    bb.put(utf)
    bb.array()
  }

  private val NoTags = new Array[Int](0)

  /** Zero-copy reader over a packed payload. Tag values and content are
    * decoded on demand (each is read exactly once during assembly). */
  final class View(b: Array[Byte]) {
    val geomLen: Int = readIntLE(b, 0)
    val geomOff: Int = 4
    val nTags: Int = readIntLE(b, geomOff + geomLen)
    // per-tag record offsets (records are variable length)
    private val tagOff: Array[Int] =
      if (nTags == 0) NoTags
      else {
        val o = new Array[Int](nTags)
        var p = geomOff + geomLen + 4
        var i = 0
        while (i < nTags) {
          o(i) = p
          p += 8 + readIntLE(b, p + 4)
          i += 1
        }
        o
      }
    private def afterTags: Int =
      if (nTags == 0) geomOff + geomLen + 4
      else {
        val last = tagOff(nTags - 1)
        last + 8 + readIntLE(b, last + 4)
      }

    def tagIdx(i: Int): Int = readIntLE(b, tagOff(i))
    def tagVal(i: Int): String = {
      val off = tagOff(i)
      new String(b, off + 8, readIntLE(b, off + 4), UTF_8)
    }
    def content: String = {
      val p = afterTags
      val n = readIntLE(b, p)
      if (n == 0) "" else new String(b, p + 4, n, UTF_8)
    }
  }
}

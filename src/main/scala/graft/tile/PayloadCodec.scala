package graft.tile

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

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
  * Layout (LITTLE_ENDIAN):
  *   [found:u8]
  *   [geomLen:i32][geom bytes]                      — pre-varinted MVT
  *                                                    commands; empty for
  *                                                    wyrm
  *   [nTags:i32][(idx:i32, valLen:i32, utf8)...]    — include-pattern
  *                                                    index + value
  *   [contentLen:i32][utf8]                         — wyrm SVG fragment;
  *                                                    empty for MVT
  */
object PayloadCodec {

  def pack(found: Boolean, geom: Array[Byte], tagIdx: Array[Int],
           tagVals: Array[String], content: String): Array[Byte] = {
    val nTags = tagIdx.length
    val valUtf = new Array[Array[Byte]](nTags)
    var bytes = 1 + 4 + geom.length + 4 + 4
    var i = 0
    while (i < nTags) {
      val u = tagVals(i).getBytes(UTF_8)
      valUtf(i) = u
      bytes += 8 + u.length
      i += 1
    }
    val contentUtf =
      if (content.isEmpty) null else content.getBytes(UTF_8)
    if (contentUtf != null) bytes += contentUtf.length
    val bb = ByteBuffer.allocate(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(if (found) 1.toByte else 0.toByte)
    bb.putInt(geom.length)
    bb.put(geom)
    bb.putInt(nTags)
    i = 0
    while (i < nTags) {
      bb.putInt(tagIdx(i))
      bb.putInt(valUtf(i).length)
      bb.put(valUtf(i))
      i += 1
    }
    if (contentUtf == null) bb.putInt(0)
    else { bb.putInt(contentUtf.length); bb.put(contentUtf) }
    bb.array()
  }

  /** MVT payload from RAW pieces — geometry straight out of a reusable
    * [[graft.core.ProtoWriter]]'s backing buffer and tag values copied as
    * byte slices from the [[RingCodec.packFeat]] blob (offsets from
    * [[Encode.mvtTagSlices]]) — no String materialization and no
    * intermediate `toBytes` copy. Byte-identical to [[pack]] on the same
    * logical content: both value records are [len:i32-LE][utf8]. */
  def packRaw(found: Boolean, geomBuf: Array[Byte], geomLen: Int,
              tagIdx: Array[Int], tagOff: Array[Int],
              srcBlob: Array[Byte]): Array[Byte] = {
    val nTags = tagIdx.length
    var bytes = 1 + 4 + geomLen + 4 + 4
    var i = 0
    while (i < nTags) {
      bytes += 8 + RingCodec.readIntLE(srcBlob, tagOff(i))
      i += 1
    }
    val bb = ByteBuffer.allocate(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(if (found) 1.toByte else 0.toByte)
    bb.putInt(geomLen)
    bb.put(geomBuf, 0, geomLen)
    bb.putInt(nTags)
    i = 0
    while (i < nTags) {
      bb.putInt(tagIdx(i))
      // the [len:i32-LE][utf8] record copies verbatim
      bb.put(srcBlob, tagOff(i), 4 + RingCodec.readIntLE(srcBlob, tagOff(i)))
      i += 1
    }
    bb.putInt(0) // no wyrm content on the MVT path
    bb.array()
  }

  private val NoTags = new Array[Int](0)
  private val NoVals = new Array[String](0)

  /** Wyrm payload: rendered SVG fragment + found flag only. */
  def packWyrm(found: Boolean, content: String): Array[Byte] =
    pack(found, Array.emptyByteArray, NoTags, NoVals, content)

  /** Zero-copy reader over a packed payload. Tag values and content are
    * decoded on demand (each is read exactly once during assembly). */
  final class View(b: Array[Byte]) {
    val found: Boolean = b(0) == 1
    val geomLen: Int = readInt(1)
    val geomOff: Int = 5
    val nTags: Int = readInt(geomOff + geomLen)
    // per-tag record offsets (records are variable length)
    private val tagOff: Array[Int] =
      if (nTags == 0) NoTags
      else {
        val o = new Array[Int](nTags)
        var p = geomOff + geomLen + 4
        var i = 0
        while (i < nTags) {
          o(i) = p
          p += 8 + readInt(p + 4)
          i += 1
        }
        o
      }
    private def afterTags: Int =
      if (nTags == 0) geomOff + geomLen + 4
      else {
        val last = tagOff(nTags - 1)
        last + 8 + readInt(last + 4)
      }

    def tagIdx(i: Int): Int = readInt(tagOff(i))
    def tagVal(i: Int): String = {
      val off = tagOff(i)
      new String(b, off + 8, readInt(off + 4), UTF_8)
    }
    def content: String = {
      val p = afterTags
      val n = readInt(p)
      if (n == 0) "" else new String(b, p + 4, n, UTF_8)
    }

    private def readInt(p: Int): Int =
      (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) |
        ((b(p + 2) & 0xFF) << 16) | ((b(p + 3) & 0xFF) << 24)
  }
}

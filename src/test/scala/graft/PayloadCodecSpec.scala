package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Ring
import graft.tile.{PayloadCodec, RingCodec}

/** The shuffled payload and the per-feature blob read back what was
  * written — no Spark session. */
class PayloadCodecSpec extends AnyFunSuite {
  private val values = Seq("12", null, "héllo", "")
  private val rings = Seq(
    Ring(outer = true, Array(1.0, 2.5, -3.0), Array(4.0, 5.0, 6.25)),
    Ring(outer = false, Array(0.5), Array(-0.5)))
  private val feat = RingCodec.packFeat(values, rings)

  private def sameRings(a: Seq[Ring], b: Seq[Ring]): Boolean =
    a.length == b.length && a.zip(b).forall { case (r, s) =>
      r.outer == s.outer && r.xs.sameElements(s.xs) &&
        r.ys.sameElements(s.ys)
    }

  test("packFeat: raw offsets and the String view agree with the input") {
    val (offs, rawRings) = RingCodec.unpackFeatRaw(feat)
    assert(offs.length == 4 && offs(1) == -1 && offs.count(_ >= 0) == 3)
    val (vals, viewRings) = RingCodec.unpackFeat(feat)
    assert(vals.toSeq == values)
    assert(sameRings(rawRings.toSeq, rings) && sameRings(viewRings.toSeq, rings))
  }

  test("packRaw: the View reads back geometry slice, tag indices and values") {
    val (offs, _) = RingCodec.unpackFeatRaw(feat)
    // a reused writer buffer: only the first geomLen bytes are geometry
    val geomBuf = Array[Byte](9, 8, 7, 6, 5, 0, 0, 0)
    val tagIdx = Array(0, 2, 3)
    val blob = PayloadCodec.packRaw(geomBuf, 5, tagIdx,
      Array(offs(0), offs(2), offs(3)), feat)
    val v = new PayloadCodec.View(blob)
    assert(v.geomLen == 5)
    assert(blob.slice(v.geomOff, v.geomOff + v.geomLen)
      .sameElements(geomBuf.take(5)))
    assert(v.nTags == 3)
    assert((0 until v.nTags).map(v.tagIdx) == tagIdx.toSeq)
    assert((0 until v.nTags).map(v.tagVal) == Seq("12", "héllo", ""))
    assert(v.content == "")
  }

  test("packRaw with no tags") {
    val v = new PayloadCodec.View(PayloadCodec.packRaw(Array[Byte](3, 1),
      2, Array.empty, Array.empty, feat))
    assert(v.geomLen == 2 && v.nTags == 0 && v.content == "")
  }

  test("packWyrm: the View reads back the content, no geometry or tags") {
    Seq("""<path class="osm-7" d="m1 2h3z"/>""", "ü€", "").foreach { c =>
      val v = new PayloadCodec.View(PayloadCodec.packWyrm(c))
      assert(v.geomLen == 0 && v.nTags == 0)
      assert(v.content == c)
    }
  }
}

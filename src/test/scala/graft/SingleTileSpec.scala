package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BBox, EngineCfg, TileGrid, TileId}
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.model.Feature
import graft.tile.Pyramid

/** Byte parity of the single-tile render (`Pyramid.tile`) with the
  * pyramid (`Pyramid.tiles`) over the micro corpus. z12 gates `building`
  * (15+) out and z15 gates `county` (4-14) out, so the driver-side zoom
  * gate is exercised at both zooms. */
class SingleTileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val cfg = EngineCfg.default
  private val group = cfg.groups.find(_.name == "tile").get
  private val zooms = Seq(12, 15)

  private lazy val feats = {
    import spark.implicits._
    Dig.features(spark, Extract.entities(
      spark.createDataset(CorpusGen.microDocs()).toDF()), cfg).cache()
  }
  private lazy val local: Seq[Feature] = feats.collect().toSeq

  private def active(f: Feature, z: Int) =
    group.layers.exists(l => l.name == f.layer && l.checkZoom(z))

  private def render(fmt: String, t: TileId): Seq[Array[Byte]] =
    Pyramid.tile(spark, feats, cfg, "tile", fmt, t.z, t.x, t.y)
      .collect().toSeq.map(_.bytes)

  private def cover(f: Feature, fmt: String, z: Int): Seq[TileId] =
    TileGrid.cover(z, BBox(f.xmin, f.ymin, f.xmax, f.ymax), cfg.tileExtent,
      Pyramid.marginFor(fmt, z)).toSeq.map(TileId.unpack)

  test("each zoom gates at least one micro-corpus layer out") {
    zooms.foreach(z => assert(local.exists(!active(_, z)), s"z$z"))
  }

  for (fmt <- Seq("mvt", "wyrm"); z <- zooms) {
    test(s"Pyramid.tile ≡ Pyramid.tiles byte-for-byte ($fmt z$z)") {
      val pyramid = Pyramid.tiles(spark, feats, cfg, "tile", fmt, z, z)
        .collect()
      assert(pyramid.nonEmpty)
      pyramid.foreach { r =>
        val got = render(fmt, TileId(r.z, r.x, r.y))
        assert(got.length == 1, s"$fmt ${r.z}/${r.x}/${r.y}")
        assert(got.head.sameElements(r.bytes), s"$fmt ${r.z}/${r.x}/${r.y}")
      }
    }

    test(s"Pyramid.tile is empty for a tile no feature covers ($fmt z$z)") {
      assert(render(fmt, TileId(z, 0, 0)).isEmpty)
    }
  }

  // county (4-14) is gated out from z15 on; its tiles beyond the other
  // layers' reach then hold only gated-out features (at z12 the gated
  // buildings sit inside the county). The first zoom from z15 up with such
  // tiles depends on the format's margin.
  for (fmt <- Seq("mvt", "wyrm")) {
    test(s"Pyramid.tile is empty for a gated-only tile ($fmt)") {
      val gatedOnly = (15 to 17).iterator.map { z =>
        val (on, off) = local.partition(active(_, z))
        off.flatMap(cover(_, fmt, z)).toSet -- on.flatMap(cover(_, fmt, z))
      }.find(_.nonEmpty)
      assert(gatedOnly.nonEmpty, s"no gated-only tile at $fmt z15-17")
      gatedOnly.get.toSeq.sortBy(_.packed).take(3).foreach { t =>
        assert(render(fmt, t).isEmpty, s"$fmt $t")
      }
    }
  }
}

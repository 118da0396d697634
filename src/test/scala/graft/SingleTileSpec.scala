package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BBox, EngineCfg, TileGrid, TileId}
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.model.{Feature, Ring}
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

  test("Pyramid.tile over a fresh dig runs one job of defaultParallelism tasks") {
    import spark.implicits._
    val fresh = Dig.features(spark, Extract.entities(
      spark.createDataset(CorpusGen.microDocs()).toDF()), cfg)
    val want = Pyramid.tiles(spark, fresh, cfg, "tile", "mvt", 12, 12)
      .collect().minBy(r => TileId.pack(r.z, r.x, r.y))
    val (got, jobs) = SparkJobs.recorded(spark, "single-tile-tasks") {
      Pyramid.tile(spark, fresh, cfg, "tile", "mvt", want.z, want.x, want.y)
        .collect()
    }
    assert(jobs.map(_.tasks) == Seq(spark.sparkContext.defaultParallelism),
      jobs.mkString(", "))
    assert(got.length == 1 && got.head.bytes.sameElements(want.bytes))
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

  // Synthetic features on a 3×3 block of z12 tiles whose bboxes cover
  // the whole block while their rings and segments reach only some of
  // it: a lake with one rectangle ring in the block's top-left tile and
  // one in its bottom-right tile, and a motorway drawn as an L of two
  // lines, along the top row and down the right column. Each ring keeps
  // 30% of a tile clear of its tile's edges, beyond either format's
  // margin, so the other four tiles hold no drawable geometry.
  private val z0 = 12
  private val (x0, y0) = (1000, 1500)
  private def at(i: Int, j: Int, fx: Double, fy: Double): (Double, Double) = {
    val b = TileGrid.tileBBox(z0, x0 + i, y0 + j)
    (b.xmin + fx * (b.xmax - b.xmin), b.ymax - fy * (b.ymax - b.ymin))
  }
  private def ring(pts: Seq[(Double, Double)]) =
    Ring(outer = true, pts.map(_._1).toArray, pts.map(_._2).toArray)
  private def rect(i: Int, j: Int) = {
    val c = Seq((0.3, 0.3), (0.7, 0.3), (0.7, 0.7), (0.3, 0.7), (0.3, 0.3))
    ring(c.map { case (fx, fy) => at(i, j, fx, fy) })
  }
  private def feature(layer: String, id: Long, values: Seq[String],
                      rings: Seq[Ring]) = {
    val xs = rings.flatMap(_.xs); val ys = rings.flatMap(_.ys)
    Feature(layer, 0, id, values, rings, xs.min, ys.min, xs.max, ys.max)
  }
  private val synthetic = Seq(
    feature("lake", 1L, Seq("1", "Two Pools"), Seq(rect(0, 0), rect(2, 2))),
    feature("motorway", 2L, Seq("2", "Ell", "I 1"), Seq(
      ring(Seq(at(0, 0, 0.5, 0.5), at(2, 0, 0.5, 0.5))),
      ring(Seq(at(2, 0, 0.5, 0.5), at(2, 2, 0.5, 0.5))))))
  private val unreached =
    Seq((0, 1), (0, 2), (1, 1), (1, 2)).map { case (i, j) =>
      TileId(z0, x0 + i, y0 + j) }

  for (fmt <- Seq("mvt", "wyrm")) {
    test(s"covered tiles that no ring or segment reaches are not emitted ($fmt)") {
      import spark.implicits._
      val ds = spark.createDataset(synthetic)
      val covered = synthetic.flatMap(cover(_, fmt, z0)).toSet
      assert(unreached.forall(covered.contains))
      val pyramid = Pyramid.tiles(spark, ds, cfg, "tile", fmt, z0, z0)
        .collect()
      val emitted = pyramid.map(r => TileId(r.z, r.x, r.y)).toSet
      assert(emitted == covered -- unreached)
      unreached.foreach { t =>
        assert(!emitted.contains(t), s"$fmt $t")
        assert(Pyramid.tile(spark, ds, cfg, "tile", fmt, t.z, t.x, t.y)
          .collect().isEmpty, s"$fmt $t")
        assert(Oracle.tileBytes(synthetic, cfg, group, fmt, t).isEmpty)
      }
      pyramid.foreach { r =>
        val t = TileId(r.z, r.x, r.y)
        val want = Oracle.tileBytes(synthetic, cfg, group, fmt, t)
        assert(want.exists(_.sameElements(r.bytes)), s"$fmt $t")
      }
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.dig.Dig
import graft.expr.GeoFunctions
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.model.{Feature, Ring}
import graft.tile.{Pyramid, RingCodec}

/** `Pyramid.coverJoin`, the pyramid's typed per-feature cover pass: its
  * rows equal, as a multiset, those of the Column form it replaced (kept
  * here as the reference), its plan holds no join and no broadcast, and
  * one noop `Pyramid.tiles` pass runs a pinned number of jobs. */
class CoverJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val cfg = EngineCfg.default
  private val tileGroup = cfg.groups.find(_.name == "tile").get

  private lazy val micro: Dataset[Feature] = {
    import spark.implicits._
    Dig.features(spark, Extract.entities(
      spark.createDataset(CorpusGen.microDocs()).toDF()), cfg)
  }

  /** The Column form of `coverJoin` before its typed rewrite: a broadcast
    * join against a layer-meta frame, a `sequence` zoom explode and a
    * `tileCover` kernel explode. */
  private def columnCover(features: Dataset[Feature], group: LayerGroup,
                          extent: Int, fmt: String, zMin: Int,
                          zMax: Int): DataFrame = {
    import spark.implicits._
    val meta = group.layers.zipWithIndex
      .map { case (l, rank) => (l.name, rank, l.zoom.zmin, l.zoom.zmax) }
      .toDF("layer", "layer_rank", "zmin", "zmax")
    val marginCol =
      if (fmt == "wyrm") lit(TileGrid.WyrmMargin)
      else Pyramid.mvtMarginCol($"z")
    features
      .map(f => (f.layer, f.kind_rank, f.id,
        RingCodec.packFeat(f.values, f.rings),
        f.xmin, f.ymin, f.xmax, f.ymax))
      .toDF("layer", "kind_rank", "id", "packed",
        "xmin", "ymin", "xmax", "ymax")
      .join(broadcast(meta), Seq("layer"))
      .where($"zmin" <= zMax && $"zmax" >= zMin)
      .withColumn("z",
        explode(sequence(greatest($"zmin", lit(zMin)),
          least($"zmax", lit(zMax)))))
      .withColumn("tile_id",
        explode(GeoFunctions.tileCover($"z", $"xmin", $"ymin", $"xmax",
          $"ymax", marginCol, lit(extent))))
      .select($"tile_id", $"layer_rank", $"kind_rank", $"id", $"packed")
  }

  private type Key = (Long, Int, Int, Long, Seq[Byte])

  private def multiset(df: DataFrame): Map[Key, Int] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
      r.getLong(3), r.getAs[Array[Byte]](4).toSeq))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private def assertSameRows(features: Dataset[Feature], group: LayerGroup,
                             fmt: String, zMin: Int, zMax: Int): Unit = {
    val want = multiset(columnCover(features, group, cfg.tileExtent, fmt,
      zMin, zMax))
    val got = multiset(Pyramid.coverJoin(spark, features, group,
      cfg.tileExtent, fmt, zMin, zMax).toDF())
    assert(want.nonEmpty)
    assert(got.values.sum == want.values.sum, s"$fmt z$zMin-$zMax rows")
    assert(got == want, s"$fmt z$zMin-$zMax")
  }

  test("coverJoin rows == the Column form (micro, mvt z0-16, wyrm z0-12)") {
    assertSameRows(micro, tileGroup, "mvt", 0, 16)
    assertSameRows(micro, tileGroup, "wyrm", 0, 12)
  }

  // `a` sits at ranks 0 and 2 with different zoom ranges, `b` is active
  // at no zoom of [0, 8], `zzz` is in no layer, and the empty-ring
  // feature carries the inverted bbox the dig gives it
  test("coverJoin rows == the Column form (repeated, inactive, empty)") {
    import spark.implicits._
    def layer(name: String, z0: Int, z1: Int) =
      LayerDef(name, GeomTp.Point, ZoomRange(z0, z1), Vector.empty)
    val group = LayerGroup("hand", osm = true, Vector(layer("a", 2, 4),
      layer("b", 20, 30), layer("a", 3, 8), layer("c", 0, 30)))
    val t = TileGrid.tileBBox(8, 100, 90)
    def feat(name: String, id: Long, b: BBox) =
      Feature(name, 0, id, Seq(s"v$id"),
        Seq(Ring(outer = true, Array(b.xmin), Array(b.ymin))),
        b.xmin, b.ymin, b.xmax, b.ymax)
    val feats = Seq(
      feat("a", 1, t), feat("b", 2, t), feat("c", 3, t), feat("zzz", 4, t),
      feat("a", 5, BBox(t.xmin, t.ymin, t.xmin, t.ymin)),
      Feature("c", 1, 6, Seq("v6"), Seq.empty, Double.MaxValue,
        Double.MaxValue, -Double.MaxValue, -Double.MaxValue))
    val ds = spark.createDataset(feats)
    for (fmt <- Seq("mvt", "wyrm")) {
      assertSameRows(ds, group, fmt, 0, 8)
      assertSameRows(ds, group, fmt, 3, 3)
    }
    assert(Pyramid.coverJoin(spark, ds, group, cfg.tileExtent, "mvt", 0, 8)
      .collect().forall(r => r.id != 6 && r.layer_rank != 1))
  }

  test("coverJoin's executed plan holds no join and no broadcast") {
    val plan = Pyramid.coverJoin(spark, micro, tileGroup, cfg.tileExtent,
      "mvt", 0, 14).queryExecution.executedPlan
    val found = collect(plan) {
      case j: BaseJoinExec => j
      case b: BroadcastExchangeLike => b
    }
    assert(found.isEmpty, plan.toString)
  }

  test("one noop Pyramid.tiles pass runs 2 jobs") {
    val feats = micro // dig outside the counted block
    val (_, jobs) = SparkJobs.counted(spark, "pyramid-noop") {
      Pyramid.tiles(spark, feats, cfg, "tile", "mvt", 0, 14)
        .write.format("noop").mode("overwrite").save()
    }
    assert(jobs == 2)
  }
}

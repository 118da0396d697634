package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.expr.GeoFunctions
import graft.model.Feature

/** Read-side operators over the feature table. */
object Query {

  /** Point query (reference `wyrmcast query lat lon`, main.rs:152-162 +
    * geom.rs:63-136): degenerate bbox vs every layer of every group, no
    * zoom gate; prints matched tag values. Output rows:
    * (group, layer, kind_rank, id, tag, value) in deterministic order. */
  def pointQuery(spark: SparkSession, features: Dataset[Feature],
                 cfg: EngineCfg, lat: Double, lon: Double): DataFrame = {
    import spark.implicits._
    val p = Mercator.project(lon, lat)
    val layers = cfg.groups.flatMap(g => g.layers.map(l => (g.name, l)))
    val meta = layers.map { case (g, l) => (g, l.name) }
      .toDF("group", "layer")
    val tagMeta = layers.flatMap { case (_, l) =>
      l.includeTags.zipWithIndex.map { case ((t, sint), i) =>
        (l.name, i, t, sint)
      }
    }.toDF("layer", "tag_pos", "tag", "sint")
    features
      .where(lit(p.x) >= $"xmin" && lit(p.x) <= $"xmax" &&
        lit(p.y) >= $"ymin" && lit(p.y) <= $"ymax")
      .join(broadcast(meta), Seq("layer"))
      .select($"group", $"layer", $"kind_rank", $"id",
        posexplode($"values").as(Seq("tag_pos", "value")))
      .where($"value".isNotNull) // tag_values drops nulls (layer.rs:358-360)
      .join(broadcast(tagMeta), Seq("layer", "tag_pos"))
      .select($"group", $"layer", $"kind_rank", $"id", $"tag", $"value")
      .orderBy($"group", $"layer", $"kind_rank", $"id", $"tag")
  }

  /** True point-in-polygon hit query (north-rule extension beyond the
    * reference's bbox-only test): polygon features containing the point. */
  def pipQuery(spark: SparkSession, features: Dataset[Feature],
               cfg: EngineCfg, lat: Double, lon: Double): DataFrame = {
    import spark.implicits._
    val p = Mercator.project(lon, lat)
    val polyLayers = cfg.groups.flatMap(_.layers)
      .filter(_.geomTp == GeomTp.Polygon).map(_.name)
    features
      .where($"layer".isin(polyLayers: _*))
      .where(lit(p.x) >= $"xmin" && lit(p.x) <= $"xmax" &&
        lit(p.y) >= $"ymin" && lit(p.y) <= $"ymax") // bbox prune first
      .where(GeoFunctions.pointInPolygon($"rings", lit(p.x), lit(p.y)))
      .select($"layer", $"kind_rank", $"id")
      .orderBy($"layer", $"kind_rank", $"id")
  }

  /** Single-tile lookup over a materialized tile table — the batch analog
    * of the reference's `GET /{group}/{z}/{x}/{tail}` route
    * (main.rs:215-303): parse the path, filter the pyramid output; empty
    * result ≡ the 404 path. */
  def lookupTile(tiles: DataFrame, path: String): DataFrame =
    graft.core.ZxyPath.parse(path) match {
      case Some((group, t, ext)) =>
        tiles.where(col("group") === group && col("fmt") === ext &&
          col("z") === t.z && col("x") === t.x && col("y") === t.y)
      case None => tiles.where(lit(false)) // malformed → 404
    }

  /** Packed cell of a point at zoom z (single cell, pure floor — the
    * degenerate non-margin cover). */
  def pointCell(z: Int, x: Column, y: Column): Column = {
    val (tx, ty) = cellXY(z, x, y)
    (lit(z.toLong) * lit(1L << 58) + tx.cast("long") * lit(1L << 29) +
      ty.cast("long"))
  }

  /** Grid cell `(tx, ty)` of a point at zoom z: floor of the point's
    * offset from the world's top-left corner, clamped into the grid. */
  private def cellXY(z: Int, x: Column, y: Column): (Column, Column) = {
    val span = TileGrid.tileSpan(z)
    val n = (1 << z) - 1
    val tx = least(lit(n), greatest(lit(0),
      floor((x + lit(Mercator.HalfWorld)) / lit(span)).cast("int")))
    val ty = least(lit(n), greatest(lit(0),
      floor((lit(Mercator.HalfWorld) - y) / lit(span)).cast("int")))
    (tx, ty)
  }

  /** Grid kNN join (SURVEY.md §2.3 J6; the reference has no kNN — this is
    * the north-rule extension, after the per-cell counts of Distributed
    * Stream KNN Join and the per-partition boxes of SpatialHadoop, both
    * in PAPERS.md). Serves `SparkEntry`'s `knn_join` (z = 4) and the
    * OpsSpec kNN tests.
    *
    * `queries`: (qid, x, y); `data`: (did, x, y). Returns for each query
    * its k nearest data points as (qid, rank, did, d2), ties broken by
    * data id.
    *
    * One lazy plan. Points and queries are grouped by grid cell into a
    * count and an x/y box. For each (query cell, data cell) pair, `far`
    * and `near` are the largest and smallest squared distance between the
    * two boxes, in the same `(a-b)*(a-b) + (c-d)*(c-d)` shape as `d2`.
    * A query cell's bound `dk` is the smallest `far` whose running point
    * count, in `far` order, reaches k; the data cells with `near <= dk`
    * are the only ones searched (all of them when the data holds fewer
    * than k points). The bound is exact: every point lies in its cell's
    * box, whatever the clamping does to points beyond the world edge, and
    * IEEE rounding is monotone, so each computed `d2` lies within its
    * pair's `[near, far]`. Hence every query has k points at `d2 <= dk`,
    * and no point at `d2 > dk` can rank in its top k. The pair table holds
    * (occupied query cells × occupied data cells) rows, at most 4^z per
    * side; it is broadcast into one candidate join.
    */
  def knnJoin(spark: SparkSession, queries: DataFrame, data: DataFrame,
              k: Int, z: Int): DataFrame = {
    import spark.implicits._
    val (cx, cy) = cellXY(z, $"x", $"y")
    val q = queries.select($"qid", $"x".as("qx"), $"y".as("qy"),
      cx.as("qcx"), cy.as("qcy"))
    val d = data.select($"did", $"x", $"y", cx.as("cx"), cy.as("cy"))
    val qCells = q.groupBy($"qcx", $"qcy").agg(
      min($"qx").as("qx0"), max($"qx").as("qx1"),
      min($"qy").as("qy0"), max($"qy").as("qy1"))
    val dCells = d.groupBy($"cx", $"cy").agg(count(lit(1)).as("n"),
      min($"x").as("x0"), max($"x").as("x1"),
      min($"y").as("y0"), max($"y").as("y1"))
    val fx = greatest($"qx1" - $"x0", $"x1" - $"qx0")
    val fy = greatest($"qy1" - $"y0", $"y1" - $"qy0")
    val nx = greatest(lit(0.0), $"x0" - $"qx1", $"qx0" - $"x1")
    val ny = greatest(lit(0.0), $"y0" - $"qy1", $"qy0" - $"y1")
    val byQCell = Window.partitionBy($"qcx", $"qcy")
    // a row frame orders tied `far`s arbitrarily, but the smallest `far`
    // whose running count reaches k is the same in any order
    val pairs = qCells.crossJoin(dCells)
      .select($"qcx", $"qcy", $"cx", $"cy", $"n",
        (fx * fx + fy * fy).as("far"), (nx * nx + ny * ny).as("near"))
      .withColumn("reach", sum($"n").over(byQCell.orderBy($"far")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dk", min(when($"reach" >= k, $"far")).over(byQCell))
      .where($"dk".isNull || $"near" <= $"dk")
      .select($"qcx", $"qcy", $"cx", $"cy")
    val w = Window.partitionBy($"qid").orderBy($"d2", $"did")
    q.join(broadcast(pairs), Seq("qcx", "qcy"))
      .join(d, Seq("cx", "cy"))
      .select($"qid", $"did",
        (($"qx" - $"x") * ($"qx" - $"x") +
          ($"qy" - $"y") * ($"qy" - $"y")).as("d2"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"qid", $"rank", $"did", $"d2")
  }
}

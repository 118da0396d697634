package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{BBox, TileGrid}

/** Static helpers the generated (Java) code calls — Scala object static
  * forwarders make these reachable as `graft.expr.ExprHelpers.m(...)`. */
object ExprHelpers {
  def coverArray(z: Int, xmin: Double, ymin: Double, xmax: Double,
                 ymax: Double, margin: Int, extent: Int): ArrayData =
    new GenericArrayData(
      TileGrid.cover(z, BBox(xmin, ymin, xmax, ymax), extent, margin))

  /** Even-odd ray cast over all rings (outer + holes) of a polygon
    * (SURVEY.md §2.3 J5 — an extension beyond the reference's bbox-only
    * point query). Rings: array<struct<outer:bool, xs:array<double>,
    * ys:array<double>>>. */
  def pointInPolygon(rings: ArrayData, px: Double, py: Double): Boolean = {
    var inside = false
    var r = 0
    val nr = rings.numElements()
    while (r < nr) {
      val ring = rings.getStruct(r, 3)
      val xs = ring.getArray(1)
      val ys = ring.getArray(2)
      val n = xs.numElements()
      if (n >= 2) {
        // stored rings repeat the first point at the end; iterate segments
        var i = 0
        while (i < n - 1) {
          val x0 = xs.getDouble(i); val y0 = ys.getDouble(i)
          val x1 = xs.getDouble(i + 1); val y1 = ys.getDouble(i + 1)
          if ((y0 > py) != (y1 > py) &&
              px < (x1 - x0) * (py - y0) / (y1 - y0) + x0)
            inside = !inside
          i += 1
        }
        // defensive wrap for unclosed rings
        val xl = xs.getDouble(n - 1); val yl = ys.getDouble(n - 1)
        val xf = xs.getDouble(0); val yf = ys.getDouble(0)
        if (!(xl == xf && yl == yf)) {
          if ((yl > py) != (yf > py) &&
              px < (xf - xl) * (py - yl) / (yf - yl) + xl)
            inside = !inside
        }
      }
      r += 1
    }
    inside
  }
}

/** A kernel call: the static method `name` of the Scala object `helpers`
  * through Spark's `StaticInvoke`, which whole-stage codegen compiles to
  * one static call per row and which the interpreted path evaluates by
  * reflection. The analyzer casts each argument to its declared type
  * (an `array<float>` column to `array<double>`, exactly). A null
  * argument nulls the result, except that with `propagateNull = false` a
  * null array or object reaches the helper as `null` (a null primitive
  * still nulls the result). */
private[graft] object Kernel {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  def call(helpers: AnyRef, name: String, dataType: DataType,
           args: Seq[(Column, DataType)],
           propagateNull: Boolean = true,
           returnNullable: Boolean = true): Column =
    column(StaticInvoke(helpers.getClass, dataType, name,
      args.map(a => expression(a._1)), args.map(_._2),
      propagateNull = propagateNull, returnNullable = returnNullable))

  /** A constant (a centroid or plane matrix) passed to the helper as is:
    * an `ObjectType` literal the task binary carries. */
  def constant(value: AnyRef): (Column, DataType) = {
    val t = ObjectType(value.getClass)
    column(Literal(value, t)) -> t
  }
}

/** Column-API surface for the engine's geo functions. */
object GeoFunctions {
  import graft.core.Mercator.R

  /** WGS84 → Web Mercator, composed from built-ins (codegen'd, bit-identical
    * to graft.core.Mercator.project which uses java.lang.Math). */
  def mercX(lon: Column): Column = lit(R) * radians(lon)
  def mercY(lat: Column): Column =
    lit(R) * log(tan(lit(math.Pi / 4.0) + radians(lat) / lit(2.0)))

  /** Batched tile-cell cover (the "H3/S2 cell encode" of the north
    * rule): all tiles at zoom `z` whose margin-expanded bbox intersects
    * the feature bbox, as packed 63-bit cell ids; null if any input is. */
  def tileCover(z: Column, xmin: Column, ymin: Column, xmax: Column,
                ymax: Column, margin: Column, extent: Column): Column =
    Kernel.call(ExprHelpers, "coverArray",
      ArrayType(LongType, containsNull = false),
      Seq(z -> IntegerType, xmin -> DoubleType, ymin -> DoubleType,
        xmax -> DoubleType, ymax -> DoubleType, margin -> IntegerType,
        extent -> IntegerType), returnNullable = false)

  /** The rings column [[ExprHelpers.pointInPolygon]] reads. */
  private val RingType: DataType = StructType(Seq(
    StructField("outer", BooleanType),
    StructField("xs", ArrayType(DoubleType)),
    StructField("ys", ArrayType(DoubleType))))

  /** Ray-cast point-in-polygon over a rings column; null if any input
    * is. */
  def pointInPolygon(rings: Column, x: Column, y: Column): Column =
    Kernel.call(ExprHelpers, "pointInPolygon", BooleanType,
      Seq(rings -> ArrayType(RingType), x -> DoubleType, y -> DoubleType),
      returnNullable = false)
}

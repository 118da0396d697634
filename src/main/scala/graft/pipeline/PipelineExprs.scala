package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.divideByZeroError
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.expr.Kernel

/** The vector kernels of the ANN/embedding family, called through
  * [[Kernel]] like the geo kernels. Each is a loop over `double` rows —
  * `array<float>` inputs arrive widened exactly by the analyzer's cast —
  * and each accumulates a dot as `s = 0.0; s += x(i)·y(i)` in index
  * order: the identical IEEE left fold the DuckDB oracles re-derive with
  * `list_sum(list_transform)`. A loop and not Column algebra because
  * `aggregate(zip_with(…))` is a higher-order function, evaluated
  * interpreted and taking its whole projection out of whole-stage
  * codegen, and an unrolled Column tree is fixed to one width (and, over
  * a plane or centroid matrix, compiles into a method whose one-time
  * Janino cost outweighs its gain; see OPTIMIZATION_r06.md). */
object PipelineExprHelpers {

  /** Dot product of two rows; null when their widths differ or either
    * holds a null element, as the `aggregate(zip_with)` fold gives (it
    * pads the shorter side with nulls, and a null term nulls the fold). */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** The row divided by its L2 norm `sqrt(dot(e, e))`, element by
    * element — the loop form of `transform(e, v => v / nrm)`. As that
    * division does, a row holding a null element gives an array of
    * nulls, and a zero norm raises DIVIDE_BY_ZERO when `failOnZero` (ANSI
    * mode), else gives an array of nulls; an empty row stays empty. */
  def normalize(e: ArrayData, failOnZero: Boolean): ArrayData = {
    val n = e.numElements()
    val d = dot(e, e)
    if (d == null || d.doubleValue == 0.0) {
      if (d != null && n > 0 && failOnZero)
        throw divideByZeroError()
      return new GenericArrayData(new Array[Any](n))
    }
    val nrm = math.sqrt(d.doubleValue)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = e.getDouble(i) / nrm; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** All tables' sign-of-dot LSH buckets for one embedding row.
    * matrix(t)(p)(i): plane component; returns one int bucket per table
    * (bit p set iff dot(plane_tp, e) > 0). Width or null mismatches give
    * bucket 0, exactly like the Column form (`when(null > 0, …)
    * .otherwise(0)` summed over planes); a NaN dot sets its bit, as SQL
    * orders NaN above every number. */
  def lshBuckets(e: ArrayData,
                 matrix: Array[Array[Array[Double]]]): ArrayData = {
    val nT = matrix.length
    val out = new Array[Int](nT)
    if (e != null) {
      val dim = if (nT > 0 && matrix(0).length > 0) matrix(0)(0).length else 0
      var ok = e.numElements() == dim
      var i = 0
      while (ok && i < dim) { if (e.isNullAt(i)) ok = false; i += 1 }
      if (ok) {
        val ev = e.toDoubleArray()
        var t = 0
        while (t < nT) {
          val planes = matrix(t)
          var bkt = 0
          var p = 0
          while (p < planes.length) {
            val pl = planes(p)
            var s = 0.0
            var j = 0
            while (j < dim) { s += pl(j) * ev(j); j += 1 }
            if (s > 0 || java.lang.Double.isNaN(s)) bkt += (1 << p)
            p += 1
          }
          out(t) = bkt
          t += 1
        }
      }
    }
    new GenericArrayData(out)
  }

  /** Squared L2 distance of one row against every row of the constant
    * centroid matrix `matrices(cell)`, in centroid order — the loop form
    * of `transform(get(matricesLit, cell), c => aggregate(zip_with(c,
    * ne, (x,y) => (x-y)²), 0.0, +))`, same subtraction and fold order.
    * An out-of-range cell gives a null array, as `get` does. A null row,
    * a null element or a width that differs from the centroid's gives a
    * null distance, exactly like the Column form (`zip_with` pads the
    * shorter side with nulls, and a null term nulls the fold). */
  def centroidDists(e: ArrayData, cell: Int,
                    matrices: Array[Array[Array[Double]]]): ArrayData = {
    if (cell < 0 || cell >= matrices.length) return null
    val matrix = matrices(cell)
    val k = matrix.length
    val out = new Array[Any](k)
    var ok = e != null
    var i = 0
    while (ok && i < e.numElements()) { if (e.isNullAt(i)) ok = false; i += 1 }
    var c = 0
    while (c < k) {
      val cent = matrix(c)
      if (ok && e.numElements() == cent.length) {
        var s = 0.0
        i = 0
        while (i < cent.length) {
          val d = cent(i) - e.getDouble(i)
          s += d * d
          i += 1
        }
        out(c) = s
      }
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** Column functions over [[PipelineExprHelpers]]. */
object PipelineExprs {
  private val Vec: DataType = ArrayType(DoubleType)

  /** `double` dot of two float or double array columns; see
    * [[PipelineExprHelpers.dot]]. */
  def dot(a: Column, b: Column): Column =
    Kernel.call(PipelineExprHelpers, "dot", DoubleType, Seq(a -> Vec, b -> Vec))

  /** L2-normalized `array<double>` copy of a float or double array
    * column; see [[PipelineExprHelpers.normalize]]. */
  def normalize(e: Column): Column =
    Kernel.call(PipelineExprHelpers, "normalize", Vec,
      Seq(e -> Vec, lit(SQLConf.get.ansiEnabled) -> BooleanType),
      returnNullable = false)

  /** `array<int>` of one LSH bucket per table for the embedding column; a
    * null embedding gives the all-zero row, never a null array. */
  def lshBuckets(emb: Column,
                 matrix: Array[Array[Array[Double]]]): Column =
    Kernel.call(PipelineExprHelpers, "lshBuckets",
      ArrayType(IntegerType, containsNull = false),
      Seq(emb -> Vec, Kernel.constant(matrix)),
      propagateNull = false, returnNullable = false)

  /** `array<double>` of squared L2 distances to each centroid of the
    * constant matrix `matrices(cell)`; null for a null or out-of-range
    * cell, null distances for a null or malformed row. */
  def centroidDists(ne: Column, matrices: Array[Array[Array[Double]]],
                    cell: Column): Column =
    Kernel.call(PipelineExprHelpers, "centroidDists", Vec,
      Seq(ne -> Vec, cell.cast("int") -> IntegerType,
        Kernel.constant(matrices)),
      propagateNull = false)
}

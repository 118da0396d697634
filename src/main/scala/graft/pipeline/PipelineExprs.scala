package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** r6 custom codegen kernels for the ANN/embedding family (the §2.8
  * TileCover/PointInPolygon precedent applied to the pipeline ops).
  *
  * Why an Expression and not Column algebra: the bucket/centroid scans
  * are dot products against a CONSTANT matrix. The two Column-level
  * encodings both lose:
  *   - `aggregate(zip_with(planeLit, e, …))` per plane/centroid is a
  *     HigherOrderFunction — interpreted lambda eval per element, an
  *     allocated zipped array per call (measured: the 16-table LSH
  *     bucket build dominated `ann_lsh_topk`'s cold time);
  *   - fully unrolling nTables × planes × dim literal terms compiles
  *     via Janino into a several-thousand-node method whose one-time
  *     compile costs more than it saves (+12 s cold, reverted).
  * A custom Expression emits a LOOP over the matrix (bound via
  * `addReferenceObj`), so the generated code is small, compiles fast and
  * runs at codegen speed. The arithmetic replicates the interpreted fold
  * bit-for-bit: per plane/centroid, `s = 0.0; s += m(i)·e(i)` in index
  * order — the identical IEEE left fold the DuckDB oracles re-derive.
  */
object PipelineExprHelpers {

  /** All tables' sign-of-dot LSH buckets for one embedding row.
    * matrix(t)(p)(i): plane component; returns one int bucket per table
    * (bit p set iff dot(plane_tp, e) > 0). Width or null mismatches give
    * bucket 0, exactly like the Column form (`when(null > 0, …)
    * .otherwise(0)` summed over planes); a NaN dot sets its bit, as SQL
    * orders NaN above every number. */
  def lshBuckets(e: ArrayData, elemFloat: Boolean,
                 matrix: Array[Array[Array[Double]]]): ArrayData = {
    val nT = matrix.length
    val out = new Array[Int](nT)
    if (e != null) {
      val dim = if (nT > 0 && matrix(0).length > 0) matrix(0)(0).length else 0
      var ok = e.numElements() == dim
      var i = 0
      while (ok && i < dim) { if (e.isNullAt(i)) ok = false; i += 1 }
      if (ok) {
        val ev = new Array[Double](dim)
        i = 0
        while (i < dim) {
          ev(i) = if (elemFloat) e.getFloat(i).toDouble else e.getDouble(i)
          i += 1
        }
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

  /** Squared L2 distance of one (double-array) row against every row of
    * the constant centroid matrix `matrices(cell)`, in centroid order —
    * the loop form of `transform(get(matricesLit, cell), c =>
    * aggregate(zip_with(c, ne, (x,y) => (x-y)²), 0.0, +))`, same
    * subtraction and fold order. A null (passed as -1) or out-of-range
    * cell gives a null array, as `get` does. A null row, a null element
    * or a width that differs from the centroid's gives a null distance,
    * exactly like the Column form (`zip_with` pads the shorter side with
    * nulls, and a null term nulls the fold). */
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

/** `array<int>` of one LSH bucket per table for the embedding column. */
case class LshBuckets(child: Expression,
                      matrix: Array[Array[Array[Double]]])
    extends Expression {
  // resolved lazily: dataType is not available on an unresolved child
  private lazy val elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // a null/mismatched embedding yields the all-zero bucket row, exactly
  // like the Column encoding it replaces — never a null array
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any =
    PipelineExprHelpers.lshBuckets(
      child.eval(input).asInstanceOf[ArrayData], elemFloat, matrix)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val m = ctx.addReferenceObj("lshMatrix", matrix, "double[][][]")
    val in = if (child.nullable)
      s"${c.isNull} ? null : ${c.value}" else c.value.code
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = false;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.pipeline.PipelineExprHelpers.lshBuckets(
            ($in), $elemFloat, $m);
      """)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

/** `array<double>` of squared L2 distances to each centroid of the
  * constant matrix `matrices(cell)`; `cell` is an int column. */
case class CentroidDists(child: Expression, cell: Expression,
                         matrices: Array[Array[Array[Double]]])
    extends Expression {
  override def children: Seq[Expression] = Seq(child, cell)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  // null for a null or out-of-range cell; a null/mismatched row yields
  // null distances, exactly like the Column encoding it replaces
  override def nullable: Boolean = true
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val k = cell.eval(input)
    PipelineExprHelpers.centroidDists(
      child.eval(input).asInstanceOf[ArrayData],
      if (k == null) -1 else k.asInstanceOf[Int], matrices)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val k = cell.genCode(ctx)
    val m = ctx.addReferenceObj("centroidMatrices", matrices, "double[][][]")
    val in = if (child.nullable)
      s"${c.isNull} ? null : ${c.value}" else c.value.code
    val kc = if (cell.nullable)
      s"${k.isNull} ? -1 : ${k.value}" else k.value.code
    ev.copy(code =
      code"""
        ${c.code}
        ${k.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.pipeline.PipelineExprHelpers.centroidDists(($in), ($kc), $m);
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0), cell = c(1))
}

object PipelineExprs {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  def lshBuckets(emb: Column,
                 matrix: Array[Array[Array[Double]]]): Column =
    column(LshBuckets(expression(emb), matrix))

  def centroidDists(ne: Column, matrices: Array[Array[Array[Double]]],
                    cell: Column): Column =
    column(CentroidDists(expression(ne), expression(cell.cast("int")),
      matrices))
}

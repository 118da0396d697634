package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CentroidDists, LshBuckets, PipelineExprs, PipelineOps}

/** Focused specs for the r6 optimization internals: the custom codegen
  * kernels (LshBuckets / CentroidDists) must be bit-identical to the
  * interpreted Column folds they replaced, and the restructured
  * dedup_minhash / dedup_clusters must reproduce the r5 shapes'
  * results exactly. */
class PipelineExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dim = 64

  /** Deterministic float-embedding frame off spark.range (NOT a
    * LocalRelation, so codegen is actually exercised). */
  private def embFrame(n: Int) = {
    import spark.implicits._
    spark.range(0, n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod($"id" * 31 + i * 7919, lit(1000)).cast("double") /
          lit(500.0) - 1.0).cast("float")).as("embedding"))
  }

  test("LshBuckets kernel == interpreted aggregate(zip_with) fold") {
    import spark.implicits._
    val nTables = 3
    val planes = 5
    val matrix = Array.tabulate(nTables)(t => Array.tabulate(planes)(p =>
      Array.tabulate(dim)(i =>
        math.sin(t * 1.7 + p * 0.31 + i * 0.013) - 0.4)))
    // interpreted reference: the exact Column encoding the kernel replaced
    def refBucket(t: Int, e: org.apache.spark.sql.Column) =
      (0 until planes).map { p =>
        val pl = array(Array.tabulate(dim)(i => lit(matrix(t)(p)(i))): _*)
        when(aggregate(zip_with(pl, e, (x, v) => x * v.cast("double")),
          lit(0.0), (a, v) => a + v) > 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    val df = embFrame(300).select($"vec_id",
      PipelineExprs.lshBuckets($"embedding", matrix).as("got"),
      array((0 until nTables).map(t => refBucket(t, $"embedding")): _*)
        .as("want"))
    val rows = df.collect()
    assert(rows.length == 300)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"bucket mismatch for vec ${r.getLong(0)}")
    }
    // kernel must run inside a WholeStageCodegen stage — asserted on a
    // kernel-only plan (the interpreted reference columns above are
    // CodegenFallback HOFs and would fail the whole Project out of
    // codegen, which is exactly why the kernel exists)
    // (the repartition barrier keeps embFrame's interpreted
    // array-builder transform out of the kernel's Project — production
    // embeddings are plain scan attributes)
    val kernelOnly = embFrame(300).repartition(2).select(
      PipelineExprs.lshBuckets($"embedding", matrix).as("got"))
    kernelOnly.collect()
    val plan = kernelOnly.queryExecution.executedPlan.toString
    val kernelLine = plan.linesIterator
      .find(_.contains("lshbuckets(")).getOrElse("")
    assert(kernelLine.contains("*("), plan)
  }

  test("LshBuckets: wrong-width embedding yields all-zero buckets") {
    import spark.implicits._
    val matrix = Array.tabulate(2)(t => Array.tabulate(3)(p =>
      Array.tabulate(dim)(i => (t + p + i + 1).toDouble)))
    val short = spark.range(0, 4).select(
      transform(sequence(lit(0), lit(7)),
        i => i.cast("float")).as("embedding"))
    val rows = short
      .select(PipelineExprs.lshBuckets($"embedding", matrix).as("b"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Int](0) == Seq(0, 0)))
  }

  test("CentroidDists kernel == interpreted transform/zip_with distances") {
    import spark.implicits._
    val k = 7
    val cents = Array.tabulate(k)(c =>
      Array.tabulate(dim)(i => math.cos(c * 0.91 + i * 0.07)))
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, v) => acc + v)
    val ne = transform($"embedding", v => v.cast("double"))
    val df = embFrame(200)
      .select($"vec_id", ne.as("ne"))
      .select($"vec_id",
        PipelineExprs.centroidDists($"ne", Array(cents), lit(0)).as("got"),
        transform(centLit, c => l2(c, $"ne")).as("want"))
    df.collect().foreach { r =>
      val got = r.getSeq[Double](1)
      val want = r.getSeq[Double](2)
      // bit-identical, not approximately equal: same IEEE fold
      assert(got == want, s"dist mismatch for vec ${r.getLong(0)}")
    }
    // edge rows: null array, null element, short and long arrays, NaN —
    // the Column form gives null distances for the first four (zip_with
    // pads with nulls) and propagates NaN; the kernel must agree
    val base = transform(sequence(lit(0), lit(dim - 1)),
      i => ($"id" + i * 0.01).cast("double"))
    val edge = spark.range(0, 6).select($"id",
      when($"id" === 0, lit(null).cast("array<double>"))
        .when($"id" === 1, transform(base, (v, i) =>
          when(i === 3, lit(null).cast("double")).otherwise(v)))
        .when($"id" === 2, slice(base, 1, dim - 1))
        .when($"id" === 3, concat(base, array(lit(0.5))))
        .when($"id" === 4, transform(base, (v, i) =>
          when(i === 5, lit(Double.NaN)).otherwise(v)))
        .otherwise(base).as("ne"))
      // barrier: the kernel reads `ne` as a plain attribute, as in
      // production
      .repartition(2)
      .select($"id",
        PipelineExprs.centroidDists($"ne", Array(cents), lit(0)).as("got"),
        transform(centLit, c => l2(c, $"ne")).as("want"))
    def bits(r: org.apache.spark.sql.Row, i: Int) =
      Option(r.getSeq[java.lang.Double](i)).map(_.map(d =>
        Option(d).map(java.lang.Double.doubleToLongBits(_))))
    val edgeRows = edge.collect().sortBy(_.getLong(0))
    assert(edgeRows.length == 6)
    val bad = edgeRows.filter(r => bits(r, 1) != bits(r, 2))
      .map(r => s"row ${r.getLong(0)}: got ${r.get(1)}, want ${r.get(2)}")
    assert(bad.isEmpty, bad.mkString("dist mismatch on edge rows\n", "\n", ""))
  }

  // ---- property fuzz: each kernel against its interpreted Column form,
  //      bit for bit, through codegen (a kernel-only projection over a
  //      shuffled frame) and through `eval` on literal children ----

  private def check(p: Prop): Unit = {
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), p)
    assert(r.passed, r.status.toString)
  }

  /** A double that is often NaN or ±Inf. */
  private val genVal: Gen[Double] = Gen.frequency(
    6 -> Gen.chooseNum(-3.0, 3.0), 1 -> Gen.const(Double.NaN),
    1 -> Gen.const(Double.PositiveInfinity),
    1 -> Gen.const(Double.NegativeInfinity))

  /** A row, mostly of width `w` but of any width up to w + 2 (0
    * included), sometimes null, its elements sometimes null. */
  private def genRow(w: Int): Gen[Seq[java.lang.Double]] = Gen.frequency(
    1 -> Gen.const(null),
    8 -> (for {
      n <- Gen.frequency(4 -> Gen.const(w), 1 -> Gen.chooseNum(0, w + 2))
      xs <- Gen.listOfN(n, Gen.frequency(
        12 -> genVal.map(java.lang.Double.valueOf),
        1 -> Gen.const(null: java.lang.Double)))
    } yield xs))

  /** Comparable form of a result: doubles as their bits (NaN folded). */
  private def bits(v: Any): Any = v match {
    case null => null
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case a: ArrayData => bits(a.toObjectArray(NullType).toSeq)
    case s: scala.collection.Seq[_] => s.map(bits)
    case x => x
  }

  /** One row per `rows` element (id = position), behind a shuffle so a
    * projection over it is not folded into the local relation. */
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema).repartition(1)

  /** (id → result) of `c` over `df`. */
  private def results(df: DataFrame, c: Column): Map[Long, Any] =
    df.select(col("id"), c).collect()
      .map(r => r.getLong(0) -> bits(r.get(1))).toMap

  test("CentroidDists ≡ Column form on fuzzed rows, cells, widths") {
    val genCase = for {
      w <- Gen.chooseNum(0, 5)
      nCells <- Gen.chooseNum(1, 3)
      mats <- Gen.listOfN(nCells, Gen.chooseNum(0, 3)
        .flatMap(k => Gen.listOfN(k, Gen.listOfN(w, genVal))))
      rows <- Gen.listOfN(8, Gen.zip(genRow(w), Gen.frequency(
        6 -> Gen.chooseNum(0, nCells - 1).map(Integer.valueOf),
        1 -> Gen.const(null: Integer),
        1 -> Gen.oneOf(-1, nCells, nCells + 3).map(Integer.valueOf))))
    } yield (mats, rows)
    check(Prop.forAllNoShrink(genCase) { case (mats, rows) =>
      val m = mats.map(_.map(_.toArray).toArray).toArray
      val df = frame(rows.zipWithIndex.map { case ((ne, cell), i) =>
        Row(i.toLong, ne, cell) }, StructType(Seq(
        StructField("id", LongType), StructField("ne",
          ArrayType(DoubleType)), StructField("cell", IntegerType))))
      val want = results(df, transform(get(typedLit(mats), col("cell")),
        c => aggregate(zip_with(c, col("ne"), (x, y) => {
          val d = x - y; d * d }), lit(0.0), (acc, v) => acc + v)))
      val got = results(df,
        PipelineExprs.centroidDists(col("ne"), m, col("cell")))
      val evald = rows.zipWithIndex.map { case ((ne, cell), i) =>
        i.toLong -> bits(CentroidDists(
          Literal.create(ne, ArrayType(DoubleType)),
          Literal.create(cell, IntegerType), m).eval()) }.toMap
      (got == want && evald == want) :|
        s"want $want\ncodegen $got\neval $evald"
    })
  }

  test("LshBuckets ≡ Column form on fuzzed rows and widths") {
    // tables × planes × width is rectangular, as every caller builds it
    val genCase = for {
      w <- Gen.chooseNum(0, 5)
      nT <- Gen.chooseNum(0, 3)
      nP <- Gen.chooseNum(0, 4)
      mat <- Gen.listOfN(nT, Gen.listOfN(nP, Gen.listOfN(w, genVal)))
      float <- Gen.oneOf(false, true)
      rows <- Gen.listOfN(8, genRow(w))
    } yield (mat, float, rows)
    check(Prop.forAllNoShrink(genCase) { case (mat, float, rows) =>
      val m = mat.map(_.map(_.toArray).toArray).toArray
      val elem = ArrayType(if (float) FloatType else DoubleType)
      val df = frame(rows.zipWithIndex.map { case (e, i) =>
        Row(i.toLong, e) }, StructType(Seq(StructField("id", LongType),
        StructField("e", ArrayType(DoubleType)))))
        .select(col("id"), col("e").cast(elem).as("e"))
      def bucket(planes: Seq[Seq[Double]]): Column =
        planes.zipWithIndex.foldLeft(lit(0)) { case (acc, (pl, p)) =>
          acc + when(aggregate(zip_with(typedLit(pl), col("e"),
            (x, v) => x * v.cast("double")), lit(0.0),
            (a, v) => a + v) > 0, lit(1 << p)).otherwise(lit(0))
        }
      val want = results(df,
        if (mat.isEmpty) array().cast("array<int>")
        else array(mat.map(bucket): _*))
      val got = results(df, PipelineExprs.lshBuckets(col("e"), m))
      val evald = rows.zipWithIndex.map { case (e, i) =>
        val in: Expression = Cast(Literal.create(e, ArrayType(DoubleType)),
          elem)
        i.toLong -> bits(LshBuckets(in, m).eval()) }.toMap
      (got == want && evald == want) :|
        s"want $want\ncodegen $got\neval $evald"
    })
  }

  test("in-row dedupMinhash == r5 explode+distinct+groupBy shape") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val d = PipelineOps.documentsRaw(spark, sf)
    def shingles(ws: org.apache.spark.sql.Column) =
      when(size(ws) >= 2,
        transform(sequence(lit(0), size(ws) - 2),
          i => concat(get(ws, i), lit(" "), get(ws, i + 1))))
        .otherwise(array().cast("array<string>"))
    val sh = d.select($"doc_id",
      explode(shingles(split($"text", " "))).as("sh")).distinct()
    val ref = sh.groupBy($"doc_id").agg(
      min(md5(concat(lit("0:"), $"sh"))).as("sig0"),
      min(md5(concat(lit("1:"), $"sh"))).as("sig1"),
      min(md5(concat(lit("2:"), $"sh"))).as("sig2"),
      min(md5(concat(lit("3:"), $"sh"))).as("sig3"))
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4))))
      .toMap
    val got = PipelineOps.dedupMinhash(spark, sf)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4))))
      .toMap
    assert(got == ref)
  }

  test("bipartite dedupClusters == brute-force components over pairs") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val pairs = PipelineOps.dedupMinhashPairs(spark, sf)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find over the materialized pair graph
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allDocs = PipelineOps.documentsRaw(spark, sf)
      .select($"doc_id").collect().map(_.getLong(0))
    val keepOf = allDocs.map(d => d -> find(d)).toMap
    val sizeOf = keepOf.values.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    val got = PipelineOps.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == allDocs.length)
    got.foreach { case (doc, keep, n) =>
      assert(keep == keepOf(doc), s"keep_id mismatch for doc $doc")
      assert(n == sizeOf(keepOf(doc)), s"cluster_n mismatch for doc $doc")
    }
  }
}

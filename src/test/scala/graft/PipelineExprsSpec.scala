package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.GeoFunctions
import graft.pipeline.{PipelineExprs, PipelineOps}

/** Focused specs for the kernels and the r6 pipeline restructures: the
  * vector kernels (lshBuckets, centroidDists, dot, normalize) must be
  * bit-identical to the interpreted Column forms they replace, through
  * codegen and through `eval`; the geo kernels (tileCover,
  * pointInPolygon) must give the same result both ways; and the
  * restructured dedup_minhash / dedup_clusters must reproduce the r5
  * shapes' results exactly. */
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
      .find(_.contains("lshBuckets")).getOrElse("")
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
  //      shuffled frame) and through `eval` (the same projection with
  //      codegen off) ----

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

  /** `body` under the SQL settings `kv`, restored after. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(
      spark.conf.set(k, _)) }
  }

  /** `body` with whole-stage and expression codegen off, so every
    * projection evaluates its expressions through `eval`. */
  private def interpreted[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** (id → result) of the kernel column `c` over `df` through codegen,
    * and the same through `eval`. */
  private def codegenAndEval(df: DataFrame, c: Column)
      : (Map[Long, Any], Map[Long, Any]) =
    (results(df, c), interpreted(results(df, c)))

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
      val (got, evald) = codegenAndEval(df,
        PipelineExprs.centroidDists(col("ne"), m, col("cell")))
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
      val df = vecFrame(rows.map(Seq(_)), float)
      def bucket(planes: Seq[Seq[Double]]): Column =
        planes.zipWithIndex.foldLeft(lit(0)) { case (acc, (pl, p)) =>
          acc + when(aggregate(zip_with(typedLit(pl), col("a"),
            (x, v) => x * v.cast("double")), lit(0.0),
            (a, v) => a + v) > 0, lit(1 << p)).otherwise(lit(0))
        }
      val want = results(df,
        if (mat.isEmpty) array().cast("array<int>")
        else array(mat.map(bucket): _*))
      val (got, evald) = codegenAndEval(df,
        PipelineExprs.lshBuckets(col("a"), m))
      (got == want && evald == want) :|
        s"want $want\ncodegen $got\neval $evald"
    })
  }

  /** A frame of `id` and one array column per row entry (`a`, then
    * `b`), of float or double elements. */
  private def vecFrame(rows: Seq[Seq[Seq[java.lang.Double]]],
                       float: Boolean): DataFrame = {
    val names = Seq("a", "b").take(rows.headOption.fold(1)(_.length))
    val elem = ArrayType(if (float) FloatType else DoubleType)
    frame(rows.zipWithIndex.map { case (r, i) => Row(i.toLong +: r: _*) },
      StructType(StructField("id", LongType) +:
        names.map(StructField(_, ArrayType(DoubleType)))))
      .select(col("id") +: names.map(n => col(n).cast(elem).as(n)): _*)
  }

  /** A row of finite elements (a 64-wide dot over [[genRow]] rows is
    * nearly always NaN), mostly of width `w` but of any width up to
    * w + 2, sometimes null or all zeros; a quarter of the rows hold one
    * NaN, ±Inf or null element. */
  private def genVecRow(w: Int): Gen[Seq[java.lang.Double]] =
    Gen.frequency(
      1 -> Gen.const(null),
      1 -> Gen.const(Seq.fill(w)(java.lang.Double.valueOf(0.0))),
      14 -> (for {
        n <- Gen.frequency(4 -> Gen.const(w), 1 -> Gen.chooseNum(0, w + 2))
        xs <- Gen.listOfN(n,
          Gen.chooseNum(-3.0, 3.0).map(java.lang.Double.valueOf))
        at <- Gen.chooseNum(0, 4 * n)
        odd <- Gen.oneOf(Seq[java.lang.Double](Double.NaN,
          Double.PositiveInfinity, Double.NegativeInfinity, null))
      } yield if (at < n) xs.updated(at, odd) else xs))

  /** Widths 0-7 and 64. */
  private val genWidth = Gen.frequency(1 -> Gen.const(64),
    2 -> Gen.chooseNum(0, 7))

  /** The deepest error condition (e.g. `DIVIDE_BY_ZERO`) in `t`'s cause
    * chain. */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.toSeq.lastOption.getOrElse(t.getClass.getName)

  /** [[results]] of `c` over `df`; when that fails, each row's own
    * result or error condition. */
  private def outcomes(df: DataFrame, c: => Column): Map[Long, Any] =
    try results(df, c)
    catch { case _: Exception =>
      df.select(col("id")).collect().map(_.getLong(0)).map { i =>
        i -> (try results(df.where(col("id") === i), c)(i)
          catch { case e: Exception => "error " + condition(e) })
      }.toMap
    }

  /** The Column form the `dot` kernel replaces: the interpreted
    * `aggregate(zip_with)` fold. */
  private def foldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("dot ≡ aggregate(zip_with) fold on fuzzed rows and widths") {
    val genCase = for {
      w <- genWidth
      float <- Gen.oneOf(false, true)
      rows <- Gen.listOfN(8, Gen.zip(genVecRow(w), genVecRow(w)))
    } yield (float, rows)
    check(Prop.forAllNoShrink(genCase) { case (float, rows) =>
      val df = vecFrame(rows.map { case (a, b) => Seq(a, b) }, float)
      val want = results(df, foldDot(col("a"), col("b")))
      val (got, evald) = codegenAndEval(df,
        PipelineExprs.dot(col("a"), col("b")))
      (got == want && evald == want) :|
        s"want $want\ncodegen $got\neval $evald"
    })
  }

  test("normalize ≡ transform(v / nrm) on fuzzed rows, widths, ANSI") {
    // under ANSI a zero norm raises DIVIDE_BY_ZERO in both forms; off
    // ANSI it gives nulls
    val genCase = for {
      w <- genWidth
      float <- Gen.oneOf(false, true)
      ansi <- Gen.oneOf(true, false)
      rows <- Gen.listOfN(8, genVecRow(w))
    } yield (float, ansi, rows)
    check(Prop.forAllNoShrink(genCase) { case (float, ansi, rows) =>
      withConf("spark.sql.ansi.enabled" -> ansi.toString) {
        val df = vecFrame(rows.map(Seq(_)), float)
        val want = outcomes(
          df.withColumn("nrm", sqrt(foldDot(col("a"), col("a")))),
          transform(col("a"), v => v.cast("double") / col("nrm")))
        val got = outcomes(df, PipelineExprs.normalize(col("a")))
        val evald = interpreted(
          outcomes(df, PipelineExprs.normalize(col("a"))))
        (got == want && evald == want) :|
          s"want $want\ncodegen $got\neval $evald"
      }
    })
  }

  /** A double that is often NaN, ±Inf or null, over about the Mercator
    * range. */
  private val genCoord: Gen[java.lang.Double] = Gen.frequency(
    8 -> Gen.chooseNum(-2.2e7, 2.2e7).map(java.lang.Double.valueOf),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity).map(java.lang.Double.valueOf),
    1 -> Gen.const(null: java.lang.Double))

  test("TileCover codegen ≡ eval on fuzzed, inverted and NaN boxes") {
    def nullable[T](g: Gen[T]): Gen[T] =
      Gen.frequency(12 -> g, 1 -> Gen.const(null.asInstanceOf[T]))
    // often inverted: each axis's ends come in either order
    val genBox = Gen.zip(nullable(Gen.chooseNum(0, 6).map(Integer.valueOf)),
      genCoord, genCoord, genCoord, genCoord,
      nullable(Gen.oneOf(0, 8, 64).map(Integer.valueOf)),
      nullable(Gen.oneOf(256, 4096).map(Integer.valueOf)))
    check(Prop.forAllNoShrink(Gen.listOfN(8, genBox)) { boxes =>
      val df = frame(boxes.zipWithIndex.map {
        case ((z, x0, y0, x1, y1, m, ext), i) =>
          Row(i.toLong, z, x0, y0, x1, y1, m, ext) },
        StructType(StructField("id", LongType) +: Seq(
          "z" -> IntegerType, "xmin" -> DoubleType, "ymin" -> DoubleType,
          "xmax" -> DoubleType, "ymax" -> DoubleType,
          "margin" -> IntegerType, "extent" -> IntegerType).map {
          case (n, t) => StructField(n, t) }))
      val (got, evald) = codegenAndEval(df, GeoFunctions.tileCover(
        col("z"), col("xmin"), col("ymin"), col("xmax"), col("ymax"),
        col("margin"), col("extent")))
      (got == evald) :| s"codegen $got\neval $evald"
    })
  }

  test("PointInPolygon codegen ≡ eval on fuzzed, empty, unclosed rings") {
    val ringType = ArrayType(StructType(Seq(
      StructField("outer", BooleanType), StructField("xs",
        ArrayType(DoubleType, containsNull = false)), StructField("ys",
        ArrayType(DoubleType, containsNull = false)))))
    val genPt = Gen.chooseNum(-4.0, 4.0)
    // a ring of 0 to 6 points, closed about half the time
    val genRing = for {
      n <- Gen.chooseNum(0, 6)
      pts <- Gen.listOfN(n, Gen.zip(genPt, genPt))
      closed <- Gen.oneOf(false, true)
      outer <- Gen.oneOf(false, true)
    } yield {
      val ps = if (closed && pts.nonEmpty) pts :+ pts.head else pts
      Row(outer, ps.map(_._1), ps.map(_._2))
    }
    val genCase = Gen.zip(
      Gen.frequency(1 -> Gen.const(null: Seq[Row]),
        8 -> Gen.chooseNum(0, 3).flatMap(Gen.listOfN(_, genRing))),
      Gen.frequency(8 -> genPt.map(java.lang.Double.valueOf),
        1 -> genCoord),
      Gen.frequency(8 -> genPt.map(java.lang.Double.valueOf),
        1 -> genCoord))
    check(Prop.forAllNoShrink(Gen.listOfN(8, genCase)) { cases =>
      val df = frame(cases.zipWithIndex.map { case ((rings, x, y), i) =>
        Row(i.toLong, rings, x, y) }, StructType(Seq(
        StructField("id", LongType), StructField("rings", ringType),
        StructField("x", DoubleType), StructField("y", DoubleType))))
      val (got, evald) = codegenAndEval(df,
        GeoFunctions.pointInPolygon(col("rings"), col("x"), col("y")))
      (got == evald) :| s"codegen $got\neval $evald"
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

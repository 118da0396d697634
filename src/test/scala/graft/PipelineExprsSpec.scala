package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{PipelineExprs, PipelineOps}

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
        PipelineExprs.centroidDists($"ne", cents).as("got"),
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
        PipelineExprs.centroidDists($"ne", cents).as("got"),
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

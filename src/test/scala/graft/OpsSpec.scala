package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.expr.{ExprHelpers, GeoFunctions}
import graft.query.{Query, Raster}

/** Specs for the extension operators (kNN, PIP, tile-cover expression,
  * raster ⇄ vector, LSH ANN). */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("TileCover expression == core cover (and survives codegen)") {
    import spark.implicits._
    // spark.range source (NOT a LocalRelation, which Catalyst folds away
    // without ever reaching codegen)
    val H = Mercator.HalfWorld
    val df = spark.range(0, 200)
      .select(
        (pmod($"id" * 7919, lit(1000)).cast("double") / 500.0 - 1.0)
          .as("fx"),
        (pmod($"id" * 104729, lit(1000)).cast("double") / 500.0 - 1.0)
          .as("fy"),
        pmod($"id", lit(10)).cast("int").as("z"))
      .select(($"fx" * H * 0.9 - 1e6).as("xmin"),
        ($"fy" * H * 0.9 - 1e6).as("ymin"),
        ($"fx" * H * 0.9 + 1e6).as("xmax"),
        ($"fy" * H * 0.9 + 1e6).as("ymax"), $"z")
      .select($"*", GeoFunctions.tileCover($"z", $"xmin", $"ymin",
        $"xmax", $"ymax", lit(8), lit(256)).as("cover"))
    val got = df.collect()
    got.foreach { r =>
      val want = TileGrid.cover(r.getInt(4),
        BBox(r.getDouble(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3)), 256, 8).toSeq
      assert(r.getSeq[Long](5) == want)
    }
    // expression must be inside a WholeStageCodegen stage (the `*(n)`
    // marker in the executed plan), not a fallback Project
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*("), plan)
  }

  test("PointInPolygon: ray cast truth table incl. holes") {
    import spark.implicits._
    // square with a square hole
    val outer = (Seq(0.0, 10.0, 10.0, 0.0, 0.0),
      Seq(0.0, 0.0, 10.0, 10.0, 0.0))
    val hole = (Seq(4.0, 6.0, 6.0, 4.0, 4.0), Seq(4.0, 4.0, 6.0, 6.0, 4.0))
    val rings = array(
      struct(lit(true).as("outer"),
        array(outer._1.map(lit): _*).as("xs"),
        array(outer._2.map(lit): _*).as("ys")),
      struct(lit(false).as("outer"),
        array(hole._1.map(lit): _*).as("xs"),
        array(hole._2.map(lit): _*).as("ys")))
    val pts = Seq((2.0, 2.0, true), (5.0, 5.0, false), (11.0, 5.0, false),
      (-1.0, -1.0, false), (3.9, 5.0, true), (9.9, 9.9, true))
    val df = pts.toDF("x", "y", "want")
      .withColumn("got", GeoFunctions.pointInPolygon(rings, $"x", $"y"))
    df.collect().foreach { r =>
      assert(r.getBoolean(3) == r.getBoolean(2),
        s"(${r.getDouble(0)},${r.getDouble(1)})")
    }
  }

  test("grid kNN join == brute force") {
    import spark.implicits._
    val rnd = new java.util.Random(11)
    def pts(n: Int, tag: String) = (0 until n).map { i =>
      (i.toLong, (rnd.nextDouble() * 2 - 1) * 1.5e7,
        (rnd.nextDouble() * 2 - 1) * 1.5e7)
    }
    val qs = pts(40, "q"); val ds = pts(300, "d")
    val qdf = qs.toDF("qid", "x", "y")
    val ddf = ds.toDF("did", "x", "y")
    val got = Query.knnJoin(spark, qdf, ddf, k = 3, z = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val want = qs.flatMap { case (qid, qx, qy) =>
      ds.map { case (did, dx, dy) =>
        (qid, did, (qx - dx) * (qx - dx) + (qy - dy) * (qy - dy))
      }.sortBy(t => (t._3, t._2)).take(3).zipWithIndex.map {
        case ((_, did, _), i) => (qid, i + 1, did)
      }
    }.toSet
    assert(got == want)
  }

  test("raster stub: vectorize finds the disc boundary; rasterize fills") {
    val (w, h, px) = Raster.decodeStub("raster:7") // odd → disc
    val (dark, segs) = Raster.vectorize(w, h, px, 128)
    assert(dark > 300 && dark < 600, s"disc area $dark")
    assert(segs > 30 && segs < 120, s"boundary segs $segs")
    val (w2, h2, px2) = Raster.decodeStub("raster:8") // even → checker
    val (dark2, segs2) = Raster.vectorize(w2, h2, px2, 128)
    assert(dark2 == w2 * h2 / 2)
    assert(segs2 > segs) // checkerboard has more boundary
    // rasterize a full-tile square ring → all cells filled
    val tid = TileId(2, 1, 1)
    val tcfg = TileCfg(tid, 256, 0)
    val b = TileGrid.tileBBox(2, 1, 1)
    val ring = graft.model.Ring(outer = true,
      Array(b.xmin, b.xmax, b.xmax, b.xmin, b.xmin),
      Array(b.ymin, b.ymin, b.ymax, b.ymax, b.ymin))
    assert(Raster.rasterizeCount(Seq(ring), tcfg, 16) == 256L)
  }

  test("LSH ANN recall vs brute force ≥ 0.8 on sf0.001 embeddings") {
    val sf = "/root/testdata/sf0.001"
    val exact = graft.pipeline.PipelineOps.annCosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = graft.pipeline.PipelineOps.annLshTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("IVF ANN recall vs brute force ≥ 0.7 on sf0.001 embeddings") {
    val sf = "/root/testdata/sf0.001"
    val exact = graft.pipeline.PipelineOps.annCosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.pipeline.PipelineOps.annIvfTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    info(s"ivf recall = $recall")
    assert(recall >= 0.7, s"recall $recall")
  }

  test("knnClassify: plurality vote over exact top-k, deterministic ties") {
    val sf = "/root/testdata/sf0.001"
    val ops = graft.pipeline.PipelineOps
    val topk = ops.annCosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val labels = ops.embeddings(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    // driver-side re-vote: plurality, ties toward the smallest label
    val want = topk.groupBy(_._1).map { case (q, ns) =>
      val byLabel = ns.groupBy(n => labels(n._2))
        .map { case (l, g) => (l, g.length) }
      val (pl, nv) = byLabel.toSeq.minBy { case (l, n) => (-n, l) }
      (q, (pl, nv, labels(q), pl == labels(q)))
    }
    val got = ops.knnClassify(spark, sf).collect()
      .map(r => (r.getLong(0),
        (r.getInt(1), r.getLong(2).toInt, r.getInt(3), r.getBoolean(4))))
      .toMap
    assert(got.keySet == want.keySet)      // exactly one row per query
    want.foreach { case (q, w) => assert(got(q) == w, s"query $q") }
  }

  test("semDedup: greedy within-cluster drop rule, cap fence") {
    val sf = "/root/testdata/sf0.001"
    val ops = graft.pipeline.PipelineOps
    val tau = 0.40
    val ne = ops.embeddings(spark, sf).collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      (r.getLong(0), v.map(_ / n))
    }.toMap
    def cos(a: Long, b: Long): Double =
      ne(a).zip(ne(b)).map { case (x, y) => x * y }.sum
    val got = ops.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getBoolean(2),
        r.getBoolean(3)))).toMap
    assert(got.keySet == ne.keySet)            // one verdict per vector
    assert(!got.values.exists(_._2))           // no cluster capped here
    // drop rule re-derived against the op's own cluster assignment
    got.foreach { case (v, (cl, _, kept)) =>
      val hasSmaller = got.exists { case (u, (cu, _, _)) =>
        cu == cl && u < v && cos(u, v) >= tau }
      assert(kept == !hasSmaller, s"vec $v")
    }
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
    // cap fence: maxCluster = 1 caps every multi-member cluster → all
    // vectors in them kept and flagged
    val capped = ops.semDedup(spark, sf, maxCluster = 1).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getBoolean(2),
        r.getBoolean(3)))).toMap
    val sizes = capped.values.groupBy(_._1).map { case (c, g) =>
      (c, g.size) }
    capped.foreach { case (v, (cl, cap, kept)) =>
      assert(cap == (sizes(cl) > 1) && (!cap || kept), s"vec $v")
    }
  }

  test("dsirImportance: exact integer ppm score, driver re-derivation") {
    val sf = "/root/testdata/sf0.001"
    val ops = graft.pipeline.PipelineOps
    val docs = ops.documents(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bucket(w: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      (h(0) & 0xff) % 64
    }
    val occ = docs.flatMap { case (_, text, lang) =>
      text.split(" ", -1).map(w => (bucket(w), lang == "en")) }
    val cc = occ.groupBy(_._1).map { case (b, g) => (b, g.length.toLong) }
    val ct = occ.filter(_._2).groupBy(_._1)
      .map { case (b, g) => (b, g.length.toLong) }
    val (totC, totT) = (occ.length.toLong, occ.count(_._2).toLong)
    val m = Array.tabulate(64) { b =>
      val r = ((ct.getOrElse(b, 0L) + 1L).toDouble * (totC + 64).toDouble) /
        ((cc.getOrElse(b, 0L) + 1L).toDouble * (totT + 64).toDouble)
      math.round(r * 1000000.0)
    }
    val want = docs.map { case (id, text, lang) =>
      val ws = text.split(" ", -1)
      val s = ws.map(w => m(bucket(w))).sum
      (id, (lang, ws.length, s, s >= ws.length * 1000000L))
    }.toMap
    val got = ops.dsirImportance(spark, sf).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), r.getInt(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) => assert(got(id) == w, s"doc $id") }
    // the selection must be non-trivial on the fixture (both classes)
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }

  test("sparse-data kNN completes in O(log n) driver rounds") {
    import spark.implicits._
    // 3 data points in far-apart cells at z=6 (n=64): linear ring growth
    // would need ~30+ driver rounds; geometric growth needs ≤ 8
    val H = Mercator.HalfWorld
    val qdf = Seq((1L, -0.9 * H, -0.9 * H), (2L, 0.9 * H, 0.9 * H))
      .toDF("qid", "x", "y")
    val ds = Seq((10L, 0.0, 0.0), (11L, 0.85 * H, -0.85 * H),
      (12L, -0.5 * H, 0.7 * H))
    val ddf = ds.toDF("did", "x", "y")
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = Query.knnJoin(spark, qdf, ddf, k = 2, z = 6, rounds)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rounds.get() <= 8, s"rounds=${rounds.get()}")
    val want = Seq((1L, -0.9 * H, -0.9 * H), (2L, 0.9 * H, 0.9 * H))
      .flatMap { case (qid, qx, qy) =>
        ds.map { case (did, dx, dy) =>
          (qid, did, (qx - dx) * (qx - dx) + (qy - dy) * (qy - dy))
        }.sortBy(t => (t._3, t._2)).take(2).zipWithIndex.map {
          case ((_, did, _), i) => (qid, i + 1, did)
        }
      }.toSet
    assert(got == want)
  }

  test("kNN at z=12 (16M-cell grid, 3 points): range-join path, no offset blowup") {
    import spark.implicits._
    val H = Mercator.HalfWorld
    val qdf = Seq((1L, -0.9 * H, -0.9 * H)).toDF("qid", "x", "y")
    val ds = Seq((10L, 0.8 * H, 0.8 * H), (11L, 0.0, 0.1 * H))
    val ddf = ds.toDF("did", "x", "y")
    val got = Query.knnJoin(spark, qdf, ddf, k = 2, z = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // brute force: 11 is nearer than 10
    assert(got == Set((1L, 1, 11L), (1L, 2, 10L)))
  }

  // n identical docs share every bucket of every pair op: the 1k pile
  // must be fenced without a quadratic stage, and the cap is inclusive —
  // MaxBucket docs pair completely, one more pairs not at all
  private val cap = graft.pipeline.PipelineOps.MaxBucket
  for ((n, name) <- Seq(
      1000 -> "1k identical docs produce no quadratic stage",
      cap -> s"$cap identical docs (at the cap) pair completely",
      cap + 1 -> s"${cap + 1} identical docs (one over) pair none")) {
    test(s"hot-bucket cap: $name") {
      import spark.implicits._
      val dir =
        java.nio.file.Files.createTempDirectory("graft_hot").toString
      val docs = (0 until n).map(i =>
        (f"d$i%04d", "the same exact words repeated in every document here",
          "en"))
      docs.toDF("doc_id", "text", "lang")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val want = if (n <= cap) n.toLong * (n - 1) / 2 else 0L
      val t0 = System.nanoTime()
      // every band bucket, (blk, v) block bucket and shingle holds all n
      // docs: kept whole up to MaxBucket, dropped above it
      val pairs = graft.pipeline.PipelineOps.dedupMinhashPairs(spark, dir)
        .count()
      val jac = graft.pipeline.PipelineOps.dedupNgramJaccard(spark, dir)
        .count()
      val sp = graft.pipeline.PipelineOps.dedupSimhashPairs(spark, dir)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(pairs == want, s"pairs=$pairs")
      assert(jac == want, s"jaccard pairs=$jac")
      assert(sp == want, s"simhash pairs=$sp")
      // 1000² = 1M-row pair explosions would take far longer than this
      assert(sec < 60.0, s"took $sec s")
      // the identical docs ARE still caught — by exact dedup
      val ex = graft.pipeline.PipelineOps.dedupExact(spark, dir).collect()
      assert(ex.length == 1 && ex.head.getLong(1) == n.toLong)
    }
  }

  test("dedup_embedding: exact-cosine subset of brute force, recall floor") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = graft.pipeline.PipelineOps.dedupEmbedding(spark, sf)
      .collect()
    // brute-force truth: every pair with cosine >= 0.40, same rounding
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val ids = e.keys.toSeq.sorted
    val truth = (for {
      ai <- ids.indices; bi <- ai + 1 until ids.size
      a = ids(ai); b = ids(bi)
      c = cos(e(a), e(b)) if c >= 0.40
    } yield (a, b)).toSet
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates can only MISS true pairs, never invent one, and the
    // verify stage re-computes the exact cosine
    assert(gotPairs.subsetOf(truth),
      s"non-near-dup pairs emitted: ${gotPairs -- truth}")
    got.foreach { r =>
      val c = cos(e(r.getLong(0)), e(r.getLong(1)))
      assert(math.abs(r.getDouble(2) - c) < 1e-6)
      assert(r.getDouble(2) >= 0.40)
    }
    assert(gotPairs == got.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .distinct.toSet) // no duplicate pairs across tables
    // deterministic md5 planes → fixed recall on the fixed corpus; floor
    // well under the measured value so dim/plane tweaks don't flap it
    assert(gotPairs.size >= (truth.size * 0.6).toInt,
      s"recall ${gotPairs.size}/${truth.size}")
  }

  test("dedup_embedding hot-bucket fence: identical pile yields no pairs") {
    import spark.implicits._
    val dim = 8
    val same = Seq.fill(dim)(1.0f)
    val rnd = new java.util.Random(11)
    val distinct = (0 until 100).map(i =>
      (5000L + i, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val emb = ((0 until 3000).map(i => (i.toLong, same)) ++ distinct)
      .toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val got = graft.pipeline.PipelineOps.dedupEmbeddingDf(spark, emb,
      threshold = 0.40, nTables = 8, planesPerTable = 0, dim = dim,
      maxBucket = 256).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    // the 3000 identical vectors share every table's bucket (> cap →
    // dropped): cos=1.0 pairs among them are NOT emitted — exact
    // duplicates are dedupExact's regime (AnnMaxBucket doc)
    assert(got.forall(r => r.getLong(0) >= 5000L && r.getLong(1) >= 5000L),
      "hot-pile pair leaked through the fence")
    assert(sec < 60.0, s"took $sec s — quadratic stage?")
  }

  test("ANN scale parameters derive from corpus size") {
    import graft.pipeline.PipelineOps._
    // posting list ≈ AnnTargetBucket at every n (floored at 4 planes)
    assert(annPlanesFor(500) == 4)
    assert(annPlanesFor(512L * 16) == 4)
    assert(annPlanesFor(1L << 30) == 21) // 2^21 buckets → ~512/bucket
    assert(annClustersFor(5000) == 16)
    assert(annClustersFor(1000000) == 977)
    assert(annClustersFor(100000000000L) == 4096) // AnnMaxClusters cap
  }

  test("hot-bucket ANN: 3k identical vectors are fenced, no quadratic join") {
    import spark.implicits._
    val dim = 8
    val same = Seq.fill(dim)(1.0f)
    val rnd = new java.util.Random(7)
    val distinct = (0 until 200).map(i =>
      (3000L + i, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val emb = ((0 until 3000).map(i => (i.toLong, same)) ++ distinct)
      .toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val lsh = graft.pipeline.PipelineOps.annLshTopKDf(spark, emb, 5, 16,
      0, dim, maxBucket = 256).collect()
    val ivf = graft.pipeline.PipelineOps.annIvfTopKDf(spark, emb, 5,
      nClusters = 8, nProbe = 8, iters = 3, sampleSize = 512,
      maxList = 256).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    // identical vectors share a bucket (every LSH table) / an inverted
    // list of size ≥ 3000 > cap → dropped, so no identical vector is
    // ever a candidate; only the 200 distinct ones can be neighbors
    assert(lsh.forall(_.getLong(2) >= 3000L),
      s"lsh leaked a hot-bucket member")
    assert(ivf.forall(_.getLong(2) >= 3000L),
      s"ivf leaked a hot-list member")
    // 3000²-pair stages would take far longer than this
    assert(sec < 60.0, s"took $sec s")
  }

  test("IVF at 80 clusters, probe-all == brute force exactly") {
    val sf = "/root/testdata/sf0.001"
    val exact = graft.pipeline.PipelineOps.annCosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    // probing all 80 lists with no cap makes IVF candidate set = the
    // whole corpus, so the result must EQUAL the brute-force baseline
    // row-for-row
    val ivf = graft.pipeline.PipelineOps.annIvfTopKDf(spark,
      graft.pipeline.PipelineOps.embeddings(spark, sf), 5,
      nClusters = 80, nProbe = 80, iters = 2, sampleSize = 512,
      maxList = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(ivf == exact)
  }

  test("IVF survives a corpus smaller than the cluster count") {
    import spark.implicits._
    val emb = (0 until 5).map(i =>
      (i.toLong, Seq.tabulate(8)(j => (i * 8 + j).toFloat / 40f)))
      .toDF("vec_id", "embedding")
    // derived nClusters (16) > corpus (5): must clamp, not crash
    val rows = graft.pipeline.PipelineOps.annIvfTopKDf(spark, emb, 5,
      nClusters = 0, nProbe = 8, iters = 2, sampleSize = 0,
      maxList = graft.pipeline.PipelineOps.AnnMaxList).collect()
    // one query (vec_id 0), up to 4 neighbors
    assert(rows.nonEmpty && rows.forall(_.getLong(0) == 0L))
  }

  test("point query returns tag rows for features under the point") {
    import spark.implicits._
    val docs = spark.createDataset(
      graft.ingest.CorpusGen.microDocs())
    val feats = graft.dig.Dig.features(spark,
      graft.extract.Extract.entities(docs.toDF()), EngineCfg.default)
    // inside Micro County (45.0-45.01 / -93.30..-93.28)
    val rows = Query.pointQuery(spark, feats, EngineCfg.default,
      45.005, -93.285).collect()
    assert(rows.exists(r => r.getString(1) == "county" &&
      r.getString(4) == "name" && r.getString(5) == "Micro County"))
    val pip = Query.pipQuery(spark, feats, EngineCfg.default,
      45.005, -93.285).collect()
    assert(pip.exists(_.getString(0) == "county"))
    // a point in the county's bbox but outside its ring-with-hole? the
    // hole (45.003-45.006 / -93.295..-93.290) is excluded by ray cast
    val inHole = Query.pipQuery(spark, feats, EngineCfg.default,
      45.0045, -93.2925).collect()
    assert(!inHole.exists(r => r.getString(0) == "county" &&
      r.getInt(1) == 2))
  }

  test("dedup clusters == independent driver union-find over the pairs") {
    import spark.implicits._
    // synthetic corpus with REAL near-dup clusters: 6 groups of texts
    // differing by one word (pairs survive the band join), plus uniques
    val dir = java.nio.file.Files.createTempDirectory("graft_cc").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = (0 until 6).flatMap { g =>
      (0 until 4).map { v =>
        (g * 10 + v.toLong, s"group$g $base variant$v", "en")
      }
    } ++ (100 until 110).map(i =>
      (i.toLong, s"unique $i " + base.split(' ').reverse.mkString(" ") +
        s" tail $i", "en"))
    docs.toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = graft.pipeline.PipelineOps.dedupMinhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "test corpus produced no candidate pairs")
    // independent union-find (path-halving), nothing shared with the
    // engine's large-star/small-star components routine
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p)
        x = parent(x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val byRoot = members.groupBy(find)
    val keepOf = byRoot.toSeq.flatMap { case (_, ms) =>
      val k = ms.min; ms.map(_ -> k).toSeq
    }.toMap
    val sizeOf = byRoot.toSeq.flatMap { case (_, ms) =>
      ms.map(_ -> ms.length.toLong).toSeq
    }.toMap
    val want = docs.map(_._1).map(id =>
      (id, keepOf.getOrElse(id, id), sizeOf.getOrElse(id, 1L))).toSet
    val got = graft.pipeline.PipelineOps.dedupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want)
    // the clusters actually resolved: at least one multi-doc component
    assert(got.exists(_._3 >= 4L), "no cluster of the 4 variants formed")
  }

  test("simhash pairs == brute force; block-LSH complete at hamming 3") {
    val sf = "/root/testdata/sf0.001"
    val blocks = graft.pipeline.PipelineOps.dedupSimhashBlocks(spark, sf)
      .collect().map(r => r.getLong(0) ->
        Array(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    // driver-side mirror of the MaxBucket fence
    val bc = scala.collection.mutable.Map
      .empty[(Int, Int), Int].withDefaultValue(0)
    for ((_, bs) <- blocks; k <- 0 until 4) bc((k, bs(k))) += 1
    def ham(a: Array[Int], b: Array[Int]): Int =
      (0 until 4).map(k => Integer.bitCount(a(k) ^ b(k))).sum
    val ids = blocks.keys.toArray.sorted
    val want = (for {
      i <- ids.indices.iterator
      j <- (i + 1 until ids.length).iterator
      a = ids(i); b = ids(j)
      shared = (0 until 4).count(k =>
        blocks(a)(k) == blocks(b)(k) && bc((k, blocks(a)(k))) <= cap)
      h = ham(blocks(a), blocks(b))
      if shared > 0 && h <= graft.pipeline.PipelineOps.SimhashHammingMax
    } yield (a, b, h, shared.toLong)).toSet
    val got = graft.pipeline.PipelineOps.dedupSimhashPairs(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got.nonEmpty, "sf0.001 produced no simhash pairs")
    assert(got == want)
    // no bucket is hot on this corpus, so the pigeonhole guarantee makes
    // block-LSH COMPLETE at the radius: got == ALL hamming<=3 pairs
    assert(!bc.valuesIterator.exists(_ > cap), "fence unexpectedly binds")
    val all3 = (for {
      i <- ids.indices.iterator
      j <- (i + 1 until ids.length).iterator
      if ham(blocks(ids(i)), blocks(ids(j))) <=
        graft.pipeline.PipelineOps.SimhashHammingMax
    } yield (ids(i), ids(j))).toSet
    assert(got.map(t => (t._1, t._2)) == all3)
  }

  test("simhash clusters: identical-doc groups keep one per cluster") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shc").toString
    // 5 groups of 3 IDENTICAL docs (hamming 0, far under the fence);
    // vocab fully disjoint across groups so cross-group fingerprints are
    // independent md5 bits (expected hamming ~32, never <= 3)
    val docs = (0 until 5).flatMap { g =>
      val text = (0 until 16).map(w => s"w${g}x$w").mkString(" ")
      (0 until 3).map(v => (g * 10 + v.toLong, text, "en"))
    } ++ (100 until 105).map { i =>
      (i.toLong, (0 until 16).map(w => s"u${i}y$w").mkString(" "), "en")
    }
    docs.toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.dedupSimhashClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = docs.map(_._1).map { id =>
      if (id < 100L) (id, (id / 10L) * 10L, 3L) else (id, id, 1L)
    }.toSet
    assert(got == want)
  }

  test("embedding dedup clusters == independent driver union-find") {
    val sf = "/root/testdata/sf0.01"
    val pairs = graft.pipeline.PipelineOps.dedupEmbedding(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "sf0.01 embeddings produced no near-dup pairs")
    // independent union-find (path-halving), nothing shared with the
    // engine's large-star/small-star components routine
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p)
        x = parent(x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val byRoot = members.groupBy(find)
    val keepOf = byRoot.toSeq.flatMap { case (_, ms) =>
      val k = ms.min; ms.map(_ -> k).toSeq
    }.toMap
    val sizeOf = byRoot.toSeq.flatMap { case (_, ms) =>
      ms.map(_ -> ms.length.toLong).toSeq
    }.toMap
    val universe = graft.pipeline.PipelineOps.embeddings(spark, sf)
      .select("vec_id").collect().map(_.getLong(0))
    val want = universe.map(id =>
      (id, keepOf.getOrElse(id, id), sizeOf.getOrElse(id, 1L))).toSet
    val got = graft.pipeline.PipelineOps
      .dedupEmbeddingClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want)
    assert(got.exists(_._3 >= 2L), "no embedding cluster resolved")
  }

  test("decontaminate: planted holdout overlap is flagged, clean doc is not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dc").toString
    val evalText = "the quick brown fox jumps over the lazy dog tonight"
    // 0 and 37 are holdout (doc_id % 37 == 0); 5 duplicates holdout text
    // verbatim (ratio 1.0), 6 shares nothing with the holdout set
    val docs = Seq(
      (0L, evalText, "en"),
      (37L, "benchmark question alpha beta gamma delta answer", "en"),
      (5L, evalText, "en"),
      (6L, "completely different words nowhere near eval content", "en"))
    docs.toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.decontaminate(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // only non-holdout docs appear
    assert(got.keySet === Set(5L, 6L))
    val (n5, h5, c5) = got(5L)
    assert(h5 === n5 && c5, "verbatim holdout copy must be contaminated")
    val (_, h6, c6) = got(6L)
    assert(h6 === 0L && !c6, "disjoint doc must be clean")
    // invariant: hits never exceed kept shingles
    got.values.foreach { case (n, h, _) => assert(h <= n) }
  }

  test("corpus_mix: balance-to-max mixture, deterministic copy counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cm").toString
    // epochs default 1.5 → big: 4 docs (factor 1.5, fractional — the
    // Bernoulli branch), small: 2 docs (factor 3.0 exact), tiny: 3 docs
    // (factor 2.0 exact)
    val docs = Seq(
      (1L, "a", "en", "big"), (2L, "b", "en", "big"),
      (3L, "c", "en", "big"), (4L, "d", "en", "big"),
      (5L, "e", "en", "small"), (6L, "f", "en", "small"),
      (7L, "g", "en", "tiny"), (8L, "h", "en", "tiny"),
      (9L, "i", "en", "tiny"))
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.corpusMix(spark, dir)
    val perDoc = got.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("n_copies").as("nc"),
        max("copy_n").as("mc"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(perDoc.keySet === (1L to 9L).toSet, "no doc may be dropped")
    // every doc emits exactly n_copies rows numbered 1..n_copies
    perDoc.values.foreach { case (n, nc, mc) =>
      assert(n === nc && mc === nc)
    }
    (1L to 4L).foreach(id => assert(Set(1L, 2L).contains(perDoc(id)._1),
      "fractional factor 1.5 gives floor or ceil copies"))
    (5L to 6L).foreach(id => assert(perDoc(id)._1 === 3L,
      "integer factor 3 must give exactly 3 copies"))
    (7L to 9L).foreach(id => assert(perDoc(id)._1 === 2L,
      "integer factor 2 must give exactly 2 copies"))
    // deterministic: a second evaluation reproduces the identical rows
    val a = got.collect().map(_.toSeq).toSet
    val b = graft.pipeline.PipelineOps.corpusMix(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(a === b && a.nonEmpty)
  }

  test("text_repetition: planted repetitive and clean docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tr").toString
    val docs = Seq(
      (1L, "spam spam spam spam", "en", "web"),
      (2L, "alpha beta gamma delta", "en", "web"),
      (3L, "solo", "en", "web"),
      (4L, "a b a b a", "en", "web"))
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.textRepetition(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4),
          r.getInt(5), r.getDouble(6), r.getBoolean(7)))).toMap
    // all-same doc: top frac 1.0, 3 bigrams all equal → 2 dups
    assert(got(1L) === ((4, 4L, 1.0, 3, 2, 0.666667, true)))
    // all-distinct doc: clean on both rules
    assert(got(2L) === ((4, 1L, 0.25, 3, 0, 0.0, false)))
    // single word: no bigrams; top frac 1.0 trips the word rule
    assert(got(3L) === ((1, 1L, 1.0, 0, 0, 0.0, true)))
    // "a b a b a": top word 3/5 trips; bigram dup frac exactly 0.5 is
    // NOT over the strict > 0.50 threshold
    assert(got(4L) === ((5, 3L, 0.6, 4, 2, 0.5, true)))
  }

  test("pack_sequences: interval math + two-stage prefix == serial spec") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ps").toString
    // token counts 3, 4, 1, 6, 2 → serial prefix 0, 3, 7, 8, 14
    val docs = Seq(
      (1L, "a b c", "en", "web"),
      (2L, "a b c d", "en", "web"),
      (3L, "x", "en", "web"),
      (9L, "a b c d e f", "en", "web"),
      (10L, "y z", "en", "web"))
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // budget 5, buckets 2 → width 6: docs 1-3 in bucket 0, 9-10 in
    // bucket 1 — the cross-bucket offset path is exercised
    val got = graft.pipeline.PipelineOps
      .packSequences(spark, dir, budget = 5L, buckets = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) === ((3L, 0L, 0L, 0L, 1L)))
    assert(got(2L) === ((4L, 3L, 0L, 1L, 2L)), "doc 2 straddles bins 0-1")
    assert(got(3L) === ((1L, 7L, 1L, 1L, 1L)))
    assert(got(9L) === ((6L, 8L, 1L, 2L, 2L)))
    assert(got(10L) === ((2L, 14L, 2L, 3L, 2L)))
    // invariant vs the serial spec at an adversarial bucket count: the
    // two-stage prefix must equal a plain sorted cumulative sum
    val wide = graft.pipeline.PipelineOps
      .packSequences(spark, dir, budget = 5L, buckets = 257)
      .select("doc_id", "tok_start").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(wide === got.map { case (k, v) => k -> v._2 })
  }

  test("tfidf_topk: integer-ratio scores and word-asc tie order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tfidf").toString
    // "rare" appears only in doc 1 (df=1); "common" in all three (df=3)
    val docs = Seq(
      (1L, "rare common common", "en", "web"),
      (2L, "common alpha beta", "en", "web"),
      (3L, "common alpha alpha", "en", "web"))
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.tfidfTopK(spark, dir, k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(5)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // doc 1: rare tf1/df1 = 1.0 beats common tf2/df3 = 0.666667
    assert(got((1L, 1)) === (("rare", 1L, 1L, 1.0)))
    assert(got((1L, 2)) === (("common", 2L, 3L, 0.666667)))
    // doc 3: alpha tf2/df2 = 1.0 beats common tf1/df3
    assert(got((3L, 1)) === (("alpha", 2L, 2L, 1.0)))
    // doc 2: alpha tf1/df2 = beta tf1/df1? no — beta df=1 → 1.0 wins,
    // then alpha 0.5 over common 0.333333
    assert(got((2L, 1)) === (("beta", 1L, 1L, 1.0)))
    assert(got((2L, 2)) === (("alpha", 1L, 2L, 0.5)))
  }

  test("vocab_topk: totals, doc frequencies, count-desc word-asc rank") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vt").toString
    val docs = Seq(
      (1L, "b a b", "en", "web"),
      (2L, "a b c", "en", "web"),
      (3L, "c a", "en", "web"))
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.vocabTopK(spark, dir, k = 2)
      .collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3))))
    // a: 3 total / 3 docs, b: 3 total / 2 docs — tie on total, 'a' < 'b'
    assert(got.toSeq.sortBy(_._1) === Seq(
      1 -> (("a", 3L, 3L)), 2 -> (("b", 3L, 2L))))
  }

  test("dedup_apply: audit sums reconcile and the write is idempotent") {
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_da").toString +
      "/kept"
    val kept = graft.pipeline.PipelineOps.dedupApply(spark, sf, Some(out))
    val nDocs = graft.pipeline.PipelineOps.documents(spark, sf).count()
    // Σ cluster_n over keepers == corpus size: every doc accounted for
    val sumN = kept.agg(sum("cluster_n")).head.getLong(0)
    assert(sumN === nDocs)
    val firstMd5 = spark.read.parquet(out).select("doc_id", "text_md5")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // idempotent: second write reproduces the identical artifact
    graft.pipeline.PipelineOps.dedupApply(spark, sf, Some(out))
    val secondMd5 = spark.read.parquet(out).select("doc_id", "text_md5")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(firstMd5 === secondMd5 && firstMd5.nonEmpty)
  }

  test("jaccard dedup clusters == independent driver union-find") {
    val sf = "/root/testdata/sf0.01"
    val pairs = graft.pipeline.PipelineOps.dedupNgramJaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "sf0.01 produced no jaccard near-dup pairs")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p)
        x = parent(x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val byRoot = members.groupBy(find)
    val keepOf = byRoot.toSeq.flatMap { case (_, ms) =>
      val k = ms.min; ms.map(_ -> k).toSeq
    }.toMap
    val sizeOf = byRoot.toSeq.flatMap { case (_, ms) =>
      ms.map(_ -> ms.length.toLong).toSeq
    }.toMap
    val universe = graft.pipeline.PipelineOps.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    val want = universe.map(id =>
      (id, keepOf.getOrElse(id, id), sizeOf.getOrElse(id, 1L))).toSet
    val got = graft.pipeline.PipelineOps
      .dedupNgramJaccardClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want)
    assert(got.exists(_._3 >= 2L), "no jaccard cluster resolved")
  }

  test("two-level IVF recall vs brute force ≥ 0.7 on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val exact = graft.pipeline.PipelineOps.annCosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf2 = graft.pipeline.PipelineOps.annIvf2TopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect ivf2).size.toDouble / exact.size
    info(s"ivf2 recall = $recall")
    assert(recall >= 0.7, s"recall $recall")
  }

  test("two-level IVF probe-all == brute force exactly") {
    val sf = "/root/testdata/sf0.001"
    val exact = graft.pipeline.PipelineOps.annCosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    // probing every coarse cell and every fine list with no cap makes
    // the candidate set the whole corpus → must equal brute force
    val ivf2 = graft.pipeline.PipelineOps.annIvf2TopKDf(spark,
      graft.pipeline.PipelineOps.embeddings(spark, sf), 5,
      nCoarse = 4, nFine = 8, nProbeCoarse = 4, nProbeFine = 8,
      iters = 2, sampleSize = 512, maxList = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(ivf2 == exact)
  }

  test("two-level IVF hot-list fence: identical vectors dropped") {
    import spark.implicits._
    val dim = 8
    val same = Seq.fill(dim)(1.0f)
    val rnd = new java.util.Random(11)
    val distinct = (0 until 200).map(i =>
      (3000L + i, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val emb = ((0 until 3000).map(i => (i.toLong, same)) ++ distinct)
      .toDF("vec_id", "embedding")
    // all identical vectors share one (coarse, fine) list of size 3000 >
    // cap → dropped; only the 200 distinct vectors can be neighbors
    val ivf2 = graft.pipeline.PipelineOps.annIvf2TopKDf(spark, emb, 5,
      nCoarse = 4, nFine = 4, nProbeCoarse = 4, nProbeFine = 4,
      iters = 3, sampleSize = 512, maxList = 256).collect()
    assert(ivf2.nonEmpty)
    assert(ivf2.forall(_.getLong(2) >= 3000L),
      "ivf2 leaked a hot-list member")
  }

  test("MvtDecode round-trips MvtLayer.encode structure") {
    import graft.core.{MvtDecode, MvtFeature, MvtLayer, MvtTile}
    val roads = new MvtLayer("roads", 256)
    // MoveTo(1) + LineTo(2): commands 9, zz(3),zz(1), 18, 4 params
    roads.addFeature(MvtFeature(GeomTp.Linestring,
      Array(9L, 6L, 2L, 18L, 2L, 2L, 4L, 4L),
      Seq("name" -> Left("main"), "lanes" -> Right(2L))))
    roads.addFeature(MvtFeature(GeomTp.Point,
      Array(9L, 2L, 2L), Seq("name" -> Left("poi"))))
    val pois = new MvtLayer("pois", 256)
    pois.addFeature(MvtFeature(GeomTp.Polygon,
      Array(9L, 0L, 0L, 18L, 8L, 0L, 0L, 8L, 7L), Seq.empty))
    val tile = MvtTile.assemble(Seq(roads.encode(), pois.encode()))
    val stats = MvtDecode.decode(tile)
    assert(stats.map(_.name) == Seq("roads", "pois"))
    val r = stats.head
    assert(r.nFeatures == 2 && r.nKeys == 2 && r.nValues == 3)
    assert(r.extent == 256L && r.version == 2L && r.wellformed)
    // feature 1: 2 commands, 6 params; feature 2: 1 command, 2 params
    assert(r.nCommands == 3L && r.nParams == 8L)
    val p = stats(1)
    assert(p.nFeatures == 1 && p.nKeys == 0 && p.nValues == 0)
    // MoveTo(1)+2 params, LineTo(2)+4 params, ClosePath → 3 cmds, 6 params
    assert(p.nCommands == 3L && p.nParams == 6L && p.wellformed)
    // a truncated stream is flagged, never thrown
    val bad = MvtDecode.decode(tile.take(tile.length - 3))
    assert(bad.exists(!_.wellformed))
  }

  test("ew_tile_lookup decode-containment invariants hold (small corpus)") {
    val rows = SparkEntry.queries("ew_tile_lookup")(spark,
      "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty, "canonical tile has no assigned layers")
    assert(rows.exists(_.getLong(1) > 0L))
    rows.foreach { r =>
      assert(r.getBoolean(2), s"emitted>assigned for ${r.getString(0)}")
      assert(r.getBoolean(3), s"malformed commands in ${r.getString(0)}")
      assert(r.getBoolean(4), s"bad header in ${r.getString(0)}")
      assert(r.getLong(5) == 0L, "unexpected decoded layer")
    }
  }

  test("bigram_topk: adjacent-pair totals, doc freq, pair-asc tie order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bg").toString
    // doc 1 pairs: "a b"×2, "b a"; doc 2: "a b", "b c"; doc 3 (1 word): none
    val docs = Seq(
      (1L, "a b a b", "en", "web"),
      (2L, "a b c", "en", "web"),
      (3L, "x", "en", "web"))
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.bigramTopK(spark, dir, k = 2)
      .collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3))))
    // "a b": 3 total / 2 docs; then the 1-total tie breaks "b a" < "b c"
    assert(got.toSeq.sortBy(_._1) === Seq(
      1 -> (("a b", 3L, 2L)), 2 -> (("b a", 1L, 1L))))
  }

  test("source_cap: over-cap sources ranked by md5, under-cap pass free") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sc").toString
    val docs = Seq(
      (1L, "t", "en", "big"), (2L, "t", "en", "big"),
      (3L, "t", "en", "big"), (4L, "t", "en", "big"),
      (10L, "t", "en", "small"), (11L, "t", "en", "small"))
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.sourceCap(spark, dir, cap = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    assert(got.size === 6)
    // md5("4") < md5("1") < md5("2") < md5("3") → doc 3 is the one cut
    assert(got(3L) === (("big", 4L, false)))
    Seq(1L, 2L, 4L).foreach(id => assert(got(id) === (("big", 4L, true))))
    // under-cap source: every doc kept, no rank taken
    Seq(10L, 11L).foreach(id =>
      assert(got(id) === (("small", 2L, true))))
    // cap above every source count: nothing ranked, everything kept
    val pass = graft.pipeline.PipelineOps.sourceCap(spark, dir, cap = 10)
      .collect()
    assert(pass.length === 6 && pass.forall(_.getBoolean(3)))
  }

  test("corpus_shuffle: two-stage bucket rank == serial md5 rank; splits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cs").toString
    // 200 scattered ids → some 2-hex-char buckets collide, most are
    // empty/singleton — the sparse/uneven bucket shapes both exercised
    val ids = (0 until 200).map(i => i.toLong * 37L + (i % 7))
    ids.map(id => (id, "t", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .repartition(8) // rank must not depend on input partitioning
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.corpusShuffle(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getString(3)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // serial spec: global rank by (md5(doc_id), doc_id)
    val want = ids.map(id => (md5hex(id.toString), id)).sorted
      .zipWithIndex.map { case ((k, id), i) => id -> ((k, i + 1L)) }.toMap
    ids.foreach { id =>
      assert(got(id)._1 === want(id)._1, s"key of $id")
      assert(got(id)._2 === want(id)._2, s"rank of $id")
    }
    // split thresholds on the doc uniform: u = first 8 md5 hex chars/2^32
    ids.foreach { id =>
      val u = java.lang.Long.parseLong(
        md5hex(id.toString).take(8), 16).toDouble / 4294967296.0
      val exp = if (u < 0.90) "train" else if (u < 0.95) "valid"
                else "test"
      assert(got(id)._3 === exp, s"split of $id")
    }
    // every rank exactly once (the two-stage offsets leave no gaps)
    assert(got.values.map(_._2).toSeq.sorted === (1L to 200L))
  }

  test("embed_quantize: affine int8 codes, recon error, dim guard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_eq").toString
    // dim 0 constant (mx==mn branch), dim 1 spans [-2, 6], the rest vary
    // deterministically per (vector, dim)
    def emb(v: Int): Seq[Float] = (0 until 64).map { d =>
      if (d == 0) 3.5f
      else if (d == 1) Seq(-2f, 0f, 1f, 6f, 2f)(v)
      else (v * 31 + d * 17) % 13 - 6.0f
    }
    (0 until 5).map(v => (v.toLong, emb(v), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val got = graft.pipeline.PipelineOps.embedQuantize(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(got.size === 5)
    // Scala re-derivation with the identical double math
    val cols = (0 until 64).map(d => (0 until 5).map(v =>
      emb(v)(d).toDouble))
    val mn = cols.map(_.min); val mx = cols.map(_.max)
    def code(v: Int, d: Int): Long =
      if (mx(d) == mn(d)) 0L
      else math.max(0L, math.min(255L, math.floor(
        (emb(v)(d).toDouble - mn(d)) / (mx(d) - mn(d)) * 255.0 + 0.5)
        .toLong))
    (0 until 5).foreach { v =>
      val codes = (0 until 64).map(d => code(v, d))
      val err = (0 until 64).map { d =>
        val recon = mn(d) + code(v, d).toDouble * ((mx(d) - mn(d)) / 255.0)
        val dl = emb(v)(d).toDouble - recon
        dl * dl
      }.reduceLeft(_ + _)
      val fpExp = java.security.MessageDigest.getInstance("MD5")
        .digest(codes.mkString(",").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(got(v.toLong)._1 === fpExp, s"codes_fp of $v")
      assert(got(v.toLong)._2 === 0L, "constant dim codes to 0")
      assert(got(v.toLong)._3 === codes(63), s"c_last of $v")
      assert(got(v.toLong)._4 ===
        BigDecimal(err).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, s"sq_err_r of $v")
    }
    // min/max of a spanning dim hit the code range ends: dim 1 vectors
    // 0 (min) and 3 (max)
    assert(code(0, 1) === 0L && code(3, 1) === 255L)
    // dim guard: a 3-dim corpus fails loudly, not silently
    val bad = java.nio.file.Files.createTempDirectory("graft_eqb").toString
    Seq((1L, Seq(1.0f, 2.0f, 3.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$bad/embeddings.parquet")
    val ex = intercept[Exception] {
      graft.pipeline.PipelineOps.embedQuantize(spark, bad).collect()
    }
    assert(ex.getMessage != null)
  }

  test("pipeline_funnel: first-fail attribution in fixed stage order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pf").toString
    val w30 = (1 to 30).map(i => s"w$i").mkString(" ") // 30 uniq words
    val docs = Seq(
      // passes everything
      (1L, w30, "en", "web"),
      // wrong lang AND short — lang attributed (first stage)
      (2L, "a b", "de", "web"),
      // en but 24 words < 25
      (3L, (1 to 24).map(i => s"w$i").mkString(" "), "en", "web"),
      // 30 words, only 9 distinct → uniq_ratio 0.3 < 0.35
      (4L, (1 to 30).map(i => s"w${i % 9}").mkString(" "), "en", "web"),
      // 40 words, 14 distinct (ratio 0.35 passes) but top word 27/40
      // > 0.30 → repetition is the first failing stage
      (5L, ((1 to 27).map(_ => "x") ++ (1 to 13).map(i => s"w$i"))
        .mkString(" "), "en", "web"))
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.pipelineFunnel(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5),
        r.getString(6)))).toMap
    assert(got(1L) === ((true, true, true, true, true, "none")))
    // doc 2 also trips repetition (top frac 1/2 > 0.30) — but lang is
    // the FIRST failing stage and wins the attribution
    assert(got(2L) === ((false, false, true, false, false, "lang")))
    assert(got(3L) === ((true, false, true, true, false, "len")))
    assert(got(4L)._6 === "quality" && !got(4L)._5)
    assert(got(5L)._6 === "repetition" && !got(5L)._5 && got(5L)._3)
  }

  test("dup_ngram_frac: corpus-level duplicated 5-gram fraction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dnf").toString
    val span = "alpha beta gamma delta epsilon" // one shared 5-gram
    val docs = Seq(
      // docs 1 & 2 share exactly the 5-gram `span`; everything else in
      // them is unique to each doc
      (1L, s"$span u1 u2 u3 u4", "en", "web"),
      (2L, s"v1 v2 v3 v4 $span", "en", "web"),
      // doc 3: all 5-grams unique corpus-wide
      (3L, "p q r s t u v", "en", "web"),
      // doc 4: too short for any 5-gram
      (4L, "one two three", "en", "web"),
      // docs 5 & 6: identical text — every 5-gram duplicated
      (5L, "m n o p q r", "en", "web"),
      (6L, "m n o p q r", "en", "web"))
    docs.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.dupNgramFrac(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(got.size === 6)
    // doc 1: 5 distinct 5-grams ("alpha..epsilon" + 4 sliding into u's);
    // only the first is shared (doc 2 has it too)
    assert(got(1L)._1 === 5L && got(1L)._2 === 1L && got(1L)._3 === 0.2)
    assert(got(2L)._1 === 5L && got(2L)._2 === 1L && got(2L)._3 === 0.2)
    assert(got(3L) === ((3L, 0L, 0.0)))
    assert(got(4L)._1 === 0L && got(4L)._2 === 0L && got(4L)._3.isNaN)
    assert(got(5L) === ((2L, 2L, 1.0)))
    assert(got(6L) === ((2L, 2L, 1.0)))
  }

  test("corpus_stats: exact histogram p50/p90, per-source report") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cst").toString
    // source a: lengths 10,20,20,30,100 (n=5 → p50 rank 3 = 20,
    //   p90 rank ceil(4.5)=5 = 100); two langs
    // source b: single doc (all quantiles = the one value)
    // source c: even n with ties: 5,5,7,9 (n=4 → p50 rank 2 = 5,
    //   p90 rank ceil(3.6)=4 = 9)
    val docs = Seq(
      (1L, "t", "en", "a", 10L), (2L, "t", "en", "a", 20L),
      (3L, "t", "de", "a", 20L), (4L, "t", "en", "a", 30L),
      (5L, "t", "en", "a", 100L),
      (6L, "t", "fr", "b", 42L),
      (7L, "t", "en", "c", 5L), (8L, "t", "en", "c", 5L),
      (9L, "t", "en", "c", 7L), (10L, "t", "en", "c", 9L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.PipelineOps.corpusStats(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))).toMap
    assert(got.size === 3)
    assert(got("a") === ((5L, 180L, 2L, 10L, 100L, 20L, 100L)))
    assert(got("b") === ((1L, 42L, 1L, 42L, 42L, 42L, 42L)))
    assert(got("c") === ((4L, 26L, 1L, 5L, 9L, 5L, 9L)))
  }
}

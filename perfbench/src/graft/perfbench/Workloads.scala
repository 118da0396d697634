package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{EngineCfg, TileId, ZxyPath}
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.model.Feature
import graft.pipeline.PipelineOps
import graft.query.Query
import graft.run.{DigJob, PyramidJob}
import graft.tile.{FeatureEncoder, Pyramid}

import Main.{digest, noop, timed}

/** A seeded request list: tiles that exist (with their expected bytes)
  * and a share of tiles that do not, which must come back empty. */
final case class TileReq(z: Int, x: Int, y: Int, bytes: Option[Array[Byte]])

object TileReqs {
  /** Every `AbsentEvery`-th request asks for a tile that does not exist. */
  val AbsentEvery = 4

  /** `n` requests at zoom `z`: seeded tiles outside `tiles` at every
    * [[AbsentEvery]]-th place, seeded tiles of `tiles` elsewhere. A
    * single-tile render costs about the same for any tile of one zoom
    * (it covers every feature at that zoom, then keeps one tile), so one
    * zoom and a fixed pattern give every seed the same mix of work.
    * Expected bytes come from `reference` (a pyramid with tile columns z,
    * x, y). */
  def draw(seed: Long, n: Int, z: Int, tiles: DataFrame,
           reference: DataFrame): IndexedSeq[TileReq] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val keys = tiles.where(col("z") === z).select("z", "x", "y").collect()
      .map(k => (k.getInt(0), k.getInt(1), k.getInt(2))).sorted
    val have = keys.toSet
    val picks = (0 until n).map { j =>
      if (j % AbsentEvery != AbsentEvery - 1) keys(r.nextInt(keys.length))
      else Iterator.continually((z, r.nextInt(1 << z), r.nextInt(1 << z)))
        .find(!have(_)).get
    }
    val spark = tiles.sparkSession
    import spark.implicits._
    val want = picks.filter(have).distinct.toDF("z", "x", "y")
    val bytes = reference.join(broadcast(want), Seq("z", "x", "y"))
      .select("z", "x", "y", "bytes").collect()
      .map(b => (b.getInt(0), b.getInt(1), b.getInt(2)) ->
        b.getAs[Array[Byte]](3)).toMap
    picks.map { case k @ (z, x, y) => TileReq(z, x, y, bytes.get(k)) }
  }

  /** Does a lookup's result (the `bytes` of each returned row) match? */
  def matches(req: TileReq, got: Seq[Array[Byte]]): Boolean =
    req.bytes match {
      case Some(b) => got.length == 1 && java.util.Arrays.equals(got.head, b)
      case None => got.isEmpty
    }
}

/** Skewed pyramid: MVT z0-14 and Wyrm z0-12 passes over the fixed skewed
  * corpus (80% of cells inside one z8 tile), then on-demand single-tile
  * renders through `Pyramid.tile`. A traced run also splits the pass into
  * its layers and runs the production jobs once. */
final class TilesSkewed extends Workload {
  private val cfg = EngineCfg.default
  /** A quarter of `CorpusGen.bench`'s cells: 60x50 of 120x100. */
  private val Params = CorpusGen.bench.copy(nx = 60, ny = 50,
    countyCols = 6, countyRows = 5)
  /** Requests per rep, after its passes; every
    * [[TileReqs.AbsentEvery]]-th request is a tile that does not exist
    * (see [[TileReqs.draw]]). */
  private val ReqsPerRep = TileReqs.AbsentEvery
  /** The zoom every request asks for: the deepest, where a map client
    * asks for most tiles. */
  private val ReqZoom = 14
  private val LookupsPerPass = 20
  private var features: Dataset[Feature] = _
  private var reqs = IndexedSeq.empty[TileReq]

  private def docsPath(c: Ctx) =
    s"${c.args.inputs}/skewed_docs${if (c.args.tiny) "_tiny" else ""}"

  /** The corpus, generated once per build and read back from parquet. */
  def prepare(c: Ctx): Unit = Main.once(docsPath(c)) { dir =>
    val spark = c.spark
    import spark.implicits._
    val p = Params
    val docs =
      if (c.args.tiny) spark.createDataset(CorpusGen.microDocs()).toDF()
      else spark.range(0, CorpusGen.unitCount(p).toLong)
        .flatMap(u => CorpusGen.docsOfUnit(p, u.toInt)).toDF()
    docs.write.parquet(dir)
  }

  def setup(c: Ctx): Unit = {
    val docs = c.spark.read.parquet(docsPath(c))
    val ents = c.trace.layer("extract", rows = (x: (DataFrame, Long)) => x._2) {
      val e = Extract.entities(docs).cache()
      (e, e.count())
    }._1
    features = c.trace.layer("dig",
      rows = (x: (Dataset[Feature], Long)) => x._2) {
      val f = Dig.features(c.spark, ents, cfg).cache()
      (f, f.count())
    }._1
    ents.unpersist(true)
  }

  def teardown(c: Ctx): Unit = features.unpersist(true)

  private def pyramid(c: Ctx, fmt: String, zMin: Int, zMax: Int) =
    Pyramid.tiles(c.spark, features, cfg, "tile", fmt, zMin, zMax).toDF()

  def warm(c: Ctx): Unit = {
    val mvt = pyramid(c, "mvt", 0, 14).cache()
    c.op("mvt pass")(digest(mvt)).foreach(c.verifyDigest("mvt_z0_14", _))
    c.op("wyrm pass")(digest(pyramid(c, "wyrm", 0, 12)))
      .foreach(c.verifyDigest("wyrm_z0_12", _))
    val n = if (c.args.tiny) 4 * ReqsPerRep else 16 * ReqsPerRep
    reqs = c.op("draw requests")(
      TileReqs.draw(c.args.seed, n, ReqZoom, mvt, mvt))
      .getOrElse(IndexedSeq.empty)
    mvt.unpersist(true)
    // the reps' own passes and a request once: the first noop pass is
    // 20-70% slower than the next ones, even right after the checked
    // passes above
    val (passes, requests) = rep(c, 0).partition(_.pass)
    (passes ++ requests.take(1)).foreach(_.run())
  }

  def layerPasses(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val cfgE = cfg
    val group = cfgE.groups.find(_.name == "tile").get
    val cover = Pyramid.coverJoin(spark, features, group, cfgE.tileExtent,
      "mvt", 0, 14)
    def pass(layer: String, df: => DataFrame) =
      c.op(layer)(c.trace.layer(layer, rows = identity[Long])(c.sink(df)))
    val covered = pass("tile.cover", cover.toDF())
    val encoded = pass("tile.encode", cover.mapPartitions { it =>
      val fe = new FeatureEncoder(cfgE, group, "mvt")
      it.flatMap(fe.encode)
    }.toDF())
    pass("tile.pyramid_lo", pyramid(c, "mvt", 0, Pyramid.SaltMaxZ))
    pass("tile.pyramid_hi", pyramid(c, "mvt", Pyramid.SaltMaxZ + 1, 14))
    for (n <- covered; k <- encoded if n > 0)
      c.counts("tile.encode.kept_ratio") = k.toDouble / n
    jobs(c)
  }

  /** The production path over the same corpus: `DigJob.run` → read the
    * features back → `PyramidJob.run` (MVT z0-14, fresh directory) →
    * `Query.lookupTile` on the written table. Checked: no batch skipped,
    * each zoom's manifest count equals its written rows, the written
    * table equals the pinned MVT pyramid, and every lookup returns the
    * tile's bytes (or nothing for an absent tile). */
  private def jobs(c: Ctx): Unit = {
    import c.spark.implicits._
    val out = s"${c.args.work}/jobs"
    Main.deleteTree(out)
    val docs = c.spark.read.parquet(docsPath(c))
    val built = for {
      _ <- c.op("dig job")(c.trace.layer("run.dig_job")(
        DigJob.run(c.spark, docs, cfg, s"$out/features")))
      feats = c.spark.read.parquet(s"$out/features").drop("cell")
        .as[Feature]
      res <- c.op("pyramid job")(c.trace.layer("run.pyramid_job",
        rows = (r: Seq[PyramidJob.BatchResult]) => r.map(_.tiles).sum)(
        PyramidJob.run(c.spark, feats, cfg, "tile", "mvt", 0, 14,
          s"$out/tiles")))
    } yield res
    built.foreach { res =>
      c.counts("run.pyramid_job.batches") = res.count(!_.skipped).toDouble
      c.verify("no pyramid batch skipped")(res.forall(!_.skipped))
      val table = c.spark.read.parquet(s"$out/tiles")
        .select("group", "z", "x", "y", "fmt", "bytes").cache()
      val written = table.groupBy("z").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      c.verify("manifest counts equal written counts")(res.forall { b =>
        val m = Files.readString(
          Paths.get(s"$out/tiles/_manifest/mvt_z${b.z}.json"))
        """"tiles":(\d+)""".r.findFirstMatchIn(m).map(_.group(1).toLong)
          .contains(b.tiles) && written.getOrElse(b.z, 0L) == b.tiles
      })
      c.verifyDigest("mvt_z0_14", digest(table))
      c.found ++= reqs.take(LookupsPerPass).flatMap(lookup(c, table, _))
      table.unpersist(true)
    }
    Main.deleteTree(out)
  }

  private def lookup(c: Ctx, t: DataFrame, q: TileReq): Option[Boolean] = {
    val path = ZxyPath.build("tile", TileId(q.z, q.x, q.y), "mvt")
    c.op("lookup")(c.trace.layer("query.lookup",
      rows = (r: Seq[Array[Byte]]) => r.length.toLong) {
      Query.lookupTile(t, path).select("bytes").collect().toSeq
        .map(_.getAs[Array[Byte]](0))
    }).map { g =>
      c.verify(s"lookup $path bytes")(TileReqs.matches(q, g))
      g.nonEmpty
    }
  }

  /** One single-tile render; returns its seconds. */
  private def request(c: Ctx, q: TileReq): Option[Double] =
    c.op("tile request")(timed {
      c.trace.layer("tile.single", rows = (r: Seq[Array[Byte]]) => r.length
        .toLong) {
        Pyramid.tile(c.spark, features, cfg, "tile", "mvt", q.z, q.x, q.y)
          .collect().toSeq.map(_.bytes)
      }
    }).map { case (g, sec) =>
      c.verify(s"tile ${q.z}/${q.x}/${q.y} bytes")(TileReqs.matches(q, g))
      sec
    }

  def partialReps: Boolean = true

  def rep(c: Ctx, i: Int): Seq[Step] = {
    def pass(fmt: String, zMax: Int) = Step(s"pass.$fmt", pass = true,
      request = false, () => c.op(s"$fmt pass")(
        timed(noop(pyramid(c, fmt, 0, zMax)))._2))
    // passes first: a run that ends inside its second rep then has a
    // second sample of the MVT pass, not only more requests
    Seq(pass("mvt", 14), pass("wyrm", 12)) ++ (0 until ReqsPerRep).flatMap {
      j => reqs.lift((i * ReqsPerRep + j) % reqs.length.max(1)).map(q =>
        Step("request", pass = false, request = true, () => request(c, q)))
    }
  }
}

object Pipeline {
  /** Timed in every rep: a pair op, a cluster op and an ANN op. */
  val Ops = Seq("dedup_simhash_pairs", "dedup_clusters", "ann_lsh_topk")
  /** Run once, in traced runs only, for their layer figures and checks:
    * timing them in every run would not fit the runs' time budget. */
  val TracedOps = Seq("knn_join", "dedup_minhash_pairs",
    "dedup_ngram_jaccard", "dedup_simhash_clusters", "ann_ivf2_topk")

  def layerOf(op: String): String =
    if (op == "knn_join") "query.knn_join" else s"pipeline.$op"
}

/** Dedup, ANN and kNN ops over sf0.1-shaped tables; no tile code runs.
  * One rep runs every op in [[Pipeline.Ops]] once, in a seeded order; each
  * op is a step that is both a pass and a request. The ops' outputs are
  * small, so each is collected and its digest checked after the op's
  * timed region. */
final class Pipeline extends Workload {

  private def dir(c: Ctx) =
    s"${c.args.inputs}/sf01${if (c.args.tiny) "_tiny" else ""}"

  def prepare(c: Ctx): Unit = Main.once(dir(c))(SynthTables.write(c.spark, _,
    if (c.args.tiny) SynthTables.Sf0001 else SynthTables.Sf01))

  /** Load every table the ops read, through the ops' own loaders
    * (`PipelineOps.documents` and `embeddings` spread small inputs over
    * the cores), each to the noop sink. */
  def setup(c: Ctx): Unit = {
    val d = dir(c)
    Seq("documents" -> PipelineOps.documents(c.spark, d),
      "embeddings" -> PipelineOps.embeddings(c.spark, d),
      "customer" -> c.spark.read.parquet(s"$d/customer.parquet"),
      "supplier" -> c.spark.read.parquet(s"$d/supplier.parquet"))
      .foreach { case (name, t) => c.trace.span(s"load.$name")(noop(t)) }
  }

  def teardown(c: Ctx): Unit = ()

  /** The first rep's ops, untimed and in its order: an op runs faster
    * right after itself, so each timed op then runs three ops after its
    * warm run, whatever the seed's order. */
  def warm(c: Ctx): Unit = rep(c, 0).foreach(_.run())

  def layerPasses(c: Ctx): Unit = Pipeline.TracedOps.foreach(run(c, _))

  /** Run one op and check its rows; returns its seconds. */
  private def run(c: Ctx, op: String): Option[Double] =
    c.op(op)(timed(c.trace.layer(Pipeline.layerOf(op),
      rows = (r: Array[Row]) => r.length.toLong)(
      SparkEntry.queries(op)(c.spark, dir(c)).collect())))
      .map { case (rows, sec) =>
        c.verifyDigest(op, Main.rowDigest(rows))
        sec
      }

  /** No: an op's second timed run was up to 45% faster than its first, so
    * a partial second round would mix two warm-up stages, in ops the seed
    * picks. */
  def partialReps: Boolean = false

  def rep(c: Ctx, i: Int): Seq[Step] =
    new scala.util.Random(c.args.seed * 7919 + i).shuffle(Pipeline.Ops)
      .map(op => Step(op, pass = true, request = true, () => run(c, op)))
}

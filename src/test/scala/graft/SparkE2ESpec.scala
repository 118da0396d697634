package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.{CorpusGen, SpanCodec}
import graft.model.{Doc, Feature, TileRow}
import graft.tile.Pyramid

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

object Norm {
  /** Canonical comparable key for a feature (arrays have reference
    * equality; doubles compared exactly — both sides use java.lang.Math). */
  def featKey(f: Feature): String = {
    val vals = f.values.map(v => if (v == null) "\u0000" else v)
      .mkString("\u0001")
    val rings = f.rings.map(r =>
      s"${r.outer}:${r.xs.mkString(",")};${r.ys.mkString(",")}")
      .mkString("|")
    s"${f.layer}/${f.kind_rank}/${f.id}/$vals/$rings/" +
      s"${f.xmin}/${f.ymin}/${f.xmax}/${f.ymax}"
  }

  def tileKey(t: TileRow): String =
    s"${t.group}/${t.z}/${t.x}/${t.y}.${t.fmt}:" +
      t.bytes.map("%02x".format(_)).mkString
}

object DigCorpora {
  import graft.model.{Member, OsmEntity}

  /** Entities whose dependency closure needs two rounds: a county relation
    * with a member relation that alone reaches a closed way, and a point
    * relation with a bare node member. */
  val nested: Seq[OsmEntity] = {
    def node(id: Long, lat: Double, lon: Double,
             tags: Map[String, String] = Map.empty) =
      OsmEntity("node", id, tags, Some(lat), Some(lon), Nil, Nil)
    val n = Seq(
      node(1, 45.0, -93.30), node(2, 45.01, -93.30),
      node(3, 45.01, -93.29), node(4, 45.0, -93.29),
      node(5, 45.02, -93.31), node(6, 45.03, -93.31),
      node(7, 45.03, -93.30),
      node(8, 45.005, -93.295)) // bare node, member of the POI relation
    // closed outer way of the county relation
    val w0 = OsmEntity("way", 100, Map.empty, None, None,
      Seq(1L, 2L, 3L, 4L, 1L), Nil)
    // closed way that is ONLY reachable via the nested member relation
    val w1 = OsmEntity("way", 101, Map.empty, None, None,
      Seq(5L, 6L, 7L, 5L), Nil)
    val r2 = OsmEntity("relation", 200, Map.empty, None, None, Nil,
      Seq(Member("outer", "way", 101)))
    val r1 = OsmEntity("relation", 201,
      Map("type" -> "boundary", "boundary" -> "administrative",
        "admin_level" -> "6", "name" -> "Nested County"), None, None, Nil,
      Seq(Member("outer", "way", 100), Member("subarea", "relation", 200)))
    // point-layer-matching relation with a node member: the node must
    // surface as a city_poi point feature via the closure
    val r3 = OsmEntity("relation", 202,
      Map("place" -> "city", "name" -> "Rel City"), None, None, Nil,
      Seq(Member("label", "node", 8)))
    n ++ Seq(w0, w1, r2, r1, r3)
  }

  def docsOf(ents: Seq[OsmEntity]): Seq[Doc] = ents.map(e => Doc(
    SpanCodec.docId(e.entity_kind, e.id),
    SpanCodec.encode(e, SpanCodec.seedOf(e.entity_kind, e.id), None)))
}

class SparkE2ESpec extends AnyFunSuite {
  import Norm._
  lazy val spark = TestSpark.spark

  private def docsDS(docs: Seq[Doc]) = {
    import spark.implicits._
    spark.createDataset(docs)
  }

  private val cfg = EngineCfg.default
  private val group = cfg.groups.head

  test("extract: Column-algebra decode == SpanCodec decode (per doc)") {
    import spark.implicits._
    val docs = CorpusGen.microDocs() ++
      CorpusGen.docsLocal(CorpusGen.small).take(500)
    val got = Extract.entities(docsDS(docs).toDF())
      .as[graft.model.OsmEntity].collect()
    val want = docs.flatMap(d => SpanCodec.decode(d.spans))
    def key(e: graft.model.OsmEntity): String =
      s"${e.entity_kind}/${e.id}/${e.tags.toSeq.sorted.mkString(",")}/" +
        s"${e.lat}/${e.lon}/${e.node_refs.mkString(",")}/" +
        e.members.mkString(",")
    assert(got.map(key).sorted.toSeq == want.map(key).sorted.toSeq)
  }

  test("span-sequence invariant holds over the Spark-extracted entities") {
    import spark.implicits._
    val docs = CorpusGen.docsLocal(CorpusGen.small)
    val byId = docs.map(d => d.doc_id -> d).toMap
    val ents = Extract.entities(docsDS(docs).toDF())
      .as[graft.model.OsmEntity].collect()
    assert(ents.length == docs.length)
    ents.foreach { e =>
      val doc = byId(SpanCodec.docId(e.entity_kind, e.id))
      val re = SpanCodec.encode(e, SpanCodec.seedOf(e.entity_kind, e.id),
        SpanCodec.mediaIdOf(doc.spans))
      assert(re.map(s => (s.kind, s.text, s.media_ref)) ==
        doc.spans.map(s => (s.kind, s.text, s.media_ref)))
    }
  }

  private def digSpark(docs: Seq[Doc]): Seq[Feature] = {
    val entities = Extract.entities(docsDS(docs).toDF()).cache()
    try Dig.features(spark, entities, cfg).collect().toSeq
    finally entities.unpersist()
  }

  test("dig on micro corpus matches the oracle feature-for-feature") {
    val docs = CorpusGen.microDocs()
    val got = digSpark(docs)
    val want = Oracle.dig(cfg,
      docs.flatMap(d => SpanCodec.decode(d.spans)))
    assert(got.map(featKey).sorted == want.map(featKey).sorted,
      s"\ngot=${got.map(featKey).sorted.mkString("\n")}\n" +
        s"want=${want.map(featKey).sorted.mkString("\n")}")
    // the micro corpus must exercise the interesting paths:
    assert(want.exists(f => f.layer == "county" && f.kind_rank == 2),
      "county relation feature")
    assert(want.exists(f => f.layer == "county" && f.kind_rank == 1),
      "G8 quirk: closed member way gets its own county feature")
    assert(!want.exists(f => f.kind_rank == 2 &&
      f.values.contains("Broken Micro")), "broken polygon dropped")
  }

  test("dig closure: node members + nested relation members (get_objs_and_deps parity)") {
    val ents = DigCorpora.nested
    val docs = DigCorpora.docsOf(ents)
    val got = digSpark(docs)
    val want = Oracle.dig(cfg, ents)
    assert(got.map(featKey).sorted == want.map(featKey).sorted,
      s"\ngot=${got.map(featKey).sorted.mkString("\n")}\n" +
        s"want=${want.map(featKey).sorted.mkString("\n")}")
    // the interesting rows actually exist:
    assert(want.exists(f => f.layer == "county" && f.kind_rank == 1 &&
      f.id == 101), "nested member relation's closed way → county feature")
    assert(want.exists(f => f.layer == "city_poi" && f.kind_rank == 0 &&
      f.id == 8), "relation node member → city_poi point feature")
  }

  test("dig on small corpus matches the oracle") {
    val docs = CorpusGen.docsLocal(CorpusGen.small)
    val got = digSpark(docs)
    val want = Oracle.dig(cfg,
      docs.flatMap(d => SpanCodec.decode(d.spans)))
    assert(got.size == want.size)
    assert(got.map(featKey).sorted == want.map(featKey).sorted)
  }

  private def pyramidSpark(docs: Seq[Doc], fmt: String, zMin: Int,
                           zMax: Int): Seq[TileRow] = {
    val entities = Extract.entities(docsDS(docs).toDF()).cache()
    try {
      val feats = Dig.features(spark, entities, cfg).cache()
      try Pyramid.tiles(spark, feats, cfg, "tile", fmt, zMin, zMax)
        .collect().toSeq
      finally feats.unpersist()
    } finally entities.unpersist()
  }

  test("micro pyramid (mvt, z0-16) matches oracle byte-for-byte") {
    val docs = CorpusGen.microDocs()
    val got = pyramidSpark(docs, "mvt", 0, 16)
    val want = Oracle.pyramid(
      Oracle.dig(cfg, docs.flatMap(d => SpanCodec.decode(d.spans))),
      cfg, group, "mvt", 0, 16)
    assert(got.map(tileKey).sorted == want.map(tileKey).sorted)
    assert(got.nonEmpty)
  }

  test("micro pyramid (wyrm, z0-16) matches oracle byte-for-byte") {
    val docs = CorpusGen.microDocs()
    val got = pyramidSpark(docs, "wyrm", 0, 16)
    val want = Oracle.pyramid(
      Oracle.dig(cfg, docs.flatMap(d => SpanCodec.decode(d.spans))),
      cfg, group, "wyrm", 0, 16)
    assert(got.map(tileKey).sorted == want.map(tileKey).sorted)
    assert(got.nonEmpty)
  }

  test("tile_test group pyramid (point layers, both formats) matches oracle") {
    val docs = CorpusGen.microDocs()
    val tg = cfg.groups.find(_.name == "tile_test").get
    Seq("mvt", "wyrm").foreach { fmt =>
      val entities = Extract.entities(docsDS(docs).toDF()).cache()
      val feats = Dig.features(spark, entities, cfg)
      val got = Pyramid.tiles(spark, feats, cfg, "tile_test", fmt, 0, 14)
        .collect().toSeq
      entities.unpersist()
      val want = Oracle.pyramid(
        Oracle.dig(cfg, docs.flatMap(d => SpanCodec.decode(d.spans))),
        cfg, tg, fmt, 0, 14)
      assert(got.map(tileKey).sorted == want.map(tileKey).sorted, fmt)
      assert(got.nonEmpty, fmt)
    }
  }

  test("small pyramid (mvt, z0-14) matches oracle; canonical tile present") {
    val docs = CorpusGen.docsLocal(CorpusGen.small)
    val got = pyramidSpark(docs, "mvt", 0, 14)
    val want = Oracle.pyramid(
      Oracle.dig(cfg, docs.flatMap(d => SpanCodec.decode(d.spans))),
      cfg, group, "mvt", 0, 14)
    assert(got.map(tileKey).sorted == want.map(tileKey).sorted)
    assert(got.exists(t => t.z == 14 && t.x == 3946 && t.y == 5895),
      "reference canonical example tile 14/3946/5895 must be produced")
  }
}

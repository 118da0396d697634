package graft

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import graft.core._
import graft.model.{Feature, OsmEntity, Ring, TileRow}
import graft.core.{MvtFeature, MvtLayer, MvtTile}
import graft.tile.Encode

/** Single-threaded, Spark-free implementation of the reference pipeline
  * (FIXTURES.md §5), kept deliberately close to the Rust structure
  * (/root/reference/wyrmcast/src/osm.rs) for auditability. All distributed
  * results are asserted against it. Geometry encode reuses the pure `core`
  * functions (those are pinned by the ported reference unit tests);
  * extraction, dependency closure, ordering, ring assembly, and the tile
  * cover are implemented HERE independently of the Spark code.
  */
object Oracle {

  private def kindRank(k: String): Int = k match {
    case "node" => 0
    case "way" => 1
    case _ => 2
  }

  /** ObjMap: BTreeMap<OsmId, OsmObj> analog — ordered by (kind, id)
    * (reference osm.rs:19; osmpbfreader OsmId sorts Node < Way <
    * Relation). */
  type ObjMap = TreeMap[(Int, Long), OsmEntity]

  private def checkObj(l: LayerDef, e: OsmEntity): Boolean = {
    val kindOk = l.geomTp match {
      case GeomTp.Polygon =>
        e.entity_kind == "relation" || e.entity_kind == "way"
      case _ => true
    }
    kindOk && l.checkTags(e.tags)
  }

  /** get_objs_and_deps analog: matching objects plus ALL their transitive
    * dependencies (relation members of any role, ways' nodes). */
  def extractLayer(all: Seq[OsmEntity], l: LayerDef): ObjMap = {
    val byKey = all.map(e => (kindRank(e.entity_kind), e.id) -> e).toMap
    var map = TreeMap.empty[(Int, Long), OsmEntity]
    val queue = mutable.Queue.empty[OsmEntity]
    all.filter(checkObj(l, _)).foreach(queue.enqueue(_))
    while (queue.nonEmpty) {
      val e = queue.dequeue()
      val k = (kindRank(e.entity_kind), e.id)
      if (!map.contains(k)) {
        map += (k -> e)
        e.node_refs.foreach { nid =>
          byKey.get((0, nid)).foreach(queue.enqueue(_))
        }
        e.members.foreach { m =>
          val r = m.ref_kind match {
            case "node" => 0; case "way" => 1; case _ => 2
          }
          byKey.get((r, m.ref_id)).foreach(queue.enqueue(_))
        }
      }
    }
    map
  }

  private def tagValues(l: LayerDef, id: Long,
                        tags: Map[String, String]): Seq[String] =
    l.includeTags.map { case (t, _) =>
      if (t == "osm_id") id.toString else tags.getOrElse(t, null)
    }

  /** lookup_nodes (osm.rs:191-205): empty on any miss. */
  private def lookupNodes(objs: ObjMap, nodes: Seq[Long])
      : Array[(Double, Double)] = {
    val out = new Array[(Double, Double)](nodes.length)
    var i = 0
    while (i < nodes.length) {
      objs.get((0, nodes(i))) match {
        case Some(n) =>
          val p = Mercator.project(n.lon.get, n.lat.get)
          out(i) = (p.x, p.y)
        case None => return Array.empty
      }
      i += 1
    }
    out
  }

  private def mkRing(outer: Boolean, pts: Array[(Double, Double)]): Ring =
    Ring(outer, pts.map(_._1), pts.map(_._2))

  private def feature(l: LayerDef, kr: Int, id: Long,
                      tags: Map[String, String], rings: Seq[Ring]): Feature = {
    val xs = rings.flatMap(_.xs); val ys = rings.flatMap(_.ys)
    Feature(l.name, kr, id, tagValues(l, id, tags), rings,
      if (xs.isEmpty) Double.MaxValue else xs.min,
      if (ys.isEmpty) Double.MaxValue else ys.min,
      if (xs.isEmpty) Double.MinValue else xs.max,
      if (ys.isEmpty) Double.MinValue else ys.max)
  }

  // ---- ring stitching: independent literal port (osm.rs:310-357) ----
  private def connectWays(ways: mutable.ArrayBuffer[Vector[Long]]): Boolean = {
    for (i <- 0 until ways.length - 1) {
      val a0 = ways(i).head; val a1 = ways(i).last
      for (j <- (i + 1) until ways.length) {
        val b0 = ways(j).head; val b1 = ways(j).last
        if (a0 == b0 || a0 == b1 || a1 == b0 || a1 == b1) {
          var way = ways(j)
          ways(j) = ways.last; ways.remove(ways.length - 1) // swap_remove
          if (a1 != b0 && a1 != b1) ways(i) = ways(i).reverse
          if (b1 == ways(i).last) way = way.reverse
          assert(way.head == ways(i).last)
          ways(i) = ways(i).init ++ way
          return true
        }
      }
    }
    false
  }

  private def findRing(ways: mutable.ArrayBuffer[Vector[Long]])
      : Option[Vector[Long]] = {
    for (i <- ways.indices) {
      if (ways(i).head == ways(i).last) {
        val r = ways(i)
        ways(i) = ways.last; ways.remove(ways.length - 1)
        return Some(r)
      }
    }
    None
  }

  private def relPolygon(objs: ObjMap, l: LayerDef, rel: OsmEntity)
      : Option[Feature] = {
    val ways = mutable.ArrayBuffer.empty[Vector[Long]]
    val rings = mutable.ArrayBuffer.empty[Ring]
    rel.members.foreach { m =>
      val outerOpt = m.role match {
        case "outer" => Some(true); case "inner" => Some(false); case _ => None
      }
      outerOpt.foreach { outer =>
        val nodes = objs.get((1, m.ref_id))
          .filter(w => m.ref_kind == "way" && w.node_refs.length > 1)
          .map(_.node_refs.toVector).getOrElse(Vector.empty)
        if (nodes.nonEmpty) {
          ways += nodes
          while (ways.length > 1 && connectWays(ways)) {}
          var ring = findRing(ways)
          while (ring.isDefined) {
            rings += mkRing(outer, lookupNodes(objs, ring.get))
            ring = findRing(ways)
          }
        }
      }
    }
    if (ways.nonEmpty) None
    else Some(feature(l, 2, rel.id, rel.tags, rings.toSeq))
  }

  /** make_geometry analog over the ObjMap, in BTreeMap order. */
  def makeFeatures(objs: ObjMap, l: LayerDef): Seq[Feature] = {
    val out = mutable.ArrayBuffer.empty[Feature]
    l.geomTp match {
      case GeomTp.Point =>
        objs.valuesIterator.filter(_.entity_kind == "node").foreach { n =>
          out += feature(l, 0, n.id, n.tags,
            Seq(mkRing(outer = true, lookupNodes(objs, Seq(n.id)))))
        }
      case GeomTp.Linestring =>
        objs.valuesIterator.filter(_.entity_kind == "way").foreach { w =>
          if (w.node_refs.nonEmpty)
            out += feature(l, 1, w.id, w.tags,
              Seq(mkRing(outer = true, lookupNodes(objs, w.node_refs))))
        }
      case GeomTp.Polygon =>
        objs.valuesIterator.foreach { e =>
          if (e.entity_kind == "relation" && l.checkTags(e.tags))
            relPolygon(objs, l, e).foreach(out += _)
          if (e.entity_kind == "way" && e.node_refs.length > 1 &&
              e.node_refs.head == e.node_refs.last)
            out += feature(l, 1, e.id, e.tags,
              Seq(mkRing(outer = true, lookupNodes(objs, e.node_refs))))
        }
    }
    out.toSeq
  }

  /** Full dig over all osm groups. */
  def dig(cfg: EngineCfg, entities: Seq[OsmEntity]): Seq[Feature] =
    cfg.groups.filter(_.osm).flatMap(_.layers.flatMap { l =>
      makeFeatures(extractLayer(entities, l), l)
    })

  // -------------------------------------------------------------- tiles

  private def featBBox(f: Feature): BBox =
    BBox(f.xmin, f.ymin, f.xmax, f.ymax)

  /** One tile, one format — linear-scan R-tree analog + shared encoders. */
  def tileBytes(features: Seq[Feature], cfgE: EngineCfg, group: LayerGroup,
                fmt: String, tid: TileId): Option[Array[Byte]] = {
    val margin = graft.tile.Pyramid.marginFor(fmt, tid.z)
    val tcfg = TileCfg(tid, cfgE.tileExtent, margin)
    if (fmt == "mvt") {
      val layerBytes = group.layers.flatMap { l =>
        if (!l.checkZoom(tid.z)) None
        else {
          val ml = new MvtLayer(l.name, cfgE.tileExtent)
          features.filter(f => f.layer == l.name &&
              featBBox(f).intersects(tcfg.bbox))
            .sortBy(f => (f.kind_rank, f.id))
            .foreach { f =>
              val cmds = Encode.mvtGeometry(l.geomTp, f.rings.toArray, tcfg)
              if (cmds.nonEmpty)
                ml.addFeature(MvtFeature(l.geomTp, cmds,
                  Encode.mvtTags(l, f.values)))
            }
          if (ml.numFeatures > 0) Some(ml.encode()) else None
        }
      }
      if (layerBytes.nonEmpty) Some(MvtTile.assemble(layerBytes))
      else None
    } else {
      var anyFound = false
      val sb = new StringBuilder
      group.layers.foreach { l =>
        if (l.checkZoom(tid.z)) {
          sb.append("<g class=\"").append(l.className(None)).append("\">")
          features.filter(f => f.layer == l.name &&
              featBBox(f).intersects(tcfg.bbox))
            .sortBy(f => (f.kind_rank, f.id))
            .foreach { f =>
              l.geomTp match {
                case GeomTp.Point =>
                  sb.append(Encode.wyrmPoint(l, f.values, f.rings, tcfg))
                  anyFound = true
                case tp =>
                  Encode.wyrmPath(l, group.osm, f.values, f.rings, tcfg,
                    closed = tp == GeomTp.Polygon)
                    .foreach { s => sb.append(s); anyFound = true }
              }
            }
          sb.append("</g>")
        }
      }
      if (anyFound) Some(sb.toString.getBytes("UTF-8")) else None
    }
  }

  /** Brute-force pyramid: enumerate every tile whose bbox could touch any
    * feature (no cover function involved — independent of the engine's
    * TileGrid.cover). */
  def pyramid(features: Seq[Feature], cfgE: EngineCfg, group: LayerGroup,
              fmt: String, zMin: Int, zMax: Int): Seq[TileRow] = {
    val out = mutable.ArrayBuffer.empty[TileRow]
    val valid = features.filter(f => f.xmin <= f.xmax)
    if (valid.isEmpty) return out.toSeq
    val gx0 = valid.map(_.xmin).min; val gx1 = valid.map(_.xmax).max
    val gy0 = valid.map(_.ymin).min; val gy1 = valid.map(_.ymax).max
    for (z <- zMin to zMax) {
      val span = TileGrid.tileSpan(z)
      val margin = graft.tile.Pyramid.marginFor(fmt, z)
      val m = margin.toDouble / cfgE.tileExtent * span
      val n = (1 << z) - 1
      def clampT(v: Long) = math.max(0L, math.min(n.toLong, v))
      val x0 = clampT(math.floor((gx0 - m + Mercator.HalfWorld) / span)
        .toLong - 1)
      val x1 = clampT(math.floor((gx1 + m + Mercator.HalfWorld) / span)
        .toLong + 1)
      val y0 = clampT(math.floor((Mercator.HalfWorld - gy1 - m) / span)
        .toLong - 1)
      val y1 = clampT(math.floor((Mercator.HalfWorld - gy0 + m) / span)
        .toLong + 1)
      for (y <- y0 to y1; x <- x0 to x1) {
        val tid = TileId(z, x.toInt, y.toInt)
        tileBytes(features, cfgE, group, fmt, tid).foreach { b =>
          out += TileRow(group.name, z, x.toInt, y.toInt, fmt, b)
        }
      }
    }
    out.toSeq
  }
}

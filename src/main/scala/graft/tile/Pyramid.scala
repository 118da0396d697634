package graft.tile

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions.when

import graft.core._
import graft.model.{Feature, TileRow}

/** One feature row carried into the per-feature encode stage. The layer
  * travels as its config RANK (int — the per-row string is gone) and tag
  * values + rings travel as ONE [[RingCodec.packFeat]] blob, so the
  * fanned-out row deserializes as primitives + a byte copy instead of a
  * boxed object graph per row (see RingCodec's scaladoc). */
final case class TileFeatRow(tile_id: Long, layer_rank: Int,
                             kind_rank: Int, id: Long,
                             packed: Array[Byte])

/** One PRE-ENCODED feature payload: the geometry work (clip / simplify /
  * transform / command encode) is done per-feature BEFORE the shuffle, so
  * the hot z0-2 tiles (a z0 tile covers the whole corpus) never serialize
  * encode work into one task. The shuffle representation is minimal: the
  * sort key rides as three primitives and EVERYTHING else —
  * pre-varinted geometry commands (~1-2 B per command vs 8 B of Long),
  * tag include-pattern indices + value strings, wyrm content — is one
  * [[PayloadCodec]] blob, so Catalyst (de)serializes the row as
  * primitives plus a byte copy on both sides of the pyramid's one
  * exchange. Key names and sint flags are re-derived from the layer
  * config at assembly. */
final case class FeatPayload(
    tile_id: Long, layer_rank: Int, kind_rank: Int, id: Long,
    blob: Array[Byte])

/** The batch tile-pyramid job (SURVEY.md §3.2 "Spark shape"):
  *
  *   features → flatMap (typed)  — per feature: the zoom gate P4 (resolved
  *                                  on the driver), one pack, then one row
  *                                  per tile of TileGrid.cover (J4, exact)
  *                                  at each active zoom
  *     → per-feature encode (map) — clip+simplify+commands, parallel;
  *                                  elided features leave no payload
  *     → groupByKey(tile_id)      — ONE shuffle: layer aggregation
  *                                  (A3) + tile assembly (A4/A5),
  *                                  feature order (kind_rank, id),
  *                                  layer order = config order
  *
  * Every zoom takes this same path, as in the reference (one R-tree
  * query per tile, then layer fold and assembly). Skew note: the only
  * per-tile serial work left after the per-feature encode is the payload
  * sort, dictionary interning and byte concatenation (O(bytes)); AQE
  * sizes the exchange.
  */
object Pyramid extends Serializable {

  /** MVT margin by zoom as a Column (mvtenc.rs:213-222). Only
    * [[graft.SparkEntry]] reads it, in its independent Column checks of
    * tile assignment: `tileContainment`, `ew_tile_assign`, `ew_tile_lookup`. */
  def mvtMarginCol(z: Column): Column =
    when(z <= 12, 8).when(z === 13, 16).when(z === 14, 32)
      .when(z === 15, 64).when(z === 16, 128).otherwise(256)

  def marginFor(fmt: String, z: Int): Int =
    if (fmt == "wyrm") TileGrid.WyrmMargin else TileGrid.mvtZoomMargin(z)

  /** The zoom gate (P4), resolved on the driver for both [[coverJoin]]
    * and [[tile]]: layer name → (config rank, first zoom, last zoom) of
    * every layer active somewhere in [zMin, zMax], its zoom range clipped
    * to that interval. One name may sit at several ranks. */
  private def activeRanks(group: LayerGroup, zMin: Int, zMax: Int)
      : Map[String, Seq[(Int, Int, Int)]] =
    group.layers.zipWithIndex.collect {
      case (l, rank) if l.zoom.zmin <= zMax && l.zoom.zmax >= zMin =>
        l.name -> (rank, math.max(l.zoom.zmin, zMin),
          math.min(l.zoom.zmax, zMax))
    }.groupMap(_._1)(_._2)

  /** Fan features out to (tile_id, layer, feature) rows for all zooms in
    * [zMin, zMax] where the layer is active, in one typed pass. */
  def coverJoin(spark: SparkSession, features: Dataset[Feature],
                group: LayerGroup, extent: Int, fmt: String,
                zMin: Int, zMax: Int): Dataset[TileFeatRow] = {
    import spark.implicits._
    val ranks = activeRanks(group, zMin, zMax)
    features.flatMap { f =>
      ranks.get(f.layer) match {
        case Some(rs) =>
          // pack values + rings ONCE per feature, before the fan-out
          val packed = RingCodec.packFeat(f.values, f.rings)
          val b = BBox(f.xmin, f.ymin, f.xmax, f.ymax)
          for {
            (rank, z0, z1) <- rs.iterator
            z <- (z0 to z1).iterator
            tileId <- TileGrid.cover(z, b, extent, marginFor(fmt, z)).iterator
          } yield TileFeatRow(tileId, rank, f.kind_rank, f.id, packed)
        case None => Iterator.empty
      }
    }
  }

  /** Assemble one tile from its pre-encoded features, STREAMING over an
    * iterator already sorted by (layer_rank, kind_rank, id) — no
    * materialization of the feature set (A3 + A4/A5). Memory is bounded by
    * the output tile bytes (one layer buffer + the assembled blob), not by
    * the feature count. [[FeatureEncoder]] already elided every feature
    * that has nothing to draw in this tile, so each payload is one
    * feature, and a tile is emitted iff it has a payload. MVT layers
    * encode into `pool`, the task's reused [[MvtLayer]]; wyrm passes
    * null. */
  def assembleSorted(group: LayerGroup, fmt: String, groupName: String,
                     tileId: Long, sorted: Iterator[FeatPayload],
                     pool: MvtLayer): Iterator[TileRow] = {
    if (!sorted.hasNext) return Iterator.empty
    val tid = TileId.unpack(tileId)
    val bytes = if (fmt == "mvt") {
      val layerBytes = scala.collection.mutable.ArrayBuffer
        .empty[Array[Byte]]
      var curRank = -1
      sorted.foreach { p =>
        if (p.layer_rank != curRank) {
          if (curRank >= 0) layerBytes += pool.encode()
          curRank = p.layer_rank
          // resetFor ≡ fresh dictionaries, so reusing the pool across
          // every (tile, layer) of the task keeps the bytes
          pool.resetFor(group.layers(curRank).name)
        }
        val layer = group.layers(curRank)
        val v = new PayloadCodec.View(p.blob)
        pool.beginTags()
        var j = 0
        while (j < v.nTags) {
          val (tag, sint) = layer.includeTags(v.tagIdx(j))
          val s = v.tagVal(j)
          pool.addTag(tag,
            if (sint) java.lang.Long.valueOf(s.toLong) else s)
          j += 1
        }
        pool.endFeature(layer.geomTp, p.blob, v.geomOff, v.geomLen)
      }
      layerBytes += pool.encode()
      MvtTile.assemble(layerBytes.toSeq)
    } else {
      // every zoom-active layer gets a <g>, present or not
      // (wyrmenc.rs:62-87)
      val sb = new StringBuilder
      var nextLayer = 0 // first layer whose <g> has not been emitted yet
      def emitEmptyUpTo(rank: Int): Unit = while (nextLayer < rank) {
        val l = group.layers(nextLayer)
        if (l.checkZoom(tid.z))
          sb.append("<g class=\"").append(l.className(None))
            .append("\"></g>")
        nextLayer += 1
      }
      sorted.foreach { p =>
        if (p.layer_rank >= nextLayer) {
          if (nextLayer > 0) sb.append("</g>")
          emitEmptyUpTo(p.layer_rank)
          // payloads only exist for zoom-active layers (coverJoin gates)
          sb.append("<g class=\"")
            .append(group.layers(p.layer_rank).className(None))
            .append("\">")
          nextLayer = p.layer_rank + 1
        }
        sb.append(new PayloadCodec.View(p.blob).content)
      }
      sb.append("</g>")
      emitEmptyUpTo(group.layers.length)
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    Iterator(TileRow(groupName, tid.z, tid.x, tid.y, fmt, bytes))
  }

  /** Allocation-free (layer_rank, kind_rank, id) ordering — sortBy/
    * Ordering.by would box a tuple per comparison in the hottest reduce
    * loop. Keys are unique per tile, so the order is total. */
  private val payloadOrd: java.util.Comparator[FeatPayload] =
    new java.util.Comparator[FeatPayload] with Serializable {
      override def compare(a: FeatPayload, b: FeatPayload): Int = {
        if (a.layer_rank != b.layer_rank)
          return Integer.compare(a.layer_rank, b.layer_rank)
        if (a.kind_rank != b.kind_rank)
          return Integer.compare(a.kind_rank, b.kind_rank)
        java.lang.Long.compare(a.id, b.id)
      }
    }

  private def sortPayloads(arr: Array[FeatPayload]): Array[FeatPayload] = {
    java.util.Arrays.sort(arr, payloadOrd)
    arr
  }

  /** Kept only because the repo benchmark
    * (`perfbench/src/graft/perfbench/Workloads.scala`) splits its traced
    * pyramid passes here — `tile.pyramid_lo` is z0..8, `tile.pyramid_hi`
    * z9..14 — and the benchmark's files change only with the benchmark.
    * [[tiles]] has one path for every zoom and does not read it. */
  val SaltMaxZ = 8

  /** Full pyramid for one group + format, one path for every zoom in
    * [zMin, zMax]: per-feature encode, ONE shuffle — groupByKey(tile_id)
    * — then sort the tile's payloads by (layer_rank, kind_rank, id) and
    * stream-assemble them.
    *
    * Memory: a tile's task receives every pre-encoded payload of that
    * tile, so the bound is the encoded payload bytes of the hottest tile
    * (a z0 tile holds only what the config's zoom gates admit at z0,
    * exactly as in the reference). Payloads arrive pre-varinted
    * (~1-2 B/command), so that is the OUTPUT tile size ×~1, not the raw
    * geometry size.
    */
  def tiles(spark: SparkSession, features: Dataset[Feature], cfgE: EngineCfg,
            groupName: String, fmt: String, zMin: Int, zMax: Int)
      : Dataset[TileRow] = {
    import spark.implicits._
    // fail fast at the job boundary (TileGrid.cover would throw the same
    // per-row, but a plan-build-time error is the friendly surface)
    require(zMin >= 0 && zMax <= TileId.MaxZ,
      s"pyramid zoom range [$zMin,$zMax] outside packed TileId range " +
        s"[0, ${TileId.MaxZ}] — z30 (reference config max) cannot be " +
        "materialized with the 5+29+29-bit packing")
    val group = cfgE.groups.find(_.name == groupName).get
    coverJoin(spark, features, group, cfgE.tileExtent, fmt, zMin, zMax)
      .mapPartitions { it =>
        // one reusable encoder per partition (buffers amortized across
        // every (feature, zoom, tile) row — see FeatureEncoder)
        val fe = new FeatureEncoder(cfgE, group, fmt)
        it.flatMap(fe.encode)
      }
      .groupByKey(_.tile_id)
      .flatMapGroups(new AssembleSingles(cfgE, group, fmt, groupName))
  }

  /** Single-tile render (S8's production shape; the reference answers
    * `GET /{group}/{z}/{x}/{tail}` with one R-tree `query(bbox)`): ONE
    * Spark job with no exchange.
    *
    *   - zoom gate, resolved on the driver by the helper [[coverJoin]]
    *     uses: layer name → config ranks of the layers active at `z`;
    *   - one narrow pass over `features` keeps a feature only if its layer
    *     passes the gate and [[TileGrid.covers]] holds — the exact
    *     per-tile form of the pyramid's [[TileGrid.cover]] — and encodes it
    *     map-side with the pyramid's [[FeatureEncoder]];
    *   - the tile's payloads (bounded by its output bytes) are collected,
    *     sorted and assembled on the driver.
    *
    * The call is eager: the returned Dataset is a local relation of zero
    * rows (no covering feature, or only zoom-gated ones) or one. Bytes are
    * identical to the pyramid's tile by construction: same encoder, same
    * (layer_rank, kind_rank, id) order, same assembler. */
  def tile(spark: SparkSession, features: Dataset[Feature],
           cfgE: EngineCfg, groupName: String, fmt: String,
           z: Int, x: Int, y: Int): Dataset[TileRow] = {
    import spark.implicits._
    val group = cfgE.groups.find(_.name == groupName).get
    val tid = TileId.pack(z, x, y)
    val extent = cfgE.tileExtent
    val margin = marginFor(fmt, z)
    val ranks = activeRanks(group, z, z)
    val payloads = features.mapPartitions { it =>
      val fe = new FeatureEncoder(cfgE, group, fmt)
      it.flatMap { f =>
        ranks.get(f.layer) match {
          case Some(rs) if TileGrid.covers(z, x, y,
              BBox(f.xmin, f.ymin, f.xmax, f.ymax), extent, margin) =>
            val packed = RingCodec.packFeat(f.values, f.rings)
            rs.iterator.flatMap { case (rank, _, _) =>
              fe.encode(TileFeatRow(tid, rank, f.kind_rank, f.id, packed))
            }
          case _ => Iterator.empty
        }
      }
    }.collect()
    val pool = if (fmt == "mvt") new MvtLayer("", extent) else null
    spark.createDataset(assembleSorted(group, fmt, groupName, tid,
      sortPayloads(payloads).iterator, pool).toSeq)
  }

  /** flatMapGroups functions as named classes so each TASK (one
    * deserialized instance per task closure) can hold a pooled
    * [[MvtLayer]] reused across every (tile, layer) of the task —
    * builder construction per (tile, layer) was ~4% of serial assembly
    * CPU in a pv6 JFR profile. `resetFor` ≡ fresh dictionaries, so the
    * bytes are identical (pinned by the sbt Oracle byte-parity suite). */
  private final class AssembleSingles(cfgE: EngineCfg, group: LayerGroup,
                                      fmt: String, groupName: String)
      extends ((Long, Iterator[FeatPayload]) => Iterator[TileRow])
      with Serializable {
    @transient private lazy val pool =
      if (fmt == "mvt") new MvtLayer("", cfgE.tileExtent) else null
    def apply(tid: Long, rows: Iterator[FeatPayload]): Iterator[TileRow] =
      assembleSorted(group, fmt, groupName, tid,
        sortPayloads(rows.toArray).iterator, pool)
  }

}

/** Reusable per-partition feature encoder — the engine's map-side hot
  * path, one instance per `mapPartitions` closure, and the one place
  * that decides whether a feature appears in a tile: `encode` returns
  * None when it is elided (empty MVT geometry; no wyrm ring bbox meets the
  * tile), as the reference's encoders skip it. A pv6 JFR profile put
  * ~15% of serial pyramid CPU in per-row overhead this class removes:
  * a fresh ProtoWriter + MvtGeomEncoder per (feature, zoom, tile) row
  * (allocation + GC), the boxed command buffer, and the UTF-8 → String →
  * UTF-8 round trip for tag values. MVT tag values travel as raw
  * byte slices from the [[RingCodec.packFeat]] blob straight into the
  * payload ([[RingCodec.unpackFeatRaw]] → [[Encode.mvtTagSlices]] →
  * [[PayloadCodec.packRaw]]); the wyrm branch decodes Strings (its
  * SVG rendering consumes them). Byte parity with the reference shape is
  * pinned by the sbt Oracle suite (z0-16 byte-exact). */
final class FeatureEncoder(cfgE: EngineCfg, group: LayerGroup, fmt: String)
    extends Serializable {
  @transient private lazy val gw = new ProtoWriter
  @transient private lazy val ge =
    new MvtGeomEncoder(GeomTp.Point, BBox(0, 0, 0, 0), Affine())

  def encode(r: TileFeatRow): Option[FeatPayload] = {
    val layer = group.layers(r.layer_rank)
    val tid = TileId.unpack(r.tile_id)
    val tcfg = TileCfg(tid, cfgE.tileExtent,
      Pyramid.marginFor(fmt, tid.z))
    val blob = if (fmt == "mvt") {
      val (valOff, rings) = RingCodec.unpackFeatRaw(r.packed)
      ge.reset(layer.geomTp, tcfg.bbox, tcfg.transform)
      Encode.mvtAddRings(ge, layer.geomTp, rings, tcfg)
      val cmds = ge.encode()
      if (cmds.isEmpty) None
      else {
        gw.reset()
        var ci = 0
        while (ci < cmds.length) { gw.writeVarint(cmds(ci)); ci += 1 }
        val (tagIdx, tagOff) = Encode.mvtTagSlices(layer, r.packed, valOff)
        Some(PayloadCodec.packRaw(gw.buffer, gw.size, tagIdx, tagOff,
          r.packed))
      }
    } else {
      val (values, rings) = RingCodec.unpackFeat(r.packed)
      val content = layer.geomTp match {
        case GeomTp.Point =>
          Some(Encode.wyrmPoint(layer, values, rings, tcfg))
        case tp =>
          Encode.wyrmPath(layer, group.osm, values, rings, tcfg,
            closed = tp == GeomTp.Polygon)
      }
      content.map(PayloadCodec.packWyrm)
    }
    blob.map(FeatPayload(r.tile_id, r.layer_rank, r.kind_rank, r.id, _))
  }
}

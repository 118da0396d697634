package graft.ingest

import graft.model.{Doc, Member, OsmEntity}
import scala.collection.mutable

/** Deterministic synthetic corpus generator (FIXTURES.md §3). Generation is
  * pure per "unit" (a grid cell or a county), keyed only by the unit index,
  * so it can run distributed (`spark.range(units).flatMap(genUnit)`) at any
  * scale with no coordination — the same function feeds the driver-side
  * oracle at small scale. No wall-clock, no external data; seed fixed.
  *
  * Geography: a lon/lat grid around (-93.3, 45.0) so the reference's
  * canonical example tile 14/3946/5895
  * (/root/reference/wyrmcast/examples/make_mvt.rs:26-28) is non-empty.
  */
object CorpusGen {
  import SpanCodec.mix64

  /** Corpus parameters. `skew` clusters 80% of cells into one z8 tile
    * (one hot tile per low zoom in the pyramid's groupByKey(tile_id)
    * exchange at the bench scale). */
  final case class Params(
      nx: Int, ny: Int,
      countyCols: Int, countyRows: Int,
      lon0: Double = -93.6, lat0: Double = 44.8,
      dlon: Double = 0.03, dlat: Double = 0.025,
      skew: Boolean = false)

  val small: Params = Params(nx = 20, ny = 16, countyCols = 4, countyRows = 3)
  val bench: Params =
    Params(nx = 120, ny = 100, countyCols = 12, countyRows = 10, skew = true)

  def unitCount(p: Params): Int = p.nx * p.ny + p.countyCols * p.countyRows

  private def r7(v: Double): Double = math.rint(v * 1e7) / 1e7

  /** Entity builder with deterministic per-unit id ranges. */
  private final class B(unit: Long) {
    val out = mutable.ArrayBuffer.empty[(OsmEntity, Option[Long])]
    private var nodeSeq = 0L
    private var waySeq = 0L
    private var relSeq = 0L

    def node(lat: Double, lon: Double,
             tags: Map[String, String] = Map.empty,
             media: Option[Long] = None): Long = {
      val id = unit * 100000L + nodeSeq; nodeSeq += 1
      out += ((OsmEntity("node", id, tags, Some(r7(lat)), Some(r7(lon)),
        Nil, Nil), media))
      id
    }

    def way(refs: Seq[Long], tags: Map[String, String] = Map.empty): Long = {
      val id = 1000000000000L + unit * 1000L + waySeq; waySeq += 1
      out += ((OsmEntity("way", id, tags, None, None, refs, Nil), None))
      id
    }

    def rel(members: Seq[Member], tags: Map[String, String]): Long = {
      val id = 2000000000000L + unit * 100L + relSeq; relSeq += 1
      out += ((OsmEntity("relation", id, tags, None, None, Nil, members),
        None))
      id
    }

    /** Perimeter node ids of a closed rectangle (clockwise from SW),
      * first repeated at the end. */
    def rectRing(latA: Double, lonA: Double, latB: Double, lonB: Double)
        : Seq[Long] = {
      val pts = Seq(
        (latA, lonA), (latB, lonA), (latB, (lonA + lonB) / 2),
        (latB, lonB), (latA, lonB), (latA, (lonA + lonB) / 2))
      val ids = pts.map { case (la, lo) => node(la, lo) }
      ids :+ ids.head
    }
  }

  /** Cell center with optional skew remap. */
  private def cellCenter(p: Params, i: Int, j: Int): (Double, Double) = {
    val h = mix64(i.toLong * 7321L + j.toLong)
    if (p.skew && (math.abs(h) % 10) < 8) {
      // 80% of cells densely packed into ~0.2°×0.15° (inside one z8 tile)
      val fx = (math.abs(mix64(h + 1)) % 10000) / 10000.0
      val fy = (math.abs(mix64(h + 2)) % 10000) / 10000.0
      (-93.4 + fx * 0.2, 44.9 + fy * 0.15)
    } else if (p.skew) {
      val fx = (math.abs(mix64(h + 3)) % 10000) / 10000.0
      val fy = (math.abs(mix64(h + 4)) % 10000) / 10000.0
      (-120.0 + fx * 60.0, 30.0 + fy * 20.0)
    } else {
      (p.lon0 + (i + 0.5) * p.dlon, p.lat0 + (j + 0.5) * p.dlat)
    }
  }

  /** Generate all entities for one unit. Units [0, nx·ny) are grid cells;
    * the rest are counties. */
  def genUnit(p: Params, unit: Int): Seq[(OsmEntity, Option[Long])] = {
    val b = new B(unit.toLong + 1)
    if (unit < p.nx * p.ny) genCell(p, unit, b)
    else genCounty(p, unit - p.nx * p.ny, b)
    b.out.toSeq
  }

  private def genCell(p: Params, cell: Int, b: B): Unit = {
    val i = cell % p.nx
    val j = cell / p.nx
    val (clon, clat) = cellCenter(p, i, j)
    val h = mix64(cell.toLong * 40503L + 7L)
    val w = p.dlon; val ht = p.dlat

    // lake / pond / plain-water closed way (polygon layers via way_polygon)
    val waterKind = (math.abs(h) % 4).toInt match {
      case 0 => "lake"; case 1 => "pond"; case 2 => "oxbow"; case 3 => "ditch"
    }
    val ring = b.rectRing(clat - ht * 0.15, clon - w * 0.15,
      clat + ht * 0.15, clon + w * 0.15)
    b.way(ring, Map("natural" -> "water", "water" -> waterKind,
      "name" -> s"Water $cell"))

    // highway polyline crossing the cell east-west — all 8 reference road
    // layers (motorway..path) appear across cells
    val roadTags = (math.abs(mix64(h + 11)) % 8).toInt match {
      case 0 => Map("highway" -> "motorway", "ref" -> s"I-${cell % 694}")
      case 1 => Map("highway" -> "trunk", "ref" -> s"US-${cell % 400}")
      case 2 => Map("highway" -> "primary", "ref" -> s"MN-${cell % 300}")
      case 3 => Map("highway" -> "secondary", "ref" -> s"CR-${cell % 200}")
      case 4 => Map("highway" -> "tertiary", "ref" -> s"T-${cell % 150}")
      case 5 => Map("highway" -> "residential")
      case 6 => Map("highway" -> "footway")
      case 7 => Map("highway" -> "service")
    }
    val roadNodes = (0 to 4).map { k =>
      val t = k / 4.0
      b.node(clat + 0.3 * ht * math.sin(t * 3.0 + (h % 7)),
        clon - w * 0.6 + t * w * 1.2)
    }
    b.way(roadNodes, roadTags + ("name" -> s"Road $cell"))

    // landuse / amenity / leisure polygon (agriculture, commercial,
    // parking, cemetery, leisure layers; "grass" matches nothing)
    val landTags = (math.abs(mix64(h + 37)) % 6).toInt match {
      case 0 => Map("landuse" -> "farmland")
      case 1 => Map("landuse" -> "retail")
      case 2 => Map("amenity" -> "parking")
      case 3 => Map("landuse" -> "cemetery")
      case 4 => Map("leisure" -> "park")
      case 5 => Map("landuse" -> "grass")
    }
    val lring = b.rectRing(clat + ht * 0.18, clon - w * 0.4,
      clat + ht * 0.28, clon - w * 0.25)
    b.way(lring, landTags + ("name" -> s"Land $cell"))

    // railway line on a quarter of the cells
    if ((math.abs(mix64(h + 41)) % 4) == 0) {
      val r1 = b.node(clat - 0.4 * ht, clon - w * 0.5)
      val r2 = b.node(clat - 0.35 * ht, clon + w * 0.5)
      b.way(Seq(r1, r2), Map("railway" -> "rail"))
    }

    // point of interest (place=city|town, name, rotate)
    val place = if ((math.abs(mix64(h + 13)) % 2) == 0) "city" else "town"
    val rot = ((math.abs(mix64(h + 17)) % 360) - 180).toString
    val media =
      if ((math.abs(mix64(h + 23)) % 8) == 0) Some(cell.toLong) else None
    b.node(clat + 0.05 * ht, clon + 0.05 * w,
      Map("place" -> place, "name" -> s"City $cell", "rotate" -> rot), media)

    // building (bare-tag existence pattern; zoom 15+)
    val bring = b.rectRing(clat - ht * 0.04, clon + w * 0.25,
      clat + ht * 0.04, clon + w * 0.35)
    b.way(bring, Map("building" -> "yes"))

    // occasional wetland (polygon)
    if ((math.abs(mix64(h + 29)) % 5) == 0) {
      val wring = b.rectRing(clat - ht * 0.3, clon - w * 0.45,
        clat - ht * 0.2, clon - w * 0.3)
      b.way(wring, Map("natural" -> "wetland", "name" -> s"Wetland $cell"))
    }
  }

  private def genCounty(p: Params, c: Int, b: B): Unit = {
    val ci = c % p.countyCols
    val cj = c / p.countyCols
    val w = p.nx * p.dlon / p.countyCols
    val ht = p.ny * p.dlat / p.countyRows
    val lonA = p.lon0 + ci * w; val lonB = lonA + w
    val latA = p.lat0 + cj * ht; val latB = latA + ht
    val h = mix64(c.toLong * 104729L + 13L)

    // Outer boundary as 3 OPEN member ways (one deliberately reversed),
    // presented in shuffled member order — exercises ring stitching
    // (reference osm.rs:310-350).
    val sw = b.node(latA, lonA); val nw = b.node(latB, lonA)
    val nm = b.node(latB, (lonA + lonB) / 2); val ne = b.node(latB, lonB)
    val se = b.node(latA, lonB); val sm = b.node(latA, (lonA + lonB) / 2)
    val wayA = b.way(Seq(sw, nw, nm), Map("boundary" -> "administrative"))
    val wayB = b.way(Seq(ne, nm), Map.empty) // reversed orientation
    val wayC = b.way(Seq(ne, se, sm, sw), Map.empty)
    // inner hole: one closed member way — ALSO becomes its own polygon
    // feature via the reference's unfiltered way_polygon quirk (G8,
    // osm.rs:270-286)
    val hole = b.rectRing(latA + ht * 0.3, lonA + w * 0.3,
      latA + ht * 0.45, lonA + w * 0.45)
    val holeWay = b.way(hole, Map("natural" -> "scrub"))
    // a role=other closed way member: skipped by ring assembly but still a
    // dependency → its own feature too
    val other = b.rectRing(latA + ht * 0.6, lonA + w * 0.6,
      latA + ht * 0.7, lonA + w * 0.7)
    val otherWay = b.way(other, Map("landuse" -> "grass"))

    val members0 = Seq(
      Member("outer", "way", wayA), Member("outer", "way", wayB),
      Member("outer", "way", wayC), Member("inner", "way", holeWay),
      Member("other", "way", otherWay))
    // deterministic shuffle of member order
    val members = members0.zipWithIndex
      .sortBy { case (_, i) => mix64(h + i) }.map(_._1)
    val admin = if ((math.abs(h) % 4) == 0) "8" else "6"
    b.rel(members, Map("type" -> "boundary",
      "boundary" -> "administrative", "admin_level" -> admin,
      "name" -> s"County $c"))

    // a broken polygon relation (unclosed ring → dropped,
    // reference osm.rs:152-157)
    if ((math.abs(mix64(h + 31)) % 3) == 0) {
      val b1 = b.node(latA + ht * 0.8, lonA + w * 0.1)
      val b2 = b.node(latA + ht * 0.9, lonA + w * 0.1)
      val b3 = b.node(latA + ht * 0.9, lonA + w * 0.2)
      val bw = b.way(Seq(b1, b2, b3), Map.empty)
      b.rel(Seq(Member("outer", "way", bw)),
        Map("type" -> "boundary", "boundary" -> "administrative",
          "admin_level" -> "6", "name" -> s"Broken $c"))
    }
  }

  /** Docs for one unit. */
  def docsOfUnit(p: Params, unit: Int): Seq[Doc] =
    genUnit(p, unit).map { case (e, media) =>
      Doc(SpanCodec.docId(e.entity_kind, e.id),
        SpanCodec.encode(e, SpanCodec.seedOf(e.entity_kind, e.id), media))
    }

  /** Whole corpus, driver-side (for the oracle / tests). */
  def docsLocal(p: Params): Seq[Doc] =
    (0 until unitCount(p)).flatMap(u => docsOfUnit(p, u))

  /** Entities (decoded view), driver-side — for the single-node oracle. */
  def entitiesLocal(p: Params): Seq[OsmEntity] =
    (0 until unitCount(p)).flatMap(u => genUnit(p, u).map(_._1))

  // ---------------------------------------------------------------------
  // micro corpus: hand-built edge cases (FIXTURES.md §3)
  // ---------------------------------------------------------------------
  def microDocs(): Seq[Doc] = {
    val b = new B(9999999L)
    // county relation: 3 outer ways (one reversed), an inner ring of 2 ways,
    // shuffled member order
    val p1 = b.node(45.0000000, -93.3000000)
    val p2 = b.node(45.0100000, -93.3000000)
    val p3 = b.node(45.0100000, -93.2800000)
    val p4 = b.node(45.0000000, -93.2800000)
    val wA = b.way(Seq(p1, p2), Map.empty)
    val wB = b.way(Seq(p3, p2), Map.empty) // reversed
    val wC = b.way(Seq(p3, p4, p1), Map.empty)
    val i1 = b.node(45.0030000, -93.2950000)
    val i2 = b.node(45.0060000, -93.2950000)
    val i3 = b.node(45.0060000, -93.2900000)
    val i4 = b.node(45.0030000, -93.2900000)
    val wI1 = b.way(Seq(i1, i2, i3), Map.empty)
    val wI2 = b.way(Seq(i3, i4, i1), Map.empty)
    // a CLOSED, non-matching member way (role=other): skipped by ring
    // assembly but — G8 quirk — becomes its own county polygon feature
    val och = b.rectRing(45.0070000, -93.2870000, 45.0080000, -93.2860000)
    val wOther = b.way(och, Map("landuse" -> "grass"))
    b.rel(Seq(Member("inner", "way", wI1), Member("outer", "way", wA),
      Member("outer", "way", wC), Member("inner", "way", wI2),
      Member("other", "way", wOther), Member("outer", "way", wB)),
      Map("type" -> "boundary", "boundary" -> "administrative",
        "admin_level" -> "6", "name" -> "Micro County"))
    // closed way matching `building` (bare-tag pattern)
    val br = b.rectRing(45.0010000, -93.2990000, 45.0020000, -93.2980000)
    b.way(br, Map("building" -> "shed", "name" -> "Shed"))
    // non-matching closed relation-member way — G8 dependency-way quirk
    // (covered above by the county's inner ways)
    // motorways crossing tile edges (clip G1/G4)
    val m1 = b.node(45.0050000, -93.4000000)
    val m2 = b.node(45.0050000, -93.2000000)
    val m3 = b.node(44.9950000, -93.1000000)
    b.way(Seq(m1, m2, m3),
      Map("highway" -> "motorway", "name" -> "I-94", "ref" -> "I-94"))
    // broken relation (unclosed → dropped)
    val x1 = b.node(44.9900000, -93.3100000)
    val x2 = b.node(44.9950000, -93.3100000)
    val x3 = b.node(44.9950000, -93.3050000)
    val wX = b.way(Seq(x1, x2, x3), Map.empty)
    b.rel(Seq(Member("outer", "way", wX)),
      Map("type" -> "boundary", "boundary" -> "administrative",
        "admin_level" -> "6", "name" -> "Broken Micro"))
    // POI with name/rotate + media span
    b.node(45.0055000, -93.2955000,
      Map("place" -> "city", "name" -> "Micro Ville", "rotate" -> "45"),
      Some(7L))
    // lake closed way
    val lr = b.rectRing(44.9980000, -93.2970000, 44.9995000, -93.2940000)
    b.way(lr, Map("natural" -> "water", "water" -> "lake",
      "name" -> "Micro Lake"))
    b.out.toSeq.map { case (e, media) =>
      Doc(SpanCodec.docId(e.entity_kind, e.id),
        SpanCodec.encode(e, SpanCodec.seedOf(e.entity_kind, e.id), media))
    }
  }
}

package graft.ingest

import graft.model.{Member, OsmEntity, Span}
import scala.collection.mutable

/** Entity ↔ span-sequence codec for the interleaved document table
  * (FIXTURES.md §1). The per-row invariant asserted in tests: re-encoding a
  * decoded entity (with the same noise seed) reproduces the span sequence
  * exactly on (kind, text, media_ref, order).
  *
  * Span kinds:
  *   meta   "node 123" | "way 456" | "relation 789"   (first payload span)
  *   coord  "<lat> <lon>" (%.7f, nodes only, exactly one)
  *   ref    "<node_id>" (way node refs, in order)
  *   member "<role> way <way_id>" (relation members, in order)
  *   tag    "<key>=<value>"
  *   note   free text noise (interleaved, round-trips untouched)
  *   media  caption; media_ref = "raster:{id}"
  */
object SpanCodec {

  /** Deterministic splitmix64 step (platform-independent PRNG). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val noiseWords = Vector("lorem", "ipsum", "dolor", "sit", "amet",
    "consectetur", "adipiscing", "elit", "sed", "do", "eiusmod", "tempor")

  private def noiseText(seed: Long): String = {
    val n = 2 + (math.abs(mix64(seed)) % 5).toInt
    (0 until n).map { i =>
      noiseWords((math.abs(mix64(seed + i + 1)) % noiseWords.size).toInt)
    }.mkString(" ")
  }

  def docId(kind: String, id: Long): String = s"d:$kind:$id"

  /** Canonical noise seed for an entity — derivable from the doc alone, so
    * the round-trip invariant (decode → re-encode == original spans) can be
    * asserted over any corpus row. */
  def seedOf(kind: String, id: Long): Long =
    mix64(id * 31L + kind.hashCode.toLong)

  /** Media id carried by a doc's media span, if any (media_ref is
    * "raster:{id}"). */
  def mediaIdOf(spans: Seq[Span]): Option[Long] =
    spans.find(_.kind == "media")
      .map(_.media_ref.stripPrefix("raster:").toLong)

  /** Encode an entity to its span sequence, deterministically interleaving
    * `note` spans (and `media` spans when `mediaId` is set) at positions
    * seeded by the entity id. Offsets are strictly increasing. */
  def encode(e: OsmEntity, noiseSeed: Long,
             mediaId: Option[Long] = None): Seq[Span] = {
    val payload = mutable.ArrayBuffer.empty[(String, String, String)]
    payload += (("meta", s"${e.entity_kind} ${e.id}", ""))
    if (e.entity_kind == "node") {
      val txt = String.format(java.util.Locale.ROOT, "%.7f %.7f",
        Double.box(e.lat.get), Double.box(e.lon.get))
      payload += (("coord", txt, ""))
    }
    e.node_refs.foreach(r => payload += (("ref", r.toString, "")))
    e.members.foreach(m =>
      payload += (("member", s"${m.role} ${m.ref_kind} ${m.ref_id}", "")))
    // tags in sorted key order (deterministic)
    e.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      payload += (("tag", s"$k=$v", ""))
    }
    mediaId.foreach { mid =>
      payload += (("media", s"capture ${mid}", s"raster:$mid"))
    }
    // interleave notes at deterministic positions
    val out = mutable.ArrayBuffer.empty[(String, String, String)]
    payload.zipWithIndex.foreach { case (p, i) =>
      out += p
      val h = mix64(noiseSeed ^ (i.toLong * 7919L))
      if ((h & 3L) == 0L) // ~25% of gaps get a note
        out += (("note", noiseText(h), ""))
    }
    var off = 0
    out.toSeq.map { case (k, t, m) =>
      val s = Span(k, t, m, off)
      off += t.length + 1
      s
    }
  }

  /** Decode a document's spans to an entity. `note` spans are noise;
    * `media` spans are carried (not part of the entity). Returns None for
    * docs with no meta span. */
  def decode(spans: Seq[Span]): Option[OsmEntity] = {
    val meta = spans.find(_.kind == "meta").map(_.text)
    meta.flatMap { m =>
      val parts = m.split(' ')
      if (parts.length != 2) None
      else {
        val kind = parts(0)
        val id = parts(1).toLong
        var lat: Option[Double] = None
        var lon: Option[Double] = None
        val refs = mutable.ArrayBuffer.empty[Long]
        val members = mutable.ArrayBuffer.empty[Member]
        val tags = mutable.LinkedHashMap.empty[String, String]
        spans.foreach { s =>
          s.kind match {
            case "coord" =>
              val c = s.text.split(' ')
              lat = Some(c(0).toDouble); lon = Some(c(1).toDouble)
            case "ref" => refs += s.text.toLong
            case "member" =>
              val mm = s.text.split(' ')
              members += Member(mm(0), mm(1), mm(2).toLong)
            case "tag" =>
              val i = s.text.indexOf('=')
              if (i > 0) tags += (s.text.substring(0, i) ->
                s.text.substring(i + 1))
            case _ => // meta handled; note/media are not entity content
          }
        }
        Some(OsmEntity(kind, id, tags.toMap, lat, lon, refs.toSeq,
          members.toSeq))
      }
    }
  }
}

package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.core._
import graft.model.{Feature, Ring}

/** Raster ⇄ vector operators (SURVEY.md §2.7 G9 — north-rule extension; the
  * reference carries no raster path) plus the multimodal decode plumbing.
  *
  * The DECODE step is a deterministic STUB: real deployments plug an image
  * codec into `decodeStub` (this container ships no image libs — the
  * Spark-side plumbing, schema, batch iteration and partitioning are real
  * and tested; only pixel synthesis is fake).
  */
object Raster {

  /** STUB decode: media_ref "raster:{id}" → deterministic 32×32 grayscale.
    * Even id → checkerboard; odd id → filled disc. */
  def decodeStub(mediaRef: String): (Int, Int, Array[Byte]) = {
    val id = mediaRef.stripPrefix("raster:").toLong
    val w = 32; val h = 32
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v =
          if (id % 2 == 0) { if (((x / 4) + (y / 4)) % 2 == 0) 255 else 0 }
          else {
            val dx = x - w / 2 + 0.5; val dy = y - h / 2 + 0.5
            if (dx * dx + dy * dy <= (w * 3 / 8.0) * (w * 3 / 8.0)) 255
            else 0
          }
        px(y * w + x) = v.toByte
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** Marching-squares vectorization of a thresholded raster: boundary
    * segment count + dark-pixel count (raster → vector). */
  def vectorize(w: Int, h: Int, px: Array[Byte], thr: Int)
      : (Long, Long) = {
    var dark = 0L
    var i = 0
    while (i < px.length) {
      if ((px(i) & 0xFF) >= thr) dark += 1
      i += 1
    }
    var segs = 0L
    def on(x: Int, y: Int): Boolean =
      x >= 0 && y >= 0 && x < w && y < h && (px(y * w + x) & 0xFF) >= thr
    var y = -1
    while (y < h) {
      var x = -1
      while (x < w) {
        // 2×2 cell case index (marching squares, 16 cases)
        var c = 0
        if (on(x, y)) c |= 1
        if (on(x + 1, y)) c |= 2
        if (on(x + 1, y + 1)) c |= 4
        if (on(x, y + 1)) c |= 8
        segs += (c match {
          case 0 | 15 => 0
          case 5 | 10 => 2 // saddle
          case _ => 1
        })
        x += 1
      }
      y += 1
    }
    (dark, segs)
  }

  /** Media metadata over the interleaved docs (the multimodal column path):
    * batched partition iteration — the Scala analog of the mapInPandas
    * batch shape. */
  def mediaMetadata(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val media = docs.select($"doc_id",
      explode(filter($"spans", s => s("kind") === "media")).as("s"))
      .select($"doc_id", $"s.media_ref".as("media_ref"),
        $"s.text".as("caption"))
    media.as[(String, String, String)].mapPartitions { it =>
      it.map { case (docId, ref, caption) =>
        val (w, h, px) = decodeStub(ref)
        val (dark, segs) = vectorize(w, h, px, 128)
        (docId, ref, caption, w, h, dark, segs)
      }
    }.toDF("doc_id", "media_ref", "caption", "width", "height",
      "n_dark", "n_boundary_segs")
  }

  /** Vector → raster: scanline-fill polygon features into a per-tile g×g
    * occupancy grid (even-odd rule); returns filled-cell counts.
    * Runs once per (feature, covered tile) in [[rasterizeLayer]]. */
  def rasterizeCount(rings: Seq[Ring], tcfg: TileCfg, g: Int): Long = {
    val ext = tcfg.tileExtent.toDouble
    var filled = 0L
    var gy = 0
    while (gy < g) {
      val py = (gy + 0.5) * ext / g
      // tile-space x crossings against all ring edges
      val xs = mutable.ArrayBuffer.empty[Double]
      rings.foreach { r =>
        var i = 0
        while (i < r.xs.length - 1) {
          val a = tcfg.transform(Pt(r.xs(i), r.ys(i)))
          val b = tcfg.transform(Pt(r.xs(i + 1), r.ys(i + 1)))
          if ((a.y > py) != (b.y > py))
            xs += a.x + (py - a.y) / (b.y - a.y) * (b.x - a.x)
          i += 1
        }
      }
      val sorted = xs.sorted
      var j = 0
      while (j + 1 < sorted.length) {
        val x0 = sorted(j); val x1 = sorted(j + 1)
        val c0 = math.max(0, math.ceil((x0 - 0.5 * ext / g) / (ext / g))
          .toInt)
        val c1 = math.min(g - 1, math.floor((x1 - 0.5 * ext / g) /
          (ext / g)).toInt)
        if (c1 >= c0) filled += (c1 - c0 + 1)
        j += 2
      }
      gy += 1
    }
    filled
  }

  /** Rasterize all polygon features of a layer for one zoom: output
    * (layer, id, z, x, y, filled_cells). */
  def rasterizeLayer(spark: SparkSession, features: Dataset[Feature],
                     cfg: EngineCfg, layerName: String, z: Int,
                     grid: Int): DataFrame = {
    import spark.implicits._
    val ext = cfg.tileExtent
    features
      .where($"layer" === layerName)
      .flatMap { f =>
        TileGrid.cover(z, BBox(f.xmin, f.ymin, f.xmax, f.ymax), ext, 0)
          .iterator.map { tileId =>
            val tid = TileId.unpack(tileId)
            (f.layer, f.id, tid.z, tid.x, tid.y,
              rasterizeCount(f.rings, TileCfg(tid, ext, 0), grid))
          }
      }
      .toDF("layer", "id", "z", "x", "y", "filled_cells")
      .where($"filled_cells" > 0)
  }
}

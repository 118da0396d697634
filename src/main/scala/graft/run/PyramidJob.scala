package graft.run

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.EngineCfg
import graft.model.{Feature, TileRow}
import graft.tile.Pyramid

/** Resumable, checkpointed pyramid materialization (north rule: "resumable
  * from checkpoint with per-partition lineage + metrics").
  *
  * The job is split into per-zoom batches. Each batch:
  *   - writes its tiles idempotently to `out/fmt=<fmt>/z=<z>/` (keyed by
  *     (group, z, x, y) — a re-run overwrites with identical bytes); the
  *     files hold group, x, y and bytes, and a read from `out` gets fmt
  *     and z back from the directory names;
  *   - collects per-partition lineage (partition id → rows, bytes) via an
  *     accumulator DURING the write (no second pass);
  *   - commits a manifest `out/_manifest/<fmt>_z<z>.json` (written to a
  *     temp file and atomically renamed) recording tiles, bytes, wall
  *     seconds, and the per-partition metrics.
  *
  * On restart, batches with a committed manifest are SKIPPED — a killed
  * run resumes at the first uncommitted zoom. A partially-written batch
  * (no manifest) is simply overwritten.
  */
object PyramidJob {

  final case class BatchResult(z: Int, tiles: Long, bytes: Long,
                               wallSec: Double, skipped: Boolean)

  private def manifestPath(out: String, fmt: String, z: Int) =
    Paths.get(s"$out/_manifest/${fmt}_z$z.json")

  def run(spark: SparkSession, features: Dataset[Feature], cfgE: EngineCfg,
          groupName: String, fmt: String, zMin: Int, zMax: Int,
          out: String): Seq[BatchResult] = {
    Files.createDirectories(Paths.get(s"$out/_manifest"))
    (zMin to zMax).map { z =>
      val mp = manifestPath(out, fmt, z)
      if (Files.exists(mp)) BatchResult(z, -1, -1, 0.0, skipped = true)
      else {
        val t0 = System.nanoTime()
        val acc = spark.sparkContext
          .collectionAccumulator[(Int, Long, Long)](s"lineage_${fmt}_$z")
        val tiles = Pyramid
          .tiles(spark, features, cfgE, groupName, fmt, z, z)
        val metered = tiles.mapPartitions { it =>
          val pid = TaskContext.getPartitionId()
          var n = 0L; var b = 0L
          new Iterator[TileRow] {
            def hasNext: Boolean = {
              val h = it.hasNext
              if (!h && n >= 0) { acc.add((pid, n, b)); n = -1 }
              h
            }
            def next(): TileRow = {
              val t = it.next(); n += 1; b += t.bytes.length; t
            }
          }
        }(tiles.encoder)
        // the partition directories carry fmt and z; writing them as data
        // columns too would duplicate both in a read from the table root
        graft.sources.TableIO.write(metered.toDF().drop("fmt", "z"),
          s"$out/fmt=$fmt/z=$z")
        val wall = (System.nanoTime() - t0) / 1e9
        // committed totals come from the WRITTEN output: accumulator
        // updates from a transformation are not deduplicated on task
        // retry / speculative execution, so they can over-count — the
        // per-partition list stays as best-effort diagnostics only
        val written = spark.read.format(graft.sources.TableIO.format)
          .load(s"$out/fmt=$fmt/z=$z")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.sum(
                org.apache.spark.sql.functions.length(
                  org.apache.spark.sql.functions.col("bytes"))),
              org.apache.spark.sql.functions.lit(0L)))
          .head()
        val nt = written.getLong(0)
        val nb = written.getLong(1)
        val parts = acc.value
        val partsJson = {
          val sb = new StringBuilder("[")
          var first = true
          parts.forEach { p =>
            if (!first) sb.append(',')
            sb.append(s"""{"pid":${p._1},"rows":${p._2},"bytes":${p._3}}""")
            first = false
          }
          sb.append(']').toString
        }
        val json =
          s"""{"group":"$groupName","fmt":"$fmt","z":$z,"tiles":$nt,""" +
            s""""bytes":$nb,"wall_sec":$wall,""" +
            s""""partitions_best_effort":$partsJson}"""
        val tmp = Paths.get(mp.toString + ".tmp")
        Files.writeString(tmp, json)
        Files.move(tmp, mp, StandardCopyOption.ATOMIC_MOVE)
        BatchResult(z, nt, nb, wall, skipped = false)
      }
    }
  }
}

package graft.run

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, length, lit, sum}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.EngineCfg
import graft.model.{Feature, TileRow}
import graft.sources.TableIO
import graft.tile.Pyramid

/** Resumable, checkpointed pyramid materialization (north rule: "resumable
  * from checkpoint with per-partition lineage + metrics").
  *
  * A zoom is committed iff its manifest `out/_manifest/<fmt>_z<z>.json`
  * exists; a run SKIPS committed zooms and makes one pass over the rest:
  *   - one `Pyramid.tiles` call over their min..max range, filtered to
  *     them if a gapped resume left committed zooms in between;
  *   - one write to `out/fmt=<fmt>/`, partitioned by `z`, with dynamic
  *     partition overwrite, so committed zooms' directories stay untouched
  *     (the files hold group, x, y and bytes; a read from `out` gets fmt
  *     and z back from the directory names);
  *   - per-(partition, zoom) lineage (rows, bytes) collected through an
  *     accumulator DURING the write (no second pass);
  *   - one aggregate grouped by `z` over the written files, then one
  *     manifest per zoom (tiles, bytes, the pass's wall seconds, its
  *     partitions), written to a temp file and atomically renamed. A zoom
  *     with no tiles commits `tiles: 0`.
  *
  * A pass killed before its manifests commits none of its zooms; the rerun
  * repeats exactly those and overwrites their files.
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
    val todo = (zMin to zMax)
      .filterNot(z => Files.exists(manifestPath(out, fmt, z)))
    val fresh = if (todo.isEmpty) Map.empty[Int, BatchResult] else {
      val t0 = System.nanoTime()
      val acc = spark.sparkContext.collectionAccumulator[
        (Int, Int, Long, Long)](s"lineage_${fmt}_z${todo.head}-${todo.last}")
      val pass = Pyramid.tiles(spark, features, cfgE, groupName, fmt,
        todo.head, todo.last)
      val tiles =
        if (todo.length == todo.last - todo.head + 1) pass
        else pass.where(col("z").isin(todo: _*))
      val metered = tiles.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val perZ = mutable.Map.empty[Int, (Long, Long)]
          .withDefaultValue((0L, 0L))
        it.map { (t: TileRow) =>
          val (n, b) = perZ(t.z)
          perZ(t.z) = (n + 1, b + t.bytes.length)
          t
        } ++ {
          perZ.foreach { case (z, (n, b)) => acc.add((pid, z, n, b)) }
          Iterator.empty
        }
      }(tiles.encoder)
      val root = s"$out/fmt=$fmt"
      // the partition directories carry fmt and z; writing them as data
      // columns too would duplicate both in a read from the table root
      val rows = metered.toDF().drop("fmt")
      rows.write.format(TableIO.format).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").partitionBy("z").save(root)
      val wall = (System.nanoTime() - t0) / 1e9
      // committed totals come from the WRITTEN output: accumulator
      // updates from a transformation are not deduplicated on task
      // retry / speculative execution, so they can over-count — the
      // per-partition list stays as best-effort diagnostics only
      val written = spark.read.format(TableIO.format).schema(rows.schema)
        .load(root).where(col("z").isin(todo: _*)).groupBy("z")
        .agg(count(lit(1)), coalesce(sum(length(col("bytes"))), lit(0L)))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val parts = acc.value.asScala.toSeq
      todo.map { z =>
        val (nt, nb) = written.getOrElse(z, (0L, 0L))
        val partsJson = parts.collect { case (pid, `z`, n, b) =>
          s"""{"pid":$pid,"rows":$n,"bytes":$b}""" }.mkString("[", ",", "]")
        val mp = manifestPath(out, fmt, z)
        val tmp = Paths.get(mp.toString + ".tmp")
        Files.writeString(tmp,
          s"""{"group":"$groupName","fmt":"$fmt","z":$z,"tiles":$nt,""" +
            s""""bytes":$nb,"wall_sec":$wall,""" +
            s""""partitions_best_effort":$partsJson}""")
        Files.move(tmp, mp, StandardCopyOption.ATOMIC_MOVE)
        z -> BatchResult(z, nt, nb, wall, skipped = false)
      }.toMap
    }
    (zMin to zMax).map(z =>
      fresh.getOrElse(z, BatchResult(z, -1, -1, 0.0, skipped = true)))
  }
}

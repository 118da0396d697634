package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.sources.TableIO

/** Materialize the feature table — the loam-sink analog (SURVEY.md §2.1
  * S4): the dig's plan written through one `layer` exchange, with no
  * checkpoint, as one Parquet partition per layer, sorted by the packed
  * quadtree cell of the bbox center at `SortZoom`. The cell packs
  * `(z, tx, ty)` row-major (`Query.pointCell`), so the sort clusters rows
  * along x only and no read prunes by bbox: nothing here replaces the
  * reference's per-layer R-tree yet (ROADMAP item 9). The full overwrite
  * leaves no directory for an empty layer (the reference cancels the loam
  * writer, osm.rs:234-237). */
object DigJob {
  private val SortZoom = 12

  def run(spark: SparkSession, docs: DataFrame, cfgE: EngineCfg,
          out: String): Unit = {
    val cx = (col("xmin") + col("xmax")) / 2
    val cy = (col("ymin") + col("ymax")) / 2
    TableIO.write(Dig.plan(spark, Extract.entities(docs), cfgE)
      .withColumn("cell",
        when(col("xmin") <= col("xmax"),
          graft.query.Query.pointCell(SortZoom, cx, cy)).otherwise(-1L))
      .repartition(col("layer"))
      .sortWithinPartitions("layer", "cell"),
      out, partitionBy = Seq("layer"))
    // per-layer feature counters (reference A6, osm.rs:232/254/287 log
    // lines), written alongside the table as a metrics file
    val counts = spark.read.format(TableIO.format).load(out)
      .groupBy("layer").count().collect()
      .map(r => s"""{"layer":"${r.getString(0)}","features":${r.getLong(1)}}""")
      .mkString("[", ",", "]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/_metrics.json"), counts)
  }
}

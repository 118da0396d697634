package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.model.Feature
import graft.run.{DigJob, PyramidJob}
import graft.tile.Pyramid

/** Resumable-job + feature-table-sink specs. */
class JobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val cfg = EngineCfg.default

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Jobs one `PyramidJob.run` pass starts on the micro corpus. */
  private val PassJobs = 4

  private def rows(df: DataFrame) =
    df.select("group", "z", "x", "y", "fmt", "bytes").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getAs[Array[Byte]](5).toSeq)).toSet

  private def microFeatures() = {
    import spark.implicits._
    Dig.features(spark,
      Extract.entities(spark.createDataset(CorpusGen.microDocs()).toDF()), cfg)
  }

  test("PyramidJob: checkpointed batches resume idempotently") {
    import spark.implicits._
    val docs = spark.createDataset(CorpusGen.microDocs()).toDF()
    val feats = Dig.features(spark, Extract.entities(docs), cfg).cache()
    val out = tmpDir("pyr")
    val r1 = PyramidJob.run(spark, feats, cfg, "tile", "mvt", 0, 6, out)
    assert(r1.forall(!_.skipped))
    assert(r1.map(_.tiles).sum > 0)
    // manifests committed per zoom, with per-partition lineage
    (0 to 6).foreach { z =>
      val m = Paths.get(s"$out/_manifest/mvt_z$z.json")
      assert(Files.exists(m))
      val txt = Files.readString(m)
      assert(txt.contains("\"partitions_best_effort\":["), txt)
    }
    // restart: everything committed → all skipped, outputs untouched
    val before = spark.read.parquet(s"$out/fmt=mvt").count()
    val r2 = PyramidJob.run(spark, feats, cfg, "tile", "mvt", 0, 6, out)
    assert(r2.forall(_.skipped))
    assert(spark.read.parquet(s"$out/fmt=mvt").count() == before)
    // simulate a crashed batch: drop one manifest → only that zoom reruns
    Files.delete(Paths.get(s"$out/_manifest/mvt_z5.json"))
    val r3 = PyramidJob.run(spark, feats, cfg, "tile", "mvt", 0, 6, out)
    assert(r3.count(!_.skipped) == 1 && !r3(5).skipped)
    assert(spark.read.parquet(s"$out/fmt=mvt").count() == before)
    // the files leave fmt and z to the partition directories (a read from
    // the root dedups a duplicate with only a COLUMN_ALREADY_EXISTS warning)
    assert(spark.read.parquet(s"$out/fmt=mvt/z=6").schema.fieldNames.toSeq
      == Seq("group", "x", "y", "bytes"))
    // read from the table root: fmt and z come once each, from the
    // partition directories, and the rows are the pyramid's
    val table = spark.read.parquet(out)
    val names = table.schema.fieldNames.toSeq
    assert(names.count(_ == "fmt") == 1 && names.count(_ == "z") == 1,
      names)
    val want = rows(Pyramid.tiles(spark, feats, cfg, "tile",
      "mvt", 0, 6).toDF())
    assert(rows(table) == want)
    feats.unpersist()
  }

  test("DigJob: per-layer partitioned, cell-sorted feature table") {
    import spark.implicits._
    val docs = spark.createDataset(CorpusGen.microDocs()).toDF()
    val out = tmpDir("dig")
    DigJob.run(spark, docs, cfg, out)
    val t = spark.read.parquet(out)
    assert(t.count() > 0)
    // layer partition dirs exist; cell column is sorted within files
    val layers = t.select("layer").distinct().as[String].collect()
    assert(layers.contains("county") && layers.contains("motorway"))
    val cells = t.where($"layer" === "county").select("cell")
      .as[Long].collect()
    assert(cells.sorted.toSeq == cells.toSeq ||
      cells.length <= 1) // single output file per partition → sorted
  }

  test("PyramidJob: one pass starts as many jobs for z0-6 as for z0-12") {
    val feats = microFeatures()
    def jobs(zMax: Int) = SparkJobs.recorded(spark, s"pyramid-job-z0-$zMax") {
      val out = tmpDir(s"pyrjobs$zMax")
      // every zoom of both ranges has tiles: over an empty zoom set the
      // read-back would scan no file and start no job
      assert(PyramidJob.run(spark, feats, cfg, "tile", "mvt", 0, zMax, out)
        .exists(b => b.z == zMax && b.tiles > 0))
    }._2
    val (z6, z12) = (jobs(6), jobs(12))
    // the pass's write (cover/encode stage, then assembly) and the
    // manifests' read-back aggregate (scan, then merge)
    assert(z6.length == PassJobs && z12.length == PassJobs,
      s"z0-6: ${z6.length} jobs, z0-12: ${z12.length}")
  }

  test("PyramidJob: a gapped resume rewrites only the missing zooms") {
    val feats = microFeatures()
    val out = tmpDir("pyrgap")
    PyramidJob.run(spark, feats, cfg, "tile", "mvt", 0, 6, out)
    Seq(2, 5).foreach(z =>
      Files.delete(Paths.get(s"$out/_manifest/mvt_z$z.json")))
    // file name → mtime under each committed zoom's directory
    def files(z: Int): Map[String, Long] = {
      val d = Paths.get(s"$out/fmt=mvt/z=$z")
      if (!Files.isDirectory(d)) Map.empty
      else Files.list(d).iterator().asScala.map(f =>
        f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    }
    val kept = Seq(0, 1, 3, 4, 6)
    val before = kept.map(files)
    assert(before.exists(_.nonEmpty))
    val r = PyramidJob.run(spark, feats, cfg, "tile", "mvt", 0, 6, out)
    assert(r.filter(!_.skipped).map(_.z) == Seq(2, 5), r)
    assert(kept.map(files) == before)
    val table = spark.read.parquet(out)
    assert(rows(table) == rows(Pyramid.tiles(spark, feats, cfg, "tile",
      "mvt", 0, 6).toDF()))
    // the two recommitted manifests count what their directories hold
    val written = table.groupBy("z").count().collect()
      .map(w => w.getInt(0) -> w.getLong(1)).toMap
    r.filter(!_.skipped).foreach { b =>
      assert(b.tiles == written.getOrElse(b.z, 0L), b)
      assert(Files.readString(Paths.get(s"$out/_manifest/mvt_z${b.z}.json"))
        .contains(s""""tiles":${b.tiles},"""))
    }
  }

  test("PyramidJob: an empty feature table commits a zero manifest per zoom") {
    import spark.implicits._
    val out = tmpDir("pyrempty")
    val r = PyramidJob.run(spark, spark.emptyDataset[Feature], cfg, "tile",
      "mvt", 0, 6, out)
    assert(r.map(_.z) == (0 to 6) && r.forall(b => !b.skipped && b.tiles == 0),
      r)
    (0 to 6).foreach { z =>
      val m = Files.readString(Paths.get(s"$out/_manifest/mvt_z$z.json"))
      assert(m.contains("\"tiles\":0,"), m)
    }
  }

  test("DigJob: written rows are Dig.features' rows; metrics count the table") {
    import spark.implicits._
    val out = tmpDir("digrows")
    DigJob.run(spark, spark.createDataset(CorpusGen.microDocs()).toDF(), cfg,
      out)
    val t = spark.read.parquet(out)
    val cols = Encoders.product[Feature].schema.fieldNames.toSeq
    def featureRows(df: DataFrame) = df.select(cols.map(col): _*).collect()
    val written = featureRows(t.drop("cell"))
    val want = featureRows(microFeatures().toDF())
    assert(written.length == want.length && written.toSet == want.toSet)
    val metrics = """"layer":"([^"]+)","features":(\d+)""".r
      .findAllMatchIn(Files.readString(Paths.get(s"$out/_metrics.json")))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val counts = t.groupBy("layer").count().as[(String, Long)].collect().toMap
    assert(metrics.nonEmpty && metrics == counts)
  }
}

package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.run.{DigJob, PyramidJob}

/** Resumable-job + feature-table-sink specs. */
class JobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val cfg = EngineCfg.default

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_$tag")
    d.toFile.deleteOnExit()
    d.toString
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
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("group", "z", "x", "y", "fmt", "bytes").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4), r.getAs[Array[Byte]](5).toSeq)).toSet
    val want = rows(graft.tile.Pyramid.tiles(spark, feats, cfg, "tile",
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
}

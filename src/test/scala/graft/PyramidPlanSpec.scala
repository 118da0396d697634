package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.tile.Pyramid

/** Shape of the pyramid plan: one path for every zoom, so building it
  * runs nothing and executing it shuffles once. */
class PyramidPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  test("Pyramid.tiles z0-14 builds without a job and plans one shuffle") {
    import spark.implicits._
    val cfg = EngineCfg.default
    val feats = Dig.features(spark, Extract.entities(
      spark.createDataset(CorpusGen.microDocs()).toDF()), cfg).cache()
    feats.count()
    try {
      val (built, jobs) = SparkJobs.counted(spark, "pyramid-plan-build") {
        Pyramid.tiles(spark, feats, cfg, "tile", "mvt", 0, 14)
      }
      assert(jobs == 0, s"building the pyramid launched $jobs jobs")

      val shuffles = collect(built.queryExecution.executedPlan) {
        case s: ShuffleExchangeLike => s
      }
      assert(shuffles.size == 1, built.queryExecution.executedPlan.toString)
      assert(built.count() > 0)
    } finally feats.unpersist()
  }
}

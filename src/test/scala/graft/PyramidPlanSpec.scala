package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pyramid-plan-build", "build")
      val built =
        try Pyramid.tiles(spark, feats, cfg, "tile", "mvt", 0, 14)
        finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job shows up,
      // every job started while building has been seen too
      sc.setJobGroup("pyramid-plan-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("pyramid-plan-marker") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      val seen = groups.asScala.toList
      assert(seen.contains("pyramid-plan-marker"), "marker job not seen")
      assert(!seen.contains("pyramid-plan-build"),
        s"building the pyramid launched jobs: $seen")

      val shuffles = collect(built.queryExecution.executedPlan) {
        case s: ShuffleExchangeLike => s
      }
      assert(shuffles.size == 1, built.queryExecution.executedPlan.toString)
      assert(built.count() > 0)
    } finally {
      sc.removeSparkListener(listener)
      feats.unpersist()
    }
  }
}

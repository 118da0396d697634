package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.model.Doc

/** `Dig.features` returns a checkpointed frame of one partition per
  * core: a task over it ships a scan of the checkpoint, not the dig's
  * lineage, and a pass over it runs one task wave. */
class DigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Distinct RDDs reachable from `root` through its dependencies. */
  private def lineage(root: RDD[_]): Int = {
    val seen = mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    walk(root)
    seen.size
  }

  test("Dig.features result has at most 4 RDDs of lineage (micro, empty, nested relations)") {
    import spark.implicits._
    val inputs = Seq(
      ("micro", CorpusGen.microDocs(), 1),
      ("empty", Seq.empty[Doc], 1),
      ("nested relations", DigCorpora.docsOf(DigCorpora.nested), 2))
    val depths = inputs.map { case (name, docs, minRounds) =>
      val ents = Extract.entities(spark.createDataset(docs).toDF())
      val (feats, jobs) = SparkJobs.named(spark, s"dig-lineage-$name") {
        Dig.features(spark, ents, EngineCfg.default)
      }
      // one isEmpty job per closure round
      val rounds = jobs.count(_.startsWith("isEmpty at Dig.scala"))
      assert(rounds >= minRounds, s"$name: $rounds closure rounds; $jobs")
      assert((feats.count() == 0) == docs.isEmpty, name)
      name -> lineage(feats.queryExecution.toRdd)
    }
    assert(depths.forall(_._2 <= 4), depths.mkString(", "))
  }

  test("every dig returns defaultParallelism partitions (two digs of one session, empty corpus)") {
    import spark.implicits._
    // the session is shared: drop the caches earlier tests left, so the
    // first dig below fills its own
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val cfg = EngineCfg.default
    def dig(docs: Seq[Doc]) = Dig.features(spark,
      Extract.entities(spark.createDataset(docs).toDF()), cfg)
    val before = sc.getPersistentRDDs.keySet
    val first = dig(CorpusGen.microDocs())
    val persisted = sc.getPersistentRDDs.keySet -- before
    // the RDDs the second dig's stages read
    val read = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => read.add(r.id))
    }
    sc.addSparkListener(listener)
    // `recorded` returns once the listener bus has delivered every event
    // of the block
    val second = try SparkJobs.recorded(spark, "dig-second")(
      dig(CorpusGen.microDocs()))._1
    finally sc.removeSparkListener(listener)
    // the first dig's `m`, `mapWays` and `wayCoords` caches, re-read
    val rehit = persisted.filter(read.asScala.toSet)
    assert(rehit.size >= 3, s"second dig re-read $rehit of $persisted")
    val empty = dig(Seq.empty)
    val parts = Seq("first" -> first, "second" -> second, "empty" -> empty)
      .map { case (name, f) => name -> f.rdd.getNumPartitions }
    assert(parts.forall(_._2 == sc.defaultParallelism),
      s"${parts.mkString(", ")}; defaultParallelism ${sc.defaultParallelism}")
    assert(first.count() == second.count() && empty.isEmpty)
  }
}

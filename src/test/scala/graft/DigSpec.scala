package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.model.Doc

/** `Dig.features` returns a checkpointed frame: a task over it ships a
  * scan of the checkpoint, not the dig's lineage. */
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
}

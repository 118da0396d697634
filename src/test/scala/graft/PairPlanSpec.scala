package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.PipelineOps

/** Shape of the pair ops' plans: each fences its hot buckets with a
  * window count over the partitioning its self-join reads, so no
  * aggregate counts the bucket keys and the fence adds no exchange.
  * Counts are of the final plan after one `collect()` from a cold cache,
  * each cached frame's plan counted once; a join side that scans a
  * cached frame is its own AQE stage, so its copy of the fence exchange
  * counts too. The IVF ops' plans are pinned the same way: their vectors
  * meet the centroids in-row, so no nested-loop join pairs them and no
  * aggregate picks a vector's nearest centroid, and their queries come
  * from the cached assignment, not a second spread read. `ann_lsh_topk`,
  * timed in every benchmark rep, is pinned to its shuffle and broadcast
  * counts. Every node of the embedding ops that calls the `dot` or
  * `normalize` kernel (the cosines, norms and normalized copies) runs in
  * a whole-stage-codegen stage, with no higher-order function beside
  * it. */
class PairPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  /** Every node of `p`, with the plan of each cached frame it reads
    * included once. */
  private def nodes(p: SparkPlan, seen: mutable.Set[AnyRef] =
      mutable.Set.empty): Seq[SparkPlan] =
    collect(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
        m +: nodes(m.relation.cachedPlan, seen)
      case n => Seq(n)
    }

  for ((op, keys, shuffles, broadcasts) <- Seq(
      ("dedup_minhash_pairs", Seq("band", "sig"), 4, 1),
      ("dedup_simhash_pairs", Seq("blk", "v"), 5, 1),
      ("dedup_embedding", Seq("table", "bkt"), 4, 3),
      ("dedup_ngram_jaccard", Seq("sh"), 5, 3),
      ("decontam_ngram", Seq("sh"), 5, 3))) {
    test(s"$op fences on its self-join's exchange") {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(op)(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = nodes(df.queryExecution.executedPlan)
      val counted = plan.collect {
        case a: BaseAggregateExec if a.aggregateExpressions.nonEmpty &&
          a.groupingExpressions.map(_.name).toSet == keys.toSet => a
      }
      val got = (plan.count(_.isInstanceOf[ShuffleExchangeLike]),
        plan.count(_.isInstanceOf[BroadcastExchangeLike]))
      assert(counted.isEmpty, s"$op counts its buckets with an aggregate")
      assert(got == ((shuffles, broadcasts)),
        df.queryExecution.executedPlan.toString)
    }
  }

  test("ann_lsh_topk keeps its plan: 3 shuffles, 2 broadcasts") {
    spark.catalog.clearCache()
    val df = SparkEntry.queries("ann_lsh_topk")(spark,
      "/root/testdata/sf0.001")
    df.collect()
    val plan = nodes(df.queryExecution.executedPlan)
    assert((plan.count(_.isInstanceOf[ShuffleExchangeLike]),
      plan.count(_.isInstanceOf[BroadcastExchangeLike])) == ((3, 2)),
      df.queryExecution.executedPlan.toString)
  }

  for ((name, op, shuffles) <- Seq[(String,
      (SparkSession, String) => DataFrame, Int)](
      ("ann_ivf_topk", SparkEntry.queries("ann_ivf_topk"), 3),
      ("ann_ivf_topk at 80 clusters",
        (s, d) => PipelineOps.annIvfTopK(s, d, nClusters = 80), 3),
      ("ann_ivf2_topk", SparkEntry.queries("ann_ivf2_topk"), 3),
      ("sem_dedup", SparkEntry.queries("sem_dedup"), 5))) {
    test(s"$name assigns in-row: no nested-loop join or per-vector " +
      "aggregate") {
      spark.catalog.clearCache()
      val df = op(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = nodes(df.queryExecution.executedPlan)
      val text = df.queryExecution.executedPlan.toString
      assert(!plan.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec]), text)
      // a distinct over vec_id aggregates nothing and picks no nearest
      assert(!plan.exists {
        case a: BaseAggregateExec => a.aggregateExpressions.nonEmpty &&
          a.groupingExpressions.map(_.name) == Seq("vec_id")
        case _ => false
      }, text)
      assert(plan.count(_.isInstanceOf[ShuffleExchangeLike]) == shuffles,
        text)
    }
  }

  /** The nodes of the whole-stage-codegen stage rooted at `p`. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: InputAdapter => Nil
    case _ => p.children.flatMap(stage)
  })

  /** The vector kernels (`dot`, `normalize`) the expressions of `n`
    * call. */
  private def kernels(n: SparkPlan): Set[String] =
    n.expressions.flatMap(_.collect {
      case k: StaticInvoke if Set("dot", "normalize")(k.functionName) =>
        k.functionName
    }).toSet

  for ((op, want) <- Seq(
      ("ann_lsh_topk", Set("dot")),
      ("dedup_embedding", Set("dot")),
      ("ann_ivf2_topk", Set("dot", "normalize")),
      ("sem_dedup", Set("dot", "normalize")))) {
    test(s"$op computes its cosines and norms in whole-stage codegen") {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(op)(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = nodes(df.queryExecution.executedPlan)
      val text = df.queryExecution.executedPlan.toString
      val fused = plan.collect { case w: WholeStageCodegenExec =>
        stage(w.child) }.flatten
      val calling = plan.filter(kernels(_).nonEmpty)
      assert(calling.flatMap(kernels).toSet == want, text)
      calling.foreach { n =>
        val node = n.simpleString(400)
        assert(fused.exists(_ eq n), s"$op: outside codegen: $node")
        assert(!n.expressions.exists(_.exists(
          _.isInstanceOf[HigherOrderFunction])),
          s"$op: with a higher-order function: $node")
      }
    }
  }
}

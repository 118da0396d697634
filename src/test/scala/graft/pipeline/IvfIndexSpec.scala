package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The IVF index's in-row assignment ([[PipelineOps.ivfIndex]], shared by
  * `ann_ivf_topk`, `ann_ivf2_topk` and `sem_dedup`) against the driver's
  * [[PipelineOps.nearestIdx]] over the index's own centroids, on sf0.001
  * plus malformed embeddings, which must get no list at any level. */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Malformed rows: short, long, a null element, null. */
  private val badIds = Set(900001L, 900002L, 900003L, 900004L)

  /** sf0.001's (vec_id, embedding) plus the [[badIds]] rows. All 504 rows
    * fall inside a 2048-row training sample, the malformed ones too. */
  private def corpus: DataFrame = {
    val v = (0 until 64).map(i => ((i % 7) - 3).toFloat)
    val bad = Seq(900001L -> v.take(63), 900002L -> (v :+ 1f),
      900003L -> v.updated(5, null), 900004L -> null)
      .map { case (id, e) => Row(id, e) }
    PipelineOps.embeddingsRaw(spark, sf).select("vec_id", "embedding")
      .unionByName(spark.createDataFrame(bad.asJava, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))))
  }

  /** Asserts every row's (c, f) of `idx` over `e0`: null for a malformed
    * row, the driver's nearest cell and nearest list within it
    * otherwise. Returns the well-formed rows' lists. */
  private def checkAssign(idx: PipelineOps.IvfIndex,
                          e0: DataFrame): Map[Long, (Int, Int)] = {
    val rows = idx.assign(e0).select("vec_id", "ne", "c", "f").collect()
    val (bad, good) = rows.partition(r => badIds(r.getLong(0)))
    assert(bad.length == badIds.size)
    bad.foreach(r => assert(r.isNullAt(2) && r.isNullAt(3),
      s"malformed vec ${r.getLong(0)} got list (${r.get(2)}, ${r.get(3)})"))
    assert(good.length == 500)
    good.map { r =>
      val ne = r.getSeq[Double](1).toArray
      val c = PipelineOps.nearestIdx(idx.coarse, ne)
      val f = PipelineOps.nearestIdx(idx.fine(c), ne)
      assert((r.getInt(2), r.getInt(3)) == ((c, f)), s"vec ${r.getLong(0)}")
      r.getLong(0) -> (c, f)
    }.toMap
  }

  for ((nCells, nLists) <- Seq((1, 16), (1, 80), (4, 4)))
    test(s"$nCells×$nLists index: malformed rows get no list, the rest " +
      "the driver's nearest") {
      val e0 = PipelineOps.withNormalized(corpus)
      val idx = PipelineOps.ivfIndex(e0, nCells, nLists, 2048, 5)
      assert(idx.coarse.length == nCells)
      assert(idx.fine.forall(_.forall(_.length == 64)),
        "a malformed sample row set the index width")
      val lists = checkAssign(idx, e0)
      assert(lists.values.toSet.size > 1)
      // the op over the same corpus names no malformed vector
      val got = PipelineOps.annIvf2TopKDf(spark, corpus, 5, nCells,
        nLists, nCells, nLists, 5, 2048, PipelineOps.AnnMaxList)
        .select("query_id", "neighbor_id").collect()
      assert(got.nonEmpty)
      assert(!got.exists(r => badIds(r.getLong(1))))
    }

  test("semDedup clusters are the driver's nearest list") {
    val emb = PipelineOps.embeddings(spark, sf)
    val n = PipelineOps.annClustersFor(emb.count())
    // the index semDedup builds with its defaults
    val e0 = PipelineOps.withNormalized(emb)
    val idx = PipelineOps.ivfIndex(e0, 1, n, PipelineOps.ivfSample(0, n), 5)
    val want = idx.assign(e0).select("vec_id", "ne").collect()
      .map(r => r.getLong(0) ->
        PipelineOps.nearestIdx(idx.fine(0), r.getSeq[Double](1).toArray))
      .toMap
    val got = PipelineOps.semDedup(spark, sf).select("vec_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(want.size == 500 && got == want)
  }
}

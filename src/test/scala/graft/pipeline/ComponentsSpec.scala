package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkJobs, TestSpark}

/** [[PipelineOps.components]] (large-star / small-star) against an
  * independent driver union-find, plus its job budget: one job per round
  * and O(log n) rounds. */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (id, component min, component size) for every id on a pair that is
    * not a self-loop, by path-halving union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p)
        x = parent(x)
      }
      x
    }
    val edges = pairs.filter { case (a, b) => a != b }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find).values
      .flatMap(ms => ms.map(id => (id, ms.min, ms.size.toLong))).toSet
  }

  /** Checks `components` over `pairs` against the union-find; returns the
    * number of jobs it took, the final collect included. */
  private def check(pairs: Seq[(Long, Long)]): Int = {
    import spark.implicits._
    val (rows, jobs) = SparkJobs.counted(spark, "components") {
      PipelineOps.components(spark, pairs.toDF("a", "b")).collect()
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.toSet.size, "an id was emitted twice")
    assert(got.toSet == unionFind(pairs))
    jobs
  }

  private def path(ids: Seq[Long]): Seq[(Long, Long)] =
    ids.zip(ids.tail)

  test("25-hop chain converges to one component") {
    info(s"${check(path((0L to 25L).reverse))} jobs")
  }

  test("1,000-node path, ordered and shuffled ids: one job per round, " +
    "O(log n) rounds") {
    val n = 1000
    val bound = 2 * (32 - Integer.numberOfLeadingZeros(n - 1)) + 4
    val ordered = check(path((0 until n).map(_.toLong)))
    assert(ordered <= bound, s"ordered path took $ordered jobs > $bound")
    info(s"ordered path: $ordered jobs")
    val ids = new scala.util.Random(7).shuffle((0 until n).toVector)
      .map(i => 5000000000L + 1000003L * i)
    val shuffled = check(path(ids))
    assert(shuffled <= bound, s"shuffled path took $shuffled jobs > $bound")
    info(s"shuffled path: $shuffled jobs")
  }

  test("star, disjoint cliques, duplicate and reversed pairs, self-loops") {
    // star centred on an id that is not its min
    check((0L until 100L).filter(_ != 50L).map(v => (50L, v)))
    val clique = (lo: Long) =>
      for (a <- lo until lo + 6; b <- a + 1 until lo + 6) yield (a, b)
    check(clique(10L) ++ clique(40L))
    check(Seq((3L, 1L), (1L, 3L), (1L, 3L), (3L, 2L), (2L, 3L), (9L, 8L),
      (8L, 9L), (9L, 8L)))
    // 7 is on a self-loop only, so it is on no edge and not emitted
    check(Seq((7L, 7L), (4L, 4L), (4L, 5L), (6L, 5L), (6L, 6L)))
  }

  test("empty pair frame: zero rows") {
    check(Seq.empty)
  }

  test("dedup_clusters job budget on sf0.001; a second call agrees") {
    val sf = "/root/testdata/sf0.001"
    def rows(group: String) = SparkJobs.named(spark, group) {
      PipelineOps.dedupClusters(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    // one read of documents.parquet per call: one schema-read job
    def reads(jobs: Seq[String]) = jobs.count(_.startsWith("parquet at "))
    val (first, jobs) = rows("dedup-clusters-1")
    assert(jobs.length <= 20, s"dedup_clusters took ${jobs.length} jobs")
    assert(reads(jobs) == 1, jobs.mkString("\n"))
    assert(first.exists(r => r._1 != r._2), "no doc joined a cluster")
    val (second, jobs2) = rows("dedup-clusters-2")
    assert(reads(jobs2) == 1, jobs2.mkString("\n"))
    assert(second == first)
    info(s"${jobs.length} jobs, then ${jobs2.length}")
  }
}

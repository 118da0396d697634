package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling record builder, without Spark: hand-made samples in, the
  * `scaling.json` text that the frozen `Bench` embeds out. */
class ScalingSpec extends AnyFunSuite {
  import ScalingBench._

  /** The parse `Bench` applies to an embedded ladder: only the text before
    * the calibration block counts, and a missing pair reads -1.0. */
  private def effOf(src: String, pair: String): Double =
    s""""efficiency_$pair":([0-9.]+)""".r
      .findFirstMatchIn(src.split("\"pure_cpu_calibration\"", 2)(0))
      .map(_.group(1).toDouble).getOrElse(-1.0)

  private val l1 = (1, Seq(31.0, 29.0, 40.0, 30.0, 32.0), 1000L)
  private val l4 = (4, Seq(8.5, 9.0, 8.0, 20.0, 8.2), 1000L)
  private val calib = ladder(Seq((1, Seq(10.0), 128L), (2, Seq(10.0), 256L),
    (4, Seq(10.0), 512L), (8, Seq(20.0), 1024L)), "units", Nil)

  test("quantile interpolates between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(quantile(xs, 0.5) === 2.5)
    assert(quantile(xs, 0.25) === 1.75)
    assert(quantile(xs, 0.75) === 3.25)
    assert(quantile(Seq(7.0), 0.75) === 7.0)
  }

  test("per-level median/q1/q3/n; efficiency from the medians") {
    val json = ladder(Seq(l4, l1), "tiles", Nil)
    assert(json.contains(""""level":1,"sec_median":31.000,"sec_q1":30.000,""" +
      """"sec_q3":32.000,"n":5,"tiles":1000,"per_sec":32.258}"""))
    assert(json.contains(""""level":4,"sec_median":8.500,"sec_q1":8.200,""" +
      """"sec_q3":9.000,"n":5,"tiles":1000,"per_sec":117.647}"""))
    assert(json.indexOf(""""level":1""") < json.indexOf(""""level":4"""))
    // per_sec(4) / (4 · per_sec(1)) = 31 / (4 · 8.5)
    assert(effOf(json, "1_to_4") === 0.912)
  }

  test("the ladder's efficiencies come before the calibration's") {
    val json = ladder(Seq(l1, l4), "tiles",
      Seq("skipped" -> "[]", "pure_cpu_calibration" -> calib))
    assert(calib.contains(""""efficiency_1_to_4":1.000"""))
    assert(json.indexOf("efficiency_1_to_4") <
      json.indexOf("pure_cpu_calibration"))
    assert(effOf(json, "1_to_4") === 0.912)
  }

  test("a pair that did not fit has no efficiency, so Bench reads -1.0") {
    val json = ladder(Seq(l1, l4), "tiles",
      Seq("skipped" -> """["2_to_8"]""", "pure_cpu_calibration" -> calib))
    assert(calib.contains(""""efficiency_2_to_8":0.500"""))
    assert(effOf(json, "2_to_8") === -1.0)
    assert(effOf(ladder(Nil, "tiles", Seq("pure_cpu_calibration" -> calib)),
      "1_to_4") === -1.0)
  }

  test("pairs fit the host's cores and memory") {
    val gb = 1024L
    assert(fits("threads", 1, 4, 16 * gb, 8 * gb))
    assert(!fits("threads", 2, 4, 16 * gb, 8 * gb))
    assert(!fits("threads", 1, 4, 4 * gb, 8 * gb))
    // executors: one driver core outside the set, 6 GB per executor
    assert(!fits("executors", 1, 4, 64 * gb, 8 * gb))
    assert(!fits("executors", 1, 5, 16 * gb, 8 * gb))
    assert(fits("executors", 1, 5, 32 * gb, 8 * gb))
    assert(fits("executors", 2, 9, 56 * gb, 8 * gb))
  }

  test("over 4 rounds every level runs in every position") {
    val levels = Seq(1, 2, 4, 8)
    val rounds = schedule(levels, 4)
    rounds.foreach(r => assert(r.sorted === levels))
    levels.indices.foreach(pos =>
      assert(rounds.map(_(pos)).sorted === levels))
    assert(schedule(levels, 5)(4) === rounds.head)
    assert(schedule(Seq.empty[Int], 2) === Seq(Nil, Nil))
  }
}

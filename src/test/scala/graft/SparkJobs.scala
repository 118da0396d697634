package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object SparkJobs {

  /** Runs `body` in job group `group` and returns its result with the
    * number of jobs started in that group. */
  def counted[T](spark: SparkSession, group: String)(body: => T): (T, Int) = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job shows up,
      // every job started by `body` has been seen too
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(marker), s"marker job of $group not seen")
      (out, groups.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs a block of driver code starts. */
object SparkJobs {

  /** Runs `body` in job group `group` and returns its result with the
    * number of jobs started in that group. */
  def counted[T](spark: SparkSession, group: String)(body: => T): (T, Int) = {
    val (out, names) = named(spark, group)(body)
    (out, names.length)
  }

  /** Runs `body` in job group `group` and returns its result with the
    * names of the jobs started in that group, in start order: a job's
    * name is its result stage's call site, as the Spark UI shows it
    * (`parquet at PipelineOps.scala:70`). */
  def named[T](spark: SparkSession, group: String)(
      body: => T): (T, Seq[String]) = {
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((String.valueOf(
          e.properties.getProperty("spark.jobGroup.id")),
          e.stageInfos.maxBy(_.stageId).name))
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
      def seen = jobs.asScala.exists(_._1 == marker)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, s"marker job of $group not seen")
      (out, jobs.asScala.collect { case (`group`, n) => n }.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

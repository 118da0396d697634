package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs a block of driver code starts. */
object SparkJobs {

  /** One job a block started: its name and the tasks it ran. */
  final case class Job(name: String, tasks: Int)

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
    val (out, jobs) = recorded(spark, group)(body)
    (out, jobs.map(_.name))
  }

  /** Runs `body` in job group `group` and returns its result with the
    * jobs started in that group, in start order, each with the number of
    * tasks that ended in its stages (skipped stages run none). */
  def recorded[T](spark: SparkSession, group: String)(
      body: => T): (T, Seq[Job]) = {
    val jobs = new ConcurrentLinkedQueue[(String, String, Seq[Int])]()
    val tasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((String.valueOf(
          e.properties.getProperty("spark.jobGroup.id")),
          e.stageInfos.maxBy(_.stageId).name, e.stageIds))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.computeIfAbsent(e.stageId, _ => new AtomicInteger())
          .incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job shows up,
      // every job started by `body`, and every task it ran, has been seen
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try spark.range(1).count() finally sc.clearJobGroup()
      def seen = jobs.asScala.exists(_._1 == marker)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, s"marker job of $group not seen")
      (out, jobs.asScala.collect { case (`group`, name, stages) =>
        Job(name, stages.map(s => Option(tasks.get(s)).fold(0)(_.get)).sum)
      }.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

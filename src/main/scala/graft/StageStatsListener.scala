package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}

/** One stage's totals: wall (submission to completion), summed task
  * duration and executor CPU, task count and the longest task. A
  * straggler shows as `maxTaskS` ≈ `wallS` with `taskS` ≪ `wallS` × cores. */
final case class StageStat(id: Int, name: String, wallS: Double,
                           taskS: Double, cpuS: Double, tasks: Int,
                           maxTaskS: Double)

/** Per-stage task totals for the measurement mains (`ScalingBench`,
  * `BenchExtra`). Spark delivers events asynchronously, so read
  * [[stages]] a moment after the measured action returns. */
final class StageStatsListener extends SparkListener {
  private final class Acc {
    var name = ""
    var wallMs = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var tasks = 0
    var maxTaskMs = 0L
  }
  private val acc = mutable.TreeMap.empty[Int, Acc]
  private def at(id: Int): Acc = acc.getOrElseUpdate(id, new Acc)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val a = at(i.stageId)
      a.name = i.name.takeWhile(_ != '\n').take(60)
      a.wallMs = (for (c <- i.completionTime; s <- i.submissionTime)
        yield c - s).getOrElse(0L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = at(e.stageId)
    if (e.taskInfo != null) {
      a.taskMs += e.taskInfo.duration
      a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
    }
    if (e.taskMetrics != null) a.cpuNs += e.taskMetrics.executorCpuTime
    a.tasks += 1
  }

  /** Stages seen since construction or the last [[clear]], by stage id. */
  def stages: Seq[StageStat] = synchronized {
    acc.toSeq.map { case (id, a) =>
      StageStat(id, a.name, a.wallMs / 1e3, a.taskMs / 1e3, a.cpuNs / 1e9,
        a.tasks, a.maxTaskMs / 1e3)
    }
  }

  def clear(): Unit = synchronized(acc.clear())
}

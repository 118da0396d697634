package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Auxiliary measurement main for the optimization rounds (guide §1.4) —
  * NOT part of the frozen driver contract ([[Bench]] is; this main adds
  * evidence the harness cannot: per-query formatted plans and noop-sink
  * isolated timings that exclude both the parquet write and the
  * `.count()` column-pruning shortcut).
  *
  * Usage:
  *   runMain graft.BenchExtra plans <outDir> [name ...]
  *     — write `.explain("formatted")` of each declared query (default:
  *       all) to `<outDir>/<name>.txt`.
  *   runMain graft.BenchExtra time <reps> [name ...]
  *     — run each query through the noop sink `reps` times and print one
  *       JSON line with per-rep seconds.
  *   runMain graft.BenchExtra stages <name>
  *     — run one query twice (the first warms the JIT) and print the
  *       second run's stages by task-seconds.
  *   runMain graft.BenchExtra dig
  *     — dig the bench corpus twice and print the second dig's stages by
  *       task-seconds.
  *
  * Same session configuration as [[Bench]] (env-parameterised master,
  * shuffle partitions, AQE) so plans and timings match the gate record's
  * environment.
  */
object BenchExtra {

  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  private def printStages(stats: StageStatsListener, limit: Int): Unit = {
    println("  (id, name, tasks, wall s, task s, max task s)")
    stats.stages.sortBy(-_.taskS).take(limit).foreach { st =>
      println(f"  ${st.id}%5d ${st.name}%-60s ${st.tasks}%5d ${st.wallS}%7.2f" +
        f" ${st.taskS}%8.2f ${st.maxTaskS}%8.2f")
    }
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mode = if (args.nonEmpty) args(0) else "plans"
    mode match {
      case "plans" =>
        val outDir = args(1)
        val names =
          if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          SparkEntry.queries.get(name) match {
            case Some(fn) =>
              spark.sparkContext.setJobDescription(s"plan: $name")
              val txt =
                try fn(spark, sfDir).queryExecution
                  .explainString(ExplainMode.fromString("formatted"))
                catch { case e: Throwable =>
                  s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}" }
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
              println(s"wrote $outDir/$name.txt")
            case None => println(s"SKIP unknown query $name")
          }
        }
      case "time" =>
        val reps = args(1).toInt
        val names =
          if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        val out = new StringBuilder("{")
        names.foreach { name =>
          SparkEntry.queries.get(name).foreach { fn =>
            val times = (1 to reps).map { i =>
              spark.sparkContext.setJobDescription(s"$name rep$i")
              val t0 = System.nanoTime()
              try {
                // noop sink: computes every column of every row, no
                // count() pruning, no output cost (guide §1.4)
                fn(spark, sfDir).write.format("noop")
                  .mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              } catch { case e: Throwable =>
                System.err.println(s"$name FAILED: ${e.getClass.getName}")
                -1.0
              }
            }
            val entry = "\"" + name + "\":[" +
              times.map(num).mkString(",") + "]"
            println(entry)
            if (out.length > 1) out.append(",")
            out.append(entry)
          }
        }
        out.append("}")
        println("NOOP_TIMES " + out.result())
      case "stages" =>
        val name = args(1)
        val stats = new StageStatsListener
        spark.sparkContext.addSparkListener(stats)
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"COLD ${(System.nanoTime() - t0) / 1e9}%.2f s")
        Thread.sleep(500)
        stats.clear()
        val t1 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t1) / 1e9
        Thread.sleep(500)
        println(f"WARM $name wall=$wall%.2f s; stages by task-sec:")
        printStages(stats, 25)
      case "dig" =>
        import spark.implicits._
        val stats = new StageStatsListener
        spark.sparkContext.addSparkListener(stats)
        val cfg = graft.core.EngineCfg.default
        val p = graft.ingest.CorpusGen.bench
        val docs = spark.range(0,
          graft.ingest.CorpusGen.unitCount(p).toLong)
          .flatMap(u => graft.ingest.CorpusGen.docsOfUnit(p, u.toInt))
          .toDF().cache()
        docs.count()
        val entities = graft.extract.Extract.entities(docs).cache()
        entities.count()
        // warm rep (JIT) then the measured rep
        graft.dig.Dig.features(spark, entities, cfg).count()
        Thread.sleep(500)
        stats.clear()
        val t0 = System.nanoTime()
        val n = graft.dig.Dig.features(spark, entities, cfg).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        println(f"DIG n=$n wall=$wall%.2f s; stages by task-sec:")
        printStages(stats, Int.MaxValue)
      case other =>
        System.err.println(s"unknown mode $other (plans|time|stages|dig)")
    }
    spark.stop()
  }
}

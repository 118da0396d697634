package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen

/** Scaling-efficiency evidence (north rule: N vs 4N executors; sandbox
  * stand-in: two local[k] levels on identical input, BASELINE.md).
  *
  * Phase 0 (not measured): generate the 4×-bench corpus, dig it, and
  * materialize the feature table to parquet once at full parallelism.
  * Then, per sample, a FRESH SparkSession at the sample's parallelism
  * reads that parquet and runs the identical pyramid job; levels are
  * interleaved (this VM throttles sustained full-core usage, so separate
  * invocations are not comparable) and each level reports min-of-warm-reps.
  *
  * Results are merged ACROSS PROCESSES (tools/scaling_taskset.sh runs each
  * level in its own taskset-pinned JVM): every run min-merges its level
  * into `data/scaling_level_<k>.json` and recomposes `data/scaling.json`
  * (levels + raw efficiency + the pure-CPU calibration ceiling from
  * `data/calibration.json` when present). `Bench` embeds scaling.json in
  * the per-round BENCH record.
  *
  * Default levels 8,2: a pure-CPU calibration (graft.CalibrateCpu) shows
  * this VM delivers only ~19 effective cores, capping ANY 8→32 workload
  * near 0.5 efficiency; 2→8 is the pair the hardware can meaningfully
  * grade.
  */
object ScalingBench {

  private[graft] def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** Config fingerprint stamped into every level file: a stale record
    * from an older corpus / zoom range / partitioning / plan version must
    * never min-merge into (or compose with) the current run's evidence
    * (ADVICE r2 #1). */
  private[graft] def fingerprint(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(parts.mkString("|").getBytes("UTF-8"))
    h.take(6).map(b => f"$b%02x").mkString
  }

  /** Min-merge one level's wall seconds into its level file; a previous
    * record with a different (or missing) fingerprint is DISCARDED, not
    * merged. Returns the merged min. */
  private[graft] def mergeLevel(dir: String, prefix: String, level: Int,
                                secMin: Double, work: Long,
                                unit: String, fp: String): Double = {
    Files.createDirectories(Paths.get(dir))
    val f = Paths.get(s"$dir/${prefix}_level_$level.json")
    val prev =
      if (Files.exists(f)) {
        val s = Files.readString(f)
        val sameFp = """"fp":"([0-9a-f]+)"""".r.findFirstMatchIn(s)
          .exists(_.group(1) == fp)
        val m = """"sec_min":([0-9.]+)""".r.findFirstMatchIn(s)
        if (sameFp) m.map(_.group(1).toDouble).getOrElse(Double.MaxValue)
        else Double.MaxValue
      } else Double.MaxValue
    val merged = math.min(prev, secMin)
    Files.writeString(f,
      s"""{"level":$level,"sec_min":${num(merged)},"$unit":$work,""" +
        s""""per_sec":${num(work / merged)},"fp":"$fp"}""")
    merged
  }

  /** Recompose the aggregate JSON from the level files that carry the
    * current fingerprint (others are stale configurations and skipped). */
  private[graft] def compose(dir: String, prefix: String, outName: String,
                             unit: String, fp: String,
                             includeCalib: Boolean = false,
                             method: String = "taskset-pinned JVM per" +
                               " level, interleaved rounds, min of warm" +
                               " reps, identical parquet input"): Unit = {
    import scala.jdk.CollectionConverters._
    val levels = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"${prefix}_level_"))
      .map(f => Files.readString(f).trim)
      .filter(s => """"fp":"([0-9a-f]+)"""".r.findFirstMatchIn(s)
        .exists(_.group(1) == fp))
      .toSeq
      .sortBy(s => """"level":(\d+)""".r.findFirstMatchIn(s)
        .map(_.group(1).toInt).getOrElse(0))
    if (levels.isEmpty) return
    def field(s: String, k: String): Double =
      s""""$k":([0-9.]+)""".r.findFirstMatchIn(s)
        .map(_.group(1).toDouble).getOrElse(0.0)
    // one efficiency figure per N→4N pair present (the north rule's
    // two-cluster-size criterion at every measured N)
    val byLevel = levels.map(s => field(s, "level") -> s).toMap
    val effField = byLevel.keys.toSeq.sorted.flatMap { loL =>
      byLevel.get(4 * loL).map { hi =>
        s""""efficiency_${loL.toInt}_to_${(4 * loL).toInt}":${num(
          field(hi, "per_sec") / (4.0 * field(byLevel(loL), "per_sec")))},"""
      }
    }.mkString
    val calibField =
      if (includeCalib) {
        val f = Paths.get(s"$dir/calibration.json")
        val v = if (Files.exists(f)) Files.readString(f).trim else "null"
        s""""pure_cpu_calibration":$v,"""
      } else ""
    val json =
      s"""{"levels":[${levels.mkString(",")}],""" + effField + calibField +
        s""""method":"$method"}"""
    Files.writeString(Paths.get(s"$dir/$outName"), json)
    println(json)
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALING_ROUNDS", "2").toInt
    val levels = sys.env.getOrElse("SPARK_GRAFT_SCALING_LEVELS", "8,2")
      .split(',').map(_.trim.toInt).toSeq
    val zMax = sys.env.getOrElse("SPARK_GRAFT_SCALING_ZMAX", "16").toInt
    // separate prefix → separate level files, e.g. the 2-JVM attribution
    // experiment must not min-merge into the headline scaling record.
    // executors mode defaults to its own prefix for the same reason: its
    // fingerprint differs, and mergeLevel DISCARDS a previous record with
    // a different fp — sharing "scaling_level_*.json" would wipe the
    // threads-mode minima.
    val prefix = sys.env.getOrElse("SPARK_GRAFT_SCALING_PREFIX",
      if (sys.env.getOrElse("SPARK_GRAFT_SCALING_MODE", "threads")
        == "executors") "scaling_mx" else "scaling")
    val cfg = EngineCfg.default
    val p = CorpusGen.bench.copy(nx = 240, ny = 200,
      countyCols = 24, countyRows = 20)
    val featPath = "/tmp/graft_scaling_features"
    val dataDir = "/root/repo/data"
    // mode "threads" (default): local[k] — k tasks multiplex ONE JVM; the
    // sandbox stand-in used since round 1. mode "executors": Spark's
    // local-cluster[k,1,mem] master — k REAL executor JVMs of 1 core each
    // (separate heaps, allocators, code caches; shuffle crosses process
    // boundaries over netty exactly as on a multi-node cluster), the
    // configuration the north rule actually names ("N and 4N executors").
    // The driver is pinned OFF the executor cores (a real cluster's driver
    // is a separate node); each executor JVM is pinned to its own distinct
    // core so width-k means exactly k cores of compute at every level.
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALING_MODE", "threads")
    val execMemMb = sys.env.getOrElse("SPARK_GRAFT_SCALING_EXEC_MB", "6144")
    // ActiveProcessorCount=1: the executor JVMs launch BEFORE the harness
    // can pin them, so without this they size GC/JIT/netty pools for the
    // host's 32 cores and then get pinned onto ONE — 20+ runnable threads
    // per core (measured: loadavg 14-25, util 0.5). A real 1-core
    // executor would be provisioned for 1 CPU; say so explicitly.
    val execGc = sys.env.getOrElse("SPARK_GRAFT_SCALING_EXEC_GC",
      "-XX:ActiveProcessorCount=1 -XX:+UseParallelGC -Xmn3g" +
        " -XX:-UseAdaptiveSizePolicy")
    // pv10: AQE partition COALESCING is off for the measured job. The
    // r5 stage profile showed AQE folding pv9's low-zoom run sort+pack
    // stage (CPU-heavy, but only a few MB of shuffle bytes
    // post-compression; deleted in pv11) down to 2-3 tasks — a ~2-3.5 s
    // near-serial stage inside the L8 wall, and a LEVEL-DEPENDENT one
    // (the coalesce target tracks defaultParallelism), which violated
    // the identical-plan-at-every-level protocol. The pyramid's one
    // groupByKey(tile_id) exchange would be coalesced the same way, so
    // coalescing stays off: every shuffle read is the fixed 32
    // partitions at every level; the knob is fingerprinted and the
    // prior ladder state is preserved in data/scaling_pv9.json.
    val coalesce = sys.env.getOrElse("SPARK_GRAFT_SCALING_COALESCE",
      "false")
    // measured-plan version (pv3: RingCodec-packed rings; pv4:
    // whole-feature packFeat blob + layer-rank int rows; pv5: shuffled
    // FeatPayload packed to one blob + streaming MvtLayer encode; pv6:
    // UTF_8 charset constants + alloc-free sint validation in the
    // encode row loop; pv7: per-partition reusable FeatureEncoder —
    // primitive command buffer, reused ProtoWriter/MvtGeomEncoder, tag
    // values as raw byte slices, no per-row String round trip; pv8:
    // cover-fusion, measured at parity and REJECTED — see ROUND4_NOTES;
    // pv9: weight-aware final-merge partitioning of the salted low-zoom
    // branch; pv10: AQE coalescing off; pv11: the salted branch, its
    // sampled placement and its RDD shuffle are gone — every zoom is one
    // groupByKey(tile_id), so the job has no RDD shuffle and
    // spark.serializer no longer reaches it); bump when the pyramid job
    // or the timing method changes so old level files can't win the min
    val fp = fingerprint(Seq("pv11", p.toString, zMax.toString,
      sys.env.getOrElse("SPARK_GRAFT_SCALING_PARTITIONS", "32"),
      sys.env.getOrElse("SPARK_GRAFT_SCALING_ADVISORY_MB", "8"),
      sys.env.getOrElse("SPARK_GRAFT_SCALING_AQE", "true"),
      coalesce) ++
      (if (mode == "executors") Seq(s"executors|$execMemMb|$execGc|mx-v2")
       else Nil): _*)

    val aqe = sys.env.getOrElse("SPARK_GRAFT_SCALING_AQE", "true")
    def session(cpus: Int): SparkSession = {
      // IDENTICAL plan at every level (north rule: the SAME job on N and
      // 4N executors): shuffle partitioning and AQE targets are fixed by
      // the DATA, not the cluster size — only concurrency differs.
      // Letting partitions track cores hands the small level fewer,
      // fatter tasks (less per-task overhead), understating scaling.
      val parts = sys.env.getOrElse("SPARK_GRAFT_SCALING_PARTITIONS", "32")
      val advisoryMb = sys.env.get("SPARK_GRAFT_SCALING_ADVISORY_MB")
        .map(_.toInt).getOrElse(8)
      val master =
        if (mode == "executors") s"local-cluster[$cpus,1,$execMemMb]"
        else s"local[$cpus]"
      val b = SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          s"${advisoryMb}m")
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.ui.enabled", "false")
      if (mode == "executors") {
        b.config("spark.executor.memory", s"${execMemMb}m")
        b.config("spark.executor.extraJavaOptions", execGc)
        // 1-core executors must not wait for "better" locality — a real
        // k-node cluster has k equally-good slots; the 3 s default left
        // cores idle between waves (measured util 0.5-0.65 at k=8)
        b.config("spark.locality.wait", "0s")
      }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      if (mode == "executors") pinProcesses(s, cpus)
      s
    }

    /** executors mode: wait for all k executor JVMs to register, then pin
      * each to its OWN core from SPARK_GRAFT_SCALING_EXEC_CORES (k-th entry
      * of the expanded list) and the driver JVM to
      * SPARK_GRAFT_SCALING_DRIVER_CORES — constant at every level, off the
      * executor set, like a real cluster's separate driver node. */
    def pinProcesses(s: SparkSession, cpus: Int): Unit = {
      def expand(spec: String): Seq[Int] = spec.split(',').toSeq.flatMap {
        r => r.split('-') match {
          case Array(a, z) => a.trim.toInt to z.trim.toInt
          case Array(a)    => Seq(a.trim.toInt)
        }
      }
      val execCores = expand(
        sys.env.getOrElse("SPARK_GRAFT_SCALING_EXEC_CORES", "0-7"))
      val drvCores = sys.env.getOrElse("SPARK_GRAFT_SCALING_DRIVER_CORES",
        "28-31")
      require(execCores.size >= cpus,
        s"need $cpus exec cores, got ${execCores.size}")
      val deadline = System.nanoTime() + 120L * 1000000000L
      // statusTracker counts the driver too in local modes; in
      // local-cluster the driver is NOT an executor, so expect exactly k
      while (s.sparkContext.statusTracker.getExecutorInfos.length < cpus &&
             System.nanoTime() < deadline) Thread.sleep(200)
      def sh(cmd: String): String =
        try {
          val pr = Runtime.getRuntime.exec(Array("/bin/sh", "-c", cmd))
          val out = new String(pr.getInputStream.readAllBytes, "UTF-8")
          pr.waitFor(); out
        } catch { case _: Throwable => "" }
      // this app's executors only: their cmdline carries our driver port
      val port = s.sparkContext.getConf.get("spark.driver.port", "")
      val pids = sh("pgrep -f CoarseGrainedExecutorBackend").trim
        .split("\\s+").filter(_.nonEmpty)
        .filter(pid => port.nonEmpty &&
          sh(s"tr '\\0' ' ' < /proc/$pid/cmdline 2>/dev/null")
            .contains(s":$port"))
        .sortBy(_.toLong)
      pids.zipWithIndex.foreach { case (pid, i) =>
        sh(s"taskset -apc ${execCores(i % execCores.size)} $pid > /dev/null")
      }
      sh(s"taskset -apc $drvCores ${ProcessHandle.current().pid()} " +
        "> /dev/null")
      println(s"[scaling] pinned mode=executors k=$cpus execs=" +
        pids.mkString(",") + s" cores=${execCores.take(cpus).mkString(",")}" +
        s" driver=${ProcessHandle.current().pid()}@$drvCores")
    }

    /** Sum of task wall time per rep — utilization = taskSec/(wall·cpus)
      * separates "plan doesn't parallelize" from "tasks got slower". */
    final class TaskSumListener
        extends org.apache.spark.scheduler.SparkListener {
      val sum = new java.util.concurrent.atomic.AtomicLong(0)
      // executor-side CPU (ns, from TaskMetrics) — in executors mode the
      // driver-JVM cpuSec no longer sees the workers' cycles, so the
      // CPU-flat-across-widths evidence rides on this sum instead
      val cpu = new java.util.concurrent.atomic.AtomicLong(0)
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskInfo != null) { sum.addAndGet(t.taskInfo.duration); () }
        if (t.taskMetrics != null) {
          cpu.addAndGet(t.taskMetrics.executorCpuTime); ()
        }
        n.incrementAndGet(); ()
      }
    }

    /** Per-stage tail diagnosis (SPARK_GRAFT_SCALING_STAGES=true): stage
      * wall, task-time sum, and max task expose WHERE the idle cores at
      * the end of a wide run come from — a straggler merge task shows as
      * maxTask ≈ stage wall with taskSum ≪ wall·cpus. */
    final class StageStatsListener
        extends org.apache.spark.scheduler.SparkListener {
      final case class St(var submitted: Long = 0L, var completed: Long = 0L,
                          var taskMs: Long = 0L, var maxTaskMs: Long = 0L,
                          var nTasks: Int = 0, var name: String = "")
      val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
      private def st(id: Int) =
        stages.computeIfAbsent(id, _ => St())
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        val s = st(e.stageInfo.stageId)
        s.submitted = System.currentTimeMillis()
        s.name = e.stageInfo.name.takeWhile(_ != '\n').take(60)
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        st(e.stageInfo.stageId).completed = System.currentTimeMillis()
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          val s = st(t.stageId)
          s.synchronized {
            s.taskMs += t.taskInfo.duration
            s.maxTaskMs = math.max(s.maxTaskMs, t.taskInfo.duration)
            s.nTasks += 1
          }
        }
      def report(): Unit = {
        import scala.jdk.CollectionConverters._
        stages.asScala.toSeq.sortBy(_._1).foreach { case (id, s) =>
          println(f"[stage] id=$id%-3d wall=${
            (s.completed - s.submitted) / 1e3}%.3f taskSec=${
            s.taskMs / 1e3}%.3f maxTask=${s.maxTaskMs / 1e3}%.3f tasks=${
            s.nTasks}%-3d ${s.name}")
        }
      }
    }

    // phase 0: materialize features once (full parallelism, unmeasured;
    // always a plain local[32] session — spawning 32 executor JVMs for an
    // untimed one-shot ETL would be pure startup cost)
    if (!new java.io.File(featPath + "/_SUCCESS").exists()) {
      val s = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false").getOrCreate()
      import s.implicits._
      val docs = s.range(0, CorpusGen.unitCount(p).toLong)
        .flatMap(u => CorpusGen.docsOfUnit(p, u.toInt)).toDF()
      Dig.features(s, Extract.entities(docs), cfg)
        .write.mode("overwrite").parquet(featPath)
      s.stop()
      println(s"[scaling] features materialized at $featPath")
    }

    val samples = scala.collection.mutable.Map[Int,
      scala.collection.mutable.ArrayBuffer[Double]]()
    var nTiles = 0L
    for (_ <- 1 to rounds; cpus <- levels) {
      val spark = session(cpus)
      import spark.implicits._
      // the written table is ~260 small files that the scan bin-packs
      // into a handful of uneven partitions; repartition (unmeasured,
      // during cache fill) into a FIXED 32 even partitions — identical
      // input layout at every level
      val features = spark.read.parquet(featPath)
        .repartition(32)
        .as[graft.model.Feature].cache()
      features.count()
      // warmup (JIT/codegen) then timed reps
      graft.tile.Pyramid.tiles(spark, features, cfg, "tile", "mvt", 12,
        12).count()
      def gcMs: Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      }
      // process CPU (OS-level) separates "tasks burning cores" from
      // "tasks blocked" — task duration alone counts both the same
      def cpuNs: Long =
        java.lang.management.ManagementFactory.getOperatingSystemMXBean
          match {
            case os: com.sun.management.OperatingSystemMXBean =>
              os.getProcessCpuTime
            case _ => 0L
          }
      def load1: String =
        try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0)
        catch { case _: Throwable => "-1" }
      val repsPerJvm =
        sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "2").toInt
      val stageStats = sys.env.get("SPARK_GRAFT_SCALING_STAGES")
        .contains("true")
      val times = (1 to repsPerJvm).map { _ =>
        val l = new TaskSumListener
        val sl = if (stageStats) Some(new StageStatsListener) else None
        spark.sparkContext.addSparkListener(l)
        sl.foreach(spark.sparkContext.addSparkListener)
        val gc0 = gcMs
        val c0 = cpuNs
        val t0 = System.nanoTime()
        nTiles = graft.tile.Pyramid
          .tiles(spark, features, cfg, "tile", "mvt", 0, zMax).count()
        val w = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(l)
        sl.foreach { s =>
          spark.sparkContext.removeSparkListener(s); s.report()
        }
        println(s"[scaling] cpus=$cpus wall=${num(w)} " +
          s"taskSec=${num(l.sum.get() / 1e3)} tasks=${l.n.get()} " +
          s"util=${num(l.sum.get() / 1e3 / (w * cpus))} " +
          s"gcSec=${num((gcMs - gc0) / 1e3)} " +
          s"cpuSec=${num((cpuNs - c0) / 1e9)} " +
          s"taskCpuSec=${num(l.cpu.get() / 1e9)} loadavg1=$load1")
        w
      }
      samples.getOrElseUpdate(cpus,
        scala.collection.mutable.ArrayBuffer.empty) ++= times
      println(s"[scaling] cpus=$cpus times=" +
        times.map(t => num(t)).mkString(","))
      spark.stop()
    }
    levels.filter(samples.contains).foreach { c =>
      mergeLevel(dataDir, prefix, c, samples(c).min, nTiles, "tiles", fp)
    }
    if (samples.nonEmpty)
      compose(dataDir, prefix, s"$prefix.json", "tiles", fp,
        includeCalib = true,
        method =
          if (mode == "executors")
            "local-cluster[k,1,mem]: k REAL executor JVMs of 1 core each," +
              " each pinned to its own core, driver pinned off-set;" +
              " interleaved duty-cycled bursts, min of warm reps," +
              " identical parquet input"
          else "taskset-pinned JVM per level, interleaved rounds, min of" +
            " warm reps, identical parquet input")
  }
}

/** Pure-CPU scaling calibration: an embarrassingly parallel deterministic
  * workload (mix64 chains, zero shared state, zero allocation) run on
  * `SPARK_GRAFT_CALIB_THREADS` threads. Pinned via taskset like the real
  * levels, it measures the HARDWARE's own scaling ceiling on this VM — no
  * Spark plan can beat it. Writes `data/calib_level_<k>.json` and composes
  * `data/calibration.json`. */
object CalibrateCpu {
  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val threads = sys.env.getOrElse("SPARK_GRAFT_CALIB_THREADS", "8").toInt
    // mode "alu": register-only mix64 chains (pure compute ceiling);
    // mode "stream": per-thread 64 MB array sweeps (memory-bandwidth
    // ceiling — the binding resource for shuffle-heavy Spark stages)
    val mode = sys.env.getOrElse("SPARK_GRAFT_CALIB_MODE", "alu")
    // scale units with the thread count so every level runs SUSTAINED for
    // the same ~10s wall — short bursts overstate the VM's multi-core
    // ceiling (burst 8-thread ALU scales 0.99; sustained only ~0.93)
    val units = sys.env.getOrElse("SPARK_GRAFT_CALIB_UNITS", "256").toInt
    val chain = 20000000L
    val streams = ThreadLocal.withInitial[Array[Long]](() =>
      new Array[Long](8 * 1024 * 1024)) // 64 MB per thread
    def work(u: Int): Long =
      if (mode == "stream") {
        val a = streams.get()
        var s = u.toLong
        var pass = 0
        while (pass < 4) {
          var i = 0
          while (i < a.length) { s += a(i); a(i) = s; i += 1 }
          pass += 1
        }
        s
      } else {
        var h = u.toLong
        var i = 0L
        while (i < chain) { h = graft.ingest.SpanCodec.mix64(h); i += 1 }
        h
      }
    // warmup
    (0 until threads).foreach(work)
    val queue = new java.util.concurrent.atomic.AtomicInteger(0)
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var u = queue.getAndIncrement()
        while (u < units) {
          sink.addAndGet(work(u))
          u = queue.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    val prefix = if (mode == "stream") "calibstream" else "calib"
    // units intentionally scale with the thread count (equal sustained
    // duration per level), so fingerprint the PER-THREAD unit count
    val fp = ScalingBench.fingerprint("pv2", mode,
      (units / math.max(1, threads)).toString, chain.toString)
    println(s"[calib:$mode] threads=$threads sec=${ScalingBench.num(sec)}" +
      s" sink=${sink.get()}")
    ScalingBench.mergeLevel("/root/repo/data", prefix, threads, sec,
      units.toLong, "units", fp)
    ScalingBench.compose("/root/repo/data", prefix,
      if (mode == "stream") "calibration_stream.json"
      else "calibration.json", "units", fp)
  }
}

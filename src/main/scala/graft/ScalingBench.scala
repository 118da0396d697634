package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.{CorpusGen, SpanCodec}
import graft.tile.Pyramid

/** Scaling ladder, throughput on N vs 4N workers over the same input:
  * `runMain graft.ScalingBench [outDir]`, default `data`. Writes the
  * 4×-bench feature table once, then runs [[Rounds]] rounds over every
  * level, rotating the order; a sample is one [[ScalingSample]] JVM pinned
  * with taskset to the level's cores. N→4N pairs (N = 1, 2) that do not fit
  * the host are skipped. `scaling.json` (threads) and `scaling_mx.json`
  * (executors), embedded by `Bench`, get per-level medians and IQRs. */
object ScalingBench {
  val Rounds = 5
  // the same plan at every level: fixed partitions, AQE coalescing off
  val Partitions = 32
  val AdvisoryMb = 8
  val ZMax = 16
  val ExecMb = 6144
  // executors start before they are pinned: size GC/JIT pools for one CPU
  val ExecGc = "-XX:ActiveProcessorCount=1 -XX:+UseParallelGC -Xmn3g" +
    " -XX:-UseAdaptiveSizePolicy"
  val AluUnitsPerThread = 128
  val Corpus = CorpusGen.bench.copy(nx = 240, ny = 200, countyCols = 24,
    countyRows = 20)

  final case class Level(kind: String, k: Int)

  private[graft] def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** Whether the host runs `kind`'s N→4N pair with `driverMb` per sample JVM;
    * executors also need a driver core and [[ExecMb]] per executor. */
  private[graft] def fits(kind: String, n: Int, cores: Int, memMb: Long,
                          driverMb: Long): Boolean =
    if (kind == "executors") cores > 4 * n && memMb >= driverMb + 4L * n * ExecMb
    else cores >= 4 * n && memMb >= driverMb

  /** `rounds` passes over `levels`, round r rotated left by r: over
    * levels.size rounds every level runs once in every position. */
  private[graft] def schedule[A](levels: Seq[A], rounds: Int): Seq[Seq[A]] =
    (0 until rounds).map { r =>
      val (a, b) = levels.splitAt(r % math.max(1, levels.size)); b ++ a }

  /** Linearly interpolated quantile of a non-empty sample. */
  private[graft] def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  /** One ladder as JSON from (k, sample seconds, work per sample) levels;
    * `labels` (raw JSON) follow the efficiencies, which thus come first. */
  private[graft] def ladder(levels: Seq[(Int, Seq[Double], Long)], unit: String,
                            labels: Seq[(String, String)]): String = {
    val perSec = levels.map(l => l._1 -> l._3 / quantile(l._2, 0.5)).toMap
    val lv = levels.sortBy(_._1).map { case (k, s, w) =>
      s"""{"level":$k,"sec_median":${num(quantile(s, 0.5))},""" +
        s""""sec_q1":${num(quantile(s, 0.25))},""" +
        s""""sec_q3":${num(quantile(s, 0.75))},"n":${s.size},""" +
        s""""$unit":$w,"per_sec":${num(perSec(k))}}"""
    }
    val eff = perSec.keys.toSeq.sorted.flatMap(n => perSec.get(4 * n).map(
      hi => s""""efficiency_${n}_to_${4 * n}":${num(hi / (4 * perSec(n)))}"""))
    (s""""levels":${lv.mkString("[", ",", "]")}""" +: eff ++:
      labels.map { case (k, v) => s""""$k":$v""" }).mkString("{", ",", "}")
  }

  /** Run one [[ScalingSample]] with this JVM's classpath and options,
    * pinned to `cores` (none: unpinned); return its JSON line. */
  private def sample(lv: Level, cores: Seq[Int], featPath: String): String = {
    val cs = cores.mkString(",")
    val cmd = (if (cores.isEmpty) Nil else Seq("taskset", "-c", cs)) ++
      Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", sys.props("java.class.path"), "graft.ScalingSample",
        lv.kind, lv.k.toString, cs, featPath)
    val pb = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    // as spark-submit does: local-cluster finds $SPARK_HOME/jars through it
    pb.environment().put("SPARK_SCALA_VERSION",
      util.Properties.versionNumberString.split('.').take(2).mkString("."))
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    require(p.waitFor() == 0, s"$lv sample failed")
    out.linesIterator.filter(_.startsWith("{")).toSeq.last
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val outDir = args.headOption.getOrElse("data")
    val cores = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("Cpus_allowed_list:")).get.split(':')(1).trim
      .split(',').toSeq.flatMap { r =>
        val ends = r.split('-').map(_.toInt); ends.head to ends.last }
    val memMb = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getTotalMemorySize >> 20
    val driverMb = Runtime.getRuntime.maxMemory >> 20
    val pairs = for (kind <- Seq("threads", "executors"); n <- Seq(1, 2))
      yield (kind, n, fits(kind, n, cores.size, memMb, driverMb))
    def ks(kind: String): Seq[Int] = pairs.collect {
      case (`kind`, n, true) => Seq(n, 4 * n) }.flatten.distinct
    val levels = ks("threads").map(Level("threads", _)) ++
      ks("executors").map(Level("executors", _)) ++
      ks("threads").map(Level("alu", _))
    val host = s"""{"cores":${cores.size},"mem_mb":$memMb,"heap_mb":$driverMb}"""
    println(s"[scaling] host $host; ${levels.mkString(" ")}")
    val featPath = s"${sys.props("java.io.tmpdir")}/graft_scaling_features"
    sample(Level("features", 0), Nil, featPath)
    val samples = schedule(levels, Rounds).zipWithIndex.flatMap {
      case (order, r) => order.map { lv =>
        val pinned = if (lv.kind == "executors") lv.k + 1 else lv.k
        val json = sample(lv, cores.take(pinned), featPath)
        println(s"[scaling] round ${r + 1}/$Rounds $lv $json")
        lv -> json
      }
    }.groupMap(_._1)(_._2)
    def stats(kind: String) = levels.filter(_.kind == kind).map { lv =>
      def field(key: String) = samples(lv).map(j =>
        s""""$key":([0-9.]+)""".r.findFirstMatchIn(j).get.group(1).toDouble)
      require(field("work").distinct.size == 1, s"$lv: work differs")
      (lv.k, field("sec"), field("work").head.toLong)
    }
    val method = s"median of $Rounds interleaved rounds, one JVM per sample"
    val calibration = ladder(stats("alu"), "units", Seq("method" ->
      s""""mix64 chains, $AluUnitsPerThread units per thread; $method""""))
    val fp = java.security.MessageDigest.getInstance("MD5").digest(
      Seq("pv11", Corpus, ZMax, Partitions, AdvisoryMb, ExecMb, ExecGc)
        .mkString("|").getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    Files.createDirectories(Paths.get(outDir))
    Seq(("threads", "scaling.json", "local[k]"), ("executors",
      "scaling_mx.json", s"local-cluster[k,1,$ExecMb], one core per JVM"))
      .foreach { case (kind, file, master) =>
        val skipped = pairs.collect { case (`kind`, n, false) =>
          s""""${n}_to_${4 * n}"""" }
        val json = ladder(stats(kind), "tiles", Seq(
          "skipped" -> skipped.mkString("[", ",", "]"), "host" -> host,
          "pure_cpu_calibration" -> calibration, "fp" -> s""""$fp"""",
          "method" -> (s""""$master; $method; a warm-up then a timed""" +
            """ pyramid pass over identical parquet input"""")))
        Files.writeString(Paths.get(outDir, file), json)
        println(json)
      }
  }
}

/** One [[ScalingBench]] sample, `<kind> <k> <cores> <featPath>`, as a JSON
  * line: "features" writes the input; "threads" (`local[k]`) and "executors"
  * (k 1-core JVMs) time a warm pyramid pass; "alu" the pure-CPU ceiling. */
object ScalingSample {
  import ScalingBench._

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val Array(kind, k, cores, featPath) = args
    println(if (kind == "alu") alu(k.toInt)
            else spark(kind, k.toInt, cores, featPath))
  }

  private def spark(kind: String, k: Int, cores: String,
                    featPath: String): String = {
    val executors = kind == "executors"
    val b = SparkSession.builder()
      .master(if (kind == "features") "local[*]"
              else if (executors) s"local-cluster[$k,1,$ExecMb]"
              else s"local[$k]")
      .config("spark.sql.shuffle.partitions", Partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${AdvisoryMb}m")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.ui.enabled", "false")
    if (executors) b
      .config("spark.executor.memory", s"${ExecMb}m")
      .config("spark.executor.extraJavaOptions", ExecGc)
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // k equally good 1-core slots: waiting for locality only idles cores
      .config("spark.locality.wait", "0s")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._
    if (executors) {
      val c = cores.split(',').map(_.toInt)
      pinExecutors(s, c.take(k).toSeq, c(k))
    }
    val out = if (kind == "features") {
      val docs = s.range(0, CorpusGen.unitCount(Corpus).toLong)
        .flatMap(u => CorpusGen.docsOfUnit(Corpus, u.toInt)).toDF()
      Dig.features(s, Extract.entities(docs), EngineCfg.default)
        .write.mode("overwrite").parquet(featPath)
      "{}"
    } else {
      // the same 32 input partitions at every level, whatever the scan packs
      val feats = s.read.parquet(featPath).repartition(Partitions)
        .as[graft.model.Feature].cache()
      feats.count()
      def pass() = Pyramid.tiles(s, feats, EngineCfg.default, "tile", "mvt",
        0, ZMax).count()
      pass()
      val stats = new StageStatsListener
      s.sparkContext.addSparkListener(stats)
      val t0 = System.nanoTime()
      val tiles = pass()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val st = stats.stages
      s"""{"sec":${num(sec)},"work":$tiles,"task_s":${num(st.map(_.taskS).sum)},""" +
        s""""cpu_s":${num(st.map(_.cpuS).sum)},"tasks":${st.map(_.tasks).sum}}"""
    }
    s.stop()
    out
  }

  /** Pin each executor JVM to its own core, the driver off their set. */
  private def pinExecutors(s: SparkSession, execCores: Seq[Int],
                           driverCore: Int): Unit = {
    // local-cluster workers run in this JVM and fork the executor JVMs
    def pids = ProcessHandle.current().children().iterator().asScala
      .filter(_.info().command().orElse("").endsWith("java"))
      .map(_.pid()).toSeq.sorted
    Iterator.range(0, 600).takeWhile(_ => pids.size < execCores.size)
      .foreach(_ => Thread.sleep(200)) // wait up to 120 s
    def pin(core: Int, pid: Long): Unit = new ProcessBuilder("taskset",
      "-apc", core.toString, pid.toString)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD).start().waitFor()
    pids.zip(execCores).foreach { case (pid, core) => pin(core, pid) }
    pin(driverCore, ProcessHandle.current().pid())
    System.err.println(s"[scaling] pinned executors $pids to $execCores")
  }

  /** Pure-CPU ceiling: k threads each run [[AluUnitsPerThread]] units of
    * register-only mix64 chains, no shared state, no allocation. */
  private def alu(k: Int): String = {
    @annotation.tailrec
    def chain(h: Long, n: Int): Long =
      if (n == 0) h else chain(SpanCodec.mix64(h), n - 1)
    val sinks = new Array[Long](k)
    val ts = (0 until k).map(t => new Thread(() => (0 until AluUnitsPerThread)
      .foreach(u => sinks(t) ^= chain(t * AluUnitsPerThread + u, 20000000))))
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    s"""{"sec":${num((System.nanoTime() - t0) / 1e9)},""" +
      s""""work":${k * AluUnitsPerThread}}"""
  }
}

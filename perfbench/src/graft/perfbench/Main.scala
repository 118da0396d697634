package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, tiny: Boolean, work: String,
                      inputs: String, out: String, expected: String,
                      pin: Boolean, commit: String)

/** Shared state of one run: the session, the trace, operation accounting
  * and the figures the reps produce. */
final class Ctx(val spark: SparkSession, val trace: Trace, val args: Args) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Seconds of every timed step, by step name. */
  val steps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per tile request: did it find a tile? */
  val found = mutable.ArrayBuffer.empty[Boolean]
  /** Extra per-layer counts (ratios) a workload reports. */
  val counts = mutable.LinkedHashMap.empty[String, Double]

  /** Expected digests, keyed "<workload>/<what>". */
  val expected: mutable.Map[String, String] = {
    val p = Paths.get(args.expected)
    val m = mutable.LinkedHashMap.empty[String, String]
    if (Files.exists(p))
      """"([^"]+)"\s*:\s*"([^"]*)"""".r
        .findAllMatchIn(Files.readString(p))
        .foreach(x => m(x.group(1)) = x.group(2))
    m
  }

  /** One attempted operation; an exception counts it failed (None). */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        problems += s"$what: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
        None
    }
  }

  /** Run a plan to the noop sink; while tracing, also count its rows
    * (through an observed metric, so nothing is pruned) and return them. */
  def sink(df: DataFrame): Long =
    if (!trace.recording) { Main.noop(df); -1L }
    else {
      val obs = org.apache.spark.sql.Observation()
      Main.noop(df.observe(obs, count(lit(1)).as("rows")))
      obs.get("rows").asInstanceOf[Long]
    }

  /** A check on an operation that completed: false counts it failed. */
  def verify(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch {
      case e: Throwable => problems += s"$what: ${e.getMessage}"; false
    }
    if (!good) {
      failed += 1
      problems += s"wrong: $what"
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  /** Compare a digest against the pinned one (or record it with --pin). */
  def verifyDigest(what: String, got: String): Unit = {
    val key = s"${args.workload}${if (args.tiny) "@tiny" else ""}/$what"
    if (args.pin) expected(key) = got
    else verify(s"$key digest $got, pinned ${expected.getOrElse(key, "none")}")(
      expected.get(key).contains(got))
  }
}

/** One timed step of a rep: a batch pass (its median time counts toward
  * `rep_s`), a request (toward `request_ms`), or both.
  * `run` does the work and returns its seconds, None if it failed; checks
  * run after the timed part. */
final case class Step(name: String, pass: Boolean, request: Boolean,
                      run: () => Option[Double])

/** One benchmark workload: a closed loop with one client. */
trait Workload {
  /** Untimed: write the fixed inputs under `c.args.inputs` unless an
    * earlier run of the same build already did. */
  def prepare(c: Ctx): Unit
  /** Load inputs and build caches. Run several times; the last one
    * stays. */
  def setup(c: Ctx): Unit
  /** Release what `setup` built, before the next `setup`. */
  def teardown(c: Ctx): Unit
  /** Untimed, right before the reps: warms JIT and codegen, checks
    * outputs. */
  def warm(c: Ctx): Unit
  /** Traced runs only: calls that split a pass into its layers. */
  def layerPasses(c: Ctx): Unit
  /** The steps of rep `i`, run in order. */
  def rep(c: Ctx, i: Int): Seq[Step]
  /** May a rep after the first stop between its steps? If not, it starts
    * only if all its steps still end within `seconds`. */
  def partialReps: Boolean
}

object Main {
  /** How many times `setup` runs; `setup_s` is their median. */
  val SetupReps = 3

  /** The per-layer names, in print order, and which get GC and spill. */
  val Layers: Seq[String] = Seq("extract", "dig", "tile.cover",
    "tile.encode", "tile.pyramid_lo", "tile.pyramid_hi", "run.dig_job",
    "run.pyramid_job", "tile.single", "query.lookup", "query.knn_join") ++
    (Pipeline.Ops ++ Pipeline.TracedOps).filter(_ != "knn_join")
      .map("pipeline." + _)
  private val MemLayers = Layers.take(8).toSet
  /** Figures left out: these layers run no shuffle, so they read 0. */
  private val NoShuffle = Set("extract", "tile.cover", "tile.single",
    "query.lookup")
  val Base = Seq("wall_s" -> "s", "task_s" -> "s", "max_task_s" -> "s",
    "shuffle_mb" -> "MB", "rows_out" -> "count", "jobs" -> "count")
  val Mem = Seq("gc_s" -> "s", "spill_mb" -> "MB")
  val Counts = Seq("tile.encode.kept_ratio" -> "ratio",
    "query.lookup.hit_ratio" -> "ratio", "run.pyramid_job.batches" -> "count",
    "setup.cache_mb" -> "MB", "trace.rep_s" -> "s")

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("tiny").contains("1"), need("work"),
      need("inputs"), need("out"), need("expected"),
      m.get("pin").contains("1"), m.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "tiles_skewed" => new TilesSkewed
      case "pipeline_sf01" => new Pipeline
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", (4 * nproc).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session up")
    val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}" +
      s"-${System.currentTimeMillis()}"
    val c = new Ctx(spark, new Trace(spark.sparkContext, runId), a)
    val load0 = Host.cpuTicks
    val metrics = run(c, w)
    val load1 = Host.cpuTicks
    val fields = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Stats.fmt(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val result = s"""{"correct":${c.failed == 0},"attempted":${c.attempted},""" +
      s""""failed":${c.failed},"metrics":$fields}"""
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => s""""$k":"${spark.conf.getOption(k).getOrElse("")}"""")
      .mkString("{", ",", "}")
    val record =
      s"""{"run_id":"$runId","workload":"${a.workload}","seed":${a.seed},""" +
        s""""seconds":${a.seconds},"trace":${a.trace},"tiny":${a.tiny},""" +
        s""""fingerprint":{"nproc":$nproc,"commit":"${a.commit}",""" +
        s""""java":"${System.getProperty("java.version")}",""" +
        s""""spark":"${spark.version}","conf":$conf},""" +
        s""""loadavg1":${Stats.fmt(Host.loadavg1)},""" +
        s""""steal_pct":${Stats.fmt(Host.stealPct(load0, load1))},""" +
        s""""steps":${c.steps.map { case (k, v) =>
          s""""$k":${v.map(Stats.fmt).mkString("[", ",", "]")}"""
        }.mkString("{", ",", "}")},""" +
        s""""problems":${c.problems.map(p => "\"" + esc(p) + "\"")
          .mkString("[", ",", "]")},""" +
        s""""result":$result,"spans":${c.trace.json}}"""
    Files.writeString(Paths.get(a.out + ".record.json"), record)
    if (a.pin)
      Files.writeString(Paths.get(a.expected), c.expected.toSeq.sorted
        .map { case (k, v) => s"""  "$k": "$v"""" }
        .mkString("{\n", ",\n", "\n}\n"))
    phase("run done")
    spark.stop()
    phase("session stopped")
    Files.writeString(Paths.get(a.out), result)
  }

  /** Seconds since the JVM started. */
  private def uptime: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] $what at $uptime%.1f s")

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    .map(ch => if (ch < ' ') ' ' else ch)

  /** Set up, warm, then run the reps' steps while the next one fits in
    * `seconds`. */
  def run(c: Ctx, w: Workload): Seq[(String, (Double, String))] = {
    val a = c.args
    val sc = c.spark.sparkContext
    w.prepare(c)
    phase("inputs ready")
    def setup(i: Int): Double = {
      if (i > 0) w.teardown(c)
      c.trace.record(a.trace)
      val sec = timed(c.trace.span("setup")(w.setup(c)))._2
      c.trace.record(false)
      sec
    }
    val setups = (0 until SetupReps).map(setup)
    val cacheMb = sc.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    c.trace.span("warm")(w.warm(c))
    if (a.trace) {
      c.trace.record(true)
      c.trace.span("layers")(w.layerPasses(c))
      c.trace.record(false)
      // the warm pass again, right before the reps: a pass run after other
      // work is slower the first time, from JIT and GC state alike
      c.trace.span("warm")(w.warm(c))
    }
    System.gc()
    phase("warm done")
    // every step of the first rep; after that a step (or a whole rep, see
    // `partialReps`) starts only if it still ends within `seconds` at its
    // median length so far
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def median(step: String) =
      c.steps.get(step).fold(0.0)(t => Stats.median(t.toSeq))
    val passes = mutable.LinkedHashSet.empty[String]
    val requests = mutable.LinkedHashSet.empty[String]
    var i = 0
    var more = true
    c.trace.record(a.trace)
    while (more) {
      val rep = w.rep(c, i)
      if (i > 0 && !w.partialReps &&
        elapsed + rep.map(s => median(s.name)).sum > a.seconds) more = false
      val steps = rep.iterator
      while (more && steps.hasNext) {
        val s = steps.next()
        if (i > 0 && elapsed + median(s.name) > a.seconds) more = false
        else c.trace.span[Option[Double]](s.name)(s.run()).foreach { sec =>
          c.steps.getOrElseUpdate(s.name, mutable.ArrayBuffer.empty) += sec
          if (s.pass) passes += s.name
          if (s.request) requests += s.name
        }
      }
      i += 1
    }
    c.trace.record(false)
    w.teardown(c)
    // one rep's batch work: the sum of its passes' median times; a
    // request: the mean over request kinds of each kind's median time
    val repS = passes.toSeq.map(median).sum
    val requestMs = requests.toSeq.map(median).sum / requests.size * 1e3
    System.err.println(s"[perfbench] steps run: " +
      c.steps.map { case (k, v) => s"$k ${v.length}" }.mkString(", "))
    if (!a.trace) {
      Seq("setup_s" -> (Stats.median(setups), "s"),
        "rep_s" -> (repS, "s"),
        "request_ms" -> (requestMs, "ms"))
    } else {
      val layer = Layers.flatMap { l =>
        val st = c.trace.layerStats(l)
        (Base ++ (if (MemLayers(l)) Mem else Nil))
          .filterNot(k => k._1 == "shuffle_mb" && NoShuffle(l)).map { case (k, u) =>
          s"$l.$k" -> (st.getOrElse(k, 0.0), u)
        }
      }
      c.counts("setup.cache_mb") = cacheMb
      if (c.found.nonEmpty)
        c.counts("query.lookup.hit_ratio") =
          c.found.count(identity).toDouble / c.found.length
      // the traced run's `rep_s`; against the untraced runs' it gives the
      // tracing overhead
      c.counts("trace.rep_s") = repS
      layer ++ Counts.map { case (k, u) => k -> (c.counts.getOrElse(k, 0.0), u) }
    }
  }

  // ---- helpers the workloads share ----

  /** Run a plan to the noop sink (no collect, no column pruning). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-independent digest of a DataFrame's rows: row count plus the
    * exact sum of each row's 64-bit hash over every column. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(0)}"
  }

  /** Order-independent digest of collected rows: row count plus the sum of
    * a 64-bit hash of each row's text form (bytes as hex). */
  def rowDigest(rows: Array[Row]): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    val sum = rows.iterator.map { r =>
      val s = r.toSeq.map {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case v => String.valueOf(v)
      }.mkString("\u0001")
      (stringHash(s, 17).toLong << 32) ^ (stringHash(s, 91) & 0xffffffffL)
    }.sum
    f"${rows.length}:$sum%016x"
  }

  /** Write a fixed input at `path` once: `write` fills a scratch
    * directory, which is then renamed into place. */
  def once(path: String)(write: String => Unit): Unit =
    if (!Files.exists(Paths.get(path))) {
      val tmp = s"$path.tmp-${ProcessHandle.current.pid}"
      deleteTree(tmp)
      write(tmp)
      Files.move(Paths.get(tmp), Paths.get(path),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Run `f`; returns its result and its seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Host-load evidence for the run record. */
object Host {
  def loadavg1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => Double.NaN }

  /** (steal ticks, total ticks) from the aggregate line of /proc/stat. */
  def cpuTicks: (Long, Long) =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      (if (l.length > 7) l(7) else 0L, l.sum)
    } catch { case _: Throwable => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else Double.NaN
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM: set up several times, warm up, measure
  * one workload for a fixed number of seconds, check its outputs and write
  * `result.json` into the run directory. `perfbench/run.py` builds the
  * harness, launches this and prints the summary.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <size full|tiny> <runDir>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        tiny: Boolean, runDir: String)

  final case class Check(name: String, ok: Boolean, detail: String)

  /** What a workload reports. `e2e` and `layers` map metric name to
    * (value, unit); `extra` holds JSON fragments for the artifact.
    */
  final case class Outcome(attempted: Int, failed: Int,
                           e2e: Seq[(String, Double, String)],
                           layers: Map[String, Double],
                           checks: Seq[Check],
                           extra: Seq[(String, String)])

  trait Workload {
    /** One set-up into a fresh directory: generate and load the inputs. */
    def setUp(spark: SparkSession, dir: String): Unit
    /** Untimed work after the last set-up and before measuring. */
    def warmUp(spark: SparkSession): Unit
    def run(spark: SparkSession, runner: OpRunner, seconds: Int): Outcome
  }

  val setUps = 3
  val shufflePartitions = 4

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  private val started = System.nanoTime()
  /** Progress line on stderr (the run log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f] $msg")

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- process-level readings from /proc -----------------------------------

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  /** User + system CPU seconds of this process (clock ticks of 1/100 s). */
  def cpuSeconds(): Double = {
    val stat = read("/proc/self/stat")
    val fields = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (fields(11).toLong + fields(12).toLong) / 100.0
  }

  def peakRssMb(): Double =
    read("/proc/self/status").split('\n').find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def loadavg(): String = read("/proc/loadavg").trim

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  // ---- operations, traced or not -------------------------------------------

  /** Runs operations and, in a traced run, reads the layer counters around
    * each traced one. Listeners are attached only for traced operations,
    * so untraced operations of a traced run are the overhead baseline.
    */
  final class OpRunner(spark: SparkSession, val trace: Boolean) {
    private val listeners = if (trace) Some(new Probe.Listeners(spark)) else None
    val samples = mutable.ArrayBuffer.empty[Map[String, Double]]

    def stateRows: Double = listeners.map(_.maxStateRows.toDouble).getOrElse(0.0)

    /** In a traced operation, wait for a streaming query's events. */
    def awaitStreamEvents(id: java.util.UUID): Unit = listeners.foreach(_.awaitTerminated(id))

    /** Whether the i-th repeated operation is traced: every other one in a
      * traced run, starting with the second, so traced operations sit
      * between untraced ones and the first, slowest operation after the
      * warm-up is never the only traced one.
      */
    def tracedAt(i: Int): Boolean = trace && i % 2 == 1

    /** Repeated operations a run makes at least: three in a traced run
      * (untraced, traced, untraced), else `untraced`.
      */
    def minOps(untraced: Int): Int = if (trace) 3 else untraced

    /** Whether one more operation, as long as the median one so far, ends
      * within `seconds` of `t0`, so the operation count does not flip
      * when operations take about as long as the window.
      */
    def fits(t0: Long, seconds: Int, walls: Seq[Double]): Boolean =
      (System.nanoTime() - t0) / 1e9 + median(walls) <= seconds

    /** Run `body`, reading the layer counters around it when `traced`, and
      * return its wall seconds.
      */
    def measure[A](traced: Boolean)(body: => A): (A, Double) =
      listeners.filter(_ => traced) match {
        case None =>
          val t0 = System.nanoTime()
          val out = body
          (out, (System.nanoTime() - t0) / 1e9)
        case Some(l) =>
          l.attach()
          try {
            l.fence()
            l.jobIntervals.clear()
            Probe.recording = true
            val s0 = Probe.snapshot()
            val cg0 = CodeGenerator.compileTime
            val w0 = System.currentTimeMillis()
            val t0 = System.nanoTime()
            val out = body
            val wall = (System.nanoTime() - t0) / 1e9
            val w1 = System.currentTimeMillis()
            val cg1 = CodeGenerator.compileTime
            l.fence()
            val s1 = Probe.snapshot()
            Probe.recording = false
            val delta = (s0.keySet ++ s1.keySet).iterator.map { k =>
              k -> (s1.getOrElse(k, 0.0) - s0.getOrElse(k, 0.0))
            }.toMap
            samples += delta ++ Map(
              "driver.codegen_ns" -> (cg1 - cg0).toDouble,
              "driver.idle_ms" -> idleMs(l.jobIntervals.toArray.map(_.asInstanceOf[(Long, Long)]), w0, w1))
            (out, wall)
          } finally {
            Probe.recording = false
            l.detach()
          }
      }

    /** Milliseconds of [from, to] covered by no job interval. */
    private def idleMs(jobs: Array[(Long, Long)], from: Long, to: Long): Double = {
      val clipped = jobs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var busy = 0L
      var curS = -1L
      var curE = -1L
      clipped.foreach { case (s, e) =>
        if (s > curE) { busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      busy += curE - curS
      (to - from - busy).toDouble
    }
  }

  /** Median over traced operations of one counter, scaled. */
  def perOp(samples: Seq[Map[String, Double]], key: String, scale: Double = 1.0): Double =
    median(samples.map(_.getOrElse(key, 0.0) * scale))

  /** The scheduler and driver layer metrics, per operation. `queriesPerOp`
    * is 1 for patron ticks and the pass size for query passes.
    */
  def sparkLayers(samples: Seq[Map[String, Double]], queriesPerOp: Int): Map[String, Double] = {
    val mb = 1.0 / (1024 * 1024)
    Map(
      "spark.jobs" -> perOp(samples, "spark.jobs"),
      "spark.stages" -> perOp(samples, "spark.stages"),
      "spark.tasks" -> perOp(samples, "spark.tasks"),
      "spark.jobs_per_op" -> perOp(samples, "spark.jobs", 1.0 / math.max(1, queriesPerOp)),
      "spark.sched_delay_s" -> perOp(samples, "spark.sched_delay_ms", 1e-3),
      "spark.task_s" -> perOp(samples, "spark.task_ms", 1e-3),
      "spark.task_cpu_s" -> perOp(samples, "spark.task_cpu_ns", 1e-9),
      "spark.gc_s" -> perOp(samples, "spark.gc_ms", 1e-3),
      "spark.shuffle_write_mb" -> perOp(samples, "spark.shuffle_write_b", mb),
      "spark.shuffle_read_mb" -> perOp(samples, "spark.shuffle_read_b", mb),
      "spark.spill_mb" -> perOp(samples, "spark.spill_b", mb),
      "spark.input_mb" -> perOp(samples, "spark.input_b", mb),
      "spark.task_failures" -> perOp(samples, "spark.task_failures"),
      "driver.analysis_s" -> perOp(samples, "driver.analysis_ms", 1e-3),
      "driver.optimizer_s" -> perOp(samples, "driver.optimizer_ms", 1e-3),
      "driver.planning_s" -> perOp(samples, "driver.planning_ms", 1e-3),
      "driver.codegen_s" -> perOp(samples, "driver.codegen_ns", 1e-9),
      "driver.idle_s" -> perOp(samples, "driver.idle_ms", 1e-3))
  }

  /** Every per-layer metric with its unit, in report order. A workload
    * that does not reach a layer reports 0 for it.
    */
  val layerCatalog: Seq[(String, String)] = Seq(
    "sources.polls" -> "count", "sources.poll_s" -> "s",
    "sources.rows_polled" -> "count", "sources.empty_poll_ratio" -> "ratio",
    "pipeline.obfuscate_calls" -> "count", "pipeline.obfuscate_s" -> "s",
    "pipeline.obfuscate_per_record" -> "ratio",
    "pipeline.census_posts" -> "count", "pipeline.census_s" -> "s",
    "pipeline.census_rows_per_record" -> "ratio",
    "pipeline.nyc_calls" -> "count", "pipeline.nyc_s" -> "s",
    "pipeline.sink_puts" -> "count", "pipeline.sink_s" -> "s",
    "pipeline.records_per_put" -> "ratio", "pipeline.backfill_share" -> "ratio",
    "streaming.batches" -> "count", "streaming.trigger_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.latest_offset_s" -> "s",
    "streaming.commit_s" -> "s", "streaming.state_rows" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.jobs_per_op" -> "count", "spark.sched_delay_s" -> "s",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.task_failures" -> "count",
    "driver.analysis_s" -> "s", "driver.optimizer_s" -> "s", "driver.planning_s" -> "s",
    "driver.codegen_s" -> "s", "driver.idle_s" -> "s") ++
    CorpusWorkload.prefixes.map(p => s"queries.${p}_s" -> "s") :+
    ("trace.overhead_pct" -> "%")

  /** Relative cost of tracing, in %: traced over untraced operation time,
    * leaving out the first operation, which is slower than the rest for
    * reasons of its own (it is untraced, see [[OpRunner.tracedAt]]).
    */
  def overheadPct(ops: Seq[(Boolean, Double)]): Double = {
    val traced = ops.collect { case (true, w) => w }
    val untraced = ops.drop(1).collect { case (false, w) => w }
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else (median(traced) / median(untraced) - 1.0) * 100.0
  }

  // ---- artifact ------------------------------------------------------------

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${q(n)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}}" }
      .mkString("{", ", ", "}")

  def parse(argv: Array[String]): Args = {
    require(argv.length == 6, "usage: Main <workload> <seed> <seconds> <trace> <size> <runDir>")
    Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", argv(4) == "tiny", argv(5))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadStart = loadavg()
    val workload: Workload = a.workload match {
      case "patron_poll" => new PatronWorkload(a.seed, a.tiny)
      case "corpus_dedup" => new CorpusWorkload(a.seed, a.tiny, a.runDir)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    var spark: SparkSession = null
    val setupTimes = (1 to setUps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      workload.setUp(spark, s"${a.runDir}/setup_$i")
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"set-up $i: $dt%.2f s")
      dt
    }
    val w0 = System.nanoTime()
    workload.warmUp(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9
    log(f"warm-up: $warmupS%.2f s")
    val runner = new OpRunner(spark, a.trace)
    val out = workload.run(spark, runner, a.seconds)
    if (a.trace) Probe.writeSpans(s"${a.runDir}/spans.jsonl")
    val e2e = ("setup_s", median(setupTimes), "s") +: out.e2e :+
      (("peak_rss_mb", peakRssMb(), "MB"))
    val env = Seq(
      "nproc" -> nproc.toString,
      "heap_mb" -> num(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "spark_version" -> q(spark.version),
      "shuffle_partitions" -> shufflePartitions.toString,
      "loadavg_start" -> q(loadStart),
      "loadavg_end" -> q(loadavg()))
    val checks = out.checks.map(c =>
      s"{${q("name")}: ${q(c.name)}, ${q("ok")}: ${c.ok}, ${q("detail")}: ${q(c.detail)}}")
    val json = Seq(
      "workload" -> q(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "setup_runs_s" -> setupTimes.map(num).mkString("[", ", ", "]"),
      "warmup_s" -> num(warmupS),
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(layerCatalog.map { case (n, u) => (n, out.layers.getOrElse(n, 0.0), u) }),
      "checks" -> checks.mkString("[", ", ", "]"),
      "env" -> env.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    ) ++ out.extra
    Files.writeString(Paths.get(s"${a.runDir}/result.json"),
      json.map { case (k, v) => s"${q(k)}: $v" }.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}

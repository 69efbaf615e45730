package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.node._
import graft.operators.{Checkpoints, SuffixArray, TransientPersists}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Accumulates shuffle bytes across all tasks; snapshot the counters
  * around a query to attribute its shuffle volume (queries run
  * sequentially and are fully materialized, so deltas don't interleave).
  * Read by [[Harness.run]]: shuffle volume is the metric that predicts
  * 100 TB cost, and — unlike wall-clock on a shared box — it is largely
  * DETERMINISTIC, so its scaling exponent is reproducible evidence even
  * when timing isn't.
  *
  * WRITE and READ are tracked separately (r14): `bytes` — the gated
  * metric — is WRITE-only, because write volume is exactly the data
  * movement the plan requested and is invariant to runtime
  * remediation; READ bytes include AQE skew-join split re-reads (each
  * split re-reads the non-skewed side's matching partition) and
  * task-retry re-fetches, so a skew-heavy tier can legitimately read
  * multiples of what was written — adaptive remediation, not plan
  * superlinearity. `readBytes` is still published in the rehearsal
  * artifact as the skew-amplification diagnostic (read ≫ write at one
  * tier ⇒ AQE split a skewed join there).
  */
private[graft] final class ShuffleBytesListener extends SparkListener {
  val bytes = new AtomicLong(0L)
  val readBytes = new AtomicLong(0L)
  /** Source-scan bytes (parquet/file reads). Published since r17 as the
    * re-scan diagnostic: an operator that reads its input k× instead of
    * once shows up here and nowhere in the shuffle counters — exactly
    * the defect class of shardedDedupCut's former per-shard corpus
    * re-scan (r16 verdict #1), whose fix is evidenced by input bytes
    * staying FLAT as nShards grows (SuffixArraySpec pins the ratio).
    */
  val inputBytes = new AtomicLong(0L)
  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      readBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }
}

/** The harness core behind every bench and verify main: one session
  * policy, one measured run, one child-JVM launcher and one JSON
  * writer/reader for the artifacts.
  */
object Harness {

  /** Executor threads (`local[cpus]`); a core-scaling run varies it. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The session conf every harness main runs under. Shuffle partitions
    * are FIXED (default 32 = the default run's value, so numbers stay
    * comparable across rounds), decoupled from `cpus` (r18 verdict item
    * 2a): partitions-follow-cores cancels exactly the signal a core
    * scaling run probes — fewer cores ⇒ fewer tasks ⇒ flat ratios
    * regardless of how the engine scales. Env-overridable for
    * deployments whose data needs a different granularity (AQE
    * coalescing handles the small-partition side either way).
    */
  private[graft] def conf: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts has shipped as TIMESTAMP(NANOS): degrade it to LongType
    // instead of throwing (Tables.events branches on the loaded type)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def session(): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val listeners = new ConcurrentHashMap[SparkContext, ShuffleBytesListener]()

  /** The context's one shuffle/input counter, registered on first use. */
  private[graft] def counters(spark: SparkSession): ShuffleBytesListener =
    listeners.computeIfAbsent(spark.sparkContext, sc => {
      val l = new ShuffleBytesListener
      sc.addSparkListener(l)
      l
    })

  /** One measured run; every field is -1 when `ok` is false. */
  final case class Run(ok: Boolean, secs: Double, writeBytes: Long,
                       readBytes: Long, inputBytes: Long)

  /** Evaluate one query under its lifetime: `body` runs, then the
    * query-transient persists are released, failed or not — without
    * this, 173 queries × 3 passes accumulate dozens of un-evictable
    * MEMORY_AND_DISK tables, and the storage pressure makes later runs
    * of unrelated queries spike (the r13 q112 variance — see
    * TransientPersists). Then the eager checkpoints the query created —
    * the ones its result is rooted at included — are freed through
    * [[Checkpoints.scope]], except the [[SuffixArray.cached]] entries
    * later queries ride. [[run]] and [[Verify.dump]] evaluate every
    * query through it.
    */
  def queryLifetime[T](spark: SparkSession)(body: => T): T =
    Checkpoints.scope(spark, keep = SuffixArray.cachedFrames) {
      try body finally TransientPersists.releaseAll()
    }

  /** Fully materialize the registered query `name` over `dir` through a
    * noop write (count() could skip projection work under column
    * pruning) and measure it, under [[queryLifetime]]; the clock stops
    * before the lifetime's releases. A failed or unregistered query
    * must NEVER look like a fast success (round 7: 13 broken queries
    * were recorded as ~0.06 s / 0-shuffle-byte wins), so it comes back
    * ok=false with -1 fields and a stderr line.
    */
  def run(spark: SparkSession, name: String, dir: String): Run = {
    val c = counters(spark)
    val (w0, r0, i0) = (c.bytes.get(), c.readBytes.get(), c.inputBytes.get())
    val (ok, secs) = queryLifetime(spark) {
      val t0 = System.nanoTime()
      val ok =
        try SparkEntry.queries.get(name) match {
          case None =>
            System.err.println(s"[harness] $name is not in SparkEntry.queries")
            false
          case Some(fn) =>
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            true
        } catch { case e: Throwable =>
          System.err.println(s"[harness] $name failed at $dir: ${e.getMessage}")
          false
        }
      (ok, (System.nanoTime() - t0) / 1e9)
    }
    if (ok) Run(ok = true, secs, c.bytes.get() - w0, c.readBytes.get() - r0,
      c.inputBytes.get() - i0)
    else Run(ok = false, -1.0, -1L, -1L, -1L)
  }

  /** Run `body` with the SQL confs in `pins` set, restoring each pinned
    * key to its previous value (or unset) afterwards, even when `body`
    * throws.
    */
  def withConf[T](spark: SparkSession, pins: (String, String)*)(body: => T): T = {
    val prev = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** JPMS opens Spark needs on Java 17+, passed to every child JVM. */
  private val AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Run `mainClass` in a child JVM on this JVM's classpath (`run / fork
    * := true` makes `java.class.path` the full app classpath) with heap
    * `mem`, the child's stdout and stderr both sent to `output`, and
    * `env` added to the inherited environment. `outFile` is deleted
    * before launch; the result is whether the child left it behind, so
    * a child killed after writing a partial artifact still counts —
    * partial evidence beats none.
    *
    * `tmpDir` becomes the child's java.io.tmpdir (Spark local dirs,
    * shuffle spills) and is deleted on every exit path: a timeout-killed
    * JVM cannot clean its own, and one killed rehearsal left a 43 GB
    * blockmgr orphan in /tmp that drove the NEXT run into No-space-left
    * spill failures. A child still running after `timeoutSecs` is killed.
    */
  def fork(mainClass: String, args: Seq[String], outFile: File, tmpDir: File,
           mem: String, timeoutSecs: Long, output: ProcessBuilder.Redirect,
           env: Map[String, String] = Map.empty): Boolean = {
    val cp = System.getProperty("java.class.path")
    if (cp == null || !cp.contains("classes")) {
      System.err.println(s"[harness] classpath unusable for fork: $cp")
      return false
    }
    var p: Process = null
    try {
      Files.deleteIfExists(outFile.toPath)
      tmpDir.mkdirs()
      val javaBin = new File(new File(sys.props("java.home"), "bin"), "java")
      val cmd = Seq(javaBin.getAbsolutePath) ++ AddOpens ++ Seq(s"-Xmx$mem",
        "-Duser.timezone=UTC", s"-Djava.io.tmpdir=${tmpDir.getAbsolutePath}",
        "-cp", cp, mainClass) ++ args
      val pb = new ProcessBuilder(cmd: _*)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.redirectErrorStream(true)
      pb.redirectOutput(output)
      p = pb.start()
      if (!p.waitFor(timeoutSecs, TimeUnit.SECONDS)) {
        System.err.println(s"[harness] $mainClass still running after " +
          s"${timeoutSecs}s - killing it")
        p.destroyForcibly().waitFor()
      }
      outFile.isFile
    } catch { case e: Exception =>
      System.err.println(s"[harness] fork of $mainClass failed: ${e.getMessage}")
      false
    } finally {
      if (p != null && p.isAlive) p.destroyForcibly().waitFor()
      deleteRecursively(tmpDir)
    }
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** The artifact reader/writer. Floats parse as exact decimals so a
    * child artifact re-embedded in its parent keeps its printed
    * precision ("1.000" stays "1.000").
    */
  val json: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)

  /** One JSON value: a JsonNode as is (a missing one → null),
    * None/null → null, Some(x) → x, String, Boolean, Int, Long, Double,
    * or a Seq of these (→ array). Objects are built with [[obj]];
    * fixed-point numbers with [[fixed]].
    */
  def node(v: Any): JsonNode = v match {
    case null | None => NullNode.instance
    case Some(x) => node(x)
    case n: JsonNode => if (n.isMissingNode) NullNode.instance else n
    case s: String => TextNode.valueOf(s)
    case b: Boolean => BooleanNode.valueOf(b)
    case i: Int => IntNode.valueOf(i)
    case l: Long => LongNode.valueOf(l)
    case d: Double => DoubleNode.valueOf(d)
    case xs: Seq[_] =>
      val a = json.createArrayNode()
      xs.foreach(x => a.add(node(x)))
      a
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }

  /** A JSON object with `fields` in order. */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = json.createObjectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  /** `d` as a fixed-point JSON number with `digits` decimals. */
  def fixed(d: Double, digits: Int): JsonNode = DecimalNode.valueOf(
    new java.math.BigDecimal(s"%.${digits}f".formatLocal(java.util.Locale.ROOT, d)))

  /** Write `node` as one compact line (UTF-8, newline-terminated). */
  def writeJson(path: String, node: JsonNode): Unit =
    Files.write(Paths.get(path),
      (json.writeValueAsString(node) + "\n").getBytes(StandardCharsets.UTF_8))

  def readJson(path: String): JsonNode = json.readTree(new File(path))
}

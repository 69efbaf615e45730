package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import graft.pipeline.{GeosupportLike, HttpPoster, Obfuscator}
import graft.pipeline.AvroSink.RecordSink
import graft.sources.PollClient
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer instrumentation, attached only from outside the engine.
  *
  * Wrappers around the injected dependencies (obfuscator, Census poster,
  * Geosupport, poll clients, record sink, warehouse lookups) and Spark's
  * public listeners feed named counters and in-memory spans while
  * `recording` is on. Untraced runs never construct any of this. In a
  * traced run `Main.OpRunner` turns recording on and off per operation, so
  * traced and untraced operations of one run can be compared for the
  * tracing overhead.
  */
object Probe {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
                        startNs: Long, endNs: Long)

  @volatile var recording: Boolean = false
  @volatile private var opSpan: Long = 0L
  @volatile private var opTrace: Long = 0L
  private val ids = new AtomicLong(0L)
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def add(name: String, n: Long): Unit =
    if (recording) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum().toDouble }.toMap

  /** Time `body` as a span under the innermost open span of this thread,
    * or under the current operation when the thread has none (executor
    * threads). Adds `<name>.calls` and `<name>.ns`.
    */
  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(opSpan)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, parent, opTrace, name, t0, t1))
        add(s"$name.calls", 1)
        add(s"$name.ns", t1 - t0)
      }
    }

  /** One operation (query, backfill or tick): a root span with its own
    * trace id.
    */
  def op[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val id = ids.incrementAndGet()
      opSpan = id
      opTrace = id
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, 0L, id, name, t0, System.nanoTime()))
        opSpan = 0L
      }
    }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }

  /** Share of the named operation's wall time during which at least one
    * span whose name starts with `prefix` was open.
    */
  def coverage(op: String, prefix: String): Double = {
    val all = spans.asScala.toSeq
    all.find(s => s.parent == 0L && s.name == op).map { root =>
      val iv = all.filter(s => s.trace == root.trace && s.name.startsWith(prefix))
        .map(s => (s.startNs, s.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = 0L
      var curE = 0L
      iv.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered += curE - curS
      covered.toDouble / math.max(1L, root.endNs - root.startNs)
    }.getOrElse(0.0)
  }

  // ---- dependency wrappers -------------------------------------------------

  final class TracedObfuscator(inner: Obfuscator) extends Obfuscator {
    override def obfuscate(plaintext: String): String =
      span("pipeline.obfuscate")(inner.obfuscate(plaintext))
  }

  final class TracedPoster(inner: HttpPoster) extends HttpPoster {
    override def post(csvBody: Array[Byte]): Array[Byte] = {
      add("pipeline.census_rows", csvBody.count(_ == '\n') + 1L)
      span("pipeline.census")(inner.post(csvBody))
    }
  }

  final class TracedGeosupport(inner: GeosupportLike) extends GeosupportLike {
    override def address(houseNumber: String, streetName: String,
                         zipCode: String): Map[String, String] =
      span("pipeline.nyc")(inner.address(houseNumber, streetName, zipCode))
  }

  final class TracedSink(inner: RecordSink) extends RecordSink {
    override def putRecords(records: Seq[Array[Byte]]): Unit = {
      add("pipeline.sink_records", records.length.toLong)
      span("pipeline.sink")(inner.putRecords(records))
    }
  }

  final class TracedPollClient(inner: PollClient) extends PollClient {
    override def schema: StructType = inner.schema
    override def watermarkField: String = inner.watermarkField
    override def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]] = {
      val rows = span("sources.poll")(inner.poll(afterMicros, limit))
      add("sources.rows", rows.length.toLong)
      if (rows.isEmpty) add("sources.empty", 1)
      rows
    }
  }

  def tracedLookup(name: String, f: DataFrame => DataFrame): DataFrame => DataFrame =
    keys => span(s"lookup.$name")(f(keys))

  // ---- Spark listeners -----------------------------------------------------

  /** Marker column of the fence query; listeners skip its events. */
  val fenceColumn = "perfbench_fence"
  private val fenceGroup = "perfbench-fence"

  /** Scheduler, SQL and streaming listeners. Event delivery is
    * asynchronous, so [[fence]] runs a marker job and query and waits for
    * both to come back through the buses before counters are read.
    */
  final class Listeners(spark: SparkSession) {
    private val fenceStages = ConcurrentHashMap.newKeySet[Integer]()
    private val fenceJobs = ConcurrentHashMap.newKeySet[Integer]()
    @volatile private var jobLatch = new CountDownLatch(1)
    @volatile private var sqlLatch = new CountDownLatch(1)
    private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
    /** (start ms, end ms) of every non-fence job, for driver idle time. */
    val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
    private val jobStarts = new ConcurrentHashMap[Integer, java.lang.Long]()
    @volatile var maxStateRows: Long = 0L

    private def isFence(props: java.util.Properties): Boolean =
      props != null && props.getProperty("spark.jobGroup.id") == fenceGroup

    val scheduler: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isFence(e.properties)) {
          fenceJobs.add(e.jobId)
          e.stageIds.foreach(s => fenceStages.add(s))
        } else {
          add("spark.jobs", 1)
          jobStarts.put(e.jobId, e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!fenceStages.contains(e.stageInfo.stageId)) add("spark.stages", 1)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (fenceJobs.remove(e.jobId)) jobLatch.countDown()
        else Option(jobStarts.remove(e.jobId)).foreach(s => jobIntervals.add((s.longValue, e.time)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!fenceStages.contains(e.stageId) && e.taskInfo != null) {
          val info = e.taskInfo
          add("spark.tasks", 1)
          if (!info.successful) add("spark.task_failures", 1)
          val m = e.taskMetrics
          if (m != null) {
            add("spark.task_ms", m.executorRunTime)
            add("spark.task_cpu_ns", m.executorCpuTime)
            add("spark.gc_ms", m.jvmGCTime)
            add("spark.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
            add("spark.shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
            add("spark.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
            add("spark.input_b", m.inputMetrics.bytesRead)
            // the web UI's scheduler delay: time in the task's lifetime
            // not spent deserializing, running or shipping the result
            val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
            val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime - gettingResult
            add("spark.sched_delay_ms", math.max(0L, delay))
          }
        }
    }

    val sql: QueryExecutionListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.analyzed.output.exists(_.name == fenceColumn)) sqlLatch.countDown()
        else {
          val phases = qe.tracker.phases
          def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
          add("driver.analysis_ms", ms("analysis"))
          add("driver.optimizer_ms", ms("optimization"))
          add("driver.planning_ms", ms("planning"))
        }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    }

    val streaming: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        add("streaming.batches", 1)
        add("streaming.trigger_ms", ms("triggerExecution"))
        add("streaming.add_batch_ms", ms("addBatch"))
        add("streaming.latest_offset_ms", ms("latestOffset"))
        add("streaming.commit_ms", ms("commitOffsets"))
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        if (rows > maxStateRows) maxStateRows = rows
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.add(e.id)
    }

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(scheduler)
      spark.listenerManager.register(sql)
      spark.streams.addListener(streaming)
    }

    def detach(): Unit = {
      spark.sparkContext.removeSparkListener(scheduler)
      spark.listenerManager.unregister(sql)
      spark.streams.removeListener(streaming)
    }

    /** Block until every event posted before this call has been handled. */
    def fence(): Unit = {
      jobLatch = new CountDownLatch(1)
      sqlLatch = new CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setJobGroup(fenceGroup, "listener fence", interruptOnCancel = false)
      try spark.range(1).toDF(fenceColumn).collect()
      finally sc.clearJobGroup()
      require(jobLatch.await(60, TimeUnit.SECONDS) && sqlLatch.await(60, TimeUnit.SECONDS),
        "listener fence timed out")
    }

    /** Wait for the streaming bus to report `id` terminated. */
    def awaitTerminated(id: java.util.UUID): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!terminated.contains(id) && System.nanoTime() < deadline) Thread.sleep(2)
      require(terminated.contains(id), s"no termination event for streaming query $id")
    }
  }
}

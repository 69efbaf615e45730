package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 micro-batch polling source — the Spark-native form of the
  * reference's Sierra incremental scan loop (SURVEY §2.1 S1/S2 + §2.9
  * ST1–ST6, helpers/query_helper.py:16-40, lib/pipeline_controller.py:90-125):
  *
  *  - Each trigger polls the backing store for up to `limit` rows with
  *    `watermarkField > lastOffset`, ordered by the watermark field — the
  *    reference's `ordering_field >= start ... ORDER BY ... LIMIT batch`
  *    (half-open here: strictly `>` so boundary rows never re-deliver,
  *    making the reference's cross-batch dedup set a safety net rather
  *    than a correctness requirement).
  *  - Offsets are the last-delivered watermark (micros since epoch),
  *    persisted by the engine's checkpoint (replacing the S3 JSON state
  *    doc, lib/pipeline_controller.py:437-468).
  *  - ST6 stall guard: a full batch sharing one watermark value means the
  *    offset cannot advance — the source fails the query rather than loop.
  *  - ST8 backpressure: `limit` == the reference's *_PATRON_BATCH_SIZE.
  *
  * The backing store is a [[PollClient]] ([[JdbcPollClient]] issues the
  * reference's generated SQL; tests register in-memory clients). The
  * poll runs on the driver, the same topology as the reference's single
  * poll connection: each batch is the page `latestOffset` polled, cut to
  * the batch's (start, end] window and delivered as one partition, and a
  * replay (the same window planned by a fresh source after a restart)
  * polls that page again. Downstream processing is fully distributed.
  */
trait PollClient {
  def schema: StructType
  def watermarkField: String
  /** Up to `limit` rows with watermark strictly after `afterMicros`,
    * ordered by watermark. Values use external JVM types matching
    * `schema` (String / Int / Long / Double / java.sql.Timestamp /
    * java.sql.Date / null).
    */
  def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]]
}

/** Driver-side registry so option maps (strings) can reference clients. */
object PollClientRegistry {
  private val clients = new java.util.concurrent.ConcurrentHashMap[String, PollClient]()
  def register(name: String, client: PollClient): Unit = clients.put(name, client)
  def get(name: String): PollClient = {
    val c = clients.get(name)
    require(c != null, s"no PollClient registered under '$name'")
    c
  }
}

class PollingStallError(message: String) extends RuntimeException(message)

case class PollOffset(micros: Long) extends Offset {
  override def json(): String = micros.toString
}

class PollingSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PollClientRegistry.get(options.get("client")).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PollingTable(schema,
      properties.get("client"),
      Option(properties.get("limit")).map(_.toInt).getOrElse(10000),
      Option(properties.get("startMicros")).map(_.toLong).getOrElse(Long.MinValue),
      Option(properties.get("maxBatches")).map(_.toInt).getOrElse(Int.MaxValue))
}

private class PollingTable(tableSchema: StructType, clientName: String,
                           limit: Int, startMicros: Long, maxBatches: Int)
    extends Table with SupportsRead {
  override def name(): String = s"polling($clientName)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PollingMicroBatchStream(tableSchema, clientName, limit, startMicros,
          maxBatches)
    }
}

private class PollingMicroBatchStream(schema: StructType, clientName: String,
                                      limit: Int, startMicros: Long, maxBatches: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // ST8/MAX_BATCHES: per-run cap on micro-batches (the reference's
  // MAX_BATCHES env, lib/pipeline_controller.py:121-124).
  private val batchesPlanned = new java.util.concurrent.atomic.AtomicInteger(0)
  private def client = PollClientRegistry.get(clientName)
  private val wmIdx = schema.fieldIndex(client.watermarkField)
  // rows fetched for the current window, keyed by start offset.
  // Option, NOT a Long.MinValue sentinel: the default startMicros IS
  // Long.MinValue, so a sentinel key would collide with a genuine batch-0
  // replay after crash recovery and silently deliver an empty window.
  @volatile private var fetched: Option[(Long, Seq[Seq[Any]])] = None
  // ST5: AvailableNow snapshots an upper bound when the query starts (the
  // reference bounds every poll at session-start `now`,
  // helpers/query_helper.py:22), set by the run's first `latestOffset`.
  @volatile private var availableNow = false
  @volatile private var availableNowBound: Option[Long] = None

  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400000000L
    case l: Long => l
    case other => throw new IllegalArgumentException(s"unsupported watermark type: $other")
  }

  private def watermarks(rows: Seq[Seq[Any]]): Seq[Long] = rows.map(r => micros(r(wmIdx)))

  override def initialOffset(): Offset = PollOffset(startMicros)

  override def prepareForTriggerAvailableNow(): Unit = availableNow = true

  /** The AvailableNow drain target: the max watermark after `committed`,
    * paged from the first page `latestOffset` already holds. Rows at or
    * before the committed offset are never read again, so a drain polls
    * what it delivers, not the store's whole history.
    */
  private def drainBound(committed: Long, firstPage: Seq[Long]): Long = {
    var bound = committed
    var wms = firstPage
    // `>=`, not `==`: clients whose limit counts parent entities (the
    // JDBC active scan pages metadata rows, then fans out over the
    // address join) legitimately return MORE than `limit` rows.
    while (wms.nonEmpty && wms.max > bound) {
      bound = wms.max
      wms = if (wms.size >= limit) watermarks(client.poll(bound, limit)) else Seq.empty
    }
    bound
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(limit)

  // monitoring hook: the furthest offset this source knows of (the
  // AvailableNow drain target when snapshotted, else the last planned end)
  @volatile private var lastPlannedEnd: Long = startMicros
  override def reportLatestOffset(): Offset =
    PollOffset(availableNowBound.getOrElse(lastPlannedEnd))

  override def latestOffset(start: Offset, readLimit: ReadLimit): Offset = {
    val committed = start.asInstanceOf[PollOffset].micros
    if (batchesPlanned.get() >= maxBatches || availableNowBound.exists(committed >= _))
      return PollOffset(committed)
    // Poll one entry PAST the page so we can tell whether the boundary
    // watermark group genuinely straddles it. The next poll is strictly
    // `>`, so advancing to wms.max while rows beyond the page share it
    // would skip those rows forever — but trimming unconditionally (as a
    // prior revision did) shrinks every full page by one group and
    // false-triggers the stall guard when the trimmed group re-fills the
    // next page exactly. (The reference instead re-polls with >= and drops
    // re-delivered rows via processed_ids — lib/pipeline_controller.py:
    // 165-174; same delivery, no replays.)
    val rows0 = client.poll(committed, limit + 1)
    val wms0 = watermarks(rows0)
    if (availableNow && availableNowBound.isEmpty)
      availableNowBound = Some(drainBound(committed, wms0))
    // watermarks arrive ascending, so the AvailableNow bound keeps a prefix
    val keep = availableNowBound match {
      case Some(b) => wms0.count(_ <= b)
      case None => wms0.size
    }
    val wmsAll = wms0.take(keep)
    val wms = wmsAll.take(limit)
    fetched = Some((committed, rows0.take(keep).take(limit)))
    if (wms.isEmpty) PollOffset(committed)
    else {
      val straddles = wmsAll.size > limit && wmsAll(limit) == wms.last
      if (!straddles) {
        // The page's last group ends at (or before) the page boundary:
        // deliver every row and advance to its max watermark.
        batchesPlanned.incrementAndGet()
        lastPlannedEnd = wms.max
        PollOffset(wms.max)
      } else {
        // The boundary group spills past the page. Trim it from the
        // delivered window (planInputPartitions filters to `<= end`) and
        // advance only past the kept rows; the group leads the next page.
        val kept = wms.filter(_ < wms.last)
        if (kept.isEmpty) {
          // ST6: the straddling group alone exceeds the page — the offset
          // can never advance past it. Fail rather than loop.
          throw new PollingStallError(
            "Too many records found with the same timestamp")
        }
        batchesPlanned.incrementAndGet()
        lastPlannedEnd = kept.max
        PollOffset(kept.max)
      }
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PollOffset].micros
    val e = end.asInstanceOf[PollOffset].micros
    val rows = fetched.collect { case (`s`, r) => r }
      .getOrElse(client.poll(s, limit + 1))
      .filter(r => { val m = micros(r(wmIdx)); m > s && m <= e })
    Array(PollPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PollReaderFactory(schema)

  override def deserializeOffset(json: String): Offset = PollOffset(json.toLong)
  // Nothing to acknowledge upstream: offsets alone define delivery, and the
  // fetch cache must NOT be invalidated here — planInputPartitions for the
  // next window may still replay from it.
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private case class PollPartition(rows: Seq[Seq[Any]]) extends InputPartition

private class PollReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition match {
      case PollPartition(r) => r.iterator
      case other => throw new IllegalArgumentException(s"unexpected partition: $other")
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = toInternal(rows.next()); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }

  /** External JVM values → catalyst values for the declared schema. */
  private def toInternal(values: Seq[Any]): InternalRow = {
    val out = new Array[Any](values.length)
    var i = 0
    values.foreach { v =>
      out(i) = (v, schema.fields(i).dataType) match {
        case (null, _) => null
        case (s: String, StringType) => UTF8String.fromString(s)
        case (t: java.sql.Timestamp, TimestampType) =>
          t.getTime * 1000L + (t.getNanos / 1000) % 1000
        case (inst: java.time.Instant, TimestampType) =>
          inst.getEpochSecond * 1000000L + inst.getNano / 1000
        case (d: java.sql.Date, DateType) => d.toLocalDate.toEpochDay.toInt
        case (x: Int, IntegerType) => x
        case (x: Long, LongType) => x
        case (x: Double, DoubleType) => x
        case (x, dt) => throw new IllegalArgumentException(
          s"unsupported value $x for ${dt.catalogString}")
      }
      i += 1
    }
    new GenericInternalRow(out)
  }
}

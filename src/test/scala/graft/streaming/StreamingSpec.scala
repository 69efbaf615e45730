package graft.streaming

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.{LocalDate, ZoneId, ZonedDateTime}

import graft.TestSpark
import graft.pipeline._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Streaming semantics: the reference's micro-batch loop behaviors ST1-ST6
  * (SURVEY §2.9) driven through a real Structured Streaming query over a
  * file source, plus the windowed event operators.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val et = ZoneId.of("America/New_York")
  private def ts(y: Int, m: Int, d: Int, h: Int = 23): Timestamp =
    Timestamp.from(ZonedDateTime.of(y, m, d, h, 59, 59, 0, et).toInstant)
  private def dt(y: Int, m: Int, d: Int): Date = Date.valueOf(LocalDate.of(y, m, d))

  test("patron stream: checkpointed micro-batches with run-scoped dedup (ST1-ST5)") {
    val dir = Files.createTempDirectory("graft-stream").toFile.getAbsolutePath
    val srcDir = s"$dir/src"
    val ckpt = s"$dir/ckpt"
    new java.io.File(srcDir).mkdirs()

    def sierraRows(rows: Seq[Row]) =
      spark.createDataFrame(rows.asJava, Schemas.sierraActive)

    // Run 1, batch 1: patron 123. Batch 2 (same run): 123 AGAIN with a
    // novel higher-priority (display_order=0) address — within one run the
    // patron-keyed state must suppress the re-delivery wholesale
    // (reference processed_ids semantics; a per-address dedup key would
    // leak the novel row) — plus new 456.
    sierraRows(Seq(
      Row(123L, 4, 5, "lib1", "c", "r", "11111", "1 ave", dt(2021, 1, 1),
        null, ts(2021, 1, 3), ts(2020, 12, 31), 1, 1))).write.parquet(s"$srcDir/b1")
    sierraRows(Seq(
      Row(123L, 4, 5, "lib1", "c", "r", "55555", "5 st", dt(2021, 1, 1),
        null, ts(2021, 1, 3), ts(2020, 12, 31), 0, 1),
      Row(456L, 5, 6, "lib2", "c", "r", "22222", "2 ave", dt(2021, 2, 1),
        null, ts(2021, 2, 3), ts(2020, 12, 30), 1, 1))).write.parquet(s"$srcDir/b2")

    val deps = PatronPipeline.Deps(
      new Sha256Obfuscator("salt"),
      new MapGeocoder(Map("123" -> "g1", "456" -> "g2", "999" -> "g9")),
      new MapGeocoder(Map.empty),
      keys => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftAddress),
      keys => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftPatron),
      keys => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftIphlc))

    val stream = spark.readStream.schema(Schemas.sierraActive)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
    // the updated and deleted modes: empty file streams of their schemas
    new java.io.File(s"$dir/upd").mkdirs()
    new java.io.File(s"$dir/del").mkdirs()
    def noUpdates = spark.readStream.schema(Schemas.sierraActive).parquet(s"$dir/upd")
    def noDeletes = spark.readStream.schema(Schemas.sierraDeleted).parquet(s"$dir/del")

    StreamSinkLog.reset()
    val q = PatronStream.runAll(stream, noUpdates, noDeletes, deps,
      ckpt, new StreamSinkLog)
    q.awaitTermination(60000)
    val firstRun = StreamSinkLog.records.map(AvroSink.decode(_))
      .map(r => (r.get("geoid").toString, r.get("postal_code").toString)).sorted
    // 123 emitted once, from its FIRST delivery (postal 11111; the novel
    // display_order=0 55555 row in batch 2 is suppressed with the patron).
    assert(firstRun == Seq(("g1", "11111"), ("g2", "22222")))

    // Second RUN over the same checkpoint: the source watermark persists
    // (b1/b2 are not re-read) but suppression is run-scoped, like the
    // reference's processed_ids which reset every poller run
    // (lib/pipeline_controller.py:74). Re-deliver 456 with one unchanged
    // row plus a novel display_order=0 address: 456 must be RE-emitted —
    // through the ordered keep-first, so the new top-priority address
    // (44444) wins — alongside new 999. A checkpoint-lifetime seen-bit
    // would silently drop 456's update forever.
    sierraRows(Seq(
      Row(456L, 5, 6, "lib2", "c", "r", "22222", "2 ave", dt(2021, 2, 1),
        null, ts(2021, 2, 3), ts(2020, 12, 30), 1, 1),
      Row(456L, 5, 6, "lib2", "c", "r", "44444", "4 blvd", dt(2021, 2, 1),
        null, ts(2021, 2, 3), ts(2020, 12, 30), 0, 1),
      Row(999L, 9, 9, "lib9", "c", "r", "33333", "3 ave", dt(2021, 9, 1),
        null, ts(2021, 9, 3), ts(2020, 12, 1), 1, 1))).write.parquet(s"$srcDir/b3")
    StreamSinkLog.reset()
    val q2 = PatronStream.runAll(
      spark.readStream.schema(Schemas.sierraActive).parquet(s"$srcDir/*"),
      noUpdates, noDeletes, deps, ckpt, new StreamSinkLog)
    q2.awaitTermination(60000)
    val secondRun = StreamSinkLog.records.map(AvroSink.decode(_))
      .map(r => (r.get("geoid").toString, r.get("postal_code").toString)).sorted
    assert(secondRun == Seq(("g2", "44444"), ("g9", "33333")))
  }

  test("tumbling rollup on a stream matches the batch plan (ST7)") {
    val dir = Files.createTempDirectory("graft-events").toFile.getAbsolutePath
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    events.write.parquet(s"$dir/events")

    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/events")
    val agg = EventStreams.tumblingRollup(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tumbling_out")
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = EventStreams.tumblingRollup(events)
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("sliding rollup on a stream matches the batch plan") {
    val dir = Files.createTempDirectory("graft-sliding").toFile.getAbsolutePath
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    events.write.parquet(s"$dir/events")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/events")
    val q = EventStreams.slidingRollup(stream).writeStream
      .outputMode("complete").format("memory").queryName("sliding_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sliding_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventStreams.slidingRollup(events).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streamingDeltas across micro-batches matches the batch lag window (q56)") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-deltas").toFile.getAbsolutePath
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    // split at the median ts: every user's file-1 events precede their
    // file-2 events, so cross-batch state must bridge the boundary
    val cut = events
      .select(expr(
        "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY unix_micros(ts)) as long)"))
      .head().getLong(0)
    events.filter(unix_micros(col("ts")) <= cut).write.parquet(s"$dir/b1")
    events.filter(unix_micros(col("ts")) > cut).write.parquet(s"$dir/b2")

    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingDeltas(stream).writeStream
      .outputMode("append").format("memory").queryName("deltas_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("deltas_out").collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap

    val batch = graft.queries.EventQueries.q56(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(streamed.size == batch.size && streamed == batch)
    assert(streamed.values.exists(_.isDefined)) // real gaps, not all-first
  }

  test("streamingDecayScore across micro-batches matches batch q134 after re-anchoring") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-decay").toFile.getAbsolutePath
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val cut = events
      .select(expr(
        "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY unix_micros(ts)) as long)"))
      .head().getLong(0)
    events.filter(unix_micros(col("ts")) <= cut).write.parquet(s"$dir/b1")
    events.filter(unix_micros(col("ts")) > cut).write.parquet(s"$dir/b2")

    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingDecayScore(stream).writeStream
      .outputMode("update").format("memory").queryName("decay_out").start()
    q.processAllAvailable()
    q.stop()
    // last emission per user = final state snapshot
    val snaps = spark.table("decay_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // final snapshot per user = the emission with the highest n_events
    // (memory-sink row order across batches is not contractual)
    val last = snaps.groupBy(_._1).view.mapValues(_.maxBy(_._3)).toMap
    val globalMax = last.values.map(_._2).max
    val batch = graft.queries.EventQueries.q134(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(last.keySet == batch.keySet && batch.nonEmpty)
    last.foreach { case (user, (_, anchor, n, raw)) =>
      val (bn, bscore) = batch(user)
      assert(n == bn, s"user $user n_events")
      val reanchored =
        if (globalMax - anchor >= 63) 0.0 else Math.scalb(raw, -(globalMax - anchor).toInt)
      assert(math.abs(reanchored - bscore) < 1e-6,
        s"user $user: streamed $reanchored vs batch $bscore")
    }
    // at least one user must have had cross-batch state (score from both halves)
    assert(snaps.groupBy(_._1).exists(_._2.length > 1))
  }

  test("stream-stream attribution join matches the batch interval join (q65)") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-attrib").toFile.getAbsolutePath
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    // split at the median ts so click→purchase pairs straddle the
    // boundary: the join only finds them if click state survives
    // across micro-batches
    val cut = events
      .select(expr(
        "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY unix_micros(ts)) as long)"))
      .head().getLong(0)
    events.filter(unix_micros(col("ts")) <= cut).write.parquet(s"$dir/src/b1")
    events.filter(unix_micros(col("ts")) > cut).write.parquet(s"$dir/src/b2")

    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src/*")
    val out = EventStreams.streamingAttribution(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"))
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .format("memory").queryName("attrib_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attrib_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = graft.queries.EventQueries.q65(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // real cross-batch pairs exist (click before the cut, purchase after)
    assert(batch.exists { case (_, _, d) => d > 0 })
  }

  test("streamingFunnel across micro-batches matches the batch funnel state machine") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-funnel").toFile.getAbsolutePath
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")

    // independent oracle: fold the same ordered state machine per user
    // over the collected fixture (test-scale only)
    val expected = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
      .flatMap { case (user, rows) =>
        var (t1, t2, t3) = (Option.empty[Long], Option.empty[Long], Option.empty[Long])
        val out = Seq.newBuilder[(Long, String, Long)]
        rows.sortBy(r => (r._3, r._2)).foreach { case (_, _, us, kind) =>
          kind match {
            case "view" if t1.isEmpty =>
              t1 = Some(us); out += ((user, "1_view", us))
            case "click" if t2.isEmpty && t1.exists(us > _) =>
              t2 = Some(us); out += ((user, "2_click", us))
            case "purchase" if t3.isEmpty && t2.exists(us > _) =>
              t3 = Some(us); out += ((user, "3_purchase", us))
            case _ => ()
          }
        }
        out.result()
      }.toSet

    // split at the median CLICK-step time: roughly half the funnels then
    // complete after the cut, so their (t1, t2) state must bridge the
    // micro-batch boundary for the purchase step to ever fire
    val clickTimes = expected.collect { case (_, "2_click", us) => us }.toSeq.sorted
    val cut = clickTimes(clickTimes.size / 2)
    events.filter(unix_micros(col("ts")) <= cut).write.parquet(s"$dir/b1")
    events.filter(unix_micros(col("ts")) > cut).write.parquet(s"$dir/b2")

    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStreams.streamingFunnel(stream).writeStream
      .outputMode("append").format("memory").queryName("funnel_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed == expected && expected.nonEmpty)
    // some user starts its funnel at or before the cut and finishes after
    // it → the state machine genuinely carried state across batches
    assert(expected.exists { case (u, "1_view", us) =>
      us <= cut && expected.exists { case (`u`, "3_purchase", p) => p > cut; case _ => false }
      case _ => false
    })
  }

  test("session_window rollup agrees with the gaps-and-islands batch query") {
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val sessions = EventStreams.sessionRollup(events)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q17 = graft.queries.EventQueries.q17(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sessions == q17 && sessions.nonEmpty)
  }

  test("stateful dedup is provider-agnostic: RocksDB matches HDFS state store") {
    // The long-running dedup states are the 100 TB streaming scale risk
    // under the on-heap default; StateStores.configure selects RocksDB
    // (disk-backed + changelog checkpoints). Same planted stream under
    // both providers must produce identical first-seen output, and the
    // RocksDB run must actually write RocksDB artifacts.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val segA = "a b c d e f g h"
    def run(provider: String, name: String): Set[(Long, String)] = {
      val tmp = Files.createTempDirectory(s"ss-$name").toFile.getAbsolutePath
      spark.createDataFrame(
        Seq(Row(1L, s"$segA x y z w", t(0))).asJava, schema)
        .write.parquet(s"$tmp/src/b1")
      Thread.sleep(20)
      spark.createDataFrame(
        Seq(Row(2L, s"$segA p q r s t u v n", t(1))).asJava, schema)
        .write.parquet(s"$tmp/src/b2")
      StateStores.configure(spark, provider)
      try {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
        val q = DocStreams.streamingSegmentDedup(stream, "doc_id", "text", "ts")
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$tmp/ckpt")
          .format("memory").queryName(s"ssdedup_$name").start()
        q.processAllAvailable()
        q.stop()
        if (provider == "rocksdb") {
          val stateFiles = java.nio.file.Files
            .walk(java.nio.file.Paths.get(s"$tmp/ckpt/state"))
            .iterator().asScala.map(_.getFileName.toString).toSeq
          assert(stateFiles.exists(f =>
            f.endsWith(".changelog") || f.endsWith(".zip")),
            s"no RocksDB state artifacts under ckpt/state: $stateFiles")
        }
        spark.table(s"ssdedup_$name").collect()
          .map(r => (r.getLong(0), r.getString(2))).toSet
      } finally StateStores.configure(spark, "hdfs")
    }
    val hdfs = run("hdfs", "h")
    val rocks = run("rocksdb", "r")
    assert(rocks == hdfs && hdfs.size == 3,
      s"provider outputs diverge: hdfs=$hdfs rocksdb=$rocks")
  }
}

/** Static sink log (local mode: executors share the JVM). */
final class StreamSinkLog extends AvroSink.RecordSink {
  def putRecords(records: Seq[Array[Byte]]): Unit =
    records.foreach(StreamSinkLog.add)
}

object StreamSinkLog {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
  def reset(): Unit = buf.clear()
  def add(r: Array[Byte]): Unit = buf.add(r)
  def records: Seq[Array[Byte]] = buf.asScala.toSeq
}

package graft.sources

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

object PollRunLog {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  def reset(): Unit = buf.clear()
  def add(id: Long): Unit = buf.add(id)
  def ids: Seq[Long] = { import scala.jdk.CollectionConverters._; buf.asScala.toSeq }
}

/** Top-level (no outer ref): range partitions carry the client to
  * executor tasks, so it must serialize cleanly.
  */
class PartitionedFixedClient(rows: Seq[(Long, String, Long)])
    extends PartitionedPollClient {
  override def schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("updated_at", org.apache.spark.sql.types.TimestampType)))
  override val watermarkField = "updated_at"
  private def wm(sec: Long): Long = sec * 1000000L
  override def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]] =
    rows.filter(r => wm(r._3) > afterMicros).sortBy(_._3).take(limit)
      .map { case (id, p, sec) => Seq(id, p, new java.sql.Timestamp(sec * 1000L)) }
  override def pollWatermarks(afterMicros: Long, limit: Int): Seq[Long] =
    rows.map(r => wm(r._3)).filter(_ > afterMicros).sorted.take(limit)
  override def pollRange(loMicros: Long, hiMicros: Long): Seq[Seq[Any]] =
    rows.filter(r => wm(r._3) > loMicros && wm(r._3) <= hiMicros).sortBy(_._3)
      .map { case (id, p, sec) => Seq(id, p, new java.sql.Timestamp(sec * 1000L)) }
}

/** The custom DSv2 micro-batch polling source: batch-limited incremental
  * delivery ordered by watermark, offset advance, and the stall guard —
  * the reference's poll loop semantics (SURVEY §2.9 ST1-ST6).
  */
class PollingSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("payload", StringType),
    StructField("updated_at", TimestampType)))

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private class FixedClient(rows: Seq[(Long, String, Long)]) extends PollClient {
    override def schema: StructType = PollingSourceSpec.this.schema
    override val watermarkField = "updated_at"
    override def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]] =
      rows.filter(_._3 * 1000000L > afterMicros).sortBy(_._3).take(limit)
        .map { case (id, p, sec) => Seq(id, p, ts(sec)) }
  }

  test("limit-bounded micro-batches drain the backlog in watermark order") {
    val rows = (1L to 10L).map(i => (i, s"row$i", 1000L + i))
    PollClientRegistry.register("fixed10", new FixedClient(rows))
    val stream = spark.readStream
      .format(classOf[PollingSourceProvider].getName)
      .option("client", "fixed10")
      .option("limit", "3")
      .load()
    val q = stream.writeStream.format("memory").queryName("poll_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("poll_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == rows.map(r => (r._1, r._2)))
    // 10 rows at limit 3 → 4 micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
  }

  test("boundary rows are not re-delivered across restarts (offset = last watermark)") {
    val dir = java.nio.file.Files.createTempDirectory("poll-ckpt").toFile.getAbsolutePath
    val rows1 = Seq((1L, "a", 1001L), (2L, "b", 1002L))
    val client = new FixedClient(rows1) {
      var all: Seq[(Long, String, Long)] = rows1
      override def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]] =
        all.filter(_._3 * 1000000L > afterMicros).sortBy(_._3).take(limit)
          .map { case (id, p, sec) => Seq(id, p, ts(sec)) }
    }
    PollClientRegistry.register("restart", client)
    def run(): Unit = {
      // memory sink cannot recover a checkpoint — foreachBatch can
      val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
        .option("client", "restart").option("limit", "10").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => PollRunLog.add(r.getLong(0)))
        }
        .option("checkpointLocation", dir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    PollRunLog.reset()
    run()
    assert(PollRunLog.ids.sorted == Seq(1L, 2L))
    // new row + an already-delivered boundary row; only the new one arrives
    client.all = rows1 ++ Seq((3L, "c", 1003L))
    PollRunLog.reset()
    run()
    assert(PollRunLog.ids == Seq(3L))
  }

  test("maxBatches caps a run (MAX_BATCHES, lib/pipeline_controller.py:121-124)") {
    val rows = (1L to 10L).map(i => (i, s"row$i", 2000L + i))
    PollClientRegistry.register("capped", new FixedClient(rows))
    val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
      .option("client", "capped").option("limit", "3").option("maxBatches", "2")
      .load()
      .writeStream.format("memory").queryName("poll_capped")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("poll_capped").count() == 6) // 2 batches × 3 rows
  }

  test("a full page ending mid-watermark-group delivers every row sharing the boundary") {
    // limit=3 → first page is [1@1001, 2@1002, 3@1002] but row 4 also sits
    // at 1002; a naive advance to 1002 with strictly-greater polling would
    // skip row 4 forever. The source must trim the trailing group and
    // re-deliver it with the next page.
    val rows = Seq(
      (1L, "a", 1001L), (2L, "b", 1002L), (3L, "c", 1002L),
      (4L, "d", 1002L), (5L, "e", 1003L))
    PollClientRegistry.register("midgroup", new FixedClient(rows))
    val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
      .option("client", "midgroup").option("limit", "3").load()
      .writeStream.format("memory").queryName("poll_midgroup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("poll_midgroup").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // and no duplicates: exactly five rows delivered
    assert(spark.table("poll_midgroup").count() == 5)
  }

  test("a final full page sharing one watermark completes without stalling") {
    // Exactly `limit` rows share the last watermark and NO row lies beyond
    // it: the limit+1 probe shows the group does not straddle the page, so
    // the source delivers it and advances (the reference's conservative
    // guard would stall here — intentional deviation, see the
    // PatronStream class doc).
    val rows = Seq((1L, "a", 1001L), (2L, "b", 1002L), (3L, "c", 1002L),
      (4L, "d", 1002L))
    PollClientRegistry.register("finalfull", new FixedClient(rows))
    val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
      .option("client", "finalfull").option("limit", "3").load()
      .writeStream.format("memory").queryName("poll_finalfull")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("poll_finalfull").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("crash recovery replays batch 0 from a fresh source (no empty-cache hit)") {
    // The engine writes the offset log BEFORE running a batch; if the
    // query dies pre-commit, restart replays the window through a FRESH
    // source instance whose fetch cache is empty. A Long.MinValue cache
    // sentinel would collide with the default start offset here and
    // deliver an empty batch — losing the window forever. Simulate by
    // deleting batch 0's commit record after a successful run.
    val rows = Seq((1L, "a", 3001L), (2L, "b", 3002L))
    PollClientRegistry.register("recovery", new FixedClient(rows))
    val ckpt = java.nio.file.Files.createTempDirectory("recovery-ckpt")
      .toFile.getAbsolutePath
    def run(): Unit = {
      val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
        .option("client", "recovery").option("limit", "10").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => PollRunLog.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    PollRunLog.reset()
    run()
    assert(PollRunLog.ids.sorted == Seq(1L, 2L))
    // un-commit batch 0: restart must REPLAY it (exactly-once is the
    // sink's concern; losing the rows would be a source bug)
    assert(new java.io.File(s"$ckpt/commits/0").delete())
    // local FS keeps a sibling checksum; a stale .crc fails the replay's
    // commit-log rename (FileAlreadyExistsException), so drop it with the file
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    PollRunLog.reset()
    run()
    assert(PollRunLog.ids.sorted == Seq(1L, 2L))
  }

  test("sharded partitions: skewed watermarks snap to group boundaries, no splits") {
    // 4 rows share watermark 1001 (a skewed group), then 1002, 1003.
    // numPartitions=3 quantile bounds land at [1001, 1001, 1003] → dedupe
    // to 2 ranges: (min, 1001], (1001, 1003]. The group is never split
    // and every row is delivered exactly once.
    val rows = Seq((1L, "a", 1001L), (2L, "b", 1001L), (3L, "c", 1001L),
      (4L, "d", 1001L), (5L, "e", 1002L), (6L, "f", 1003L))
    PollClientRegistry.register("sharded_skew", new PartitionedFixedClient(rows))
    @volatile var partsSeen = -1
    val ckpt = java.nio.file.Files.createTempDirectory("shard-skew-ckpt")
      .toFile.getAbsolutePath
    val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
      .option("client", "sharded_skew").option("limit", "10")
      .option("numPartitions", "3").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        partsSeen = batch.rdd.getNumPartitions
        batch.collect().foreach(r => PollRunLog.add(r.getLong(0)))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    PollRunLog.reset()
    q.awaitTermination(60000)
    assert(PollRunLog.ids.sorted == (1L to 6L))
    assert(partsSeen == 2)
  }

  test("stall guard: full batch with one watermark fails the query (ST6)") {
    val rows = (1L to 5L).map(i => (i, s"row$i", 999L))
    PollClientRegistry.register("stalled", new FixedClient(rows))
    val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
      .option("client", "stalled").option("limit", "3").load()
      .writeStream.format("memory").queryName("poll_stall")
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[PollingStallError]))
  }
}

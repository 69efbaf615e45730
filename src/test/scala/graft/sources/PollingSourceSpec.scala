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

  test("an AvailableNow drain polls from its committed offset, not the whole history") {
    // Two drains per checkpoint: the first delivers a history of h rows,
    // the second 3 new ones. The second drain's polled rows must not grow
    // with h — a drain pages from its committed offset, never from the
    // start of the store.
    def secondDrainPolled(h: Int): Long = {
      val history = (1L to h.toLong).map(i => (i, s"row$i", 5000L + i))
      val polled = new java.util.concurrent.atomic.AtomicLong
      val client = new FixedClient(history) {
        var all: Seq[(Long, String, Long)] = history
        override def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]] = {
          val rows = all.filter(_._3 * 1000000L > afterMicros).sortBy(_._3).take(limit)
          polled.addAndGet(rows.size.toLong)
          rows.map { case (id, p, sec) => Seq(id, p, ts(sec)) }
        }
      }
      PollClientRegistry.register(s"history$h", client)
      val dir = java.nio.file.Files.createTempDirectory("poll-history").toFile.getAbsolutePath
      def drain(): Unit = {
        val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
          .option("client", s"history$h").option("limit", "4").load()
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.collect().foreach(r => PollRunLog.add(r.getLong(0)))
          }
          .option("checkpointLocation", dir)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(60000)
      }
      PollRunLog.reset()
      drain()
      assert(PollRunLog.ids.sorted == history.map(_._1))
      client.all = history ++ (1L to 3L).map(i => (h + i, s"new$i", 6000L + i))
      PollRunLog.reset()
      polled.set(0)
      drain()
      assert(PollRunLog.ids.sorted == (1L to 3L).map(h + _))
      polled.get
    }
    assert(secondDrainPolled(5) == 3)
    assert(secondDrainPolled(50) == 3)
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

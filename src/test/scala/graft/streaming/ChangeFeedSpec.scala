package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Streaming MV change feed: per-batch deltas are exact, cumulative
  * state equals a whole-stream recompute, and state versions rotate.
  */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("change feed emits exact added/changed rows; state = full recompute") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("v", LongType)))
    val tmp = Files.createTempDirectory("changefeed").toFile.getAbsolutePath
    def write(path: String, rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(path)
    // batch 1: users 1 (2 rows) and 2; batch 2: users 2 and 3
    write(s"$tmp/src/b1", Row(1L, 10L), Row(1L, 5L), Row(2L, 7L))
    write(s"$tmp/src/b2", Row(2L, 3L), Row(3L, 4L))

    val perBatch = scala.collection.mutable.ArrayBuffer
      .empty[Set[(Long, Long, String, Option[Long], Option[Long])]]
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = ChangeFeed.streamingChangeFeed(
      stream, s"$tmp/state", Seq("user"),
      Seq(("cnt", "sum"), ("total", "sum")),
      batch => batch.groupBy("user")
        .agg(count(lit(1)).as("cnt"), sum("v").as("total")),
      checkpoint = s"$tmp/ckpt") { df =>
      perBatch += df.collect().map(r => (
        r.getLong(r.fieldIndex("batch_id")),
        r.getLong(r.fieldIndex("user")),
        r.getString(r.fieldIndex("change")),
        Option(r.get(r.fieldIndex("old_cnt"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("new_cnt"))).map(_.asInstanceOf[Long]))).toSet
    }
    q.processAllAvailable()
    q.stop()

    assert(perBatch == Seq(
      Set((0L, 1L, "added", None, Some(2L)), (0L, 2L, "added", None, Some(1L))),
      Set((1L, 2L, "changed", Some(1L), Some(2L)),
        (1L, 3L, "added", None, Some(1L)))))

    // latest version + its predecessor survive (the predecessor is the
    // crash-replay rebuild input); anything older is rotated away
    val versions = new java.io.File(s"$tmp/state").listFiles()
      .filter(_.getName.startsWith("v")).sortBy(_.getName.drop(1).toLong)
    assert(versions.map(_.getName).toSeq == Seq("v0", "v1"))
    val state = spark.read.parquet(versions.last.getAbsolutePath)
      .collect().map(r => (r.getLong(r.fieldIndex("user")),
        r.getLong(r.fieldIndex("cnt")), r.getLong(r.fieldIndex("total")))).toSet
    assert(state == Set((1L, 2L, 15L), (2L, 2L, 10L), (3L, 1L, 4L)))

    // crash-replay: re-deliver batch 1 (v1 already committed). The feed
    // must be rebuilt identically from diff(v0, v1) — not re-merged
    // (which would double-count and overwrite v1 while reading it).
    import org.apache.spark.sql.DataFrame
    val replayBatch = spark.createDataFrame(
      java.util.Arrays.asList(Row(2L, 3L), Row(3L, 4L)), schema)
    var replayFeed = Set.empty[(Long, Long, String, Option[Long], Option[Long])]
    ChangeFeed.processBatch(replayBatch, 1L, s"$tmp/state", Seq("user"),
      Seq(("cnt", "sum"), ("total", "sum")),
      (b: DataFrame) => b.groupBy("user")
        .agg(count(lit(1)).as("cnt"), sum("v").as("total"))) { df =>
      replayFeed = df.collect().map(r => (
        r.getLong(r.fieldIndex("batch_id")),
        r.getLong(r.fieldIndex("user")),
        r.getString(r.fieldIndex("change")),
        Option(r.get(r.fieldIndex("old_cnt"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("new_cnt"))).map(_.asInstanceOf[Long]))).toSet
    }
    assert(replayFeed == perBatch(1), "replayed feed must equal the original")
    val stateAfter = spark.read.parquet(s"$tmp/state/v1")
      .collect().map(r => (r.getLong(r.fieldIndex("user")),
        r.getLong(r.fieldIndex("cnt")), r.getLong(r.fieldIndex("total")))).toSet
    assert(stateAfter == state, "replay must not re-merge the delta")

    // crash DURING the v2 write: a partial version dir (no _SUCCESS)
    // must be re-merged from v1 + the batch — trusting it would commit
    // a truncated snapshot. Simulate by writing v2 and deleting its
    // _SUCCESS marker and half its contents.
    val b2 = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 100L)), schema)
    val partial = new java.io.File(s"$tmp/state/v2")
    spark.createDataFrame(java.util.Arrays.asList(Row(99L, 1L)), schema)
      .coalesce(1).write.parquet(partial.getAbsolutePath)
    new java.io.File(partial, "_SUCCESS").delete()
    var feed2 = Set.empty[(Long, Long, String, Option[Long], Option[Long])]
    ChangeFeed.processBatch(b2, 2L, s"$tmp/state", Seq("user"),
      Seq(("cnt", "sum"), ("total", "sum")),
      (b: DataFrame) => b.groupBy("user")
        .agg(count(lit(1)).as("cnt"), sum("v").as("total"))) { df =>
      feed2 = df.collect().map(r => (
        r.getLong(r.fieldIndex("batch_id")),
        r.getLong(r.fieldIndex("user")),
        r.getString(r.fieldIndex("change")),
        Option(r.get(r.fieldIndex("old_cnt"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("new_cnt"))).map(_.asInstanceOf[Long]))).toSet
    }
    assert(feed2 == Set((2L, 1L, "changed", Some(2L), Some(3L))),
      "partial version must be re-merged, not trusted")
    val v2 = spark.read.parquet(s"$tmp/state/v2")
      .collect().map(r => (r.getLong(r.fieldIndex("user")),
        r.getLong(r.fieldIndex("cnt")), r.getLong(r.fieldIndex("total")))).toSet
    assert(v2 == Set((1L, 3L, 115L), (2L, 2L, 10L), (3L, 1L, 4L)),
      "re-merged v2 must contain no trace of the partial write")
  }

  test("a batch's merge is computed once for the sink's diff and the version write") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("changefeed-once").toFile.getAbsolutePath
    val counted = udf((v: Long) => { BuildStateRows.add(); v })
    val batch = spark.range(1, 6).select((col("id") % 2).as("user"), col("id").as("v"))
    BuildStateRows.reset()
    var fed = 0L
    ChangeFeed.processBatch(batch, 0L, s"$tmp/state", Seq("user"), Seq(("total", "sum")),
      b => b.groupBy("user").agg(sum(counted(col("v"))).as("total"))) { df =>
      fed = df.count()
    }
    assert(fed == 2)
    assert(BuildStateRows.get == 5, "each batch row passes buildState once")
  }
}

/** Rows seen by a counting buildState (local mode: executors share the JVM). */
object BuildStateRows {
  private val n = new java.util.concurrent.atomic.AtomicLong()
  def reset(): Unit = n.set(0)
  def add(): Unit = n.incrementAndGet()
  def get: Long = n.get
}

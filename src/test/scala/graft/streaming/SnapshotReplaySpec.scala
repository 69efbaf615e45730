package graft.streaming

import java.io.File
import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Restart recovery of the snapshot-state operators (the Structured
  * Streaming paper's contract): when the state of the last batch has
  * committed but the streaming checkpoint has not, a restart re-delivers
  * that batch, and the replay must leave the same state and give the
  * same sink output as the uninterrupted run.
  */
class SnapshotReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs `start` over one micro-batch per entry of `batches` (one
    * source file each), forgets the last batch's entry in the
    * checkpoint's commit log, restarts, and checks that the replayed
    * batch re-emits its first output and leaves the state unchanged.
    */
  private def assertReplayIdempotent(schema: StructType, batches: Seq[Row]*)(
      start: (DataFrame, String, String, DataFrame => Unit) => StreamingQuery): Unit = {
    val tmp = Files.createTempDirectory("replay").toFile.getAbsolutePath
    batches.zipWithIndex.foreach { case (rows, i) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$tmp/src/b$i")
    }
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    def run(): Seq[Set[Row]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Set[Row]]
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
      val q = start(stream, state, ckpt, df => out += df.collect().toSet)
      q.processAllAvailable()
      q.stop()
      out.toSeq
    }
    def snapshot() = (BatchState.committed(spark, state),
      BatchState.latest(spark, state).get.collect().toSet)

    val first = run()
    assert(first.length == batches.length)
    val before = snapshot()
    val last = batches.length - 1
    val commits = new File(ckpt, "commits")
    Seq(s"$last", s".$last.crc").foreach(n => new File(commits, n).delete())
    assert(run() == Seq(first.last), "the replayed batch must re-emit its output")
    assert(snapshot() == before, "the replayed batch must leave the state as it was")
  }

  private val docs = new StructType().add("doc_id", "long").add("text", "string")

  test("change feed: a replayed batch re-emits its feed and leaves the view") {
    val kv = new StructType().add("user", "long").add("v", "long")
    assertReplayIdempotent(kv, Seq(Row(1L, 10L), Row(2L, 7L)),
        Seq(Row(2L, 3L), Row(3L, 4L))) { (stream, state, ckpt, sink) =>
      ChangeFeed.streamingChangeFeed(stream, state, Seq("user"),
        Seq(("cnt", "sum"), ("total", "sum")),
        _.groupBy("user").agg(count(lit(1)).as("cnt"), sum("v").as("total")),
        ckpt)(sink)
    }
  }

  test("cluster maintenance: a replayed batch re-emits its clustering") {
    val edges = new StructType().add("src", "long").add("dst", "long")
    assertReplayIdempotent(edges, Seq(Row(1L, 2L), Row(5L, 6L)),
        Seq(Row(2L, 5L), Row(8L, 9L))) { (stream, state, ckpt, sink) =>
      DocStreams.streamingClusterMaintenance(stream, state, ckpt)(sink)
    }
  }

  test("CMS counts: a replayed batch is not added twice") {
    assertReplayIdempotent(docs, Seq(Row(1L, "a a b c")),
        Seq(Row(2L, "a b e"))) { (stream, state, ckpt, sink) =>
      DocStreams.streamingCmsCounts(stream, state, "text", 4, 8,
        Seq("a", "b", "e"), ckpt)(sink)
    }
  }

  test("trending terms: a replayed batch is not merged twice") {
    assertReplayIdempotent(docs, Seq(Row(1L, "a a b c")),
        Seq(Row(2L, "a b b d"))) { (stream, state, ckpt, sink) =>
      DocStreams.streamingTrendingTerms(stream, state, "text", width = 10,
        topK = 3, checkpoint = ckpt)(sink)
    }
  }
}

package graft.streaming

import java.nio.file.Files

import graft.{Tables, TestSpark}
import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Cross-batch streaming near-dup detection: the flatMapGroupsWithState
  * operator must pair a document against bucket occupants from EARLIER
  * micro-batches — the semantics no built-in streaming aggregate has.
  */
class DocStreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streaming trending terms: exact when width is ample; ranked sink output") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tmp = Files.createTempDirectory("trending").toFile.getAbsolutePath
    def write(path: String, rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(path)
    write(s"$tmp/src/b1", Row(1L, "a a b c"))
    write(s"$tmp/src/b2", Row(2L, "a b b d"))

    val perBatch = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, String, Long)]]
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingTrendingTerms(
      stream, s"$tmp/state", "text", width = 10, topK = 3,
      checkpoint = s"$tmp/ckpt") { df =>
      perBatch += df.collect()
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    }
    q.processAllAvailable()
    q.stop()

    // width 10 over ≤4 distinct terms: no counter ever evicts, so the
    // sketch is EXACT cumulative counts and ranks are deterministic
    // (count desc, term asc).
    assert(perBatch.map(_.sortBy(_._1)) == Seq(
      Seq((1L, "a", 2L), (2L, "b", 1L), (3L, "c", 1L)),
      Seq((1L, "a", 3L), (2L, "b", 3L), (3L, "c", 1L))))
    import spark.implicits._
    val state = BatchState.latest(spark, s"$tmp/state").get
      .as[(String, Long)].collect().toMap
    assert(state == Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "d" -> 1L))
  }

  test("streaming CMS state equals the one-pass batch sketch, exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tmp = Files.createTempDirectory("cmsstream").toFile.getAbsolutePath
    def write(path: String, rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(path)
    write(s"$tmp/src/b1", Row(1L, "a a b c"), Row(2L, "b d"))
    write(s"$tmp/src/b2", Row(3L, "a b e"), Row(4L, "a"))
    val depth = 4
    val width = 8 // tiny → real collisions cross batch boundaries

    val perBatch = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, String, Long)]]
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingCmsCounts(
      stream, s"$tmp/state", "text", depth, width,
      watch = Seq("a", "b", "zz"), checkpoint = s"$tmp/ckpt") { df =>
      perBatch += df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    }
    q.processAllAvailable()
    q.stop()

    // the commutative-sum property: persistent state after two batches
    // == the one-pass sketch over all rows (bit-for-bit, no bound slack)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val allToks = Seq("a a b c", "b d", "a b e", "a").toDF("text")
      .select(explode(split(col("text"), " ")).as("tok"))
    val onePass = allToks
      .agg(graft.functions.CountMin(spark, col("tok"), depth, width))
      .head().getSeq[Long](0).toArray
    val state = BatchState.latest(spark, s"$tmp/state").get
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(state.sameElements(onePass),
      "streamed state must equal the one-pass batch sketch")
    // the newest committed version is the last applied batchId (two
    // source files at maxFilesPerTrigger=1 → batches 0 and 1)
    val versions = BatchState.committed(spark, s"$tmp/state")
    assert(versions.lastOption.contains(1L),
      s"newest committed state version must be batch 1: $versions")
    // watch-list estimates: final batch reflects the full stream; CMS
    // never undercounts (a=4, b=3, zz=0+collisions)
    val fin = perBatch.last.map(t => t._2 -> t._3).toMap
    assert(fin("a") >= 4L && fin("b") >= 3L)
    assert(fin("a") == graft.functions.CountMin.estimate(onePass, "a", depth, width))
  }

  test("streaming CMS replay of an applied batch does not double-add") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tmp = Files.createTempDirectory("cmsreplay").toFile.getAbsolutePath
    spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "a a b"), Row(2L, "b c")), schema)
      .coalesce(1).write.parquet(s"$tmp/src")
    val depth = 2
    val width = 8
    def runOnce(ckpt: String): Seq[(Long, String, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      val stream = spark.readStream.schema(schema).parquet(s"$tmp/src")
      val q = DocStreams.streamingCmsCounts(
        stream, s"$tmp/state", "text", depth, width,
        watch = Seq("a", "b"), checkpoint = s"$tmp/$ckpt") { df =>
        out ++= df.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      }
      q.processAllAvailable()
      q.stop()
      out.toSeq
    }
    val first = runOnce("ckpt1")
    // crash-before-checkpoint-commit: the state write survived but the
    // batch was never committed, so batch 0 replays — simulated by
    // re-running the same source against a FRESH checkpoint
    val replay = runOnce("ckpt2")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val onePass = Seq("a a b", "b c").toDF("text")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(graft.functions.CountMin(spark, col("tok"), depth, width))
      .head().getSeq[Long](0).toArray
    val state = BatchState.latest(spark, s"$tmp/state").get
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(state.sameElements(onePass),
      "replayed batch must be skipped, not double-added")
    // the sink still re-emits estimates, and from the SAME state
    assert(replay == first, "replay must re-emit identical estimates")
  }

  test("streaming trending terms: MG bound holds under trimming") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tmp = Files.createTempDirectory("trendbound").toFile.getAbsolutePath
    def write(path: String, rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(path)
    // N = 20 tokens, width 3 (2 counters): bound = N/(width-1) = 10.
    // 'x' has true count 12 > 10, so it MUST survive the stream with
    // 12 - 10 <= est <= 12, no matter how batches/partitions split.
    write(s"$tmp/src/b1", Row(1L, "x x x x x x p q r s"))
    write(s"$tmp/src/b2", Row(2L, "x x x x x x t u v w"))

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingTrendingTerms(
      stream, s"$tmp/state", "text", width = 3, topK = 2,
      checkpoint = s"$tmp/ckpt") { _ => () }
    q.processAllAvailable()
    q.stop()

    import spark.implicits._
    val state = BatchState.latest(spark, s"$tmp/state").get
      .as[(String, Long)].collect().toMap
    assert(state.size <= 2, s"state exceeded width-1 counters: $state")
    assert(state.contains("x"), s"guaranteed heavy hitter evicted: $state")
    assert(state("x") >= 2L && state("x") <= 12L,
      s"estimate outside MG bound: ${state("x")}")
  }

  test("streaming cluster counts equal the batch assignment, across batches") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val model = graft.operators.KMeans
      .fit(emb, k = 6, iterations = 2).model
    val wantCounts = graft.operators.KMeans.assign(emb, model)
      .groupBy("cluster_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val tmp = Files.createTempDirectory("clustercounts").toFile.getAbsolutePath
    emb.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$tmp/src/b1")
    emb.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$tmp/src/b2")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingClusterCounts(stream, model, "vec_id", "embedding")
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("cluster_counts").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cluster_counts")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == wantCounts)
  }

  test("streaming bigram gate scores each batch against the prior model") {
    import org.apache.spark.sql.functions._
    val b1Texts = Seq(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the rug",
      3L -> "the dog sat on the mat",
      4L -> "a cat sat on a mat")
    val b2Texts = Seq(
      10L -> "the cat sat on the mat", // fully in-model: low score
      11L -> "mat the cat on a rug zz", // partially known, unusual order
      12L -> "zq xw vv kk")            // nothing known: cold-start admit
    val tmp = Files.createTempDirectory("bigramgate").toFile.getAbsolutePath
    import spark.implicits._
    // one file per batch — with maxFilesPerTrigger=1, each FILE is a batch
    b1Texts.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/src/b1")
    b2Texts.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/src/b2")

    val seen = scala.collection.mutable.ListBuffer
      .empty[(Long, Long, Option[Double], Long, Boolean)]
    var batchNo = 0L
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src/b1").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val (lo, hi, minKnown) = (0.5, 2.0, 2)
    val q = DocStreams.streamingBigramGate(stream, s"$tmp/model",
      "doc_id", "text", lo, hi, minKnown, s"$tmp/ckpt") { df =>
      batchNo += 1
      val b = batchNo
      seen ++= df.select(col("doc_id"), col("avg_neg_logp2"),
          col("n_known"), col("admitted")).collect()
        .map(r => (b, r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          r.getLong(2), r.getBoolean(3)))
    }
    q.processAllAvailable()
    q.stop()

    // Batch 1 scored against an empty model: nothing known, all admitted.
    val batch1 = seen.filter(_._1 == 1L)
    assert(batch1.size == 4 && batch1.forall(r => r._4 == 0L && r._5))

    // Independent replica of the spec: batch-2 scores from batch-1 counts.
    def toks(t: String) = t.trim.toLowerCase.split("\\s+").toSeq
    def pairs(t: String) = { val w = toks(t); w.zip(w.tail) }
    val c2 = b1Texts.flatMap(d => pairs(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    def expectedScore(t: String): (Option[Double], Long) = {
      val known = pairs(t).filter(c2.contains)
      if (known.isEmpty) (None, 0L)
      else {
        val avg = known.map(p =>
          -math.log(c2(p).toDouble / c1(p._1).toDouble)).sum / known.size
        (Some(BigDecimal(avg).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble), known.size.toLong)
      }
    }
    val batch2 = seen.filter(_._1 == 2L).map(r => r._2 -> r).toMap
    b2Texts.foreach { case (id, text) =>
      val (score, nKnown) = expectedScore(text)
      val got = batch2(id)
      assert(got._3 == score && got._4 == nKnown,
        s"doc $id: got $got want ($score, $nKnown)")
      val wantAdmit =
        nKnown < minKnown || (score.get >= lo && score.get <= hi)
      assert(got._5 == wantAdmit, s"doc $id admit: got ${got._5}")
    }
    // The fully-in-model doc must score as more predictable than the
    // unusual-order doc, and the gibberish doc cold-starts through.
    assert(expectedScore(b2Texts(0)._2)._1.get <
      expectedScore(b2Texts(1)._2)._1.get)
    assert(batch2(12L)._4 == 0L && batch2(12L)._5)

    // Model after the run: batch-1 counts plus batch-2 ADMITTED counts
    // only — "the cat" appears twice in batch 1, plus once per admitted
    // batch-2 doc containing it.
    val admitted2 = b2Texts.filter { case (id, _) => batch2(id)._5 }
    val wantTheCat = 2L +
      admitted2.map(d => pairs(d._2).count(_ == ("the", "cat"))).sum
    val modelTheCat = spark.read.parquet(s"$tmp/model")
      .filter(col("w1") === "the" && col("w2") === "cat")
      .agg(sum("c2")).head.getLong(0)
    assert(modelTheCat == wantTheCat)
  }

  test("streaming segment dedup drops a segment re-seen in a later micro-batch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // doc 1: segments A(8 toks) + B(4-tok tail). doc 2 (later batch):
    // repeats segment A verbatim as its first 8 tokens, then novel C.
    val segA = "a b c d e f g h"
    val tail = "x y z w"
    val segC = "p q r s t u v n"
    val tmp = Files.createTempDirectory("segdedup").toFile.getAbsolutePath
    spark.createDataFrame(
      Seq(Row(1L, s"$segA $tail", t(0))).asJava, schema)
      .write.parquet(s"$tmp/src/b1")
    spark.createDataFrame(
      Seq(Row(2L, s"$segA $segC", t(1))).asJava, schema)
      .write.parquet(s"$tmp/src/b2")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingSegmentDedup(stream, "doc_id", "text", "ts")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("segdedup_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("segdedup_out").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    // doc 1 contributes A and tail; doc 2's repeat of A is DROPPED
    // (cross-batch state), its novel segment C survives.
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Set((1L, h(segA)), (1L, h(tail)), (2L, h(segC))))
  }

  test("streaming source quota admits across batches until the cap, then drops") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType)))
    val tmp = Files.createTempDirectory("quota").toFile.getAbsolutePath
    // batch 1: three s1 docs against a quota of 2 -> lowest two ids admitted
    spark.createDataFrame(
      Seq(Row(30L, "s1"), Row(10L, "s1"), Row(20L, "s1")).asJava, schema)
      .coalesce(1).write.parquet(s"$tmp/src/b1")
    Thread.sleep(20) // distinct mod times so the file source orders batches
    // batch 2: s1 is already full -> both dropped; s2 has room
    spark.createDataFrame(
      Seq(Row(5L, "s1"), Row(40L, "s1"), Row(7L, "s2")).asJava, schema)
      .coalesce(1).write.parquet(s"$tmp/src/b2")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingSourceQuota(stream, "doc_id", "source", n = 2)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("quota_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("quota_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // batch-1 admissions are ranked by docId; batch-2's s1 arrivals find
    // the quota exhausted even though doc 5 has a smaller id (streams
    // can't revisit earlier admissions); s2 starts its own budget.
    assert(got == Set(("s1", 10L, 1L), ("s1", 20L, 2L), ("s2", 7L, 1L)))
  }

  test("streaming dedupAgainst: batch-2 dups of batch-1 history are dropped") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "one two three four five six seven eight nine ten"
    val fresh = "totally unrelated content with its own distinct vocabulary"
    val tmp = Files.createTempDirectory("dedupagainst").toFile.getAbsolutePath
    def write(path: String, rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(path)
    // batch 1: A and B become history; batch 2: exact dup of A,
    // near-dup of B (one token appended), and a fresh doc
    write(s"$tmp/src/b1", Row(1L, textA), Row(2L, textB))
    write(s"$tmp/src/b2",
      Row(3L, textA), Row(4L, s"$textB eleven"), Row(5L, fresh))

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var batchNo = 0L
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingDedupAgainst(
      stream, s"$tmp/history", "doc_id", "text",
      k = 3, threshold = 0.5, checkpoint = s"$tmp/ckpt",
      sink = df => {
        batchNo += 1
        val b = batchNo
        seen ++= df.select("doc_id").collect().map(r => (b, r.getLong(0)))
      })
    q.processAllAvailable()
    q.stop()
    val byBatch = seen.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byBatch(1L) == Set(1L, 2L)) // empty history: both survive
    // exact dup (3) and near-dup (4) die against the history; 5 survives
    assert(byBatch(2L) == Set(5L), s"got $byBatch")
    // and the history now holds exactly the survivors
    val hist = spark.read.parquet(s"$tmp/history")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hist == Set(1L, 2L, 5L))
  }

  test("history compaction: fragments shrink, probe results identical") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tmp = Files.createTempDirectory("histcompact").toFile.getAbsolutePath
    val hist = s"$tmp/history"
    // 8 single-file appends — the append-forever fragment pattern
    def word(i: Long, j: Int) = s"w${i}x$j"
    (0L until 8L).foreach { i =>
      val text = (0 until 12).map(word(i, _)).mkString(" ")
      spark.createDataFrame(
          java.util.Arrays.asList(Row(i, text)), schema)
        .coalesce(1).write.mode("append").parquet(hist)
    }
    def partCount(): Int = {
      val p = new org.apache.hadoop.fs.Path(hist)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p)
        .count(st => st.isFile && st.getPath.getName.startsWith("part-"))
    }
    def probe(): Seq[(Long, String)] = {
      // incoming: exact dup of doc 3, near-dup of doc 5, one novel doc
      val d5near = (0 until 11).map(word(5L, _)).mkString(" ") + " zzz"
      val incoming = spark.createDataFrame(java.util.Arrays.asList(
          Row(103L, (0 until 12).map(word(3L, _)).mkString(" ")),
          Row(105L, d5near),
          Row(200L, (0 until 12).map(i => s"novel$i").mkString(" "))), schema)
      graft.operators.Dedup.dedupAgainst(
          spark.read.parquet(hist), incoming, "doc_id", "text",
          k = 3, threshold = 0.5)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    }
    val before = probe()
    val rowsBefore = spark.read.parquet(hist).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(partCount() >= 8)
    // below threshold: no-op
    assert(!DocStreams.compactHistory(spark, hist, maxFragments = 100))
    assert(partCount() >= 8)
    // above threshold: rewrite into few files
    assert(DocStreams.compactHistory(spark, hist, maxFragments = 4))
    assert(partCount() <= 4, s"still ${partCount()} fragments")
    // parity: same row set, same probe survivors
    val rowsAfter = spark.read.parquet(hist).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsAfter == rowsBefore)
    assert(probe() == before)
    assert(before.map(_._1) == Seq(200L)) // and the probe is non-trivial
  }

  test("near-dup pair spanning micro-batches is detected via bucket state") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val brutePairs = Dedup.jaccardBrute(docs, "doc_id", "text", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brutePairs.nonEmpty)
    val (pairA, pairB) = brutePairs.head

    // batch 1: everything except pairB; batch 2: only pairB — the pair
    // can only be found if batch-1 signatures survive in state.
    val tmp = Files.createTempDirectory("docstream").toFile.getAbsolutePath
    docs.filter(s"doc_id != $pairB").write.parquet(s"$tmp/src/b1")
    docs.filter(s"doc_id = $pairB").write.parquet(s"$tmp/src/b2")

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val out = DocStreams.streamingNearDupCandidates(
      stream, "doc_id", "text", k = 3, estThreshold = 0.5)
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("neardup_stream").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("neardup_stream")
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every brute-force near-dup surfaces as a candidate (128-perm
    // estimate of J>=0.7 clears the 0.5 bar w.h.p.), including the pair
    // split across batches
    assert(got.contains((math.min(pairA, pairB), math.max(pairA, pairB))))
    assert(brutePairs.subsetOf(got))
  }

  test("streaming embedding near-dup: exact cosines, pair spans batches") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val brute = graft.queries.EmbeddingQueries.q30(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(brute.nonEmpty)
    val (pairA, pairB) = brute.keys.head

    val tmp = Files.createTempDirectory("embstream").toFile.getAbsolutePath
    emb.filter(s"vec_id != $pairB").write.parquet(s"$tmp/src/b1")
    emb.filter(s"vec_id = $pairB").write.parquet(s"$tmp/src/b2")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val out = DocStreams.streamingEmbedNearDup(
      stream, "vec_id", "embedding", threshold = 0.45)
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("embdup_stream").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("embdup_stream")
      .dropDuplicates("vec_a", "vec_b")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every batch-truth pair surfaces (4x64 banding: per-pair miss <1e-5),
    // including the one split across batches, with BIT-IDENTICAL cosines
    // (same double fold as the codegen expression)
    assert(got.contains((pairA, pairB)))
    brute.foreach { case (k, cos) =>
      assert(got.contains(k), s"missing pair $k")
      assert(got(k) == cos, s"cosine mismatch for $k")
    }
  }

  test("streaming ANN serving: per-batch searches equal the one-shot batch search") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val idx = graft.operators.Similarity.buildIvfIndex(emb, nlist = 8, iters = 3)
    val tmp = Files.createTempDirectory("annserve").toFile.getAbsolutePath
    graft.operators.Similarity.saveIvfIndex(idx, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    // excludeSelf = false to match the serving path: the batcher serves
    // external queries, so it keeps id-colliding corpus rows (here the
    // queries ARE corpus vectors, so each query's top-1 is itself)
    val want = canon(graft.operators.Similarity.searchIvfBatch(
      graft.operators.Similarity.loadIvfIndex(spark, s"$tmp/idx"),
      queries, 5, nProbe = 3, excludeSelf = false).collect())
    assert(want.nonEmpty)
    assert(want.filter(_._2 == 1L).forall(t => t._3 == t._1),
      "with excludeSelf=false a corpus query's rank-1 hit is itself")
    val mid = queries.orderBy("q_id").collect().map(_.getLong(0)).apply(
      queries.count().toInt / 2)
    queries.filter(col("q_id") < mid).write.parquet(s"$tmp/src/b1")
    queries.filter(col("q_id") >= mid).write.parquet(s"$tmp/src/b2")
    val search = DocStreams.annSearchBatcher(spark, s"$tmp/idx", 5, nProbe = 3)
    val buf = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        buf.synchronized { buf ++= search(b.toDF()).collect() }; ()
      }
      .option("checkpointLocation", s"$tmp/ckpt").start()
    q.processAllAvailable()
    q.stop()
    assert(canon(buf.toArray) == want)
  }

  test("streaming cluster maintenance: state equals the full CC after every batch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType)))
    val tmp = Files.createTempDirectory("ccstream").toFile.getAbsolutePath
    def write(path: String, rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(path)
    // batch 1: two separate clusters; batch 2: an edge merging them
    // plus a brand-new pair
    write(s"$tmp/src/b1", Row(1L, 2L), Row(5L, 6L))
    write(s"$tmp/src/b2", Row(2L, 5L), Row(8L, 9L))
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    val baselineRdds = spark.sparkContext.getPersistentRDDs.keySet
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingClusterMaintenance(
      stream, s"$tmp/state", s"$tmp/ckpt") { df =>
      perBatch += df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    q.processAllAvailable()
    q.stop()
    assert(perBatch.length == 2)
    assert(perBatch(0) == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    assert(perBatch(1) == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      8L -> 8L, 9L -> 8L))
    // persisted state = full CC over all edges seen
    import spark.implicits._
    val st = BatchState.latest(spark, s"$tmp/state").get
      .select("id", "label").as[(Long, Long)].collect().toMap
    assert(st == perBatch(1))
    // every checkpoint a batch created is freed once its state write
    // commits (poll briefly, as for the eval gram set below)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
        !spark.sparkContext.getPersistentRDDs.keySet.subsetOf(baselineRdds))
      Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(baselineRdds),
      "per-batch checkpoints not released after the stream stopped")
  }

  test("streaming LSH probe: per-batch probes equal the one-shot probe") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val inc = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    val tmp = Files.createTempDirectory("lshserve").toFile.getAbsolutePath
    graft.operators.LshIndex.save(
      graft.operators.LshIndex.build(ref, "doc_id", "text", 3), s"$tmp/idx")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = canon(graft.operators.LshIndex.probe(
      graft.operators.LshIndex.load(spark, s"$tmp/idx"), ref, inc,
      "doc_id", "text", 0.7).collect())
    assert(want.nonEmpty)
    val mid = inc.orderBy("doc_id").collect().map(_.getLong(0))
      .apply(inc.count().toInt / 2)
    inc.filter(col("doc_id") < mid).write.parquet(s"$tmp/src/b1")
    inc.filter(col("doc_id") >= mid).write.parquet(s"$tmp/src/b2")
    val probe = DocStreams.lshProbeBatcher(spark, s"$tmp/idx", ref,
      "doc_id", "text", 0.7)
    val buf = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.schema(inc.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        buf.synchronized { buf ++= probe(b.toDF()).collect() }; ()
      }
      .option("checkpointLocation", s"$tmp/ckpt").start()
    q.processAllAvailable()
    q.stop()
    assert(canon(buf.toArray) == want)
  }

  test("TTL-bounded state still pairs within the window") {
    // Same scenario through the ProcessingTimeTimeout code path: with a
    // TTL far larger than the run, behavior is identical (eviction timing
    // itself is the engine's processing-time contract, not testable
    // deterministically here).
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val brutePairs = Dedup.jaccardBrute(docs, "doc_id", "text", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (pairA, pairB) = brutePairs.head
    val tmp = Files.createTempDirectory("docstream-ttl").toFile.getAbsolutePath
    docs.filter(s"doc_id != $pairB").write.parquet(s"$tmp/src/b1")
    docs.filter(s"doc_id = $pairB").write.parquet(s"$tmp/src/b2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val out = DocStreams.streamingNearDupCandidates(
      stream, "doc_id", "text", k = 3, estThreshold = 0.5,
      stateTtl = Some(java.time.Duration.ofHours(1)))
    // AvailableNow, not processAllAvailable: with ProcessingTimeTimeout
    // the engine keeps scheduling timeout-eviction batches, so a
    // default-trigger query never reports "all available" — drain and stop.
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("neardup_ttl").start()
    q.awaitTermination(120000)
    q.stop()
    val got = spark.table("neardup_ttl")
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((math.min(pairA, pairB), math.max(pairA, pairB))))
  }

  test("streaming eval decontamination matches the batch cut across any batching") {
    import org.apache.spark.sql.functions.col
    // batch truth on the full corpus vs the same docs streamed in two
    // micro-batches: per-doc cuts depend only on the doc + the STATIC
    // eval set, so batch boundaries must not change a single span
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val evalDocs = docs.filter(col("source") === "src0")
    val train = docs.filter(col("source") =!= "src0")
    // minLen = 20 so sf0.001's small corpus has real hits (assert below)
    val want = Dedup.evalSubstringCut(docs, "doc_id", "text",
        col("source") === "src0", minLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(want.nonEmpty, "planted-free corpus has no >=20-char overlap to test on")
    val tmp = Files.createTempDirectory("evaldecon").toFile.getAbsolutePath
    val mid = train.orderBy("doc_id").collect().map(_.getLong(0))
      .apply(train.count().toInt / 2)
    train.filter(col("doc_id") < mid).write.parquet(s"$tmp/src/b1")
    train.filter(col("doc_id") >= mid).write.parquet(s"$tmp/src/b2")
    val buf = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    val baselineRdds = spark.sparkContext.getPersistentRDDs.keySet
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
    val q = DocStreams.streamingEvalDecontaminate(stream, evalDocs,
      "doc_id", "text", minLen = 20, s"$tmp/ckpt",
      cuts => buf.synchronized {
        buf ++= cuts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      })
    q.processAllAvailable()
    q.stop()
    assert(buf.sorted.toSeq == want)
    // the termination listener releases the cached gram set (listener
    // delivery + unpersist are async — poll briefly)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
        !spark.sparkContext.getPersistentRDDs.keySet.subsetOf(baselineRdds))
      Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(baselineRdds),
      "eval gram set cache not released after stream termination")
  }
}

package graft.operators

import graft.TestSpark
import graft.functions.Bpe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint lifetime: every iterative operator leaves exactly the
  * checkpoints its result is rooted at, so repeated runs in one session
  * do not accumulate executor storage (the leak class behind r13's
  * q153 8.8 → 20.1 s climb). Each case materializes the result, then
  * compares the growth of `getPersistentRDDs` against
  * [[Checkpoints.roots]] of the returned frame.
  */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def live: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def rootIds(df: DataFrame): Set[Int] = Checkpoints.roots(df).map(_.id).toSet

  /** Run `op`, materialize its result, assert the persisted set grew by
    * exactly the result's own checkpoints, then free them.
    */
  private def leavesOnlyItsRoots(op: => DataFrame): Unit = {
    val before = live
    val out = op
    out.collect()
    val roots = rootIds(out)
    assert(roots.nonEmpty, "the result should read a live checkpoint")
    assert(live -- before == roots)
    Checkpoints.release(out)
    assert((live -- before).isEmpty)
  }

  private def edges(pairs: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toSeq.toDF("src", "dst")
  }

  private def withProp[A](name: String, value: String)(body: => A): A = {
    System.setProperty(name, value)
    try body
    finally System.clearProperty(name)
  }

  test("release(fresh(df)) frees that checkpoint and leaves another live one alone") {
    val a = Checkpoints.fresh(edges((1L, 2L), (2L, 3L)))
    val b = edges((4L, 5L)).localCheckpoint()
    val (aIds, bIds) = (rootIds(a), rootIds(b))
    assert(aIds.size == 1 && bIds.size == 1 && aIds != bIds)
    assert((aIds ++ bIds).subsetOf(live))
    Checkpoints.release(a)
    assert(!aIds.exists(live.contains))
    assert(bIds.subsetOf(live))
    assert(b.count() == 1L)
    Checkpoints.release(b)
    assert(!bIds.exists(live.contains))
  }

  test("fresh is a stats-free LogicalRDD over the persisted checkpoint itself") {
    val source = edges((1L, 2L), (2L, 3L))
    val f = Checkpoints.fresh(source)
    val lr = f.queryExecution.analyzed match {
      case lr: LogicalRDD => lr
      case other => fail(s"expected a LogicalRDD, got ${other.nodeName}")
    }
    // no Row round trip: the leaf reads the checkpoint, not a map over it
    assert(lr.rdd.getStorageLevel.isValid)
    assert(Checkpoints.roots(f) == Seq(lr.rdd))
    assert(live.contains(lr.rdd.id))
    // the origin's statistics are not carried forward
    assert(lr.stats.sizeInBytes == SQLConf.get.defaultSizeInBytes)
    assert(source.queryExecution.optimizedPlan.stats.sizeInBytes < SQLConf.get.defaultSizeInBytes)
    assert(f.collect().toSet == source.collect().toSet)
    Checkpoints.release(f)
    assert(!live.contains(lr.rdd.id))
  }

  test("LabelProp.propagate leaves only its result's checkpoint") {
    val s = spark
    import s.implicits._
    leavesOnlyItsRoots(LabelProp.propagate(
      edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      Seq((1L, 7), (5L, 9)).toDF("v", "label"), iters = 3))
  }

  test("distributed connectedComponents leaves only its result's checkpoint") {
    val s = spark
    import s.implicits._
    leavesOnlyItsRoots(Dedup.connectedComponents(
      edges((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (7L, 6L)),
      (1L to 8L).toDF("id"), localEdgeThreshold = 0L))
  }

  test("Bpe.trainDistributed leaves no checkpoint behind") {
    val s = spark
    import s.implicits._
    val words = Seq("lower" -> 5L, "lowest" -> 2L, "newer" -> 6L, "wider" -> 3L)
      .toDF("w", "n")
    val before = live
    Bpe.trainDistributed(words, "w", "n", numMerges = 6, distributedRounds = 3)
    assert(Bpe.lastDistributedRounds >= 2)
    assert((live -- before).isEmpty)
  }

  test("KCore.kCore leaves only its result's checkpoint") {
    // triangle + chain 3-4-5: two peel rounds, then the nothing-removed probe
    leavesOnlyItsRoots(KCore.kCore(
      edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)), k = 2))
    assert(KCore.lastRounds.get() == 3)
  }

  test("distributed PageRank leaves only its result's checkpoint") {
    // 10 iterations at checkpointEvery = 4: checkpoints at 4, 8 and 10
    leavesOnlyItsRoots(PageRank.run(
      edges((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)),
      driverMaxEdges = 0L))
  }

  test("SuffixArray.cached keeps exactly its entries; invalidate returns to baseline") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      0L -> "xx0123456789abcdefghij yy",
      1L -> "zzz 0123456789abcdefghij www",
      2L -> "totally unique content").toDF("doc_id", "text")
    val corpus = "spec-checkpoint-lifetime"
    val (saKey, lcpKey) = (SuffixArray.saKey(corpus), SuffixArray.lcpKey(corpus))
    val before = live
    try {
      val sa = withProp("graft.sa.path", "distributed") {
        SuffixArray.cached(spark, saKey)(SuffixArray.build(docs))
      }
      assert(live -- before == rootIds(sa))
      val lcp = withProp("graft.lcp.path", "hash") {
        SuffixArray.cached(spark, lcpKey)(SuffixArray.adjacentLcp(sa, docs))
      }
      assert(lcp.count() == sa.count() - 1)
      assert(live -- before == rootIds(sa) ++ rootIds(lcp))
    } finally {
      SuffixArray.invalidate(spark, lcpKey)
      SuffixArray.invalidate(spark, saKey)
    }
    assert((live -- before).isEmpty)
  }
}

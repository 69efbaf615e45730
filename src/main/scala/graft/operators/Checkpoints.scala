package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of eager-checkpoint storage. `Dataset.unpersist`
  * cannot free a `localCheckpoint` (it only talks to the CacheManager;
  * measured in r11: the blocks survive), and waiting for the GC-driven
  * ContextCleaner ties executor storage to driver GC timing: r11's
  * stranded SA checkpoints slowed an unrelated 10× plan 36.9 → 194.5 s,
  * and r13 measured repeated q153 runs rising 8.8 → 12.8 → 20.1 s in
  * one session. So whoever creates an eager checkpoint frees it here,
  * by frame, as soon as nothing reads it:
  *  - an iterative operator (SA build rounds, LCP hash walk, CC,
  *    LabelProp, KCore, PageRank, BPE) [[release]]s each round's
  *    checkpoint once the next round's eager checkpoint has drained
  *    it, and its inputs once the loop ends; the checkpoint its result
  *    is rooted at stays live for the caller;
  *  - a caller that owns a whole pipeline's intermediates (the
  *    SuffixArray result cache, the sharded cut's per-shard loop, a
  *    streaming micro-batch) wraps it in a [[scope]].
  *
  * [[release]] frees exactly the frame's own checkpoint, so it is safe
  * anywhere. [[scope]] works by persistent-RDD id delta and so assumes
  * no concurrent persist activity on the same SparkContext while it
  * runs — the single-driver-loop usage of every caller here.
  */
private[graft] object Checkpoints {

  /** Eager localCheckpoint, rebuilt from the checkpointed RDD: cuts
    * lineage AND inherited statistics (LogicalRDD checkpoints carry the
    * origin plan's sizeInBytes forward and join estimates multiply —
    * see Dedup.ccDistributed for the measured Catalyst stats blowup).
    * [[release]] frees the checkpoint through the rebuild.
    */
  def fresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Free the checkpoint(s) `df` is rooted at. Pass the checkpointed
    * frame (or a projection/filter of it), never one that also reads
    * a frame someone else owns. Non-blocking: the RDD leaves
    * `getPersistentRDDs` at once and its blocks go asynchronously, so
    * an iterative loop does not wait on each round's release (a
    * blocking unpersist of a 32-partition checkpoint measured ~18 ms
    * against ~2 ms on a 4-core box, local[4]).
    */
  def release(df: DataFrame): Unit = roots(df).foreach(_.unpersist(blocking = false))

  /** Run `body`, then free every checkpoint created while it ran except
    * the ones the frames in `keep` (read after `body` returns or throws)
    * are rooted at. `body` must have materialized whatever it hands on.
    * Blocking, so the storage is back before the next shard, batch or
    * phase starts.
    */
  def scope[T](spark: SparkSession, keep: => Iterable[DataFrame] = Nil)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally {
      val kept = keep.flatMap(roots).map(_.id).toSet
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id) && !kept.contains(id)) rdd.unpersist(blocking = true)
      }
    }
  }

  /** The persisted RDDs `df` reads: each LogicalRDD leaf of its analyzed
    * plan, followed down its RDD lineage to the first persisted RDD
    * (the leaf itself for a plain checkpoint; the checkpoint under the
    * row-conversion maps for a [[fresh]] one).
    */
  private[graft] def roots(df: DataFrame): Seq[RDD[_]] = {
    def persisted(rdd: RDD[_]): Seq[RDD[_]] =
      if (rdd.getStorageLevel.isValid) Seq(rdd)
      else rdd.dependencies.flatMap(d => persisted(d.rdd))
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      .flatMap(persisted).distinct
  }
}

package graft.streaming

import graft.operators.{Checkpoints, Diff, IncrementalAgg}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming materialized-view change feed — the composition of
  * [[IncrementalAgg.merge]] (incremental MV upkeep, q106) and
  * [[Diff.snapshotDiff]] (keyed snapshot diff, q125) into the standard
  * incremental-view primitive: each micro-batch folds its per-key
  * partial states into a persistent keyed snapshot, and the SINK
  * receives the batch's effect on the view — `added` and `changed`
  * keys with old and new values side by side — rather than the view
  * itself. Downstream consumers (caches, serving indexes, alerting)
  * apply deltas instead of re-reading a corpus-sized table; with an
  * additive merge a key can never regress, so the feed is exactly
  * `added ∪ changed`.
  *
  * Per-batch cost scales with |batch keys| + |state| through ONE
  * key-co-partitioned merge join and one diff join — never with stream
  * history.
  *
  * State: the view is [[BatchState]] snapshot state at `stateDir`, one
  * committed version per batch. The feed is always diff(prior version,
  * merged version), so a replayed batch (its version already committed)
  * re-emits the same feed from the two committed versions instead of
  * merging its delta a second time. The merged version is materialized
  * once per batch (the sink's diff and the version write both read it)
  * and freed when the batch ends, so `sink` must materialize the frame
  * inside the call, as `foreachBatch` already requires.
  */
object ChangeFeed {

  /** @param keys       grouping keys of the view
    * @param aggs       (valueCol, op) merge spec per [[IncrementalAgg.merge]]
    *                   (`sum` | `max` | `min`)
    * @param buildState batch → per-key partial states (same schema as
    *                   the persistent view: keys ++ value cols)
    * @param sink       receives keys, `change`, `old_<c>`/`new_<c>`
    *                   pairs, and `batch_id` for added/changed keys
    */
  def streamingChangeFeed(incoming: DataFrame, stateDir: String,
                          keys: Seq[String], aggs: Seq[(String, String)],
                          buildState: DataFrame => DataFrame,
                          checkpoint: String)
                         (sink: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, stateDir, keys, aggs,
          buildState)(sink)
      }
      .start()

  /** One micro-batch of the feed — the foreachBatch body, exposed so
    * crash-replay (same batchId delivered twice) is directly testable.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      stateDir: String, keys: Seq[String],
                                      aggs: Seq[(String, String)],
                                      buildState: DataFrame => DataFrame)
                                     (sink: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    Checkpoints.scope(spark) {
      BatchState.advance(spark, stateDir, batchId) { prior =>
        val delta = buildState(batch)
        Checkpoints.fresh(
          IncrementalAgg.merge(prior.getOrElse(delta.limit(0)), delta, keys, aggs))
      } { (prior, merged) =>
        sink(Diff.snapshotDiff(prior.getOrElse(merged.limit(0)), merged, keys,
            aggs.map(_._1))
          .filter(col("change") =!= "unchanged")
          .withColumn("batch_id", lit(batchId)))
      }
    }
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation (Zhu & Ghahramani 2002, the
  * synchronous majority-vote LPA variant): a small labeled seed set
  * spreads across a similarity graph — the weak-supervision step that
  * turns a few thousand human quality/domain labels into corpus-wide
  * labels by riding the near-dup/similarity structure (q153 runs it
  * over the exact embedding near-dup graph).
  *
  * Determinism (everything the oracle replays): updates are SYNCHRONOUS
  * (round r+1 reads only round r's labels — no asynchronous
  * first-writer-wins, which would be partition-order-dependent), seeds
  * are CLAMPED (never re-labeled; the standard semi-supervised rule),
  * and a node's new label is the majority over its labeled neighbors
  * with ties broken toward the SMALLEST label. Integer counts and
  * integer labels — nothing transcendental, so the unrolled-CTE replay
  * is exact.
  *
  * Scale shape (the PageRank/CC discipline): each round is one
  * edge-to-labels equi-join plus a map-side-combined (node, label)
  * count and a `min(struct(-c, label))` argmax — cost bounded by |E|
  * per round, no windows, no driver state beyond the loop counter.
  * Labels are `localCheckpoint`ed per round so the plan stays one
  * round deep instead of unrolling the whole iteration into one
  * Catalyst tree.
  */
object LabelProp {

  /** @param edges undirected pairs (src, dst) — expanded to both
    *              directions internally; callers pass each pair once
    * @param seeds (v, label) clamped seed assignments
    * @param iters synchronous rounds
    * @return (v, label) for every node labeled after `iters` rounds
    *         (seeds included; unreached nodes are absent)
    */
  def propagate(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // every checkpoint is released once superseded
    // ([[Checkpoints.release]]): r13 measured repeated q153 runs in one
    // session rising 8.8 → 12.8 → 20.1 s purely from leaked per-round blocks
    val e = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val seedsOnly = seeds.select(col("v"), col("label")).localCheckpoint()
    var labels = seedsOnly
    (1 to iters).foreach { _ =>
      val votes = e.join(labels, e("dst") === labels("v"))
        .groupBy(e("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      val won = votes
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node").as("v"), col("m.l").as("label"))
        .join(seedsOnly.select("v"), Seq("v"), "left_anti")
      val next = seedsOnly.unionByName(won).localCheckpoint()
      // superseded (next is eager); round 0 IS seedsOnly, freed below
      if (labels ne seedsOnly) Checkpoints.release(labels)
      labels = next
    }
    // the final checkpoint (labels) must stay persisted — a truncated
    // lineage cannot recompute — but the graph and seeds are done
    Checkpoints.release(e)
    Checkpoints.release(seedsOnly)
    labels
  }
}

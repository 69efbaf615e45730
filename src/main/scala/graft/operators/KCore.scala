package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman 1983; the
  * Matula–Beck peel): repeatedly delete every node whose degree in the
  * REMAINING graph is < k until none qualifies. What survives is the
  * maximal subgraph with minimum degree ≥ k.
  *
  * Pipeline role: the near-dup graph's k-core separates genuinely
  * dense duplication communities (template farms, mirror clusters —
  * every member near-dups ≥ k others) from the long tail of pairwise
  * coincidences that connected components (q38) lumps together — CC
  * says "reachable", the k-core says "dense". The standard pre-filter
  * before expensive per-cluster work (PageRank canonicalization,
  * manual review) at 100 TB, where the dup graph's tail is billions of
  * 2-node components but the cores are what matter.
  *
  * Determinism: peeling is SYNCHRONOUS — each round deletes the full
  * sub-k set at once (the result is the same regardless of deletion
  * order, a classical property: the k-core is unique), so the output
  * is partition-invariant and an unrolled-round SQL replay is exact.
  * Rounds past the fixpoint are no-ops, which is what lets the oracle
  * unroll a FIXED round count safely as long as it is ≥ the true
  * fixpoint (q160's gate would fail loudly otherwise).
  *
  * Scale shape (the PageRank/CC/LabelProp discipline): each round is
  * one |E|-bounded degree aggregation (map-side combined) plus two
  * anti-joins against the sub-k node set — which SHRINKS every round
  * and is broadcastable after the first peel on real dup graphs. Edges
  * are localCheckpointed per round so the plan stays one round deep;
  * each round's sub-k set and the edge set it supersedes are released
  * ([[Checkpoints.release]]) once the peeled edge set is checkpointed,
  * so only the final edge checkpoint the result reads stays live. The
  * only driver state is the removed-count loop guard.
  */
object KCore {

  /** Peel rounds the most recent [[kCore]] call took to reach the
    * fixpoint (including the final nothing-removed probe round). Test /
    * oracle-calibration instrumentation: q160's unrolled-round SQL
    * replay is exact only while its unroll depth ≥ this fixpoint, so
    * the depth constant is pinned against a measured value instead of
    * guessed (r12 ADVICE).
    */
  val lastRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** @param edges undirected pairs (src, dst); duplicate pairs,
    *              reversed duplicates, and self-loops are canonicalized
    *              away first, so degree counts distinct neighbors no
    *              matter how the edge list arrives
    * @param k     minimum within-core degree
    * @return (node, core_deg) for every k-core member, where core_deg
    *         is the node's degree INSIDE the core (≥ k by definition)
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // canonical undirected edge set (the Triangles discipline): a pair
    // present as both (a,b) and (b,a), repeated, or a self-loop would
    // otherwise inflate degrees and admit fake cores
    val canon = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    var e = canon
      .unionByName(canon.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var removed = 1L
    var round = 0
    while (removed > 0 && round < maxRounds) {
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val bad = deg.filter(col("deg") < k).select("node").localCheckpoint()
      removed = bad.count()
      if (removed > 0) {
        val peeled = e
          .join(bad.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
          .join(bad.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
          .localCheckpoint()
        Checkpoints.release(e)
        e = peeled
      }
      Checkpoints.release(bad)
      round += 1
    }
    lastRounds.set(round)
    require(removed == 0,
      s"k-core did not converge in $maxRounds rounds — raise maxRounds")
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }
}

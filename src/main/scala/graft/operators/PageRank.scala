package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Join-based PageRank over an edge list — the graph-centrality pass a
  * training-data pipeline runs over its near-duplicate (or citation /
  * link) graph to pick the CANONICAL representative of each dup cluster:
  * the highest-rank member is the most-connected copy, a better keep
  * choice than min-id when duplicates differ in quality.
  *
  * Adaptive dispatch (the [[Dedup.connectedComponents]] pattern): an
  * iterative graph algorithm on a SMALL graph pays ~20 scheduled
  * shuffles of near-empty partitions — pure fixed cost (measured 4.2 s
  * for 10 rounds over a 14-edge graph at sf0.1, virtually all
  * scheduling). Below `driverMaxEdges` the edge list is collected
  * (bounded — the threshold caps driver memory) and iterated in-driver;
  * above it, the distributed Pregel form runs:
  *  - out-degrees: one aggregation over edges, keyed by src;
  *  - per iteration: ranks ⋈ edges on src (a hash shuffle bounded by the
  *    EDGE list, never all-pairs), contributions aggregated by dst with
  *    map-side partials, then a left join back to the node set for
  *    no-in-edge nodes. Two keyed shuffles per iteration —
  *    O(iterations × |E|) total work, the standard distributed form.
  *  - Every iteration's rank is materialized via `localCheckpoint` each
  *    `checkpointEvery` rounds so the lineage (and the re-execution cost
  *    of a lost partition) stays bounded instead of nesting
  *    `iterations` joins deep; each checkpoint is released
  *    ([[Checkpoints.release]]) once the next one has drained it, so
  *    only the returned ranks' checkpoint stays live.
  *
  * Cross-engine determinism: ranks are rounded to `roundScale` (1e-12)
  * decimals EVERY iteration, in-engine, so summation order (engine-,
  * path- and partition-dependent in the last ulp) can never compound
  * across iterations — the driver path, the distributed path, and a SQL
  * replay (see [[pagerankSql]]) produce bit-identical doubles
  * (PageRankSpec pins driver == distributed exactly; the driver
  * rounding reproduces Spark's `round` BigDecimal HALF_UP semantics).
  * The rounding error (≤5e-13/iteration) is far below any ranking use.
  *
  * Nodes are the vertices incident to at least one edge; pass an
  * undirected graph as both edge directions (then every node has
  * out-degree ≥ 1, so no dangling-mass redistribution is needed —
  * no-in-edge nodes still receive the teleport term).
  */
object PageRank {

  /** @param edges directed edge list with columns `src`, `dst`.
    * @param driverMaxEdges collect-and-iterate in-driver at or below
    *        this edge count (0 forces the distributed path).
    */
  def run(
      edges: DataFrame,
      iterations: Int = 10,
      damping: Double = 0.85,
      roundScale: Int = 12,
      checkpointEvery: Int = 4,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col("src"), col("dst")).persist()
    try {
      val eCount = e.count()
      if (eCount == 0L) {
        val schema = StructType(Seq(
          StructField("node", e.schema.head.dataType),
          StructField("rank", DoubleType, nullable = false)))
        e.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](), schema)
      } else if (eCount <= driverMaxEdges) runDriver(e, iterations, damping, roundScale)
      else runDistributed(e, iterations, damping, roundScale, checkpointEvery)
    } finally e.unpersist(blocking = false)
  }

  /** Spark's `round(double, scale)` semantics exactly (BigDecimal of the
    * double's shortest decimal representation, HALF_UP).
    */
  private def rnd(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def runDriver(e: DataFrame, iterations: Int, damping: Double,
                        roundScale: Int): DataFrame = {
    val arr = e.collect()
    val outDeg = mutable.HashMap.empty[Any, Long]
    arr.foreach { r => outDeg.updateWith(r.get(0)) {
      c => Some(c.getOrElse(0L) + 1L) } }
    val nodes = {
      val seen = mutable.LinkedHashSet.empty[Any]
      arr.foreach { r => seen += r.get(0); seen += r.get(1) }
      seen.toArray
    }
    val n = nodes.length
    val tele = (1.0 - damping) / n.toDouble
    var rank = mutable.HashMap(
      nodes.map(_ -> rnd(1.0 / n.toDouble, roundScale)).toSeq: _*)
    for (_ <- 1 to iterations) {
      val contrib = mutable.HashMap.empty[Any, Double]
      arr.foreach { r =>
        val c = rank(r.get(0)) / outDeg(r.get(0)).toDouble
        contrib.updateWith(r.get(1)) { s => Some(s.getOrElse(0.0) + c) }
      }
      rank = mutable.HashMap(nodes.map { nd =>
        nd -> rnd(tele + damping * contrib.getOrElse(nd, 0.0), roundScale)
      }.toSeq: _*)
    }
    val schema = StructType(Seq(
      StructField("node", e.schema.head.dataType),
      StructField("rank", DoubleType, nullable = false)))
    val rows: java.util.List[Row] = new java.util.ArrayList[Row](n)
    nodes.foreach(nd => rows.add(Row(nd, rank(nd))))
    e.sparkSession.createDataFrame(rows, schema)
  }

  private def runDistributed(e: DataFrame, iterations: Int, damping: Double,
                             roundScale: Int, checkpointEvery: Int): DataFrame = {
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().persist()
    // Driver scalar: the node COUNT only (needed for the teleport term)
    // — never the node set itself.
    val n = nodes.count()
    val tele = (1.0 - damping) / n.toDouble

    var ranks = nodes.select(col("node"),
      round(lit(1.0 / n.toDouble), roundScale).as("rank"))
    var lastCheckpoint: Option[DataFrame] = None
    for (i <- 1 to iterations) {
      val contribs = ranks
        .join(e, ranks("node") === e("src"))
        .join(outDeg, "src")
        .select(col("dst").as("node"),
          (col("rank") / col("out_deg").cast("double")).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(lit(tele) + lit(damping) * coalesce(col("s"), lit(0.0)),
            roundScale).as("rank"))
      if (i % checkpointEvery == 0 || i == iterations) {
        ranks = ranks.localCheckpoint()
        lastCheckpoint.foreach(Checkpoints.release)
        lastCheckpoint = Some(ranks)
      }
    }
    nodes.unpersist(blocking = false)
    ranks
  }

  /** ANSI-SQL replay of [[run]] with the iterations UNROLLED as chained
    * CTEs (recursive CTEs can't aggregate in the recursive term in
    * standard SQL). `edgeCte` must define a relation `ed(src, dst)`;
    * the caller appends a final SELECT over `pr<iterations>`.
    *
    * No CTE here uses a top-level set operation: when the caller's
    * edgeCte opens a `WITH RECURSIVE` block (e.g. to also compute
    * connected components), DuckDB 1.0 gives EVERY clause-level UNION
    * recursive-union semantics — a plain `a UNION b` dedup CTE silently
    * keeps duplicates (q91 caught this with doubled node rows).
    */
  def pagerankSql(edgeCte: String, iterations: Int, damping: Double = 0.85): String = {
    val d = damping
    val iters = (1 to iterations).map { i =>
      s"""pr$i AS (
         | SELECT nd.node,
         |  round((1.0 - $d) / g.n + $d * coalesce(c.s, 0.0), 12) AS rank
         | FROM nodes nd CROSS JOIN g
         | LEFT JOIN (
         |   SELECT e.dst AS node, SUM(p.rank / CAST(dg.out_deg AS DOUBLE)) AS s
         |   FROM pr${i - 1} p JOIN ed e ON p.node = e.src
         |   JOIN deg dg ON dg.src = e.src
         |   GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCte,
       |deg AS (SELECT src, COUNT(*) AS out_deg FROM ed GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) u),
       |g AS (SELECT COUNT(*) AS n FROM nodes),
       |pr0 AS (SELECT node, round(1.0 / g.n, 12) AS rank FROM nodes, g),
       |$iters""".stripMargin
  }
}

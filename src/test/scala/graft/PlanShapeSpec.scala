package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape pins — the properties PLANS.md documents, asserted
  * so a regression (a filter that stops pushing down, a top-k that
  * becomes a global sort, a pivot that grows an Expand) fails the suite
  * instead of only degrading the bench. These matter at 100 TB far more
  * than at test scale: each assertion is the difference between an
  * operator that scales and one that doesn't.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q01: the date filter reaches the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_shipdate"))
  }

  test("q03/q27: top-k plans TakeOrderedAndProject, not a global sort") {
    assert(plan("q03_top_orders").contains("TakeOrderedAndProject"))
    assert(plan("q27_knn_brute").contains("TakeOrderedAndProject"))
  }

  test("q47: the benchmark gram set joins broadcast, not shuffled") {
    assert(plan("q47_decontaminate").contains("BroadcastHashJoin"))
  }

  test("q57: explicit pivot values stay a plain aggregate (no Expand)") {
    val p = plan("q57_pivot")
    assert(!p.contains("Expand"))
  }

  test("q58: CUBE is one scan through an Expand, not a union of scans") {
    val p = plan("q58_cube")
    assert(p.contains("Expand"))
    assert("Scan parquet".r.findAllIn(p).length == 1)
  }

  test("q60: the interval join is a hash equi-join, not a nested loop") {
    val p = plan("q60_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q54: the global shuffle position never plans a partitionless Window") {
    // a single-task Window.orderBy would appear as Window with an empty
    // partition spec over a singlePartition exchange
    val p = plan("q54_global_shuffle")
    assert(!p.contains("Window"))
  }

  test("q127/q149: one pass per document — no window cascade, no gram shuffle") {
    assert(!plan("q127_dup_substring_cut").contains("Window"))
    val p = plan("q149_gopher_repetition")
    assert("Exchange ".r.findAllIn(p).length == 1 && !p.contains("Aggregate"))
  }

  test("q68: weighted sampling is top-k over a map-only scan (no shuffle)") {
    val p = plan("q68_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("q70: pair counting is one pair-keyed shuffle plus top-k — no self-join") {
    val p = plan("q70_bpe_pair_counts")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("q66: the verify join broadcasts the bench grams, not the corpus") {
    val p = plan("q66_bloom_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q67: every funnel join is a hash equi-join (no nested loop)") {
    val p = plan("q67_funnel")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q144/q146: IVF list scans join the broadcast probe set, never shuffle the corpus") {
    Seq("q144_ann_recall", "q146_ivf_merge").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), q)
      assert(!p.contains("SortMergeJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q145/q148: threshold sweep and quality audit stay free of quadratic joins") {
    Seq("q145_dedup_sweep", "q148_dedup_quality_audit").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("q151: top-5 per cluster rides the heap aggregate — no Window over the vocab") {
    val p = plan("q151_cluster_topics")
    assert(!p.contains("Window"), "per-cluster top-k must not window-sort the vocab")
    assert(!p.contains("CartesianProduct"))
  }

  test("q75/q80/q81: group-stat and vocab lookups broadcast, never shuffle the corpus side") {
    Seq("q75_adaptive_filter", "q80_group_zscore", "q81_token_ids").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), q)
      assert(!p.contains("SortMergeJoin"), q)
    }
  }
}

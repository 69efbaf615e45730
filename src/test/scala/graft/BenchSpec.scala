package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure stages: the base file it hands the rehearsal child and
  * the round artifact's name.
  */
class BenchSpec extends AnyFunSuite {

  test("base-file lines: q137/q138 take their pinned bases, NoBroadcastBase members the no-broadcast base or -1/-1, other rows the headline") {
    assert(ScaleRehearsal.NoBroadcastBase.contains("q25_minhash_lsh"))
    assert(ScaleRehearsal.NoBroadcastBase.contains("q107_fuzzy_join"))
    assert(!ScaleRehearsal.NoBroadcastBase.contains("q01_pricing_summary"))
    val results = Seq(
      ("q137_suffix_array", 5.0, 100L),
      ("q138_longest_dup_substring", 3.0, 50L),
      ("q25_minhash_lsh", 2.0, 10L),
      ("q107_fuzzy_join", 1.5, 20L),
      ("q01_pricing_summary", 0.5, 7L))
    val pinned = Bench.PinnedBases(
      bases = Map("q137_suffix_array" -> (6.0, 120L), "q25_minhash_lsh" -> (2.5, 12L)),
      skipped = Seq("q138_longest_dup_substring"), failed = Seq("q107_fuzzy_join"))
    assert(Bench.baseLines(results, pinned) == Seq(
      "q137_suffix_array\t6.0\t120",
      "q138_longest_dup_substring\t-1\t-1",
      "q25_minhash_lsh\t2.5\t12",
      "q107_fuzzy_join\t-1\t-1",
      "q01_pricing_summary\t0.5\t7"))
  }

  test("round artifact: written only when SPARK_GRAFT_ROUND names the round, at the bench SF") {
    assert(Bench.roundArtifact(None, atBenchSf = true, cpus = "32").isEmpty)
    assert(Bench.roundArtifact(Some("20"), atBenchSf = false, cpus = "32").isEmpty)
    assert(Bench.roundArtifact(Some("20"), atBenchSf = true, cpus = "32") ==
      Some(20 -> "BENCH_r20.json"))
    assert(Bench.roundArtifact(Some("7"), atBenchSf = true, cpus = "8") ==
      Some(7 -> "BENCH_r07_c8.json"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the rehearsal protocol invariants that are pure data — the
  * measurement-attribution rules that, if silently reordered, produce
  * artifacts that gate on cache-attribution instead of plans (the
  * r14 decade-2 near-miss: q126 ordered before q137 would have billed
  * the SA build+walk to the coverage query).
  */
class ScaleRehearsalSpec extends AnyFunSuite {

  test("decade-2 runs the SA family in stage order: build, walk, then consumers") {
    val idx = ScaleRehearsal.decade2Names.zipWithIndex.toMap
    val build = idx("q137_suffix_array")
    val walk = idx("q138_longest_dup_substring")
    assert(build < walk)
    assert(walk < idx("q126_dup_substring_coverage"))
    assert(walk < idx("q127_dup_substring_cut"))
  }

  test("decade-2 SA dependencies precede their dependents and are themselves members") {
    val idx = ScaleRehearsal.decade2Names.zipWithIndex.toMap
    ScaleRehearsal.decade2SaDeps.foreach { case (dep, prereqs) =>
      assert(idx.contains(dep), s"$dep not in decade2Names")
      prereqs.foreach { p =>
        assert(idx.contains(p), s"prerequisite $p not in decade2Names")
        assert(idx(p) < idx(dep), s"$p must run before $dep")
      }
    }
  }

  test("every decade-2 member is in the 10x tier (its last-decade base) and every deferred member has published deferral evidence") {
    ScaleRehearsal.decade2Names.foreach { n =>
      assert(ScaleRehearsal.names.contains(n),
        s"$n gates on its last decade, so it needs a 10x measurement")
      if (!ScaleRehearsal.BytesGateExempt.contains(n))
        assert(ScaleRehearsal.GateDeferralEvidence.contains(n),
          s"$n defers its 1x->10x gate to decade 2 without published evidence")
    }
  }

  test("the 10x tier orders q137 before q138 (build attribution)") {
    val idx = ScaleRehearsal.names.zipWithIndex.toMap
    assert(idx("q137_suffix_array") < idx("q138_longest_dup_substring"))
  }

  test("every decade-2 member carries committed prior evidence for skip-time merge") {
    // r15 verdict #2: the self-contained artifact can only merge what
    // PriorEvidence holds — a member without an entry would regress to
    // the point-at-run-files state the key exists to fix
    ScaleRehearsal.decade2Names.foreach { n =>
      assert(ScaleRehearsal.PriorEvidence.contains(n),
        s"$n has no PriorEvidence entry for the skip-time artifact merge")
      val (v, from) = ScaleRehearsal.PriorEvidence(n)
      assert(v.nonEmpty && from.nonEmpty)
    }
  }

  test("feasibility-checked members are decade-2 members, and q110 precedes the SA family (context-kill isolation)") {
    val idx = ScaleRehearsal.decade2Names.zipWithIndex.toMap
    ScaleRehearsal.Decade2Feasibility.keys.foreach(n =>
      assert(idx.contains(n), s"$n has a feasibility check but is not in decade2Names"))
    assert(idx("q110_triangle_count") < idx("q137_suffix_array"))
  }

  test("finalSecs: min of one or two successful samples, median of three, -1 when none succeeded") {
    import ScaleRehearsal.finalSecs
    assert(finalSecs(Seq(2.0)) == 2.0)
    assert(finalSecs(Seq(3.0, 2.0)) == 2.0)
    assert(finalSecs(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(finalSecs(Seq(-1.0, 4.0)) == 4.0)
    assert(finalSecs(Seq(5.0, -1.0, 4.0)) == 4.0)
    assert(finalSecs(Seq(-1.0)) == -1.0)
    assert(finalSecs(Nil) == -1.0)
  }

  test("notEvaluated lists -1 bases, tier-10 budget skips and deferred members with no decade-2 exponent, never exempt ones") {
    def row(n: String, bytes: Long) =
      ScaleRehearsal.Row(n, if (bytes < 0) -1.0 else 1.0, bytes, bytes, bytes, Nil)
    val exempt = "q153_label_propagation"
    assert(ScaleRehearsal.BytesGateExempt.contains(exempt))
    val rows = Seq(
      row("q107_fuzzy_join", 1000L),         // gated, base present
      row("q25_minhash_lsh", 1000L),         // gated, base -1/-1
      row("q24_ngram_jaccard", -1L),         // tier-10 budget skip
      row(exempt, -1L),                      // exempt, base -1 and skipped
      row("q145_dedup_sweep", 1000L),        // deferred, no decade-2 exponent
      row("q148_dedup_quality_audit", 1000L)) // deferred, evaluated in decade 2
    val base: ScaleRehearsal.Base = Map(
      "q107_fuzzy_join" -> (1.0, 100L), "q25_minhash_lsh" -> (-1.0, -1L),
      "q24_ngram_jaccard" -> (1.0, 100L), exempt -> (-1.0, -1L),
      "q145_dedup_sweep" -> (1.0, 100L), "q148_dedup_quality_audit" -> (1.0, 100L))
    val t10 = new ScaleRehearsal.Tier10(rows, Seq("q24_ngram_jaccard", exempt),
      Seq("q145_dedup_sweep", "q148_dedup_quality_audit"), base)
    assert(t10.gate.map(_._1) == Seq("q107_fuzzy_join", "q25_minhash_lsh", "q24_ngram_jaccard"))
    assert(t10.gate.head._2 == 1.0)
    assert(t10.deferred == Seq("q145_dedup_sweep", "q148_dedup_quality_audit"))
    assert(t10.notEvaluated(Set("q148_dedup_quality_audit")) ==
      Seq("q25_minhash_lsh", "q24_ngram_jaccard", "q145_dedup_sweep"))
    assert(t10.notEvaluated(Set.empty) ==
      Seq("q25_minhash_lsh", "q24_ngram_jaccard", "q145_dedup_sweep",
        "q148_dedup_quality_audit"))
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-data-pipeline operators
  * (SURVEY.md §7.4): tokenization, shingling, MinHash signatures,
  * SimHash, language-ID scoring, quality metrics, fingerprints.
  *
  * Everything here is built from `org.apache.spark.sql.functions._`
  * (codegen'd higher-order functions) — no Scala UDFs — so the whole
  * text pipeline stays inside WholeStageCodegen and scales linearly
  * with executors at 100 TB.
  */
object TextFns {

  /** Whitespace tokens of the trimmed, lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** BPE-ish token count: alpha runs, digit runs, single non-space symbols. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  // PII scrubbing (training-data hygiene; the batch-column analogue of the
  // reference's per-value PII obfuscation, lib/pipeline_controller.py:183).
  // Patterns use only syntax shared by java.util.regex and RE2 (character
  // classes, \b, bounded repetition — no lookaround), so the DuckDB oracle
  // replays them verbatim. Email first: a local part could otherwise leave
  // an SSN/phone-shaped fragment behind.
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ssnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val phoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"

  /** Replace emails / SSNs / US phone numbers with typed placeholders.
    * Pure codegen'd regexp_replace chain — one pass per pattern class.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ssnRe, "<SSN>"),
      phoneRe, "<PHONE>")

  // NOTE: shingling lives in Hashing.shingleSet (JVM single pass). The
  // expression form (`transform(sequence(...), i => concat_ws(...,
  // element_at(toks, i+j)...))`) re-evaluates the captured `toks` subtree —
  // i.e. re-splits the whole text — inside every element_at call: ~3·(n-k)
  // splits per row, measured ~9 s for 5000 docs vs ~0.1 s for the JVM pass.

  // NOTE: MinHash/SimHash signatures live in graft.functions.Hashing as
  // plain JVM functions (used via UDF in graft.operators.Dedup) — an
  // expression-tree form gets its signature subtree duplicated per band by
  // CollapseProject and recomputed 32× per row.

  /** Fused single-pass text statistics (token count, junk chars, non-space
    * chars, per-language marker occurrence counts). The expression form —
    * one `filter(split(...), isin)` chain per language — goes through
    * `HigherOrderFunction`'s interpreted lambda dispatch and re-splits the
    * text for every count (measured ~8 s for 5000 docs at sf0.1); this one
    * JVM pass is ~100× cheaper and semantically identical, so the DuckDB
    * oracles are unchanged.
    *
    * Returns struct(n_tokens, junk_chars, text_len, nospace_len,
    * stop_count, en, es, fr, de) — all longs.
    */
  def textStats(markerSets: Seq[Seq[String]]): Column => Column = {
    val sets = markerSets.map(_.toSet)
    val statsUdf = udf { text: String =>
      val lower = text.toLowerCase
      // junk = chars of lower(text) outside [a-z0-9 ] (regex-equivalent)
      var junk = 0L
      var nospace = 0L
      lower.foreach { c =>
        val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
        if (!isWs) nospace += 1
        if (!((c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') || c == ' ')) junk += 1
      }
      val toks = lower.trim.split("\\s+")
      val counts = sets.map(s => toks.count(s.contains).toLong)
      val stop = toks.count(t => sets.exists(_.contains(t))).toLong
      (toks.length.toLong, junk, text.length.toLong, nospace, stop,
        counts(0), counts(1), counts(2), counts(3))
    }
    text => statsUdf(text).as("stats")
  }

  /** Bag-of-words fingerprint: md5 of the sorted distinct token set. */
  def bowFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Fused single-pass character-distribution statistics: Shannon
    * entropy (nats) of the character frequency distribution plus the
    * distinct-character count — the standard gibberish / encoding-noise
    * / base64-blob signal (natural language sits near 2.8–3.2 nats;
    * uniform random base64 near 4.1; single-char runs near 0). Same
    * rationale as [[textStats]]: the explode-per-char expression form
    * would shuffle |text| rows per document, this JVM pass is one map
    * over the value. Entropy is rounded to 4 decimals by the CALLER so
    * summation order (engine-dependent in the last ulp) stays inside
    * the oracle-hash tolerance. Counts UTF-16 units (= codepoints for
    * the ASCII/BMP corpus; documented divergence for astral planes,
    * where DuckDB counts codepoints).
    *
    * Returns struct(entropy: double, n_distinct_chars: long).
    */
  val charStats: Column => Column = {
    val statsUdf = udf { text: String =>
      val counts = new java.util.HashMap[Char, Long]()
      text.foreach(c => counts.merge(c, 1L, _ + _))
      val n = text.length.toDouble
      var h = 0.0
      counts.values.forEach { c => val p = c / n; h -= p * math.log(p) }
      (h, counts.size.toLong)
    }
    text => statsUdf(text)
  }

  /** Unicode script-mix histogram (q132): per-CODEPOINT counts over
    * explicit block ranges — deliberately block-based, not the ICU
    * Script property, so any engine replays it from plain integer
    * range tests (DuckDB: `unicode()` over a char split). One fused
    * JVM pass; iterates by code point (surrogate pairs count once,
    * matching DuckDB's per-codepoint split). Returns
    * (n_cp, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit,
    *  n_space, n_other, dominant_script); dominant is the max script
    * count with ties resolved latin > cyrillic > greek > cjk > arabic,
    * 'none' when no script char occurs.
    */
  val scriptStats: Column => Column = {
    val u = udf { text: String =>
      var i = 0; val n = text.length
      var ncp = 0L; var lat = 0L; var cyr = 0L; var grk = 0L; var cjk = 0L
      var ara = 0L; var dig = 0L; var spc = 0L
      while (i < n) {
        val cp = text.codePointAt(i)
        ncp += 1
        if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
            (cp >= 0xC0 && cp <= 0x24F)) lat += 1       // Latin-1 Sup..Latin Ext-B
        else if (cp >= 0x400 && cp <= 0x4FF) cyr += 1   // Cyrillic
        else if (cp >= 0x370 && cp <= 0x3FF) grk += 1   // Greek and Coptic
        else if (cp >= 0x2E80 && cp <= 0x9FFF) cjk += 1 // CJK radicals..Unified
        else if (cp >= 0x600 && cp <= 0x6FF) ara += 1   // Arabic
        else if (cp >= '0' && cp <= '9') dig += 1
        else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r' || cp == '\f') spc += 1
        i += Character.charCount(cp)
      }
      val oth = ncp - lat - cyr - grk - cjk - ara - dig - spc
      val mx = math.max(lat, math.max(cyr, math.max(grk, math.max(cjk, ara))))
      val dom =
        if (mx == 0L) "none"
        else if (lat == mx) "latin"
        else if (cyr == mx) "cyrillic"
        else if (grk == mx) "greek"
        else if (cjk == mx) "cjk"
        else "arabic"
      (ncp, lat, cyr, grk, cjk, ara, dig, spc, oth, dom)
    }
    text => u(text)
  }
}

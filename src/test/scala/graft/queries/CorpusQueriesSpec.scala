package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-preparation operators (q42–q45). The DuckDB oracle gate pins
  * exact values; these tests pin the operator PROPERTIES that the oracle
  * can't see — determinism across runs, stratification direction, and
  * ranking shape.
  */
class CorpusQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q42 sampling is deterministic, stratified, and fully split") {
    val a = CorpusQueries.q42(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val b = CorpusQueries.q42(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(a.nonEmpty && a.sameElements(b)) // content-keyed, no RNG
    assert(a.forall(r => Set("train", "val", "test").contains(r._3)))
    // per-stratum rates: en keeps 16/256, others 32/256 — so the en
    // sample fraction must be below the non-en fraction.
    val total = graft.Tables.documents(spark, dir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val enRate = kept.getOrElse("en", 0.0) / total("en")
    val otherRate = (kept - "en").values.sum /
      (total - "en").values.sum.toDouble
    assert(enRate < otherRate,
      s"en rate $enRate should be below non-en rate $otherRate")
  }

  test("q45 vocabulary is df-descending with deterministic ties") {
    val rows = CorpusQueries.q45(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val nDocs = graft.Tables.documents(spark, dir).count()
    assert(rows.forall(_._2 <= nDocs)) // df counts docs, not occurrences
    rows.sliding(2).foreach { case Array((t1, d1), (t2, d2)) =>
      assert(d1 > d2 || (d1 == d2 && t1 < t2))
    case _ => }
  }

  test("q46 puts every member of a near-dup cluster in one split") {
    val rows = CorpusQueries.q46(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    // one split per cluster — the leakage guarantee
    rows.groupBy(_._2).values.foreach { members =>
      assert(members.map(_._3).distinct.length == 1)
    }
    // singletons (cluster_id == doc_id) get exactly their q42 split
    val q42Splits = CorpusQueries.q42(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val singletons = rows.filter(r => r._1 == r._2)
    assert(singletons.nonEmpty)
    singletons.foreach { case (id, _, split) =>
      q42Splits.get(id).foreach(s => assert(s == split))
    }
  }

  test("PrefixSum matches a single-partition window over any partition count") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i % 7 + 1)).toDF("id", "v")
    val expected = df.withColumn("cum",
        sum("v").over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    for (parts <- Seq(1, 3, 32, 100)) {
      val got = graft.operators.PrefixSum
        .withRunningTotal(df, "id", "v", "cum", parts)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == expected, s"numPartitions=$parts")
    }
  }

  test("q50 segments tile each doc and dup counts are consistent") {
    val docs = graft.Tables.documents(spark, dir)
    val rows = CorpusQueries.q50(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every reported segment is seen in >=2 docs, and occurrences >= docs
    rows.foreach { case (_, nDocs, nOcc) =>
      assert(nDocs >= 2 && nOcc >= nDocs)
    }
    // a doc duplicated verbatim must surface all its full segments
    import org.apache.spark.sql.functions._
    val txt = docs.select("text").head().getString(0)
    val toks = txt.trim.toLowerCase.split("\\s+")
    val twice = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, txt, "en", "s", txt.length.toLong),
        org.apache.spark.sql.Row(2L, txt, "en", "s", txt.length.toLong)),
      docs.schema)
    val tmp = java.nio.file.Files.createTempDirectory("q50").toFile.getAbsolutePath
    twice.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val dups = CorpusQueries.q50(spark, tmp).collect()
    assert(dups.length == math.ceil(toks.length / 8.0).toInt)
    assert(dups.forall(r => r.getLong(1) == 2 && r.getLong(2) == 2))
  }

  test("q82 winnowing finds token-shifted verbatim dups that q50 misses") {
    // One 16-token passage planted at token offsets 0..7 across 8 docs
    // (unique junk prefixes). Fixed mod-8 segmentation (q50) shares NO
    // segment between any two shifts, so it reports nothing; winnowing
    // (k=4, w=4) guarantees a common fingerprint for any shared run of
    // >= 7 tokens — and in fact the passage-global min k-gram hash is
    // selected by every doc, so one fingerprint must have n_docs = 8.
    val docs = graft.Tables.documents(spark, dir)
    val passage = (0 until 16).map(i => s"pass$i").mkString(" ")
    val rows = (0 to 7).map { s =>
      val junk = (0 until s).map(j => s"junk${s}x$j").mkString(" ")
      val text = if (s == 0) passage else s"$junk $passage"
      org.apache.spark.sql.Row(s.toLong, text, "en", "s", text.length.toLong)
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), docs.schema)
    val tmp = java.nio.file.Files.createTempDirectory("q82").toFile.getAbsolutePath
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val q50Hits = CorpusQueries.q50(spark, tmp).collect()
    assert(q50Hits.isEmpty,
      s"mod-8 segmentation unexpectedly paired shifted dups: ${q50Hits.toSeq}")
    val q82Hits = CorpusQueries.q82(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(q82Hits.exists(_._2 == 8L),
      s"winnowing missed the planted passage: ${q82Hits.toSeq}")
  }

  test("q126 reports exact coverage of a planted shared passage") {
    // Two docs share one 100-char passage at different offsets inside
    // otherwise-random text (seeded, so no accidental 40-gram repeats).
    // Every L-gram fully inside the passage occurs twice corpus-wide:
    // run of 100-40+1 = 61 duplicated positions per doc, and the
    // interval-union measure is exactly the 100 passage chars
    // (L + 60 overlapping single-char extensions). A third random doc
    // must report zero.
    val docs = graft.Tables.documents(spark, dir)
    def rand(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val shared = rand(3, 100)
    val a = rand(1, 60) + shared + rand(4, 30)  // passage at pos 61
    val b = rand(2, 45) + shared + rand(5, 40)  // passage at pos 46
    val c = rand(6, 150)
    val rows = Seq((1L, a), (2L, b), (3L, c)).map { case (id, t) =>
      org.apache.spark.sql.Row(id, t, "en", "s", t.length.toLong)
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), docs.schema)
    val tmp = java.nio.file.Files.createTempDirectory("q126").toFile.getAbsolutePath
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CorpusQueries.q126(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq(
      (1L, 61L, 100L, BigDecimal(100.0 / 190).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      (2L, 61L, 100L, BigDecimal(100.0 / 185).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      (3L, 0L, 0L, 0.0)))
  }

  test("q127 cuts non-canonical copies exactly and keeps the first occurrence") {
    val docs = graft.Tables.documents(spark, dir)
    def rand(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val shared = rand(3, 100)
    val a = rand(1, 60) + shared + rand(4, 30)   // canonical copy (doc 1)
    val b = rand(2, 45) + shared + rand(5, 40)   // later copy loses the span
    val rows = Seq((1L, a), (2L, b), (3L, a)).map { case (id, t) =>
      org.apache.spark.sql.Row(id, t, "en", "s", t.length.toLong)
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), docs.schema)
    val tmp = java.nio.file.Files.createTempDirectory("q127").toFile.getAbsolutePath
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CorpusQueries.q127(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // doc 1 is canonical everywhere: untouched. doc 2 loses exactly the
    // 100 shared chars (cut interval = the span, rebuilt text = its
    // unique prefix + suffix). doc 3 duplicates doc 1 wholesale: every
    // window is non-canonical, the islands merge to the full doc, and
    // the rebuilt text is EMPTY — not mistaken for untouched.
    assert(got == Seq(
      (1L, 0L, a),
      (2L, 100L, rand(2, 45) + rand(5, 40)),
      (3L, a.length.toLong, "")))
  }

  test("q127's cut kernel: gaps of L merge, L+1 splits, overlaps count once") {
    val L = 4
    val text = "abcdefghijklmnop"
    // windows at 1 and 5 touch ([1,4] and [5,8]): one island, 8 cut
    assert(CorpusQueries.cutSpans(text, Array(1, 5), L) == ((8L, "ijklmnop")))
    // a gap of L+1 leaves the char between the windows ([1,4], [6,9])
    assert(CorpusQueries.cutSpans(text, Array(1, 6), L) == ((8L, "ejklmnop")))
    // overlapping windows ([2,5], [3,6]) cut their union once
    assert(CorpusQueries.cutSpans(text, Array(2, 3), L) == ((5L, "aghijklmnop")))
    // no positions: untouched; every position: empty, not untouched
    assert(CorpusQueries.cutSpans(text, Array.emptyIntArray, L) == ((0L, text)))
    assert(CorpusQueries.cutSpans(text, (1 to 13).toArray, L) == ((16L, "")))
    // indices are code points: an emoji (two UTF-16 chars) before, inside
    // and after the cut is never split
    val e = "\uD83D\uDE00"
    val emo = s"a$e${e}bc${e}de$e"   // a 😀 😀 b c 😀 d e 😀 (9 code points)
    assert(CorpusQueries.cutSpans(emo, Array(3, 4), L) == ((5L, s"a${e}e$e")))
  }

  test("q127 cuts by code point around non-BMP characters") {
    val docs = graft.Tables.documents(spark, dir)
    val emojis = Seq("\uD83D\uDE00", "\uD83C\uDF89", "\uD800\uDF48")
    def rand(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => if (r.nextInt(4) == 0) emojis(r.nextInt(3))
        else ('a' + r.nextInt(26)).toChar.toString).mkString
    }
    val shared = rand(13, 100)
    val a = rand(11, 60) + emojis(0) + shared + emojis(1) + rand(14, 30)
    val b = rand(12, 45) + emojis(2) + shared + emojis(0) + rand(15, 40)
    val rows = Seq((1L, a), (2L, b)).map { case (id, t) =>
      org.apache.spark.sql.Row(id, t, "en", "s", t.length.toLong)
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), docs.schema)
    val tmp = java.nio.file.Files.createTempDirectory("q127emoji").toFile.getAbsolutePath
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CorpusQueries.q127(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // doc 2 loses exactly the 100 shared code points; the emoji that
    // border the span on both sides survive whole
    assert(got == Seq(
      (1L, 0L, a),
      (2L, 100L, rand(12, 45) + emojis(2) + emojis(0) + rand(15, 40))))
  }

  test("q126/q127 survive a planted hot gram (1e5 occurrences, no per-gram window)") {
    // A single 40-gram duplicated ~10^5 times corpus-wide — the
    // license-header/boilerplate shape that at 100 TB lands every
    // occurrence in ONE task if duplication is counted with a window
    // partitioned by gram. The skew-safe form (map-side-combined
    // groupBy(g) + join-back) must (a) produce the exact same answer
    // and (b) contain NO window partitioned on the gram column.
    val docs = graft.Tables.documents(spark, dir)
    def rand(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val n = 100000
    val hot = "x" * n                 // every 40-window = the same gram
    val clean = rand(11, 500)
    val rows = Seq((1L, hot), (2L, clean)).map { case (id, t) =>
      org.apache.spark.sql.Row(id, t, "en", "s", t.length.toLong)
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), docs.schema)
    val tmp = java.nio.file.Files.createTempDirectory("hotgram").toFile.getAbsolutePath
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    // no per-gram window in either physical plan
    for (q <- Seq(CorpusQueries.q126 _, CorpusQueries.q127 _)) {
      val plan = q(spark, tmp).queryExecution.executedPlan.toString
      val gramWindows = "windowspecdefinition\\(g#\\d".r.findAllIn(plan).toSeq
      assert(gramWindows.isEmpty,
        s"plan still contains a per-gram window: $gramWindows")
    }

    // q126: all n-39 positions of the hot doc are duplicated; the
    // interval union is the whole doc (first window 40 chars + one new
    // char per subsequent position). The clean doc reports zero.
    val cov = CorpusQueries.q126(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(cov == Seq((1L, (n - 39).toLong, n.toLong, 1.0),
      (2L, 0L, 0L, 0.0)))

    // q127: the canonical occurrence is (doc 1, p=1); positions
    // 2..n-39 are cut, merging to one island [2, n] — the rebuilt
    // text is the single uncovered char "x" at position 1.
    val cut = CorpusQueries.q127(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(cut == Seq((1L, (n - 1).toLong, "x"), (2L, 0L, clean)))
  }

  test("q51 scores: uniform-corpus doc scores ln(V), rarer tokens score higher") {
    val rows = CorpusQueries.q51(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 > 0)) // -ln p > 0 for p < 1
    // total tokens reported == corpus token count
    import org.apache.spark.sql.functions._
    val totalToks = graft.Tables.documents(spark, dir)
      .select(sum(size(graft.functions.TextFns.tokens(col("text")))))
      .head().getLong(0)
    assert(rows.map(_._3).sum == totalToks)
  }

  test("q52 funnel counts are monotone and conserve rows") {
    val rows = CorpusQueries.q52(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    rows.foreach { case (_, _, nIn, nKept, nDropped) =>
      assert(nKept <= nIn && nDropped == nIn - nKept)
    }
    // each stage's input is the previous stage's survivors
    rows.sliding(2).foreach {
      case Array((_, _, _, k1, _), (_, _, in2, _, _)) => assert(in2 == k1)
      case _ =>
    }
    assert(rows.head._3 == graft.Tables.documents(spark, dir).count())
  }

  test("q53 emits at most 3 per lang, ordered by length desc with id ties") {
    val rows = CorpusQueries.q53(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.length <= 3 && sorted.map(_._4).toSeq == (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array((_, id1, n1, _), (_, id2, n2, _)) =>
          assert(n1 > n2 || (n1 == n2 && id1 < id2))
        case _ =>
      }
    }
  }

  test("q54 is a permutation, deterministic, and epoch salts decorrelate") {
    val a = CorpusQueries.q54(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val b = CorpusQueries.q54(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(a.nonEmpty && a.sameElements(b)) // content-keyed, no RNG
    val n = a.length
    assert(a.map(_._3).sorted.toSeq == (1L to n).toSeq) // exact permutation
    // position order == shuffle_key order
    assert(a.sortBy(_._3).map(_._2).toSeq == a.map(_._2).sorted.toSeq)
  }

  test("q55 sketches stay within HLL/quantile error bounds of the exact values") {
    // the bound checks are IN the query now (oracle-checkable booleans,
    // VERDICT r10 #6): every group must report both sketches in-bound
    val rows = CorpusQueries.q55(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nTok, exactD, exactP50, hllOk, p50Ok) =>
      assert(exactD <= nTok)
      assert(exactP50 >= 0L)
      assert(hllOk, s"$src: HLL++ estimate outside 4*rsd of exact")
      assert(p50Ok, s"$src: approx p50 outside the [p49, p51] bracket")
    }
  }

  test("q58 cube totals are consistent across grouping levels") {
    val rows = CorpusQueries.q58(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    val grand = rows(("ALL", "ALL"))
    val byLang = rows.filter { case ((l, s), _) => l != "ALL" && s == "ALL" }
    val bySource = rows.filter { case ((l, s), _) => l == "ALL" && s != "ALL" }
    val fine = rows.filter { case ((l, s), _) => l != "ALL" && s != "ALL" }
    for (slice <- Seq(byLang, bySource, fine)) {
      assert(slice.values.map(_._1).sum == grand._1)
      assert(slice.values.map(_._2).sum == grand._2)
    }
  }

  test("q63 chunks tile with the configured overlap") {
    import org.apache.spark.sql.functions._
    val rows = CorpusQueries.q63(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val nTokens = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), size(graft.functions.TextFns.tokens(col("text"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (docId, chunks) =>
      val n = nTokens(docId)
      val sorted = chunks.sortBy(_._2)
      // indices are 0..k-1 with k = ceil(n/48); chunk i starts at i*48
      // and holds min(64, n - i*48) tokens; the last chunk ends at n
      assert(sorted.length == math.ceil(n / 48.0).toInt)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length.toLong))
      sorted.foreach { case (_, i, len) => assert(len == math.min(64L, n - i * 48)) }
      val (_, lastIdx, lastLen) = sorted.last
      assert(lastIdx * 48 + lastLen == n)
    }
  }

  test("PrefixSum counts NULL value cells as zero") {
    import spark.implicits._
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L))).toDF("id", "v")
    val got = graft.operators.PrefixSum
      .withRunningTotal(df, "id", "v", "cum", 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == Map(1L -> 5L, 2L -> 5L, 3L -> 12L))
  }

  test("q48 chunks tile the corpus: offsets contiguous, chunk ids consistent") {
    val rows = CorpusQueries.q48(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array((_, n1, s1, _, _), (_, _, s2, _, _)) => assert(s2 == s1 + n1)
      case _ =>
    }
    rows.foreach { case (_, n, s, first, last) =>
      assert(first == s / 2048 && last == (s + n - 1) / 2048 && first <= last)
    }
  }

  test("q49 mixing weights: shares sum to 1, weights equalize tokens") {
    val rows = CorpusQueries.q49(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9)
    val k = rows.length
    // weight_i * share_i == 1/k: weighted sampling equalizes token mass
    rows.foreach { case (_, _, share, w) =>
      assert(math.abs(w * share - 1.0 / k) < 1e-12)
    }
  }

  test("q44 repetition bounds: distinct <= total, max freq consistent") {
    val rows = CorpusQueries.q44(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (n, d, f) =>
      assert(d <= n && f >= 1 && f <= n - d + 1)
    }
  }

  test("q66 bloom prefilter is transparent: result identical to q47") {
    val bloom = CorpusQueries.q66(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = CorpusQueries.q47(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bloom == exact) // false positives must die in the verify join
  }

  test("q68 priority sample: k rows, deterministic, priority >= weight") {
    val a = CorpusQueries.q68(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = CorpusQueries.q68(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.length == 100 && a.sameElements(b)) // content-keyed, no RNG
    // priority = w/u with u in (0,1] → never below the weight itself
    a.foreach { case (_, w, p) => assert(p >= w.toDouble) }
    // ordering is (priority desc, doc_id asc)
    assert(a.sliding(2).forall { case Array(x, y) =>
      x._3 > y._3 || (x._3 == y._3 && x._1 < y._1) })
  }

  test("leakage audit: q46 splits never separate a near-dup pair; q42 splits do") {
    import org.apache.spark.sql.functions._
    val pairs = graft.operators.Dedup.minhashLsh(
        graft.Tables.documents(spark, dir), "doc_id", "text", 3, 0.7)
      .select(col("doc_a"), col("doc_b"))
    def crossSplit(splits: org.apache.spark.sql.DataFrame): Long =
      pairs
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .filter(col("sa") =!= col("sb")).count()
    // cluster-keyed split: one split per near-dup component, by construction
    assert(crossSplit(CorpusQueries.q46(spark, dir)) == 0L)
    // doc-keyed split (q42, inner-joined to ignore its sampling filter):
    // near-dup pairs DO straddle splits — the leakage q46 exists to stop.
    // (If the fixture ever stops producing a straddling pair, the q42 arm
    // proves nothing — guard that the pair set itself is non-trivial.)
    assert(pairs.count() > 0)
    val naive = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .join(CorpusQueries.q42(spark, dir).select("doc_id", "split"), "doc_id")
    // q42 samples docs away entirely; rebuild an unsampled doc-keyed split
    // with the same hash rule so every pair endpoint has a split.
    val split = substring(md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 2)
    val docKeyed = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(split < "0a", lit("test"))
          .when(split < "14", lit("val"))
          .otherwise(lit("train")).as("split"))
    assert(crossSplit(docKeyed) > 0L, "expected doc-keyed splits to leak")
    assert(naive.count() <= docKeyed.count())
  }

  test("q70 top pairs match a brute-force recomputation") {
    val got = CorpusQueries.q70(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val brute = graft.Tables.documents(spark, dir)
      .select("text").collect().map(_.getString(0))
      .flatMap { t =>
        val w = t.trim.toLowerCase.split("\\s+")
        w.iterator.zip(w.iterator.drop(1)).map { case (x, y) => s"$x $y" }
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(30)
    assert(got.length == 30 && got.sameElements(brute))
  }

  test("q177 curation pipeline: stage invariants survive composition") {
    // the oracle gate pins exact values; this pins the PROPERTIES the
    // chain must preserve end to end — the eval source never trains,
    // every kept doc passed the quality filter, kept texts are unique,
    // and the packed offsets tile contiguously in doc_id order
    val rows = CorpusQueries.q177(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 != "src0"), "eval-source doc in the training set")
    // deterministic: the hash-sampling keep rule has no RNG state
    val again = CorpusQueries.q177(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.sameElements(again))
    // every kept doc passed the q52 cascade and kept its token count
    val docs = graft.Tables.documents(spark, dir)
      .selectExpr("doc_id", "CAST(n_chars AS BIGINT)", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val seenTexts = scala.collection.mutable.Set[String]()
    rows.foreach { case (id, _, nt, _, _, _) =>
      val (nc, text) = docs(id)
      val w = text.trim.toLowerCase.split("\\s+")
      assert(w.length.toLong == nt)
      assert(nc >= 100 && w.length >= 25)
      val mean = nc.toDouble / w.length
      assert(mean >= 3.0 && mean <= 12.0)
      assert(w.distinct.length.toDouble / w.length >= 0.4)
      assert(seenTexts.add(text), s"duplicate text trained twice (doc $id)")
    }
    // packing tiles: offsets contiguous in doc_id order, chunk ids
    // derived from the span (q48's invariant, here post-composition)
    var cum = 0L
    rows.foreach { case (_, _, nt, start, first, last) =>
      assert(start == cum)
      assert(first == start / 1024)
      assert(last == (start + nt - 1) / 1024)
      cum += nt
    }
  }

  test("q179 importance resampling matches an exact BigDecimal brute recomputation") {
    // the oracle gate pins DuckDB parity; this pins the NUMERIC
    // CONTRACT independently of either engine: every score is an exact
    // decimal sum of dec6-rounded log-ratios, so a driver-side
    // BigDecimal replay must reproduce the distributed result
    // bit-for-bit (doubles included — they are casts of exact decimals)
    import java.math.{BigDecimal => JBD, RoundingMode}
    val B = 512L
    def dec6(x: Double): JBD =
      new JBD(x).setScale(6, RoundingMode.HALF_UP)
    val docs = graft.Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def buckets(t: String): Map[Long, Long] = {
      val w = t.trim.toLowerCase.split("\\s+")
      w.iterator.zip(w.iterator.drop(1))
        .map { case (x, y) =>
          java.lang.Math.floorMod(
            graft.functions.Hashing.md5Hash64(s"dsir:$x $y"), B) }
        .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val byDoc = docs.map { case (id, src, t) => (id, src, buckets(t)) }
    val ct = byDoc.filter(_._2 == "src0").flatMap(_._3).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    val cr = byDoc.filter(_._2 != "src0").flatMap(_._3).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    val (tt, tr) = (ct.values.sum, cr.values.sum)
    val lr = (0L until B).map { b =>
      val pt = (ct.getOrElse(b, 0L) + 1).toDouble / (tt + B.toDouble)
      val pr = (cr.getOrElse(b, 0L) + 1).toDouble / (tr + B.toDouble)
      b -> dec6(math.log(pt / pr))
    }.toMap
    val expected = byDoc.filter(_._2 != "src0").map { case (id, _, ks) =>
      val logw = ks.foldLeft(JBD.ZERO) { case (acc, (b, k)) =>
        acc.add(lr(b).multiply(JBD.valueOf(k))) }
      val u = (java.lang.Math.floorMod(
        graft.functions.Hashing.md5Hash64(s"gum:$id"), 1048576L) + 0.5) / 1048576.0
      val key = logw.add(dec6(-math.log(-math.log(u))))
      (id, logw, key)
    }.sortBy { case (id, _, key) => (key.negate, id) }(
      Ordering.Tuple2(Ordering.ordered[JBD], Ordering.Long)).take(100)
    val got = CorpusQueries.q179(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty && got.length == math.min(100, expected.length))
    got.zip(expected).zipWithIndex.foreach {
      case (((gid, glw, gkey, grk), (eid, elw, ekey)), i) =>
        assert(grk == i + 1)
        assert(gid == eid, s"rank ${i + 1}: doc $gid vs $eid")
        assert(glw == elw.doubleValue, s"doc $gid logw")
        assert(gkey == ekey.doubleValue, s"doc $gid key")
    }
  }

  test("q180 evalSubstringCut: exact offsets, 39-char precision boundary, island merge") {
    import spark.implicits._
    // a 60-char eval passage with no internal >= 40-char repetition
    val p60 = (0 until 60).map(i => ('a' + (i * 7 + i / 9) % 26).toChar).mkString
    assert(p60.length == 60)
    val p45 = (0 until 45).map(i => ('A' + (i * 11 + 3) % 26).toChar).mkString
    val evalDoc = s"EVALHEAD $p60 EVALTAIL $p45"
    val evalDup = "Z" * 10 + p45.reverse + "Y" * 10 // 65 chars, verbatim-dup'd below
    // train delimiters deliberately differ from the eval doc's spaces:
    // a shared boundary char would legitimately EXTEND the matched run
    // (the operator is char-exact), so exact-offset assertions need the
    // planted passage to be the entire shared run
    val docs = Seq(
      (1L, "eval", evalDoc),
      (2L, "eval", evalDup),
      // A: p60 embedded whole → ONE span at its exact offsets
      (10L, "train", s"train-a-prefix_${p60}_train-a-suffix"),
      // B: only 39 chars of p60 → ZERO cuts (precision at the boundary)
      (11L, "train", s"train-b-prefix_${p60.substring(0, 39)}_train-b-suffix"),
      // C: TWO disjoint copies of p45 → two separate spans
      (12L, "train", s"one_${p45}_mid-filler-text_${p45}_two"),
      // D: verbatim copy of a whole eval doc → one whole-doc span
      (13L, "train", evalDup),
      // E: shorter than 40 chars → no grams, no rows
      (14L, "train", p60.substring(0, 30))
    ).toDF("doc_id", "source", "text")
    val cuts = graft.operators.Dedup
      .evalSubstringCut(docs, "doc_id", "text",
        org.apache.spark.sql.functions.col("source") === "eval", minLen = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    val byDoc = cuts.groupBy(_._1)
    // A: exact offsets of the full 60-char run (1-based, end-exclusive)
    val aStart = "train-a-prefix_".length + 1L
    assert(byDoc(10L).toSeq == Seq((10L, aStart, aStart + 60)))
    // B: 39 shared chars — below the contract — must NOT be cut
    assert(!byDoc.contains(11L), s"39-char overlap cut: ${byDoc.get(11L)}")
    // C: two disjoint islands, each exactly the 45-char copy
    val c1 = "one_".length + 1L
    val c2 = s"one_${p45}_mid-filler-text_".length + 1L
    assert(byDoc(12L).toSeq == Seq((12L, c1, c1 + 45), (12L, c2, c2 + 45)))
    // D: the whole doc is one merged span
    assert(byDoc(13L).toSeq == Seq((13L, 1L, evalDup.length + 1L)))
    // E: too short to overlap >= 40 chars
    assert(!byDoc.contains(14L))
    // eval docs are never cut (they are the reference side)
    assert(!byDoc.contains(1L) && !byDoc.contains(2L))
  }

  test("q180 on testdata is deterministic and spans are disjoint, >= 40 chars, in-bounds") {
    val rows = CorpusQueries.q180(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val again = CorpusQueries.q180(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sameElements(again))
    val lens = graft.Tables.documents(spark, dir)
      .selectExpr("doc_id", "length(text)").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    rows.foreach { case (id, s0, e0) =>
      assert(e0 - s0 >= 40, s"doc $id span [$s0,$e0) below the contract")
      assert(s0 >= 1 && e0 <= lens(id) + 1, s"doc $id span [$s0,$e0) out of bounds")
    }
    rows.groupBy(_._1).values.foreach { spans =>
      spans.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) => assert(e1 < s2, "overlapping spans")
        case _ =>
      }
    }
  }
}

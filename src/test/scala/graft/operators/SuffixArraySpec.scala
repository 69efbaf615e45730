package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Prefix-doubling (Larsson–Sadakane refined) suffix array vs a
  * driver-side brute sort, the two-pass head rank vs brute (including
  * keys split across partition boundaries), exact adjacent-pair LCPs,
  * and partition-count invariance of every rank.
  */
class SuffixArraySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Brute reference: global suffix order (string, doc_id, p). */
  private def bruteSa(docs: Seq[(Long, String)]): Seq[(Long, Long, Long)] =
    docs.flatMap { case (id, t) =>
      (1 to t.length).map(p => (t.substring(p - 1), id, p.toLong))
    }.sortBy { case (s, id, p) => (s, id, p) }
      .zipWithIndex
      .map { case ((_, id, p), i) => (i + 1L, id, p) }

  private def bruteLcp(a: String, b: String): Long = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    i.toLong
  }

  private def withSaPath[A](path: String)(body: => A): A = {
    val prev = System.getProperty("graft.sa.path")
    System.setProperty("graft.sa.path", path)
    try body
    finally {
      if (prev == null) System.clearProperty("graft.sa.path")
      else System.setProperty("graft.sa.path", prev)
    }
  }

  /** Defaults to the DISTRIBUTED doubling path: the adaptive dispatch
    * (r18) sends every spec-sized corpus to the single-task path, which
    * would silently drop the distributed rounds from spec coverage; the
    * cross-path parity test below covers the single-task form against
    * the same brute reference.
    */
  private def buildSa(docs: Seq[(Long, String)], parts: Int,
                      path: String = "distributed") = {
    import spark.implicits._
    withSaPath(path) {
      SuffixArray.build(docs.toDF("doc_id", "text"), numPartitions = parts)
    }
  }

  test("matches the brute suffix order on a duplicated-passage corpus") {
    val docs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with the quick brown fox inside",
      2L -> "banana bandana banana",
      3L -> "aaaaaaaa")
    val got = buildSa(docs, 3).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getInt(1).toLong)).sorted
    assert(got.toSeq == bruteSa(docs))
  }

  test("single-task and distributed builds agree with brute across corpora") {
    // duplicated passages, byte-equal whole-suffix ties, empty docs,
    // 8-bit-clean accents (packed 7-char start key), and BMP CJK (the
    // k0 = 1 wide-char fallback) — every dispatch regime of the local
    // kernel against the same brute reference the distributed path pins
    val corpora = Seq(
      Seq(0L -> "the quick brown fox jumps over the lazy dog",
        1L -> "pack my box with the quick brown fox inside",
        2L -> "banana bandana banana", 3L -> "aaaaaaaa", 4L -> ""),
      Seq(0L -> "xyz end", 1L -> "abc end", 2L -> "end", 3L -> "end"),
      Seq(5L -> "héllo wörld shared tail", 6L -> "shared tail",
        7L -> "ascii only text"),
      Seq(8L -> "世界 abc 世界", 9L -> "abc 世"))
    corpora.foreach { docs =>
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(2), r.getLong(0), r.getInt(1).toLong)).sorted.toSeq
      val loc = canon(buildSa(docs, 3, path = "local"))
      val dist = canon(buildSa(docs, 2, path = "distributed"))
      assert(loc == dist, s"path divergence on $docs")
      assert(loc == bruteSa(docs), s"brute divergence on $docs")
    }
  }

  test("byte-equal suffixes across docs tie-break by (doc_id, p)") {
    val docs = Seq(0L -> "xyz end", 1L -> "abc end", 2L -> "end")
    val got = buildSa(docs, 2).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getInt(1).toLong)).sorted
    assert(got.toSeq == bruteSa(docs))
  }

  test("adjacent LCPs are exact, including full-suffix and zero cases") {
    val docs = Seq(
      0L -> "abcabcabcx",
      1L -> "zzabcabcq",
      2L -> "qrs")
    val saDf = buildSa(docs, 3)
    import spark.implicits._
    val got = SuffixArray.adjacentLcp(saDf, docs.toDF("doc_id", "text"))
      .collect()
      .map(r => ((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)), r.getLong(0)))
      .toSet
    val text = docs.toMap
    val sa = bruteSa(docs)
    val expected = sa.zip(sa.tail).map { case ((_, da, pa), (_, db, pb)) =>
      ((da, pa), (db, pb),
        bruteLcp(text(da).substring(pa.toInt - 1), text(db).substring(pb.toInt - 1)))
    }.toSet
    assert(got == expected)
  }

  test("ranks are partition-count invariant") {
    val docs = Seq(
      0L -> "repeat repeat repeat repeat",
      1L -> "repeat repeat something else",
      2L -> "wholly different text")
    val a = buildSa(docs, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val b = buildSa(docs, 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(a == b)
  }

  test("headRank numbers group heads across partition boundaries") {
    import spark.implicits._
    // one heavy key guaranteed to straddle range partitions
    val keys = Seq.fill(40)(5L) ++ Seq(1L, 1L, 9L, 9L, 9L, 3L)
    val rows = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
    val df = rows.toDF("gid", "k").repartition(5)
    val ranked = SuffixArray.headRank(df, 5)
    val got = ranked.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // sorted: 1,1,3,5×40,9,9,9 → heads at rows 1, 3, 4, 44
    val expected = rows.map { case (gid, k) =>
      gid -> (k match {
        case 1L => 1L; case 3L => 3L; case 5L => 4L; case 9L => 44L
      })
    }.toMap
    assert(got == expected)
  }

  test("single-task, broadcast-text and hash-walk LCP paths agree exactly") {
    val docs = Seq(
      0L -> "shared shared shared prefix tail one",
      1L -> "shared shared shared prefix tail two",
      2L -> "entirely different words here",
      3L -> "shared shared shared prefix tail one")
    import spark.implicits._
    val ddf = docs.toDF("doc_id", "text")
    val sa = SuffixArray.build(ddf, numPartitions = 3).localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    val viaText = canon(SuffixArray.lcpByBroadcastText(sa, ddf, "doc_id", "text"))
    val viaHash = canon(SuffixArray.lcpByHashWalk(sa, ddf, "doc_id", "text", 3))
    val viaLocal = canon(SuffixArray.lcpBySingleTask(sa, ddf, "doc_id", "text", 3))
    assert(viaText == viaHash)
    assert(viaLocal == viaText)
    assert(viaText.nonEmpty)
    // brute cross-check: every adjacent pair's LCP from direct compare
    val text = docs.toMap
    val saSeq = bruteSa(docs)
    val expected = saSeq.zip(saSeq.tail).map { case ((_, da, pa), (_, db, pb)) =>
      (bruteLcp(text(da).substring(pa.toInt - 1), text(db).substring(pb.toInt - 1)),
        da, pa, db, pb)
    }.sorted.toSeq
    assert(viaLocal == expected)
  }

  test("single-task LCP matches brute on a dup-degenerate corpus (Kasai bound)") {
    // whole-document duplicates + overlapping self-repeats + full-prefix
    // suffixes: the cases where the carried h bound must stay exact
    val docs = Seq(
      0L -> "abababababababab",
      1L -> "abababababababab",
      2L -> "ab", 3L -> "abab", 4L -> "ba", 5L -> "x")
    import spark.implicits._
    val ddf = docs.toDF("doc_id", "text")
    val sa = SuffixArray.build(ddf, numPartitions = 2).localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    val text = docs.toMap
    val saSeq = bruteSa(docs)
    val expected = saSeq.zip(saSeq.tail).map { case ((_, da, pa), (_, db, pb)) =>
      (bruteLcp(text(da).substring(pa.toInt - 1), text(db).substring(pb.toInt - 1)),
        da, pa, db, pb)
    }.sorted.toSeq
    assert(canon(SuffixArray.lcpBySingleTask(sa, ddf, "doc_id", "text", 2))
      == expected)
  }

  test("empty-text docs contribute no suffix (build and both LCP paths)") {
    val docs = Seq(
      0L -> "", // would emit spurious [1, 0] positions without the guard
      1L -> "abab",
      2L -> "",
      3L -> "abx")
    val got = buildSa(docs, 2).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getInt(1).toLong)).sorted
    assert(got.toSeq == bruteSa(docs)) // bruteSa skips empty docs: 1 to 0 is empty
    import spark.implicits._
    val ddf = docs.toDF("doc_id", "text")
    val sa = buildSa(docs, 2).localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    val viaText = canon(SuffixArray.lcpByBroadcastText(sa, ddf, "doc_id", "text"))
    val viaHash = canon(SuffixArray.lcpByHashWalk(sa, ddf, "doc_id", "text", 2))
    assert(viaText == viaHash)
    assert(viaText.size == 6) // 7 suffixes → 6 adjacent pairs
  }

  test("an all-empty corpus builds an empty suffix array") {
    assert(buildSa(Seq(0L -> "", 1L -> ""), 2).count() == 0L)
  }

  test("hash walk with no adjacent pairs returns an empty LCP frame (sidecar never written)") {
    // one 1-char doc → exactly one suffix → zero adjacent pairs → the
    // walk loop never runs and no parquet part ever lands in the done
    // sidecar; the fallback empty frame must still carry the LCP schema
    import spark.implicits._
    val ddf = Seq(0L -> "x").toDF("doc_id", "text")
    val sa = SuffixArray.build(ddf, numPartitions = 2).localCheckpoint()
    val lcp = SuffixArray.lcpByHashWalk(sa, ddf, "doc_id", "text", 2)
    assert(lcp.columns.toSet ==
      Set("lcp", "doc_a", "p_a", "doc_b", "p_b"))
    assert(lcp.count() == 0L)
  }

  test("save/load round-trips the suffix array and prunes rank ranges at file level") {
    val docs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with the quick brown fox inside")
    val sa = buildSa(docs, 3)
    val dir = java.nio.file.Files.createTempDirectory("sa").toString
    SuffixArray.save(sa, dir, numPartitions = 4)
    val loaded = SuffixArray.load(spark, dir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(r.fieldIndex("sa_rank")), r.getLong(r.fieldIndex("doc_id")),
        r.getInt(r.fieldIndex("p")))).sorted.toSeq
    assert(canon(loaded) == canon(sa))
    // the range layout: 4 files, rank intervals disjoint — a rank-range
    // probe must touch fewer files than the full scan
    import org.apache.spark.sql.functions._
    val files = loaded.filter(col("sa_rank") <= 5)
      .select(input_file_name()).distinct().count()
    assert(files == 1L, s"rank-range probe touched $files files")
  }

  test("cached SA build: one shared materialization per (session, key)") {
    import spark.implicits._
    val docs = Seq(0L -> "cache me once", 1L -> "cache me twice")
    val ddf = docs.toDF("doc_id", "text")
    def cachedSa(corpus: String) = SuffixArray.cached(spark,
      SuffixArray.saKey(corpus))(SuffixArray.build(ddf))
    val a = cachedSa("spec-corpus-A")
    val b = cachedSa("spec-corpus-A")
    assert(a eq b) // the second probe must NOT re-run the doubling build
    val fresh = cachedSa("spec-corpus-B")
    assert(!(fresh eq a))
    val got = a.collect().map(r => (r.getLong(2), r.getLong(0), r.getInt(1).toLong))
      .sorted.toSeq
    assert(got == bruteSa(docs))
  }

  test("dedupCut spans cover planted repeats in every occurrence and merge overlaps") {
    // a 20-char passage planted in docs 0, 1, and twice in doc 2
    // (overlapping occurrences at p=1 and p=11 must merge into one span)
    val pass = "0123456789abcdefghij" // 20 chars
    val docs = Seq(
      0L -> s"xx$pass yy",
      1L -> s"zzz $pass www",
      2L -> (pass.take(10) + pass + " tail"),
      3L -> "completely unique content here")
    import spark.implicits._
    val ddf = docs.toDF("doc_id", "text")
    val sa = SuffixArray.build(ddf, numPartitions = 2)
    val cuts = SuffixArray.dedupCut(sa, ddf, minLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toList
    // brute reference: for every position, longest substring starting
    // there that occurs elsewhere in the corpus (other position or doc)
    val all = docs.toMap
    def longestRepeat(d: Long, p: Int): Int = {
      val t = all(d)
      var best = 0
      for ((d2, t2) <- docs; q <- 1 to t2.length if (d2, q) != (d, p)) {
        var l = 0
        while (p - 1 + l < t.length && q - 1 + l < t2.length &&
          t.charAt(p - 1 + l) == t2.charAt(q - 1 + l)) l += 1
        best = math.max(best, l)
      }
      best
    }
    val expected = docs.flatMap { case (d, t) =>
      val spans = (1 to t.length).flatMap { p =>
        val l = longestRepeat(d, p)
        if (l >= 20) Some((p.toLong, p + l.toLong)) else None
      }
      // interval union
      spans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case (acc, (s, e)) => acc match {
          case (ps, pe) :: rest if s <= pe => (ps, math.max(pe, e)) :: rest
          case _ => (s, e) :: acc
        }
      }.reverse.map { case (s, e) => (d, s, e) }
    }.sortBy(t => (t._1, t._2)).toList
    assert(cuts == expected)
    assert(cuts.map(_._1).toSet == Set(0L, 1L, 2L)) // doc 3 untouched
    assert(cuts.count(_._1 == 2L) == 1) // overlapping occurrences merged
  }

  test("equal start keys split across range partitions (dup-degenerate ceiling)") {
    import spark.implicits._
    // the adversarial case for a DEDUP engine: a corpus that is mostly
    // one template. Before the (k, gid) secondary range key, every copy
    // of the template's start key landed in ONE partition — the r13
    // 100x-tier OOM no partition count could fix.
    val n = 5000
    val oneKey = (0 until n).map(i => (i.toLong, "identical-template-start-key"))
    val layout = SuffixArray.rangeByKeyGid(oneKey.toDF("gid", "k"), 8)
    val sizes = layout.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.sum == n)
    // a single-key table must SPREAD: the old layout put all n rows in
    // one partition; the secondary gid key caps the hottest partition
    // near n / 8 (range sampling is approximate — allow 2x slack)
    assert(sizes.max <= n / 8 * 2,
      s"hot partition holds ${sizes.max} of $n rows: ${sizes.toList}")
  }

  test("an all-equal-template corpus builds correctly while equal keys split") {
    // 90%-one-template corpus: 270 identical docs + 30 distinct ones.
    // Every suffix of the template repeats 270x, so ALL its start keys
    // are equal and the final tie-break groups are 270 deep — the
    // degenerate shape the (k, gid) split exists for. Brute parity
    // proves the split + continuation fold + residual tie-break agree
    // with the single-machine ground truth.
    val template = "all work and no play makes a dull corpus"
    val docs = (0 until 270).map(i => (i.toLong, template)) ++
      (0 until 30).map(i => ((1000 + i).toLong, s"unique filler number $i"))
    val got = buildSa(docs, 8).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getInt(1).toLong)).sorted
    assert(got.toSeq == bruteSa(docs))
  }

  test("sharded cut with one shard IS the global kernel, bit for bit") {
    val pass = "0123456789abcdefghij" // the dedupCut spec's corpus
    val docs = Seq(
      0L -> s"xx$pass yy",
      1L -> s"zzz $pass www",
      2L -> (pass.take(10) + pass + " tail"),
      3L -> "completely unique content here")
    import spark.implicits._
    val ddf = docs.toDF("doc_id", "text")
    val sa = SuffixArray.build(ddf, numPartitions = 2)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val global = canon(SuffixArray.dedupCut(sa, ddf, minLen = 20))
    val sharded = canon(SuffixArray.shardedDedupCut(ddf, minLen = 20, nShards = 1))
    assert(sharded == global)
    assert(sharded.nonEmpty)
  }

  test("sharded cut misses EXACTLY the cross-shard pairs; identical docs always co-shard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val nShards = 4
    // 48 planted pairs: pair i shares a 28-char passage unique to the
    // pair, with the id interleaved every 8 chars so any 20-char
    // window contains it (cross-pair common substrings stay under
    // minLen) and with NO internal repeat >= 20 (an in-doc self-repeat
    // would cut the doc regardless of sharding); fillers are unique
    // per doc with shared prefixes < 20 chars
    val nPairs = 48
    def passage(i: Int) = f"$i%04dabcdefgh$i%04dijklmnop$i%04d"
    val pairDocs = (0 until nPairs).flatMap { i =>
      Seq((2L * i, f"lpad $i%04dA ${passage(i)}rpad $i%04dA"),
        (2L * i + 1, f"lpad $i%04dB ${passage(i)}rpad $i%04dB"))
    }
    // plus 3 byte-identical whole-doc duplicates: content keying MUST
    // co-shard them — sharding never misses exact whole-doc dups
    val cloneTxt = "whole document duplicated verbatim three times over"
    val clones = Seq(900L, 901L, 902L).map(_ -> cloneTxt)
    val docs = pairDocs ++ clones
    val ddf = docs.toDF("doc_id", "text")
    val shardOf = ddf
      .select(col("doc_id"), (SuffixArray.shardOfText(col("text")) % nShards).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(shardOf(900L), shardOf(901L), shardOf(902L)).size == 1)
    val cuts = SuffixArray.shardedDedupCut(ddf, minLen = 20, nShards = nShards)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val covered: Set[Long] = cuts.map(_._1).toSet
    val (sameShard, crossShard) = (0 until nPairs).partition(i =>
      shardOf(2L * i) == shardOf(2L * i + 1))
    // found set == same-shard set: every within-shard planted pair is
    // cut in BOTH docs, every cross-shard pair is missed in both —
    // the boundary-miss envelope is exactly the shard boundary
    sameShard.foreach { i =>
      assert(covered.contains(2L * i) && covered.contains(2L * i + 1),
        s"within-shard pair $i not cut")
    }
    crossShard.foreach { i =>
      assert(!covered.contains(2L * i) && !covered.contains(2L * i + 1),
        s"cross-shard pair $i should be a documented boundary miss")
    }
    // clones are whole-doc covered (span = the full text)
    Seq(900L, 901L, 902L).foreach { d =>
      val span = cuts.filter(_._1 == d)
      assert(span.length == 1 && span.head._2 == 1L &&
        span.head._3 == cloneTxt.length + 1L, s"clone $d spans: ${span.toList}")
    }
    // measured boundary-miss rate: binomial(nPairs, 3/4) — with 48
    // pairs the ±3σ band is ~[0.56, 0.94]; a rate outside it means the
    // content-keyed assignment isn't uniform
    val missRate = crossShard.size.toDouble / nPairs
    info(f"boundary-miss rate at $nShards shards: $missRate%.3f " +
      f"(${crossShard.size}/$nPairs cross-shard)")
    assert(missRate >= 0.5 && missRate <= 0.95, f"miss rate $missRate%.3f")
  }

  test("autoShards sizes shards to the walk working-set envelope") {
    val sumLen = 1500000000L // the 100x-tier corpus scale
    val maxLen = 553
    val need = SuffixArray.walkWorkingSetBytes(sumLen, maxLen)
    // formula shape: hv (16B keys + 8B/level) + 2.5x pair bytes
    val maxJ = 63 - java.lang.Long.numberOfLeadingZeros(maxLen.toLong)
    assert(need == sumLen * (16L + 8L * (maxJ + 1)) + sumLen * 72L * 5 / 2)
    // ceil division against the budget; 1 when the corpus already fits
    val budget = 10L << 30
    assert(SuffixArray.autoShards(sumLen, maxLen, budget) ==
      ((need + budget - 1) / budget).toInt)
    assert(SuffixArray.autoShards(sumLen, maxLen, need) == 1)
    assert(SuffixArray.autoShards(sumLen, maxLen, need / 2 + 1) == 2)
    // halving the budget never less than doubles-minus-one the count
    val s1 = SuffixArray.autoShards(sumLen, maxLen, budget)
    val s2 = SuffixArray.autoShards(sumLen, maxLen, budget / 2)
    assert(s2 >= 2 * s1 - 1)
    // linear in chars: double the corpus, same budget => ~double shards
    val d = SuffixArray.autoShards(2 * sumLen, maxLen, budget)
    assert(d >= 2 * s1 - 1 && d <= 2 * s1 + 1)
  }

  test("shard counts past the content-key width fail loudly, not silently") {
    // the key decodes four md5 hex digits -> 65536 realizable shards;
    // a larger count would leave shards >= 65536 silently empty and
    // break the one-shard envelope (r16 ADVICE) — both entry points
    // must refuse
    val sumLen = 1500000000L
    val maxLen = 553
    val need = SuffixArray.walkWorkingSetBytes(sumLen, maxLen)
    assert(SuffixArray.MaxShards == 65536)
    // a budget small enough to demand > 65536 shards throws
    val tiny = need / (SuffixArray.MaxShards.toLong + 1)
    val e1 = intercept[IllegalArgumentException] {
      SuffixArray.autoShards(sumLen, maxLen, tiny)
    }
    assert(e1.getMessage.contains("MaxShards") ||
      e1.getMessage.contains("65536"))
    // at the ceiling itself it still sizes
    assert(SuffixArray.autoShards(sumLen, maxLen,
      (need + SuffixArray.MaxShards - 1) / SuffixArray.MaxShards)
      <= SuffixArray.MaxShards)
    import spark.implicits._
    val ddf = Seq(1L -> "text").toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      SuffixArray.shardedDedupCut(ddf, minLen = 20,
        nShards = SuffixArray.MaxShards + 1)
    }
    assert(e2.getMessage.contains("65536"))
  }

  test("shardOfText decodes four hex digits — keys above 255 are realized") {
    // the r16 ADVICE defect: a two-digit key silently capped the shard
    // space at 256. Pin the widened key's range on a deterministic
    // corpus: with 4000 texts, P(all 4-digit keys < 256) = (1/256)^4000
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ddf = (0 until 4000).map(i => (i.toLong, s"width probe text $i"))
      .toDF("doc_id", "text")
    val keys = ddf.select(SuffixArray.shardOfText(col("text")).as("k"))
      .collect().map(_.getLong(0))
    assert(keys.forall(k => k >= 0 && k < SuffixArray.MaxShards))
    assert(keys.max >= 256, s"max key ${keys.max} never left the old 2-digit range")
    assert(keys.distinct.length > 1000) // spread, not a handful of buckets
  }

  test("sharded cut under graft.lcp.path=hash equals the auto path") {
    // spec-sized shards dispatch the single-task LCP kernel; forcing
    // graft.lcp.path=hash keeps the hash walk — its per-round
    // checkpoint release and done-sidecar cleanup inside the per-shard
    // loop — under a spec against the same rows
    val nPairs = 12
    def passage(i: Int) = f"$i%04dabcdefgh$i%04dijklmnop$i%04d"
    val docs = (0 until nPairs).flatMap { i =>
      Seq((2L * i, f"hlpad $i%04dA ${passage(i)}hrpad $i%04dA"),
        (2L * i + 1, f"hlpad $i%04dB ${passage(i)}hrpad $i%04dB"))
    } ++ Seq(910L, 911L).map(_ -> "hash path whole doc duplicated verbatim")
    import spark.implicits._
    val ddf = docs.toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val auto = canon(SuffixArray.shardedDedupCut(ddf, minLen = 20, nShards = 4))
    val prev = System.getProperty("graft.lcp.path")
    System.setProperty("graft.lcp.path", "hash")
    val hash =
      try canon(SuffixArray.shardedDedupCut(ddf, minLen = 20, nShards = 4))
      finally {
        if (prev == null) System.clearProperty("graft.lcp.path")
        else System.setProperty("graft.lcp.path", prev)
      }
    assert(hash == auto)
    assert(auto.nonEmpty)
  }

  test("cached sharded cut: consumers ride one kernel; invalidate refreshes") {
    val docs = Seq(
      0L -> "xx0123456789abcdefghij yy",
      1L -> "zzz 0123456789abcdefghij www",
      2L -> "totally unique content")
    import spark.implicits._
    val ddf = docs.toDF("doc_id", "text")
    val key = SuffixArray.shardedCutKey("spec-corpus", minLen = 20, nShards = 4)
    def cachedCut() = SuffixArray.cached(spark, key)(
      SuffixArray.shardedDedupCut(ddf, minLen = 20, nShards = 4))
    SuffixArray.invalidate(spark, key)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val first = cachedCut()
    val second = cachedCut()
    // cache hit: the SAME materialized frame instance, not a re-run
    assert(first eq second)
    val firstRows = canon(first) // snapshot BEFORE invalidate frees its blocks
    assert(firstRows ==
      canon(SuffixArray.shardedDedupCut(ddf, minLen = 20, nShards = 4)))
    SuffixArray.invalidate(spark, key)
    val third = cachedCut()
    assert(!(third eq first) && canon(third) == firstRows)
    SuffixArray.invalidate(spark, key)
  }

  test("cross-shard cut covers EVERY planted pair; sharded tier alone misses " +
      "the boundary pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val nShards = 4
    // pairs share a 55-CHAR passage (>= minLen 20 + winnowW 8 - 1 = 27:
    // the winnowing guarantee applies, and the SA tier cuts it
    // within-shard); every token carries the pair id so cross-pair
    // shared substrings stay short
    val nPairs = 24
    def passage(i: Int) =
      f"aa$i%04d bb$i%04d cc$i%04d dd$i%04d ee$i%04d ff$i%04d gg$i%04d hh$i%04d"
    val docs = (0 until nPairs).flatMap { i =>
      Seq((2L * i, f"w$i%04dA x$i%04dA ${passage(i)} y$i%04dA z$i%04dA"),
        (2L * i + 1, f"w$i%04dB x$i%04dB ${passage(i)} y$i%04dB z$i%04dB"))
    }
    val ddf = docs.toDF("doc_id", "text")
    val shardOf = ddf
      .select(col("doc_id"), (SuffixArray.shardOfText(col("text")) % nShards).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (sameShard, crossShard) = (0 until nPairs).partition(i =>
      shardOf(2L * i) == shardOf(2L * i + 1))
    assume(crossShard.nonEmpty) // 24 pairs at 4 shards: P(none cross) ~ 1e-14
    val shardedOnly = SuffixArray.shardedDedupCut(ddf, minLen = 20,
      nShards = nShards)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val full = SuffixArray.crossShardDedupCut(ddf, minLen = 20,
      nShards = nShards, winnowW = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val coveredSharded = shardedOnly.map(_._1).toSet
    val coveredFull = full.map(_._1).toSet
    // the sharded tier finds exactly the within-shard pairs…
    sameShard.foreach(i => assert(coveredSharded(2L * i) && coveredSharded(2L * i + 1)))
    crossShard.foreach(i => assert(!coveredSharded(2L * i) && !coveredSharded(2L * i + 1)))
    // …the winnow union covers EVERY pair — recall 1.0 on planted
    // pairs, strictly above the sharded tier's within-shard bound
    (0 until nPairs).foreach { i =>
      assert(coveredFull(2L * i) && coveredFull(2L * i + 1),
        s"pair $i not covered by the cross-shard union")
    }
    assert(coveredFull.size > coveredSharded.size)
    // the cross-shard spans actually land ON the passage: prefix
    // "wNNNNA xNNNNA " is 14 chars, so the passage occupies [15, 70)
    crossShard.foreach { i =>
      Seq(2L * i, 2L * i + 1).foreach { d =>
        assert(full.exists(c => c._1 == d && c._2 < 70 && c._3 > 15),
          s"no span overlapping the planted passage in doc $d")
      }
    }
    // sharded spans are a subset of the union's coverage (islands may
    // merge/extend, never lose covered chars)
    shardedOnly.foreach { case (d, s, e) =>
      assert(full.exists(c => c._1 == d && c._2 <= s && c._3 >= e),
        s"sharded span ($d,$s,$e) not contained in the union")
    }
  }

  test("input-scan bytes stay FLAT as nShards grows (one-pass materialization)") {
    // the r16 verdict's one scale-killer: the shard loop re-scanned the
    // full corpus once per shard — input bytes LINEAR in nShards, an
    // O(nShards × corpus) read term. With the one-pass shard-partitioned
    // materialization, each shard reads only its own partition, so total
    // source-scan bytes are ~(1 materialization + k per-shard passes) ×
    // corpus regardless of nShards. Pin it: 8 shards must not read more
    // than ~1.8× what 2 shards read (the old code read 4×).
    import spark.implicits._
    val docs = (0 until 600).map(i =>
      (i.toLong, s"document body number $i " + ("shared filler words " * 8) + i))
    val dir = java.nio.file.Files.createTempDirectory("graft_flat_input").toFile
    val listener = new graft.ShuffleBytesListener
    spark.sparkContext.addSparkListener(listener)
    try {
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(dir.getAbsolutePath)
      val src = spark.read.parquet(dir.getAbsolutePath)
      // listener events are async: read the counter only once it has
      // been stable for ~0.5 s
      def stable(): Long = {
        var prev = listener.inputBytes.get(); var same = 0
        while (same < 5) {
          Thread.sleep(100)
          val cur = listener.inputBytes.get()
          if (cur == prev) same += 1 else { same = 0; prev = cur }
        }
        prev
      }
      def measure(n: Int): Long = {
        val start = stable()
        SuffixArray.shardedDedupCut(src, minLen = 20, nShards = n).count()
        stable() - start
      }
      val at2 = measure(2)
      val at8 = measure(8)
      assert(at2 > 0)
      val ratio = at8.toDouble / at2
      info(f"input bytes: 2 shards $at2, 8 shards $at8, ratio $ratio%.2f")
      assert(ratio < 1.8,
        f"input scans grew with nShards (ratio $ratio%.2f) - the per-shard " +
          "corpus re-scan is back")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("winnowed char-gram spans are self-consistent with the text") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "alpha beta gamma delta epsilon zeta eta theta extra tail"
    val L = 20
    val spans = graft.functions.Hashing.winnowedCharGramSpans(text, L, 8)
    assert(spans.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    spans.foreach { case (fp, s, e) =>
      // every span is exactly one gram: the cut grain IS gramLen
      assert(e - s == L, s"span [$s,$e) is not $L chars")
      val gram = text.substring(s.toInt - 1, e.toInt - 1)
      val dig = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.reset()
      val hex = dig.map(b => f"$b%02x").mkString
      assert(hex == fp, s"fingerprint mismatch at [$s,$e): '$gram'")
    }
    // the duplicated 46-char run ("alpha … theta " twice) exceeds
    // L + w − 1 = 27, so the winnowing guarantee forces a common
    // selection: at least one fingerprint recurs at two distinct spans
    val byFp = spans.groupBy(_._1)
    assert(byFp.exists(_._2.length >= 2))
  }

  test("winnow tier precision: a recurring phrase below minLen is NEVER cut " +
      "(planted clean corpus, false-cut rate 0) while a long run still is") {
    // r17 verdict #1: the old k-token grain cut ~20-char grams against
    // a 40-char contract — a common short phrase was sliced out of
    // every doc containing it. With the gram length = minLen, a cut
    // span IS a provably recurring minLen-char substring, so the
    // planted CLEAN corpus (a shared 19-char phrase, everything else
    // unique — max shared run 21 chars with the flanking spaces) must
    // produce ZERO cuts, and the control pair's 44-char shared passage
    // (≥ minLen + w − 1 = 37) must still be cut in both copies.
    import spark.implicits._
    val minLen = 30
    val phrase = "the quick brown fox" // 19 chars < minLen
    val clean = (0 until 12).map { i =>
      i.toLong -> f"u$i%04d v$i%04d $phrase w$i%04d x$i%04d y$i%04d z$i%04d"
    }
    val passage = "exactly forty five characters shared run xyz" // 44 chars
    val ctl = Seq(
      100L -> s"aaa0100 bbb0100 $passage ccc0100",
      101L -> s"ddd0101 eee0101 $passage fff0101")
    val texts = (clean ++ ctl).toMap
    val ddf = (clean ++ ctl).toDF("doc_id", "text")
    val w = graft.operators.Dedup
      .winnowedCharSpans(ddf, "doc_id", "text", minLen, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val falseCuts = w.filter(_._1 < 100L)
    assert(falseCuts.isEmpty,
      s"false cuts on the clean corpus: ${falseCuts.mkString(", ")}")
    assert(w.exists(_._1 == 100L) && w.exists(_._1 == 101L),
      "the >= minLen+w-1 control passage was not cut in both copies")
    // precision 1.0 by construction: every emitted span is an exactly-
    // minLen-char substring that occurs >= 2 times in the corpus
    w.foreach { case (d, s, e) =>
      assert(e - s == minLen)
      val sub = texts(d).substring(s.toInt - 1, e.toInt - 1)
      val occ = texts.valuesIterator.map { t =>
        var c = 0; var idx = t.indexOf(sub)
        while (idx >= 0) { c += 1; idx = t.indexOf(sub, idx + 1) }
        c
      }.sum
      assert(occ >= 2, s"cut span [$s,$e) of doc $d does not recur: '$sub'")
    }
    // the full cross-shard union inherits the precision: no clean doc
    // is touched, both control docs are covered
    val full = SuffixArray
      .crossShardDedupCut(ddf, minLen = minLen, nShards = 4, winnowW = 8)
      .collect().map(_.getLong(0)).toSet
    assert(!full.exists(_ < 100L), s"union cut clean docs: $full")
    assert(full == Set(100L, 101L))
  }

  test("longest duplicated substring surfaces a planted cross-doc passage") {
    val planted = "this exact passage was planted twice in the corpus"
    val docs = Seq(
      0L -> s"lead text $planted trailing words",
      1L -> s"other document containing $planted and more",
      2L -> "unrelated filler content with no duplication at all")
    import spark.implicits._
    val ddf = docs.toDF("doc_id", "text")
    val sa = SuffixArray.build(ddf, numPartitions = 3)
    val top = SuffixArray.adjacentLcp(sa, ddf)
      .orderBy(org.apache.spark.sql.functions.desc("lcp"))
      .limit(1).collect().head
    // the longest duplicated substring is the planted passage plus the
    // shared leading AND trailing spaces (" planted ")
    assert(top.getLong(0) == planted.length + 2)
  }

  test("localMaxChars derives from executor memory when set (r18 verdict #4)") {
    val gb = 1L << 30
    // no executor conf: the calling JVM's heap, /256, floored/capped
    assert(SuffixArray.localMaxCharsFor(None, None, 8 * gb) == 32L << 20)
    assert(SuffixArray.localMaxCharsFor(None, None, 64 * gb) == 64L << 20) // cap
    assert(SuffixArray.localMaxCharsFor(None, None, 64L << 20) == 1L << 20) // floor
    // executor memory set: the TASK heap (executor mem / cores) governs,
    // never the (possibly much larger) driver JVM
    assert(SuffixArray.localMaxCharsFor(Some("2g"), None, 64 * gb) == 8L << 20)
    assert(SuffixArray.localMaxCharsFor(Some("2g"), Some("4"), 64 * gb) == 2L << 20)
    // unitless spark.executor.memory means MiB (Spark's unit for it)
    assert(SuffixArray.localMaxCharsFor(Some("2048"), None, 64 * gb) == 8L << 20)
    // an executor claim past this JVM's heap is capped by the JVM
    // (local mode: driver == executor, and the driver-side collect
    // paths were sized against the real heap)
    assert(SuffixArray.localMaxCharsFor(Some("1t"), None, 8 * gb) == 32L << 20)
    // tiny per-task heaps floor at 1M chars
    assert(SuffixArray.localMaxCharsFor(Some("128m"), Some("4"), 64 * gb) == 1L << 20)
    // malformed conf falls back to the JVM heap, never throws
    assert(SuffixArray.localMaxCharsFor(Some("weird"), None, 8 * gb) == 32L << 20)
  }

  test("winnow-span cache: one pass per (session, key); invalidate refreshes") {
    import spark.implicits._
    val docs = Seq(
      1L -> ("the quick brown fox jumps over the lazy dog near the river bank " * 3),
      2L -> ("the quick brown fox jumps over the lazy dog near the river bank " * 2),
      3L -> "completely different text without any repeated fragments here")
      .toDF("doc_id", "text")
    val key = SuffixArray.winnowSpanKey("spec-winnow-cache", minLen = 40, winnowW = 8)
    def cachedSpans() = SuffixArray.cached(spark, key)(
      Dedup.winnowedCharSpans(docs, "doc_id", "text", 40, 8))
    SuffixArray.invalidate(spark, key)
    assert(!SuffixArray.isCached(spark, key))
    val direct = Dedup.winnowedCharSpans(docs, "doc_id", "text", 40, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val cached = cachedSpans()
    assert(SuffixArray.isCached(spark, key))
    val got = cached.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == direct.toSeq)
    // second consumer returns the SAME materialized frame (one pass)
    val again = cachedSpans()
    assert(again eq cached)
    SuffixArray.invalidate(spark, key)
    assert(!SuffixArray.isCached(spark, key))
  }

  test("clearCaches frees every entry of its session and no other session's") {
    import spark.implicits._
    val docs = Seq(
      0L -> "xx0123456789abcdefghij yy",
      1L -> "zzz 0123456789abcdefghij www",
      2L -> "totally unique content")
    val ddf = docs.toDF("doc_id", "text")
    val corpus = "spec-clear-caches"
    val keys = Seq(SuffixArray.lcpKey(corpus), SuffixArray.saKey(corpus),
      SuffixArray.shardedCutKey(corpus, minLen = 20, nShards = 4),
      SuffixArray.winnowSpanKey(corpus, minLen = 20, winnowW = 8))
    keys.foreach(SuffixArray.invalidate(spark, _))
    def cachedSa() = SuffixArray.cached(spark, keys(1))(SuffixArray.build(ddf))
    // the LCP entry's make reads the SA through the cache: the SA entry
    // is created INSIDE another entry's make and must outlive it
    val lcp = SuffixArray.cached(spark, keys(0))(
      SuffixArray.adjacentLcp(cachedSa(), ddf))
    val frames = Seq(lcp, cachedSa(),
      SuffixArray.cached(spark, keys(2))(
        SuffixArray.shardedDedupCut(ddf, minLen = 20, nShards = 4)),
      SuffixArray.cached(spark, keys(3))(
        Dedup.winnowedCharSpans(ddf, "doc_id", "text", 20, 8)))
    keys.foreach(k => assert(SuffixArray.isCached(spark, k), k))
    val sc = spark.sparkContext
    val ids = frames.map(f => Checkpoints.roots(f).map(_.id))
    assert(ids.forall(_.nonEmpty))
    assert(ids.flatten.forall(sc.getPersistentRDDs.contains))
    assert(frames(1).count() == bruteSa(docs).size)
    val other = spark.newSession()
    val otherSa = SuffixArray.cached(other, keys(1))(
      SuffixArray.build(other.createDataFrame(docs).toDF("doc_id", "text")))
    val otherIds = Checkpoints.roots(otherSa).map(_.id)
    SuffixArray.clearCaches(spark)
    keys.foreach(k => assert(!SuffixArray.isCached(spark, k), k))
    assert(ids.flatten.forall(id => !sc.getPersistentRDDs.contains(id)))
    assert(SuffixArray.isCached(other, keys(1)))
    assert(otherIds.nonEmpty && otherIds.forall(sc.getPersistentRDDs.contains))
    assert(otherSa.count() == bruteSa(docs).size)
    SuffixArray.clearCaches(other)
    assert(!SuffixArray.isCached(other, keys(1)))
  }
}

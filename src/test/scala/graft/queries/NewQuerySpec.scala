package graft.queries

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural properties of the round-7 quality/selection queries that
  * the DuckDB oracle can't express: entropy bounds, quota invariance
  * under partitioning, and the bigram model's self-consistency.
  */
class NewQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q89: 0 <= char entropy <= ln(distinct chars), exact on a crafted doc") {
    val rows = TextQueries.q89(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val distinct = r.getLong(2)
      val h = r.getDouble(3)
      assert(h >= 0.0 && h <= math.log(distinct.toDouble) + 1e-9,
        s"doc ${r.getLong(0)}: H=$h outside [0, ln($distinct)]")
    }
    // hand-checkable: "aabb" -> H = ln 2; "aaaa" -> H = 0
    import spark.implicits._
    val crafted = Seq((1L, "aabb"), (2L, "aaaa")).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFns.charStats(col("text")).as("cs"))
      .select(col("doc_id"), round(col("cs._1"), 4).as("h"),
        col("cs._2").as("d"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(crafted(1L) == (BigDecimal(math.log(2.0)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble, 2L))
    assert(crafted(2L) == (0.0, 1L))
  }

  test("q145: sweep rows equal per-threshold brute-force counts and are monotone") {
    val brute = graft.operators.Dedup
      .jaccardBrute(graft.Tables.documents(spark, dir), "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(brute.nonEmpty, "corpus should contain pairs at J >= 0.5")
    val sweep = TextQueries.q145(spark, dir).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sweep.keySet == Set(0.5, 0.6, 0.7, 0.8, 0.9))
    for (tau <- sweep.keys) {
      val at = brute.filter(_._3 >= tau)
      assert(sweep(tau) == (at.length.toLong, at.map(_._2).distinct.length.toLong),
        s"tau=$tau: sweep=${sweep(tau)} brute=(${at.length}, ${at.map(_._2).distinct.length})")
    }
    // tightening tau can only shrink both counts
    val ordered = sweep.toSeq.sortBy(_._1)
    ordered.sliding(2).foreach { case Seq((_, (p1, d1)), (_, (p2, d2))) =>
      assert(p2 <= p1 && d2 <= d1)
    }
  }

  test("q147: full-dimension row is exactly 1.0; overlaps in [0,1]") {
    val rows = EmbeddingQueries.q147(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows.keySet == Set(16L, 32L, 64L))
    assert(rows(64L) == 1.0, "kNN over untruncated vectors must agree with itself")
    rows.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("q148: quartiles partition the corpus; removed counts bounded") {
    val rows = TextQueries.q148(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val total = graft.Tables.documents(spark, dir).count()
    assert(rows.map(_._2).sum == total)
    rows.foreach { case (q, nd, nr) => assert(nr >= 0 && nr <= nd, s"quartile $q") }
    // cross-check the removed total against the brute pair graph
    val brute = graft.operators.Dedup
      .jaccardBrute(graft.Tables.documents(spark, dir), "doc_id", "text", 3, 0.7)
      .collect().map(_.getLong(1)).distinct.length
    assert(rows.map(_._3).sum == brute)
  }

  test("q87: kept set is a function of content, not partitioning") {
    val base = CorpusQueries.q87(spark, dir).collect().map(_.toSeq)
    // same query over a repartitioned input must keep the SAME docs
    val docs = graft.Tables.documents(spark, dir).repartition(17)
    val alt = docs
      .select(col("source"),
        struct(md5(concat(col("doc_id").cast("string"), lit(":quota"))).as("h"),
          col("doc_id").as("id")).as("key"))
      .groupBy("source")
      .agg(graft.functions.TopKRows(spark, col("key"), 20).as("keep"))
      .select(col("source"), explode(col("keep")).as("kv"))
      .select(col("source"), col("kv.id").as("doc_id"))
      .orderBy("source", "doc_id")
      .collect().map(_.toSeq)
    assert(base.sameElements(alt))
    // every source capped at 20
    val bySource = base.groupBy(_.head).view.mapValues(_.size)
    assert(bySource.values.forall(_ <= 20))
  }

  test("q86: every scored doc has n_bigrams = n_tokens - 1, scores positive") {
    val toks = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = CorpusQueries.q86(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(2) == toks(r.getLong(0)) - 1L)
      // MLE self-scoring: every observed bigram has c2 >= 1 and c2 <= c1
      // so -ln(c2/c1) >= 0
      assert(r.getDouble(1) >= 0.0)
    }
    assert(rows.map(_.getLong(0)).toSet == toks.filter(_._2 >= 2).keySet)
  }

  test("q100: int8 codes in [0,255], dim-complete, partitioning-invariant") {
    import graft.operators.Similarity
    val e = graft.Tables.embeddings(spark, dir)
    val enc = Similarity.int8Encode(e, Similarity.int8Stats(e)).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 64)
      assert(codes.forall(c => c >= 0 && c <= 255),
        s"vec ${r.getLong(0)}: code outside uint8 range")
      assert(r.getDouble(3) >= 0.0)
    }
    // the model is min/max-fitted, so SOME vector hits code 0 and some
    // hits 255 in every dimension
    val perDim = (0 until 64).map(d => enc.map(_.getSeq[Int](1)(d)))
    assert(perDim.forall(cs => cs.min == 0 && cs.max == 255))
    // codes and mse are a function of values, not partitioning: the fit
    // is comparison-based min/max and the encode a fixed IEEE op chain
    val alt = Similarity
      .int8Encode(e.repartition(17), Similarity.int8Stats(e.repartition(13)))
      .collect()
    val base = enc.map(r => r.getLong(0) -> (r.getSeq[Int](1), r.getDouble(3))).toMap
    alt.foreach { r =>
      assert(base(r.getLong(0)) == ((r.getSeq[Int](1), r.getDouble(3))))
    }
  }

  test("q101: NB argmax is exact on a separable crafted corpus") {
    // Disjoint vocabularies: Laplace-smoothed NB must recover the true
    // source for every doc (hand-derivable: the true source's token
    // likelihoods are strictly larger for every in-doc token).
    import spark.implicits._
    val crafted = Seq(
      (1L, "alpha alpha beta", "en", "web"),
      (2L, "beta alpha alpha", "en", "web"),
      (3L, "gamma delta gamma", "en", "book"),
      (4L, "delta gamma delta", "en", "book"))
      .toDF("doc_id", "text", "lang", "source")
    crafted.createOrReplaceTempView("__q101docs")
    // run the same plan shape against the crafted frame via the operator
    // path: rebuild q101's pipeline inline on `crafted`
    val toks = crafted.select(col("doc_id"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
    val dtc = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val stc = crafted.select(col("source"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = stc.groupBy("source").agg(sum("c").as("t"))
    val vsize = toks.agg(countDistinct("tok").as("v"))
    val priors = crafted.groupBy("source").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(crafted.agg(count(lit(1)).as("n"))))
      .select(col("source"),
        log(col("nd").cast("double") / col("n").cast("double")).as("prior_ln"))
    val contrib = dtc
      .crossJoin(broadcast(tot.select(col("source").as("cand"), col("t"))))
      .crossJoin(broadcast(vsize))
      .join(broadcast(stc.select(col("source").as("cand"), col("tok"), col("c"))),
        Seq("cand", "tok"), "left")
      .select(col("doc_id"), col("cand"),
        (col("cnt") * log((coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
          (col("t").cast("double") + col("v").cast("double")))).as("ll"))
    val scores = contrib.groupBy("doc_id", "cand").agg(sum("ll").as("sll"))
      .join(broadcast(priors.select(col("source").as("cand"), col("prior_ln"))), "cand")
      .select(col("doc_id"), col("cand"),
        round(col("prior_ln") + col("sll"), 4).as("score"))
    val best = scores.groupBy("doc_id").agg(max("score").as("m"))
    val pred = scores.join(best, "doc_id").filter(col("score") === col("m"))
      .groupBy("doc_id").agg(min(col("cand")).as("pred"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(1L -> "web", 2L -> "web", 3L -> "book", 4L -> "book"))
    // real corpus: one prediction per doc, labels drawn from real sources
    val docs = graft.Tables.documents(spark, dir)
    val out = CorpusQueries.q101(spark, dir).collect()
    assert(out.length == docs.count())
    val sources = docs.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(out.map(_.getString(1)).toSet.subsetOf(sources))
  }

  test("q104: quantiles are ordered, and are actual data values per dim") {
    val rows = EmbeddingQueries.q104(spark, dir).collect()
    assert(rows.length == 64)
    val byDim = graft.Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("p", "v")))
      .collect().groupBy(r => r.getInt(0) + 1)
      .view.mapValues(_.map(_.getFloat(1).toDouble).toSet).toMap
    rows.foreach { r =>
      val (d, p25, p50, p75, iqr) =
        (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(p25 <= p50 && p50 <= p75 && iqr == p75 - p25)
      // percentile_disc: every quantile is an element, never interpolated
      assert(byDim(d.toInt)(p25) && byDim(d.toInt)(p50) && byDim(d.toInt)(p75))
    }
  }

  test("q105: SRP preserves norms in expectation and is partitioning-invariant") {
    import graft.operators.Similarity
    val e = graft.Tables.embeddings(spark, dir)
    val proj = Similarity.srpProject(e, 16, 64).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq).toMap
    val orig = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    assert(proj.keySet == orig.keySet)
    // JL: E[||proj(x)||^2] = ||x||^2 with the 1/sqrt(k) scaling; the
    // mean ratio over the corpus concentrates near 1
    val ratios = orig.keys.toSeq.map { id =>
      val pn = proj(id).map(x => x * x).sum
      val on = orig(id).map(x => x * x).sum
      pn / on
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean")
    // deterministic: same values under a different partitioning
    val alt = Similarity.srpProject(e.repartition(17), 16, 64).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq).toMap
    assert(alt == proj)
  }

  test("q132: script histogram exact on crafted multi-script strings") {
    import spark.implicits._
    def cps(points: Int*): String =
      points.map(p => new String(Character.toChars(p))).mkString
    val cyr = cps(0x43F, 0x440, 0x438)            // three Cyrillic letters
    val cjkAstral = cps(0x4E2D, 0x6587, 0x1D11E)  // 2 CJK + astral symbol
    val mixed = "ab " + cyr + " 12" + cps(0x3B1)  // 2 latin 1 greek 3 cyr 2 digit 2 sp
    val df = Seq((1L, mixed), (2L, cjkAstral), (3L, ""), (4L, "only ascii"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextFns.scriptStats(col("text")).as("sc"))
      .select(col("doc_id"), col("sc._1"), col("sc._2"), col("sc._3"),
        col("sc._4"), col("sc._5"), col("sc._6"), col("sc._7"), col("sc._8"),
        col("sc._9"), col("sc._10"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    // (n_cp, latin, cyr, greek, cjk, arabic, digit, space, other, dominant)
    assert(df(1L) == Seq(10L, 2L, 3L, 1L, 0L, 0L, 2L, 2L, 0L, "cyrillic"))
    assert(df(2L) == Seq(3L, 0L, 0L, 0L, 2L, 0L, 0L, 0L, 1L, "cjk"))
    assert(df(3L) == Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, "none"))
    assert(df(4L) == Seq(10L, 9L, 0L, 0L, 0L, 0L, 0L, 1L, 0L, "latin"))
    // dominant tie: equal latin and cyrillic counts -> latin (documented order)
    val tie = Seq((9L, "ab" + cps(0x43F, 0x440))).toDF("doc_id", "text")
      .select(graft.functions.TextFns.scriptStats(col("text")).as("sc"))
      .select(col("sc._10")).collect().head.getString(0)
    assert(tie == "latin")
  }

  test("q133: k-center selection agrees with a driver-side greedy replay") {
    val got = EmbeddingQueries.q133(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.length == 8 && got.head._3.isEmpty)
    // exact greedy replay in plain Scala
    val vecs = graft.Tables.embeddings(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    var sel = Vector((vecs.head._1, vecs.head._2, Option.empty[Double]))
    while (sel.size < 8) {
      val chosen = vecs.filter(v => !sel.exists(_._1 == v._1))
        .map { case (id, e) => (id, e, sel.map(s => d2(e, s._2)).min) }
        .maxBy { case (id, _, d) => (d, -id) }
      sel = sel :+ ((chosen._1, chosen._2, Some(chosen._3)))
    }
    val expect = sel.zipWithIndex.map { case ((id, _, d), i) => (i + 1, id, d) }
    assert(got.toSeq == expect)
    // selected ids are pairwise distinct and spread: every later pick's
    // dist2 is <= the previous pick's (greedy max-min is non-increasing)
    val ds = got.flatMap(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => b <= a + 1e-12 })
  }

  test("q135: key-skew audit matches hand-computed Gini and top-share") {
    import spark.implicits._
    // frequencies: key 1 -> 1 row, key 2 -> 1 row, key 3 -> 6 rows (+ a null)
    val df = (Seq(1L, 2L) ++ Seq.fill(6)(3L)).map(k => Tuple1(Option(k)))
      .toDF("k").union(Seq(Tuple1(Option.empty[Long])).toDF("k"))
    val r = graft.operators.Audit.keySkew(df, "k", "t").collect().head
    assert(r.getString(0) == "t")
    assert(r.getLong(1) == 8L && r.getLong(2) == 3L)       // 8 rows, 3 keys
    assert(r.getLong(3) == 3L && r.getLong(4) == 6L)       // top key 3, cnt 6
    assert(r.getDouble(5) == 0.75)                         // 6/8
    // ranks in (cnt, key) asc: (1,k1)->1, (1,k2)->2, (6,k3)->3
    // gini = 2*(1*1 + 2*1 + 3*6) / (3*8) - 4/3 = 42/24 - 4/3 = 0.4167
    assert(math.abs(r.getDouble(6) - 0.4167) < 1e-9)
    // uniform distribution -> gini 0
    val u = Seq(1L, 2L, 3L, 4L).map(k => Tuple1(Option(k))).toDF("k")
    val g0 = graft.operators.Audit.keySkew(u, "k", "u").collect().head.getDouble(6)
    assert(math.abs(g0 - 0.0) < 1e-9)
  }

  test("q133: selection is partition-invariant") {
    val e = graft.Tables.embeddings(spark, dir)
    val a = graft.operators.Coreset.kCenter(e, "vec_id", "embedding", 8)
      .collect().map(_.toSeq).toSeq
    val b = graft.operators.Coreset.kCenter(e.repartition(17), "vec_id", "embedding", 8)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("q133: k > n stops at n centers instead of failing") {
    import spark.implicits._
    val tiny = Seq(
      (10L, Seq(1.0f, 0.0f)), (20L, Seq(0.0f, 1.0f)), (30L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Coreset.kCenter(tiny, "vec_id", "embedding", 8)
      .orderBy("sel_rank").collect()
    assert(got.length == 3)
    assert(got.map(_.getLong(1)).toSet == Set(10L, 20L, 30L))
    assert(got.head.getLong(1) == 10L) // min-id seed
  }

  test("q131: precision@10 agrees with a driver-side exact kNN replay") {
    val got = EmbeddingQueries.q131(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    // exact replay in plain Scala
    val vecs = graft.Tables.embeddings(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 10
    val byLabel = vecs.flatMap { case (qa, ea, la) =>
      vecs.filter(_._1 != qa)
        .map { case (qb, eb, lb) => (cos(ea, eb), qb, lb) }
        .sortBy { case (c, qb, _) => (-c, qb) }
        .take(k).map { case (_, _, lb) => (la, lb == la) }
    }.groupBy(_._1)
    byLabel.foreach { case (label, slots) =>
      val (nq, nm, p) = got(label)
      assert(nq == slots.length / k, s"label $label n_queries")
      assert(nm == slots.count(_._2), s"label $label n_matches")
      assert(math.abs(p - slots.count(_._2).toDouble / slots.length) < 5e-5,
        s"label $label precision")
    }
    assert(got.keySet == byLabel.keySet)
  }

  test("q149: repetition signals agree with a driver-side replay on every doc") {
    val got = TextQueries.q149(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.keySet == docs.map(_._1).toSet)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    docs.foreach { case (id, text) =>
      val w = text.trim.toLowerCase.split("\\s+").toSeq
      // lengths in code points, as the engine's `length` counts
      def points(s: String): Long = s.codePointCount(0, s.length).toLong
      val nch = points(w.mkString(" "))
      def grams(n: Int): Seq[String] =
        if (w.length < n) Seq.empty else w.sliding(n).map(_.mkString(" ")).toSeq
      def topFrac(n: Int): Double = {
        val g = grams(n)
        if (g.isEmpty) 0.0
        else {
          val counts = g.groupBy(identity).view.mapValues(_.size.toLong)
          // ties: the smallest gram in UTF-8 byte order, the engine's
          // string order (not Java's UTF-16 `String` order)
          import scala.math.Ordering.Implicits.seqOrdering
          val (gram, c) = counts.toSeq.minBy { case (s, c) =>
            (-c, s.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq.map(_ & 0xff))
          }
          r4(c.toDouble * points(gram) / nch)
        }
      }
      def dupFrac(n: Int): Double = {
        val g = grams(n)
        if (g.isEmpty) 0.0
        else r4((g.size - g.distinct.size).toDouble / g.size)
      }
      val want = (topFrac(3), topFrac(4), dupFrac(5), dupFrac(10))
      val ok = want._1 <= 0.18 && want._2 <= 0.16 &&
        want._3 <= 0.30 && want._4 <= 0.10
      assert(got(id) == ((want._1, want._2, want._3, want._4, ok)),
        s"doc $id: got ${got(id)}, want $want ok=$ok")
    }
  }

  test("q149: a top-gram tie goes to the smaller gram in UTF-8 order") {
    // "｡ x y" (U+FF61) and "😀 zz w" both occur twice. UTF-16 puts the
    // emoji's surrogate 0xD83D first; UTF-8 puts U+FF61 (EF ..) before
    // U+1F600 (F0 ..), so the 5-code-point gram wins: 2 * 5 / 25 chars
    val (ff61, emoji) = ("\uFF61", "\uD83D\uDE00")
    val text = s"$ff61 x y $ff61 x y $emoji zz w $emoji zz w"
    val g3 = TextQueries.repetition(text.split(" ").toSeq).g3
    assert(g3 == TextQueries.GramStats(10, 8, 2, 5))
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q149tie").toString
    Seq((1L, text, "und", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(TextQueries.q149(spark, tmp).head().getDouble(1) == 0.4)
  }

  test("q149: sub-n-word docs emit zero fractions, not a crash") {
    // the r10 advice crash class: sequence(1, size-n+1) descends when
    // size < n — a 2-word doc must flow through every gram size
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q149short").toString
    Seq((1L, "one two", "en", "src0", 7L),
      (2L, "a a a a a a a a a a a a", "en", "src0", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextQueries.q149(spark, tmp).collect()
    val short = rows.find(_.getLong(0) == 1L).get
    assert((1 to 4).forall(i => short.getDouble(i) == 0.0) && short.getBoolean(5))
    val rep = rows.find(_.getLong(0) == 2L).get
    // 12x "a": top 3-gram "a a a" covers 10*5/23 chars; 7 of 8 5-grams
    // and 2 of 3 10-grams are duplicates
    assert(rep.getDouble(1) == BigDecimal(50.0 / 23)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(rep.getDouble(3) == 0.875 && rep.getDouble(4) == BigDecimal(2.0 / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(!rep.getBoolean(5))
  }

  test("q151: cluster keywords replay from an independent driver-side c-TF-IDF") {
    val emb = graft.Tables.embeddings(spark, dir)
    val model = graft.operators.KMeans.fit(emb, 8, 3).model
    val cluster = graft.operators.KMeans.assign(emb, model).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) =>
      (id, t.trim.toLowerCase.split("\\s+").toSeq)
    }
    val dTotal = docs.length.toLong
    val df = toks.flatMap { case (id, w) => w.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val tf = toks.flatMap { case (id, w) => w.map(t => (cluster(id), t)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = tf.toSeq.map { case ((c, t), f) =>
      (c, t, f, (f * dTotal).toDouble / df(t))
    }.groupBy(_._1).view.mapValues { rows =>
      rows.sortBy { case (_, t, _, s) => (-s, t) }.take(5)
        .zipWithIndex.map { case ((_, t, f, s), i) => (i + 1, t, f, r4(s)) }
    }.toMap
    val got = EmbeddingQueries.q151(spark, dir).collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getString(2), r.getLong(3),
        r.getDouble(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sortBy(_._1)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (c, rows) =>
      assert(got(c) == rows, s"cluster $c: got ${got(c)}, want $rows")
    }
  }

  test("q155: savings rows replay from q38's clusters and q20's token counts") {
    val clusters = TextQueries.q38(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val ntok = TextQueries.q20(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bySize = clusters.groupBy(_._2).values.toSeq
      .map(ms => (ms.size,
        ms.count { case (d, c) => d != c },
        ms.collect { case (d, c) if d != c => ntok(d) }.sum))
      .groupBy(_._1).view.mapValues { cs =>
        (cs.size.toLong, cs.map(_._2.toLong).sum, cs.map(_._3).sum)
      }.toMap
    val got = TextQueries.q155(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == bySize.keySet.map(_.toLong))
    bySize.foreach { case (size, (nc, dr, tr)) =>
      assert(got(size.toLong) == ((nc, dr, tr)), s"size $size")
    }
    // conservation: every document sits in exactly one counted cluster
    assert(got.map { case (size, (nc, _, _)) => size * nc }.sum ==
      clusters.length.toLong)
  }

  test("q154: grid is gapless per user; fills flag correctly; ffill carries last observed") {
    val rows = EventQueries.q154(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getBoolean(5)))
    assert(rows.nonEmpty)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val hours = rs.map(t => java.time.LocalDateTime.parse(t._2, fmt)).sorted
      // contiguous hour grid: every step is exactly +1h
      hours.sliding(2).filter(_.length == 2).foreach { pair =>
        assert(java.time.Duration.between(pair(0), pair(1)).toHours == 1,
          s"user $u: gap between ${pair(0)} and ${pair(1)} survived the fill")
      }
      // endpoints are observed (grid spans first..last event)
      assert(!rs.minBy(_._2)._6 && !rs.maxBy(_._2)._6)
      // forward fill: carried value == last non-null sum at or before
      var carry: Option[Double] = None
      rs.sortBy(_._2).foreach { case (_, h, n, sv, fv, filled) =>
        assert(filled == sv.isEmpty, s"user $u $h: filled flag")
        assert(filled == (n == 0L), s"user $u $h: n_events vs filled")
        if (sv.nonEmpty) carry = sv
        assert(fv == carry, s"user $u $h: ffill $fv != last observed $carry")
      }
    }
    // fills add no events: grid totals == raw sampled event count
    val rawN = graft.Tables.events(spark, dir)
      .filter(col("user_id") % 20 === 0).count()
    assert(rows.map(_._3).sum == rawN)
  }

  test("q150: fertility replays from q20's per-doc counts; zh pays per-char") {
    val perDoc = TextQueries.q20(spark, dir)
      .join(graft.Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
      .collect()
      .map(r => (r.getString(4), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = perDoc.groupBy(_._1).view.mapValues { rs =>
      val (nw, nt, nc) = (rs.map(_._2).sum, rs.map(_._3).sum, rs.map(_._4).sum)
      (rs.size.toLong, nw, nt,
        BigDecimal(nt.toDouble / nw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(nc.toDouble / nt).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    val got = TextQueries.q150(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got == want)
    // the synthetic corpus is ASCII in every lang (fertility ~1.0); pin
    // the per-char CJK behavior on crafted text instead
    import spark.implicits._
    val cjk = Seq("深度 学习 模型", "deep learning models").toDF("text")
      .select(graft.functions.TextFns.bpeTokenCount(col("text")).as("nt"))
      .collect().map(_.getInt(0))
    assert(cjk(0) == 6 && cjk(1) == 3,
      s"CJK must tokenize per character: got ${cjk.toSeq}")
  }

  test("q161: batch packing conserves tokens, bounds batch size, prices padding") {
    import org.apache.spark.sql.functions._
    val rows = CorpusQueries.q161(spark, dir).collect()
    assert(rows.nonEmpty)
    val totalPacked = rows.map(_.getLong(4)).sum
    val totalDocs = rows.map(_.getLong(2)).sum
    val want = graft.Tables.documents(spark, dir)
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .agg(sum("n"), count(lit(1))).head
    assert(totalPacked == want.getLong(0), "token conservation across batches")
    assert(totalDocs == want.getLong(1), "every doc lands in exactly one batch")
    rows.foreach { r =>
      val (lo, n, mx, tot, pad, waste) = (r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(n >= 1 && n <= 16, s"batch size bound violated: $n")
      assert(mx >= lo && mx < lo + 64, s"max_len $mx outside bucket [$lo, ${lo + 64})")
      assert(pad == mx * n && tot <= pad)
      assert(math.abs(waste - BigDecimal((pad - tot).toDouble / pad)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    // within a bucket, only the LAST batch may be short
    rows.groupBy(_.getLong(0)).foreach { case (lo, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.init.forall(_.getLong(2) == 16L),
        s"non-final short batch in bucket $lo")
    }
  }

  test("q163: per-source percentile is exact and spans [0, 1]") {
    val rows = TextQueries.q163(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val ps = rs.map(_._4)
      assert(ps.forall(p => p >= 0.0 && p <= 1.0))
      if (rs.length > 1) {
        assert(ps.min == 0.0 && ps.max == 1.0,
          s"source $src percentiles must span [0,1]")
        // ranks 1..n exactly once -> pct values are exactly the
        // {i/(n-1)} grid (robust to 6-dp score-rounding ties)
        val n = rs.length
        val grid = (0 until n).map(i =>
          BigDecimal(i.toDouble / (n - 1))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        assert(ps.sorted.toSeq == grid,
          s"source $src pct_rank values must be the exact rank grid")
      }
    }
  }

  test("q170: sole-late attribution equals a driver-side replay") {
    import org.apache.spark.sql.functions.col
    val got = RelationalQueries.q170(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    def millis(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime
      case d: java.time.LocalDateTime => // TIMESTAMP_NTZ decoding
        d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case i: java.time.Instant => i.toEpochMilli
    }
    val l = graft.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getLong(1), millis(r.get(2))))
    val o = graft.Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> millis(r.get(1))).toMap
    val sixty = 60L * 24 * 3600 * 1000
    val pairs = l.map(t => (t._1, t._2)).distinct
    val late = l.filter(t => t._3 > o(t._1) + sixty).map(t => (t._1, t._2)).distinct
    val lateByOrder = late.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val suppByOrder = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = late.filter { case (ok, sk) =>
      (suppByOrder(ok) - sk).nonEmpty && (lateByOrder(ok) - sk).isEmpty
    }.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (sk, n) => (-n, sk) }.take(20)
    assert(got == want)
  }

  test("q171: nucleus keeps the best docs until 80% of tokens, per source") {
    val rows = TextQueries.q171(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, nKept, tot, kept) =>
      assert(nKept >= 1 && nKept <= nDocs)
      // kept tokens reach 80% (crossing doc included) but the set
      // minus its worst kept doc must be strictly under 80%
      assert(kept * 5 >= tot * 4, s"$src under-filled: $kept of $tot")
    }
    // a driver replay of one source pins the exact membership count
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val src0 = docs.filter(_._2 == rows.head._1)
    val scored = src0.map { case (id, _, t) =>
      val w = t.trim.toLowerCase.split("\\s+")
      (id, w.length.toLong, w.distinct.length.toDouble / w.length)
    }.sortBy { case (id, _, sc) => (-sc, id) }
    val tot = scored.map(_._2).sum
    var cum = 0L
    val keptN = scored.takeWhile { case (_, nt, _) =>
      val keep = cum * 5 < tot * 4; cum += nt; keep
    }.length
    assert(rows.head._3 == keptN, s"membership count for ${rows.head._1}")
  }

  test("q169: hash sampling is a deterministic per-row membership replay") {
    val rows = CorpusQueries.q169(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val quotas = CorpusQueries.q167(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .map(t => t._1 -> (t._2, t._3)).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.split("\\s+").length.toLong))
    rows.foreach { case (src, rate, nDocs, nSamp, tokSamp, target) =>
      val (weight, quota) = quotas(src)
      assert(rate == quota * 1048576L / weight, s"rate for $src")
      assert(target == quota)
      val ds = docs.filter(_._2 == src)
      val kept = ds.filter { case (id, _, _) =>
        java.lang.Math.floorMod(
          graft.functions.Hashing.md5Hash64("smp:" + id), 1048576L) < rate
      }
      assert(nDocs == ds.length && nSamp == kept.length,
        s"membership replay for $src")
      assert(tokSamp == kept.map(_._3).sum, s"token sum for $src")
    }
    // the sampler must neither keep everything nor nothing
    val (tot, kept) = (rows.map(_._3).sum, rows.map(_._4).sum)
    assert(kept > 0 && kept < tot)
  }

  test("q168: incremental cluster merge equals the full recompute (q41)") {
    val inc = EmbeddingQueries.q168(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = EmbeddingQueries.q41(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(inc == full && inc.nonEmpty)
    // the split is non-trivial: some delta edge must actually merge
    // old clusters or attach a new node, or the test is vacuous
    assert(inc.exists { case (v, c) => v % 10 >= 8 && c != v },
      "no new-crawl vector joined an existing cluster — vacuous split")
  }

  test("q166: boilerplate strip drops exactly the frequent segments, in order") {
    val rows = CorpusQueries.q166(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    // driver replay
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def segs(t: String): Seq[String] =
      t.trim.toLowerCase.split("\\s+").toSeq.grouped(8).map(_.mkString(" ")).toSeq
    val nSrc = docs.groupBy(_._2).view.mapValues(_.length).toMap
    // .toSeq before flatMap: flatMapping a Map into (src, seg) pairs
    // would rebuild a Map and collapse all of one source's segments
    val boiler: Set[(String, String)] = docs.groupBy(_._2).toSeq.flatMap {
      case (src, ds) =>
        ds.flatMap(d => segs(d._3).distinct.map(sg => (d._1, sg)))
          .groupBy(_._2).filter { case (_, occ) =>
            val nd = occ.map(_._1).distinct.length
            nd >= 2 && nd * 20 >= nSrc(src)
          }.keys.map(src -> _)
    }.toSet
    docs.foreach { case (id, src, t) =>
      val ss = segs(t)
      val kept = ss.filterNot(sg => boiler((src, sg)))
      val got = rows.find(_._1 == id).get
      assert(got._2 == ss.length && got._3 == kept.length, s"counts for doc $id")
      assert(got._4 == kept.mkString(" "), s"rebuilt text for doc $id")
    }
    // the strip path must actually fire on this corpus
    assert(rows.exists(r => r._3 < r._2), "no boilerplate stripped — vacuous")
  }

  test("q167: largest-remainder quotas sum exactly to the budget") {
    val rows = CorpusQueries.q167(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val totalW = rows.map(_._2).sum
    val budget = totalW / 3
    assert(rows.map(_._3).sum == budget, "apportionment must hit the budget exactly")
    // every quota within 1 of the exact proportional share (Hamilton property)
    rows.foreach { case (src, w, q) =>
      val exact = budget.toDouble * w / totalW
      assert(q >= exact.floor - 1e-9 && q <= exact.ceil + 1e-9,
        s"quota for $src off the proportional share: $q vs $exact")
    }
  }

  test("q164: chi2 drift equals a full driver-side replay") {
    val rows = TextQueries.q164(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.nonEmpty)
    // driver replay with the exact term/rounding/decimal-sum pipeline
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String): Seq[String] = t.trim.toLowerCase.split("\\s+").toSeq
    val all = docs.flatMap { case (id, src, t) => toks(t).map(w => (id, src, w)) }
    val top = all.groupBy(_._3).view.mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(50).map(_._1).toSet
    val want = all.filter(t => top(t._3)).groupBy(_._2).map { case (src, ts) =>
      val byTok = ts.groupBy(_._3)
      val ca = byTok.view.mapValues(_.count(_._1 % 2 == 0)).toMap
      val cb = byTok.view.mapValues(_.count(_._1 % 2 == 1)).toMap
      val ta = ca.values.sum.toDouble
      val tb = cb.values.sum.toDouble
      val terms = byTok.keys.toSeq.map { w =>
        val pa = if (ta > 0) ca(w) / ta else 0.0
        val pb = if (tb > 0) cb(w) / tb else 0.0
        if (pa + pb > 0) (pa - pb) * (pa - pb) / (pa + pb) else 0.0
      }
      val chi2 = terms.map(t => BigDecimal(t)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      (src, byTok.size.toLong, chi2)
    }.toSeq.sortBy(_._1)
    assert(rows.toSeq == want)
    assert(rows.forall { case (_, n, chi2) => n <= 50 && chi2 >= 0.0 })
  }

  test("q165: vocab growth is monotone and ends at the true vocab size") {
    val rows = CorpusQueries.q165(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_._2)
      val srcDocs = docs.filter(_._2 == src).sortBy(_._1)
      // grid = powers of two below n, plus n itself
      val n = srcDocs.length.toLong
      val grid = (0 to 40).map(1L << _).filter(_ < n) :+ n
      assert(sorted.map(_._2).toSeq == grid.distinct.sorted)
      // vocab(N) = distinct tokens over the first N docs, exactly
      sorted.foreach { case (_, nn, vocab) =>
        val want = srcDocs.take(nn.toInt)
          .flatMap(_._3.trim.toLowerCase.split("\\s+")).distinct.length
        assert(vocab == want, s"vocab($src, $nn)")
      }
      assert(sorted.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("q156: IVF-PQ rerank is exact — top-1 is the query, cos non-increasing") {
    val rows = EmbeddingQueries.q156(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 10)
    assert(rows.head._1 == 0L && rows.head._2 > 0.999,
      s"query vector must be its own nearest neighbor: ${rows.head}")
    assert(rows.sliding(2).forall(p => p(0)._2 >= p(1)._2),
      "exact-cosine rerank must come back sorted")
  }

  test("q157: media inventory routes each synthetic format correctly") {
    val rows = graft.queries.MultimodalQueries.q157(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val fmt = r.getString(1)
      ((id / 10) % 4) match {
        case 0 =>
          assert(fmt == "png" && !r.isNullAt(2) && !r.isNullAt(3) && r.isNullAt(4))
          assert(r.getInt(2) == 16 + (id % 17).toInt, s"png width for $id")
        case 1 =>
          assert(fmt == "wav" && r.isNullAt(2) && r.getInt(4) == 8000 &&
            r.getInt(5) == 1)
        case 2 => assert(fmt == "avi")
        case _ => assert(fmt == "unknown")
      }
      assert(!r.isNullAt(7), s"pixel_hash must be total (media $id)")
    }
    // decoded-pixel hashing: distinct seeds -> distinct image content
    val pngHashes = rows.filter(_.getString(1) == "png").map(_.getLong(7))
    assert(pngHashes.distinct.length == pngHashes.length)
  }

  test("q158: audio features equal a driver-side decode replay") {
    val got = graft.queries.MultimodalQueries.q158(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      val p = graft.multimodal.Audio.decodeWav(
        graft.multimodal.MediaSynth.sineWav(id)).get
      val f = graft.multimodal.Audio.features(p)
      assert(r.getDouble(1) == f.duration_s && r.getDouble(2) == f.rms &&
        r.getDouble(4) == f.zero_cross_rate &&
        r.getDouble(5) == f.silence_ratio,
        s"feature mismatch for media $id")
      assert(r.getLong(7) == graft.multimodal.Audio.fingerprint(p))
    }
    // seeds with a silent tail must report silence; pure tones must not
    assert(got.exists(_.getDouble(5) > 0.2) && got.exists(_.getDouble(5) == 0.0))
  }

  test("q159: frame sampling explodes 3 real frames per container") {
    val rows = graft.queries.MultimodalQueries.q159(spark, dir).collect()
    assert(rows.nonEmpty)
    val perMedia = rows.groupBy(_.getLong(0))
    perMedia.foreach { case (id, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == Seq(0, 1, 2),
        s"media $id must sample exactly frames 0..2")
      assert(rs.head.getInt(1) == 3 + (id / 20 % 3).toInt,
        s"container frame count for $id")
      // per-frame pixel hash replays through the codec chain
      val avi = graft.multimodal.MediaSynth.mjpegAvi(id, 3 + (id / 20 % 3).toInt)
      val frames = graft.multimodal.Multimodal.AviAwareCodec.sampleFrames(avi, 3)
      val want = frames.map(graft.multimodal.Multimodal.ImageIoCodec.pixelHash)
      assert(rs.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq == want,
        s"frame hashes for $id")
    }
  }
}

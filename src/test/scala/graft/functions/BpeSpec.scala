package graft.functions

import graft.TestSpark
import graft.queries.CorpusQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE tokenizer: the exact merge-table oracle at a small vocab (the
  * Sennrich ACL'16 example corpus, merges hand-computed), total-function
  * encode via byte fallback, the decode∘encode = id round trip on every
  * sf0.001 document, and the 1-based-id / 0-reserved-OOV invariant that
  * q81's whole-word encoding also relies on.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("merge table matches the hand-computed Sennrich-corpus oracle") {
    // Corpus from the BPE paper: low×5 lower×2 newest×6 widest×3.
    // Hand derivation (count desc, lexicographic tiebreak):
    //  r1: (e,s)=9 ties (s,t),(t,</w>) → "e" wins lex  → es
    //  r2: (es,t)=9 ties (t,</w>)      → "es" wins     → est
    //  r3: (est,</w>)=9                                → est</w>
    //  r4: (l,o)=7 ties (o,w)          → "l" wins      → lo
    //  r5: (lo,w)=7                                    → low
    //  r6: (e,w)=6 ties (n,e),(w,est</w>) → "e" wins   → ew
    val m = Bpe.train(
      Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)), 6)
    assert(m.merges == Vector(
      ("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w"), ("e", "w")))
    // encode uses the learned units: "newest" → [n, ew, est</w>]
    val ids = Bpe.encode("newest", m)
    assert(ids.map(m.inverse) == Vector("n", "ew", "est</w>"))
    assert(Bpe.decode(ids, m) == "newest")
  }

  // The r1–r12 naive loop, kept here as the EQUIVALENCE ORACLE for the
  // incremental trainer: full pair recount per merge, minBy((-c, a, b)).
  private def naiveMerges(wordCounts: Seq[(String, Long)],
                          numMerges: Int): Vector[(String, String)] = {
    var words = wordCounts.toVector.map {
      case (w, c) => (Bpe.symbolize(w) :+ Bpe.EndOfWord, c)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = numMerges > 0
    while (continue) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (counts.isEmpty) continue = false
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, Bpe.CpOrdering, Bpe.CpOrdering))._1
        out += best
        words = words.map { case (syms, c) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 &&
                syms(i + 1) == best._2) { merged += syms(i) + syms(i + 1); i += 2 }
            else { merged += syms(i); i += 1 }
          }
          (merged.toVector, c)
        }
        continue = out.length < numMerges
      }
    }
    out.toVector
  }

  private val equivCorpus = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L),
    ("banana", 4L), ("bandana", 1L), ("añejo", 2L), ("aaaa", 7L))

  test("incremental trainer ≡ naive loop, including past exhaustion") {
    for (n <- Seq(0, 1, 5, 20, 500)) {
      assert(Bpe.train(equivCorpus, n).merges == naiveMerges(equivCorpus, n),
        s"numMerges=$n")
    }
  }

  test("trainDistributed ≡ train at every round-boundary split") {
    import spark.implicits._
    val df = equivCorpus.toDF("w", "n")
    val want = Bpe.train(equivCorpus, 30)
    for (r <- Seq(0, 3, 7, 100)) {
      val got = Bpe.trainDistributed(df, "w", "n", 30, distributedRounds = r)
      assert(got.merges == want.merges, s"distributedRounds=$r")
      assert(got.vocab == want.vocab, s"distributedRounds=$r")
    }
  }

  test("adaptive collect budget crosses the switch point with model equality") {
    import spark.implicits._
    // Heavy-tail synthetic: 24 words of 16 'a's + a distinct tail char.
    // Symbolized, each word is 18 elements whose per-element JVM
    // overhead dominates the estimate; the early (a,a)/(aa,aa)/…
    // merges collapse elements 16→8→4→2→1, so the estimated collect
    // footprint shrinks steeply across exactly the rounds the budget
    // must keep distributed.
    val corpus = (0 until 24).map { i =>
      ("a" * 16 + ('b' + i % 8).toChar.toString, (24 - i).toLong) }
    val df = corpus.toDF("w", "n")
    val want = Bpe.train(corpus, 12)
    def runWith(budget: Long): Bpe.Model =
      Bpe.trainDistributed(df, "w", "n", 12,
        distributedRounds = 2, collectBudgetBytes = budget)
    // huge budget: the table fits immediately → exactly the fixed prefix
    val huge = runWith(1L << 30)
    assert(Bpe.lastDistributedRounds == 2)
    // unattainable budget: stays distributed through every merge
    val tiny = runWith(1L)
    assert(Bpe.lastDistributedRounds == 12)
    // mid-band budget: the estimate starts above it and the early
    // merges shrink the table below it — the switch lands strictly
    // between the fixed prefix and exhaustion
    val mid = runWith(8000L)
    assert(Bpe.lastDistributedRounds > 2 && Bpe.lastDistributedRounds < 12,
      s"switch at ${Bpe.lastDistributedRounds}")
    // the switch point must never change the model (round-boundary
    // equivalence, same invariant as the fixed-round splits)
    for ((m, tag) <- Seq((huge, "huge"), (tiny, "tiny"), (mid, "mid"))) {
      assert(m.merges == want.merges, tag)
      assert(m.vocab == want.vocab, tag)
    }
  }

  test("a budget binding on every round keeps all 32 merges distributed on sf0.001 word counts, with the fixed path's model") {
    // real-corpus form of the switch-point invariance above: a 1-byte
    // budget binds on every round, so training never collects before
    // the cap, and the budgeted model must equal the fixed-prefix one
    val words = graft.Tables.documents(spark, dir)
      .select(explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    def runWith(budget: Long): Bpe.Model =
      Bpe.trainDistributed(words, "w", "n", numMerges = 32,
        distributedRounds = 4, collectBudgetBytes = budget)
    val budgeted = runWith(1L)
    assert(Bpe.lastDistributedRounds == 32)
    val fixed = runWith(0L)
    assert(budgeted.merges == fixed.merges)
    assert(budgeted.vocab == fixed.vocab)
  }

  test("non-BMP: code-point symbols, cp-order tiebreaks, train ≡ distributed") {
    import spark.implicits._
    // \uE000 sorts ABOVE 😀 (U+1F600) in UTF-16 unit order but BELOW
    // it in code-point / UTF-8 binary order (Spark's orderBy order);
    // the count-3 tie at merge 2 discriminates the two orderings.
    val corpus = Seq(("😀a", 3L), ("\uE000a", 3L), ("b😀", 1L))
    val want = naiveMerges(corpus, 4)
    val m = Bpe.train(corpus, 4)
    assert(m.merges == want)
    // the tie really broke by code point: \uE000 merged before 😀 did
    assert(m.merges.indexWhere(_._1 == "\uE000") <
      m.merges.indexWhere(_._1 == "😀"))
    // the distributed prefix round-trips supplementary symbols through
    // the UDF / UTF8String boundary intact and agrees exactly
    val dist = Bpe.trainDistributed(corpus.toDF("w", "n"), "w", "n", 4,
      distributedRounds = 2)
    assert(dist.merges == want)
    assert(dist.vocab == m.vocab)
    // a seen supplementary char encodes as one symbol; an UNSEEN one
    // (🤯) takes the 4-byte fallback — both round-trip
    val ids = Bpe.encode("a😀b 🤯", m)
    assert(Bpe.decode(ids, m) == "a😀b 🤯")
  }

  test("vocab ids are 1-based, 0 reserved; byte tokens occupy 1..256") {
    val m = Bpe.train(Seq(("ab", 3L)), 2)
    assert(!m.vocab.valuesIterator.contains(Bpe.OovId))
    assert(m.vocab.values.min == 1)
    assert((0 until 256).forall(b => m.vocab(f"<0x$b%02X>") == b + 1))
    assert(m.vocab.values.toSeq.distinct.size == m.vocab.size) // bijective
  }

  test("byte fallback makes encode total: unseen characters round-trip") {
    val m = Bpe.train(Seq(("plain", 4L), ("ascii", 2L)), 8)
    val text = "naïve ☃ snowman ascii"
    val ids = Bpe.encode(text, m)
    assert(Bpe.decode(ids, m) == text)
    // the non-ascii chars really took the byte path (ids in 1..256)
    assert(ids.exists(_ <= 256))
  }

  test("decode∘encode = normalized identity on every sf0.001 document") {
    val m = Bpe.train(Seq(("the", 10L), ("of", 5L), ("data", 3L)), 16)
    val texts = graft.Tables.documents(spark, dir)
      .select("text").collect().map(_.getString(0))
    assert(texts.nonEmpty)
    texts.foreach { t =>
      val norm = t.trim.toLowerCase.split("\\s+").mkString(" ").trim
      assert(Bpe.decode(Bpe.encode(t, m), m) == norm, s"round-trip broke on: $t")
    }
  }

  test("q83 merge table is deterministic and consistent with its model") {
    val a = CorpusQueries.q83(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val b = CorpusQueries.q83(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(a.nonEmpty && a.sameElements(b))
    assert(a.forall { case (_, l, r, merged) => l + r == merged })
    assert(a.map(_._1).toSeq == (1L to a.length).toSeq) // ranks dense, 1-based
  }

  test("q84 ids decode back to each document's normalized text") {
    val rows = CorpusQueries.q84(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val texts = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    val m = CorpusQueries.bpeModel(spark, dir) // the cached model q84 used
    rows.foreach { case (docId, n, idsStr) =>
      val ids = idsStr.split(",").filter(_.nonEmpty).map(_.toInt).toSeq
      assert(ids.length == n)
      assert(ids.forall(_ >= 1)) // byte fallback means no OOV 0 ever
      val norm = texts(docId).trim.toLowerCase.split("\\s+").mkString(" ").trim
      assert(Bpe.decode(ids, m) == norm, s"doc $docId round-trip mismatch")
    }
  }

  test("q85 packing offsets are consistent in BPE units") {
    val rows = CorpusQueries.q85(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // doc_id-ordered: each start offset is the running sum of lengths
    var cum = 0L
    rows.sortBy(_._1).foreach { case (_, n, start, first, last) =>
      assert(start == cum); cum += n
      assert(first == start / 2048 && last == (cum - 1) / 2048)
      assert(n >= 1) // every doc has at least the end-of-word token
    }
  }

  test("q81 OOV sentinel: vocab ids are 1-based so 0 never collides") {
    // q81 assigns ids with row_number() over the q45 vocabulary — the
    // smallest assigned id must be 1, keeping 0 free as the OOV marker.
    import org.apache.spark.sql.expressions.Window
    val ids = CorpusQueries.q45(spark, dir)
      .withColumn("id",
        row_number().over(Window.orderBy(desc("df"), asc("term"))).cast("long"))
      .select("id").collect().map(_.getLong(0))
    assert(ids.min == 1L && !ids.contains(0L))
  }
}

package graft.functions

import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Byte-pair-encoding tokenizer — train, encode, decode — implemented
  * from the published algorithm (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016,
  * with the rank-greedy encode loop popularized by GPT-2's tokenizer
  * and SentencePiece's `<0xNN>` byte-fallback convention for characters
  * unseen in training). Pure deterministic Scala on the driver /
  * inside executors — no RNG, no partition-order dependence, so every
  * query built on it is reproducible run-to-run.
  *
  * Training operates on a WORD-FREQUENCY table, not the raw corpus —
  * the standard formulation: Spark reduces the corpus to (word, count)
  * in one shuffle (the distinct-word table is Heaps-law small relative
  * to any corpus), the table is capped to the top-K words
  * (deterministic count-desc/word-asc cut), and the merge loop runs
  * driver-side bounded by `numMerges` — the same bounded-driver-loop
  * shape as IVF's k-means centroids (Similarity.ivfIndex). Each word is
  * a char-symbol sequence with a separate end-of-word marker `</w>`
  * (Sennrich's formulation), so merges can learn suffix units like
  * `est</w>`.
  *
  * Vocabulary ids are 1-BASED: id 0 is reserved as the OOV/padding
  * sentinel (the same invariant q81's whole-word encoding relies on)
  * and is never assigned. Ids 1–256 are the byte-fallback tokens
  * `<0x00>`–`<0xFF>` — always present, which is what makes encode
  * TOTAL: any character unseen in training decomposes into its UTF-8
  * bytes rather than an OOV. Decode therefore inverts encode exactly:
  * `decode(encode(text))` equals the whitespace-normalized text
  * (lowercased, tokens joined by single spaces — the same
  * normalization as TextFns.tokens). Pathological caveat, documented
  * not hidden: input text that literally contains the marker string
  * `</w>` or a `<0xNN>` byte-token literal is not round-trippable
  * (Sennrich's representation shares this).
  */
object Bpe extends Serializable {

  val EndOfWord = "</w>"

  /** Reserved OOV/padding id — never assigned to any symbol. */
  val OovId = 0

  private def byteTok(b: Int): String = f"<0x$b%02X>"
  private def isByteTok(sym: String): Boolean =
    sym.length == 6 && sym.startsWith("<0x") && sym.charAt(5) == '>'

  /** Split a word into CODE-POINT symbols (not UTF-16 units): a
    * supplementary character (emoji, rare CJK) stays one symbol
    * instead of decomposing into two lone surrogates that a UDF
    * round-trip through UTF8String would corrupt to '?'.
    */
  private[functions] def symbolize(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Code-point (= UTF-8 binary) string order — the order Spark's
    * UTF8String comparisons and `orderBy` use. The driver merge loop's
    * tiebreaks MUST use this (not String.compareTo, which orders by
    * UTF-16 unit and ranks U+E000..U+FFFF ABOVE supplementary
    * characters) or [[trainDistributed]]'s documented exact
    * equivalence to [[train]] breaks on non-BMP text.
    */
  private[functions] def cpCompare(x: String, y: String): Int = {
    val a = x.getBytes(StandardCharsets.UTF_8)
    val b = y.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
  private[functions] val CpOrdering: Ordering[String] =
    (x: String, y: String) => cpCompare(x, y)

  /** A trained tokenizer: ordered merge list, 1-based symbol vocabulary
    * (0 = OOV sentinel, ids 1–256 = byte tokens), and the rank table
    * driving the greedy encode. Serializable so executors can apply it
    * via a broadcast.
    */
  final case class Model(
      merges: IndexedSeq[(String, String)],
      vocab: Map[String, Int],
      inverse: Map[Int, String],
      ranks: Map[(String, String), Int]) extends Serializable {
    require(!vocab.valuesIterator.contains(OovId),
      "vocab ids are 1-based; id 0 is the reserved OOV sentinel")
    def encode(text: String): IndexedSeq[Int] = Bpe.encode(text, this)
    def decode(ids: Seq[Int]): String = Bpe.decode(ids, this)
  }

  /** Merge every non-overlapping occurrence of `pair`, left to right. */
  private def mergeOnce(syms: Vector[String],
                        pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Train `numMerges` merges over a (word, count) table. Deterministic:
    * the best pair each round is max count with lexicographic (left,
    * right) tiebreak; stops early when no adjacent pair remains.
    *
    * The merge loop is INCREMENTAL (the subword-nmt fast path): pair
    * counts live in a hash map mirrored by a (count, left, right)
    * ordered set, and each merge re-scans only the words that CONTAIN
    * the merged pair (a pair → word-index inverted index), updating the
    * touched pair counts by delta. The r1–r12 loop re-counted every
    * pair of every word per merge — O(merges · Σ|word|), which is why
    * it shipped behind a top-2048-word / 200-merge cap; the incremental
    * form is O(Σ affected-word lengths · log P) and trains 8K+ merges
    * on a full corpus vocabulary driver-side. BpeSpec pins the two
    * forms equal (the naive loop lives on in the spec as the oracle).
    */
  def train(wordCounts: Seq[(String, Long)], numMerges: Int): Model = {
    val words: Vector[(Vector[String], Long)] = wordCounts.toVector.map {
      case (w, c) => (symbolize(w) :+ EndOfWord, c)
    }
    buildModel(
      wordCounts.flatMap(wc => symbolize(wc._1)).distinct.sorted(CpOrdering),
      mergeLoop(words, numMerges))
  }

  private def buildModel(baseChars: Seq[String],
                         mergeList: IndexedSeq[(String, String)]): Model = {
    val symbols = ((0 until 256).map(byteTok) ++ (EndOfWord +: baseChars) ++
      mergeList.map { case (a, b) => a + b }).distinct
    val vocab = symbols.zipWithIndex.map { case (s, i) => (s, i + 1) }.toMap
    Model(mergeList, vocab, vocab.map(_.swap), mergeList.zipWithIndex.toMap)
  }

  /** The incremental merge loop over symbolized words (shared by
    * [[train]] and the driver tail of [[trainDistributed]]).
    */
  private def mergeLoop(words0: Vector[(Vector[String], Long)],
                        numMerges: Int): IndexedSeq[(String, String)] = {
    require(numMerges >= 0)
    val syms = words0.map(_._1).toArray
    val cnts = words0.map(_._2).toArray
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // ordered mirror of pairCount: head = (max count, lexicographically
    // least left, least right) — identical to minBy((-c, a, b))
    val tree = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1) // count DESC
          if (c != 0) c
          else {
            val a = cpCompare(x._2, y._2)
            if (a != 0) a else cpCompare(x._3, y._3)
          }
        }
      })
    def setCount(p: (String, String), nc: Long): Unit = {
      val oc = pairCount.getOrElse(p, 0L)
      if (oc != nc) {
        if (oc > 0) tree.remove((oc, p._1, p._2))
        if (nc > 0) { pairCount(p) = nc; tree.add((nc, p._1, p._2)) }
        else pairCount.remove(p)
      }
    }
    def localPairs(s: Vector[String]): mutable.HashMap[(String, String), Long] = {
      val m = mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        m(p) = m.getOrElse(p, 0L) + 1L
        i += 1
      }
      m
    }
    syms.indices.foreach { wi =>
      localPairs(syms(wi)).foreach { case (p, k) =>
        pairCount(p) = pairCount.getOrElse(p, 0L) + k * cnts(wi)
        pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
      }
    }
    pairCount.foreach { case ((a, b), c) => tree.add((c, a, b)) }
    val out = mutable.ArrayBuffer.empty[(String, String)]
    while (out.length < numMerges && !tree.isEmpty) {
      val h = tree.first()
      val best = (h._2, h._3)
      out += best
      val affected = pairWords.getOrElse(best, mutable.BitSet.empty).toArray
      affected.foreach { wi =>
        val oldS = syms(wi)
        val newS = mergeOnce(oldS, best)
        val oldP = localPairs(oldS)
        val newP = localPairs(newS)
        (oldP.keySet ++ newP.keySet).foreach { p =>
          val d = newP.getOrElse(p, 0L) - oldP.getOrElse(p, 0L)
          if (d != 0L) setCount(p, pairCount.getOrElse(p, 0L) + d * cnts(wi))
          if (newP.contains(p) && !oldP.contains(p))
            pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
          else if (!newP.contains(p) && oldP.contains(p))
            pairWords.get(p).foreach(_ -= wi)
        }
        syms(wi) = newS
      }
      // the merged pair is gone from every word that held it
      setCount(best, 0L)
      pairWords.remove(best)
    }
    out.toIndexedSeq
  }

  /** Train over a DISTRIBUTED (word, count) table: the first
    * `distributedRounds` merge selections run as Spark jobs — per
    * round, one map-side-combined pair-count aggregation (the q70
    * shape: adjacent symbol pairs exploded with word weights) and a
    * TakeOrdered argmax with the same (-count, left, right) tiebreak,
    * then a map-only merge application — and the remainder of the
    * budget runs through the incremental driver loop over the
    * collected, partially-merged word table.
    *
    * Why this split: the earliest merges are the global-scan-heavy
    * ones (every word is all-characters, the pair table is at its
    * widest), and they are exactly the rounds that parallelize as
    * plain aggregations — while merge 5000 touches a handful of words
    * and belongs on the driver. The distinct-word table itself is
    * Heaps-law small relative to any corpus (collecting it is the
    * standard trainer formulation — subword-nmt, SentencePiece — and
    * what caps driver memory, not the corpus size), so the collect
    * after the distributed prefix is safe by construction; the r1–r12
    * top-2048-word cap existed only to keep the NAIVE driver loop
    * affordable and is gone.
    *
    * Exactly equivalent to [[train]] on the same table: each round
    * applies the same deterministic selection rule to the same word
    * state, whichever engine computes it (BpeSpec pins equality,
    * including at round boundaries 0 / mid / all).
    *
    * The distributed→driver switch is ADAPTIVE when
    * `collectBudgetBytes > 0` (r14 verdict #5: a fixed round count is
    * a hand-tuned cliff — correct at sf0.1, but a 100 TB vocabulary's
    * early merges may need dozens of distributed rounds before the
    * word table is collectable): after the fixed prefix, training
    * STAYS distributed while the live word table's estimated
    * driver-side footprint exceeds the budget, and collects only once
    * it fits. Merging is what shrinks the footprint — each applied
    * merge turns two array elements into one, and per-element JVM
    * overhead dominates a symbolized word's size — so the loop always
    * terminates: by `numMerges` merges at the latest, the table is as
    * small as this vocabulary gets and is collected regardless (the
    * budget protects the driver during the wide early regime; a
    * fully-merged table that still exceeds it IS the Heaps-law bound
    * and no round count changes that). `collectBudgetBytes = 0`
    * preserves the fixed-round behavior exactly.
    */
  /** Diagnostic: how many merge rounds the last [[trainDistributed]]
    * call ran distributed before collecting (spec-visible switch
    * point; single-threaded test use only).
    */
  private[graft] var lastDistributedRounds: Int = -1

  def trainDistributed(wordCounts: org.apache.spark.sql.DataFrame,
                       wordCol: String, countCol: String, numMerges: Int,
                       distributedRounds: Int = 4,
                       collectBudgetBytes: Long = 0L): Model = {
    import org.apache.spark.sql.functions._
    require(numMerges >= 0 && distributedRounds >= 0)
    // code-point symbolization (NOT per-UTF-16-char): supplementary
    // characters stay whole symbols, matching [[train]]
    val symsUdf = udf { w: String => symbolize(w) :+ EndOfWord }
    // per-round eager checkpoints: each round releases the superseded
    // round's blocks ([[graft.operators.Checkpoints.release]]), and the
    // final one is released after the collect()
    var df = wordCounts.select(symsUdf(col(wordCol)).as("syms"),
        col(countCol).cast("long").as("n"))
      .localCheckpoint()
    // base chars from the SAME symbolization (code-point symbols), in
    // code-point order so vocab ids match train()'s exactly
    val baseChars = df
      .select(explode(col("syms")).as("ch"))
      .where(col("ch") =!= EndOfWord)
      .distinct().collect().map(_.getString(0)).sorted(CpOrdering).toSeq
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    // Estimated DRIVER-side footprint of collecting the live word table:
    // per word ~64 B of tuple/array headers plus, per symbol, ~56 B of
    // String+char[] object overhead + 2 B/char payload. Deliberately a
    // JVM-object estimate, not a serialized-size one — the collect's
    // cost is retained heap on the driver.
    def estCollectBytes: Long = {
      val r = df.agg(sum(expr(
        """aggregate(transform(syms, s -> 56L + 2L * length(s)),
          |          64L, (acc, x) -> acc + x)""".stripMargin))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val fixedRounds = math.min(distributedRounds, numMerges)
    def stayDistributed: Boolean =
      merges.length < fixedRounds ||
        (collectBudgetBytes > 0L && merges.length < numMerges &&
          estCollectBytes > collectBudgetBytes)
    while (!exhausted && stayDistributed) {
      val top = df
        .select(explode(when(size(col("syms")) >= 2, expr(
          """transform(sequence(0, size(syms) - 2),
            |  i -> struct(syms[i] AS a, syms[i + 1] AS b))""".stripMargin))
          .otherwise(expr("array()"))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("c"))
        .orderBy(desc("c"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val best = (top(0).getString(0), top(0).getString(1))
        merges += best
        val applyUdf = udf { s: Seq[String] =>
          mergeOnce(s.toVector, best): Seq[String]
        }
        val ck = df.select(applyUdf(col("syms")).as("syms"), col("n"))
          .localCheckpoint()
        graft.operators.Checkpoints.release(df)
        df = ck
      }
    }
    lastDistributedRounds = merges.length // test-visible switch point
    val words = df.collect().map(r =>
      (r.getSeq[String](0).toVector, r.getLong(1))).toVector
    graft.operators.Checkpoints.release(df)
    val tail =
      if (exhausted) IndexedSeq.empty
      else mergeLoop(words, numMerges - merges.length)
    buildModel(baseChars, merges.toIndexedSeq ++ tail)
  }

  /** Encode one word: greedy lowest-rank merging (the GPT-2 loop), then
    * symbol → id with UTF-8 byte fallback for unseen characters.
    */
  private def encodeWord(w: String, m: Model): Seq[Int] = {
    var syms = symbolize(w) :+ EndOfWord
    var continue = true
    while (continue && syms.length > 1) {
      var bestRank = Int.MaxValue
      var best: (String, String) = null
      var i = 0
      while (i < syms.length - 1) {
        val r = m.ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (best == null) continue = false
      else syms = mergeOnce(syms, best)
    }
    syms.flatMap { sym =>
      m.vocab.get(sym) match {
        case Some(id) => Seq(id)
        case None => // single unseen char — decompose to byte tokens
          sym.getBytes(StandardCharsets.UTF_8).toSeq
            .map(b => m.vocab(byteTok(b & 0xff)))
      }
    }
  }

  /** Whitespace-normalize (as TextFns.tokens) and encode every word. */
  def encode(text: String, m: Model): IndexedSeq[Int] =
    text.trim.toLowerCase.split("\\s+").toIndexedSeq
      .flatMap(w => encodeWord(w, m))

  /** Exact inverse of [[encode]] up to whitespace normalization: byte
    * tokens are buffered and UTF-8-decoded in runs; `</w>` markers
    * become the single spaces encode normalized to. Unknown ids (the
    * OOV sentinel 0 included) decode to nothing.
    */
  def decode(ids: Seq[Int], m: Model): String = {
    val sb = new StringBuilder
    val bytes = mutable.ArrayBuffer.empty[Byte]
    def flush(): Unit = if (bytes.nonEmpty) {
      sb.append(new String(bytes.toArray, StandardCharsets.UTF_8))
      bytes.clear()
    }
    ids.foreach { id =>
      m.inverse.get(id) match {
        case Some(sym) if isByteTok(sym) =>
          bytes += Integer.parseInt(sym.substring(3, 5), 16).toByte
        case Some(sym) => flush(); sb.append(sym)
        case None => // OOV sentinel / unknown id: nothing to emit
      }
    }
    flush()
    sb.toString.replace(EndOfWord, " ").trim
  }
}

package graft.operators

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Distributed suffix array by prefix doubling with Larsson–Sadakane
  * group refinement — the exact-substring substrate behind
  * suffix-array dedup (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better"). q126/q127 approximate that paper's
  * signal with fixed-L grams; the suffix array is the offset-exact,
  * ANY-length ground truth: it surfaces the longest duplicated
  * substring without choosing L.
  *
  * Suffixes never cross document boundaries (each doc is a terminated
  * string, the multi-string SA convention), and the order is total:
  * byte-equal whole suffixes tie-break by (doc_id, position) — exactly
  * what the DuckDB oracle's `row_number() OVER (ORDER BY suffix,
  * doc_id, p)` computes (the corpus is ASCII, so JVM char order and
  * DuckDB byte order agree).
  *
  * Algorithm, Spark-first:
  *  - positions keyed as one long `gid = doc_id·stride + p`; the
  *    level-3 start key (first 8 chars packed big-endian into a long,
  *    0-padded past doc end — ASCII < 0x80, so pack order IS string
  *    order and the pad sorts shorter-prefix first) is computed
  *    map-side inside the explode, skipping three doubling rounds;
  *  - initial rank = global row number of each key-group's HEAD
  *    ([[headRank]], a PrefixSum-style two-pass scan — never a global
  *    window). Group-head numbering is the Larsson–Sadakane invariant:
  *    a subgroup's new rank = parent rank + members-before, so settled
  *    (unique-rank) suffixes NEVER re-rank;
  *  - each round k doubles the resolved prefix: only the ACTIVE rows
  *    (groups ≥ 2 — positions inside ≥k-char duplicated regions, a set
  *    that shrinks every round) look up the rank at p+k in the full
  *    table T (equi-join on gid; T stays hash-partitioned on gid
  *    across rounds so only the small active side shuffles), then
  *    split within each group by that rank. The split is the
  *    agg+join-back form (per-(group, r2) counts + a running sum over
  *    the DISTINCT splits), not `rank() OVER (PARTITION BY group)`
  *    over members — a boilerplate 10⁸-fold duplicate at 100 TB would
  *    land every occurrence in one window task, while its distinct-r2
  *    table stays small (q126's skew rule);
  *  - looking up a settled neighbor's rank compares MORE than k chars
  *    at once (the Larsson–Sadakane shortcut): a subgroup sorted by a
  *    fully-resolved neighbor settles immediately;
  *  - residual ties at k ≥ maxDocLen are byte-equal suffixes; the
  *    final (doc_id, p) tie-break is a per-group row_number over that
  *    residue only (duplicate-multiplicity-sized groups, not corpus-
  *    sized partitions).
  *
  * Cost: one n-row scan pass + Σ_k |active_k| join/agg work — at most
  * the classic O(n log maxLen) doubling bound, and far less on real
  * corpora where most positions settle in the first rounds.
  */
object SuffixArray {

  /** Range-layout for [[headRank]]: global sort order on `k`, with
    * `gid` as a SECONDARY range key so byte-equal keys split across
    * partitions instead of piling into one (a RangePartitioner cannot
    * split ties on its sole key — r13's measured ceiling: a
    * dup-degenerate corpus put every copy of the template's 64-char
    * start key into ONE partition, and no partition COUNT could cap
    * that task's sort). gid is unique, so (k, gid) has no ties at all;
    * within-group order is irrelevant to headRank (members share their
    * head's rank), and a group straddling partitions was ALREADY
    * handled by the driver-side continuation fold — the secondary key
    * just makes the straddle the designed-for layout rather than an
    * edge case.
    */
  private[operators] def rangeByKeyGid(df: DataFrame,
                                       numPartitions: Int): DataFrame =
    df.select(col("gid"), col("k"))
      .repartitionByRange(numPartitions, col("k"), col("gid"))
      .sortWithinPartitions("k", "gid")

  /** Two-pass distributed head rank over `df(gid, k)`: every row gets
    * the 1-based GLOBAL ROW NUMBER of the first row of its key-group
    * in ascending-key order (ties share; sparse, order-embedding),
    * plus the boolean flag `a` — "this key-group has ≥ 2 members" —
    * computed IN the same scan from neighbor-key equality (the
    * partition-boundary neighbors ride the same driver-side stats fold
    * the head continuation uses). The flag used to cost [[build]] a
    * separate corpus-keyed `groupBy(r).count ≥ 2` + semi join right
    * after this method; here it is free.
    * Range-partition on (key, gid) + sort-within (one shuffle, stays
    * parallel, equal keys split — see [[rangeByKeyGid]]),
    * per-partition row counts and boundary keys to the driver
    * (numPartitions-sized, not data-sized), then a second pass
    * assigns `partition row base + local group head index`; a group
    * split across partitions inherits its head's global index through
    * the driver-side continuation fold.
    */
  def headRank(df: DataFrame, numPartitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val rdd = rangeByKeyGid(df, numPartitions)
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // (pid, rowCount, firstKey, lastKey, localIdxOfLastGroupHead) —
      // the scans only ever test key EQUALITY (Spark did the sorting),
      // so the key column may be any equatable type (long, string, …)
      val stats = rdd.mapPartitionsWithIndex { (pid, it) =>
        var n = 0L
        var first: Any = null; var last: Any = null; var lastHead = 0L
        var any = false
        it.foreach { r =>
          val k = r.get(1)
          if (!any) { first = k; last = k; lastHead = 0L; any = true }
          else if (k != last) { lastHead = n; last = k }
          n += 1
        }
        if (!any) Iterator.empty else Iterator((pid, n, first, last, lastHead))
      }.collect().sortBy(_._1)
      val rowBase = new Array[Long](numPartitions)
      val leadHead = new Array[Long](numPartitions)
      // boundary neighbors for the group-size flag: the key preceding
      // each partition's first row / following its last row in global
      // order (null = no neighbor; keys themselves are never null)
      val prevLastKey = new Array[Any](numPartitions)
      val nextFirstKey = new Array[Any](numPartitions)
      var base = 0L
      var prevLast: Any = null
      var prevHead = 0L
      var anyPrev = false
      stats.foreach { case (pid, n, first, last, lastHeadLocal) =>
        rowBase(pid) = base
        leadHead(pid) = if (anyPrev && first == prevLast) prevHead else base
        prevLastKey(pid) = prevLast
        // the last group's head: if the whole partition is one key that
        // continues the previous group, the head carries through
        prevHead =
          if (first == last && anyPrev && first == prevLast) prevHead
          else base + lastHeadLocal
        prevLast = last
        base += n
        anyPrev = true
      }
      var nextFirst: Any = null
      stats.reverseIterator.foreach { case (pid, _, first, _, _) =>
        nextFirstKey(pid) = nextFirst
        nextFirst = first
      }
      val rowBaseB = spark.sparkContext.broadcast(rowBase)
      val leadHeadB = spark.sparkContext.broadcast(leadHead)
      val prevKeyB = spark.sparkContext.broadcast(prevLastKey)
      val nextKeyB = spark.sparkContext.broadcast(nextFirstKey)
      val out = rdd.mapPartitionsWithIndex { (pid, it0) =>
        val rb = rowBaseB.value(pid)
        val it = it0.buffered
        var idx = 0L
        var prev: Any = prevKeyB.value(pid)
        var head = leadHeadB.value(pid)
        var started = prev != null
        it.map { r =>
          val k = r.get(1)
          val prevK: Any = if (started) prev else null
          if (!started) { started = true; prev = k }
          else if (k != prev) { head = rb + idx; prev = k }
          val nextK: Any =
            if (it.hasNext) it.head.get(1) else nextKeyB.value(pid)
          idx += 1
          val a = (prevK != null && prevK == k) || (nextK != null && nextK == k)
          Row(r.getLong(0), head + 1L, a)
        }
      }
      spark.createDataFrame(out,
          new org.apache.spark.sql.types.StructType()
            .add("gid", LongType, nullable = false)
            .add("r", LongType, nullable = false)
            .add("a", org.apache.spark.sql.types.BooleanType, nullable = false))
        .localCheckpoint()
    } finally rdd.unpersist(blocking = false)
  }

  /** Build the suffix array: (doc_id, p, sa_rank) with 1-based total
    * suffix order; positions are 1-based (SQL substring convention).
    *
    * ADAPTIVE DISPATCH (the same driver/distributed split this repo
    * uses for connected components, the LCP walk, and BPE): a corpus
    * whose chars fit [[localMaxChars]] builds in ONE Spark task with
    * in-memory prefix doubling over primitive arrays
    * ([[buildBySingleTask]]) — this is literally the published shape
    * of exact-substring dedup at scale (Lee et al. 2022 run the
    * suffix-array pass per shard on a single large-memory machine;
    * [[shardedDedupCut]] sizes shards against exactly such a budget),
    * and at bench scale it removes the doubling rounds' ~6–8 driver
    * jobs per round whose fixed cost dominates the wall. Larger
    * corpora run the distributed doubling below, unchanged.
    * `-Dgraft.sa.path=local|distributed` pins one path — the
    * graft.lcp.path precedent: the scale rehearsal pins `distributed`
    * at every tier (and Bench re-measures the pinned 1× base) so the
    * published exponents compare one algorithm.
    *
    * The distributed path runs with AQE DISABLED (saved/restored — the
    * same contract as the LCP hash walk, see [[adjacentLcp]]): every
    * doubling round joins the corpus-sized checkpointed rank table `t`
    * on its own (gid) hash layout, and under AQE the checkpoint's
    * LogicalRDD reports UnknownPartitioning, so each round
    * re-exchanged the FULL rank table twice (rank lookup + rank
    * update) for a round whose own data needs are active-set-sized.
    * With AQE off the layout survives and only the shrinking active
    * side moves (measured at sf0.1: q137 shuffle write
    * 271.7 → 115.3 MB, and the sharded kernel's q174 — 4 of these
    * builds — 321.1 → 216.6 MB; the removed volume grows with
    * corpus × rounds at 100 TB). Same single-query-at-a-time session
    * contract as the walk.
    */
  def build(docs: DataFrame, docIdCol: String = "doc_id",
            textCol: String = "text", numPartitions: Int = 32,
            startKeyChars: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val statsRow = docs
      .agg(max(length(col(textCol))), sum(length(col(textCol)))).head
    val maxLen = if (statsRow.isNullAt(0)) 0 else statsRow.getInt(0)
    val sumLen = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    val boundary = localMaxChars
    val useLocal = System.getProperty("graft.sa.path", "auto") match {
      case "local"       => true
      case "distributed" => false
      case _             => sumLen <= boundary
    }
    // the decision is logged either way (adjacentLcp's rule): every
    // artifact records which algorithm actually ran
    System.err.println(s"[suffixarray] build: corpus=${sumLen} chars " +
      s"boundary=$boundary path=" +
      (if (useLocal) "single-task" else "distributed-doubling"))
    if (useLocal) buildBySingleTask(docs, docIdCol, textCol, numPartitions)
    else {
      val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try buildNoAqe(docs, docIdCol, textCol, numPartitions, startKeyChars,
        maxLen, sumLen)
      finally prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
  }

  /** Char budget of the single-task build path: working set is
    * ~26 B/char of primitive arrays (key + sorted-key long, rank int,
    * docOf/posOf ints) + the ~2 B/char doc strings, so the default
    * derives from the heap of the JVM THE TASK RUNS ON (heap/256 chars
    * ≈ heap/9 working set) capped at 64 M chars — a shard autoShards
    * sized against a multi-GB machine budget stays on the distributed
    * path, and so do the rehearsal's 100× tiers even unpinned.
    *
    * EXECUTOR-AWARE (r18 verdict #4): the kernel executes as one task
    * on an EXECUTOR; in local mode driver and executor share a JVM, but
    * on a real cluster the driver's `Runtime.maxMemory` says nothing
    * about the executor heap — a big driver next to small executors
    * would dispatch a corpus the task then OOMs on. When
    * `spark.executor.memory` is set, the budget derives from it divided
    * by `spark.executor.cores` (concurrent tasks share the heap;
    * unitless values are MiB, Spark's convention for this conf), and
    * the driver heap only CAPS it (never raises it past what the
    * driver-side collect paths were sized for). SuffixArraySpec pins
    * the derivation.
    */
  def localMaxChars: Long = {
    val sess = org.apache.spark.sql.SparkSession.getActiveSession
    localMaxCharsFor(
      sess.flatMap(_.conf.getOption("spark.executor.memory")),
      sess.flatMap(_.conf.getOption("spark.executor.cores")),
      Runtime.getRuntime.maxMemory())
  }

  /** The [[localMaxChars]] derivation as a pure function (spec-pinned).
    * @param execMem  `spark.executor.memory` if set ("4g", "512m", or
    *                 unitless MiB — Spark's unit convention for it)
    * @param execCores `spark.executor.cores` if set
    * @param jvmMaxBytes this JVM's `Runtime.maxMemory`
    */
  private[operators] def localMaxCharsFor(execMem: Option[String],
                                          execCores: Option[String],
                                          jvmMaxBytes: Long): Long = {
    val taskHeap: Long = execMem
      .flatMap { m =>
        try {
          val bytes = JavaUtils.byteStringAsMb(m) << 20
          val cores = execCores.flatMap(c => scala.util.Try(c.toInt).toOption)
            .filter(_ >= 1).getOrElse(1)
          Some(math.min(bytes / cores, jvmMaxBytes))
        } catch { case _: Exception => None }
      }
      .getOrElse(jvmMaxBytes)
    math.min(64L << 20, math.max(1L << 20, taskHeap / 256))
  }

  /** Single-task in-memory build: the corpus (sorted by doc id — the
    * enumeration order IS the (doc_id, p) tie-break) flows into one
    * task that runs classic prefix doubling over primitive long/int
    * arrays — sort distinct (rank, rank-at-p+k) pairs, binary-search
    * each position's pair back to its dense rank, double k — exactly
    * the order the distributed rounds compute (SuffixArraySpec pins
    * local ≡ distributed ≡ brute on duplicated/tied/empty corpora).
    * The start key packs 7 chars into one long (8-bit lanes of c+1,
    * 0-padded past doc end, so pack order is string order and shorter
    * suffixes sort first) when the corpus is 8-bit-clean, skipping
    * ~3 rounds; rare wider-char corpora fall back to k0 = 1. The
    * result is checkpointed once (consumers probe it repeatedly;
    * callers own the release — [[cached]] re-checkpoints and frees
    * it, shardedDedupCut's per-shard release covers the sharded case)
    * and repartitioned so downstream stages keep their parallelism.
    */
  private[operators] def buildBySingleTask(docs: DataFrame, docIdCol: String,
                                           textCol: String,
                                           numPartitions: Int): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs
      .filter(length(col(textCol)) >= 1) // empty docs contribute no suffix
      .select(col(docIdCol).cast("long"), col(textCol))
      .coalesce(1)
      .rdd
      .mapPartitions(localSaRows)
    val schema = new org.apache.spark.sql.types.StructType()
      .add(docIdCol, LongType)
      .add("p", org.apache.spark.sql.types.IntegerType)
      .add("sa_rank", LongType)
    spark.createDataFrame(rdd, schema)
      .repartition(numPartitions, col(docIdCol), col("p"))
      .localCheckpoint()
  }

  /** The in-task kernel behind [[buildBySingleTask]] (rows are
    * (doc_id long, text string), one partition = the whole corpus).
    */
  private def localSaRows(it: Iterator[Row]): Iterator[Row] = {
    val sorted = it.map(r => (r.getLong(0), r.getString(1))).toArray
      .sortBy(_._1)
    val nDocs = sorted.length
    var total = 0L
    var d = 0
    while (d < nDocs) { total += sorted(d)._2.length; d += 1 }
    require(total < Int.MaxValue - 8,
      s"single-task SA build got $total chars - dispatch bug (localMaxChars)")
    val n = total.toInt
    if (n == 0) return Iterator.empty
    val lens = new Array[Int](nDocs)
    val docOf = new Array[Int](n)
    val posOf = new Array[Int](n) // 1-based (SQL substring convention)
    var maxLen = 0
    var maxC = 0
    var off = 0
    d = 0
    while (d < nDocs) {
      val t = sorted(d)._2
      val len = t.length
      lens(d) = len
      if (len > maxLen) maxLen = len
      var p = 0
      while (p < len) {
        val c = t.charAt(p)
        if (c > maxC) maxC = c
        docOf(off) = d; posOf(off) = p + 1
        off += 1; p += 1
      }
      d += 1
    }
    // dense order-embedding ranks (0-based) from one sort of the keys +
    // in-place dedup + per-position binary search back; returns the
    // distinct-key count (== n means fully resolved)
    val keys = new Array[Long](n)
    val rank = new Array[Int](n)
    def assignRanks(): Int = {
      val s = keys.clone()
      java.util.Arrays.sort(s)
      var m = 0
      var i = 0
      while (i < n) {
        if (m == 0 || s(i) != s(m - 1)) { s(m) = s(i); m += 1 }
        i += 1
      }
      i = 0
      while (i < n) {
        rank(i) = java.util.Arrays.binarySearch(s, 0, m, keys(i))
        i += 1
      }
      m
    }
    var g = 0
    val k0 = if (maxC <= 254) 7 else 1
    if (k0 == 7) {
      while (g < n) {
        val t = sorted(docOf(g))._2
        val p0 = posOf(g) - 1
        val len = t.length
        var v = 0L
        var i = 0
        while (i < 7) {
          v = (v << 8) | (if (p0 + i < len) t.charAt(p0 + i).toInt + 1 else 0)
          i += 1
        }
        keys(g) = v
        g += 1
      }
    } else {
      while (g < n) {
        keys(g) = sorted(docOf(g))._2.charAt(posOf(g) - 1).toLong + 1L
        g += 1
      }
    }
    var nDistinct = assignRanks()
    // k is a Long so the doubling can never overflow Int: under a
    // forced -Dgraft.sa.path=local pin on a corpus with maxLen beyond
    // ~2^30 chars, an Int k would wrap negative before reaching maxLen
    // and rank(g+k) would throw ArrayIndexOutOfBounds instead of
    // terminating (r18 ADVICE); with a Long the loop ends at
    // k >= maxLen exactly as the algorithm requires.
    var k: Long = k0.toLong
    while (nDistinct < n && k < maxLen) {
      g = 0
      while (g < n) {
        // position p+k of the same doc sits at global index g+k when it
        // exists; a suffix shorter than k is fully resolved and its
        // missing rank (0) sorts before every real rank+1
        val r2 =
          if (posOf(g) - 1 + k < lens(docOf(g))) rank((g + k).toInt) + 1 else 0
        keys(g) = (rank(g).toLong << 32) | r2.toLong
        g += 1
      }
      nDistinct = assignRanks()
      k <<= 1
    }
    // residual shared ranks are byte-equal whole suffixes; g ascending
    // IS (doc_id, p) ascending — the tie-break falls out of the sort
    g = 0
    while (g < n) { keys(g) = (rank(g).toLong << 32) | g.toLong; g += 1 }
    java.util.Arrays.sort(keys)
    new Iterator[Row] {
      private var i = 0
      override def hasNext: Boolean = i < n
      override def next(): Row = {
        val gg = (keys(i) & 0xFFFFFFFFL).toInt
        i += 1
        Row(sorted(docOf(gg))._1, posOf(gg), i.toLong)
      }
    }
  }

  private def buildNoAqe(docs: DataFrame, docIdCol: String,
                         textCol: String, numPartitions: Int,
                         startKeyChars: Int, maxLen: Int,
                         sumLen: Long): DataFrame = {
    val spark = docs.sparkSession
    // rank lookups probe gid + k with p ≤ maxLen and k < maxLen, so the
    // per-doc id range must absorb offsets up to 2·maxLen or a probe
    // past one doc's end would alias into the NEXT doc's positions
    val stride = 2L * maxLen + 2L
    // start key: the raw startKeyChars-char window as a STRING (ASCII ⇒
    // string order is byte order; truncation at doc end sorts
    // shorter-prefix first, matching suffix order). A plain substring
    // over an exploded position column stays inside whole-stage codegen
    // — a packed-long start key via nested transform/aggregate lambdas
    // is interpreted row-at-a-time and measured 15× slower. Key length
    // trades initial-sort byte amplification (startKeyChars × corpus
    // bytes in the ONE dominant shuffle) against doubling rounds, each
    // a fixed ~1.5 s of jobs at bench scale regardless of active-set
    // size. Measured at sf0.1 (maxLen 553, warm pass): k0=32 → 5 rounds,
    // 16.2 s; 64 → 4 rounds, 15.3 s; 128 → 3 rounds, 13.3 s. Default 64:
    // the next doubling buys ~2 s here but doubles the dominant
    // shuffle's bytes, which is the wrong side of the trade at 100 TB —
    // at scale the fixed round cost vanishes relative to data and the
    // knob should go SMALLER, not larger.
    val k0 = startKeyChars.toLong
    // empty docs contribute no suffix; without the guard,
    // sequence(1, 0) is the DESCENDING [1, 0] and would emit two
    // spurious empty-key positions per empty doc
    val pos = docs
      .filter(length(col(textCol)) >= 1)
      .select(col(docIdCol).as("d"), col(textCol).as("t"),
        explode(sequence(lit(1), length(col(textCol)))).as("p"))
      .select((col("d") * stride + col("p")).as("gid"),
        expr(s"substring(t, p, $k0)").as("k"))
    // SPILL-AWARE partition count (the second-decade rehearsal's find:
    // the fixed 32 blew Java heap at 100× — 1.5G suffix rows × ~(key +
    // gid) bytes ≈ 120 GB through 32 sort partitions is ~3.8 GB per
    // task). Partitions scale with the suffix table's estimated bytes
    // (one row per corpus char, each carrying the k0-char start key)
    // at ~256 MB per partition; `numPartitions` stays the floor so
    // bench-scale plans are unchanged, and the cap bounds driver-side
    // boundary arrays (headRank holds two numPartitions-length arrays).
    val partitions = math.max(numPartitions,
      math.min(1024L, sumLen * (k0 + 16L) / (256L << 20) + 1L).toInt)
    // t: (gid, r, a) — rank + "my group still has >= 2 members" flag,
    // hash-partitioned AND sorted within partitions on gid so every
    // round's joins accept it AS IS (AQE is off — the layout survives
    // the checkpoint; the sort keeps the SMJ fallback below exchange-
    // and sort-free on the corpus side). The flag arrives FREE from
    // headRank's scan — the old separate groupBy(r)/semi-join pass to
    // seed the active set was one extra corpus-keyed shuffle + join +
    // checkpoint before the first round.
    var t = headRank(pos, partitions)
      .repartition(partitions, col("gid"))
      .sortWithinPartitions("gid")
      .localCheckpoint()
    var nActive = t.filter(col("a")).count()
    var k = k0
    while (nActive > 0 && k < maxLen) {
      // shuffled-hash hints are CONDITIONAL on the build side fitting
      // in execution memory (the walk's rule, same 1M-rows/partition
      // bound): active-set-sized sides build, the corpus-sized t/lk
      // side streams in place with no exchange and no sort. Oversized
      // early rounds at giant corpora fall back to sort-merge, which
      // spills gracefully — the checkpoint's within-partition gid sort
      // keeps even that fallback exchange-free on the corpus side.
      val buildFits = nActive / partitions <= 1000000L
      def hinted(df: DataFrame): DataFrame =
        if (buildFits) df.hint("shuffle_hash") else df
      val active = t.filter(col("a")).select(col("gid"), col("r"))
      val lk = t.select(col("gid").as("lgid"), col("r").as("r2"))
      val withR2 = hinted(active.withColumn("lgid", col("gid") + k))
        .join(lk, Seq("lgid"), "left")
        .select(col("gid"), col("r"), coalesce(col("r2"), lit(-1L)).as("r2"))
      // subgroup sizes + running head offsets over the DISTINCT (r, r2)
      // splits — window partitions are split-table-sized, not member-sized
      val cnt = withR2.groupBy("r", "r2").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("r").orderBy("r2")
        .rowsBetween(Window.unboundedPreceding, -1)
      val heads = cnt.withColumn("off", coalesce(sum(col("c")).over(w), lit(0L)))
      val upd = withR2.join(hinted(heads), Seq("r", "r2"))
        .select(col("gid"), (col("r") + col("off")).as("nr"),
          (col("c") >= 2).as("na"))
      // ONE checkpoint per round (the old form checkpointed upd, t and
      // active separately — three corpus-adjacent materialization jobs
      // per round): the new t carries the updated rank AND the active
      // flag, so next round's active set is a free filter of t. The
      // superseded round's checkpoint is released (by frame, see
      // [[Checkpoints.release]]) as soon as its rows are drained into
      // the new one, so peak storage is two rounds' t, not the sum of
      // all rounds — the q137 100×-build heap-debt class (r17 verdict
      // #2) shrinks by rounds×.
      val tNew = t.join(hinted(upd), Seq("gid"), "left")
        .select(col("gid"), coalesce(col("nr"), col("r")).as("r"),
          coalesce(col("na"), lit(false)).as("a"))
        .sortWithinPartitions("gid")
        .localCheckpoint()
      nActive = tNew.filter(col("a")).count()
      Checkpoints.release(t)
      t = tNew
      k *= 2
    }
    // residual ties are byte-equal whole suffixes: (doc_id, p) == gid
    // order breaks them; per-group row_number over the residue only
    val wr = Window.partitionBy("r").orderBy("gid")
    val resid = t.filter(col("a"))
      .withColumn("fr", col("r") + row_number().over(wr) - 1L)
      .select(col("gid"), col("fr"))
    t.join(resid, Seq("gid"), "left")
      .select(
        expr(s"gid div $stride").as(docIdCol),
        (col("gid") % stride).cast("int").as("p"),
        coalesce(col("fr"), col("r")).as("sa_rank"))
  }

  /** Persist a built suffix array, range-partitioned by rank so a
    * rank-interval probe (adjacent pairs, binary-search windows) reads
    * only the covering files — the same persist-in-a-prunable-layout
    * lifecycle as the IVF and postings indexes. Parquet min/max stats
    * on sa_rank give file-level pruning for rank-range predicates.
    */
  def save(sa: DataFrame, path: String, numPartitions: Int = 32): Unit =
    sa.repartitionByRange(numPartitions, col("sa_rank"))
      .write.mode("overwrite").parquet(path)

  /** Load a persisted suffix array (SuffixArraySpec pins round-trip
    * parity with the in-memory build).
    */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Session-scoped result cache for the SA family's index artifacts:
    * the SA build (q137 builds, q138/q143 probe), the LCP walk (q138
    * walks, q143 cuts), the sharded cut table (q174 runs the kernel,
    * q175/q176/q178 ride it) and the winnow-span table (q176 winnows,
    * q178 rides) — reuse of prior results within a session, so each
    * family pays for one kernel run. Keyed by (session, a key from the
    * builders below: the corpus path plus the artifact's parameters);
    * each value is an eager localCheckpoint, so reuse costs a scan and
    * eviction ([[Checkpoints.release]]) frees its blocks.
    * Testdata dirs are immutable within a run; a mutated corpus needs a
    * fresh key (the caller owns that contract, same as any persisted
    * index). The query that MEANS "compute the artifact" (q137, q138,
    * q174, q176) [[invalidate]]s first so its timing is always a run,
    * never a probe of a prior pass's cache.
    */
  private val resultCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()

  /** Cache keys: the corpus path plus the artifact's parameters. */
  def saKey(corpus: String): String = s"$corpus#sa"
  def lcpKey(corpus: String): String = s"$corpus#lcp"
  def shardedCutKey(corpus: String, minLen: Int, nShards: Int): String =
    s"$corpus#cut#minLen=$minLen#shards=$nShards"
  def winnowSpanKey(corpus: String, minLen: Int, winnowW: Int): String =
    s"$corpus#winnow#minLen=$minLen#w=$winnowW"

  private def cacheKey(spark: SparkSession, key: String) =
    (System.identityHashCode(spark), key)

  /** The cached frame for `key` in this session, or `make` eagerly
    * localCheckpointed and cached, with every intermediate checkpoint
    * `make` left behind freed by the [[Checkpoints.scope]] around it.
    * `make` may itself read other entries (the LCP walk over the
    * cached SA), so it runs OUTSIDE the map's atomic sections —
    * `computeIfAbsent` forbids touching the map from its mapping
    * function — and the scope keeps every cached frame's checkpoint,
    * so an entry created by a nested miss inside `make` stays live.
    * Hit/miss is logged (r17 ADVICE): q174's invalidate-then-recompute
    * makes the family's cost attribution order-dependent under query
    * filters, and a run where q175 computes the whole kernel must be
    * distinguishable from one that rode the cache.
    */
  def cached(spark: SparkSession, key: String)(make: => DataFrame): DataFrame = {
    val k = cacheKey(spark, key)
    val hit = resultCache.get(k)
    System.err.println(
      s"[suffixarray] cache ${if (hit != null) "HIT" else "MISS"}: key=$key")
    if (hit != null) hit
    else Checkpoints.scope(spark, keep = cachedFrames) {
      val entry = make.localCheckpoint() // eager: final blocks exist after this
      resultCache.put(k, entry)
      entry
    }
  }

  /** Every cached frame, across sessions: what a [[Checkpoints.scope]]
    * around a query keeps.
    */
  private[graft] def cachedFrames: Iterable[DataFrame] = resultCache.values.asScala

  /** Is `key` cached for this session? Bench snapshots this before each
    * sharded-family query so the artifact records which measurements
    * rode the cache (r17 ADVICE — cost attribution under query filters).
    */
  def isCached(spark: SparkSession, key: String): Boolean =
    resultCache.containsKey(cacheKey(spark, key))

  /** Drop a cached entry and UNPERSIST its checkpoint: removing only the
    * map entry leaks the localCheckpoint's storage blocks (round-11
    * postmortem — each bench pass's q137 invalidate+rebuild stranded a
    * full corpus-sized SA in executor storage; by the 10× scale
    * rehearsal the accumulated orphans starved q110's broadcast-heavy
    * plan, 36.9 → 194.5 s with unchanged operator code).
    */
  def invalidate(spark: SparkSession, key: String): Unit = {
    val evicted = resultCache.remove(cacheKey(spark, key))
    if (evicted != null) Checkpoints.release(evicted)
  }

  /** Evict and free EVERY cached checkpoint for a session — the
    * boundary call between workload phases (Bench runs it before the
    * 10× scale rehearsal) so index caches from one corpus tier can't
    * occupy executor storage while an unrelated memory-hungry plan
    * (q110's broadcast adjacency) runs at another tier.
    */
  def clearCaches(spark: SparkSession): Unit = {
    val sid = System.identityHashCode(spark)
    resultCache.keySet.asScala.toList
      .filter(_._1 == sid).foreach(k => invalidate(spark, k._2))
    // hash-walk done-sidecar dirs: any frame lazily reading one is a
    // pre-boundary frame and already invalid per this method's contract
    var d = doneSidecars.poll()
    while (d != null) { JavaUtils.deleteQuietly(d); d = doneSidecars.poll() }
  }

  /** Parquet sidecar dirs holding hash-walk results (see
    * lcpByHashWalkNoAqe): freed at the same workload boundary as the
    * SA/LCP checkpoint caches ([[clearCaches]]) and, as a backstop,
    * at JVM exit — a walk result that was [[cached]] is eagerly
    * re-checkpointed by [[cached]], so the sidecar's lifetime
    * only matters to direct adjacentLcp callers within a phase.
    */
  private val doneSidecars =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var d = doneSidecars.poll()
      while (d != null) { JavaUtils.deleteQuietly(d); d = doneSidecars.poll() }
    }))
  }

  /** Exact LCP of each SA-adjacent suffix pair — the LCP array:
    * max(lcp) is the longest substring occurring ≥2 times corpus-wide,
    * and every lcp ≥ L reproduces q126's fixed-L signal without
    * fixing L.
    *
    * Both paths run the same binary descent (levels 2^maxJ … 1; a
    * match at the current offset advances lcp by min(2^j, remaining);
    * no match at level 0 means the next chars differ — done), and the
    * dispatch is the adaptive driver/distributed split this repo uses
    * for connected components and PageRank:
    *  - corpus text ≤ maxBroadcastTextBytes → [[lcpByBroadcastText]]:
    *    texts broadcast-joined onto pairs, the whole descent in-row as
    *    codegen substring equality — one map pass, zero extra shuffles;
    *  - larger → [[lcpByHashWalk]]: per-position vectors of xxhash64
    *    block hashes (map-side), fetched at the pair's current offset
    *    by equi-join; all levels failing at that offset are consumed
    *    in-row for free, so a pair re-joins only once per MATCH
    *    (popcount(lcp)+1 rounds, active set shrinks every round).
    *    Texts are never shipped (suffix shipping would amplify the
    *    corpus ~maxLen×); xxhash64 equality stands in for string
    *    equality exactly as q126's md5 grams do.
    *
    * Output: (lcp, doc_a, p_a, doc_b, p_b) per adjacent pair, where
    * (doc_a, p_a) is the rank-r suffix and (doc_b, p_b) rank r+1.
    *
    * CONCURRENCY CONTRACT (applies to this method and every caller —
    * [[dedupCut]] and [[cached]] LCP walks): the hash-walk path
    * temporarily disables AQE on the SHARED session conf for the
    * duration of the walk (see [[lcpByHashWalk]] for why the
    * localCheckpoint layout requires it). Do not run other queries on
    * the same SparkSession concurrently with an LCP walk — they would
    * silently plan without AQE. The bench and Verify harnesses run
    * queries strictly sequentially, which satisfies this.
    */
  def adjacentLcp(sa: DataFrame, docs: DataFrame, docIdCol: String = "doc_id",
                  textCol: String = "text", numPartitions: Int = 32,
                  maxBroadcastTextBytes: Long = 256L << 20): DataFrame = {
    val totRow = docs.agg(sum(length(col(textCol)))).head
    val total = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    // The adaptive boundary means two corpus tiers can measure two
    // DIFFERENT algorithms (round-11: the 10× rehearsal corpus crossed
    // 256 MB, so q138's published exponent compared broadcast-descent
    // at 1× against hash-walk at 10×). For an honest like-for-like
    // exponent, `-Dgraft.lcp.path=broadcast|hash` pins one path at
    // both tiers; the decision is logged either way so every artifact
    // records which algorithm actually ran.
    // 0 = single-task Kasai (r18 — the walk-side twin of the build's
    // single-task dispatch: below the same [[localMaxChars]] budget the
    // whole LCP array is one O(n) in-memory pass over broadcast texts,
    // replacing the descent's per-pair substring chains and their jobs),
    // 1 = broadcast-text descent, 2 = hash walk.
    val chosen = System.getProperty("graft.lcp.path", "auto") match {
      case "local"     => 0
      case "broadcast" => 1
      case "hash"      => 2
      case _ =>
        if (total <= localMaxChars) 0
        else if (total <= maxBroadcastTextBytes) 1
        else 2
    }
    System.err.println(
      s"[suffixarray] adjacentLcp: corpus=${total}B boundary=${maxBroadcastTextBytes}B " +
        s"path=${Seq("single-task", "broadcast-text", "hash-walk")(chosen)}")
    chosen match {
      case 0 => lcpBySingleTask(sa, docs, docIdCol, textCol, numPartitions)
      case 1 => lcpByBroadcastText(sa, docs, docIdCol, textCol)
      case _ => lcpByHashWalk(sa, docs, docIdCol, textCol, numPartitions)
    }
  }

  /** Single-task exact LCP array by multi-string Kasai (Kasai et al.
    * 2001): texts broadcast, SA rows funneled into one task indexed by
    * rank, and each document's positions walked in order carrying the
    * h ≥ h_prev − 1 bound — O(n) total char comparisons, no per-pair
    * descent, no round jobs. Comparisons stop at either doc's end
    * (conceptually each doc ends in a distinct sentinel ordered by doc
    * id — the same order the SA's (doc_id, p) tie-break already
    * imposes — so the classic amortization argument carries: a
    * predecessor sharing h ≥ 2 chars has a successor suffix in the
    * array, and the h ≤ 1 cases are trivially bounded). Output and
    * schema identical to [[lcpByBroadcastText]]; SuffixArraySpec pins
    * all three paths bit-equal.
    */
  private[operators] def lcpBySingleTask(sa: DataFrame, docs: DataFrame,
                                         docIdCol: String, textCol: String,
                                         numPartitions: Int): DataFrame = {
    val spark = docs.sparkSession
    val txts = docs
      .filter(length(col(textCol)) >= 1)
      .select(col(docIdCol).cast("long"), col(textCol))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val txtB = spark.sparkContext.broadcast(txts.toMap)
    val rdd = sa
      .select(col(docIdCol).cast("long"), col("p").cast("int"),
        col("sa_rank").cast("long"))
      .coalesce(1)
      .rdd
      .mapPartitions { it =>
        val rows = it.toArray
        val n = rows.length
        if (n < 2) Iterator.empty
        else {
          val texts = txtB.value
          // rank-indexed suffix table (ranks are dense 1..n)
          val docAt = new Array[Long](n)
          val posAt = new Array[Int](n)
          var i = 0
          while (i < n) {
            val r = rows(i)
            val idx = r.getLong(2).toInt - 1
            docAt(idx) = r.getLong(0)
            posAt(idx) = r.getInt(1)
            i += 1
          }
          // per-doc position → rank index
          val rankOf = new java.util.HashMap[Long, Array[Int]]()
          i = 0
          while (i < n) {
            val d = docAt(i)
            var arr = rankOf.get(d)
            if (arr == null) {
              arr = new Array[Int](texts(d).length)
              rankOf.put(d, arr)
            }
            arr(posAt(i) - 1) = i
            i += 1
          }
          val lcpAt = new Array[Int](n) // lcpAt(i) = lcp(sa[i-1], sa[i])
          val docIt = rankOf.entrySet().iterator()
          while (docIt.hasNext) {
            val e = docIt.next()
            val t = texts(e.getKey)
            val ranks = e.getValue
            val len = t.length
            var h = 0
            var p = 0 // 0-based position in this doc
            while (p < len) {
              val idx = ranks(p)
              if (idx > 0) {
                val d2 = docAt(idx - 1)
                val t2 = texts(d2)
                val p2 = posAt(idx - 1) - 1
                val len2 = t2.length
                while (p + h < len && p2 + h < len2 &&
                  t.charAt(p + h) == t2.charAt(p2 + h)) h += 1
                lcpAt(idx) = h
                if (h > 0) h -= 1
              } else h = 0
              p += 1
            }
          }
          Iterator.range(1, n).map { r =>
            Row(lcpAt(r).toLong, docAt(r - 1), posAt(r - 1).toLong,
              docAt(r), posAt(r).toLong)
          }
        }
      }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("lcp", LongType).add("doc_a", LongType).add("p_a", LongType)
      .add("doc_b", LongType).add("p_b", LongType)
    spark.createDataFrame(rdd, schema)
      .repartition(numPartitions, col("doc_a"), col("p_a"))
      .localCheckpoint()
  }

  /** Exact substring dedup-cut (Lee et al. 2022's action): per-doc
    * char spans [cut_start, cut_end) covered by a substring of length
    * ≥ minLen that occurs at least twice corpus-wide. For every
    * position, the longest elsewhere-occurring substring starting
    * there is max(LCP with SA-predecessor, LCP with SA-successor) —
    * SA-adjacency maximizes prefix overlap, so every repeat is
    * witnessed by an adjacent pair. Spans are unioned per doc by the
    * gaps-and-islands pass; the island window is per-doc (doc-length
    * bounded), the span agg is (doc, p)-keyed map-side work — nothing
    * here is corpus-wide except the LCP walk itself.
    */
  def dedupCut(sa: DataFrame, docs: DataFrame, minLen: Int,
               docIdCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    dedupCutFromLcp(adjacentLcp(sa, docs, docIdCol, textCol), minLen, docIdCol)

  /** [[dedupCut]] over an already-computed LCP array (the cached-walk
    * consumer path — see [[lcpKey]]).
    */
  def dedupCutFromLcp(lcp: DataFrame, minLen: Int,
                      docIdCol: String = "doc_id"): DataFrame = {
    val occ = lcp.select(col("doc_b").as(docIdCol), col("p_b").as("p"), col("lcp"))
      .unionByName(
        lcp.select(col("doc_a").as(docIdCol), col("p_a").as("p"), col("lcp")))
    val spans = occ.groupBy(docIdCol, "p")
      .agg(max(col("lcp")).as("len"))
      .filter(col("len") >= minLen)
      .select(col(docIdCol), col("p").as("s"), (col("p") + col("len")).as("e"))
    mergeSpans(spans, docIdCol)
  }

  /** Gaps-and-islands union of per-doc char spans `(docIdCol, s, e)` →
    * disjoint `(docIdCol, cut_start, cut_end)` intervals: a running
    * max of span end opens a new island whenever s exceeds every
    * earlier end. The window is per-doc (doc-length bounded, never
    * corpus-wide); shared by the LCP-derived cut, the sharded cut, and
    * the cross-shard winnow union — one island pass, one oracle shape.
    */
  def mergeSpans(spans: DataFrame, docIdCol: String = "doc_id"): DataFrame = {
    val wPrev = Window.partitionBy(docIdCol).orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(docIdCol).orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spans.withColumn("maxe", max(col("e")).over(wPrev))
      .withColumn("ng",
        when(col("maxe").isNull || col("s") > col("maxe"), 1L).otherwise(0L))
      .withColumn("gid", sum(col("ng")).over(wRun))
      .groupBy(col(docIdCol), col("gid"))
      .agg(min(col("s")).as("cut_start"), max(col("e")).as("cut_end"))
      .select(col(docIdCol), col("cut_start"), col("cut_end"))
  }

  /** Peak disk/heap working set of the exact LCP hash-walk over a
    * corpus of `sumLen` chars with max doc length `maxLen`: the hv
    * checkpoint (one row per char × (16 B keys + 8 B per doubling
    * level)) plus 2.5× the adjacent-pair set (~72 B/char — two live
    * round checkpoints + sort-spill/sidecar margin). The single
    * formula behind ScaleRehearsal's feasibility pre-check AND
    * [[autoShards]] — the two must agree or the rehearsal would skip
    * a corpus the sharded operator could run.
    */
  def walkWorkingSetBytes(sumLen: Long, maxLen: Int): Long = {
    val maxJ = 63 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, maxLen.toLong))
    val hvBytes = sumLen * (16L + 8L * (maxJ + 1))
    val pairBytes = sumLen * 72L
    hvBytes + (pairBytes * 5) / 2
  }

  /** Shard count so each shard's exact-kernel working set fits
    * `budgetBytes`: shards scale the per-shard char count down
    * linearly (content-keyed assignment is uniform), and
    * [[walkWorkingSetBytes]] is linear in chars, so ceil(need/budget)
    * shards suffice. maxLen is per-doc and survives sharding intact
    * (a shard holds whole docs), so it stays in the per-shard formula.
    */
  def autoShards(sumLen: Long, maxLen: Int, budgetBytes: Long): Int = {
    require(budgetBytes > 0, "autoShards needs a positive budget")
    val need = walkWorkingSetBytes(sumLen, maxLen)
    val shards = math.max(1L, (need + budgetBytes - 1) / budgetBytes)
    // fail LOUDLY past the shard-key width ([[MaxShards]]): returning a
    // count the key cannot realize would leave shards >= 65536 silently
    // empty and the real per-shard working set at need/65536 × however
    // far past the ceiling the request went — exactly the quiet
    // envelope break the count exists to prevent
    require(shards <= MaxShards,
      s"autoShards: corpus needs $shards shards for budget $budgetBytes B " +
        s"(working set $need B) but the content key supports at most " +
        s"$MaxShards - raise the per-shard budget or widen shardOfText")
    shards.toInt
  }

  /** Hard ceiling on shard counts: [[shardOfText]] decodes FOUR md5
    * hex digits, so it yields exactly 65536 distinct key values — a
    * larger `nShards` would silently leave shards ≥ 65536 empty and
    * break the one-shard working-set envelope the shard count exists
    * to guarantee (r16 ADVICE: the old two-digit key capped at 256,
    * BELOW what autoShards yields at 100 TB). 65536 × a ~2 TB
    * per-machine budget covers a working set far past the 100 TB
    * design point; both [[shardedDedupCut]] and [[autoShards]] fail
    * loudly at the ceiling instead of degrading.
    */
  val MaxShards = 65536

  /** Deterministic content-keyed shard key in [0, 65536) (callers take
    * `% nShards`): the first four md5 hex digits of the SALTED text,
    * reproducible bit-for-bit in DuckDB (both engines agree on md5's
    * lowercase hex and on ascii(); each hex digit decodes as
    * ascii − 48 − 39·[c ≥ 'a']), partition-count and engine
    * independent — the same reproducibility contract as
    * CorpusQueries' hashBucket. CONTENT-keyed (hash of text, not
    * doc_id) on purpose: byte-identical documents always land in the
    * same shard, so sharding NEVER misses whole-document exact
    * duplicates — the dominant duplicate class in web corpora (Lee et
    * al. 2022) — only partial overlaps between non-identical texts can
    * cross a shard boundary (q82's winnowing path is the corpus-global
    * complement for those; [[crossShardDedupCut]] composes the two).
    */
  private def hexVal(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ascii(c) - 48 - when(ascii(c) >= 97, 39).otherwise(0)
  private[operators] def shardOfText(
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = md5(concat(text, lit(":shard")))
    (((hexVal(substring(h, 1, 1)) * 16 + hexVal(substring(h, 2, 1))) * 16 +
      hexVal(substring(h, 3, 1))) * 16 + hexVal(substring(h, 4, 1))).cast("long")
  }

  private def hasParquet(dir: java.io.File): Boolean = {
    def scan(f: java.io.File): Boolean =
      if (f.isDirectory) Option(f.listFiles()).exists(_.exists(scan))
      else f.getName.endsWith(".parquet")
    scan(dir)
  }

  /** Sharded exact substring dedup-cut — the RUNNABLE form of the
    * 100 TB answer the r15 feasibility skip documented ("shard the
    * corpus, run the exact kernel per shard", Lee et al. 2022 §4: the
    * suffix-array pass runs per ~100 GB-class shard on one
    * large-memory machine). One pass assigns every document its
    * content-keyed shard ([[shardOfText]] % nShards) and materializes
    * the corpus as shard-partitioned parquet; each shard then runs the
    * UNCHANGED exact kernel — [[build]] → [[adjacentLcp]] →
    * [[dedupCutFromLcp]] — reading only its own partition directory.
    * Shards run strictly one at a time, so peak working set is ONE
    * shard's ([[walkWorkingSetBytes]](sumLen/nShards, maxLen), the
    * envelope [[autoShards]] sizes against); per-shard cut spans land
    * in a parquet sidecar and every checkpoint/walk-sidecar a shard
    * created is released before the next shard starts. The union of
    * per-shard cut lists is the result.
    *
    * Semantics vs the global kernel: within-shard duplicates
    * (including ALL whole-document exact duplicates — content keying
    * guarantees byte-equal texts share a shard) are found exactly;
    * a substring duplicated ONLY across two different-text documents
    * in different shards is missed — the documented boundary-miss
    * envelope, measured by SuffixArraySpec's planted-cross-shard
    * corpus, with winnowing as the corpus-global complement
    * ([[crossShardDedupCut]] composes the two into one cut).
    * nShards = 1 is bit-for-bit the global kernel (spec-pinned).
    */
  def shardedDedupCut(docs: DataFrame, minLen: Int, nShards: Int,
                      docIdCol: String = "doc_id", textCol: String = "text",
                      numPartitions: Int = 32): DataFrame = {
    require(nShards >= 1 && nShards <= MaxShards,
      s"nShards must be in [1, $MaxShards], got $nShards " +
        "(the content key decodes four md5 hex digits - see MaxShards)")
    val spark = docs.sparkSession
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_sharded_cut").toFile
    doneSidecars.add(outDir) // freed at the same phase boundary as caches
    var outSchema: org.apache.spark.sql.types.StructType = null
    // ONE-PASS shard materialization (r16 verdict #1): assign the
    // content key once and write shard-partitioned parquet, so each
    // shard iteration reads ONLY its `__shard=<s>` directory
    // (partition pruning on the filter below — the md5-derived
    // predicate that no parquet reader could prune against the raw
    // corpus now prunes at the directory level). Input reads drop from
    // O(nShards × corpus) — quadratic in corpus once nShards ∝ corpus,
    // the r16 verdict's one scale-killer — to one corpus read plus one
    // corpus-sized compressed write, released in the finally below.
    val shardInputDir: Option[java.io.File] =
      if (nShards == 1) None
      else {
        val d = java.nio.file.Files
          .createTempDirectory("graft_shard_input").toFile
        docs.select(col(docIdCol), col(textCol),
            (shardOfText(col(textCol)) % nShards).cast("int").as("__shard"))
          .write.partitionBy("__shard").mode("overwrite")
          .parquet(d.getAbsolutePath)
        if (hasParquet(d)) Some(d)
        else { JavaUtils.deleteQuietly(d); None } // empty corpus: no partitions
      }
    try {
      (0 until nShards).foreach { s =>
        val beforeDirs = doneSidecars.asScala.toSet
        // once this shard's cut rows are durably in outDir, the scope
        // releases every checkpoint it created (build intermediates,
        // the walk's hv + final rounds) and the finally deletes its
        // walk sidecars — peak storage stays one shard's across the
        // whole loop
        try Checkpoints.scope(spark) {
          val dshard = shardInputDir match {
            case Some(d) => spark.read.parquet(d.getAbsolutePath)
              .filter(col("__shard") === s).drop("__shard")
            case None if nShards == 1 => docs
            case None => // empty corpus (no materialized partitions):
              // every shard is the empty slice of `docs`
              docs.filter(lit(false))
          }
          val sa = build(dshard, docIdCol, textCol, numPartitions)
          val cut = dedupCut(sa, dshard, minLen, docIdCol, textCol)
          outSchema = cut.schema
          cut.write.mode("overwrite").parquet(
            new java.io.File(outDir, s"__cutshard=$s").getAbsolutePath)
        } finally {
          doneSidecars.asScala.toList
            .filterNot(beforeDirs).filterNot(_ == outDir)
            .foreach { d => doneSidecars.remove(d); JavaUtils.deleteQuietly(d) }
          // shuffle-FILE hygiene: ContextCleaner frees a shard's
          // shuffle files only when driver GC collects the shuffle
          // dependencies, so without this nudge the files of EVERY
          // completed shard accumulate on local disk until an
          // incidental GC — at nShards shards that is the whole
          // corpus-scale shuffle volume on disk at once (measured by
          // the r17 autoshards probe: ~all-shards bytes resident),
          // exactly the one-shard-at-a-time envelope this loop exists
          // to keep. A per-shard GC makes the cleanup deterministic;
          // its pause is noise next to a shard's kernel cost.
          System.gc()
        }
      }
    } finally shardInputDir.foreach(JavaUtils.deleteQuietly)
    if (hasParquet(outDir))
      spark.read.parquet(outDir.getAbsolutePath).drop("__cutshard")
    else // a clean corpus can yield zero spans in every shard, and an
         // all-empty write may leave no part files to infer schema from
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
  }

  /** Cross-shard-complete dedup cut: the union of [[shardedDedupCut]]'s
    * within-shard exact spans and the corpus-GLOBAL winnowing tier
    * ([[Dedup.winnowedCharSpans]] — winnow-selected minLen-char grams
    * whose fingerprint recurs anywhere in the corpus), merged per doc
    * by the shared [[mergeSpans]] islands pass. This is the runnable
    * form of the boundary-miss mitigation the sharded kernel
    * documents: within a shard the SA/LCP kernel is offset- and
    * length-exact; ACROSS shards the winnow tier cuts any duplicated
    * run of ≥ minLen + winnowW − 1 chars (the winnowing guarantee) at
    * exactly-minLen-char span granularity — the tier's cut grain IS
    * the family's minLen contract (r17 verdict #1), so its precision
    * is exact by construction (every cut span is a provably recurring
    * minLen-char substring; a recurring phrase shorter than minLen is
    * never cut — spec-measured false-cut rate 0 on a planted clean
    * corpus) and recall on planted cross-shard pairs is strictly above
    * the sharded kernel alone (spec-pinned). Runs in
    * [minLen, minLen + winnowW − 2] chars are the documented
    * best-effort gap — winnowW trades the winnow shuffle's volume
    * (~2/(winnowW+1) of gram positions) against that gap. Scale
    * shape: the winnow tier adds one map-side fingerprint pass, one
    * fingerprint-keyed count, and one semi join — all linear, no
    * corpus-wide state beyond the kernel's own.
    *
    * `cuts` lets a caller that already holds the sharded cut table
    * (the cached q174 kernel) pass it in, so the report/action/union
    * family costs ONE kernel run.
    */
  def crossShardDedupCut(docs: DataFrame, minLen: Int, nShards: Int,
                         winnowW: Int = 8,
                         docIdCol: String = "doc_id",
                         textCol: String = "text",
                         numPartitions: Int = 32,
                         cuts: Option[DataFrame] = None,
                         winnowSpans: Option[DataFrame] = None): DataFrame = {
    val sharded = cuts.getOrElse(
      shardedDedupCut(docs, minLen, nShards, docIdCol, textCol, numPartitions))
    // `winnowSpans` lets the union/coverage family share ONE winnow
    // pass via the [[winnowSpanKey]] cache entry (q176 computes, q178
    // rides)
    val winnow = winnowSpans.getOrElse(
      Dedup.winnowedCharSpans(docs, docIdCol, textCol, minLen, winnowW))
    mergeSpans(
      sharded.select(col(docIdCol), col("cut_start").as("s"),
          col("cut_end").as("e"))
        .unionByName(winnow.select(col(docIdCol), col("s"), col("e"))),
      docIdCol)
  }

  /** Small-corpus LCP path: broadcast the doc texts (a 3 MB table at
    * bench scale — the broadcast-join principle the adaptive
    * connected-components split uses), attach both suffixes' texts
    * in-stream, and run the WHOLE binary descent in-row as a chain of
    * codegen substring equality tests (512, 256, …, 1 chars; each
    * match advances the offset by min(step, remaining)). Exact string
    * comparison — no hashes — one map-side pass, zero extra shuffles.
    */
  private[operators] def lcpByBroadcastText(sa: DataFrame, docs: DataFrame,
                                            docIdCol: String,
                                            textCol: String): DataFrame = {
    val maxRow = docs.agg(max(length(col(textCol)))).head
    val maxLen = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
    val maxJ = (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxLen.toLong))).toInt
    val txt = docs.select(col(docIdCol), col(textCol))
    val a = sa.select(col("sa_rank").as("r"), col(docIdCol).as("doc_a"),
      col("p").cast("long").as("p_a"))
    val b = sa.select((col("sa_rank") - 1L).as("r"), col(docIdCol).as("doc_b"),
      col("p").cast("long").as("p_b"))
    var cur = a.join(b, Seq("r"))
      .join(broadcast(txt.withColumnRenamed(docIdCol, "doc_a")
        .withColumnRenamed(textCol, "ta")), Seq("doc_a"))
      .join(broadcast(txt.withColumnRenamed(docIdCol, "doc_b")
        .withColumnRenamed(textCol, "tb")), Seq("doc_b"))
      .withColumn("sl_a", length(col("ta")).cast("long") - col("p_a") + 1L)
      .withColumn("sl_b", length(col("tb")).cast("long") - col("p_b") + 1L)
      .withColumn("lcp", lit(0L))
    for (j <- maxJ to 0 by -1) {
      val step = 1L << j
      // guard both remainders: past-the-end substrings are '' on both
      // sides and would spuriously compare equal
      cur = cur.withColumn("lcp",
        when(col("lcp") < col("sl_a") && col("lcp") < col("sl_b") &&
          expr(s"substring(ta, CAST(p_a + lcp AS INT), $step) = substring(tb, CAST(p_b + lcp AS INT), $step)"),
          col("lcp") + least(lit(step), col("sl_a") - col("lcp")))
          .otherwise(col("lcp")))
    }
    cur.select(col("lcp"), col("doc_a"), col("p_a"), col("doc_b"), col("p_b"))
  }

  /** Large-corpus LCP path (the 100 TB shape: doc texts are never
    * shipped to pairs or broadcast). See [[adjacentLcp]].
    *
    * The walk runs with AQE DISABLED (saved/restored around the loop):
    * under AQE a localCheckpoint's LogicalRDD reports
    * UnknownPartitioning/no ordering (AdaptiveSparkPlanExec hides the
    * final plan's layout), so every round's join re-exchanged AND
    * re-sorted the corpus-sized hv table — measured 23.4 GB shuffled
    * at 10× (r13's 2.4 bytes exponent) for a walk whose own data needs
    * are active-set-sized. With AQE off the layout survives and each
    * round moves only the active side. Nothing here wants AQE anyway:
    * every join key is a unique (doc, position) — no skew to split,
    * and partition counts are byte-scaled explicitly below (the same
    * spill rule as [[build]]).
    */
  private[operators] def lcpByHashWalk(sa: DataFrame, docs: DataFrame,
                                       docIdCol: String, textCol: String,
                                       numPartitions: Int): DataFrame = {
    val spark = docs.sparkSession
    // Session-level toggle, saved/restored EXACTLY (an originally-unset
    // key is unset again, not re-materialized as "true" — conf
    // provenance matters to anyone diffing session state). The
    // concurrency contract lives on the public entry points
    // ([[adjacentLcp]]/[[dedupCut]]): a cloned session can't help here
    // because the incoming `sa`/`docs` frames are bound to their
    // creating session.
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try lcpByHashWalkNoAqe(sa, docs, docIdCol, textCol, numPartitions)
    finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  private def lcpByHashWalkNoAqe(sa: DataFrame, docs: DataFrame,
                                 docIdCol: String, textCol: String,
                                 numPartitions: Int): DataFrame = {
    val spark = docs.sparkSession
    val statsRow = docs
      .agg(max(length(col(textCol))), sum(length(col(textCol)))).head
    val maxLen = if (statsRow.isNullAt(0)) 0 else statsRow.getInt(0)
    val sumLen = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    val maxJ = (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxLen.toLong))).toInt
    // spill-aware partition count (no AQE to widen shuffles here): one
    // hv row per corpus char at 16B keys + 8B per level hash. 64 MB
    // SERIALIZED per partition, not 256 MB: a 256 MB-serialized hv
    // partition deserializes to ~650 MB of row objects, and 32
    // concurrent tasks sorting/caching that was the r15 100×-tier heap
    // OOM (48 GB heap) — at 64 MB the same concurrency peaks near
    // 5 GB. Cap 4096 (task-launch overhead stays <1 % of a round).
    val parts = math.max(numPartitions,
      math.min(4096L, sumLen * (16L + 8L * (maxJ + 1)) / (64L << 20) + 1L).toInt)
    // per-position vector of ALL level hashes (index j ↔ 2^j-char
    // block) — explicit columns, not a transform lambda, so the
    // substring/hash chain stays in whole-stage codegen. Partitioned
    // on the lookup key AND sorted within partitions by it BEFORE the
    // checkpoint: with AQE disabled (see the dispatcher above) the
    // LogicalRDD carries this layout, so every walk round's join
    // accepts hv as-is — no exchange, no per-round sort of the
    // corpus-sized side; only the shrinking active side shuffles.
    val hv = docs
      .filter(length(col(textCol)) >= 1) // sequence(1,0) is descending
      .select(col(docIdCol).as("d"), col(textCol).as("t"),
        explode(sequence(lit(1), length(col(textCol)))).as("q"))
      .select(col("d"), col("q").cast("long").as("q"),
        array((0 to maxJ).map(j =>
          xxhash64(expr(s"substring(t, q, ${1L << j})"))): _*).as("hv"))
      .repartition(parts, col("d"), col("q"))
      .sortWithinPartitions("d", "q")
      // Deserialized checkpoint storage is deliberate: MEMORY_AND_DISK_SER
      // was tried for every walk checkpoint after run 3's execution-memory
      // starvation at 100x and MEASURED 2x slower at the 10x tier (q137
      // 31->71 s, q138 47->96 s warm - the per-round hv stream pays a
      // decode each round) without saving the 100x walk, whose true bound
      // is the single-JVM local-mode heap (see Decade2Feasibility)
      .localCheckpoint()
    val lens = docs.select(col(docIdCol),
      length(col(textCol)).cast("long").as("len"))
    val a = sa.select(col("sa_rank").as("r"), col(docIdCol).as("doc_a"),
      col("p").cast("long").as("p_a"))
    val b = sa.select((col("sa_rank") - 1L).as("r"), col(docIdCol).as("doc_b"),
      col("p").cast("long").as("p_b"))
    var active = a.join(b, Seq("r"))
      .join(lens.withColumnRenamed(docIdCol, "doc_a").withColumnRenamed("len", "len_a"), Seq("doc_a"))
      .join(lens.withColumnRenamed(docIdCol, "doc_b").withColumnRenamed("len", "len_b"), Seq("doc_b"))
      .withColumn("sl_a", col("len_a") - col("p_a") + 1L)
      .withColumn("sl_b", col("len_b") - col("p_b") + 1L)
      // r pairs a with b and is dead after the join: (doc, p) keys every
      // later lookup, so carrying r would spend 8 B/row in EVERY round's
      // checkpoint of the active set for nothing
      .drop("len_a", "len_b", "r")
      .withColumn("lcp", lit(0L))
      .withColumn("jmax", lit(maxJ))
      .localCheckpoint()
    // the round checkpoint `active` currently filters — released by
    // frame ([[Checkpoints.release]]) once the NEXT round's checkpoint
    // has drained it, so a walk releases only its own rounds. hv's
    // checkpoint is deliberately NOT released here: the returned
    // sidecar frame is this walk's only product and the caller's
    // [[Checkpoints.scope]] ([[cached]] or shardedDedupCut's per-shard
    // loop) owns the walk's terminal cleanup.
    var round = active
    // Finished pairs SPILL to an append-only parquet sidecar each round
    // instead of accumulating as views over every round's checkpoint
    // (r15 100× postmortem: the union-of-all-rounds form pinned EVERY
    // stepped checkpoint for the walk's whole life, so peak disk was
    // the SUM of round sizes — "No space left on device" at the 100×
    // corpus — where the walk's true working set is hv + one round).
    // With the sidecar, a superseded round's blocks are released as
    // soon as the next round's checkpoint drains it; compressed
    // parquet of 5 small columns is far cheaper than checkpoint blocks.
    val doneDir = java.nio.file.Files
      .createTempDirectory("graft_lcp_done").toFile
    doneSidecars.add(doneDir)
    def spillDone(df: DataFrame): Unit =
      df.write.mode("append").parquet(doneDir.getAbsolutePath)
    var nActive = active.count()
    while (nActive > 0) {
      // the a-side lookup can never miss (lcp < sl_a is invariant); a
      // b-side miss means suffix b is exhausted (lcp == sl_b, b is a
      // prefix of a) and is decided WITHOUT the join — so both lookups
      // are INNER joins, and the shrinking active side is the hash
      // build side (shuffle_hash) while the big checkpointed hv table
      // streams in place.
      //
      // The hint is CONDITIONAL on the build side actually fitting:
      // in round 1 the active side is ALL pairs (corpus-sized — the
      // "shrinking" only starts once pairs finish), and a per-task
      // hash build over corpus/numPartitions rows can exhaust
      // execution memory (observed: the r12 bench's 10× tier at 32
      // concurrent builds in an 8 GB heap). Bound: 1M rows × ~80 B ×
      // `parts` concurrent builds ≈ 2.5 GB at 32 partitions — well
      // inside the ≥32 GB bench heaps, and `parts` is byte-scaled so
      // bigger corpora get more, smaller, builds. Oversized rounds
      // still fall back to sort-merge (streaming, memory-safe). The
      // r13 cap of 200K/partition forced the first 3 rounds at 10× —
      // 75% of the walk's wall — through SMJ sorts of the full pair
      // set twice per round.
      // Loop invariant: every `active` row has lcp < sl_b — jmax >= 0
      // is only ever assigned under lcp < sl_a && lcp < sl_b (the jmax
      // update below), and the initial set has lcp = 0 < sl_b (docs are
      // length-filtered, so sl_b >= 1). A loop-top "b exhausted" spill
      // is therefore provably empty; the one that lived here cost a
      // full scan + an empty parquet write job EVERY round (r15
      // ADVICE). The jmax < 0 spill below covers all completion paths,
      // including lcp reaching sl_b after a step.
      val buildFits = nActive / parts <= 1000000L
      val live = if (buildFits) active.hint("shuffle_hash") else active
      val ha = hv.select(col("d").as("doc_a"), col("q").as("qa"), col("hv").as("ha"))
      val hb = hv.select(col("d").as("doc_b"), col("q").as("qb"), col("hv").as("hb"))
      var st = live
        .join(ha, live("doc_a") === ha("doc_a") &&
          (live("p_a") + live("lcp")) === ha("qa"))
        .drop(ha("doc_a")).drop("qa")
      if (buildFits) st = st.hint("shuffle_hash")
      st = st
        .join(hb, st("doc_b") === hb("doc_b") &&
          (st("p_b") + st("lcp")) === hb("qb"))
        .drop(hb("doc_b")).drop("qb")
      // highest still-untested level matching at the current offset —
      // every higher level already failed (in-row, free); no match at
      // any level ⟹ level 0 failed ⟹ the next chars differ ⟹ done.
      // Explicit descending WHEN chain (outermost test = highest j),
      // not array_max(filter(sequence, lambda)): higher-order array
      // functions are interpreted per-row (sequence allocation +
      // closure calls on 15M rows per round at 10×), while the chain
      // of element_at comparisons is plain whole-stage codegen.
      val jmExpr = (0 to maxJ).foldLeft(lit(null).cast("int")) { (acc, j) =>
        when(col("jmax") >= j &&
          expr(s"element_at(ha, ${j + 1}) = element_at(hb, ${j + 1})"),
          lit(j)).otherwise(acc)
      }
      val stepped = st
        .withColumn("jm", jmExpr)
        .withColumn("lcp",
          when(col("jm").isNotNull,
            col("lcp") + least(expr("shiftleft(CAST(1 AS BIGINT), jm)"), col("sl_a") - col("lcp")))
            .otherwise(col("lcp")))
        .withColumn("jmax",
          when(col("jm").isNotNull && col("lcp") < col("sl_a") && col("lcp") < col("sl_b"),
            col("jm") - 1)
            .otherwise(lit(-1)))
        .select("doc_a", "p_a", "doc_b", "p_b", "sl_a", "sl_b", "lcp", "jmax")
      val steppedCp = stepped.localCheckpoint()
      spillDone(steppedCp.filter(col("jmax") < 0)
        .select("lcp", "doc_a", "p_a", "doc_b", "p_b"))
      active = steppedCp.filter(col("jmax") >= 0)
      nActive = active.count()
      // the previous round's checkpoint is fully drained (its done rows
      // are in the sidecar, its live rows in steppedCp) — release it
      Checkpoints.release(round)
      round = steppedCp
    }
    // the final round's checkpoint is drained too: the walk's result is
    // read back from the sidecar alone
    Checkpoints.release(round)
    if (doneDir.isDirectory &&
        doneDir.listFiles().exists(_.getName.endsWith(".parquet")))
      spark.read.parquet(doneDir.getAbsolutePath)
    else
      spark.emptyDataFrame
        .withColumn("lcp", lit(0L)).withColumn("doc_a", lit(0L))
        .withColumn("p_a", lit(0L)).withColumn("doc_b", lit(0L))
        .withColumn("p_b", lit(0L))
  }
}

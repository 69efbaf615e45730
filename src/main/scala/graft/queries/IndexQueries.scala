package graft.queries

import graft.Tables
import graft.operators.{InvertedIndex, SuffixArray}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index-structure operators over `documents`: the distributed suffix
  * array (exact any-length substring dedup, Lee et al. 2022), and the
  * retrieval-index lifecycle ops built on it. The corpus is ASCII
  * (TESTDATA.md), so JVM char order and DuckDB byte order agree and
  * every rank here is replayable in the oracle.
  */
object IndexQueries {

  /** q137 — the corpus suffix array itself: every (doc_id, position)
    * suffix with its 1-based rank in global suffix order (suffixes do
    * not cross documents; byte-equal suffixes tie-break (doc_id, p)).
    * Built by prefix doubling with two-pass distributed dense ranks —
    * no global window anywhere (see operators.SuffixArray). The oracle
    * sorts the materialized suffix strings directly — an O(n·len)
    * memory form only viable at oracle scale, which is the point: the
    * doubling build never materializes a suffix.
    */
  def q137(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the SA is an index — q137 BUILDS it (invalidating any prior
    // cache so a timed q137 run always measures the build, not a cache
    // probe) and consumers (q138's LCP walk, q143's cut) reuse the
    // session cache, the same build-once/probe-many story as the
    // IVF/postings lifecycles (SuffixArray.save/load covers the
    // cross-job case)
    SuffixArray.invalidate(s, SuffixArray.saKey(dir))
    cachedSa(s, dir, docs)
      .select(col("sa_rank"), col("doc_id"), col("p").cast("long").as("p"))
      .orderBy("sa_rank")
  }

  val q137Sql: String =
    """WITH pos AS (
      | SELECT doc_id, i AS p, substr(text, i) AS suf
      | FROM documents, unnest(range(1, length(text) + 1)) AS t(i))
      |SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, p) AS BIGINT) AS sa_rank,
      | doc_id, CAST(p AS BIGINT) AS p
      |FROM pos ORDER BY sa_rank""".stripMargin

  /** q138 — longest duplicated substrings: exact LCP of every
    * SA-adjacent suffix pair (the LCP array — max(lcp) is the longest
    * substring occurring twice anywhere in the corpus, the signal
    * q126 approximates at fixed L=40), top-10 with the duplicated
    * excerpt. LCPs come from the retained doubling levels (high→low
    * rank-equality walk, two equi-joins per level) — the text is
    * never re-compared or shipped. The oracle replays each LCP in two
    * stages — largest equal 32-char-block prefix, then the first
    * mismatch inside the next block — one set-oriented pass (a
    * char-by-char recursive-CTE walk is exact too, but pays one join
    * per character of the DEEPEST lcp: 114 s vs 2 s here, because the
    * corpus contains whole-document duplicates).
    */
  def q138(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // q138 IS the LCP-array computation: invalidate so its timing is
    // always a walk (q137's rule); q143 then rides this walk's cache
    SuffixArray.invalidate(s, SuffixArray.lcpKey(dir))
    val top = cachedLcp(s, dir, docs)
      .orderBy(desc("lcp"), col("doc_a"), col("p_a"), col("doc_b"), col("p_b"))
      .limit(10)
    top.join(docs.select(col("doc_id").as("doc_a"), col("text")), Seq("doc_a"))
      .select(col("lcp"), col("doc_a"), col("p_a"), col("doc_b"), col("p_b"),
        expr("substring(text, cast(p_a AS int), cast(least(lcp, 60) AS int))")
          .as("excerpt"))
      .orderBy(desc("lcp"), col("doc_a"), col("p_a"), col("doc_b"), col("p_b"))
  }

  val q138Sql: String =
    """WITH pos AS (
      | SELECT doc_id, i AS p, substr(text, i) AS suf
      | FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
      |sa AS (
      | SELECT doc_id, p, suf, row_number() OVER (ORDER BY suf, doc_id, p) AS r
      | FROM pos),
      |pr AS (
      | SELECT a.r AS r, a.doc_id AS doc_a, a.p AS p_a, a.suf AS suf_a,
      |        b.doc_id AS doc_b, b.p AS p_b, b.suf AS suf_b
      | FROM sa a JOIN sa b ON b.r = a.r + 1),
      |coarse AS (
      | SELECT r, max(m) AS c
      | FROM pr, unnest(range(1, CAST((SELECT max(length(text)) FROM documents) / 32 AS BIGINT) + 2)) AS t(m)
      | WHERE m * 32 <= least(length(suf_a), length(suf_b))
      |   AND substr(suf_a, 1, CAST(m * 32 AS INT)) = substr(suf_b, 1, CAST(m * 32 AS INT))
      | GROUP BY r),
      |fine AS (
      | SELECT p.r, coalesce(c.c, 0) AS c, min(j) AS mism
      | FROM pr p LEFT JOIN coarse c USING (r), unnest(range(1, 34)) AS t(j)
      | WHERE coalesce(c.c, 0) * 32 + j > least(length(p.suf_a), length(p.suf_b))
      |    OR substr(p.suf_a, CAST(coalesce(c.c, 0) * 32 + j AS INT), 1)
      |       <> substr(p.suf_b, CAST(coalesce(c.c, 0) * 32 + j AS INT), 1)
      | GROUP BY p.r, c.c),
      |lcp AS (SELECT r, CAST(c * 32 + mism - 1 AS BIGINT) AS lcp FROM fine)
      |SELECT l.lcp, p.doc_a, CAST(p.p_a AS BIGINT) AS p_a, p.doc_b,
      | CAST(p.p_b AS BIGINT) AS p_b,
      | substr(d.text, CAST(p.p_a AS INT), CAST(least(l.lcp, 60) AS INT)) AS excerpt
      |FROM lcp l JOIN pr p USING (r) JOIN documents d ON d.doc_id = p.doc_a
      |ORDER BY l.lcp DESC, p.doc_a, p.p_a, p.doc_b, p.p_b LIMIT 10""".stripMargin

  /** q139 — positional-index phrase search: find every occurrence of
    * the corpus's most frequent word trigram (ties to the
    * lexicographically smallest — a deterministic in-query choice, no
    * hardcoded phrase) via the inverted-index lifecycle: build
    * postings, then intersect the three words' position lists
    * rarest-first on (doc, start). The oracle replays the semantics
    * directly as a trigram scan; InvertedIndexSpec pins that a SAVED
    * index answers identically with directory-level pruning.
    */
  def q139(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // most frequent trigram, map-side formation (q70's pattern; split
    // once into a column — a re-split inside the lambda is O(len²))
    // the size(ws) >= 3 guard mirrors the oracle's empty range for 1-2
    // word docs (sequence(1, size-2) is DESCENDING below 3 words and
    // element_at(ws, 0) would throw); headOption handles a corpus with
    // no trigram at all — the oracle returns zero rows there
    val top = docs.select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      // position explode + codegen projection (Apss's measured form —
      // the transform lambda was interpreted per element)
      .select(col("ws"), explode(sequence(lit(1), size(col("ws")) - 2)).as("i"))
      .select(concat_ws(" ",
        element_at(col("ws"), col("i")),
        element_at(col("ws"), col("i") + 1),
        element_at(col("ws"), col("i") + 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("g")).limit(1)
      .head(1).headOption.map(_.getString(0))
    top match {
      case None =>
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          new org.apache.spark.sql.types.StructType()
            .add("doc_id", org.apache.spark.sql.types.LongType)
            .add("n_matches", org.apache.spark.sql.types.LongType)
            .add("first_start", org.apache.spark.sql.types.LongType))
      case Some(g) =>
        val idx = InvertedIndex.buildIndex(docs)
        InvertedIndex.phraseSearch(idx, g.split(' ').toSeq)
          .orderBy("doc_id")
    }
  }

  val q139Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (
      | SELECT doc_id, i AS p, array_to_string(list_slice(w, i, i + 2), ' ') AS g
      | FROM w, unnest(range(1, len(w) - 1)) AS t(i)),
      |top AS (SELECT g FROM g GROUP BY g ORDER BY count(*) DESC, g LIMIT 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
      | CAST(min(p) AS BIGINT) AS first_start
      |FROM g JOIN top USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q140 — weighted all-pairs near-dup: every doc pair with tf-idf
    * trigram cosine ≥ 0.6 via Bayardo prefix filtering (the weighted
    * complement of q24's set-Jaccard prefix join; operators.Apss).
    * θ=0.6 sits in this corpus's separation gap (near-dup pairs score
    * ≥ 0.8, unrelated pairs < 0.2). The oracle is the brute
    * token-join form — quadratic in shared-token pairs, oracle-scale
    * only — with the identical rational-idf / sorted-fold arithmetic.
    */
  def q140(s: SparkSession, dir: String): DataFrame =
    graft.operators.Apss
      .tfidfCosineSelfJoin(Tables.documents(s, dir), 0.6)
      .orderBy("doc_a", "doc_b")

  val q140Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g0 AS (
      | SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS g
      | FROM w, unnest(range(1, len(w) - 1)) AS t(i)),
      |tf AS (SELECT doc_id, g, CAST(count(*) AS DOUBLE) AS tf FROM g0 GROUP BY 1, 2),
      |df AS (SELECT g, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |wt AS (SELECT doc_id, g, tf * (n / df) AS w FROM tf JOIN df USING (g) CROSS JOIN n),
      |nrm AS (
      | SELECT doc_id,
      |  sqrt(list_sum(list_transform(list(w ORDER BY g), x -> x * x))) AS nrm
      | FROM wt GROUP BY doc_id),
      |u AS (SELECT doc_id, g, w / nrm AS u FROM wt JOIN nrm USING (doc_id)),
      |pr AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.u * b.u AS prod
      | FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id),
      |cosv AS (
      | SELECT doc_a, doc_b, list_sum(list(prod ORDER BY prod)) AS cos
      | FROM pr GROUP BY 1, 2)
      |SELECT doc_a, doc_b, round(cos, 4) AS cos
      |FROM cosv WHERE cos >= 0.6 ORDER BY doc_a, doc_b""".stripMargin

  /** q143 — exact substring dedup-cut (the ACTION of Lee et al. 2022,
    * where q138 is the diagnosis): for every position, the longest
    * substring starting there that also occurs ANYWHERE else in the
    * corpus is max(LCP with SA-predecessor, LCP with SA-successor) —
    * a classical suffix-array fact: SA-adjacency maximizes prefix
    * overlap, so any repeat is witnessed by an adjacent pair. Positions
    * whose repeat length ≥ L (= 40, q126's fixed L — here derived, not
    * assumed) become cut spans [p, p+len), unioned per doc by the
    * gaps-and-islands pass (running max of span end; a new island
    * starts when s > max-end-so-far). Output: the per-doc cut list —
    * exactly what a training-data pipeline feeds to the splitter.
    *
    * Scale shape: reuses the session-cached SA build and the LCP walk
    * (no text shipping above 256 MB); the span aggregation is keyed
    * (doc, p) — map-side combined; the island window is per-doc,
    * doc-length-bounded, never corpus-wide. The oracle replays the
    * whole derivation off its own suffix sort with the q138 coarse+fine
    * LCP replay.
    */
  def q143(s: SparkSession, dir: String, minLen: Int = 40): DataFrame = {
    val docs = Tables.documents(s, dir)
    SuffixArray.dedupCutFromLcp(cachedLcp(s, dir, docs), minLen)
      .orderBy("doc_id", "cut_start")
  }

  val q143Sql: String =
    """WITH pos AS (
      | SELECT doc_id, i AS p, substr(text, i) AS suf
      | FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
      |sa AS (
      | SELECT doc_id, p, suf, row_number() OVER (ORDER BY suf, doc_id, p) AS r
      | FROM pos),
      |pr AS (
      | SELECT a.r AS r, a.doc_id AS doc_a, a.p AS p_a, a.suf AS suf_a,
      |        b.doc_id AS doc_b, b.p AS p_b, b.suf AS suf_b
      | FROM sa a JOIN sa b ON b.r = a.r + 1),
      |coarse AS (
      | SELECT r, max(m) AS c
      | FROM pr, unnest(range(1, CAST((SELECT max(length(text)) FROM documents) / 32 AS BIGINT) + 2)) AS t(m)
      | WHERE m * 32 <= least(length(suf_a), length(suf_b))
      |   AND substr(suf_a, 1, CAST(m * 32 AS INT)) = substr(suf_b, 1, CAST(m * 32 AS INT))
      | GROUP BY r),
      |fine AS (
      | SELECT p.r, coalesce(c.c, 0) AS c, min(j) AS mism
      | FROM pr p LEFT JOIN coarse c USING (r), unnest(range(1, 34)) AS t(j)
      | WHERE coalesce(c.c, 0) * 32 + j > least(length(p.suf_a), length(p.suf_b))
      |    OR substr(p.suf_a, CAST(coalesce(c.c, 0) * 32 + j AS INT), 1)
      |       <> substr(p.suf_b, CAST(coalesce(c.c, 0) * 32 + j AS INT), 1)
      | GROUP BY p.r, c.c),
      |lcp AS (SELECT r, CAST(c * 32 + mism - 1 AS BIGINT) AS lcp FROM fine),
      |pairs AS (SELECT l.lcp, p.doc_a, p.p_a, p.doc_b, p.p_b
      |          FROM lcp l JOIN pr p USING (r)),
      |occ AS (
      | SELECT doc_b AS doc_id, p_b AS p, lcp FROM pairs
      | UNION ALL
      | SELECT doc_a AS doc_id, p_a AS p, lcp FROM pairs),
      |spans AS (
      | SELECT doc_id, CAST(p AS BIGINT) AS s, CAST(p + max(lcp) AS BIGINT) AS e
      | FROM occ GROUP BY doc_id, p HAVING max(lcp) >= 40),
      |isl AS (
      | SELECT doc_id, s, e,
      |  max(e) OVER (PARTITION BY doc_id ORDER BY s
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
      | FROM spans),
      |isl2 AS (
      | SELECT doc_id, s, e,
      |  CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS ng
      | FROM isl),
      |isl3 AS (
      | SELECT doc_id, s, e,
      |  sum(ng) OVER (PARTITION BY doc_id ORDER BY s
      |                ROWS UNBOUNDED PRECEDING) AS gid
      | FROM isl2)
      |SELECT doc_id, min(s) AS cut_start, max(e) AS cut_end
      |FROM isl3 GROUP BY doc_id, gid
      |ORDER BY doc_id, cut_start""".stripMargin

  /** Shard count of the gated sharded-kernel queries (q174/q175/q176):
    * FIXED — not auto-sized from disk — so the DuckDB oracle can
    * replay the identical content-keyed shard assignment. The modulus
    * is INTERPOLATED into the shared oracle CTE below (r16 ADVICE: the
    * previous hand-duplicated `% 4` literals could silently desync
    * from this value). A real deployment sizes the count with
    * `SuffixArray.autoShards` against its per-machine envelope instead
    * (the scale rehearsal's autoShards probe exercises that path).
    */
  val Q174Shards = 4

  /** Winnow WINDOW of the cross-shard tier (q176/q178): one
    * minLen-char gram is selected per sliding window of Q176W
    * consecutive gram positions, so the tier ships ~2/(Q176W+1) of
    * gram positions and its guarantee covers duplicated runs of
    * ≥ minLen + Q176W − 1 chars (the gram LENGTH is the family's
    * minLen = 40 — the r17 grain fix: cut spans are exactly the
    * contract's unit, never a shorter phrase). Interpolated into the
    * oracle alongside the shard modulus.
    */
  val Q176W = 8

  /** Session-cache keys of the sharded family's two shared artifacts —
    * Bench snapshots their warmth before each family member.
    */
  def q174CutKey(dir: String): String =
    SuffixArray.shardedCutKey(dir, minLen = 40, nShards = Q174Shards)
  def q176WinnowKey(dir: String): String =
    SuffixArray.winnowSpanKey(dir, minLen = 40, winnowW = Q176W)

  // the SA family's session-cached artifacts: the query that MEANS
  // computing one invalidates its key first, every consumer rides it
  private def cachedSa(s: SparkSession, dir: String, docs: DataFrame) =
    SuffixArray.cached(s, SuffixArray.saKey(dir))(SuffixArray.build(docs))
  private def cachedLcp(s: SparkSession, dir: String, docs: DataFrame) =
    SuffixArray.cached(s, SuffixArray.lcpKey(dir))(
      SuffixArray.adjacentLcp(cachedSa(s, dir, docs), docs))
  private def cachedShardedCut(s: SparkSession, dir: String, docs: DataFrame) =
    SuffixArray.cached(s, q174CutKey(dir))(
      SuffixArray.shardedDedupCut(docs, minLen = 40, nShards = Q174Shards))
  private def cachedWinnowSpans(s: SparkSession, dir: String, docs: DataFrame) =
    SuffixArray.cached(s, q176WinnowKey(dir))(
      graft.operators.Dedup.winnowedCharSpans(docs, "doc_id", "text",
        minLen = 40, w = Q176W))

  /** One hex digit `n` of md5(text || ':shard'), decoded as
    * ascii − 48 − 39·[c ≥ 'a'] — the DuckDB replay of one digit of
    * `SuffixArray.shardOfText`'s content key.
    */
  private def shardDigitSql(n: Int): String =
    s"(ascii(substr(md5(text || ':shard'), $n, 1)) - 48 - " +
      s"CASE WHEN ascii(substr(md5(text || ':shard'), $n, 1)) >= 97 " +
      "THEN 39 ELSE 0 END)"

  /** The full content-keyed shard assignment: four md5 hex digits
    * (SuffixArray.shardOfText's 4-digit decode — [0, 65536) before the
    * modulus, so shard counts up to SuffixArray.MaxShards stay
    * realizable) mod [[Q174Shards]].
    */
  private val shardAssignSql: String =
    s"((((${shardDigitSql(1)} * 16 + ${shardDigitSql(2)}) * 16 + " +
      s"${shardDigitSql(3)}) * 16 + ${shardDigitSql(4)}) % $Q174Shards)"

  /** Shared oracle CTE prefix of the sharded-kernel family
    * (q174/q175/q176): content-keyed shard assignment, per-shard
    * suffix sort, the q138-style coarse+fine LCP replay partitioned by
    * shard, span union, and the gaps-and-islands pass — ending at
    * `cuts(doc_id, cut_start, cut_end)`. Factored (r16 ADVICE) so the
    * three oracles replay literally the same kernel SQL.
    */
  private val shardedCutCteSql: String =
    s"""sh AS (
      | SELECT doc_id, text, $shardAssignSql AS shard
      | FROM documents),
      |pos AS (
      | SELECT shard, doc_id, i AS p, substr(text, i) AS suf
      | FROM sh, unnest(range(1, length(text) + 1)) AS t(i)),
      |sa AS (
      | SELECT shard, doc_id, p, suf,
      |  row_number() OVER (PARTITION BY shard ORDER BY suf, doc_id, p) AS r
      | FROM pos),
      |pr AS (
      | SELECT a.shard AS shard, a.r AS r, a.doc_id AS doc_a, a.p AS p_a,
      |        a.suf AS suf_a, b.doc_id AS doc_b, b.p AS p_b, b.suf AS suf_b
      | FROM sa a JOIN sa b ON b.shard = a.shard AND b.r = a.r + 1),
      |coarse AS (
      | SELECT shard, r, max(m) AS c
      | FROM pr, unnest(range(1, CAST((SELECT max(length(text)) FROM documents) / 32 AS BIGINT) + 2)) AS t(m)
      | WHERE m * 32 <= least(length(suf_a), length(suf_b))
      |   AND substr(suf_a, 1, CAST(m * 32 AS INT)) = substr(suf_b, 1, CAST(m * 32 AS INT))
      | GROUP BY shard, r),
      |fine AS (
      | SELECT p.shard, p.r, coalesce(c.c, 0) AS c, min(j) AS mism
      | FROM pr p LEFT JOIN coarse c USING (shard, r), unnest(range(1, 34)) AS t(j)
      | WHERE coalesce(c.c, 0) * 32 + j > least(length(p.suf_a), length(p.suf_b))
      |    OR substr(p.suf_a, CAST(coalesce(c.c, 0) * 32 + j AS INT), 1)
      |       <> substr(p.suf_b, CAST(coalesce(c.c, 0) * 32 + j AS INT), 1)
      | GROUP BY p.shard, p.r, c.c),
      |lcp AS (SELECT shard, r, CAST(c * 32 + mism - 1 AS BIGINT) AS lcp FROM fine),
      |pairs AS (SELECT l.lcp, p.doc_a, p.p_a, p.doc_b, p.p_b
      |          FROM lcp l JOIN pr p USING (shard, r)),
      |occ AS (
      | SELECT doc_b AS doc_id, p_b AS p, lcp FROM pairs
      | UNION ALL
      | SELECT doc_a AS doc_id, p_a AS p, lcp FROM pairs),
      |spans AS (
      | SELECT doc_id, CAST(p AS BIGINT) AS s, CAST(p + max(lcp) AS BIGINT) AS e
      | FROM occ GROUP BY doc_id, p HAVING max(lcp) >= 40),
      |isl AS (
      | SELECT doc_id, s, e,
      |  max(e) OVER (PARTITION BY doc_id ORDER BY s
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
      | FROM spans),
      |isl2 AS (
      | SELECT doc_id, s, e,
      |  CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS ng
      | FROM isl),
      |isl3 AS (
      | SELECT doc_id, s, e,
      |  sum(ng) OVER (PARTITION BY doc_id ORDER BY s
      |                ROWS UNBOUNDED PRECEDING) AS gid
      | FROM isl2),
      |cuts AS (
      | SELECT doc_id, min(s) AS cut_start, max(e) AS cut_end
      | FROM isl3 GROUP BY doc_id, gid)""".stripMargin

  /** q174 — SHARDED exact substring dedup-cut: q143's kernel (SA build
    * → LCP walk → span union, Lee et al. 2022) run independently per
    * content-keyed shard — the RUNNABLE form of the 100 TB answer the
    * scale rehearsal's feasibility skip documents for the global walk
    * (r15 verdict #1). Content keying (md5 of the text) means
    * byte-identical documents ALWAYS share a shard, so whole-document
    * exact duplicates — the dominant class — are never missed; only
    * partial overlaps between non-identical texts can cross a
    * boundary (SuffixArraySpec measures that miss rate on a planted
    * corpus; winnowing q82 is the corpus-global complement). Shards
    * run strictly one at a time, so peak working set is one shard's —
    * the per-machine envelope autoShards sizes the count against. The
    * oracle replays the identical shard assignment and runs q143's
    * per-shard suffix sort + coarse/fine LCP replay partitioned by
    * shard.
    */
  def q174(s: SparkSession, dir: String): DataFrame = {
    // the query that MEANS "run the sharded kernel": invalidate first
    // so a timed q174 always measures the per-shard builds + walks
    // (q137's rule); q175's report and q176's cross-shard union then
    // ride this run's cached cut table — the family costs ONE kernel
    SuffixArray.invalidate(s, q174CutKey(dir))
    cachedShardedCut(s, dir, Tables.documents(s, dir))
      .orderBy("doc_id", "cut_start")
  }

  val q174Sql: String =
    s"""WITH $shardedCutCteSql
      |SELECT doc_id, cut_start, cut_end
      |FROM cuts
      |ORDER BY doc_id, cut_start""".stripMargin

  /** q175 — sharded duplicated-substring COVERAGE report: q126's
    * per-document report (how much of each doc sits inside ≥40-char
    * substrings duplicated elsewhere) derived from the SHARDED exact
    * kernel's cut spans — the report/action pair q126/q127 form for
    * the gram pipeline, here both riding one per-shard SA/LCP pass
    * (q174 is the action). Span lengths sum per doc (spans are
    * disjoint by the gaps-and-islands union, so the sum IS the
    * covered-char measure); docs with no within-shard duplication
    * surface with zero coverage via the left join. Same boundary
    * envelope as q174: cross-shard partial overlaps are not counted
    * (whole-doc exact duplicates always are — content keying).
    */
  def q175(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // rides q174's cached kernel (computes it if this runs first) —
    // the report/action pair costs ONE per-shard SA/LCP pass (r16
    // verdict #2), exactly as q126/q127 share one gram pipeline
    val cov = cachedShardedCut(s, dir, docs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("cut_end") - col("cut_start")).as("dup_chars"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        // zero-length guard (r16 ADVICE): a 0-char doc must report
        // 0.0, not engine-dependent NaN/div-by-zero semantics
        when(col("len") > 0,
          round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
            col("len").cast("double"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
      .orderBy("doc_id")
  }

  val q175Sql: String =
    s"""WITH $shardedCutCteSql,
      |cov AS (
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(cut_end - cut_start) AS BIGINT) AS dup_chars
      | FROM cuts GROUP BY doc_id)
      |SELECT d.doc_id,
      | CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
      | CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars,
      | CASE WHEN length(d.text) > 0
      |      THEN round(CAST(coalesce(dup_chars, 0) AS DOUBLE)
      |             / CAST(length(d.text) AS DOUBLE), 4)
      |      ELSE 0.0 END AS dup_frac
      |FROM documents d LEFT JOIN cov USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q176 — CROSS-SHARD-complete dedup cut: q174's sharded exact spans
    * unioned with the corpus-GLOBAL winnow tier
    * ([[graft.operators.SuffixArray.crossShardDedupCut]]) — the
    * runnable form of the boundary-miss mitigation the sharded kernel
    * documents. Within a shard the SA/LCP kernel is offset/length
    * exact; across shards, any duplicated run of ≥ 40 + Q176W − 1
    * chars still selects a common winnow fingerprint (Schleimer et
    * al.'s guarantee over stride-1 40-CHAR grams — the r17 grain fix:
    * the gram length IS the family's minLen, so every winnow cut is a
    * provably recurring 40-char substring and a recurring phrase
    * below 40 chars is never cut), no matter which shards the copies
    * landed in. Rides q174's cached cut table — the whole
    * q174/q175/q176/q178 family costs one per-shard kernel. The
    * oracle replays the shared kernel CTE plus the winnow tier
    * (per-position substr+md5, per-window list_min with
    * list_position's leftmost-tie rule) and the same islands union.
    */
  def q176(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cuts = cachedShardedCut(s, dir, docs)
    // q176 is the query that MEANS "run the winnow tier": invalidate
    // first so its timing always includes one winnow pass (q174's
    // rule); q178's coverage report then rides this run's cached span
    // table — the union family costs ONE winnow pass on top of the one
    // shared kernel (r18 verdict item 5).
    SuffixArray.invalidate(s, q176WinnowKey(dir))
    val winnow = cachedWinnowSpans(s, dir, docs)
    SuffixArray.crossShardDedupCut(docs, minLen = 40, nShards = Q174Shards,
        winnowW = Q176W, cuts = Some(cuts), winnowSpans = Some(winnow))
      .orderBy("doc_id", "cut_start")
  }

  /** Winnow-tier CTE fragment shared by q176/q178: per-position
    * 40-char-gram md5 lists, the leftmost-min window selection, the
    * corpus-wide recurrence filter, and the selected spans — the
    * DuckDB replay of [[graft.operators.Dedup.winnowedCharSpans]].
    */
  private val winnowSpanCteSql: String =
    s"""wh AS (
      | SELECT doc_id, list_transform(range(0, length(text) - 39),
      |        i -> md5(substr(text, CAST(i + 1 AS INT), 40))) AS h
      | FROM documents WHERE length(text) >= 40),
      |wsel AS (
      | SELECT DISTINCT doc_id,
      |  j + list_position(list_slice(h, j + 1, j + $Q176W),
      |                    list_min(list_slice(h, j + 1, j + $Q176W))) AS i,
      |  list_min(list_slice(h, j + 1, j + $Q176W)) AS fp
      | FROM wh, unnest(range(0, greatest(len(h) - $Q176W, 0) + 1)) AS t(j)),
      |wdup AS (SELECT fp FROM wsel GROUP BY fp HAVING count(*) >= 2),
      |wspan AS (
      | SELECT doc_id, CAST(i AS BIGINT) AS s, CAST(i + 40 AS BIGINT) AS e
      | FROM wsel JOIN wdup USING (fp))""".stripMargin

  /** Union-islands CTE fragment shared by q176/q178: sharded cuts ∪
    * winnow spans, merged per doc by the gaps-and-islands pass into
    * `ucuts(doc_id, cut_start, cut_end)`.
    */
  private val unionCutCteSql: String =
    """uspan AS (
      | SELECT doc_id, cut_start AS s, cut_end AS e FROM cuts
      | UNION ALL
      | SELECT doc_id, s, e FROM wspan),
      |uisl AS (
      | SELECT doc_id, s, e,
      |  max(e) OVER (PARTITION BY doc_id ORDER BY s
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
      | FROM uspan),
      |uisl2 AS (
      | SELECT doc_id, s, e,
      |  CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS ng
      | FROM uisl),
      |uisl3 AS (
      | SELECT doc_id, s, e,
      |  sum(ng) OVER (PARTITION BY doc_id ORDER BY s
      |                ROWS UNBOUNDED PRECEDING) AS gid
      | FROM uisl2),
      |ucuts AS (
      | SELECT doc_id, min(s) AS cut_start, max(e) AS cut_end
      | FROM uisl3 GROUP BY doc_id, gid)""".stripMargin

  val q176Sql: String =
    s"""WITH $shardedCutCteSql,
      |$winnowSpanCteSql,
      |$unionCutCteSql
      |SELECT doc_id, cut_start, cut_end
      |FROM ucuts
      |ORDER BY doc_id, cut_start""".stripMargin

  /** q178 — cross-shard duplicated-substring COVERAGE report: q175's
    * per-document coverage shape over the q176 UNION spans (sharded
    * exact tier ∪ winnow tier) — how much of each doc sits inside the
    * cross-shard-complete cut list, where q175 reports the
    * within-shard tier alone (r17 verdict #5). Rides the family's
    * cached cut table plus one winnow pass, so the whole
    * q174/q175/q176/q178 family still costs ONE per-shard kernel;
    * union spans are disjoint after the islands merge, so the span
    * sum IS the covered-char measure, and docs with no duplication
    * surface with zero coverage via the left join (q175's zero-length
    * guard applies unchanged).
    */
  def q178(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cuts = cachedShardedCut(s, dir, docs)
    // rides q176's cached winnow-span table (computes it if this runs
    // first) — the family's second ~1.3 s duplicate winnow pass is gone
    val winnow = cachedWinnowSpans(s, dir, docs)
    val union = SuffixArray.crossShardDedupCut(docs, minLen = 40,
      nShards = Q174Shards, winnowW = Q176W, cuts = Some(cuts),
      winnowSpans = Some(winnow))
    val cov = union.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("cut_end") - col("cut_start")).as("dup_chars"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        when(col("len") > 0,
          round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
            col("len").cast("double"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
      .orderBy("doc_id")
  }

  val q178Sql: String =
    s"""WITH $shardedCutCteSql,
      |$winnowSpanCteSql,
      |$unionCutCteSql,
      |ucov AS (
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(cut_end - cut_start) AS BIGINT) AS dup_chars
      | FROM ucuts GROUP BY doc_id)
      |SELECT d.doc_id,
      | CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
      | CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars,
      | CASE WHEN length(d.text) > 0
      |      THEN round(CAST(coalesce(dup_chars, 0) AS DOUBLE)
      |             / CAST(length(d.text) AS DOUBLE), 4)
      |      ELSE 0.0 END AS dup_frac
      |FROM documents d LEFT JOIN ucov USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q142 — incremental index maintenance (the daily-crawl case): a
    * delta batch (every doc_id ≡ 0 mod 7 re-crawled with changed text —
    * deterministically modeled as reverse(text)) is absorbed into the
    * base postings via `InvertedIndex.merge`: a broadcast anti-join on
    * the delta's doc set drops superseded postings, a union appends the
    * delta's — the untouched 6/7 of the index is never rewritten or
    * re-tokenized. Output = the merged postings flattened to (tok, doc,
    * pos, tf) rows; the oracle builds postings of the post-merge corpus
    * DIRECTLY, so the gate proves merge(build(base), build(delta)) ≡
    * build(merged corpus) on real data (InvertedIndexSpec pins the same
    * identity with overlapping doc sets).
    */
  def q142(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val delta = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("text", reverse(col("text")))
    val merged = InvertedIndex.merge(
      InvertedIndex.buildIndex(docs),
      InvertedIndex.buildIndex(delta))
    merged.postings
      .select(col("tok"), col("doc_id"),
        explode(col("positions")).as("pos"), col("tf"))
      .orderBy("tok", "doc_id", "pos")
  }

  val q142Sql: String =
    """WITH corpus AS (
      | SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
      | UNION ALL
      | SELECT doc_id, reverse(text) FROM documents WHERE doc_id % 7 = 0),
      |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
      |tk AS (
      | SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS tok
      | FROM w, unnest(range(1, len(w) + 1)) AS t(i)
      | WHERE len(w[i]) > 0),
      |tf AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
      |       FROM tk GROUP BY 1, 2)
      |SELECT tk.tok, tk.doc_id, tk.pos, tf.tf
      |FROM tk JOIN tf USING (tok, doc_id)
      |ORDER BY tok, doc_id, pos""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q137_suffix_array" -> (q137 _),
    "q138_longest_dup_substring" -> (q138 _),
    "q139_phrase_search" -> (q139 _),
    "q140_tfidf_neardup" -> (q140 _),
    "q142_index_merge" -> (q142 _),
    "q143_dedup_cut" -> ((s: SparkSession, dir: String) => q143(s, dir)),
    "q174_sharded_dedup_cut" -> (q174 _),
    "q175_sharded_dup_coverage" -> (q175 _),
    "q176_cross_shard_dedup_cut" -> (q176 _),
    "q178_cross_shard_dup_coverage" -> (q178 _))

  val oracles: Map[String, String] = Map(
    "q137_suffix_array" -> q137Sql,
    "q138_longest_dup_substring" -> q138Sql,
    "q139_phrase_search" -> q139Sql,
    "q140_tfidf_neardup" -> q140Sql,
    "q142_index_merge" -> q142Sql,
    "q143_dedup_cut" -> q143Sql,
    "q174_sharded_dedup_cut" -> q174Sql,
    "q175_sharded_dup_coverage" -> q175Sql,
    "q176_cross_shard_dedup_cut" -> q176Sql,
    "q178_cross_shard_dup_coverage" -> q178Sql)
}

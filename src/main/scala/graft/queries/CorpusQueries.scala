package graft.queries

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs beyond dedup/similarity (SURVEY §7.4 extension inventory):
  * reproducible sampling + split assignment, corpus-shape statistics,
  * repetition diagnostics, and vocabulary construction. Like TextQueries,
  * every computation is deliberately SQL-expressible so the DuckDB oracle
  * replays it exactly.
  */
object CorpusQueries {

  /** Deterministic content-keyed hash bucket in [0, 256): the first two
    * hex chars of md5(key || salt), compared as lowercase hex strings —
    * identical in Spark and DuckDB, so sampling decisions are
    * reproducible across engines, runs, AND cluster sizes (no RNG, no
    * partition dependence — the property that matters when a 100 TB
    * corpus is resampled incrementally).
    */
  private def hashBucket(key: Column, salt: String): Column =
    substring(md5(concat(key.cast("string"), lit(salt))), 1, 2)

  /** q42 — stratified reproducible sampling + train/val/test split
    * assignment: per-stratum keep rates (en 16/256, other langs 32/256)
    * via one hash, split via an independent hash (salts differ, so the
    * two decisions are uncorrelated). Entirely map-side at scale — no
    * shuffle before the oracle-determinism sort; rerunning on a grown
    * corpus never reassigns an existing doc.
    */
  def q42(s: SparkSession, dir: String): DataFrame = {
    val keep = hashBucket(col("doc_id"), ":sample")
    val split = hashBucket(col("doc_id"), ":split")
    Tables.documents(s, dir)
      .filter(keep < when(col("lang") === "en", lit("10")).otherwise(lit("20")))
      .select(col("doc_id"), col("lang"),
        when(split < "0a", lit("test"))
          .when(split < "14", lit("val"))
          .otherwise(lit("train")).as("split"))
      .orderBy("doc_id")
  }

  val q42Sql: String =
    """SELECT doc_id, lang,
      | CASE WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 2) < '0a' THEN 'test'
      |      WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 2) < '14' THEN 'val'
      |      ELSE 'train' END AS split
      |FROM documents
      |WHERE substr(md5(doc_id::VARCHAR || ':sample'), 1, 2)
      |      < CASE WHEN lang = 'en' THEN '10' ELSE '20' END
      |ORDER BY doc_id""".stripMargin

  /** q43 — corpus shape statistics per language: exact discrete
    * percentiles (ANSI `percentile_disc`) of document length and token
    * count. Discrete (not interpolated) so every statistic is an actual
    * corpus value and integer-exact across engines. One shuffle on lang;
    * partial aggregation keeps the per-partition state at one
    * sorted-run per (lang, metric).
    */
  def q43(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), length(col("text")).cast("long").as("len"),
        size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY len)")
          .cast("long").as("p25_len"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY len)")
          .cast("long").as("p50_len"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY len)")
          .cast("long").as("p75_len"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY len)")
          .cast("long").as("p99_len"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ntok)")
          .cast("long").as("p50_tokens"))
      .orderBy("lang")

  val q43Sql: String =
    """WITH t AS (
      | SELECT lang, length(text) AS len,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS ntok
      | FROM documents)
      |SELECT lang, COUNT(*) AS n,
      | CAST(quantile_disc(len, 0.25) AS BIGINT) AS p25_len,
      | CAST(quantile_disc(len, 0.5) AS BIGINT) AS p50_len,
      | CAST(quantile_disc(len, 0.75) AS BIGINT) AS p75_len,
      | CAST(quantile_disc(len, 0.99) AS BIGINT) AS p99_len,
      | CAST(quantile_disc(ntok, 0.5) AS BIGINT) AS p50_tokens
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** q44 — repetition diagnostics per document (the Gopher-style "mostly
    * repeated content" signal): token count, distinct-token count, and
    * the highest single-token frequency. The max-frequency path is
    * explode → two keyed aggregations — both keyed by doc_id, so at
    * scale it is one shuffle of (doc_id, token) pairs with map-side
    * partial counts, then a doc-keyed rollup.
    */
  def q44(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
    val maxFreq = toks.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("f"))
      .groupBy("doc_id").agg(max("f").as("max_token_freq"))
    toks.select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct_tokens"))
      .join(maxFreq, "doc_id")
      .orderBy("doc_id")
  }

  val q44Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |f AS (
      | SELECT doc_id, tok, COUNT(*) AS f
      | FROM (SELECT doc_id, unnest(w) AS tok FROM w) GROUP BY doc_id, tok),
      |m AS (SELECT doc_id, MAX(f) AS max_token_freq FROM f GROUP BY doc_id)
      |SELECT w.doc_id, len(w.w) AS n_tokens,
      | len(list_distinct(w.w)) AS n_distinct_tokens, m.max_token_freq
      |FROM w JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q45 — vocabulary construction: top-50 terms by document frequency
    * (ties broken by term, a total order ⇒ deterministic LIMIT). The
    * per-doc `array_distinct` bounds each doc's contribution to its
    * distinct terms; the groupBy partial-aggregates map-side so only
    * (term, partial df) pairs shuffle, and the top-k is
    * TakeOrderedAndProject — no global sort.
    */
  def q45(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(array_distinct(TextFns.tokens(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("term")).limit(50)

  val q45Sql: String =
    """SELECT term, COUNT(*) AS df
      |FROM (SELECT doc_id, unnest(list_distinct(
      |        string_split_regex(lower(trim(text)), '\s+'))) AS term
      |      FROM documents)
      |GROUP BY term ORDER BY df DESC, term LIMIT 50""".stripMargin

  /** q46 — leakage-safe (group-aware) split assignment: the split hash is
    * keyed on the near-dup CLUSTER id (q38's transitive components), not
    * the doc id, so near-duplicate documents always land in the same
    * split — the standard guard against train/test contamination through
    * paraphrase-level duplicates. Singleton docs have cluster_id ==
    * doc_id and therefore get exactly the split q42 would assign them
    * (same salt). Composition of two verified operators; the extra cost
    * over q42 is the dedup-cluster pass itself.
    */
  def q46(s: SparkSession, dir: String): DataFrame = {
    val split = hashBucket(col("cluster_id"), ":split")
    graft.operators.Dedup.dedupClusters(
        Tables.documents(s, dir), "doc_id", "text", 3, 0.7)
      .select(col("doc_id"), col("cluster_id"),
        when(split < "0a", lit("test"))
          .when(split < "14", lit("val"))
          .otherwise(lit("train")).as("split"))
      .orderBy("doc_id")
  }

  val q46Sql: String =
    """WITH RECURSIVE t AS (
      | SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |       THEN list_distinct(list_transform(range(1, len(w) - 1),
      |              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |       ELSE [array_to_string(w, ' ')] END AS sh
      | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)),
      |p AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM t a, t b
      | WHERE a.doc_id < b.doc_id
      |   AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.7),
      |e AS (
      | SELECT doc_a AS a, doc_b AS b FROM p
      | UNION SELECT doc_b, doc_a FROM p
      | UNION SELECT doc_id, doc_id FROM documents),
      |reach(a, b) AS (
      | SELECT a, b FROM e
      | UNION
      | SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      |c AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
      |SELECT doc_id, cluster_id,
      | CASE WHEN substr(md5(cluster_id::VARCHAR || ':split'), 1, 2) < '0a' THEN 'test'
      |      WHEN substr(md5(cluster_id::VARCHAR || ':split'), 1, 2) < '14' THEN 'val'
      |      ELSE 'train' END AS split
      |FROM c ORDER BY doc_id""".stripMargin

  /** q47 — benchmark decontamination: flag training documents sharing any
    * 5-gram with the held-out evaluation set (source = 'src0' stands in
    * for the benchmark corpus), reporting how many distinct grams
    * collide — the n-gram overlap check run before LLM training to keep
    * eval data out of the training set. Scale shape: the benchmark gram
    * set is small (eval sets are) → broadcast hash join, so training
    * grams are filtered map-side and only colliding (doc, gram) pairs
    * reach the count-distinct shuffle.
    */
  def q47(s: SparkSession, dir: String): DataFrame = {
    val gramUdf = udf { text: String =>
      graft.functions.Hashing.shingleSet(text, 5)
    }
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(gramUdf(col("text"))).as("gram"))
    val benchGrams = grams.filter(col("source") === "src0")
      .select("gram").distinct()
    grams.filter(col("source") =!= "src0")
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  val q47Sql: String =
    """WITH g AS (
      | SELECT doc_id, source, unnest(CASE WHEN len(w) >= 5
      |   THEN list_distinct(list_transform(range(1, len(w) - 3),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
      |   ELSE [array_to_string(w, ' ')] END) AS gram
      | FROM (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS w
      |       FROM documents)),
      |b AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
      |SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared_grams
      |FROM g JOIN b USING (gram) WHERE g.source <> 'src0'
      |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  /** q48 — concat-and-chunk packing offsets: LLM pretraining concatenates
    * the corpus in a fixed order and cuts fixed-size context windows, so
    * every document needs its GLOBAL token offset — an exact prefix sum
    * in doc_id order. A bare `Window.orderBy` would plan a single-task
    * sort; [[graft.operators.PrefixSum]] runs the two-pass parallel scan
    * (range partition → per-partition totals → broadcast bases) instead.
    * Output: per doc, its token span and the first/last 2048-token chunk
    * it lands in (documents may straddle a boundary — that is the
    * standard packing semantics).
    */
  def q48(s: SparkSession, dir: String): DataFrame = {
    val chunk = 2048
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.PrefixSum
      .withRunningTotal(toks, "doc_id", "n_tokens", "cum")
      .select(col("doc_id"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_offset"),
        floor((col("cum") - col("n_tokens")) / chunk).cast("long").as("first_chunk"),
        floor((col("cum") - 1) / chunk).cast("long").as("last_chunk"))
      .orderBy("doc_id")
  }

  val q48Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
      | FROM documents),
      |c AS (
      | SELECT doc_id, n_tokens,
      |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
      | FROM t)
      |SELECT doc_id, n_tokens,
      | CAST(cum - n_tokens AS BIGINT) AS start_offset,
      | CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS first_chunk,
      | CAST(floor((cum - 1) / 2048) AS BIGINT) AS last_chunk
      |FROM c ORDER BY doc_id""".stripMargin

  /** q49 — data-mixing weights: per-source document/token counts, each
    * source's token share, and the per-source sampling weight that would
    * equalize token contributions (uniform mixing target) — the numbers a
    * pretraining pipeline computes before weighted interleaving. One
    * keyed aggregation (partial map-side) + a broadcast of the one-row
    * grand total; ratios are IEEE double divisions of exact longs, so
    * the oracle matches bit-for-bit.
    */
  def q49(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .select(col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    val grand = perSource.agg(
      sum("n_tokens").as("total"), count(lit(1)).as("k"))
    perSource.crossJoin(broadcast(grand))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total").cast("double"))
          .as("token_share"),
        (col("total").cast("double") /
          (col("k") * col("n_tokens").cast("double"))).as("weight"))
      .orderBy("source")
  }

  val q49Sql: String =
    """WITH t AS (
      | SELECT source,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS nt
      | FROM documents),
      |a AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
      |      FROM t GROUP BY source),
      |g AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS k FROM a)
      |SELECT source, n_docs, n_tokens,
      | CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share,
      | CAST(total AS DOUBLE) / (k * CAST(n_tokens AS DOUBLE)) AS weight
      |FROM a, g ORDER BY source""".stripMargin

  /** q50 — segment-level exact dedup (the flat-text analog of C4's line
    * dedup): each document is cut into NON-OVERLAPPING 8-token segments
    * (a corpus with newlines would segment on them instead) and segments
    * occurring in ≥2 distinct documents are reported with their document
    * and occurrence counts. Segmentation is a map-only `transform`/
    * `slice` over the token array (no explode-then-window); the only
    * shuffle is the segment-keyed aggregation with map-side partial
    * counts — the same one-shuffle hash-groupBy shape as exact doc dedup
    * (q19), so it holds at corpus scale where the dup-segment table is
    * the small output.
    */
  def q50(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / $k.0) as int) - 1),
           |          i -> array_join(slice(w, i * $k + 1, $k), ' '))""".stripMargin))
        .as("segment"))
      .groupBy("segment")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy("segment")
  }

  val q50Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |s AS (
      | SELECT doc_id, unnest(list_transform(
      |   range(0, CAST(ceil(len(w) / 8.0) AS INT)),
      |   i -> array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' '))) AS segment
      | FROM w)
      |SELECT segment, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
      |FROM s GROUP BY segment HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY segment""".stripMargin

  /** q51 — unigram log-probability scoring: fit the corpus unigram model
    * (token → count / total) and score each document by its mean
    * negative log-likelihood — the classic cheap perplexity proxy used to
    * rank web documents for quality before training. The vocabulary
    * aggregate is one shuffle with map-side combine; scoring joins tokens
    * to the vocabulary BROADCAST (a unigram table is tiny relative to any
    * corpus), so the scoring pass itself is map-side + one doc-keyed
    * aggregation. Scores are rounded to 4 decimals so partial-aggregation
    * summation order (engine-dependent in the last ulp) can't flip the
    * oracle hash.
    */
  def q51(s: SparkSession, dir: String): DataFrame = {
    // The token subtree is deliberately evaluated TWICE (vocab branch +
    // scoring branch) rather than materialized as a (doc, term, n)
    // table: both branches aggregate into tiny key spaces (|vocab| and
    // |docs|) with map-side partials, so their shuffles are bounded by
    // those key spaces, while a shared doc-term table would shuffle the
    // corpus itself. Two cheap columnar scans beat one corpus-sized
    // shuffle (measured: the doc-term form was 10x the shuffle bytes
    // and 1.6x the time at sf0.1).
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum("c").as("total"))
    toks.join(broadcast(vocab), "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("c").cast("double") / col("total").cast("double"))), 4)
        .as("avg_neg_logp"),
        count(lit(1)).as("n_tokens"))
      .orderBy("doc_id")
  }

  val q51Sql: String =
    """WITH toks AS (
      | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      | FROM documents),
      |v AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
      |g AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM v)
      |SELECT doc_id,
      | round(avg(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))), 4) AS avg_neg_logp,
      | COUNT(*) AS n_tokens
      |FROM toks JOIN v USING (tok), g
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q52 — quality-filter funnel: the FineWeb/C4-style cascade of cheap
    * document filters, reported as one row per stage with rows-in /
    * rows-kept / rows-dropped. Stages are CUMULATIVE (a doc reaches
    * stage k only if it passed 1..k-1) — the number an operator actually
    * reads when deciding which filter is eating the corpus. All four
    * predicates are per-row expressions, so the whole funnel is one
    * map-side pass + a single-row aggregate; at 100 TB it costs one scan.
    */
  def q52(s: SparkSession, dir: String): DataFrame = {
    val doc = Tables.documents(s, dir)
      .select(col("n_chars"), TextFns.tokens(col("text")).as("w"))
      .select(col("n_chars").cast("long").as("nc"),
        size(col("w")).cast("long").as("nt"),
        size(array_distinct(col("w"))).cast("long").as("nd"))
    val p1 = col("nc") >= 100
    val p2 = p1 && col("nt") >= 25
    val meanLen = col("nc").cast("double") / col("nt").cast("double")
    val p3 = p2 && meanLen >= 3.0 && meanLen <= 12.0
    val p4 = p3 && col("nd").cast("double") / col("nt").cast("double") >= 0.4
    doc.agg(count(lit(1)).as("n0"),
        sum(p1.cast("long")).as("k1"), sum(p2.cast("long")).as("k2"),
        sum(p3.cast("long")).as("k3"), sum(p4.cast("long")).as("k4"))
      .selectExpr(
        """stack(4,
          | 1, 'min_chars',      n0, k1,
          | 2, 'min_tokens',     k1, k2,
          | 3, 'mean_token_len', k2, k3,
          | 4, 'distinct_ratio', k3, k4) AS (stage, filter_name, n_in, n_kept)""".stripMargin)
      .select(col("stage").cast("long").as("stage"), col("filter_name"),
        col("n_in"), col("n_kept"), (col("n_in") - col("n_kept")).as("n_dropped"))
      .orderBy("stage")
  }

  val q52Sql: String =
    """WITH d AS (
      | SELECT CAST(n_chars AS BIGINT) AS nc,
      |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS nt,
      |  CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS nd
      | FROM documents),
      |f AS (
      | SELECT nc >= 100 AS p1,
      |  nc >= 100 AND nt >= 25 AS p2,
      |  nc >= 100 AND nt >= 25
      |   AND CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE) BETWEEN 3.0 AND 12.0 AS p3,
      |  nc >= 100 AND nt >= 25
      |   AND CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE) BETWEEN 3.0 AND 12.0
      |   AND CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE) >= 0.4 AS p4
      | FROM d),
      |a AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS n0,
      |  CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
      |  CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
      |  CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
      |  CAST(SUM(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS k4
      | FROM f)
      |SELECT * FROM (
      | SELECT CAST(1 AS BIGINT) AS stage, 'min_chars' AS filter_name,
      |        n0 AS n_in, k1 AS n_kept, n0 - k1 AS n_dropped FROM a
      | UNION ALL SELECT 2, 'min_tokens', k1, k2, k1 - k2 FROM a
      | UNION ALL SELECT 3, 'mean_token_len', k2, k3, k2 - k3 FROM a
      | UNION ALL SELECT 4, 'distinct_ratio', k3, k4, k3 - k4 FROM a)
      |ORDER BY stage""".stripMargin

  /** q53 — top-k per group via ranked window: the 3 longest documents
    * per language (`row_number` over a per-lang ordering, ties broken by
    * doc_id — a total order, so the answer is deterministic). The window
    * partitions by lang, so Spark plans one hash-partitioned sort per
    * group — no global sort, no single-task window (contrast q48's
    * scaladoc) — and at scale each language's partition sorts
    * independently. The generic "best N examples per stratum" selection
    * every curation pipeline runs.
    */
  def q53(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(desc("n_chars"), asc("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy("lang", "rank")
  }

  val q53Sql: String =
    """SELECT lang, doc_id, n_chars, rank FROM (
      | SELECT lang, doc_id, n_chars,
      |  CAST(row_number() OVER (PARTITION BY lang
      |                          ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
      | FROM documents)
      |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin

  /** q54 — deterministic global shuffle: training order as a reproducible
    * pseudo-random permutation. Each doc's shuffle key is
    * md5(doc_id || epoch salt) — content-keyed like q42, so the
    * permutation is identical across engines, runs, and cluster sizes,
    * and re-keying the salt gives an independent order per epoch. The
    * global position is an exact prefix-count in key order via
    * [[graft.operators.PrefixSum]] (two-pass parallel scan), NOT a bare
    * `Window.orderBy` — the difference between a permutation that one
    * task computes and one that 1000 executors compute.
    */
  def q54(s: SparkSession, dir: String): DataFrame =
    graft.operators.PrefixSum.withRunningTotal(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            md5(concat(col("doc_id").cast("string"), lit(":shuffle:epoch0")))
              .as("shuffle_key"))
          .withColumn("__one", lit(1L)),
        "shuffle_key", "__one", "position")
      .select(col("doc_id"), col("shuffle_key"), col("position"))
      .orderBy("doc_id")

  val q54Sql: String =
    """SELECT doc_id,
      | md5(doc_id::VARCHAR || ':shuffle:epoch0') AS shuffle_key,
      | CAST(row_number() OVER (
      |   ORDER BY md5(doc_id::VARCHAR || ':shuffle:epoch0')) AS BIGINT) AS position
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q55 — sketch aggregates: per-source approximate distinct-token count
    * (HyperLogLog++) and approximate median document length, alongside
    * their exact counterparts. At 100 TB the sketches are the point —
    * HLL state is a few KB per group and merges map-side, where exact
    * `COUNT(DISTINCT)` must shuffle every distinct value.
    *
    * Oracle closure (VERDICT r10 #6): the sketch VALUES are
    * engine-specific (Spark's HLL++/GK internals), so they cannot be
    * replayed in DuckDB — but their PUBLISHED ERROR BOUNDS can be
    * checked as booleans. The query emits the exact aggregates plus
    *  - `hll_ok`: |approx − exact| ≤ 4·rsd·exact (rsd = 0.05, Spark's
    *    default — 4σ of the HLL++ standard-error guarantee, a
    *    ~1-in-16k false-failure rate), and
    *  - `p50_ok`: approx median ∈ [percentile_disc(0.49),
    *    percentile_disc(0.51)] (accuracy 10000 ⇒ rank error ≤ 1e-4,
    *    well inside the ±0.01-rank bracket),
    * and the oracle computes the exact columns and asserts the
    * booleans are literally TRUE — so the driver's rows+schema+hash
    * gate now covers the sketch path end-to-end. The raw approx values
    * stay out of the projection (they would hash-differ by design);
    * CorpusQueriesSpec pins them separately.
    */
  def q55(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tokStats = docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("exact_distinct"),
        approx_count_distinct(col("tok")).as("approx_distinct"))
    val lenStats = docs.groupBy("source")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long").as("exact_p50_chars"),
        expr("percentile_disc(0.49) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("__p49"),
        expr("percentile_disc(0.51) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("__p51"),
        percentile_approx(col("n_chars"), lit(0.5), lit(10000))
          .cast("long").as("approx_p50_chars"))
    tokStats.join(lenStats, "source")
      .select(col("source"), col("n_tokens"), col("exact_distinct"),
        col("exact_p50_chars"),
        (abs(col("approx_distinct") - col("exact_distinct"))
          <= lit(4.0 * 0.05) * col("exact_distinct")).as("hll_ok"),
        (col("approx_p50_chars") >= col("__p49") &&
          col("approx_p50_chars") <= col("__p51")).as("p50_ok"))
      .orderBy("source")
  }

  val q55Sql: String =
    """WITH tok AS (
      | SELECT source,
      |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      | FROM documents),
      |ts AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
      | FROM tok GROUP BY source),
      |ls AS (
      | SELECT source,
      |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)
      |    AS exact_p50_chars
      | FROM documents GROUP BY source)
      |SELECT source, n_tokens, exact_distinct, exact_p50_chars,
      | TRUE AS hll_ok, TRUE AS p50_ok
      |FROM ts JOIN ls USING (source) ORDER BY source""".stripMargin

  /** q57 — pivot (crosstab): document counts as lang rows × source
    * columns, the reshape every corpus report runs. Pivot values are
    * EXPLICIT (`src0..src3`), so the schema is static, the plan is one
    * hash aggregation with map-side partials over conditional counts —
    * no second pass to discover column values — and absent combinations
    * are 0, not NULL. The oracle is the conditional-aggregation
    * rewriting, which is exactly how Catalyst lowers pivot.
    */
  def q57(s: SparkSession, dir: String): DataFrame = {
    val srcs = Seq("src0", "src1", "src2", "src3")
    Tables.documents(s, dir)
      .groupBy("lang").pivot("source", srcs).agg(count(lit(1)))
      .select(col("lang") +:
        srcs.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy("lang")
  }

  val q57Sql: String =
    """SELECT lang,
      | CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS src0,
      | CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS src1,
      | CAST(SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT) AS src2,
      | CAST(SUM(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS BIGINT) AS src3
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q58 — CUBE aggregation: doc and token counts over every subset of
    * (lang, source) in ONE pass — Spark expands grouping sets inside the
    * aggregate, so the corpus is scanned once, not 4×. Total rows are
    * labeled 'ALL' via `grouping()` (NOT by coalescing the key — a
    * genuine NULL key must stay distinguishable from the rollup row;
    * the q32 lesson).
    */
  def q58(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("nt"))
      .cube(col("lang"), col("source"))
      .agg(grouping(col("lang")).as("__gl"), grouping(col("source")).as("__gs"),
        count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .select(
        when(col("__gl") === 1, lit("ALL")).otherwise(col("lang")).as("lang"),
        when(col("__gs") === 1, lit("ALL")).otherwise(col("source")).as("source"),
        col("n_docs"), col("n_tokens"))
      .orderBy("lang", "source")

  val q58Sql: String =
    """WITH t AS (
      | SELECT lang, source,
      |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS nt
      | FROM documents)
      |SELECT
      | CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
      | CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
      | COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
      |FROM t GROUP BY CUBE (lang, source) ORDER BY lang, source""".stripMargin

  /** q59 — BM25 retrieval scoring against a fixed query-term set: the
    * ranking primitive behind retrieval-based data curation (find the
    * corpus documents most relevant to a target domain). Classic
    * Robertson/Sparck-Jones BM25 (k1=1.2, b=0.75, idf =
    * ln((N−df+0.5)/(df+0.5)+1)). Plan shape at scale: corpus stats
    * (N, avgdl) are a one-row broadcast; per-term document frequencies
    * are a broadcast (query terms are few); the token explode is
    * filtered to query terms BEFORE the tf aggregation, so only
    * matching (doc, term) pairs ever shuffle. Scores rounded to 4
    * decimals (summation-order guard), ranked with a doc_id tiebreak so
    * the output order is total.
    */
  def q59(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("spark", "scan", "merge")
    val (k1, b) = (1.2, 0.75)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("double").as("dl"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("w")).as("tok"))
      .filter(col("tok").isin(qTerms: _*))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).cast("double").as("tf"))
    val dft = tf.groupBy("tok")
      .agg(countDistinct(col("doc_id")).cast("double").as("dft"))
    tf.join(broadcast(dft), "tok").crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n") - col("dft") + 0.5) / (col("dft") + 0.5) + 1))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("bm25"),
        count(lit(1)).as("n_matched_terms"))
      .orderBy(desc("bm25"), asc("doc_id"))
  }

  val q59Sql: String =
    """WITH d AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM d),
      |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
      |tf AS (
      | SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      | FROM (SELECT doc_id, unnest(w) AS tok FROM d)
      | WHERE tok IN ('spark', 'scan', 'merge') GROUP BY doc_id, tok),
      |dft AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dft
      |        FROM tf GROUP BY tok)
      |SELECT tf.doc_id,
      | round(SUM(ln((n - dft + 0.5) / (dft + 0.5) + 1) * tf * 2.2
      |   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25,
      | COUNT(*) AS n_matched_terms
      |FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id), s
      |GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id""".stripMargin

  /** q61 — exact-k per-stratum sampling: exactly 20 documents per
    * language, chosen by ranking on a content-keyed hash — the
    * deterministic, engine-reproducible replacement for a per-group
    * reservoir sample (same guarantee: every doc equally likely under
    * the hash's uniformity, same k; none of the RNG/partition-order
    * nondeterminism). Complements q42, whose rate-based filter gives
    * BINOMIAL per-stratum counts. `row_number` over a lang-partitioned
    * window — per-group sorts, no global sort; at scale the window's
    * shuffle is the one hash partition on lang.
    */
  def q61(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(md5(concat(col("doc_id").cast("string"), lit(":reservoir"))),
        col("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .orderBy("lang", "rank")
  }

  val q61Sql: String =
    """SELECT lang, doc_id, rank FROM (
      | SELECT lang, doc_id,
      |  CAST(row_number() OVER (PARTITION BY lang
      |    ORDER BY md5(doc_id::VARCHAR || ':reservoir'), doc_id) AS BIGINT) AS rank
      | FROM documents)
      |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin

  /** q63 — overlapping context-window chunking: cut each document into
    * 64-token windows advancing by 48 (16-token overlap) — how a corpus
    * is actually fed to a context-bounded model when documents must not
    * be truncated at hard boundaries. Entirely map-side (`transform` +
    * `slice` + `posexplode`, no shuffle before the determinism sort);
    * emits the chunk hash rather than the text so the output stays
    * narrow. Complements q48, which packs WITHOUT overlap via the global
    * prefix sum.
    */
  def q63(s: SparkSession, dir: String): DataFrame = {
    val (k, stride) = (64, 48)
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / $stride.0) as int) - 1),
           |          i -> slice(w, i * $stride + 1, $k))""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  val q63Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |c AS (
      | SELECT doc_id, unnest(list_transform(
      |   range(0, CAST(ceil(len(w) / 48.0) AS INT)),
      |   i -> {'chunk_idx': CAST(i AS BIGINT),
      |         'n_chunk_tokens': CAST(least(64, len(w) - i * 48) AS BIGINT),
      |         'chunk_hash': md5(array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' '))}),
      |   recursive := true)
      | FROM w)
      |SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_hash
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** q66 — Bloom-prefiltered decontamination: same semantics (and same
    * oracle) as q47, but the training-side gram stream is first screened
    * by a Bloom filter built over the benchmark grams, and only survivors
    * reach the exact verify join. Why this is the 100 TB form of q47:
    * the broadcast in q47 ships every bench gram STRING to every executor
    * and probes a hash map per gram; here the shipped state is ~10 bits
    * per gram (1.2 MB per million grams at 1% fpp) and the per-gram probe
    * is a few hash bits — and because false positives are re-checked by
    * the join, the output is still exact, so the Bloom pass only DROPS
    * work (~99% of training grams never reach the join probe). When the
    * bench set outgrows broadcast entirely, the verify join degrades
    * gracefully to a shuffled join whose left side is just the Bloom
    * survivors instead of the whole corpus. (Spark's own
    * `stat.bloomFilter` builds the sketch with a distributed merge —
    * no driver-side gram collection.)
    */
  def q66(s: SparkSession, dir: String): DataFrame = {
    val gramUdf = udf { text: String =>
      graft.functions.Hashing.shingleSet(text, 5)
    }
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(gramUdf(col("text"))).as("gram"))
    val benchGrams = grams.filter(col("source") === "src0")
      .select("gram").distinct()
    val bloom = benchGrams.stat.bloomFilter("gram", 1L << 20, 0.01)
    val bloomBc = s.sparkContext.broadcast(bloom)
    val mightContain = udf { g: String => bloomBc.value.mightContainString(g) }
    grams.filter(col("source") =!= "src0")
      .filter(mightContain(col("gram")))
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** q68 — deterministic weighted sampling without replacement (k=100,
    * weight = n_chars) via **priority sampling** (Duffield–Lund–Thorup):
    * priority_i = w_i / u_i with u_i a content-keyed uniform, take the
    * top-k priorities. Inclusion probability is proportional to weight
    * (the PPS guarantee) yet the computation is ONE multiply and ONE
    * divide — both exactly-rounded IEEE ops, so Spark and DuckDB agree
    * bit-for-bit. (The textbook exponential-race form ranks by ln(u)/w;
    * `ln` is not guaranteed identically rounded across libm
    * implementations, which would make the sample engine-dependent —
    * priority sampling sidesteps the transcendental entirely.) u_i is
    * derived from md5 like every sampling decision in this file: no RNG,
    * no partition-order dependence, stable under corpus growth. Plan
    * shape: map-only priority computation + `TakeOrderedAndProject` —
    * the corpus is never shuffled, each task ships only its local top-k.
    */
  def q68(s: SparkSession, dir: String): DataFrame = {
    val v = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(":wsample"))), 1, 6),
      16, 10).cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars").cast("double") * lit(16777216.0) / (v + 1L))
          .as("priority"))
      .orderBy(desc("priority"), asc("doc_id"))
      .limit(100)
  }

  val q68Sql: String =
    """SELECT doc_id, n_chars,
      | CAST(n_chars AS DOUBLE) * 16777216.0
      |   / (('0x' || substr(md5(doc_id::VARCHAR || ':wsample'), 1, 6))::BIGINT + 1)
      |   AS priority
      |FROM documents
      |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin

  /** q70 — adjacent-token pair frequencies (the counting core of one BPE
    * merge round, and the bigram table behind collocation mining): top-30
    * pairs by corpus count. The pair list is built map-side with a
    * `transform` over the token array — NO explode-then-self-join and no
    * window `lag` (either would shuffle the full token stream once more);
    * the only shuffle is the pair-keyed count with map-side partials, and
    * the top-k is `TakeOrderedAndProject` (count desc, pair asc tiebreak
    * makes the cut deterministic). At corpus scale this is the exact
    * shape of the hash-groupBy dedup (q19): one shuffle whose width is
    * the distinct-pair table, not the corpus.
    */
  def q70(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(TextFns.tokens(col("text")).as("w"))
      // position explode + codegen projection (the Apss measured form);
      // the size guard keeps sequence() ascending, replacing CASE/array()
      .filter(size(col("w")) >= 2)
      .select(col("w"), explode(sequence(lit(0), size(col("w")) - 2)).as("i"))
      .select(expr("concat(w[i], ' ', w[i + 1])").as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(30)

  val q70Sql: String =
    """WITH w AS (
      | SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |p AS (
      | SELECT unnest(list_transform(range(1, len(w)),
      |                              i -> w[i] || ' ' || w[i + 1])) AS pair
      | FROM w)
      |SELECT pair, COUNT(*) AS n FROM p
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin

  /** q71 — exact corpus heavy hitters via sketch-then-recount: tokens
    * whose global count is ≥ 1/200 of the token stream, found by (1) a
    * one-pass [[graft.functions.MisraGries]] candidate sketch (native
    * `TypedImperativeAggregate` — bounded `width` state per task,
    * map-side partials, merge on the reduce side) and (2) an exact
    * recount of ONLY the candidates. MG's deterministic guarantee —
    * any token with count > n/width survives the sketch — with
    * width=1000 ≫ 200 makes step 1 a sound filter, so the final output
    * is EXACT and oracle-checkable even though the sketch itself is
    * partition-order-dependent. At 100 TB this is the difference
    * between shuffling the full (token, count) universe (unbounded —
    * web-scale vocab is billions of keys) and shuffling only tokens
    * that already passed a broadcast membership test: the same
    * prefilter-then-verify shape as q66's Bloom pass, applied to an
    * aggregation instead of a join.
    */
  def q71(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
    val sketch = toks
      .agg(graft.functions.MisraGries(s, col("tok"), 1000).as("mg"))
      .head().getMap[String, Long](0)
    val candidates = sketch.keys.toSeq.sorted
    val grand = toks.agg(count(lit(1)).as("n"))
    toks.filter(col("tok").isin(candidates: _*))
      .groupBy(col("tok").as("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(grand))
      .filter(col("n_occurrences") * 200 >= col("n"))
      .select(col("token"), col("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("token"))
  }

  val q71Sql: String =
    """WITH t AS (
      | SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      | FROM documents),
      |n AS (SELECT COUNT(*) AS n FROM t)
      |SELECT tok AS token, COUNT(*) AS n_occurrences
      |FROM t, n GROUP BY tok, n.n HAVING COUNT(*) * 200 >= n.n
      |ORDER BY n_occurrences DESC, token""".stripMargin

  /** q72 — temperature-scaled mixing weights (α = 0.5): the standard
    * smoothing for multilingual/multi-source pretraining — raw token
    * shares are flattened by share^α before renormalizing, boosting
    * low-resource sources without letting any source dominate. α is
    * fixed at 0.5 because `sqrt` is an exactly-rounded IEEE op (a
    * general `pow` is not guaranteed identically rounded across libm
    * implementations — same reasoning as q68's priority sampling); the
    * one remaining engine-order sensitivity, the 20-element
    * normalizer sum, is absorbed by rounding to 10 decimals. Same
    * one-keyed-agg + one-row-broadcast plan shape as q49.
    */
  def q72(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .select(col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("f", sqrt(col("n_tokens").cast("double")))
    val z = perSource.agg(sum("f").as("z"))
    perSource.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"),
        round(col("f") / col("z"), 10).as("weight_t05"))
      .orderBy("source")
  }

  val q72Sql: String =
    """WITH t AS (
      | SELECT source,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS nt
      | FROM documents),
      |a AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens
      |      FROM t GROUP BY source),
      |f AS (SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS f FROM a),
      |z AS (SELECT SUM(f) AS z FROM f)
      |SELECT source, n_tokens, round(f / z, 10) AS weight_t05
      |FROM f, z ORDER BY source""".stripMargin

  /** q73 — cross-source contamination matrix: near-dup pair counts
    * between every pair of sources — "which feeds are copying which",
    * the diagnostic that decides whether a source earns its mixing
    * weight or is just a mirror of another. Reuses the q25 LSH pair
    * pipeline (banded candidates, exact verify); the source lookups are
    * doc_id-keyed hash joins of the NARROW (doc_id, source) projection
    * against the already-small verified-pair table, then a tiny
    * symmetric (least, greatest) rollup. Nothing in this plan touches
    * full text after the LSH stage.
    */
  def q73(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    graft.operators.Dedup.minhashLsh(docs, "doc_id", "text", 3, 0.7)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val q73Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |       THEN list_distinct(list_transform(range(1, len(w) - 1),
      |              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |       ELSE [array_to_string(w, ' ')] END AS sh
      | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)),
      |p AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM t a, t b
      | WHERE a.doc_id < b.doc_id
      |   AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.7)
      |SELECT least(da.source, db.source) AS source_a,
      | greatest(da.source, db.source) AS source_b,
      | COUNT(*) AS n_pairs
      |FROM p
      |JOIN documents da ON p.doc_a = da.doc_id
      |JOIN documents db ON p.doc_b = db.doc_id
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** q75 — per-language adaptive band filtering: keep documents whose
    * length sits inside their OWN language's [p05, p95] band — the
    * data-driven form of fixed length cutoffs (a fixed global band
    * over-trims compact-script languages and under-trims verbose ones).
    * Plan: the per-language quantile table is a tiny aggregation
    * (`percentile_disc` with map-side partials), broadcast back, and
    * the filter itself is map-side — the corpus is never shuffled.
    */
  def q75(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val bands = docs.groupBy("lang").agg(
      expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long").as("lo"),
      expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long").as("hi"))
    docs.join(broadcast(bands), "lang")
      .filter(col("n_chars").between(col("lo"), col("hi")))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q75Sql: String =
    """WITH b AS (
      | SELECT lang,
      |  CAST(quantile_disc(n_chars, 0.05) AS BIGINT) AS lo,
      |  CAST(quantile_disc(n_chars, 0.95) AS BIGINT) AS hi
      | FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN b USING (lang)
      |WHERE d.n_chars BETWEEN b.lo AND b.hi
      |ORDER BY doc_id""".stripMargin

  /** q78 — per-group top-k via the native bounded-heap aggregate
    * ([[graft.functions.TopKRows]]): q53's EXACT semantics (top 3
    * longest docs per language, doc_id ties) through a different — and
    * at scale, far cheaper — plan. q53's window must shuffle and sort
    * every row before rank-filtering; here each map task keeps a k-entry
    * heap per language, the exchange carries only those heap rows, and
    * no sort ever sees the full table. The sort direction is encoded in
    * the heap key (`struct(-n_chars, doc_id)` ascending ≡ n_chars DESC,
    * doc_id ASC). Same oracle as q53 pins result equality; the plan
    * difference (ObjectHashAggregate partials, no Window, no
    * pre-shuffle Sort) is pinned by TopKRowsSpec — the shuffle-BYTES
    * gap only materializes when rows-per-group ≫ k, far beyond the
    * 5k-doc bench table.
    */
  def q78(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        struct((-col("n_chars")).as("nk"), col("doc_id").as("id")).as("key"))
      .groupBy("lang")
      .agg(graft.functions.TopKRows(s, col("key"), 3).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("r0", "kv")))
      .select(col("lang"), col("kv.id").as("doc_id"),
        (-col("kv.nk")).as("n_chars"), (col("r0") + 1).cast("long").as("rank"))
      .orderBy("lang", "rank")

  /** q80 — per-group z-score normalization: each document's length
    * standardized against its OWN language's mean/stddev — the
    * group-wise feature normalization every scoring model wants before
    * thresholds can be shared across languages (complements q75, which
    * trims by group quantiles). Plan: a tiny per-language moment
    * aggregation broadcast back; the normalization itself is map-side.
    * stddev is summation-order-dependent in the last ulps, so the
    * score is rounded to 4 decimals (q64's rule); groups with zero
    * variance emit NULL (division by zero stddev is undefined, not 0).
    */
  def q80(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val moments = docs.groupBy("lang").agg(
      avg(col("n_chars").cast("double")).as("mu"),
      stddev_samp(col("n_chars").cast("double")).as("sd"))
    docs.join(broadcast(moments), "lang")
      .select(col("doc_id"), col("lang"),
        round((col("n_chars").cast("double") - col("mu")) /
          when(col("sd") > 0, col("sd")), 4).as("len_z"))
      .orderBy("doc_id")
  }

  val q80Sql: String =
    """WITH m AS (
      | SELECT lang, AVG(CAST(n_chars AS DOUBLE)) AS mu,
      |  stddev_samp(CAST(n_chars AS DOUBLE)) AS sd
      | FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang,
      | round((CAST(d.n_chars AS DOUBLE) - m.mu)
      |   / CASE WHEN m.sd > 0 THEN m.sd END, 4) AS len_z
      |FROM documents d JOIN m USING (lang)
      |ORDER BY doc_id""".stripMargin

  /** q81 — vocabulary application (token-id encoding): each document's
    * first 16 tokens mapped to ids from the df-ranked vocabulary (q45's
    * ordering; id = rank, OOV = 0) — the encode step between vocabulary
    * construction and model input. Plan: the vocabulary is k-bounded
    * (top-50), so its rank window sorts 50 rows and the id map
    * BROADCASTS; the corpus side is a map-side slice + posexplode, one
    * doc-keyed re-aggregation reassembles positions. Ids are emitted as
    * a joined string (engine-portable row shape; an array cell would
    * make the oracle compare order-fragile).
    */
  def q81(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // INVARIANT: vocab ids are 1-based (row_number starts at 1), so the
    // OOV sentinel 0 in the coalesce below can never collide with a
    // real term id. Pinned by BpeSpec's "q81 OOV sentinel" test; the
    // subword path (q84) removes OOV entirely via byte fallback.
    val vocab = q45(s, dir)
      .withColumn("id",
        row_number().over(Window.orderBy(desc("df"), asc("term"))).cast("long"))
      .select("term", "id")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(slice(TextFns.tokens(col("text")), 1, 16))
          .as(Seq("pos", "term")))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(array_join(expr(
        """transform(array_sort(collect_list(struct(pos, coalesce(id, 0L) AS id))),
          |          x -> cast(x.id as string))""".stripMargin), ",")
        .as("token_ids"))
      .orderBy("doc_id")
  }

  val q81Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |v AS (SELECT term, COUNT(*) AS df
      |      FROM (SELECT doc_id, unnest(list_distinct(w)) AS term FROM w)
      |      GROUP BY term ORDER BY df DESC, term LIMIT 50),
      |vid AS (SELECT term,
      |        CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT) AS id
      |        FROM v),
      |t AS (SELECT doc_id, unnest(list_slice(w, 1, 16)) AS term,
      |       generate_subscripts(list_slice(w, 1, 16), 1) AS pos FROM w)
      |SELECT t.doc_id,
      | string_agg(CAST(COALESCE(vid.id, 0) AS VARCHAR), ',' ORDER BY t.pos)
      |   AS token_ids
      |FROM t LEFT JOIN vid USING (term)
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** q82 — offset-invariant exact-substring dedup via winnowing
    * ([[graft.operators.Dedup.winnowedSegments]]): report every winnowed
    * fingerprint shared by ≥2 documents. Closes q50's blind spot — q50's
    * fixed mod-8 segment boundaries miss a verbatim passage duplicated
    * at a shifted token offset (the most common dup shape in flat
    * text), while any shared run of ≥ w+k−1 = 7 tokens is guaranteed a
    * common fingerprint here (pinned by DedupSpec's shifted-dup
    * property test). Same one-shuffle agg shape as q50: map-only
    * fingerprint selection, one fingerprint-keyed aggregation.
    */
  def q82(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup
      .winnowedSegments(Tables.documents(s, dir), "doc_id", "text", k = 4, w = 4)
      .groupBy("fingerprint")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy("fingerprint")

  val q82Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |h AS (
      | SELECT doc_id, list_transform(range(0, len(w) - 4 + 1),
      |        i -> md5(array_to_string(list_slice(w, i + 1, i + 4), ' '))) AS h
      | FROM w WHERE len(w) >= 4),
      |f AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |        range(0, greatest(len(h) - 4, 0) + 1),
      |        j -> list_min(list_slice(h, j + 1, j + 4))))) AS fingerprint
      | FROM h)
      |SELECT fingerprint, COUNT(DISTINCT doc_id) AS n_docs
      |FROM f GROUP BY fingerprint HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY fingerprint""".stripMargin

  /** One trained BPE model per sf dir (q83/q84/q85 share it): training
    * reads the corpus once — a single word-count shuffle over the FULL
    * vocabulary (the r1–r12 top-2048-word cap is gone; it existed only
    * to keep the old naive merge loop affordable) — then
    * [[graft.functions.Bpe.trainDistributed]]: the widest early merge
    * rounds run as Spark aggregations, the tail through the
    * incremental driver loop, budgeted at 8192 merges. On this corpus
    * (31-word synthetic vocabulary) training exhausts every adjacent
    * pair at merge 106, so the committed sf0.01 goldens are already
    * the trainer's fixpoint — the budget lift changes the MECHANISM
    * (what a real 100 TB vocabulary needs), not these outputs. Cached
    * so a bench/verify run over all three queries trains once.
    */
  private val bpeModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.Bpe.Model]()
  private[graft] def bpeModel(s: SparkSession, dir: String): graft.functions.Bpe.Model =
    bpeModels.computeIfAbsent(dir, _ => {
      val words = Tables.documents(s, dir)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      // adaptive switch (256 MB driver-collect budget): at bench scale
      // the word table fits immediately after the 4 fixed rounds, so
      // the profile is unchanged; at 100 TB the trainer stays
      // distributed however many rounds the wide early regime needs
      graft.functions.Bpe.trainDistributed(words, "w", "n",
        numMerges = 8192, distributedRounds = 4,
        collectBudgetBytes = 256L << 20)
    })

  /** q83 — BPE tokenizer training ([[graft.functions.Bpe]]): the learned
    * merge table, in merge order, with each merged symbol's vocabulary
    * id. Fully deterministic (exact word counts, lexicographic
    * tiebreaks, no RNG) but iterative — no closed-form SQL oracle
    * exists, so the oracle is a committed golden parquet (see
    * `goldenSql`); BpeSpec pins the ALGORITHM against the
    * hand-computed Sennrich-corpus merge sequence plus round-trip and
    * byte-fallback properties.
    */
  def q83(s: SparkSession, dir: String): DataFrame = {
    val m = bpeModel(s, dir)
    import s.implicits._
    m.merges.zipWithIndex.map { case ((l, r), i) =>
      (i + 1L, l, r, l + r, m.vocab(l + r).toLong)
    }.toDF("rank", "left", "right", "merged", "vocab_id").orderBy("rank")
  }

  /** q84 — subword encoding of every document with the q83 model:
    * 1-based vocabulary ids (0 is the reserved OOV sentinel, though BPE
    * with byte fallback never emits it — any unseen character
    * decomposes into `<0xNN>` byte tokens, ids 1–256). The model ships
    * to executors once as a broadcast; encoding is map-only (a Scala
    * UDF is justified here — there is no builtin subword encoder, and
    * the per-row work is a tight driver-trained-table loop, not
    * something a codegen expression could fuse better). Round-trip
    * `decode∘encode = normalized text` is pinned by BpeSpec on every
    * sf0.001 document.
    */
  def q84(s: SparkSession, dir: String): DataFrame = {
    val bc = s.sparkContext.broadcast(bpeModel(s, dir))
    val enc = udf { text: String =>
      val ids = graft.functions.Bpe.encode(text, bc.value)
      (ids.length.toLong, ids.mkString(","))
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), enc(col("text")).as("e"))
      .select(col("doc_id"), col("e._1").as("n_bpe_tokens"),
        col("e._2").as("token_ids"))
      .orderBy("doc_id")
  }

  /** q85 — q48's sequence packing re-expressed in TRUE tokenizer units:
    * global start offsets and chunk spans where lengths are BPE token
    * counts from the q83 model, not whitespace counts — the number a
    * training pipeline actually packs by. Same scalable shape as q48:
    * map-only encode (broadcast model), then the two-pass PrefixSum
    * scan — no single-task window.
    */
  def q85(s: SparkSession, dir: String): DataFrame = {
    val chunk = 2048
    val bc = s.sparkContext.broadcast(bpeModel(s, dir))
    val cnt = udf { text: String =>
      graft.functions.Bpe.encode(text, bc.value).length.toLong
    }
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), cnt(col("text")).as("n_tokens"))
    graft.operators.PrefixSum
      .withRunningTotal(toks, "doc_id", "n_tokens", "cum")
      .select(col("doc_id"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_offset"),
        floor((col("cum") - col("n_tokens")) / chunk).cast("long").as("first_chunk"),
        floor((col("cum") - 1) / chunk).cast("long").as("last_chunk"))
      .orderBy("doc_id")
  }

  /** q86 — bigram log-probability scoring (the CCNet-style perplexity
    * filter, one order above q51's unigram proxy): fit the corpus
    * bigram MLE `P(w2|w1) = c(w1,w2) / c(w1,·)` and score each document
    * by mean negative log-likelihood over its adjacent token pairs.
    * Repetitive/template text scores low (predictable), garbled text
    * scores high — the band both tails get cut from.
    *
    * Scale shape: bigrams are formed MAP-SIDE with `zip_with` over two
    * array slices (no positional self-join, no second explode of the
    * corpus); the bigram-count aggregation shuffles (w1,w2) pairs with
    * map-side combine; the prefix totals derive from the (already
    * aggregated) bigram table; scoring re-joins counts on (w1,w2) — a
    * keyed hash join bounded by the bigram vocabulary, with the
    * unigram-sized prefix table broadcast (q51's rule). Scores rounded
    * to 4 decimals so summation order can't flip the oracle hash.
    * Docs with < 2 tokens have no bigrams and drop out (both engines).
    */
  def q86(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    // position explode + codegen element_at projection (the Apss
    // measured form — zip_with lambdas are interpreted per element and
    // allocate two slice copies per doc)
    val pairs = toks.select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(col("doc_id"), element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2"))
    val bigram = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val prefix = bigram.groupBy("w1").agg(sum("c2").as("c1"))
    pairs.join(bigram, Seq("w1", "w2"))
      .join(broadcast(prefix), "w1")
      .groupBy("doc_id")
      .agg(round(avg(-log(col("c2").cast("double") / col("c1").cast("double"))), 4)
          .as("avg_neg_logp2"),
        count(lit(1)).as("n_bigrams"))
      .orderBy("doc_id")
  }

  val q86Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |p AS (
      | SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      | FROM w, UNNEST(range(1, len(w))) AS t(i)),
      |b AS (SELECT w1, w2, COUNT(*) AS c2 FROM p GROUP BY w1, w2),
      |pre AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM b GROUP BY w1)
      |SELECT doc_id,
      | round(avg(-ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))), 4) AS avg_neg_logp2,
      | COUNT(*) AS n_bigrams
      |FROM p JOIN b USING (w1, w2) JOIN pre USING (w1)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q87 — per-source document quota (the crawl pipeline's per-domain
    * cap: no source may contribute more than N documents, and WHICH N
    * must be reproducible across runs and cluster sizes). Selection
    * order is a content-keyed md5 (q42's determinism rule: no RNG, no
    * partition dependence) with doc_id as total-order tiebreak.
    *
    * Scale shape: rides [[graft.functions.TopKRows]] — each map task
    * keeps at most N keys per source, so the exchange carries bounded
    * heaps instead of the corpus (the window form would shuffle and
    * sort every row; at "cap 10k docs per domain over billions" that's
    * the whole-corpus sort q78's Scaladoc prices out). Map-side md5 +
    * bounded-heap partials + one source-keyed merge.
    */
  def q87(s: SparkSession, dir: String): DataFrame = {
    val n = 20
    Tables.documents(s, dir)
      .select(col("source"),
        struct(md5(concat(col("doc_id").cast("string"), lit(":quota"))).as("h"),
          col("doc_id").as("id")).as("key"))
      .groupBy("source")
      .agg(graft.functions.TopKRows(s, col("key"), n).as("keep"))
      .select(col("source"), explode(col("keep")).as("kv"))
      .select(col("source"), col("kv.id").as("doc_id"))
      .orderBy("source", "doc_id")
  }

  val q87Sql: String =
    """WITH r AS (
      | SELECT source, doc_id,
      |  row_number() OVER (
      |    PARTITION BY source
      |    ORDER BY md5(doc_id::VARCHAR || ':quota'), doc_id) AS rn
      | FROM documents)
      |SELECT source, doc_id FROM r WHERE rn <= 20
      |ORDER BY source, doc_id""".stripMargin

  /** q90 — contamination-rate report: q47 flags colliding documents;
    * this is the per-document AUDIT number reported alongside — every
    * training doc with its distinct 5-gram count, how many grams the
    * benchmark set shares, and the shared fraction (0 for clean docs,
    * which q47's inner join drops). The threshold call ("drop above 10%
    * overlap") needs the full distribution, not just the hits.
    * Same scale shape as q47: broadcast benchmark grams, map-side
    * screen, doc-keyed aggregations; the extra total-gram count rides
    * the same explode.
    */
  def q90(s: SparkSession, dir: String): DataFrame = {
    val gramUdf = udf { text: String =>
      graft.functions.Hashing.shingleSet(text, 5)
    }
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(gramUdf(col("text"))).as("gram"))
    val benchGrams = grams.filter(col("source") === "src0")
      .select("gram").distinct()
    val train = grams.filter(col("source") =!= "src0")
    val totals = train.groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_grams"))
    val shared = train.join(broadcast(benchGrams), "gram")
      .groupBy("doc_id").agg(countDistinct(col("gram")).as("n_shared"))
    totals.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_grams"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_grams").cast("double"), 4).as("contamination_rate"))
      .orderBy("doc_id")
  }

  val q90Sql: String =
    """WITH g AS (
      | SELECT doc_id, source, unnest(CASE WHEN len(w) >= 5
      |   THEN list_distinct(list_transform(range(1, len(w) - 3),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
      |   ELSE [array_to_string(w, ' ')] END) AS gram
      | FROM (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS w
      |       FROM documents)),
      |b AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
      |t AS (SELECT doc_id, COUNT(DISTINCT gram) AS n_grams
      |      FROM g WHERE source <> 'src0' GROUP BY doc_id),
      |sh AS (SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared
      |       FROM g JOIN b USING (gram) WHERE g.source <> 'src0'
      |       GROUP BY g.doc_id)
      |SELECT t.doc_id, t.n_grams,
      | coalesce(sh.n_shared, 0) AS n_shared_grams,
      | round(coalesce(sh.n_shared, 0) / CAST(t.n_grams AS DOUBLE), 4)
      |   AS contamination_rate
      |FROM t LEFT JOIN sh USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q93 — Gopher-style n-gram repetition gate: the fraction of a
    * document's characters covered by its single most frequent word
    * bigram (MassiveText filters docs where the top 2-gram exceeds
    * ~20% of characters — boilerplate and templated spam light up
    * here long before unigram stats do; complements q44's top TOKEN
    * frequency). Bigrams form map-side via `transform` over the token
    * array (the q70 rule: no explode-then-lag window over the token
    * stream); the shuffles are the (doc_id, bigram) count with
    * map-side partials and a doc-keyed argmax carrying ONE struct per
    * doc — `min(struct(-count, bigram))` makes the (count desc,
    * bigram asc) winner a plain aggregate instead of a window sort.
    * The char fraction is a single integer-over-integer division, so
    * the double is correctly rounded and engine-identical with no
    * explicit rounding.
    */
  def q93(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
    val counts = toks
      // position explode + codegen projection (the Apss measured form)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 2)).as("i"))
      .select(col("doc_id"), expr("concat(w[i], ' ', w[i + 1])").as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val top = counts.groupBy("doc_id")
      .agg(min(struct((-col("c")).as("nc"), col("bg"))).as("m"))
      .select(col("doc_id"), col("m.bg").as("top_bigram"),
        (-col("m.nc")).as("bg_count"))
    toks.select(col("doc_id"),
        length(concat_ws(" ", col("w"))).cast("long").as("tot"))
      .join(top, "doc_id")
      .select(col("doc_id"), col("top_bigram"), col("bg_count"),
        ((col("bg_count") * length(col("top_bigram")).cast("long"))
          .cast("double") / col("tot").cast("double")).as("bg_char_frac"))
      .orderBy("doc_id")
  }

  val q93Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |w2 AS (SELECT doc_id, w, len(array_to_string(w, ' ')) AS tot
      |       FROM w WHERE len(w) >= 2),
      |c AS (
      | SELECT doc_id, bg, COUNT(*) AS c FROM (
      |   SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |                         i -> w[i] || ' ' || w[i + 1])) AS bg
      |   FROM w2) u GROUP BY doc_id, bg),
      |t AS (
      | SELECT doc_id, bg AS top_bigram, c AS bg_count FROM (
      |   SELECT doc_id, bg, c,
      |     row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg) AS rn
      |   FROM c) r WHERE rn = 1)
      |SELECT w2.doc_id, t.top_bigram, t.bg_count,
      | CAST(t.bg_count * len(t.top_bigram) AS DOUBLE)
      |   / CAST(w2.tot AS DOUBLE) AS bg_char_frac
      |FROM w2 JOIN t USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q94 — temperature-balanced resampling: the step that turns q72's
    * mixing WEIGHTS into a materialized subcorpus (the ACTION to q72's
    * ANALYSIS, as q91 is to q41). A 40%-of-corpus document budget is
    * allocated across sources by the α=0.5 token-share weights — so
    * low-resource sources keep proportionally more — capped at each
    * source's actual size, and WHICH documents fill each allocation is
    * the content-keyed md5 order (q42/q87's determinism rule: same
    * subcorpus for any run, partitioning, or cluster size).
    *
    * Scale shape: the per-source aggregate is a tiny table collected to
    * the driver (the PageRank/k-means driver-scalar pattern) to compute
    * allocations; selection rides the bounded-heap [[graft.functions
    * .TopKRows]] with k = the LARGEST allocation — map tasks ship heaps,
    * never the corpus, and the per-source cut is a rank filter against
    * the broadcast allocation table. Determinism of the allocation
    * itself: weights round to 10 decimals before the budget multiply
    * (absorbing float sum order, the q72 rule), and the driver replays
    * Spark's HALF_UP rounding exactly.
    */
  def q94(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val perSource = docs
      .select(col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source")
      .agg(sum("nt").as("n_tokens"), count(lit(1)).as("n_docs"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val z = perSource.map(t => math.sqrt(t._2.toDouble)).sum
    val total = perSource.map(_._3).sum
    val budget = math.floor(0.4 * total)
    val alloc = perSource.map { case (src, ntok, ndocs) =>
      val w = BigDecimal(math.sqrt(ntok.toDouble) / z)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
      src -> math.min(math.floor(budget * w).toLong, ndocs)
    }
    val kMax = math.max(1L, alloc.map(_._2).max).toInt
    val spark = s
    import spark.implicits._
    val allocDf = alloc.toSeq.toDF("source", "m")
    docs
      .select(col("source"),
        struct(md5(concat(col("doc_id").cast("string"), lit(":mix"))).as("h"),
          col("doc_id").as("id")).as("key"))
      .groupBy("source")
      .agg(graft.functions.TopKRows(s, col("key"), kMax).as("keep"))
      .select(col("source"), posexplode(col("keep")).as(Seq("rnk", "kv")))
      .join(broadcast(allocDf), "source")
      .filter(col("rnk") < col("m"))
      .select(col("source"), col("kv.id").as("doc_id"))
      .orderBy("source", "doc_id")
  }

  val q94Sql: String =
    """WITH t AS (
      | SELECT source, doc_id,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS nt
      | FROM documents),
      |a AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |             COUNT(*) AS n_docs
      |      FROM t GROUP BY source),
      |f AS (SELECT source, n_docs, sqrt(CAST(n_tokens AS DOUBLE)) AS f FROM a),
      |z AS (SELECT SUM(f) AS z, SUM(n_docs) AS total FROM f),
      |m AS (SELECT source,
      |       LEAST(CAST(floor(floor(0.4 * total) * round(f / z, 10)) AS BIGINT),
      |             n_docs) AS m
      |      FROM f, z),
      |r AS (SELECT source, doc_id,
      |       row_number() OVER (
      |         PARTITION BY source
      |         ORDER BY md5(doc_id::VARCHAR || ':mix'), doc_id) AS rn
      |      FROM documents)
      |SELECT r.source, r.doc_id FROM r JOIN m USING (source)
      |WHERE rn <= m ORDER BY source, doc_id""".stripMargin

  /** q95 — segment dedup with document RECONSTRUCTION (the C4 move:
    * don't drop documents that contain a duplicated line, drop the
    * LINE and keep the rest). q50 reports duplicated segments; this is
    * the action: every segment occurrence except the first — ordered
    * by (doc_id, seg_idx), the stable global rule — is removed, and
    * each document's surviving segments are stitched back in order.
    * Output keeps the audit numbers (segments before/after) beside the
    * rebuilt text.
    *
    * Scale shape: segmentation is map-side; the keep-first winner per
    * segment is ONE struct through a segment-keyed aggregation
    * (`min(struct(doc_id, seg_idx))` — the q91 argmax rule, no window
    * sort over the occurrence table), survivors come back via a
    * LEFT SEMI join on the winner triple, and reconstruction shuffles
    * only the KEPT segments once, keyed by doc — per-doc state bounded
    * by document length. `array_sort` on (seg_idx, segment) structs
    * makes the collect_list order deterministic.
    */
  def q95(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / $k.0) as int) - 1),
           |          i -> array_join(slice(w, i * $k + 1, $k), ' '))"""
          .stripMargin)).as(Seq("seg_idx", "segment")))
    val first = segs.groupBy("segment")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
      .select(col("segment"), col("f.doc_id").as("doc_id"),
        col("f.seg_idx").as("seg_idx"))
    val kept = segs.join(first, Seq("segment", "doc_id", "seg_idx"),
      "left_semi")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_idx"), col("segment")))),
          x => x.getField("segment"))).as("text_kept"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_segments"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
      .orderBy("doc_id")
  }

  val q95Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |s AS (
      | SELECT doc_id, i AS seg_idx,
      |   array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS segment
      | FROM w, unnest(range(0, CAST(ceil(len(w) / 8.0) AS INT))) AS t(i)),
      |kept AS (
      | SELECT doc_id, seg_idx, segment FROM (
      |   SELECT doc_id, seg_idx, segment,
      |     row_number() OVER (
      |       PARTITION BY segment ORDER BY doc_id, seg_idx) AS rn
      |   FROM s) r WHERE rn = 1),
      |tot AS (SELECT doc_id, COUNT(*) AS n_segments FROM s GROUP BY doc_id),
      |rb AS (SELECT doc_id, COUNT(*) AS n_kept,
      |        string_agg(segment, ' ' ORDER BY seg_idx) AS text_kept
      |       FROM kept GROUP BY doc_id)
      |SELECT tot.doc_id, tot.n_segments,
      | coalesce(rb.n_kept, 0) AS n_kept,
      | coalesce(rb.text_kept, '') AS text_kept
      |FROM tot LEFT JOIN rb USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q101 — multinomial Naive Bayes source classifier (train + score in
    * one plan): fit per-source token log-likelihoods with Laplace
    * smoothing `P(w|s) = (c(s,w)+1) / (T_s+V)` and a doc-count prior,
    * then score every document against every source and emit the argmax
    * label — the fastText-style provenance/quality classifier every
    * curation pipeline trains to route or filter crawl data (GPT-3's
    * WebText-vs-CommonCrawl filter is exactly this shape). Self-scoring
    * on the training corpus, like q51's MLE — the gate pins the
    * arithmetic, not generalization.
    *
    * Scale shape: the MODEL is bounded by |sources|·|vocab| — one
    * map-side-combined aggregation each for counts, totals, priors —
    * and ships to executors as broadcasts; scoring is map-side per
    * (doc, token) row against the broadcast model plus ONE
    * (doc, candidate)-keyed aggregation. The corpus itself is never
    * joined shuffle-to-shuffle. Scores round to 4 decimals (q51's
    * rule: partial-agg summation order is engine-dependent in the last
    * ulp) and the argmax runs on the ROUNDED scores with a
    * smallest-source tiebreak, so the predicted label is deterministic
    * across engines by construction.
    */
  def q101(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
    val dtc = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val stc = docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = stc.groupBy("source").agg(sum("c").as("t"))
    val vsize = toks.agg(countDistinct("tok").as("v"))
    val priors = docs.groupBy("source").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
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
    // Argmax as ONE aggregation: the bounded-heap TopKRows (k = 1) over
    // struct(-score, cand) ascending ≡ (score DESC, cand ASC) — the
    // identical total order the previous min(struct(-score, cand))
    // computed, but as a TypedImperativeAggregate it plans as
    // ObjectHashAggregate. min/max over a STRUCT buffer is not
    // hash-aggregate-mutable, so the old form planned SortAggregate
    // with a full Sort of the (doc, cand) score table before EACH agg
    // phase (plans/r19/q101_nb_classifier_before.txt: Sort ×3 +
    // SortAggregate ×2 above the score join) — at 100 TB that sorts a
    // |docs|·|sources| table twice for a per-group single-row answer
    // (r18 verdict item 4). Scores are strictly negative log-probs, so
    // the negation never hits the -0.0/0.0 ordering edge.
    scores
      .groupBy("doc_id")
      .agg(graft.functions.TopKRows(s,
        struct((-col("score")).as("neg"), col("cand")), 1).as("tk"))
      .select(col("doc_id"),
        col("tk").getItem(0).getField("cand").as("pred_source"),
        (-col("tk").getItem(0).getField("neg")).as("score"))
      .orderBy("doc_id")
  }

  val q101Sql: String =
    """WITH toks AS (
      | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      | FROM documents),
      |dtc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok),
      |stoks AS (
      | SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      | FROM documents),
      |stc AS (SELECT source, tok, COUNT(*) AS c FROM stoks GROUP BY source, tok),
      |tot AS (SELECT source, SUM(c) AS t FROM stc GROUP BY source),
      |vs AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
      |pri AS (
      | SELECT source,
      |  ln(CAST(COUNT(*) AS DOUBLE)
      |     / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)) AS prior_ln
      | FROM documents GROUP BY source),
      |contrib AS (
      | SELECT d.doc_id, t2.source AS cand,
      |   d.cnt * ln((CAST(COALESCE(s.c, 0) AS DOUBLE) + 1.0)
      |     / (CAST(t2.t AS DOUBLE) + CAST(vs.v AS DOUBLE))) AS ll
      | FROM dtc d CROSS JOIN tot t2 CROSS JOIN vs
      | LEFT JOIN stc s ON s.source = t2.source AND s.tok = d.tok),
      |scores AS (
      | SELECT c.doc_id, c.cand, round(p.prior_ln + SUM(c.ll), 4) AS score
      | FROM contrib c JOIN pri p ON p.source = c.cand
      | GROUP BY c.doc_id, c.cand, p.prior_ln),
      |best AS (SELECT doc_id, MAX(score) AS m FROM scores GROUP BY doc_id)
      |SELECT s.doc_id AS doc_id, MIN(s.cand) AS pred_source, MAX(b.m) AS score
      |FROM scores s JOIN best b ON s.doc_id = b.doc_id AND s.score = b.m
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** q111 — interpolated Kneser–Ney bigram language model (fixed
    * discount D = 0.75; Kneser & Ney 1995, the smoothing every n-gram
    * quality filter graduates to from q86's raw MLE): score each
    * document by mean negative log of
    * `P(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1,·)/c1) · Pcont(w2)`
    * where `Pcont(w2) = N1+(·,w2) / |bigram types|`. Unlike the MLE,
    * every probability is nonzero, so template text and novel
    * continuations land on one comparable scale — the CCNet band-cut
    * model shape, trained and applied in one job.
    *
    * Scale shape: identical to q86 (map-side `zip_with` bigrams, one
    * (w1,w2) shuffle with map-side combine) plus THREE key-bounded
    * model tables derived from the aggregated bigram table, never from
    * the corpus: prefix stats (c1 and follower-type count N1+(w1,·)),
    * continuation counts N1+(·,w2), and the scalar type total — the
    * first two broadcast (unigram-vocabulary-sized), the scalar rides a
    * broadcast cross join. The probability chain is a fixed IEEE op
    * sequence mirrored token-for-token in the oracle; scores round to 4
    * decimals so double-sum order can't flip the hash (q86's rule).
    */
  def q111(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    // position explode + codegen element_at projection (q86's form)
    val pairs = toks.select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(col("doc_id"), element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2"))
    val bigram = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val prefix = bigram.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("nf"))
    val cont = bigram.groupBy("w2").agg(count(lit(1)).as("np"))
    val types = bigram.agg(count(lit(1)).as("tt"))
    val d = lit(0.75)
    val p = greatest(col("c12").cast("double") - d, lit(0.0)) / col("c1").cast("double") +
      (d * col("nf").cast("double") / col("c1").cast("double")) *
        (col("np").cast("double") / col("tt").cast("double"))
    pairs.join(bigram, Seq("w1", "w2"))
      .join(broadcast(prefix), "w1")
      .join(broadcast(cont), "w2")
      .crossJoin(broadcast(types))
      .groupBy("doc_id")
      .agg(round(avg(-log(p)), 4).as("avg_neg_logp_kn"),
        count(lit(1)).as("n_bigrams"))
      .orderBy("doc_id")
  }

  val q111Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |p AS (
      | SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      | FROM w, UNNEST(range(1, len(w))) AS t(i)),
      |b AS (SELECT w1, w2, COUNT(*) AS c12 FROM p GROUP BY w1, w2),
      |pre AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS nf
      |        FROM b GROUP BY w1),
      |cont AS (SELECT w2, COUNT(*) AS np FROM b GROUP BY w2),
      |ty AS (SELECT COUNT(*) AS tt FROM b)
      |SELECT doc_id,
      | round(avg(-ln(
      |   greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE) +
      |   (0.75 * CAST(nf AS DOUBLE) / CAST(c1 AS DOUBLE)) *
      |   (CAST(np AS DOUBLE) / CAST(tt AS DOUBLE)))), 4) AS avg_neg_logp_kn,
      | COUNT(*) AS n_bigrams
      |FROM p JOIN b USING (w1, w2) JOIN pre USING (w1) JOIN cont USING (w2), ty
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q113 — cross-source distinct 5-gram overlap from KMV/theta
    * sketches ([[graft.functions.KmvSketch]]): one pass builds a 1 KB
    * sketch of each source's distinct shingle set (map-side partials, one
    * source-keyed merge — the corpus is never joined against itself),
    * then every pairwise estimate — per-source distinct counts and
    * their INTERSECTION, the operation HLL cannot do — is computed from
    * the collected kilobyte sketches on the driver, which is the design
    * (sketch algebra never needs the cluster).
    *
    * EXACT SQL oracle since r9: the sketch hash became md5-derived
    * ([[graft.functions.Hashing.md5Hash64]] & Long.MaxValue = DuckDB
    * `md5_number_upper & 2^63−1`), which makes the whole sketch — k
    * smallest distinct hashes per source — and therefore every
    * estimate a deterministic, engine-replayable function of the
    * input: the oracle rebuilds the k-min sets with a window rank and
    * replays the θ-sketch estimator arithmetic (integer θ compares;
    * one division; floor(x+0.5) = Scala `math.round`). The error-bound
    * / merge-invariance properties stay pinned by KmvSketchSpec.
    */
  def q113(s: SparkSession, dir: String): DataFrame = {
    val k = 1024
    val gramUdf = udf { text: String =>
      graft.functions.Hashing.shingleSet(text, 5)
    }
    val sketches = Tables.documents(s, dir)
      .select(col("source"), explode(gramUdf(col("text"))).as("t"))
      .groupBy("source")
      .agg(graft.functions.KmvSketch(s, col("t"), k).as("sk"))
      .collect()
    val rows = for {
      a <- sketches; b <- sketches
      sa = a.getString(0); sb = b.getString(0) if sa < sb
    } yield (sa, sb,
      math.round(graft.functions.KmvSketch.estimate(a.getSeq[Long](1), k)),
      math.round(graft.functions.KmvSketch.estimate(b.getSeq[Long](1), k)),
      math.round(graft.functions.KmvSketch.intersectionEstimate(
        a.getSeq[Long](1), b.getSeq[Long](1), k)))
    import s.implicits._
    rows.toSeq
      .toDF("source_a", "source_b", "est_distinct_a", "est_distinct_b",
        "est_overlap")
      .orderBy("source_a", "source_b")
  }

  /** Exact replay of q113: k-min distinct md5 hashes per source via a
    * window rank, then the θ-sketch estimator with integer θ compares
    * and `floor(x+0.5)` rounding (= Scala `math.round`). */
  val q113Sql: String = {
    val k = 1024
    val L = "9223372036854775807" // Long.MaxValue; CAST(...) AS DOUBLE = 2^63
    s"""WITH w AS (
       | SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
       | FROM documents),
       |sh AS (
       | SELECT doc_id, source,
       |  CASE WHEN len(w) >= 5
       |       THEN list_distinct(list_transform(range(1, len(w) - 3),
       |              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
       |       ELSE [array_to_string(w, ' ')] END AS sh
       | FROM w),
       |h AS (SELECT DISTINCT source,
       |        CAST(md5_number_upper(t) & CAST($L AS UBIGINT) AS BIGINT) AS h
       |      FROM (SELECT source, unnest(sh) AS t FROM sh)),
       |km AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rk
       |       FROM h),
       |sk AS (SELECT source, list(h ORDER BY h) AS ks, MAX(h) AS kth,
       |         COUNT(*) AS kn
       |       FROM km WHERE rk <= $k GROUP BY source),
       |st AS (SELECT source, ks, kn, kn < $k AS ex,
       |         CASE WHEN kn < $k THEN CAST(kn AS DOUBLE)
       |              ELSE CAST(${k - 1} AS DOUBLE)
       |                / (CAST(kth AS DOUBLE) / CAST($L AS DOUBLE)) END AS est,
       |         CASE WHEN kn < $k THEN $L ELSE kth END AS theta
       |       FROM sk)
       |SELECT a.source AS source_a, b.source AS source_b,
       | CAST(floor(a.est + 0.5) AS BIGINT) AS est_distinct_a,
       | CAST(floor(b.est + 0.5) AS BIGINT) AS est_distinct_b,
       | CAST(floor(
       |   CASE WHEN a.ex AND b.ex
       |        THEN CAST(len(list_intersect(a.ks, b.ks)) AS DOUBLE)
       |        ELSE CAST(len(list_intersect(
       |               list_filter(a.ks, x -> x < least(a.theta, b.theta)),
       |               list_filter(b.ks, x -> x < least(a.theta, b.theta)))) AS DOUBLE)
       |          / (CAST(least(a.theta, b.theta) AS DOUBLE) / CAST($L AS DOUBLE))
       |   END + 0.5) AS BIGINT) AS est_overlap
       |FROM st a, st b WHERE a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** q117 — PMI collocation mining: rank adjacent word pairs by
    * pointwise mutual information `ln(P(xy) / (P(x)·P(y)))` with
    * `P(xy) = c12/B` over bigram occurrences and `P(x) = c/N` over
    * unigram occurrences — the classic phrase detector (word2vec's
    * phrase pass, Mikolov et al. 2013) a tokenizer-vocab builder runs
    * before merging multiwords. A min-count floor (c12 ≥ 5) applies
    * BEFORE the model joins, so the rare-pair tail never reaches the
    * join. Scale shape = q111's: map-side `zip_with` bigrams into one
    * (w1,w2)-keyed agg with map-side combine, unigram model broadcast
    * back, scalars on a broadcast cross join.
    *
    * Hash stability: the emitted score is the exact PMI *ratio*
    * `(c12·N·N)/(B·c1·c2)` — i.e. e^PMI — rounded to 4 decimals, NOT
    * its logarithm. ln is monotone, so ranking by the ratio is
    * ranking by PMI; but `Math.log` (JVM) and libm (DuckDB) are each
    * ≤1 ulp and not identically rounded, which flipped `round(ln x,
    * 4)` on boundary rows. One division of integer-derived products
    * (q115's rule) is IEEE-exact in both engines.
    */
  def q117(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum("c").cast("double").as("n"))
    val bigram = toks.filter(size(col("w")) >= 2)
      // position explode + codegen element_at projection (q86's form)
      .select(col("w"), explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val b = bigram.agg(sum("c12").cast("double").as("b"))
    bigram.filter(col("c12") >= 5)
      .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(n)).crossJoin(broadcast(b))
      .select(col("w1"), col("w2"), col("c12"),
        // ONE division of two left-assoc integer-derived products — no
        // transcendental in the hash-compared column (see scaladoc):
        // (c12·n·n)/(b·c1·c2) = e^PMI, monotone in PMI.
        round(((col("c12").cast("double") * col("n")) * col("n")) /
          ((col("b") * col("c1").cast("double")) *
            col("c2").cast("double")), 4).as("pmi_ratio"))
      .orderBy("w1", "w2")
  }

  val q117Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |u AS (SELECT unnest(w) AS tok FROM w),
      |uni AS (SELECT tok, COUNT(*) AS c FROM u GROUP BY tok),
      |n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
      |p AS (
      | SELECT w[i] AS w1, w[i + 1] AS w2
      | FROM w, UNNEST(range(1, len(w))) AS t(i)),
      |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM p GROUP BY w1, w2),
      |b AS (SELECT CAST(SUM(c12) AS DOUBLE) AS b FROM big)
      |SELECT w1, w2, c12,
      | round(((CAST(c12 AS DOUBLE) * n) * n) /
      |   ((b * CAST(u1.c AS DOUBLE)) * CAST(u2.c AS DOUBLE)), 4) AS pmi_ratio
      |FROM big
      |JOIN uni u1 ON u1.tok = w1
      |JOIN uni u2 ON u2.tok = w2, n, b
      |WHERE c12 >= 5
      |ORDER BY w1, w2""".stripMargin

  /** q122 — per-document tf-idf keyword extraction (top 5): the
    * classic lexical summarizer every corpus curator runs to label or
    * route documents before anything neural exists — and the exact
    * scoring a BM25-lite retrieval filter shares (q59 is the
    * query-side sibling). Score = `tf · ln(N/df)`, one division and
    * one ln on exact integer inputs (q117's hash-proof rule), rounded
    * to 4 decimals; ranking runs ON the rounded score with a token
    * tiebreak so ranks are deterministic across engines.
    *
    * Scale shape: tf = one (doc,tok) agg with map-side combine; df
    * derives from tf by a tok-keyed agg; tf⋈df is a tok-keyed
    * shuffle join (both sides already partitioned alike — at web
    * scale the vocab is too big to broadcast, and this join never
    * touches raw text); top-5 per doc via the bounded-heap
    * [[graft.functions.TopKRows]] native aggregate — heaps through
    * the exchange, no window sort of the score table.
    */
  def q122(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(df, "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        round(col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")), 4)
          .as("score"))
      .select(col("doc_id"),
        struct((-col("score")).as("ns"), col("tok")).as("key"))
      .groupBy("doc_id")
      .agg(graft.functions.TopKRows(s, col("key"), 5).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("r0", "kv")))
      .select(col("doc_id"), (col("r0") + 1).cast("long").as("rank"),
        col("kv.tok").as("tok"), (-col("kv.ns")).as("score"))
      .orderBy("doc_id", "rank")
  }

  val q122Sql: String =
    """WITH t AS (
      | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      | FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY doc_id, tok),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |sc AS (
      | SELECT doc_id, tok,
      |  round(CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 4)
      |    AS score
      | FROM tf JOIN df USING (tok), n),
      |r AS (
      | SELECT doc_id, tok, score,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
      | FROM sc)
      |SELECT doc_id, rank, tok, score FROM r WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin

  /** q123 — document novelty scoring: the fraction of a document's
    * distinct word trigrams that occur in NO other document — the
    * memorization/duplication risk signal dedup audits report per doc
    * (a doc of all-unique n-grams is fresh prose; novelty ≈ 0 means
    * boilerplate assembled from corpus-common fragments). Complements
    * q90 (overlap vs an external benchmark) with overlap vs the corpus
    * ITSELF, and q44 (self-repetition) with cross-doc repetition.
    *
    * Scale shape: distinct (doc, gram) pairs from a map-side HOF
    * trigram build; gram-keyed df agg with map-side combine; pairs⋈df
    * is gram-keyed on both sides (never broadcast — the gram universe
    * scales with the corpus); one doc-keyed count agg back. Docs too
    * short for a trigram surface with zero counts and NULL novelty
    * via the left join — surfaced, not dropped.
    */
  def q123(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val grams = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      // position explode + codegen concat_ws/element_at projection (the
      // Apss measured form) — the former nested zip_with lambdas were
      // interpreted per element and allocated two intermediate arrays
      // per doc
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 2)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("w"), col("i")),
        element_at(col("w"), col("i") + 1),
        element_at(col("w"), col("i") + 2)).as("gram"))
      .distinct()
    val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val per = grams.join(dfreq, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round(col("n_unique").cast("double") /
          col("n_grams").cast("double"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  val q123Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |g AS (
      | SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS gram
      | FROM w, unnest(range(1, len(w) - 1)) AS t(i)),
      |df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
      |per AS (
      | SELECT g.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      | FROM g JOIN df USING (gram) GROUP BY g.doc_id)
      |SELECT d.doc_id,
      | CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
      | CAST(coalesce(n_unique, 0) AS BIGINT) AS n_unique,
      | round(CAST(n_unique AS DOUBLE) / CAST(n_grams AS DOUBLE), 4) AS novelty
      |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q126 — exact duplicated-substring coverage (the report behind
    * suffix-array dedup, Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): for each document, how many of its
    * character positions sit inside a substring of length ≥ L that
    * occurs ANYWHERE else in the corpus (other docs or the same doc).
    * The suffix-array-free formulation: a position is duplicated iff
    * its L-char window occurs ≥ 2 times corpus-wide, and the covered
    * char count is the measure of the union of the [p, p+L−1]
    * intervals — computed WITHOUT materializing interval merges as
    * `Σ min(p − prev_p, L)` over the per-doc sorted duplicated
    * positions (first position contributes L). All-integer arithmetic;
    * only the final fraction divides (one division, round 4 — q117's
    * rule). Winnowing (q82) samples this signal; q126 is the exact
    * ground truth at ~L× the data amplification.
    *
    * Scale shape: position table = total_chars rows built map-side
    * (explode of a per-row transform) carrying a 128-bit md5 of each
    * window, computed INSIDE the generate so the raw 40-char grams
    * never leave the map stage (2.5× less shuffle than raw grams;
    * md5 is bit-identical in both engines, so the oracle replays the
    * same hashes and a cross-engine mismatch is impossible short of a
    * 2⁻¹²⁸ collision); duplicated positions via a map-side-combined
    * `groupBy(g).count` + semi join-back — NOT `count(*) over
    * (partition by g)`: a boilerplate gram duplicated 10⁸ times
    * corpus-wide (license headers, nav chrome) would land every
    * occurrence in ONE window task, which must SORT and materialize
    * the whole partition (straggler/OOM), whereas the agg collapses it
    * map-side to one row and AQE skew-split handles the join's probe
    * side. The price is real and deliberate: the md5 position pipeline
    * is derived twice (agg input + probe side — map-side partial
    * aggregation sits under the agg's exchange, so exchange reuse
    * cannot fire), measured 3.6 → 6.2 s at sf0.1. A 2× map stage is a
    * constant; the window's hot-key cliff is unbounded, and at 100 TB
    * the cliff kills the job. Per-doc lag window runs only over
    * DUPLICATED positions, bounded by doc length (q17's sessionization
    * class). Clean and sub-L docs surface with zero coverage via the
    * left join.
    */
  def q126(s: SparkSession, dir: String): DataFrame = {
    val L = 40
    val docs = Tables.documents(s, dir)
    // explode the POSITION, hash in the projection after it: the
    // per-position md5 runs in whole-stage codegen and nothing but
    // (doc_id, p, 16-byte g) leaves the map stage. The former
    // `transform(sequence, i -> struct(i, md5…))` form built the whole
    // (p, hash) struct array per doc inside an INTERPRETED lambda
    // before exploding it (SuffixArray.build's measured pattern — HOF
    // lambdas never enter codegen). Measured same-JVM alternating A/B
    // (tools.AbProbe "pos", sf0.1): med 3.59 → 2.95 s per derivation
    // (min 3.32 → 2.71) — q126 and q127 each pay the derivation twice.
    val pos = docs.filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - L + 1)).as("p"))
      .select(col("doc_id"), col("p"),
        // coalesce-to-nonnull: unhex(md5(..)) is never null here (text
        // is non-null past the length filter), but Spark cannot prove
        // it, and the downstream join's pushed isnotnull(g) predicate
        // would otherwise be pushed BELOW this projection and
        // re-derive the md5 once more per row in a Filter (guide
        // §4.4's duplicated-expensive-expression trap — measured: the
        // full q126 ran 6.5 → 10.2 s with the duplicate). A non-null
        // coalesce makes the column non-nullable, so the pushed
        // isnotnull folds to true at plan time.
        coalesce(unhex(md5(expr(s"substring(text, p, $L)"))),
          lit(Array.emptyByteArray)).as("g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    // hot grams via map-side-combined agg (skew-safe; costs a second
    // derivation of `pos` — the deliberate trade, see scaladoc)
    val hot = pos.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("g")
    val cov = pos
      .join(hot, Seq("g"), "left_semi")
      .withColumn("prev", lag(col("p"), 1).over(w))
      .withColumn("contrib",
        when(col("prev").isNull, lit(L.toLong))
          .otherwise(least(col("p") - col("prev"), lit(L.toLong))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_positions"),
        sum(col("contrib")).as("dup_chars"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
          col("len").cast("double"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  val q126Sql: String =
    """WITH pos AS (
      | SELECT doc_id, i AS p, unhex(md5(substring(text, i, 40))) AS g
      | FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(i)
      | WHERE length(text) >= 40),
      |hot AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
      |dup AS (
      | SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
      | FROM pos WHERE g IN (SELECT g FROM hot)),
      |cov AS (
      | SELECT doc_id, COUNT(*) AS n_dup_positions,
      |  CAST(SUM(CASE WHEN prev IS NULL THEN 40
      |                ELSE least(p - prev, 40) END) AS BIGINT) AS dup_chars
      | FROM dup GROUP BY doc_id)
      |SELECT d.doc_id,
      | CAST(coalesce(n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
      | CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars,
      | round(CAST(coalesce(dup_chars, 0) AS DOUBLE)
      |   / CAST(length(d.text) AS DOUBLE), 4) AS dup_frac
      |FROM documents d LEFT JOIN cov USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q127 — exact duplicated-substring CUT (the ACTION to q126's
    * report, completing Lee et al. 2022's ExactSubstr dedup): every
    * occurrence of a duplicated L-char window EXCEPT the corpus-wide
    * first (min (doc_id, position) per gram — the canonical copy
    * survives) is cut, and each document's remaining text is rebuilt.
    * Char-exact and offset-exact where q95 (segment rebuild) is
    * segment-quantized and q124 is within-doc only.
    *
    * The cut set is relational; the text surgery is one pass per
    * document. Each document's cut positions are collected and joined
    * to its text, and [[cutSpans]] merges them into maximal cut
    * intervals (windows within L of each other merge) and rebuilds the
    * kept text in one scan. A fully-cut doc emits empty text —
    * distinguished from an untouched doc by its cut count, not by
    * absence.
    *
    * Scale shape: q126's position/hash pipeline (raw grams never
    * leave the map stage); the cut set comes from ONE map-side-combined
    * per-gram agg — `min(struct(doc_id, p))` picks the corpus-wide
    * canonical occurrence and `count ≥ 2` gates duplication — joined
    * back to the position table (skew-safe: a 10⁸-occurrence
    * boilerplate gram collapses map-side to one agg row and AQE
    * skew-splits the join, where the former per-gram row_number/count
    * windows would sort-and-materialize every occurrence in one task).
    * Like q126, the md5 pipeline is deliberately derived twice (the
    * partial agg under the exchange rules out exchange reuse; measured
    * 4.0 → 10.1 s at sf0.1) — the constant 2× map cost buys away the
    * window's unbounded hot-key cliff. After the cut set, one doc-keyed
    * exchange carries (doc_id, p) to a `collect_list` per document, a
    * left join adds the text, and the kernel runs in the projection: no
    * window, union or second aggregate. Memory per task is one
    * document's positions and text, the bound the former per-doc
    * windows and `collect_list` rebuild carried.
    */
  def q127(s: SparkSession, dir: String): DataFrame = {
    val L = 40
    val docs = Tables.documents(s, dir)
    // Cut set via per-gram agg + join-back (skew-safe — see scaladoc):
    // min(struct(doc_id, p)) is the corpus-wide canonical occurrence;
    // every other occurrence of a gram with count ≥ 2 is cut.
    // codegen explode+project position pipeline — see q126's comment
    val pos = docs.filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - L + 1)).as("p"))
      .select(col("doc_id"), col("p"),
        // coalesce-to-nonnull — see q126: folds the join's pushed
        // isnotnull(g) away instead of re-deriving the md5 in a Filter
        coalesce(unhex(md5(expr(s"substring(text, p, $L)"))),
          lit(Array.emptyByteArray)).as("g"))
    val canon = pos.groupBy("g")
      .agg(min(struct(col("doc_id"), col("p"))).as("first"),
        count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("g"), col("first.doc_id").as("f_doc"), col("first.p").as("f_p"))
    val cuts = pos.join(canon, Seq("g"))
      .filter(!(col("doc_id") === col("f_doc") && col("p") === col("f_p")))
      .select("doc_id", "p")
    val cut = udf { (text: String, ps: Seq[Int]) =>
      cutSpans(text, if (ps == null) Array.emptyIntArray else ps.toArray.sorted, L)
    }
    val perDoc = cuts.groupBy("doc_id").agg(collect_list(col("p")).as("ps"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), cut(col("text"), col("ps")).as("r"))
      .select(col("doc_id"), col("r._1").as("n_cut_chars"), col("r._2").as("text_kept"))
      .orderBy("doc_id")
  }

  /** q127's text surgery for one document, a pure function of its text
    * and its cut positions (`ps`, 1-based window starts, ascending).
    * Positions whose gap is ≤ `L` merge into one island (adjacent
    * windows overlap or touch), an island covers [first, last + L − 1],
    * and the result is (chars cut = Σ island lengths, text outside every
    * island). Indices count code points, as Spark's `substring` and
    * `length` do, so a surrogate pair is never split. No positions
    * return the text untouched; a fully cut text returns "". Memory is
    * one document: its positions and its text.
    */
  def cutSpans(text: String, ps: Array[Int], L: Int): (Long, String) = {
    if (ps.isEmpty) return (0L, text)
    val kept = new java.lang.StringBuilder
    var cutChars = 0L
    var cp = 1  // first code point not yet kept or cut
    var ch = 0  // its char offset in `text`
    var i = 0
    while (i < ps.length) {
      val s = ps(i)
      var last = s
      i += 1
      while (i < ps.length && ps(i) - last <= L) { last = ps(i); i += 1 }
      val e = last + L - 1
      val sCh = text.offsetByCodePoints(ch, s - cp)
      kept.append(text, ch, sCh)
      ch = text.offsetByCodePoints(sCh, e - s + 1)
      cp = e + 1
      cutChars += e - s + 1
    }
    (cutChars, kept.append(text, ch, text.length).toString)
  }

  val q127Sql: String =
    """WITH pos AS (
      | SELECT doc_id, i AS p, unhex(md5(substring(text, i, 40))) AS g
      | FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(i)
      | WHERE length(text) >= 40),
      |dup AS (
      | SELECT doc_id, p,
      |  row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn,
      |  count(*) OVER (PARTITION BY g) AS c
      | FROM pos),
      |cuts AS (SELECT doc_id, p FROM dup WHERE c >= 2 AND rn > 1),
      |i0 AS (
      | SELECT doc_id, p,
      |  CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 40
      |       THEN 1 ELSE 0 END AS brk
      | FROM cuts WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
      |i1 AS (SELECT doc_id, p,
      |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM i0),
      |isl AS (SELECT doc_id, island, min(p) AS s, max(p) + 39 AS e
      |        FROM i1 GROUP BY 1, 2),
      |betw AS (
      | SELECT doc_id,
      |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
      |  s - 1 AS ke
      | FROM isl),
      |perdoc AS (SELECT doc_id, max(e) AS me,
      |  CAST(SUM(e - s + 1) AS BIGINT) AS n_cut FROM isl GROUP BY doc_id),
      |tl AS (
      | SELECT p.doc_id, p.me + 1 AS ks, length(d.text) AS ke
      | FROM perdoc p JOIN documents d USING (doc_id)),
      |segs AS (
      | SELECT * FROM betw WHERE ke >= ks
      | UNION ALL SELECT * FROM tl WHERE ke >= ks),
      |kept AS (
      | SELECT s.doc_id,
      |  string_agg(substring(d.text, CAST(s.ks AS INT),
      |    CAST(s.ke - s.ks + 1 AS INT)), '' ORDER BY s.ks) AS kept_text
      | FROM segs s JOIN documents d USING (doc_id) GROUP BY s.doc_id)
      |SELECT d.doc_id,
      | CAST(coalesce(p.n_cut, 0) AS BIGINT) AS n_cut_chars,
      | CASE WHEN p.doc_id IS NOT NULL AND k.kept_text IS NULL THEN ''
      |      ELSE coalesce(k.kept_text, d.text) END AS text_kept
      |FROM documents d
      |LEFT JOIN perdoc p USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q129 — multi-signal quality-ensemble selection (the
    * DataComp/FineWeb pattern): no single heuristic is trusted alone;
    * each document is percentile-ranked on several independent quality
    * signals, the ranks blend, and the top quarter of the blend is
    * selected. Signals here: token count, mean token length, and
    * type-token ratio (vocabulary richness) — each computed map-side
    * from one tokenization. Ranks are EXACT global positions under a
    * total (signal, doc_id) order — rank arithmetic is all integers,
    * so the blend and the cut are bit-deterministic across engines;
    * only the reported blend score divides (once, round 4).
    *
    * Scale shape: every global rank rides [[graft.operators.PrefixSum]]'s
    * two-pass parallel scan (the no-single-task-window rule: q115/q118);
    * four rank passes total (three signals + the blend cut), each a
    * range-repartition of the per-DOC signal table — never the corpus
    * text (at 100 TB you'd checkpoint the signal table once rather
    * than re-derive tokens per pass; the plan is otherwise identical).
    */
  def q129(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sig = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("s1"),
        (expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").cast("double") /
          size(col("w")).cast("double")).as("s2"),
        (size(array_distinct(col("w"))).cast("double") /
          size(col("w")).cast("double")).as("s3"))
    def rank(df: DataFrame, sCol: String, out: String): DataFrame =
      graft.operators.PrefixSum.withRunningTotalOrdered(
        df.withColumn("__one", lit(1L)), Seq(sCol, "doc_id"), "__one", out)
        .drop("__one")
    val ranked = rank(rank(rank(sig, "s1", "r1"), "s2", "r2"), "s3", "r3")
      .withColumn("bn", col("r1") + col("r2") + col("r3"))
      .withColumn("negbn", -col("bn"))
    rank(ranked, "negbn", "brank")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .filter(col("brank") <= ceil(col("n") / lit(4.0)).cast("long"))
      .select(col("doc_id"), col("r1"), col("r2"), col("r3"), col("brank"),
        round(col("bn").cast("double") /
          (col("n") * 3).cast("double"), 4).as("blend"))
      .orderBy("doc_id")
  }

  val q129Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |sig AS (
      | SELECT doc_id, len(w) AS s1,
      |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
      |    / len(w) AS s2,
      |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS s3
      | FROM w),
      |r AS (
      | SELECT doc_id,
      |  row_number() OVER (ORDER BY s1, doc_id) AS r1,
      |  row_number() OVER (ORDER BY s2, doc_id) AS r2,
      |  row_number() OVER (ORDER BY s3, doc_id) AS r3,
      |  count(*) OVER () AS n
      | FROM sig),
      |b AS (
      | SELECT doc_id, r1, r2, r3, r1 + r2 + r3 AS bn, n,
      |  row_number() OVER (ORDER BY r1 + r2 + r3 DESC, doc_id) AS brank
      | FROM r)
      |SELECT doc_id, CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
      | CAST(r3 AS BIGINT) AS r3, CAST(brank AS BIGINT) AS brank,
      | round(CAST(bn AS DOUBLE) / (n * 3), 4) AS blend
      |FROM b WHERE brank <= CAST(ceil(n / 4.0) AS BIGINT)
      |ORDER BY doc_id""".stripMargin

  /** q152 — Count-Min frequency estimation audit: the corpus token
    * stream is summarized by ONE [[graft.functions.CountMin]] sketch
    * (native `TypedImperativeAggregate`, d=4 × w=512 longs of state —
    * per-task sketches map-side, one 16 KB buffer per task through the
    * exchange, elementwise-add merge), then the 20 most frequent tokens
    * are read back from the sketch next to their exact counts. The
    * complement of q71's Misra–Gries: MG answers "WHICH keys are heavy"
    * (and its estimates are merge-order-dependent, so q71 recounts);
    * CMS answers "how often is THIS key" — and because its counter
    * matrix is a commutative sum of one-hot updates, the estimates are
    * bit-identical under any partitioning, so they sit DIRECTLY in the
    * exact oracle gate: the DuckDB replay rebuilds every touched cell
    * from `md5_number_upper` buckets (the q26/q29/q113
    * md5-for-the-oracle convention; w is a power of two, making
    * unsigned-vs-floorMod bucket arithmetic identical) and reproduces
    * each estimate to the count. The est − exact gap IS the measured
    * collision overcount, bounded by e/w·n per the CMS guarantee.
    *
    * Scale shape: the exact top-20 (the audit's ground truth) is the
    * one token-keyed shuffle; the sketch adds no shuffle at all. In
    * production the sketch stands alone — point lookups against a
    * 16 KB broadcast state instead of a billions-of-keys count table.
    */
  def q152(s: SparkSession, dir: String): DataFrame = {
    val d = 4
    val w = 512
    val toks = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
    val sketch = toks
      .agg(graft.functions.CountMin(s, col("tok"), d, w).as("cms"))
    val top = toks.groupBy(col("tok").as("token"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), asc("token")).limit(20)
    val est = (0 until d).map { r =>
      element_at(col("cms"), lit(r * w + 1)
        + pmod(graft.functions.VectorFns.md5Num(
            concat(lit(s"cms$r:"), col("token"))), lit(w)).cast("int"))
    }
    top.crossJoin(broadcast(sketch))
      .select(col("token"), col("n_exact"),
        least(est: _*).as("cms_est"))
      .orderBy(desc("n_exact"), asc("token"))
  }

  val q152Sql: String =
    """WITH t AS (
      | SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      | FROM documents),
      |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
      |cell AS (
      | SELECT r.r AS r,
      |   CAST(md5_number_upper('cms' || r.r || ':' || tok) % 512 AS BIGINT) AS b,
      |   SUM(cnt) AS cell
      | FROM c CROSS JOIN range(0, 4) r(r)
      | GROUP BY 1, 2),
      |top AS (SELECT tok AS token, cnt AS n_exact FROM c
      |        ORDER BY cnt DESC, tok LIMIT 20)
      |SELECT token, CAST(n_exact AS BIGINT) AS n_exact,
      | CAST(MIN(cell.cell) AS BIGINT) AS cms_est
      |FROM top CROSS JOIN range(0, 4) rr(r)
      |JOIN cell ON cell.r = rr.r
      |  AND cell.b = CAST(md5_number_upper('cms' || rr.r || ':' || token) % 512 AS BIGINT)
      |GROUP BY token, n_exact
      |ORDER BY n_exact DESC, token""".stripMargin

  /** q161 — length-bucketed inference batch packing with padding-waste
    * audit: the dynamic-batching step every serving/eval pipeline runs
    * (vLLM/TGI-style length bucketing) — docs sort into fixed-width
    * length buckets, batches of `batchSize` form in (length, id) order
    * within each bucket, and every batch pays `max_len · n_docs`
    * padded tokens. waste_frac prices the bucket width. The complement
    * of q48/q85's training-pack (concatenate to capacity, no padding):
    * inference must pad, so the knob is batch homogeneity.
    *
    * Scale shape: per-bucket ordering via ONE PrefixSum two-pass rank
    * over (bucket, len, id) — never a per-bucket global window (a
    * bucket at 100 TB is a corpus-sized partition; the q148/q115
    * discipline); per-bucket bases come from a bucket-count-sized agg
    * broadcast back. Everything else is one map-side-combined
    * (bucket, batch) aggregation; integers except the final audited
    * ratio.
    */
  def q161(s: SparkSession, dir: String,
           bucketWidth: Int = 64, batchSize: Int = 16): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("bucket_lo",
        expr(s"(n_tokens div $bucketWidth) * $bucketWidth"))
    val ranked = graft.operators.PrefixSum.withRunningTotalOrdered(
      toks.withColumn("__one", lit(1)),
      Seq("bucket_lo", "n_tokens", "doc_id"), "__one", "__rank", 32)
    val bases = ranked.groupBy("bucket_lo")
      .agg(min(col("__rank")).as("__base"))
    ranked.join(broadcast(bases), Seq("bucket_lo"))
      .withColumn("batch_id",
        expr(s"(__rank - __base) div $batchSize"))
      .groupBy("bucket_lo", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("total_tokens"))
      .withColumn("padded_tokens", col("max_len") * col("n_docs"))
      .withColumn("waste_frac",
        round((col("padded_tokens") - col("total_tokens")).cast("double") /
          col("padded_tokens").cast("double"), 4))
      .orderBy("bucket_lo", "batch_id")
  }

  val q161Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      | FROM documents),
      |b AS (SELECT doc_id, n_tokens, (n_tokens // 64) * 64 AS bucket_lo FROM t),
      |r AS (SELECT *, row_number() OVER (PARTITION BY bucket_lo
      |                                   ORDER BY n_tokens, doc_id) AS rn
      |      FROM b),
      |g AS (SELECT bucket_lo, CAST((rn - 1) // 16 AS BIGINT) AS batch_id,
      |        CAST(COUNT(*) AS BIGINT) AS n_docs,
      |        CAST(MAX(n_tokens) AS BIGINT) AS max_len,
      |        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      |      FROM r GROUP BY 1, 2)
      |SELECT bucket_lo, batch_id, n_docs, max_len, total_tokens,
      | CAST(max_len * n_docs AS BIGINT) AS padded_tokens,
      | round(CAST(max_len * n_docs - total_tokens AS DOUBLE)
      |       / CAST(max_len * n_docs AS DOUBLE), 4) AS waste_frac
      |FROM g ORDER BY bucket_lo, batch_id""".stripMargin

  /** q165 — per-source vocabulary growth curve (Heaps'-law
    * diagnostic): distinct-token count after the first N docs of each
    * source, at N ∈ {1, 2, 4, …} ∪ {n}. A source whose curve is still
    * steep at its tail keeps contributing novel vocabulary; a flat
    * curve is saturated boilerplate — the dedup/mixing prior before
    * weighting sources. All-integer.
    *
    * Scale shape: per-source doc order via ONE PrefixSum two-pass rank
    * (never a per-source window over docs); each token's FIRST doc
    * rank is one map-side-combined min-agg over the distinct
    * (source, token, doc) explode; the grid is log₂(n)-sized per
    * source, so the token→grid-segment assignment is a broadcast join
    * (≤ ~40 rows per source) and the cumulative sum runs over a
    * log-sized partition — nothing after the first-rank agg is
    * vocabulary-sized except one map-side segment tag.
    */
  def q165(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ranked = graft.operators.PrefixSum.withRunningTotalOrdered(
      docs.select(col("doc_id"), col("source")).withColumn("__one", lit(1)),
      Seq("source", "doc_id"), "__one", "__rank", 32)
    val bases = ranked.groupBy("source")
      .agg(min(col("__rank")).as("__base"), count(lit(1)).as("n"))
    val docRank = ranked.join(broadcast(bases), Seq("source"))
      .select(col("doc_id"), col("source"),
        (col("__rank") - col("__base") + 1L).as("r"))
    // grid: {2^g < n} ∪ {n} per source
    // NB: Spark resolves columns case-insensitively — a column named
    // "N" next to the count "n" is ambiguous, so the grid value is
    // "pfx" throughout
    val powers = (0 to 40).map(1L << _).toArray
    val grid = bases
      .select(col("source"), col("n"), explode(lit(powers)).as("pfx"))
      .filter(col("pfx") < col("n"))
      .select("source", "pfx")
      .unionByName(bases.select(col("source"), col("n").as("pfx")))
      .distinct()
    val firstRank = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
      .join(docRank.select("doc_id", "r"), "doc_id")
      .groupBy("source", "tok").agg(min(col("r")).as("fr"))
    // each token's segment = smallest grid point with fr <= pfx
    // (broadcast grid join, <= ~40 rows per source)
    val seg = firstRank.join(broadcast(grid), Seq("source"))
      .filter(col("fr") <= col("pfx"))
      .groupBy("source", "tok").agg(min(col("pfx")).as("pfx"))
      .groupBy("source", "pfx").agg(count(lit(1)).as("c"))
    // cumulative over the log-sized grid partition
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("pfx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(seg, Seq("source", "pfx"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("vocab", sum(col("c")).over(w))
      .select(col("source"), col("pfx").as("n_prefix"), col("vocab"))
      .orderBy("source", "n_prefix")
  }

  val q165Sql: String =
    """WITH d AS (
      | SELECT doc_id, source,
      |   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
      | FROM documents),
      |n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
      |grid AS (
      | SELECT DISTINCT source, N FROM (
      |   SELECT source, CAST(1::BIGINT << g AS BIGINT) AS N
      |   FROM n CROSS JOIN range(0, 41) t(g)
      |   WHERE (1::BIGINT << g) < n
      |   UNION ALL SELECT source, n AS N FROM n)),
      |fr AS (
      | SELECT d.source, tok, MIN(r) AS fr
      | FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |       FROM documents) t
      | JOIN d ON t.doc_id = d.doc_id
      | GROUP BY 1, 2),
      |seg AS (
      | SELECT source, tok, MIN(N) AS N
      | FROM fr JOIN grid USING (source) WHERE fr <= N GROUP BY 1, 2),
      |cnt AS (SELECT source, N, CAST(COUNT(*) AS BIGINT) AS c FROM seg GROUP BY 1, 2)
      |SELECT grid.source, grid.N AS n_prefix,
      | CAST(SUM(COALESCE(cnt.c, 0)) OVER (PARTITION BY grid.source ORDER BY grid.N
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
      |FROM grid LEFT JOIN cnt ON grid.source = cnt.source AND grid.N = cnt.N
      |ORDER BY grid.source, n_prefix""".stripMargin

  /** q166 — per-source boilerplate stripping (the CCNet/C4 move): a
    * segment (q50's 8-word unit — the corpus has no newlines) that
    * recurs across ≥ 5% of a source's docs (and ≥ 2 docs) is
    * boilerplate — headers, navboxes, license footers — and every
    * instance is dropped; each doc's text is rebuilt from its
    * surviving segments in order. The frequency-threshold complement
    * of q50's global exact segment dedup (which keeps ONE instance;
    * boilerplate keeps none). (5% is deliberately aggressive so the
    * strip path is exercised on the synthetic corpus, whose deepest
    * within-source segment recurrence is 2 of 25 docs; production
    * corpora tune the fraction.)
    *
    * Scale shape: one posexplode; segment frequencies are a map-side-
    * combined (source, segment) count-distinct; the boilerplate set
    * joins back as a per-source filter (its size is bounded by
    * segments-with-freq≥25% — small by construction); the rebuild is
    * one doc-keyed sort_array(collect_list) — per-doc bounded, the
    * q95 discipline.
    */
  def q166(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("source"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / $k.0) as int) - 1),
           |          i -> array_join(slice(w, i * $k + 1, $k), ' '))""".stripMargin))
        .as(Seq("i", "segment")))
    val nPerSource = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n_src"))
    val boiler = segs.groupBy("source", "segment")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .join(broadcast(nPerSource), "source")
      .filter(col("n_docs") >= 2 && col("n_docs") * 20 >= col("n_src"))
      .select("source", "segment")
    val kept = segs.join(boiler.withColumn("__b", lit(1)),
        Seq("source", "segment"), "left")
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__b").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN __b IS NULL THEN struct(i, segment) END)), x -> x.segment)"),
          " ").as("text_stripped"))
      .orderBy("doc_id")
  }

  val q166Sql: String =
    """WITH w AS (
      | SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |s AS (
      | SELECT doc_id, source, i - 1 AS i,
      |   array_to_string(list_slice(w, (i - 1) * 8 + 1, (i - 1) * 8 + 8), ' ') AS segment
      | FROM w, unnest(range(1, CAST(ceil(len(w) / 8.0) AS BIGINT) + 1)) AS t(i)),
      |n AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1),
      |b AS (
      | SELECT s.source, segment
      | FROM s JOIN n ON s.source = n.source
      | GROUP BY s.source, segment, n_src
      | HAVING COUNT(DISTINCT doc_id) >= 2 AND COUNT(DISTINCT doc_id) * 20 >= n_src),
      |kept AS (
      | SELECT s.doc_id, s.i, s.segment,
      |   b.segment IS NOT NULL AS is_boiler
      | FROM s LEFT JOIN b ON s.source = b.source AND s.segment = b.segment)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
      | CAST(SUM(CASE WHEN is_boiler THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
      | COALESCE(array_to_string(
      |   list(CASE WHEN NOT is_boiler THEN segment END ORDER BY i)
      |     FILTER (WHERE NOT is_boiler), ' '), '') AS text_stripped
      |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q167 — mixture quota allocation by largest remainder (Hamilton's
    * method): split a token budget across sources proportionally to
    * their weights with EXACT integer quotas — floor everyone, then
    * hand the leftover units to the largest fractional remainders
    * (ties to source asc). The standard apportionment for "this run
    * samples B tokens with mix w" — floors alone under-fill the
    * budget; naive rounding overshoots. All-integer (remainders
    * compare as `B·w mod W` — no floats anywhere).
    *
    * Scale: weights here are per-source token counts (one map-side
    * agg); everything after runs on a source-count-sized frame, so the
    * window is bounded by the number of sources, not the corpus.
    */
  def q167(s: SparkSession, dir: String): DataFrame = {
    val w = Tables.documents(s, dir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("weight"))
    largestRemainderQuotas(w).orderBy("source")
  }

  /** Hamilton largest-remainder apportionment over a `(source, weight)`
    * frame with budget = Σweight div 3 → `(source, weight, quota)`.
    * Factored from q167 so the q177 curation pipeline apportions over
    * its SURVIVOR weights with literally the same arithmetic; the
    * ordering window is source-count-bounded, never corpus-sized.
    */
  private def largestRemainderQuotas(w: DataFrame): DataFrame = {
    val tot = w.agg(sum(col("weight")).as("tw"))
      .withColumn("budget", expr("tw div 3"))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rem"), asc("source"))
    w.crossJoin(broadcast(tot))
      .withColumn("floor_q", expr("(budget * weight) div tw"))
      .withColumn("rem", expr("(budget * weight) % tw"))
      .withColumn("rk", row_number().over(win))
      .withColumn("leftover", col("budget") - sum(col("floor_q")).over())
      .select(col("source"), col("weight"),
        (col("floor_q") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
  }

  val q167Sql: String =
    """WITH w AS (
      | SELECT source,
      |   SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS weight
      | FROM documents GROUP BY 1),
      |t AS (SELECT SUM(weight) AS W, SUM(weight) // 3 AS B FROM w),
      |q AS (
      | SELECT source, weight,
      |   (B * weight) // W AS floor_q,
      |   (B * weight) % W AS rem,
      |   B
      | FROM w CROSS JOIN t),
      |r AS (
      | SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
      |   B - SUM(floor_q) OVER () AS leftover
      | FROM q)
      |SELECT source, CAST(weight AS BIGINT) AS weight,
      | CAST(floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
      |FROM r ORDER BY source""".stripMargin

  /** q169 — deterministic hash sampling to the q167 quotas: each doc
    * keeps or drops by `md5("smp:" || doc_id) mod 2^20 < rate`, with
    * `rate = quota·2^20 div weight` — THE 100 TB sampling primitive
    * (reproducible across runs/engines, no RNG state, membership
    * decidable per row with no shuffle; re-running tomorrow's pipeline
    * samples the same docs). Modulus is a POWER OF TWO so the JVM's
    * signed floorMod and DuckDB's unsigned `%` agree on the digest's
    * low bits — the CountMin oracle-replay rule. Reports per source:
    * achieved docs/tokens vs the token target.
    *
    * Scale shape: quota table is source-count-sized and broadcast;
    * the keep-decision is one map-side hash per row; ONE map-side-
    * combined aggregation ends the plan.
    */
  def q169(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
    val quotas = q167(s, dir) // (source, weight, quota)
    val hUdf = udf { id: Long =>
      java.lang.Math.floorMod(
        graft.functions.Hashing.md5Hash64("smp:" + id), 1048576L)
    }
    perDoc.join(broadcast(quotas), "source")
      .withColumn("rate", expr("(quota * 1048576) div weight"))
      .withColumn("keep", hUdf(col("doc_id")) < col("rate"))
      .groupBy("source")
      .agg(max(col("rate")).as("rate_pm"),
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("keep"), col("nt")).otherwise(0L)).as("tokens_sampled"),
        max(col("quota")).as("tokens_target"))
      .orderBy("source")
  }

  val q169Sql: String =
    """WITH w AS (
      | SELECT source,
      |   SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS weight
      | FROM documents GROUP BY 1),
      |t AS (SELECT SUM(weight) AS W, SUM(weight) // 3 AS B FROM w),
      |q AS (
      | SELECT source, weight, (B * weight) // W AS floor_q,
      |   (B * weight) % W AS rem, B
      | FROM w CROSS JOIN t),
      |r AS (
      | SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
      |   B - SUM(floor_q) OVER () AS leftover
      | FROM q),
      |quota AS (
      | SELECT source, weight,
      |   floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
      | FROM r),
      |d AS (
      | SELECT doc_id, source,
      |   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt,
      |   CAST(md5_number_upper('smp:' || doc_id) % 1048576 AS BIGINT) AS h
      | FROM documents),
      |j AS (
      | SELECT d.source, nt, h, (quota * 1048576) // weight AS rate, quota
      | FROM d JOIN quota ON d.source = quota.source)
      |SELECT source, CAST(MAX(rate) AS BIGINT) AS rate_pm,
      | CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      | CAST(SUM(CASE WHEN h < rate THEN nt ELSE 0 END) AS BIGINT) AS tokens_sampled,
      | CAST(MAX(quota) AS BIGINT) AS tokens_target
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** q177 — the END-TO-END curation pipeline (r17 verdict #4): the
    * operator inventory gates each stage alone; this gates their
    * ASSEMBLY — the chain a real training-data run is — as ONE query
    * whose DuckDB oracle replays the whole chain, proving the stages
    * compose (schemas line up, determinism survives composition, and
    * the chain stays one lineage with no driver round-trips between
    * stages beyond the two scalar collects noted below):
    *
    *  1. FILTER   — q52's cumulative quality cascade (min chars, min
    *     tokens, mean token length band, distinct ratio); per-row
    *     predicates, evaluated in the scan projection.
    *  2. DEDUP    — q19's exact keep-first: min doc_id per md5(text)
    *     group among survivors; one digest-keyed shuffle.
    *  3. DECONTAM — q66's Bloom-pruned EXACT decontamination: drop the
    *     eval source ('src0') and every doc sharing ≥ 1 distinct
    *     5-shingle with src0's gram set (the Bloom pass only prunes —
    *     false positives are re-checked by the exact verify join, so
    *     the result is identical to the brute join the oracle runs).
    *  4. MIX      — q167's Hamilton apportionment over the SURVIVORS'
    *     per-source token weights (budget = ⅓ of survivor tokens),
    *     then q169's deterministic hash-sampling keep rule
    *     (md5("smp:"+id) mod 2^20 < quota·2^20 div weight) — the
    *     quota table is source-count-sized and broadcast.
    *  5. PACK     — q48's two-pass PrefixSum packing of the sampled
    *     docs in doc_id order into 1024-token chunks; never a
    *     single-task global window.
    *
    * Scale shape: stages 1–4 are one map-side pass + three keyed,
    * map-side-combined aggregations (digest groups, gram verify,
    * source weights); the only driver materializations are the Bloom
    * sketch (distributed merge, ~10 bits/gram) and the source-count
    * quota table; stage 5 is the two-pass scan. At 100 TB nothing here
    * shuffles more than once per stage and nothing corpus-sized ever
    * reaches the driver. Output: one row per doc the curated run
    * TRAINS ON, with its token span and chunk assignment.
    */
  def q177(s: SparkSession, dir: String): DataFrame = {
    val chunk = 1024
    // stage 1 — quality filter (q52's p1..p4, kept docs only)
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"),
        col("n_chars").cast("long").as("nc"),
        TextFns.tokens(col("text")).as("w"))
      .withColumn("nt", size(col("w")).cast("long"))
    val filtered = tok
      .filter(col("nc") >= 100 && col("nt") >= 25)
      .filter((col("nc").cast("double") / col("nt").cast("double"))
        .between(3.0, 12.0))
      .filter(size(array_distinct(col("w"))).cast("double") /
        col("nt").cast("double") >= 0.4)
    // stage 2 — exact dedup keep-first (q19's rule on the survivors).
    // The dedup survivors are MATERIALIZED once (a tracked transient
    // persist, released by the harness after the action): every
    // downstream stage — the gram explode, the anti join, quota
    // weights, sampling, and PrefixSum's two passes — used to re-derive
    // this frame from the parquet scan, re-running the stage-1
    // tokenize/filter chain and the keep-first aggregation per consumer
    // (~7 corpus scans for a 5-stage pipeline; r18 verdict item 8).
    // Only the narrow (doc_id, source, text, nt) projection persists.
    val keepers = filtered.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val deduped = graft.operators.TransientPersists.track(
      filtered.join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("text"), col("nt")))
    // stage 3 — decontaminate (q66's bloom + exact verify; threshold:
    // ANY shared distinct 5-shingle with the eval set disqualifies).
    // benchGrams is consumed twice (the Bloom build action + the exact
    // verify join) — same persist rationale.
    val gramUdf = udf { text: String =>
      graft.functions.Hashing.shingleSet(text, 5)
    }
    val benchGrams = graft.operators.TransientPersists.track(
      Tables.documents(s, dir)
        .filter(col("source") === "src0")
        .select(explode(gramUdf(col("text"))).as("gram")).distinct())
    val bloom = benchGrams.stat.bloomFilter("gram", 1L << 20, 0.01)
    val bloomBc = s.sparkContext.broadcast(bloom)
    val mightContain = udf { g: String => bloomBc.value.mightContainString(g) }
    val candidates = deduped.filter(col("source") =!= "src0")
    val contaminated = candidates
      .select(col("doc_id"), explode(gramUdf(col("text"))).as("gram"))
      .filter(mightContain(col("gram")))
      .join(broadcast(benchGrams), "gram")
      .select("doc_id").distinct()
    // the post-decontamination survivors feed three consumers (quota
    // weights, the sampling join, PrefixSum's two-pass packing) — and
    // `text` is no longer needed past this point, so the persisted
    // projection narrows to (doc_id, source, nt)
    val clean = graft.operators.TransientPersists.track(
      candidates.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("nt")))
    // stage 4 — Hamilton quotas over SURVIVOR weights + hash sampling
    val weights = clean.groupBy("source").agg(sum(col("nt")).as("weight"))
    val quotas = largestRemainderQuotas(weights)
    val hUdf = udf { id: Long =>
      java.lang.Math.floorMod(
        graft.functions.Hashing.md5Hash64("smp:" + id), 1048576L)
    }
    val sampled = clean.join(broadcast(quotas), "source")
      .withColumn("rate", expr("(quota * 1048576) div weight"))
      .filter(hUdf(col("doc_id")) < col("rate"))
    // stage 5 — pack the kept docs into chunk-token windows (q48/q85)
    graft.operators.PrefixSum
      .withRunningTotal(
        sampled.select(col("doc_id"), col("source"), col("nt").as("n_tokens")),
        "doc_id", "n_tokens", "cum")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_offset"),
        floor((col("cum") - col("n_tokens")) / chunk).cast("long").as("first_chunk"),
        floor((col("cum") - 1) / chunk).cast("long").as("last_chunk"))
      .orderBy("doc_id")
  }

  val q177Sql: String =
    """WITH tok AS (
      | SELECT doc_id, source, text, CAST(n_chars AS BIGINT) AS nc,
      |   string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |f AS (
      | SELECT doc_id, source, text, w, CAST(len(w) AS BIGINT) AS nt
      | FROM tok
      | WHERE nc >= 100 AND len(w) >= 25
      |  AND CAST(nc AS DOUBLE) / CAST(len(w) AS DOUBLE) BETWEEN 3.0 AND 12.0
      |  AND CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) >= 0.4),
      |k AS (SELECT md5(text) AS h, MIN(doc_id) AS keep FROM f GROUP BY 1),
      |d AS (SELECT f.* FROM f JOIN k ON md5(f.text) = k.h AND f.doc_id = k.keep),
      |bg AS (
      | SELECT DISTINCT unnest(CASE WHEN len(w) >= 5
      |   THEN list_distinct(list_transform(range(1, len(w) - 3),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
      |   ELSE [array_to_string(w, ' ')] END) AS gram
      | FROM tok WHERE source = 'src0'),
      |sg AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 3),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS gram
      | FROM d WHERE source <> 'src0'),
      |contam AS (SELECT DISTINCT sg.doc_id FROM sg JOIN bg USING (gram)),
      |clean AS (
      | SELECT * FROM d
      | WHERE source <> 'src0'
      |   AND NOT EXISTS (SELECT 1 FROM contam WHERE contam.doc_id = d.doc_id)),
      |wsrc AS (SELECT source, SUM(nt) AS weight FROM clean GROUP BY 1),
      |t AS (SELECT SUM(weight) AS W, SUM(weight) // 3 AS B FROM wsrc),
      |q AS (SELECT source, weight, (B * weight) // W AS floor_q,
      |        (B * weight) % W AS rem, B
      |      FROM wsrc CROSS JOIN t),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
      |        B - SUM(floor_q) OVER () AS leftover FROM q),
      |quota AS (SELECT source, weight,
      |  floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota FROM r),
      |samp AS (
      | SELECT c.doc_id, c.source, c.nt
      | FROM clean c JOIN quota USING (source)
      | WHERE CAST(md5_number_upper('smp:' || c.doc_id) % 1048576 AS BIGINT)
      |       < (quota * 1048576) // weight),
      |packed AS (
      | SELECT doc_id, source, nt AS n_tokens,
      |  SUM(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      | FROM samp)
      |SELECT doc_id, source, n_tokens,
      | CAST(cum - n_tokens AS BIGINT) AS start_offset,
      | CAST((cum - n_tokens) // 1024 AS BIGINT) AS first_chunk,
      | CAST((cum - 1) // 1024 AS BIGINT) AS last_chunk
      |FROM packed ORDER BY doc_id""".stripMargin

  /** Buckets of the q179 hashed-n-gram feature space — a power of two
    * on purpose: DuckDB's `md5_number_upper(...) % B` reduces the
    * UNSIGNED 64-bit value while the JVM's `floorMod(md5Hash64, B)`
    * reduces the same bits as a SIGNED long, and the two agree for
    * every input iff 2⁶⁴ mod B = 0 (the q177 `% 1048576` precedent).
    */
  private val DsirBuckets = 512L

  /** Resample size of q179's Gumbel top-k selection. */
  private val DsirK = 100

  /** q179 — importance resampling data selection (DSIR — Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every raw (non-benchmark) document by how
    * much more likely its hashed-bigram features are under the TARGET
    * distribution (source = 'src0', the eval/benchmark stand-in — the
    * same convention as q47/q66/q90) than under the RAW pool, then
    * draw the top-K by Gumbel-perturbed log-weight — the
    * without-replacement importance sample. The selection half of the
    * curation story q47/q90 only measure: "give me the K raw docs most
    * like the target domain."
    *
    * Numerics follow the repo's decimal-sum rule (LangId/q173): each
    * bucket's smoothed log-ratio and each doc's Gumbel perturbation
    * are rounded to 6 decimals and cast DECIMAL(18,6) BEFORE any
    * summation, so per-doc scores are exact decimal sums —
    * order-invariant across engines and partitionings; the one
    * remaining float op per term is a single libm `ln` whose dec6
    * rounding absorbs cross-engine ulp drift. The Gumbel key is
    * derived from md5 of the doc id (no RNG), so the sample is
    * reproducible across engines, runs, and cluster sizes.
    *
    * Scale shape at 100 TB: per-doc bucket counts form in ONE fused
    * JVM pass (the LangId gramCnt rationale — the map, not the raw
    * bigram stream, leaves the mapper), the model is exactly
    * [[DsirBuckets]] rows (broadcast), scoring is a map-side join +
    * one doc-keyed decimal aggregation, and the top-K is TakeOrdered
    * — no global sort, no corpus-sized window. The only corpus-keyed
    * shuffles are the (bucket)-keyed count (512 keys, map-side
    * combined) and the doc-keyed score sum.
    */
  def q179(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 6)
    val B = DsirBuckets
    // fused per-doc bucket counting: bigrams over the TextFns.tokens
    // convention (lowercase, trim, whitespace split), each bucket =
    // floorMod(md5("dsir:" || bigram), B) — emitting the (bucket →
    // count) map ships ≤ B cells per doc instead of the raw stream
    val bucketCnt = udf { text: String =>
      val toks =
        if (text == null) Array.empty[String]
        else text.trim.toLowerCase.split("\\s+")
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      var i = 0
      while (i + 1 < toks.length) {
        val b = java.lang.Math.floorMod(
          graft.functions.Hashing.md5Hash64("dsir:" + toks(i) + " " + toks(i + 1)), B)
        m(b) = m.getOrElse(b, 0L) + 1L
        i += 1
      }
      m.toMap
    }
    val bk = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(bucketCnt(col("text"))).as(Seq("b", "k")))
    val tt = bk.filter(col("source") === "src0")
      .groupBy("b").agg(sum("k").as("ct"))
    val rr = bk.filter(col("source") =!= "src0")
      .groupBy("b").agg(sum("k").as("cr"))
    val tots = tt.agg(coalesce(sum("ct"), lit(0L)).as("tt")).crossJoin(
      rr.agg(coalesce(sum("cr"), lit(0L)).as("tr")))
    // full B-bucket grid: +1 smoothing needs buckets absent on either
    // side, and the grid (not the observed buckets) is the model
    val model = s.range(B).select(col("id").as("b"))
      .join(tt, Seq("b"), "left").join(rr, Seq("b"), "left")
      .crossJoin(broadcast(tots))
      .select(col("b"),
        round(log(
          ((coalesce(col("ct"), lit(0L)) + lit(1L)) / (col("tt") + lit(B.toDouble))) /
            ((coalesce(col("cr"), lit(0L)) + lit(1L)) / (col("tr") + lit(B.toDouble)))), 6)
          .cast(dec).as("lr"))
    val rawDocs = Tables.documents(s, dir)
      .filter(col("source") =!= "src0").select("doc_id")
    // k·lr (long × decimal — exact) summed per doc; docs with < 2
    // tokens have no bigram cells and surface with logw = 0 via the
    // left join (they carry no evidence either way)
    val scored = bk.filter(col("source") =!= "src0")
      .join(broadcast(model), Seq("b"))
      .groupBy("doc_id").agg(sum(col("k") * col("lr")).as("sw"))
    val gumbel = rawDocs.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sw"), lit(0).cast(dec)).as("logw"),
        round(-log(-log(
          (pmod(udf { id: Long => graft.functions.Hashing.md5Hash64("gum:" + id) }
            .apply(col("doc_id")), lit(1048576L)) + lit(0.5)) / lit(1048576.0))), 6)
          .cast(dec).as("g"))
      .select(col("doc_id"), col("logw"), (col("logw") + col("g")).as("key"))
    val top = gumbel
      .orderBy(col("key").desc, col("doc_id")).limit(DsirK)
    // rank over the ALREADY-LIMITED K rows — a bounded (≤ DsirK)
    // single-partition window, not a corpus-sized one
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("key").desc, col("doc_id"))))
      .select(col("doc_id"), col("logw").cast("double").as("logw"),
        col("key").cast("double").as("gumbel_key"), col("rk").cast("long").as("rk"))
      .orderBy("rk")
  }

  val q179Sql: String =
    s"""WITH tok AS (
      | SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
      | FROM documents),
      |bg AS (
      | SELECT doc_id, source,
      |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS gram
      | FROM tok WHERE len(w) >= 2),
      |bk AS (
      | SELECT doc_id, source,
      |  CAST(md5_number_upper('dsir:' || gram) % $DsirBuckets AS BIGINT) AS b,
      |  CAST(COUNT(*) AS BIGINT) AS k
      | FROM bg GROUP BY 1, 2, 3),
      |tt AS (SELECT b, SUM(k) AS ct FROM bk WHERE source = 'src0' GROUP BY 1),
      |rr AS (SELECT b, SUM(k) AS cr FROM bk WHERE source <> 'src0' GROUP BY 1),
      |tots AS (SELECT (SELECT coalesce(SUM(ct), 0) FROM tt) AS tt,
      |                (SELECT coalesce(SUM(cr), 0) FROM rr) AS tr),
      |grid AS (SELECT CAST(i AS BIGINT) AS b
      |         FROM unnest(range(0, $DsirBuckets)) AS t(i)),
      |model AS (
      | SELECT b, CAST(round(ln(
      |    ((coalesce(ct, 0) + 1) / (tt + $DsirBuckets.0)) /
      |    ((coalesce(cr, 0) + 1) / (tr + $DsirBuckets.0))), 6) AS DECIMAL(18,6)) AS lr
      | FROM grid LEFT JOIN tt USING (b) LEFT JOIN rr USING (b) CROSS JOIN tots),
      |sw AS (
      | SELECT bk.doc_id, SUM(bk.k * model.lr) AS sw
      | FROM bk JOIN model USING (b) WHERE bk.source <> 'src0' GROUP BY 1),
      |lw AS (
      | SELECT d.doc_id, coalesce(sw.sw, CAST(0 AS DECIMAL(18,6))) AS logw
      | FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
      | LEFT JOIN sw USING (doc_id)),
      |gk AS (
      | SELECT doc_id, logw,
      |  logw + CAST(round(-ln(-ln(
      |    (CAST(md5_number_upper('gum:' || doc_id) % 1048576 AS BIGINT) + 0.5)
      |    / 1048576.0)), 6) AS DECIMAL(18,6)) AS key
      | FROM lw),
      |sel AS (SELECT doc_id, logw, key FROM gk
      |        ORDER BY key DESC, doc_id LIMIT $DsirK)
      |SELECT doc_id, CAST(logw AS DOUBLE) AS logw,
      | CAST(key AS DOUBLE) AS gumbel_key,
      | CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rk
      |FROM sel ORDER BY rk""".stripMargin

  /** q180 — cross-set EXACT substring decontamination cut
    * ([[graft.operators.Dedup.evalSubstringCut]]): the char spans of
    * each raw (non-benchmark) document that overlap ANY eval document
    * (source = 'src0') in a run of ≥ 40 chars — "dedup against the
    * test set" (Lee et al. 2022) at the dedup-cut family's char-exact
    * contract. q47 FLAGS docs sharing a 5-token gram and q66 drops
    * whole docs; this produces the exact offsets to cut so the rest of
    * the document survives. Exact both ways: every shared ≥ 40-char
    * run is reconstructed at its exact offsets by the stride-1 gram
    * islands, and nothing outside a verbatim ≥ 40-char eval substring
    * is ever cut. The eval gram set broadcasts (benchmarks are MBs
    * while train is the 100 TB side), so the corpus-sized gram stream
    * is filtered map-side and never shuffles.
    */
  def q180(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.evalSubstringCut(
        Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0", minLen = 40)
      .orderBy("doc_id", "cut_start")

  val q180Sql: String =
    """WITH eg AS (
      | SELECT DISTINCT md5_number_upper(substr(text, CAST(i + 1 AS INT), 40)) AS fp
      | FROM documents, unnest(range(0, length(text) - 39)) AS t(i)
      | WHERE source = 'src0' AND length(text) >= 40),
      |tg AS (
      | SELECT doc_id, CAST(i + 1 AS BIGINT) AS s, CAST(i + 41 AS BIGINT) AS e,
      |  md5_number_upper(substr(text, CAST(i + 1 AS INT), 40)) AS fp
      | FROM documents, unnest(range(0, length(text) - 39)) AS t(i)
      | WHERE source <> 'src0' AND length(text) >= 40),
      |hit AS (SELECT doc_id, s, e FROM tg JOIN eg USING (fp)),
      |isl AS (
      | SELECT doc_id, s, e,
      |  max(e) OVER (PARTITION BY doc_id ORDER BY s
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
      | FROM hit),
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_pack_batches" -> ((s: SparkSession, dir: String) => q161(s, dir)),
    "q179_importance_resample" -> (q179 _),
    "q180_eval_substring_decontaminate" -> (q180 _),
    "q165_vocab_growth" -> (q165 _),
    "q166_boilerplate_strip" -> ((s: SparkSession, dir: String) => q166(s, dir)),
    "q167_mix_quota" -> (q167 _),
    "q169_hash_sample" -> (q169 _),
    "q177_curation_pipeline" -> (q177 _),
    "q152_cms_estimates" -> (q152 _),
    "q129_quality_ensemble" -> (q129 _),
    "q127_dup_substring_cut" -> (q127 _),
    "q126_dup_substring_coverage" -> (q126 _),
    "q122_tfidf_keywords" -> (q122 _),
    "q123_doc_novelty" -> (q123 _),
    "q117_pmi_collocations" -> (q117 _),
    "q113_kmv_overlap" -> (q113 _),
    "q111_kneser_ney" -> (q111 _),
    "q101_nb_classifier" -> (q101 _),
    "q95_segment_rebuild" -> (q95 _),
    "q94_mix_resample" -> (q94 _),
    "q93_top_ngram_frac" -> (q93 _),
    "q42_stratified_sample" -> (q42 _),
    "q43_corpus_stats" -> (q43 _),
    "q44_repetition_stats" -> (q44 _),
    "q45_vocab_df" -> (q45 _),
    "q46_leakage_safe_split" -> (q46 _),
    "q47_decontaminate" -> (q47 _),
    "q48_pack_offsets" -> (q48 _),
    "q49_mixing_weights" -> (q49 _),
    "q50_segment_dedup" -> (q50 _),
    "q51_unigram_logprob" -> (q51 _),
    "q52_filter_funnel" -> (q52 _),
    "q53_topk_per_group" -> (q53 _),
    "q54_global_shuffle" -> (q54 _),
    "q55_sketches" -> (q55 _),
    "q57_pivot" -> (q57 _),
    "q58_cube" -> (q58 _),
    "q59_bm25" -> (q59 _),
    "q61_exact_k_sample" -> (q61 _),
    "q63_chunking" -> (q63 _),
    "q66_bloom_decontaminate" -> (q66 _),
    "q68_weighted_sample" -> (q68 _),
    "q70_bpe_pair_counts" -> (q70 _),
    "q71_heavy_hitters" -> (q71 _),
    "q72_temperature_mixing" -> (q72 _),
    "q73_source_dup_matrix" -> (q73 _),
    "q75_adaptive_filter" -> (q75 _),
    "q78_topk_native" -> (q78 _),
    "q80_group_zscore" -> (q80 _),
    "q81_token_ids" -> (q81 _),
    "q82_winnow_dedup" -> (q82 _),
    "q83_bpe_train" -> (q83 _),
    "q84_bpe_encode" -> (q84 _),
    "q85_pack_bpe" -> (q85 _),
    "q86_bigram_logprob" -> (q86 _),
    "q87_source_quota" -> (q87 _),
    "q90_contamination_rate" -> (q90 _))

  // Golden-parquet oracles for the deterministic-but-iterative BPE trio
  // (no closed-form SQL exists for an iterative merge loop). The goldens
  // are committed sf0.01 outputs whose ALGORITHM is independently pinned
  // by BpeSpec's hand-computed Sennrich-corpus merge sequence plus
  // round-trip/byte-fallback properties; the oracle row pins bit-exact
  // regression. Regenerate after an intentional change or a testdata
  // refresh: run graft.Verify at sf0.01 and copy the three part files to
  // goldens/<name>.parquet.
  private def goldenSql(name: String): String =
    s"SELECT * FROM '/root/repo/goldens/$name.parquet'"

  val oracles: Map[String, String] = Map(
    "q161_pack_batches" -> q161Sql,
    "q165_vocab_growth" -> q165Sql,
    "q166_boilerplate_strip" -> q166Sql,
    "q167_mix_quota" -> q167Sql,
    "q169_hash_sample" -> q169Sql,
    "q177_curation_pipeline" -> q177Sql,
    "q179_importance_resample" -> q179Sql,
    "q180_eval_substring_decontaminate" -> q180Sql,
    "q152_cms_estimates" -> q152Sql,
    "q113_kmv_overlap" -> q113Sql,
    "q83_bpe_train" -> goldenSql("q83_bpe_train"),
    "q84_bpe_encode" -> goldenSql("q84_bpe_encode"),
    "q85_pack_bpe" -> goldenSql("q85_pack_bpe"),
    "q129_quality_ensemble" -> q129Sql,
    "q127_dup_substring_cut" -> q127Sql,
    "q126_dup_substring_coverage" -> q126Sql,
    "q122_tfidf_keywords" -> q122Sql,
    "q123_doc_novelty" -> q123Sql,
    "q117_pmi_collocations" -> q117Sql,
    "q111_kneser_ney" -> q111Sql,
    "q101_nb_classifier" -> q101Sql,
    "q95_segment_rebuild" -> q95Sql,
    "q94_mix_resample" -> q94Sql,
    "q93_top_ngram_frac" -> q93Sql,
    "q42_stratified_sample" -> q42Sql,
    "q43_corpus_stats" -> q43Sql,
    "q44_repetition_stats" -> q44Sql,
    "q45_vocab_df" -> q45Sql,
    "q46_leakage_safe_split" -> q46Sql,
    "q47_decontaminate" -> q47Sql,
    "q48_pack_offsets" -> q48Sql,
    "q49_mixing_weights" -> q49Sql,
    "q50_segment_dedup" -> q50Sql,
    "q51_unigram_logprob" -> q51Sql,
    "q52_filter_funnel" -> q52Sql,
    "q53_topk_per_group" -> q53Sql,
    "q54_global_shuffle" -> q54Sql,
    // r11: sketch values are engine-specific, but their published error
    // bounds are oracle-checkable booleans (see q55 scaladoc)
    "q55_sketches" -> q55Sql,
    "q57_pivot" -> q57Sql,
    "q58_cube" -> q58Sql,
    "q59_bm25" -> q59Sql,
    "q61_exact_k_sample" -> q61Sql,
    "q63_chunking" -> q63Sql,
    "q66_bloom_decontaminate" -> q47Sql,
    "q68_weighted_sample" -> q68Sql,
    "q70_bpe_pair_counts" -> q70Sql,
    "q71_heavy_hitters" -> q71Sql,
    "q72_temperature_mixing" -> q72Sql,
    "q73_source_dup_matrix" -> q73Sql,
    "q75_adaptive_filter" -> q75Sql,
    "q78_topk_native" -> q53Sql,
    "q80_group_zscore" -> q80Sql,
    "q81_token_ids" -> q81Sql,
    "q82_winnow_dedup" -> q82Sql,
    "q86_bigram_logprob" -> q86Sql,
    "q87_source_quota" -> q87Sql,
    "q90_contamination_rate" -> q90Sql)
}

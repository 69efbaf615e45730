package graft.queries

import graft.Tables
import graft.functions.TextFns
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis + deduplication operators over `documents` (the
  * LLM-data-pipeline extension inventory; SURVEY §7.4). Heuristics are
  * deliberately SQL-expressible so the DuckDB oracle replays the exact
  * computation.
  */
object TextQueries {

  // Marker stopword sets for the language-ID heuristic. Deterministic
  // tie-break order: en > es > fr > de > und.
  private val enM = Seq("the", "a", "of", "and")
  private val esM = Seq("el", "los", "una", "que")
  private val frM = Seq("le", "les", "des", "est")
  private val deM = Seq("der", "und", "die", "ist")

  /** q19 — exact dedup via content digest: one row per distinct md5(text)
    * with surviving min doc_id and group size. One shuffle on the digest;
    * at 100 TB the digest groupBy partial-aggregates map-side so only
    * (hash, min, count) triples move.
    */
  def q19(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("content_hash")

  val q19Sql: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** q20 — token statistics: whitespace tokens, BPE-ish regex tokens,
    * character count (SURVEY §7.4 token counting).
    */
  def q20(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        TextFns.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("len_chars"))
      .orderBy("doc_id")

  val q20Sql: String =
    """SELECT doc_id,
      | len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
      | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
      | length(text) AS len_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q21 — quality scoring: non-alphanumeric ratio, stopword ratio, mean
    * token length (SURVEY §7.4 quality scoring). Per-row double arithmetic
    * is IEEE-deterministic, so no rounding is needed for oracle parity.
    */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val stats = TextFns.textStats(Seq(enM, esM, frM, deM))
    Tables.documents(s, dir)
      .withColumn("st", stats(col("text")))
      .select(col("doc_id"),
        (col("st._2").cast("double") / col("st._3").cast("double")).as("junk_ratio"),
        (col("st._5").cast("double") / col("st._1").cast("double")).as("stopword_ratio"),
        (col("st._4").cast("double") / col("st._1").cast("double")).as("mean_token_len"))
      .orderBy("doc_id")
  }

  val q21Sql: String =
    """SELECT doc_id,
      | CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      |   / CAST(length(text) AS DOUBLE) AS junk_ratio,
      | CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |       t -> t IN ('the','a','of','and','el','los','una','que','le','les','des','est','der','und','die','ist')))
      |      AS DOUBLE)
      |   / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS stopword_ratio,
      | CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |   / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS mean_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q22 — n-gram/stopword language-ID heuristic with deterministic
    * tie-break, cross-tabbed against the labeled lang column
    * (SURVEY §7.4 language-ID).
    */
  def q22(s: SparkSession, dir: String): DataFrame = {
    val stats = TextFns.textStats(Seq(enM, esM, frM, deM))
    val en = col("st._6"); val es = col("st._7")
    val fr = col("st._8"); val de = col("st._9")
    val predicted =
      when(en >= es && en >= fr && en >= de && en > 0, lit("en"))
        .when(es >= fr && es >= de && es > 0, lit("es"))
        .when(fr >= de && fr > 0, lit("fr"))
        .when(de > 0, lit("de"))
        .otherwise(lit("und"))
    Tables.documents(s, dir)
      .withColumn("st", stats(col("text")))
      .select(col("lang"), predicted.as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  val q22Sql: String =
    """WITH scored AS (
      | SELECT lang,
      |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t IN ('the','a','of','and'))) AS en,
      |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t IN ('el','los','una','que'))) AS es,
      |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t IN ('le','les','des','est'))) AS fr,
      |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t IN ('der','und','die','ist'))) AS de
      | FROM documents)
      |SELECT lang,
      | CASE WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
      |      WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
      |      WHEN fr >= de AND fr > 0 THEN 'fr'
      |      WHEN de > 0 THEN 'de'
      |      ELSE 'und' END AS predicted,
      | COUNT(*) AS n
      |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  /** q173 — char-bigram Naive Bayes language ID
    * ([[graft.operators.LangId]]; r12 verdict #5 — the upgrade over
    * q22's stopword-marker heuristic): add-one-smoothed bigram profiles
    * train on the even-doc_id half, every document scores against every
    * language (log-prior + Σ log P(gram|lang), all DECIMAL(18,6)
    * after per-term rounding so the sum is order-invariant), argmax
    * with (max score, min lang) tiebreak, cross-tabbed against the
    * labeled lang column. Training AND scoring are closed-form
    * relational — the DuckDB oracle replays the whole pipeline, no
    * golden. LangIdSpec additionally pins real accuracy on crafted
    * multilingual snippets (this corpus's text carries no language
    * signal — its lang label is independent of its 31-word vocabulary —
    * so the gate proves exactness while the spec proves the model
    * actually learns).
    */
  def q173(s: SparkSession, dir: String): DataFrame =
    graft.operators.LangId
      .nbPredict(Tables.documents(s, dir), "doc_id", "text", "lang",
        n = 2, trainPred = col("doc_id") % 2 === 0)
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  val q173Sql: String =
    """WITH d AS (
      | SELECT doc_id, lang, lower(trim(text)) AS t FROM documents),
      |g AS (
      | SELECT doc_id, lang, (doc_id % 2 = 0) AS train,
      |        unnest(list_transform(range(1, length(t)), i -> substring(t, i, 2))) AS gr
      | FROM d),
      |counts AS (
      | SELECT lang AS mlang, gr, COUNT(*) AS c FROM g WHERE train GROUP BY 1, 2),
      |totals AS (SELECT mlang, SUM(c) AS tot FROM counts GROUP BY 1),
      |vocab AS (SELECT COUNT(DISTINCT gr) AS v FROM counts),
      |model AS (
      | SELECT mlang, gr,
      |        CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS logp
      | FROM counts JOIN totals USING (mlang), vocab),
      |priors AS (
      | SELECT lang AS mlang,
      |        CAST(round(ln(CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM d WHERE doc_id % 2 = 0) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS prior
      | FROM d WHERE doc_id % 2 = 0 GROUP BY 1),
      |miss AS (
      | SELECT mlang,
      |        CAST(round(ln(1.0 / CAST(tot + v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS miss
      | FROM totals, vocab),
      |doctot AS (SELECT doc_id, greatest(length(t) - 1, 0) AS ng FROM d),
      |dg AS (SELECT doc_id, gr, COUNT(*) AS k FROM g GROUP BY 1, 2),
      |matched AS (
      | SELECT dg.doc_id, m.mlang, SUM(dg.k * m.logp) AS s, SUM(dg.k) AS mt
      | FROM dg JOIN model m ON dg.gr = m.gr GROUP BY 1, 2),
      |grid AS (
      | SELECT dt.doc_id, mp.mlang,
      |        mp.prior + COALESCE(ma.s, CAST(0 AS DECIMAL(18,6)))
      |          + (dt.ng - COALESCE(ma.mt, 0)) * mp.miss AS score
      | FROM doctot dt
      | CROSS JOIN (SELECT miss.mlang, miss.miss, priors.prior
      |             FROM miss JOIN priors USING (mlang)) mp
      | LEFT JOIN matched ma ON ma.doc_id = dt.doc_id AND ma.mlang = mp.mlang),
      |best AS (SELECT doc_id, MAX(score) AS b FROM grid GROUP BY 1),
      |pred AS (
      | SELECT grid.doc_id, MIN(grid.mlang) AS predicted
      | FROM grid JOIN best ON grid.doc_id = best.doc_id AND grid.score = best.b
      | GROUP BY 1)
      |SELECT d.lang, pred.predicted, COUNT(*) AS n
      |FROM pred JOIN d ON pred.doc_id = d.doc_id
      |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  /** q23 — document fingerprinting: full-content md5 + order-insensitive
    * bag-of-words fingerprint (SURVEY §7.4 fingerprinting).
    */
  def q23(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(col("text")).as("content_fp"),
        TextFns.bowFingerprint(col("text")).as("bow_fp"))
      .orderBy("doc_id")

  val q23Sql: String =
    """SELECT doc_id, md5(text) AS content_fp,
      | md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS bow_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q24 — EXACT all-pairs 3-shingle Jaccard ≥ 0.7 (near-dup ground
    * truth) via the prefix-filtered similarity join
    * ([[graft.operators.Dedup.jaccardPrefixJoin]], Bayardo WWW'07):
    * identical output to the cross-join brute form — the rewrite only
    * prunes pairs that provably cannot reach the threshold — but the
    * only pair-producing shuffle is a rare-first prefix inverted-index
    * self-join, so the EXACT path is itself corpus-scale. q25/q112
    * remain the probabilistic (MinHash) alternatives; OperatorsSpec
    * pins prefix == brute on real data.
    */
  def q24(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPrefixJoin(Tables.documents(s, dir), "doc_id", "text", 3, 0.7)
      .orderBy("doc_a", "doc_b")

  /** Shared oracle: brute-force shingle Jaccard in DuckDB. Both q24 and q25
    * must produce exactly this — q25's LSH banding (128 perms, 32×4) has
    * P(miss) ≈ 5e-8 at J ≥ 0.7, so its verified output equals the truth.
    */
  val jaccardOracle: String =
    """WITH t AS (
      | SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |       THEN list_distinct(list_transform(range(1, len(w) - 1),
      |              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |       ELSE [array_to_string(w, ' ')] END AS sh
      | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
      |FROM t a, t b
      |WHERE a.doc_id < b.doc_id
      |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q25 — MinHash + banded-LSH near-dup detection with exact verification
    * of candidates (the 100 TB dedup path; SURVEY §7.4).
    */
  def q25(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text", 3, 0.7)
      .orderBy("doc_a", "doc_b")

  /** q112 — DOPH MinHash LSH ([[graft.operators.Dedup.minhashLshDoph]]):
    * the one-pass densified-one-permutation signature
    * (Shrivastava & Li, ICML'14) in place of q25's 128-pass
    * per-permutation build — the map-side cost of signature
    * construction drops ~128× while the banded-LSH candidate join and
    * exact Jaccard verification keep the identical plan. Shares q25's
    * brute-force oracle: green means the cheaper signature loses no
    * pair at this threshold.
    */
  def q112(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshDoph(Tables.documents(s, dir), "doc_id", "text", 3, 0.7)
      .orderBy("doc_a", "doc_b")

  /** q26 — 64-bit SimHash signatures (bit-string form). Exact SQL
    * oracle: token hashes are [[graft.functions.Hashing.md5TokenHashes]]
    * — bit-for-bit DuckDB's `md5_number_upper` — so the oracle replays
    * the full bit-vote (explode tokens × 64 bit positions, sign of the
    * per-bit sum) and rebuilds the MSB-first bit string. ScalaTest
    * additionally pins the semantic property (near-dup pairs from
    * q24's truth have small Hamming distance).
    */
  def q26(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q26Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS t FROM w),
      |th AS (SELECT doc_id, md5_number_upper(t) AS h FROM tok),
      |bits AS (
      | SELECT doc_id, i,
      |  CASE WHEN SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |       THEN '1' ELSE '0' END AS b
      | FROM th, (SELECT unnest(range(0, 64)) AS i) k
      | GROUP BY doc_id, i)
      |SELECT doc_id, string_agg(b, '' ORDER BY i DESC) AS simhash_bits
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q35 — SimHash banded near-dup search (Hamming ≤ 7, pigeonhole-exact
    * recall with 8 bands). The oracle replays the md5-based signature
    * (q26's bit-vote, reassembled as a uint64) and brute-forces
    * `bit_count(xor) ≤ 7` over all pairs — green means the banded scale
    * path loses no pair vs exhaustive search. Brute equality is also
    * pinned JVM-side by OperatorsSpec.
    */
  def q35(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(Tables.documents(s, dir), "doc_id", "text", maxDist = 7)
      .orderBy("doc_a", "doc_b")

  val q35Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS t FROM w),
      |th AS (SELECT doc_id, md5_number_upper(t) AS h FROM tok),
      |bits AS (
      | SELECT doc_id, i,
      |  CASE WHEN SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |       THEN 1::UBIGINT ELSE 0::UBIGINT END AS b
      | FROM th, (SELECT unnest(range(0, 64)) AS i) k
      | GROUP BY doc_id, i),
      |sig AS (SELECT doc_id, SUM(b << i)::UBIGINT AS sig FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 7
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q38 — near-dup clustering: LSH-verified pairs → transitive connected
    * components → (doc_id, cluster_id = min id in component). The oracle
    * recomputes the same thing declaratively: brute-force pairs, then a
    * recursive-CTE transitive closure with MIN per vertex. Pinning
    * transitivity matters — a pair list alone under-merges A~B, B~C.
    */
  def q38(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(Tables.documents(s, dir), "doc_id", "text", 3, 0.7)
      .orderBy("doc_id")

  val q38Sql: String =
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
      | SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
      |SELECT a AS doc_id, MIN(b) AS cluster_id
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** q155 — dedup savings report: the numbers a pipeline owner reads
    * BEFORE applying q38's clusters — per cluster size: how many
    * clusters, how many documents a keep-min-id policy deletes, and how
    * many tokens that deletion saves. (q145 sweeps the threshold; q148
    * audits quality bias; this prices the chosen threshold in storage/
    * compute terms.) All-integer — COUNT/SUM over the cluster table —
    * so the oracle extends q38's recursive-closure replay with the
    * token sums and matches exactly.
    *
    * Scale shape: cluster-keyed and then size-keyed map-side-combined
    * aggregations over the (doc, cluster) table and one doc-keyed
    * equi-join for token counts; output is one row per DISTINCT cluster
    * size. Nothing touches the pair set beyond what q38 already built.
    */
  def q155(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cl = Dedup.dedupClusters(docs, "doc_id", "text", 3, 0.7)
    val ntok = docs.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("nt"))
    val sizes = cl.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    val removedTok = cl.filter(col("doc_id") =!= col("cluster_id"))
      .join(ntok, "doc_id")
      .groupBy("cluster_id").agg(sum("nt").as("rt"))
    sizes.join(removedTok, Seq("cluster_id"), "left")
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(coalesce(col("rt"), lit(0L))).as("tokens_removed"))
      .select(col("cluster_size"), col("n_clusters"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("docs_removed"),
        col("tokens_removed"))
      .orderBy("cluster_size")
  }

  val q155Sql: String =
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
      |cl AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
      |nt AS (SELECT doc_id,
      |        len(string_split_regex(lower(trim(text)), '\s+')) AS nt
      |       FROM documents),
      |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1),
      |rt AS (SELECT cl.cluster_id, SUM(nt.nt) AS rt
      |       FROM cl JOIN nt USING (doc_id)
      |       WHERE cl.doc_id <> cl.cluster_id GROUP BY 1)
      |SELECT sz.cluster_size, COUNT(*) AS n_clusters,
      | CAST((sz.cluster_size - 1) * COUNT(*) AS BIGINT) AS docs_removed,
      | CAST(COALESCE(SUM(rt.rt), 0) AS BIGINT) AS tokens_removed
      |FROM sz LEFT JOIN rt USING (cluster_id)
      |GROUP BY sz.cluster_size ORDER BY cluster_size""".stripMargin

  /** q37 — PII redaction (emails / SSNs / US phones → typed placeholders):
    * training-data scrubbing as a codegen'd regexp_replace chain; the
    * oracle replays the identical patterns (shared Java-regex/RE2 subset).
    */
  def q37(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.redactPii(col("text")).as("clean_text"))
      .orderBy("doc_id")

  val q37Sql: String =
    """SELECT doc_id,
      | regexp_replace(regexp_replace(regexp_replace(text,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |   '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
      |   '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g') AS clean_text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q89 — character-distribution quality signals: Shannon entropy of
    * each document's character frequencies plus the distinct-character
    * count — the cheap gibberish / base64-blob / encoding-noise detector
    * that complements q21's token-level ratios (a base64 blob passes
    * token-length filters but its flat char distribution pushes entropy
    * toward uniform). One fused JVM pass per document
    * ([[graft.functions.TextFns.charStats]]) — entirely map-side, no
    * shuffle before the oracle-determinism sort; the DuckDB oracle
    * replays it by exploding characters (fine at oracle SF, exactly the
    * plan shape the kernel avoids at 100 TB).
    */
  def q89(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        TextFns.charStats(col("text")).as("cs"))
      .select(col("doc_id"), col("n_chars"),
        col("cs._2").as("n_distinct_chars"),
        round(col("cs._1"), 4).as("char_entropy"))
      .orderBy("doc_id")

  val q89Sql: String =
    """WITH c AS (
      | SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      |f AS (SELECT doc_id, ch, COUNT(*) AS c FROM c GROUP BY doc_id, ch),
      |n AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM f GROUP BY doc_id),
      |e AS (
      | SELECT f.doc_id, COUNT(*) AS n_distinct_chars,
      |  round(-SUM((c / n.n) * ln(c / n.n)), 4) AS char_entropy
      | FROM f JOIN n USING (doc_id) GROUP BY f.doc_id)
      |SELECT d.doc_id, length(d.text) AS n_chars, e.n_distinct_chars,
      | e.char_entropy
      |FROM documents d JOIN e USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q121 — shingle-containment near-dup pairs
    * ([[graft.operators.Dedup.containmentJoin]]): the asymmetric
    * measure `|A∩B| / min(|A|,|B|) ≥ 0.6` that catches a document
    * embedded in a larger one, where Jaccard's union denominator
    * (q24/q25) dilutes the score below threshold. Inverted-index
    * exact join — pairs exist only for docs sharing a shingle, the
    * threshold is integer arithmetic — against DuckDB's brute-force
    * all-pairs list_intersect oracle: green proves the posting-list
    * plan reproduces the quadratic ground truth without ever forming
    * the cross join.
    */
  def q121(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentJoin(Tables.documents(s, dir), "doc_id", "text",
      3, thetaNum = 6, thetaDen = 10)
      .orderBy("doc_a", "doc_b")

  val q121Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |       THEN list_distinct(list_transform(range(1, len(w) - 1),
      |              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |       ELSE [array_to_string(w, ' ')] END AS sh
      | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      |       FROM documents))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
      | CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b,
      | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE), 4) AS containment
      |FROM t a, t b
      |WHERE a.doc_id < b.doc_id
      |  AND len(list_intersect(a.sh, b.sh)) * 10 >= least(len(a.sh), len(b.sh)) * 6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q124 — WITHIN-document segment dedup with rebuild: cut each doc
    * into q50's non-overlapping 8-token segments and drop every repeat
    * of a segment already seen earlier in the SAME document — the
    * in-doc half of C4/Gopher repetition removal (q44 measures
    * self-repetition; this is the ACTION that rewrites the doc; q50/q95
    * are the cross-doc siblings). Keep-first is positional:
    * `array_position` finds each segment's first occurrence index, and
    * the filter keeps exactly the occurrences that ARE their own first.
    *
    * Scale shape: the entire operator is per-row higher-order
    * functions — segment build, keep-first filter, rejoin — so the
    * plan is ONE map-only codegen stage with ZERO shuffles and no
    * state: it scales linearly to any corpus size and composes with
    * any downstream pass for free.
    */
  def q124(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, cast(ceil(size(w) / $k.0) as int) - 1),
           |          i -> array_join(slice(w, i * $k + 1, $k), ' '))""".stripMargin)
        .as("segs"))
      .select(col("doc_id"), col("segs"),
        filter(col("segs"), (x, i) => array_position(col("segs"), x) === i + 1)
          .as("kept"))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_segments"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("text_kept"))
      .orderBy("doc_id")
  }

  val q124Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |s AS (
      | SELECT doc_id, list_transform(
      |   range(0, CAST(ceil(len(w) / 8.0) AS INT)),
      |   i -> array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ')) AS segs
      | FROM w),
      |f AS (
      | SELECT doc_id, segs,
      |  list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept
      | FROM s)
      |SELECT doc_id, len(segs) AS n_segments, len(kept) AS n_kept,
      | array_to_string(kept, ' ') AS text_kept
      |FROM f ORDER BY doc_id""".stripMargin

  /** q130 — text normalization: Unicode NFC (custom codegen expression
    * [[graft.functions.UnicodeNormalize]] — DuckDB replays it with its
    * native `nfc_normalize`, so the oracle is an exact cross-engine
    * parity check of the expression), then C0/DEL control stripping and
    * ASCII-whitespace collapse. The whitespace class is written out
    * explicitly (`[ \t\n\r\f]`) because Java's `\s` and RE2's `\s`
    * disagree on VT (0x0B); VT is removed by the control strip instead.
    * Map-only — the one shuffle is the output sort.
    */
  def q130(s: SparkSession, dir: String): DataFrame = {
    val nfc = graft.functions.UnicodeNormalize(s, col("text"))
    val stripped = regexp_replace(nfc,
      "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")
    val norm = trim(regexp_replace(stripped, "[ \\t\\n\\r\\f]+", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"), norm.as("norm_text"),
        (norm =!= col("text")).as("changed"),
        (length(col("text")) - length(norm)).cast("long").as("delta_chars"))
      .orderBy("doc_id")
  }

  val q130Sql: String =
    """WITH n AS (
      | SELECT doc_id, text,
      |  trim(regexp_replace(
      |    regexp_replace(nfc_normalize(text), '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
      |    '[ \t\n\r\f]+', ' ', 'g')) AS norm_text
      | FROM documents)
      |SELECT doc_id, norm_text, norm_text <> text AS changed,
      | length(text) - length(norm_text) AS delta_chars
      |FROM n ORDER BY doc_id""".stripMargin

  /** q132 — script-mix detection ([[graft.functions.TextFns.scriptStats]]):
    * per-codepoint counts over explicit Unicode block ranges plus the
    * dominant script — the mixed-script / mojibake / wrong-langid audit
    * signal that complements q22's stopword langid. All-integer output;
    * DuckDB replays the identical range tests over `unicode()`
    * codepoints, so the oracle is exact. Map-only (one fused JVM pass).
    */
  def q132(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.scriptStats(col("text")).as("sc"))
      .select(col("doc_id"),
        col("sc._1").as("n_cp"), col("sc._2").as("n_latin"),
        col("sc._3").as("n_cyrillic"), col("sc._4").as("n_greek"),
        col("sc._5").as("n_cjk"), col("sc._6").as("n_arabic"),
        col("sc._7").as("n_digit"), col("sc._8").as("n_space"),
        col("sc._9").as("n_other"), col("sc._10").as("dominant_script"))
      .orderBy("doc_id")

  val q132Sql: String =
    """WITH cp AS (
      | SELECT doc_id, list_transform(
      |   list_filter(string_split(text, ''), c -> c <> ''),
      |   c -> unicode(c)) AS cps
      | FROM documents),
      |c AS (
      | SELECT doc_id, len(cps) AS n_cp,
      |  len(list_filter(cps, x -> (x BETWEEN 65 AND 90) OR (x BETWEEN 97 AND 122)
      |    OR (x BETWEEN 192 AND 591))) AS n_latin,
      |  len(list_filter(cps, x -> x BETWEEN 1024 AND 1279)) AS n_cyrillic,
      |  len(list_filter(cps, x -> x BETWEEN 880 AND 1023)) AS n_greek,
      |  len(list_filter(cps, x -> x BETWEEN 11904 AND 40959)) AS n_cjk,
      |  len(list_filter(cps, x -> x BETWEEN 1536 AND 1791)) AS n_arabic,
      |  len(list_filter(cps, x -> x BETWEEN 48 AND 57)) AS n_digit,
      |  len(list_filter(cps, x -> x IN (32, 9, 10, 13, 12))) AS n_space
      | FROM cp)
      |SELECT doc_id, n_cp, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
      | n_digit, n_space,
      | n_cp - n_latin - n_cyrillic - n_greek - n_cjk - n_arabic - n_digit - n_space AS n_other,
      | CASE WHEN greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) = 0 THEN 'none'
      |      WHEN n_latin >= n_cyrillic AND n_latin >= n_greek AND n_latin >= n_cjk
      |       AND n_latin >= n_arabic THEN 'latin'
      |      WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk
      |       AND n_cyrillic >= n_arabic THEN 'cyrillic'
      |      WHEN n_greek >= n_cjk AND n_greek >= n_arabic THEN 'greek'
      |      WHEN n_cjk >= n_arabic THEN 'cjk'
      |      ELSE 'arabic' END AS dominant_script
      |FROM c ORDER BY doc_id""".stripMargin

  /** q145 — dedup threshold-sensitivity sweep: for a grid of Jaccard
    * thresholds τ ∈ {0.5 … 0.9}, how many near-dup pairs exist and how
    * many documents the keep-lowest-id rule would drop (a doc is
    * dropped at τ iff it has ANY smaller-id partner with J ≥ τ — the
    * deterministic pair-graph dominator rule, not the order-dependent
    * iterative greedy). This is the tuning curve an operator reads
    * before picking a production dedup threshold — the whole sweep
    * costs ONE prefix-filtered similarity join at the LOOSEST τ (the
    * pair set at τmin contains every tighter τ's pairs by
    * monotonicity), then a single conditional aggregation over the
    * pair rows; no per-τ re-join, no extra scan of the corpus.
    *
    * Scale shape: the prefix join is q24's corpus-scale path; the
    * sweep adds 10 conditional aggregates over the (small) pair set —
    * the countDistincts expand that tiny frame, never the corpus. All
    * arithmetic is exact (integer counts; τ literals parse to the same
    * doubles in both engines; Jaccard is one correctly-rounded
    * division), so the oracle replays the grid bit-for-bit.
    */
  def q145(s: SparkSession, dir: String): DataFrame = {
    val taus = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val pairs = Dedup.jaccardPrefixJoin(
      Tables.documents(s, dir), "doc_id", "text", 3, taus.min)
    val aggs = taus.zipWithIndex.flatMap { case (t, i) =>
      Seq(coalesce(sum(when(col("jaccard") >= t, 1L).otherwise(0L)), lit(0L))
            .as(s"p$i"),
        countDistinct(when(col("jaccard") >= t, col("doc_b"))).as(s"d$i"))
    }
    val stackArgs = taus.zipWithIndex
      .map { case (t, i) => s"CAST($t AS DOUBLE), p$i, d$i" }.mkString(", ")
    pairs.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${taus.size}, $stackArgs) AS (tau, n_pairs, n_docs_removed)")
      .orderBy("tau")
  }

  val q145Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |       THEN list_distinct(list_transform(range(1, len(w) - 1),
      |              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |       ELSE [array_to_string(w, ' ')] END AS sh
      | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)),
      |p AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
      | FROM t a, t b
      | WHERE a.doc_id < b.doc_id
      |   AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5),
      |ts AS (SELECT CAST(x AS DOUBLE) AS tau
      |       FROM unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS u(x))
      |SELECT ts.tau,
      | CAST(count(p.doc_a) AS BIGINT) AS n_pairs,
      | CAST(count(DISTINCT p.doc_b) AS BIGINT) AS n_docs_removed
      |FROM ts LEFT JOIN p ON p.jaccard >= ts.tau
      |GROUP BY ts.tau ORDER BY ts.tau""".stripMargin

  /** q148 — dedup bias audit: of the documents near-dup removal would
    * drop (any smaller-id partner at J ≥ 0.7 — q145's deterministic
    * dominator rule), how are they distributed across quality
    * quartiles? A dedup pass that eats disproportionately from the
    * high-quality quartile is destroying signal, not noise — this is
    * the "what am I deleting" report a pipeline reads before applying
    * a threshold. Quality = distinct-token ratio (q52's p4 signal, one
    * replayable division); quartile = exact integer bucketing of the
    * PrefixSum two-pass rank (never a global window); removed flag =
    * semi-join against the prefix-filtered pair set's doc_b side.
    * Output per quartile: docs, removed docs, removed fraction.
    */
  def q148(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val scored = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        (size(array_distinct(col("w"))).cast("double") /
          size(col("w")).cast("double")).as("score"))
    val ranked = graft.operators.PrefixSum.withRunningTotalOrdered(
      scored.withColumn("__one", lit(1)), Seq("score", "doc_id"), "__one",
      "__rank", 32)
    val removed = Dedup.jaccardPrefixJoin(docs, "doc_id", "text", 3, 0.7)
      .select(col("doc_b").as("doc_id")).distinct()
    ranked
      .withColumn("quartile", expr(s"((__rank - 1L) * 4L) div ${n}L") + lit(1L))
      .join(removed.withColumn("rm", lit(1L)), Seq("doc_id"), "left")
      .groupBy("quartile")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("rm")), lit(0L)).as("n_removed"))
      .select(col("quartile"), col("n_docs"), col("n_removed"),
        round(col("n_removed").cast("double") / col("n_docs").cast("double"), 4)
          .as("removed_frac"))
      .orderBy("quartile")
  }

  val q148Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |       THEN list_distinct(list_transform(range(1, len(w) - 1),
      |              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |       ELSE [array_to_string(w, ' ')] END AS sh
      | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)),
      |rem AS (
      | SELECT DISTINCT b.doc_id
      | FROM t a, t b
      | WHERE a.doc_id < b.doc_id
      |   AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.7),
      |s AS (
      | SELECT doc_id,
      |  CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
      |   / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS score
      | FROM documents),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |r AS (SELECT doc_id, row_number() OVER (ORDER BY score, doc_id) AS rn FROM s),
      |qd AS (SELECT r.doc_id, ((rn - 1) * 4) // n.n + 1 AS quartile FROM r, n)
      |SELECT CAST(quartile AS BIGINT) AS quartile,
      | CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(count(rem.doc_id) AS BIGINT) AS n_removed,
      | round(CAST(count(rem.doc_id) AS DOUBLE) / count(*), 4) AS removed_frac
      |FROM qd LEFT JOIN rem USING (doc_id)
      |GROUP BY quartile ORDER BY quartile""".stripMargin

  /** q149 — Gopher-style repetition filter signals (Rae et al. 2021,
    * Table A1): the word-n-gram half of the repetition family — q44
    * covers single-token repetition and q93 the top BIGRAM; this adds
    * the top-{3,4}-gram character fractions and the duplicate-{5,10}-gram
    * occurrence fractions, plus the combined pass/fail gate. (Gopher's
    * line-based signals have no analog here: this corpus has no
    * newlines — q50/q124 run the segment-level equivalent.)
    *
    * Scale shape: one pass per document. The tokens stay SQL
    * (`TextFns.tokens`), and [[repetition]] counts every gram size of
    * one document in one call inside the scan's projection, so no gram
    * leaves the task: no explode, no gram shuffle, no doc-keyed
    * aggregate and no join back (the former (doc_id, n, gram) shuffle
    * was all of q149's write bytes at scale, 38.1 MB → 382 MB → 4.06 GB
    * over the rehearsal's 1×/10×/100× tiers). The final `orderBy` is the
    * only exchange. Memory per task is one document's grams of one
    * size, ~|tokens| entries, the doc-length bound the former per-doc
    * aggregate carried. Sub-n-word docs have no grams of that size (null
    * [[GramStats]]) and emit 0.0 fractions like the oracle's empty
    * ranges. Fractions are single IEEE divisions of integer-derived
    * values rounded to 4 (the q117 rule); thresholds are Gopher's where
    * given (top-3 ≤ 0.18, top-4 ≤ 0.16) and documented adaptations for
    * the occurrence-fraction variant of the dup-gram signals
    * (dup-5 ≤ 0.30, dup-10 ≤ 0.10 — Gopher's char-fraction form needs
    * interval union, which q126 provides corpus-wide).
    */
  def q149(s: SparkSession, dir: String): DataFrame = {
    val rep = udf(repetition _)
    def frac(num: Column, den: Column): Column =
      round(coalesce(num.cast("double") / den.cast("double"), lit(0.0)), 4)
    Tables.documents(s, dir)
      .select(col("doc_id"), rep(TextFns.tokens(col("text"))).as("r"))
      .select(col("doc_id"),
        frac(col("r.g3.topc") * col("r.g3.topl"), col("r.nch")).as("top3_frac"),
        frac(col("r.g4.topc") * col("r.g4.topl"), col("r.nch")).as("top4_frac"),
        frac(col("r.g5.tot") - col("r.g5.dis"), col("r.g5.tot")).as("dup5_frac"),
        frac(col("r.g10.tot") - col("r.g10.dis"), col("r.g10.tot")).as("dup10_frac"))
      .withColumn("gopher_ok",
        col("top3_frac") <= 0.18 && col("top4_frac") <= 0.16 &&
          col("dup5_frac") <= 0.30 && col("dup10_frac") <= 0.10)
      .orderBy("doc_id")
  }

  /** One gram size's counts in one document: `tot` grams, `dis` distinct
    * grams, the top gram's count `topc` and its length `topl` in code
    * points.
    */
  case class GramStats(tot: Long, dis: Long, topc: Long, topl: Long)

  /** q149's signals for one document: `nch`, the code points of its
    * tokens joined by single spaces, and [[GramStats]] for n = 3, 4, 5
    * and 10, each null when the document has fewer than n tokens.
    */
  case class Repetition(nch: Long, g3: GramStats, g4: GramStats, g5: GramStats,
                        g10: GramStats)

  /** q149's per-document kernel, a pure function of the token array: the
    * word n-grams (tokens joined by single spaces, as `array_join` forms
    * them) of each size, counted in one hash map per size. The top gram
    * is the most frequent; ties go to the smallest gram in UTF-8 byte
    * order (Spark's `UTF8String.compareTo`, which differs from Java's
    * UTF-16 `String` order above U+FFFF). A null array counts as no
    * tokens. Memory is one document: its grams of one size at a time.
    */
  def repetition(w: Seq[String]): Repetition = {
    val toks = if (w == null) IndexedSeq.empty[String] else w.toIndexedSeq
    def points(t: String) = t.codePointCount(0, t.length).toLong
    def stats(n: Int): GramStats =
      if (toks.size < n) null
      else {
        val counts = scala.collection.mutable.HashMap.empty[String, Int]
        toks.sliding(n).foreach { g =>
          val k = g.mkString(" ")
          counts(k) = counts.getOrElse(k, 0) + 1
        }
        var top: String = null
        var topc = 0
        counts.foreach { case (g, c) =>
          if (c > topc || (c == topc && UTF8String.fromString(g)
              .compareTo(UTF8String.fromString(top)) < 0)) { top = g; topc = c }
        }
        GramStats(toks.size - n + 1, counts.size, topc, points(top))
      }
    val nch = if (toks.isEmpty) 0L else toks.map(points).sum + toks.size - 1
    Repetition(nch, stats(3), stats(4), stats(5), stats(10))
  }

  val q149Sql: String =
    """WITH w AS (
      | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      | FROM documents),
      |g AS (
      | SELECT doc_id, n.n AS n,
      |  unnest(list_transform(range(1, len(w) - n.n + 2),
      |         i -> array_to_string(w[i:i+n.n-1], ' '))) AS g
      | FROM w, (VALUES (3), (4), (5), (10)) n(n)),
      |c AS (SELECT doc_id, n, g, COUNT(*) AS c FROM g GROUP BY ALL),
      |p0 AS (
      | SELECT doc_id, n, SUM(c) AS tot, COUNT(*) AS dis
      | FROM c GROUP BY doc_id, n),
      |tg AS (
      | SELECT doc_id, n, c AS topc, len(g) AS topl FROM (
      |   SELECT doc_id, n, g, c,
      |     row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g) AS rn
      |   FROM c) r WHERE rn = 1),
      |p AS (
      | SELECT p0.doc_id, p0.n, p0.tot, p0.dis, tg.topc, tg.topl
      | FROM p0 JOIN tg USING (doc_id, n)),
      |ch AS (SELECT doc_id, len(array_to_string(w, ' ')) AS nch FROM w),
      |wide AS (
      | SELECT ch.doc_id, ch.nch,
      |  MAX(CASE WHEN n = 3 THEN topc * topl END) AS t3,
      |  MAX(CASE WHEN n = 4 THEN topc * topl END) AS t4,
      |  MAX(CASE WHEN n = 5 THEN tot - dis END) AS d5n,
      |  MAX(CASE WHEN n = 5 THEN tot END) AS d5d,
      |  MAX(CASE WHEN n = 10 THEN tot - dis END) AS d10n,
      |  MAX(CASE WHEN n = 10 THEN tot END) AS d10d
      | FROM ch LEFT JOIN p ON ch.doc_id = p.doc_id
      | GROUP BY ch.doc_id, ch.nch)
      |SELECT doc_id,
      | COALESCE(round(CAST(t3 AS DOUBLE) / nch, 4), 0.0) AS top3_frac,
      | COALESCE(round(CAST(t4 AS DOUBLE) / nch, 4), 0.0) AS top4_frac,
      | COALESCE(round(CAST(d5n AS DOUBLE) / d5d, 4), 0.0) AS dup5_frac,
      | COALESCE(round(CAST(d10n AS DOUBLE) / d10d, 4), 0.0) AS dup10_frac,
      | (COALESCE(round(CAST(t3 AS DOUBLE) / nch, 4), 0.0) <= 0.18
      |  AND COALESCE(round(CAST(t4 AS DOUBLE) / nch, 4), 0.0) <= 0.16
      |  AND COALESCE(round(CAST(d5n AS DOUBLE) / d5d, 4), 0.0) <= 0.30
      |  AND COALESCE(round(CAST(d10n AS DOUBLE) / d10d, 4), 0.0) <= 0.10)
      |   AS gopher_ok
      |FROM wide ORDER BY doc_id""".stripMargin

  /** q150 — tokenizer fertility by language: subword tokens per
    * whitespace word and characters per subword token, grouped by the
    * `lang` column (the standard tokenizer-equity audit — a tokenizer
    * whose fertility is 2× higher for one language makes that
    * language's text 2× more expensive to train on). Subword tokens
    * are q20's BPE-ish regex class ([[TextFns.bpeTokenCount]] — letter
    * runs / digit runs / single non-alphanumerics, so CJK text
    * tokenizes per character and its fertility is honestly high).
    * ONE map-side-combined 5-group aggregation of three integer sums;
    * the two ratios are single IEEE divisions rounded to 4.
    */
  def q150(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("nw"),
        TextFns.bpeTokenCount(col("text")).cast("long").as("nt"),
        length(col("text")).cast("long").as("nc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
        sum("nt").as("n_subword_tokens"), sum("nc").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_subword_tokens"),
        round(col("n_subword_tokens").cast("double")
          / col("n_words").cast("double"), 4).as("fertility"),
        round(col("n_chars").cast("double")
          / col("n_subword_tokens").cast("double"), 4).as("chars_per_token"))
      .orderBy("lang")

  val q150Sql: String =
    """WITH t AS (
      | SELECT lang,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS nw,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS nt,
      |  length(text) AS nc
      | FROM documents)
      |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS n_words,
      | CAST(SUM(nt) AS BIGINT) AS n_subword_tokens,
      | round(CAST(SUM(nt) AS DOUBLE) / SUM(nw), 4) AS fertility,
      | round(CAST(SUM(nc) AS DOUBLE) / SUM(nt), 4) AS chars_per_token
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** q162 — persisted-LSH-index probe ([[graft.operators.LshIndex]]):
    * the daily-crawl production shape for near-dup — the reference
    * half's banded signatures are built ONCE, saved as a
    * dir-partitioned parquet index (+ `_graft_meta.json` hash
    * parameters), loaded back, and the incoming half probes it:
    * static directory pruning from the batch's hit-dir set, bucket
    * row-group pruning, then EXACT Jaccard verification with shingles
    * recomputed only for candidate reference docs. The query runs the
    * whole lifecycle (build → save → load → probe), so the bench
    * prices the real thing. Verified output ⇒ the brute cross-half
    * oracle is exact (q25's argument: P(miss | J ≥ 0.7) ≈ 5e-8).
    */
  def q162(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val inc = docs.filter(col("doc_id") % 2 === 1)
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_q162_lsh_index").getAbsolutePath
    graft.operators.LshIndex.save(
      graft.operators.LshIndex.build(ref, "doc_id", "text", 3), path)
    val idx = graft.operators.LshIndex.load(s, path)
    graft.operators.LshIndex.probe(idx, ref, inc, "doc_id", "text", 0.7)
      .orderBy("doc_id", "ref_id")
  }

  val q162Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |       THEN list_distinct(list_transform(range(1, len(w) - 1),
      |              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |       ELSE [array_to_string(w, ' ')] END AS sh
      | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents))
      |SELECT a.doc_id AS doc_id, b.doc_id AS ref_id,
      | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
      |FROM t a, t b
      |WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.7
      |ORDER BY doc_id, ref_id""".stripMargin

  /** q163 — per-source quantile normalization of a quality score: raw
    * score distributions differ by source (a 0.8 on curated wiki ≠ a
    * 0.8 on raw crawl), so cross-source filtering/mixing uses each
    * doc's PERCENTILE WITHIN ITS SOURCE — the calibration step before
    * any global threshold. Exact percent_rank = (rank−1)/(n−1) on the
    * (score, doc_id) total order.
    *
    * Scale shape: one PrefixSum two-pass rank over (source, score,
    * doc_id) — never a per-source global window (a source IS a
    * corpus-sized partition at 100 TB); per-source bases and counts
    * from a source-count-sized agg broadcast back.
    */
  def q163(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = docs
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("source"),
        (size(array_distinct(col("w"))).cast("double") /
          size(col("w")).cast("double")).as("score"))
    val ranked = graft.operators.PrefixSum.withRunningTotalOrdered(
      scored.withColumn("__one", lit(1)),
      Seq("source", "score", "doc_id"), "__one", "__rank", 32)
    val bases = ranked.groupBy("source")
      .agg(min(col("__rank")).as("__base"), count(lit(1)).as("__n"))
    ranked.join(broadcast(bases), Seq("source"))
      .select(col("doc_id"), col("source"), round(col("score"), 6).as("score"),
        when(col("__n") > 1,
          round((col("__rank") - col("__base")).cast("double") /
            (col("__n") - 1).cast("double"), 6))
          .otherwise(lit(0.0)).as("pct_rank"))
      .orderBy("doc_id")
  }

  val q163Sql: String =
    """WITH s AS (
      | SELECT doc_id, source,
      |   CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS score
      | FROM (SELECT doc_id, source,
      |         string_split_regex(lower(trim(text)), '\s+') AS w
      |       FROM documents)),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY source) AS n
      |      FROM s)
      |SELECT doc_id, source, round(score, 6) AS score,
      | CASE WHEN n > 1
      |      THEN round(CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6)
      |      ELSE 0.0 END AS pct_rank
      |FROM r ORDER BY doc_id""".stripMargin

  /** q164 — per-source token-distribution drift: χ² distance between
    * the even-doc and odd-doc halves of each source over the global
    * top-50 tokens — the corpus-drift monitor run between crawl
    * snapshots (a source whose token distribution moves is re-scored
    * before it contaminates the mix). χ² = Σ (pA−pB)²/(pA+pB) is the
    * rational-arithmetic drift measure (no logs — the q151/q117
    * no-transcendental rule), and the per-token terms sum through the
    * dec6 decimal pattern so the float total is partition-order
    * invariant and engine-identical.
    *
    * Scale shape: one token explode feeds a map-side-combined
    * (source, half, token) count; the top-50 vocabulary is a broadcast
    * (the only global object, 50 rows); everything after is
    * source-count-sized.
    */
  def q164(s: SparkSession, dir: String): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(TextFns.tokens(col("text"))).as("tok"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("tok")).limit(50).select("tok")
    val counted = toks.join(broadcast(top), "tok")
      .groupBy(col("source"), col("tok"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cb"))
    val totals = counted.groupBy("source")
      .agg(sum("ca").as("ta"), sum("cb").as("tb"))
    val pa = when(col("ta") > 0,
      col("ca").cast("double") / col("ta").cast("double")).otherwise(lit(0.0))
    val pb = when(col("tb") > 0,
      col("cb").cast("double") / col("tb").cast("double")).otherwise(lit(0.0))
    counted.join(broadcast(totals), "source")
      .withColumn("term",
        when(pa + pb > 0, (pa - pb) * (pa - pb) / (pa + pb)).otherwise(lit(0.0)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens_used"),
        sum(round(col("term"), 6).cast(dec6)).cast("double").as("chi2"))
      .orderBy("source")
  }

  val q164Sql: String =
    """WITH toks AS (
      | SELECT doc_id, source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      | FROM documents),
      |top AS (SELECT tok FROM toks GROUP BY tok
      |        ORDER BY COUNT(*) DESC, tok LIMIT 50),
      |c AS (
      | SELECT source, tok,
      |   SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
      |   SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
      | FROM toks JOIN top USING (tok) GROUP BY 1, 2),
      |t AS (SELECT source, SUM(ca) AS ta, SUM(cb) AS tb FROM c GROUP BY 1),
      |p AS (
      | SELECT c.source,
      |  CASE WHEN ta > 0 THEN CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) ELSE 0.0 END AS pa,
      |  CASE WHEN tb > 0 THEN CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) ELSE 0.0 END AS pb
      | FROM c JOIN t ON c.source = t.source),
      |terms AS (
      | SELECT source,
      |  CASE WHEN pa + pb > 0 THEN (pa - pb) * (pa - pb) / (pa + pb)
      |       ELSE 0.0 END AS term
      | FROM p)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens_used,
      | CAST(SUM(CAST(round(term, 6) AS DECIMAL(18,6))) AS DOUBLE) AS chi2
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** q171 — per-source nucleus (top-p) selection: walk each source's
    * docs in quality-descending order and keep until the kept tokens
    * reach 80% of the source's total (the crossing doc included) — the
    * token-budgeted quality trim applied per source before mixing
    * ("keep the best 80% of tokens", not "the best N docs": long
    * mediocre docs can't crowd out short good ones). The gate is the
    * integer comparison `5·cum_before < 4·total` — no float threshold.
    *
    * Scale shape: ONE PrefixSum two-pass running-token-total over
    * (source, −score, doc_id) — never a per-source global window; the
    * per-source base (tokens before the source's first row) and total
    * come from a source-count-sized agg broadcast back; one final
    * grouped aggregation.
    */
  def q171(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("source"),
        size(col("w")).cast("long").as("nt"),
        (size(array_distinct(col("w"))).cast("double") /
          size(col("w")).cast("double")).as("score"))
      .withColumn("neg_score", -col("score"))
    val run = graft.operators.PrefixSum.withRunningTotalOrdered(
      scored, Seq("source", "neg_score", "doc_id"), "nt", "__run", 32)
    val bases = run.groupBy("source")
      .agg(min(col("__run") - col("nt")).as("__base"),
        sum(col("nt")).as("total"))
    run.join(broadcast(bases), Seq("source"))
      .withColumn("cum_before", col("__run") - col("nt") - col("__base"))
      .withColumn("keep", col("cum_before") * 5 < col("total") * 4)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        max(col("total")).as("tokens_total"),
        sum(when(col("keep"), col("nt")).otherwise(0L)).as("tokens_kept"))
      .orderBy("source")
  }

  val q171Sql: String =
    """WITH s AS (
      | SELECT doc_id, source,
      |   CAST(len(w) AS BIGINT) AS nt,
      |   CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS score
      | FROM (SELECT doc_id, source,
      |         string_split_regex(lower(trim(text)), '\s+') AS w
      |       FROM documents)),
      |r AS (
      | SELECT *,
      |   COALESCE(SUM(nt) OVER (PARTITION BY source
      |     ORDER BY score DESC, doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
      |   SUM(nt) OVER (PARTITION BY source) AS total
      | FROM s)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(CASE WHEN cum_before * 5 < total * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | CAST(MAX(total) AS BIGINT) AS tokens_total,
      | CAST(SUM(CASE WHEN cum_before * 5 < total * 4 THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_lsh_probe" -> (q162 _),
    "q163_source_quantile_norm" -> (q163 _),
    "q164_chi2_drift" -> (q164 _),
    "q171_top_p_select" -> (q171 _),
    "q149_gopher_repetition" -> (q149 _),
    "q150_token_fertility" -> (q150 _),
    "q155_dedup_savings" -> (q155 _),
    "q132_script_mix" -> (q132 _),
    "q130_normalize_text" -> (q130 _),
    "q124_indoc_dedup" -> (q124 _),
    "q121_containment_dedup" -> (q121 _),
    "q89_char_entropy" -> (q89 _),
    "q38_dedup_clusters" -> (q38 _),
    "q37_pii_redact" -> (q37 _),
    "q35_simhash_neardup" -> (q35 _),
    "q19_dedup_exact" -> (q19 _),
    "q20_token_stats" -> (q20 _),
    "q21_quality_score" -> (q21 _),
    "q22_langid" -> (q22 _),
    "q173_langid_nb" -> (q173 _),
    "q23_fingerprint" -> (q23 _),
    "q24_ngram_jaccard" -> (q24 _),
    "q25_minhash_lsh" -> (q25 _),
    "q112_minhash_doph" -> (q112 _),
    "q145_dedup_sweep" -> (q145 _),
    "q148_dedup_quality_audit" -> (q148 _),
    "q26_simhash" -> (q26 _))

  val oracles: Map[String, String] = Map(
    "q162_lsh_probe" -> q162Sql,
    "q163_source_quantile_norm" -> q163Sql,
    "q164_chi2_drift" -> q164Sql,
    "q171_top_p_select" -> q171Sql,
    "q149_gopher_repetition" -> q149Sql,
    "q150_token_fertility" -> q150Sql,
    "q155_dedup_savings" -> q155Sql,
    "q132_script_mix" -> q132Sql,
    "q130_normalize_text" -> q130Sql,
    "q124_indoc_dedup" -> q124Sql,
    "q121_containment_dedup" -> q121Sql,
    "q89_char_entropy" -> q89Sql,
    "q38_dedup_clusters" -> q38Sql,
    "q37_pii_redact" -> q37Sql,
    "q19_dedup_exact" -> q19Sql,
    "q20_token_stats" -> q20Sql,
    "q21_quality_score" -> q21Sql,
    "q22_langid" -> q22Sql,
    "q173_langid_nb" -> q173Sql,
    "q23_fingerprint" -> q23Sql,
    "q24_ngram_jaccard" -> jaccardOracle,
    "q25_minhash_lsh" -> jaccardOracle,
    "q112_minhash_doph" -> jaccardOracle,
    "q145_dedup_sweep" -> q145Sql,
    "q148_dedup_quality_audit" -> q148Sql,
    "q26_simhash" -> q26Sql,
    "q35_simhash_neardup" -> q35Sql)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional inverted index lifecycle — build / save / load / merge /
  * phrase search — the retrieval-index complement of the IVF ANN
  * lifecycle (Similarity.buildIvfIndex): train/build once, persist in
  * a prunable layout, then answer queries touching only the index
  * slices the query needs, and absorb a delta batch WITHOUT rebuilding
  * (the daily-crawl case).
  *
  * Layout: one posting row per (token, doc) carrying the SORTED
  * 1-based word positions and tf. Rows are bucketed by
  * `pmod(xxhash64(token), numBuckets)` and the save partitions the
  * parquet by that bucket, so a phrase lookup prunes to |phrase|
  * directories at the FILE level (the same partition-pruning story as
  * the IVF inverted lists). The bucket count is PART OF THE INDEX
  * ([[PostingsIndex]]) and is persisted in a `_graft_meta.json`
  * sidecar (underscore-prefixed files are invisible to Spark's
  * parquet reader, like `_SUCCESS`): a searcher that guessed a
  * different count would compute the wrong foldable bucket predicate
  * and silently filter out every true posting.
  *
  * Phrase search is the classic positional-postings intersection: word
  * i of the phrase contributes candidate starts `position − i`, and
  * the intersection is a chain of hash equi-joins on (doc, start) —
  * joined RAREST-FIRST (ascending corpus frequency, the standard
  * conjunctive-query optimization) so every intermediate is no larger
  * than the rarest word's posting set. Overlapping matches count;
  * repeated phrase words work because each offset probes the same
  * posting list independently.
  *
  * Incremental maintenance ([[merge]]): a delta corpus (new docs +
  * re-crawled replacements) becomes its own postings batch; merging is
  * an anti-join of the base postings against the delta's doc set (drop
  * superseded docs) plus a union — per-token posting LISTS never
  * concatenate across batches because the layout is (token, doc)-
  * grained, so the merge is embarrassingly parallel and touches no
  * posting row outside the delta's doc set. `build(old ∪ delta) ≡
  * merge(build(old), build(delta))` is pinned by InvertedIndexSpec.
  *
  * Scale: build is ONE map-side-combined shuffle keyed (token, doc);
  * hot tokens are aggregation keys, never window partitions. Search
  * shuffles only the phrase words' postings (after bucket+token
  * pushdown), bounded by the rarest word's df after the first join.
  * Merge shuffles only the delta (the base side is an anti-join probe
  * on doc id — broadcastable, delta-sized).
  */
object InvertedIndex {

  /** The index handle: postings + the bucket count they were hashed
    * with. Carrying numBuckets here (and in the saved sidecar) is what
    * makes the foldable bucket predicate in [[phraseSearch]] safe — it
    * can never disagree with the data's bucket domain.
    */
  final case class PostingsIndex(postings: DataFrame, numBuckets: Int)

  private val MetaFile = "_graft_meta.json"

  /** (doc, pos, tok): 1-based word positions, map-side explode. */
  def tokens(docs: DataFrame, docIdCol: String = "doc_id",
             textCol: String = "text"): DataFrame =
    docs.select(col(docIdCol),
        posexplode(split(col(textCol), " ")).as(Seq("i", "tok")))
      .filter(length(col("tok")) > 0)
      .select(col(docIdCol), (col("i") + 1).cast("long").as("pos"), col("tok"))

  /** Postings: (bucket, tok, doc, positions array<long> sorted, tf). */
  def buildPostings(docs: DataFrame, docIdCol: String = "doc_id",
                    textCol: String = "text", numBuckets: Int = 16): DataFrame =
    tokens(docs, docIdCol, textCol)
      .groupBy(col("tok"), col(docIdCol))
      .agg(sort_array(collect_list(col("pos"))).as("positions"),
        count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(numBuckets)))

  /** Build the typed index handle. */
  def buildIndex(docs: DataFrame, docIdCol: String = "doc_id",
                 textCol: String = "text", numBuckets: Int = 16): PostingsIndex =
    PostingsIndex(buildPostings(docs, docIdCol, textCol, numBuckets), numBuckets)

  /** Persist partitioned by bucket (`path/bucket=N/…` directories) plus
    * the `_graft_meta.json` sidecar carrying the bucket count.
    */
  def saveIndex(index: PostingsIndex, path: String): Unit = {
    index.postings.write.mode("overwrite").partitionBy("bucket").parquet(path)
    val meta = s"""{"numBuckets":${index.numBuckets}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path, MetaFile),
      meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load a saved index; the bucket count comes from the sidecar, never
    * from the caller (a mismatched guess would silently empty every
    * search — the bug class this lifecycle exists to rule out).
    */
  def loadIndex(spark: SparkSession, path: String): PostingsIndex = {
    val metaPath = java.nio.file.Paths.get(path, MetaFile)
    require(java.nio.file.Files.exists(metaPath),
      s"not a graft postings index (missing $MetaFile): $path")
    val meta = new String(java.nio.file.Files.readAllBytes(metaPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val nb = """"numBuckets"\s*:\s*(\d+)""".r.findFirstMatchIn(meta)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed $MetaFile at $path: $meta"))
    PostingsIndex(spark.read.parquet(path), nb)
  }

  /** Merge a delta batch into a base index: docs present in the delta
    * REPLACE their base postings (re-crawl semantics); new docs append.
    * Token-disjoint by construction at the (token, doc) grain, so the
    * result is exactly `buildIndex(old docs minus delta ∪ delta docs)`.
    * The base side is filtered by an anti-join on the delta's doc set —
    * delta-sized, broadcastable — so merging a daily batch never
    * rewrites the untouched 99% of the index.
    */
  def merge(base: PostingsIndex, delta: PostingsIndex,
            docIdCol: String = "doc_id"): PostingsIndex = {
    require(base.numBuckets == delta.numBuckets,
      s"bucket counts differ: base=${base.numBuckets} delta=${delta.numBuckets}")
    val deltaDocs = delta.postings.select(col(docIdCol)).distinct()
    val kept = base.postings.join(broadcast(deltaDocs), Seq(docIdCol), "left_anti")
    PostingsIndex(kept.unionByName(delta.postings.select(kept.columns.map(col): _*)),
      base.numBuckets)
  }

  /** Docs containing the exact word sequence `phrase`:
    * (doc, n_matches, first_start). The bucket filter travels with the
    * token filter so a LOADED index prunes at the directory level; the
    * bucket count is the INDEX's own, so the foldable predicate always
    * agrees with the stored bucket domain.
    */
  def phraseSearch(index: PostingsIndex, phrase: Seq[String],
                   docIdCol: String = "doc_id"): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val postings = index.postings
    // ONE pruned read of the phrase words' postings, materialized: the
    // bucket predicates are FOLDABLE expressions (constant-folded at
    // plan time), so a loaded index lists only |phrase| bucket
    // directories, and every later step — frequency ordering and the
    // join chain — runs off this bounded slice, never re-deriving or
    // re-scanning the index
    val bucketPreds = phrase.distinct
      .map(w => col("bucket") === pmod(xxhash64(lit(w)), lit(index.numBuckets)))
      .reduce(_ || _)
    val needed = postings
      .filter(bucketPreds && col("tok").isin(phrase.distinct: _*))
      .localCheckpoint()
    def starts(w: String, i: Int): DataFrame =
      needed.filter(col("tok") === w)
        .select(col(docIdCol), explode(col("positions")).as("pos"))
        .select(col(docIdCol), (col("pos") - i.toLong).as("start"))
    // rarest-first: total occurrences per distinct phrase word — a
    // |phrase|-row collect, the adaptive-plan-choice pattern
    val freqRows = needed.groupBy("tok").agg(sum(col("tf")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ordered = phrase.zipWithIndex.sortBy { case (w, _) =>
      (freqRows.getOrElse(w, 0L), w)
    }
    val first = starts(ordered.head._1, ordered.head._2)
    val matches = ordered.tail.foldLeft(first) { case (acc, (w, i)) =>
      acc.join(starts(w, i), Seq(docIdCol, "start"))
    }
    // valid starts are ≥ 1 (a later word near the doc head can produce
    // start ≤ 0 candidates; they can never complete, but filter anyway)
    matches.filter(col("start") >= 1L)
      .groupBy(col(docIdCol))
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_start"))
  }
}

package graft.streaming

import graft.functions.Hashing
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming document operators (LLM-pipeline extension, SURVEY §7.4).
  *
  * [[streamingNearDupCandidates]] is the streaming form of
  * `Dedup.minhashLsh`: detect near-duplicate documents ACROSS
  * micro-batches — a new document must pair against documents seen in
  * earlier batches, which no built-in streaming aggregate expresses
  * (dropDuplicates suppresses, it doesn't PAIR). This is the
  * `flatMapGroupsWithState` case: state is keyed by LSH band bucket and
  * holds the (docId, signature) list seen in that bucket; each incoming
  * doc emits candidate pairs against the bucket's prior occupants.
  *
  * Scale shape: identical to the batch operator — (bucket, id, sig) rows
  * shuffle on the bucket key, state per bucket is bounded by bucket
  * occupancy (collision width), never corpus size. Pairs found in
  * several buckets emit once per bucket; consumers dedup with a
  * downstream `dropDuplicates("doc_a","doc_b")` (itself streaming-safe).
  * The similarity reported is the MinHash ESTIMATE (matching-permutation
  * fraction) — signatures live in state, shingle sets do not; route
  * candidates through the exact batch verify where byte truth matters.
  *
  * State: the `foreachBatch` operators here keep their cross-batch state
  * through [[BatchState]]. Cluster maintenance, trending terms and CMS
  * counts keep snapshot state (one committed version per batch, so a
  * replayed batch re-emits from its committed version instead of merging
  * twice); `dedupAgainst`'s history and the bigram model are append-only
  * logs read with [[BatchState.readLog]], at-least-once as each documents.
  */
object DocStreams {

  // Logging via a private holder, not `extends Logging`: the trait's
  // `log` member would shadow org.apache.spark.sql.functions.log used
  // by the perplexity stream below.
  private object Log extends Logging {
    def warn(msg: => String): Unit = logWarning(msg)
  }

  final case class BucketDoc(bucket: Long, docId: Long, sig: Array[Long])
  final case class NearDupCandidate(doc_a: Long, doc_b: Long, est_jaccard: Double)
  final case class BucketVec(bucket: Long, vecId: Long, emb: Array[Float])
  final case class EmbedNearDup(vec_a: Long, vec_b: Long, cos: Double)
  final case class SourceDoc(source: String, docId: Long)
  final case class AdmittedDoc(source: String, doc_id: Long, admit_rank: Long)

  /** Streaming segment-level exact dedup — the incremental form of the
    * batch q50: documents are cut into non-overlapping `k`-token
    * segments map-side, and a segment already seen anywhere in the
    * stream is dropped. State is one key per distinct segment hash,
    * BOUNDED by the event-time watermark via
    * `dropDuplicatesWithinWatermark` — the engine evicts keys older
    * than the delay, so an endless crawl stream dedups within a sliding
    * horizon instead of accumulating corpus-sized state (the same
    * scope-for-state trade as [[streamingNearDupCandidates]]'s TTL).
    * Output: one row per first-seen (segment_hash, doc_id) with the
    * event time that carried it.
    */
  def streamingSegmentDedup(docs: DataFrame, idCol: String, textCol: String,
                            tsCol: String, k: Int = 8,
                            watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__w", org.apache.spark.sql.functions.split(
        lower(trim(col(textCol))), "\\s+"))
      .select(col(idCol).as("doc_id"), col(tsCol).as("event_ts"),
        explode(expr(
          s"""transform(sequence(0, cast(ceil(size(__w) / $k.0) as int) - 1),
             |          i -> md5(array_join(slice(__w, i * $k + 1, $k), ' ')))"""
            .stripMargin)).as("segment_hash"))
      .withWatermark("event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("segment_hash")

  /** Streaming per-source quota — the incremental form of the batch q87
    * per-domain cap: admit at most `n` documents per source ACROSS
    * micro-batches, emitting each admitted doc with its admission rank
    * (1-based). Once a source's quota fills, every later arrival is
    * dropped — for the rest of the run.
    *
    * The batch operator picks WHICH n by content hash (re-runnable);
    * a stream can't revisit earlier admissions, so the streaming form
    * is first-come-first-admitted — arrival order across batches,
    * docId order within a batch for determinism. State per source is
    * ONE long (the admitted count): `mapGroupsWithState` over a
    * source-keyed shuffle, state size bounded by the number of
    * distinct sources, never the corpus. No TTL — a quota is a
    * run-lifetime budget, and the state is 8 bytes/source.
    */
  def streamingSourceQuota(docs: DataFrame, idCol: String, sourceCol: String,
                           n: Int): Dataset[AdmittedDoc] = {
    require(n >= 1, s"quota must be >= 1, got $n")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(sourceCol).cast("string").as("source"),
        col(idCol).cast("long").as("docId"))
      .as[SourceDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, AdmittedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (source, rows, state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = n - admitted
          if (room <= 0) Iterator.empty
          else {
            val take = rows.map(_.docId).toArray.sorted.take(room.toInt)
            state.update(admitted + take.length)
            take.iterator.zipWithIndex.map { case (id, i) =>
              AdmittedDoc(source, id, admitted + i + 1)
            }
          }
      }
  }

  /** Streaming form of [[graft.operators.Dedup.dedupAgainst]] — the
    * daily-crawl shape: each micro-batch of documents dedups against a
    * PERSISTENT history index (parquet at `historyDir`); survivors go
    * to `sink` and are appended to the history, so later batches dedup
    * against everything that ever survived. `foreachBatch` is the right
    * vehicle because the batch operator's three tiers (exact hash
    * anti-join; history LSH bands semi-joined down to the buckets the
    * batch actually hits; in-batch near-dup clustering) are already the
    * delta-scaled shape — per-batch cost grows with the batch, not the
    * corpus, which is exactly what an endless crawl needs.
    *
    * Delivery semantics, stated not hidden: survivors are SUNK BEFORE
    * the history append, so a crash between the two re-emits the batch
    * (at-least-once sink, standard for foreachBatch) rather than
    * silently swallowing it (append-first would dedup a replayed batch
    * against its own survivors — every retry would emit nothing).
    * Duplicate history rows from a replayed append are harmless: the
    * exact tier distincts content hashes and the LSH tier distincts
    * candidates, so dedup results are unaffected.
    *
    * SMALL-FILE DISCIPLINE (r12 verdict #6): append-per-batch grows the
    * history by one parquet fragment per micro-batch FOREVER — the
    * classic streaming small-file problem (a year of 5-minute batches
    * is ~100k fragments; every batch's history scan pays the listing +
    * per-file open cost). After each append the fragment count is
    * checked and, past `maxHistoryFragments`, the history is rewritten
    * through [[compactHistory]] into target-sized files.
    */
  def streamingDedupAgainst(incoming: DataFrame, historyDir: String,
                            idCol: String, textCol: String,
                            k: Int, threshold: Double, checkpoint: String,
                            sink: DataFrame => Unit,
                            maxHistoryFragments: Int = 64): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF()
        val history = BatchState.readLog(s, historyDir,
          b.select(col(idCol), col(textCol)).schema)
        val survivors = graft.operators.Dedup
          .dedupAgainst(history, b, idCol, textCol, k, threshold)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(survivors)
          survivors.select(col(idCol), col(textCol))
            .write.mode("append").parquet(historyDir)
        } finally survivors.unpersist(blocking = false)
        compactHistory(s, historyDir, maxHistoryFragments)
        () // foreachBatch body must be Unit-typed
      }
      .start()

  /** Rewrite-compact an append-forever parquet history once it exceeds
    * `maxFragments` part files: read, rewrite into target-sized files
    * in a sibling temp dir ([[graft.operators.SizedWriter]] — the same
    * small-file tool the batch sinks use), move the compacted files in,
    * delete the old fragments. No-op (returns false) below the
    * threshold, so the steady-state per-batch cost is one directory
    * listing.
    *
    * PROBE EQUIVALENCE: history content is consumed as a SET of
    * (id, text) rows — the exact tier distincts content hashes, the
    * LSH tier distincts candidates — so rewriting the same rows into
    * fewer files cannot change any dedup/probe result
    * (DocStreamsSpec pins compaction parity row-for-row).
    *
    * CRASH SAFETY by duplicate tolerance, same argument as the
    * sink-before-append ordering above: compacted files land (from a
    * COMPLETED temp write) before any old fragment is deleted, so a
    * crash at any point leaves a row SUPERSET — transient duplicates
    * the tiers already absorb, cleaned by the next compaction (the
    * rewrite applies `.distinct()`, so duplicate rows a crash left
    * behind really are collapsed the next time the threshold trips) —
    * never a loss. Hadoop `FileSystem.rename` signals failure by
    * returning FALSE (destination exists, quota, cross-FS move), not
    * by throwing, so every rename's result is checked: if any move
    * fails the compaction aborts with old fragments and the temp dir
    * intact, and NOTHING is deleted — old fragments are removed only
    * after all compacted files verifiably landed.
    */
  def compactHistory(spark: org.apache.spark.sql.SparkSession,
                     historyDir: String, maxFragments: Int,
                     targetFileBytes: Long = 128L << 20): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(historyDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return false
    def parts() = fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val old = parts()
    if (old.length <= maxFragments) return false
    val tmp = new org.apache.hadoop.fs.Path(historyDir + "__compact_tmp")
    fs.delete(tmp, true)
    graft.operators.SizedWriter.writeSized(
      spark.read.parquet(historyDir).distinct(), tmp.toString, targetFileBytes)
    val moved = fs.listStatus(tmp)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map { st =>
        fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dir, st.getPath.getName))
      }
    if (moved.exists(ok => !ok)) {
      Log.warn(s"history compaction aborted: ${moved.count(!_)} rename(s) " +
        s"into $historyDir returned false; leaving old fragments and $tmp in place")
      return false
    }
    old.foreach(st => fs.delete(st.getPath, false))
    fs.delete(tmp, true)
    true
  }

  /** Streaming form of
    * [[graft.operators.Dedup.evalSubstringCut]] — the decontamination
    * GATE a crawl-ingest pipeline runs before anything reaches the
    * training corpus: each micro-batch of documents is probed against
    * a STATIC eval/benchmark corpus and the exact char spans
    * overlapping any eval doc in a run of ≥ `minLen` chars are emitted
    * to `sink` (one DataFrame of (idCol, cut_start, cut_end) per
    * batch; empty when the batch is clean — the common case, and the
    * cheap one: the probe is a map-side broadcast semi join, so a
    * clean batch costs one scan of itself).
    *
    * The eval gram set is built and persisted ONCE, before the stream
    * starts ([[graft.operators.Dedup.evalGramSet]] — benchmarks are
    * static for the life of a crawl run), so per-batch cost is the
    * batch's own gram pass + the broadcast probe: delta-scaled, like
    * [[streamingDedupAgainst]], but with NO growing history — the
    * reference set never changes, which is why this is a `foreachBatch`
    * over a cached table rather than a stateful operator (there is no
    * cross-batch state to keep). Per-doc results depend only on the
    * doc and the static eval set, so batch boundaries cannot change
    * any cut (DocStreamsSpec pins batch-vs-streaming parity).
    *
    * Lifecycle: the cached gram set lives until the stream stops; the
    * returned query's termination listener unpersists it, so callers
    * just `stop()` as usual.
    */
  def streamingEvalDecontaminate(incoming: DataFrame, evalDocs: DataFrame,
                                 idCol: String, textCol: String, minLen: Int,
                                 checkpoint: String,
                                 sink: DataFrame => Unit): StreamingQuery = {
    val spark = evalDocs.sparkSession
    val fps = graft.operators.Dedup.evalGramSet(evalDocs, textCol, minLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fps.count() // materialize before the first batch, not during it
    val query = incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(graft.operators.Dedup.evalSubstringCutAgainst(
          fps, batch.toDF(), idCol, textCol, minLen))
        ()
      }
      .start()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            fps.unpersist(blocking = false)
            spark.streams.removeListener(this)
          }
      })
    query
  }

  /** Streaming cluster-share monitor — the drift detector a serving
    * pipeline runs over incoming embeddings: each vector is routed to
    * its nearest trained centroid ([[graft.operators.KMeans.assign]] —
    * map-only, the k×d matrix rides inside the codegen expression, no
    * shuffle per row beyond the k-group count), and the running
    * per-cluster counts are a streaming aggregation whose state is
    * exactly k rows. When the share vector walks away from the
    * training distribution, the upstream data has drifted and the
    * model (or the corpus mix) needs refitting. Write with update or
    * complete mode.
    */
  def streamingClusterCounts(vectors: DataFrame,
                             model: graft.operators.KMeans.Model,
                             idCol: String, embCol: String): DataFrame =
    graft.operators.KMeans.assign(vectors, model, idCol, embCol)
      .groupBy("cluster_id").count()

  /** Streaming ANN serving against a PERSISTED IVF index
    * ([[graft.operators.Similarity.saveIvfIndex]]'s layout): returns
    * the `foreachBatch` body that routes each micro-batch of query
    * vectors through [[graft.operators.Similarity.searchIvfBatch]].
    * The index handle is loaded ONCE (the centroid matrix is k×d
    * driver state; the lists stay a lazy parquet scan), so every batch
    * pays only its own probe-pruned list reads — over the partitioned
    * layout that is a per-batch directory-pruned scan, the stream-
    * static join shape Structured Streaming expects. searchIvfBatch's
    * window/heap plan is why this is a foreachBatch body rather than a
    * direct stream transform: per-query top-k over an unbounded stream
    * plan is not expressible without a watermark, and a search request
    * is complete the moment its batch is.
    */
  def annSearchBatcher(spark: SparkSession, indexPath: String, k: Int,
                       nProbe: Int = 4): DataFrame => DataFrame = {
    val index = graft.operators.Similarity.loadIvfIndex(spark, indexPath)
    // excludeSelf = false: external query ids share no namespace with
    // corpus vec_ids, so an id collision is coincidence, not identity —
    // dropping the colliding corpus row would silently lose a neighbor
    batch => graft.operators.Similarity.searchIvfBatch(
      index, batch, k, nProbe, excludeSelf = false)
  }

  /** Streaming near-dup cluster MAINTENANCE: each micro-batch of new
    * edges (e.g. verified pairs from [[streamingNearDupCandidates]] or
    * an [[graft.operators.LshIndex]] probe) merges into a persistent
    * (id, label) clustering via [[graft.operators.IncrementalCC]] —
    * per batch, one batch-sized join against the label state and a
    * batch-neighborhood-sized CC; the full graph is never re-iterated.
    * After every batch the state parquet holds exactly
    * `cc(all edges so far)` (pinned in DocStreamsSpec against the full
    * recompute).
    *
    * Storage: every checkpoint a batch creates (the batch's edges, the
    * merged state and the merge's own) is freed by a
    * [[graft.operators.Checkpoints.scope]] once the state write
    * commits, so executor storage does not grow with the batch count.
    * `sink` must therefore materialize the frame inside the call, as
    * `foreachBatch` already requires.
    */
  def streamingClusterMaintenance(incomingEdges: DataFrame, stateDir: String,
                                  checkpoint: String)
                                 (sink: DataFrame => Unit): StreamingQuery =
    incomingEdges.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        graft.operators.Checkpoints.scope(s) {
          BatchState.advance(s, stateDir, batchId) { prior =>
            val edges = batch.toDF().select(col("src"), col("dst"))
              .localCheckpoint()
            val newVerts = edges.select(col("src").as("id"))
              .unionByName(edges.select(col("dst").as("id"))).distinct()
            graft.operators.IncrementalCC.merge(
              prior.getOrElse(Seq.empty[(Long, Long)].toDF("id", "label")),
              edges, newVerts).localCheckpoint()
          } { (_, merged) => sink(merged.withColumn("batch_id", lit(batchId))) }
        }
      }
      .start()

  /** Streaming near-dup serving against a PERSISTED MinHash-LSH index
    * ([[graft.operators.LshIndex]]'s layout) — the streaming face of
    * the daily-crawl lifecycle: the reference corpus's banded
    * signatures are built once; each micro-batch of incoming docs
    * probes them (static hit-dir partition pruning + bucket semi-join
    * + exact-Jaccard verify, all per batch). The index handle loads
    * ONCE (hash parameters from the sidecar; the bucket table stays a
    * lazy pruned scan); `refDocs` is the static verification corpus.
    * foreachBatch body for the same reason as [[annSearchBatcher]]:
    * a probe is complete the moment its batch is.
    */
  def lshProbeBatcher(spark: SparkSession, indexPath: String,
                      refDocs: DataFrame, idCol: String, textCol: String,
                      threshold: Double): DataFrame => DataFrame = {
    val index = graft.operators.LshIndex.load(spark, indexPath)
    batch => graft.operators.LshIndex.probe(
      index, refDocs, batch, idCol, textCol, threshold)
  }

  /** Score documents against a bigram MLE model `(w1, w2, c2)` — the
    * q86 scoring half factored out so a stream can score each batch
    * against a model built from EARLIER data. Returns one row per doc:
    * (doc_id, avg_neg_logp2 rounded to 4, n_bigrams, n_known); the
    * average runs over the bigrams the model knows (LEFT join — unseen
    * pairs count toward n_bigrams only), and is NULL when none are
    * known. Same scale shape as q86: map-side pair formation, a
    * bigram-keyed hash join bounded by the model vocabulary, broadcast
    * prefix totals.
    */
  def bigramScore(docs: DataFrame, model: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("doc_id"),
        split(lower(trim(col(textCol))), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val prefix = model.groupBy("w1").agg(sum("c2").as("c1"))
    pairs
      .join(model.join(broadcast(prefix), "w1"), Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(round(avg(-log(col("c2").cast("double") / col("c1").cast("double"))), 4)
          .as("avg_neg_logp2"),
        count(lit(1)).as("n_bigrams"),
        count(col("c2")).as("n_known"))
  }

  /** The bigram model's log layout: one (w1, w2, c2) row per pair per
    * appended batch; reads sum c2 by pair.
    */
  private val BigramModelSchema =
    new StructType().add("w1", "string").add("w2", "string").add("c2", "long")

  /** Streaming bigram-perplexity quality gate — the incremental form of
    * the batch q86 filter (CCNet's band cut): each micro-batch is
    * scored against a PERSISTENT bigram model (parquet at `modelDir`)
    * built from earlier batches, docs outside `[lo, hi]` are rejected,
    * and (when `updateModel`) the ADMITTED docs' bigram counts are
    * appended to the model — admitted-only, so rejected spam never
    * reinforces the model toward itself. A doc whose text shares fewer
    * than `minKnown` bigrams with the model is admitted by default
    * (cold start: the first batches have nothing to judge against; a
    * curated seed corpus can be pre-written to `modelDir` to close
    * that window).
    *
    * The sink receives every incoming doc with `avg_neg_logp2`,
    * `n_bigrams`, `n_known`, and the `admitted` verdict — routing
    * rejects to a quarantine table is the caller's one-line filter.
    *
    * Model reads aggregate the append-only parquet (`sum(c2)` by
    * pair), so appends need no read-modify-write; compact the
    * directory offline when file count grows. Sink-before-append
    * (the [[streamingDedupAgainst]] rule): a crash between the two
    * re-emits the batch rather than swallowing it; a replayed append
    * double-counts that batch's pairs — both c2 and the c1 prefix
    * totals inflate together, so scores drift far less than counts,
    * and the gate's band has slack by construction.
    */
  def streamingBigramGate(incoming: DataFrame, modelDir: String,
                          idCol: String, textCol: String,
                          lo: Double, hi: Double, minKnown: Int,
                          checkpoint: String,
                          updateModel: Boolean = true)
                         (sink: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF()
        val model = BatchState.readLog(s, modelDir, BigramModelSchema)
          .groupBy("w1", "w2").agg(sum("c2").as("c2"))
        val scores = bigramScore(b, model, idCol, textCol)
        val scored = b
          .join(scores, b(idCol) === scores("doc_id"), "left")
          .drop(scores("doc_id"))
          .withColumn("n_known", coalesce(col("n_known"), lit(0L)))
          .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
          .withColumn("admitted",
            col("n_known") < minKnown ||
              col("avg_neg_logp2").between(lo, hi))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(scored)
          if (updateModel) {
            val admitted = scored.filter(col("admitted"))
            admitted
              .select(split(lower(trim(col(textCol))), "\\s+").as("w"))
              .filter(size(col("w")) >= 2)
              .select(explode(zip_with(
                slice(col("w"), lit(1), size(col("w")) - 1),
                slice(col("w"), lit(2), size(col("w")) - 1),
                (a, b2) => struct(a.as("w1"), b2.as("w2")))).as("bg"))
              .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
              .agg(count(lit(1)).as("c2"))
              .write.mode("append").parquet(modelDir)
          }
        } finally scored.unpersist(blocking = false)
      }
      .start()

  /** Streaming trending-terms monitor — cross-batch heavy hitters over
    * an unbounded token stream, the streaming form of q71's
    * Misra–Gries shape: each micro-batch builds a DISTRIBUTED MG
    * sketch (the [[graft.functions.MisraGries]] native aggregate —
    * map-side partial sketches, one `width`-bounded map to the
    * driver), which merges into a persistent cross-batch sketch via
    * the mergeable-summaries merge (Agarwal et al., PODS'12 — the
    * SAME `merge` the aggregate uses internally, so the cross-batch
    * bound is the single-pass bound: for every term,
    * `true − N/(width−1) ≤ est ≤ true` over the whole stream so far).
    * The sink receives each batch's top-`topK` terms by estimate with
    * their ranks, tagged with the batch id — the "what is trending in
    * the crawl TODAY" feed a curation dashboard polls.
    *
    * State is the sketch itself: ≤ `width−1` (term, est) rows at
    * `stateDir`, regardless of stream length — never vocab-sized.
    */
  def streamingTrendingTerms(incoming: DataFrame, stateDir: String,
                             textCol: String, width: Int, topK: Int,
                             checkpoint: String)
                            (sink: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        BatchState.advance(s, stateDir, batchId) { prior =>
          val row = batch.toDF()
            .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
            .agg(graft.functions.MisraGries(s, col("tok"), width).as("mg"))
            .collect()(0)
          val batchSketch =
            if (row.isNullAt(0)) Map.empty[String, Long]
            else row.getMap[String, Long](0).toMap
          // Reuse the aggregate's own merge so the cross-batch trim is
          // bit-for-bit the algorithm the bound is proved for.
          val merger = graft.functions.MisraGries(
            org.apache.spark.sql.catalyst.expressions.Literal("x"), width)
          merger.merge(
            scala.collection.mutable.HashMap.from(
              prior.fold(Map.empty[String, Long])(_.as[(String, Long)].collect().toMap)),
            scala.collection.mutable.HashMap.from(batchSketch))
            .toSeq.toDF("term", "est").coalesce(1)
        } { (_, merged) =>
          val top = merged.as[(String, Long)].collect()
            .sortBy { case (t, c) => (-c, t) }.take(topK)
          sink(top.toSeq.zipWithIndex
            .map { case ((t, c), i) => (batchId, (i + 1).toLong, t, c) }
            .toDF("batch_id", "rank", "term", "est_count"))
        }
      }
      .start()

  /** Streaming Count-Min frequency state: each micro-batch builds ONE
    * [[graft.functions.CountMin]] sketch (d·w longs through the
    * exchange, never the token universe) and elementwise-ADDS it into a
    * persistent sketch. Because CMS merge is a plain commutative sum —
    * unlike [[streamingTrendingTerms]]'s Misra–Gries state, whose
    * trim-on-merge makes estimates batch-boundary-dependent — the
    * persistent sketch after ANY batch split is bit-identical to the
    * one-pass batch sketch over the same rows (pinned in
    * DocStreamsSpec), so whole-stream point estimates keep the exact
    * single-pass CMS guarantee. The sink receives per-batch estimates
    * for the caller's watch-list of keys (the production shape: point
    * lookups against 16 KB of state, no count table).
    */
  def streamingCmsCounts(incoming: DataFrame, stateDir: String,
                         textCol: String, depth: Int, width: Int,
                         watch: Seq[String], checkpoint: String)
                        (sink: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        def cells(state: DataFrame): Array[Long] = {
          val sketch = state.as[(Int, Long)].collect().sortBy(_._1).map(_._2)
          // a depth/width change vs the run that wrote the state would
          // silently misread cells and corrupt every later estimate —
          // fail with the shape instead
          require(sketch.length == depth * width,
            s"CMS state at $stateDir has ${sketch.length} cells; this run " +
              s"expects depth*width = ${depth * width} — was the state " +
              "written with different dimensions?")
          sketch
        }
        BatchState.advance(s, stateDir, batchId) { prior =>
          val row = batch.toDF()
            .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
            .agg(graft.functions.CountMin(s, col("tok"), depth, width).as("cms"))
            .collect()(0)
          val batchSketch: Array[Long] =
            if (row.isNullAt(0)) new Array[Long](depth * width)
            else row.getSeq[Long](0).toArray
          val p = prior.fold(new Array[Long](depth * width))(cells)
          p.indices.map(i => (i, p(i) + batchSketch(i)))
            .toDF("cell", "count").coalesce(1)
        } { (_, merged) =>
          val sketch = cells(merged)
          sink(watch.map { k =>
            (batchId, k, graft.functions.CountMin.estimate(sketch, k, depth, width))
          }.toDF("batch_id", "token", "est_count"))
        }
      }
      .start()

  /** `stateTtl`: evict a bucket's occupants after this much processing
    * time without new arrivals. None = keep forever (drain-style runs,
    * e.g. Trigger.AvailableNow over a bounded backlog); endless streams
    * MUST set a TTL or bucket state grows with corpus size — dedup scope
    * becomes "documents seen within the TTL", the standard trade.
    */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
                                 k: Int, estThreshold: Double,
                                 numPerms: Int = 128, bands: Int = 32,
                                 stateTtl: Option[java.time.Duration] = None)
      : Dataset[NearDupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigUdf = udf { text: String =>
      Hashing.minhashSignature(
        Hashing.shingleSet(text, k).map(Hashing.stringHash64), numPerms)
    }
    val banded = docs
      .select(col(idCol).cast("long").as("docId"), sigUdf(col(textCol)).as("sig"))
      .select(explode(udf { sig: Seq[Long] =>
        Hashing.bandBuckets(sig.toArray, bands)
      }.apply(col("sig"))).as("bucket"), col("docId"), col("sig"))
      .as[BucketDoc]

    def estJaccard(a: Array[Long], b: Array[Long]): Double = {
      var same = 0
      var i = 0
      while (i < a.length) { if (a(i) == b(i)) same += 1; i += 1 }
      same.toDouble / a.length
    }

    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[List[(Long, Array[Long])], NearDupCandidate](
        OutputMode.Append, timeout) {
        case (_, rows, state: GroupState[List[(Long, Array[Long])]]) =>
          if (state.hasTimedOut) {
            state.remove() // bucket idle past TTL: evict its occupants
            Iterator.empty
          } else {
            val prior = state.getOption.getOrElse(Nil)
            // stable order so within-batch pairs emit deterministically
            val fresh = rows.toList.sortBy(_.docId)
            val out = scala.collection.mutable.ListBuffer.empty[NearDupCandidate]
            var i = 0
            while (i < fresh.length) {
              val d = fresh(i)
              // against earlier batches' occupants...
              prior.foreach { case (pid, psig) =>
                if (pid != d.docId) {
                  val est = estJaccard(d.sig, psig)
                  if (est >= estThreshold)
                    out += NearDupCandidate(math.min(pid, d.docId),
                      math.max(pid, d.docId), est)
                }
              }
              // ...and within this batch (j < i only — no double emission)
              var j = 0
              while (j < i) {
                val e = fresh(j)
                if (e.docId != d.docId) {
                  val est = estJaccard(d.sig, e.sig)
                  if (est >= estThreshold)
                    out += NearDupCandidate(math.min(e.docId, d.docId),
                      math.max(e.docId, d.docId), est)
                }
                j += 1
              }
              i += 1
            }
            // replace-by-id, don't append: a re-delivered/updated doc must
            // not leave a stale signature matching forever, and repeated
            // re-delivery must not grow state beyond bucket occupancy
            val freshIds = fresh.map(_.docId).toSet
            state.update(prior.filterNot(p => freshIds(p._1))
              ++ fresh.map(d => d.docId -> d.sig))
            stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
            out.iterator
          }
      }
  }

  /** Streaming embedding near-dup — the vector analogue of
    * [[streamingNearDupCandidates]] with one important difference: the
    * state payload IS the embedding, so the in-state verify is the EXACT
    * cosine (same left-to-right double fold as the batch
    * CosineSimilarity expression — bit-identical values), not an
    * estimate. Recall is governed by the hyperplane banding exactly as
    * in `Dedup.embedNearDupLsh` (math in Hashing.hyperplaneBandBuckets);
    * pairs sharing several bands emit once per shared band — dedup
    * downstream with `dropDuplicates("vec_a","vec_b")`. Pick
    * (bitsPerBand, bands) with `Dedup.bandingFor(threshold)` when the
    * threshold is separable (≳0.7); below that no banding prunes
    * (see Dedup.embedNearDup) and streaming exactness would need a
    * single all-pairs bucket whose state is the whole corpus — prefer
    * periodic batch sweeps there.
    */
  def streamingEmbedNearDup(vectors: DataFrame, idCol: String, embCol: String,
                            threshold: Double, bitsPerBand: Int = 4,
                            bands: Int = 64,
                            stateTtl: Option[java.time.Duration] = None)
      : Dataset[EmbedNearDup] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val banded = vectors
      .select(col(idCol).cast("long").as("vecId"), col(embCol).as("emb"))
      .select(explode(udf { v: Seq[Float] =>
        Hashing.hyperplaneBandBuckets(v, bitsPerBand, bands)
      }.apply(col("emb"))).as("bucket"), col("vecId"), col("emb"))
      .as[BucketVec]

    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[List[(Long, Array[Float])], EmbedNearDup](
        OutputMode.Append, timeout) {
        case (_, rows, state: GroupState[List[(Long, Array[Float])]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption.getOrElse(Nil)
            val fresh = rows.toList.sortBy(_.vecId)
            val out = scala.collection.mutable.ListBuffer.empty[EmbedNearDup]
            var i = 0
            while (i < fresh.length) {
              val d = fresh(i)
              prior.foreach { case (pid, pemb) =>
                if (pid != d.vecId) {
                  val c = cosine(d.emb, pemb)
                  if (c >= threshold)
                    out += EmbedNearDup(math.min(pid, d.vecId),
                      math.max(pid, d.vecId), c)
                }
              }
              var j = 0
              while (j < i) {
                val e = fresh(j)
                if (e.vecId != d.vecId) {
                  val c = cosine(d.emb, e.emb)
                  if (c >= threshold)
                    out += EmbedNearDup(math.min(e.vecId, d.vecId),
                      math.max(e.vecId, d.vecId), c)
                }
                j += 1
              }
              i += 1
            }
            // replace-by-id (see streamingNearDupCandidates): stale
            // embeddings must not survive a re-delivery
            val freshIds = fresh.map(_.vecId).toSet
            state.update(prior.filterNot(p => freshIds(p._1))
              ++ fresh.map(d => d.vecId -> d.emb))
            stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
            out.iterator
          }
      }
  }
}

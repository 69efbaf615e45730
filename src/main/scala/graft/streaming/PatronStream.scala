package graft.streaming

import graft.operators.Checkpoints
import graft.pipeline.{AvroSink, PatronPipeline, PipelineMode, Schemas}
import org.apache.spark.sql.{DataFrame, SessionBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's hand-written micro-batch loop
  * (lib/pipeline_controller.py:90-125), expressed natively in Structured
  * Streaming (SURVEY §2.9 mapping):
  *
  *  - ST1 trigger loop      → `Trigger.AvailableNow()` (drain-then-stop,
  *                            matching "poll until a short batch")
  *  - ST2 S3 offset JSON    → `checkpointLocation` offset/commit log
  *  - ST3 watermark advance → engine-managed source offsets
  *  - ST4 processed_ids set → run-scoped seen keys: a parquet key set
  *                            beside the checkpoint, one subdir per
  *                            `runId`, applied as a left-anti join
  *                            ([[PatronPipeline.filterUnseen]]) — the
  *                            reference's per-run set lifetime
  *  - ST5 upper time bound  → AvailableNow snapshot semantics
  *  - ST6 stall guard       → owned by the source (see below)
  *  - ST8 batch-size bounds → source rate options (e.g.
  *                            maxFilesPerTrigger / maxOffsetsPerTrigger)
  *
  * ST6 ownership (intentional deviation from the reference's guard,
  * lib/pipeline_controller.py:150-162): the reference stalls on ANY full
  * batch sharing one timestamp because its next `>=` scan would loop.
  * Here [[graft.sources.PollingSource]] polls `limit+1` rows and fails
  * the query only when a watermark group alone exceeds the page (the one
  * case its strict-`>` offset genuinely cannot advance past), so a
  * legitimate final full page whose rows share one watermark is
  * delivered; file/Kafka sources define batches by offsets that always
  * advance.
  *
  * O1 (three sequential modes sharing one dedup scope): modes are unioned
  * into ONE mode-tagged stream filtered against one seen-key set — the
  * Spark-native equivalent of the reference's instance-level
  * `processed_ids` shared across its three sequential runs (SURVEY §7.4
  * risk 5). A patron in several modes' windows is emitted once, by the
  * highest-priority mode (NEW < UPDATED < DELETED in arrival order is the
  * reference's sequential behavior; priority here is the `__mode_rank`
  * tag, the first key of the batch's one `dedupKeepFirst`, which leaves
  * one row per patron for the mode branches).
  *
  * Lifetimes: the micro-batch is the unit of both work and storage (the
  * foreachBatch model of the Structured Streaming paper). Its body runs
  * inside one [[Checkpoints.scope]]; every frame that more than one
  * action reads (the deduplicated batch here, the hashed and
  * post-cascade frames in [[PatronPipeline]]) is materialized once with
  * [[Checkpoints.fresh]] and freed when the batch's writes end. One scan
  * of the materialized batch names the modes present, so an absent mode
  * costs no job, and the modes' outputs go to the sink in one write.
  * The batch runs as the CALLER's session (the session of the frames
  * passed to `runAll`), not as the stream's. Each query runs in a clone
  * of its session with a fresh session id, and a local executor keeps
  * one class loader per session id. Spark's codegen cache is keyed on
  * (class loader, code), so a batch run as the clone compiles every
  * executor-side class again on every drain. Rebasing the batch's rows
  * into the caller's session and running the body under that session's
  * artifact state puts every job it submits, SQL or plain RDD action,
  * under one stable loader: a drain after the first in the same JVM
  * compiles nothing new, as long as the batch's classes fit the codegen
  * cache (`PatronCallCountSpec` pins both).
  */
object PatronStream {

  /** Run all three modes as ONE streaming query over mode-tagged unioned
    * sources, with a single global dropDuplicates — the Spark-native form
    * of the reference's shared `processed_ids` across its three sequential
    * runs (O1; SURVEY §7.4 risk 5): a patron appearing in several modes'
    * windows is emitted exactly once. Mode priority at equal keys follows
    * the reference's sequential order (NEW first) via min(mode_rank)
    * pre-aggregation inside each micro-batch plus the cross-batch state.
    *
    * `newStream`/`updatedStream` carry the Sierra active schema;
    * `deletedStream` the 2-column deleted schema (padded to match).
    */
  def runAll(newStream: DataFrame, updatedStream: DataFrame,
             deletedStream: DataFrame, deps: PatronPipeline.Deps,
             checkpointDir: String, sink: AvroSink.RecordSink,
             schemaJson: String = Schemas.patronInfoAvroJson,
             runId: String = java.util.UUID.randomUUID().toString): StreamingQuery = {
    def tag(df: DataFrame, rank: Int) =
      PatronPipeline.withCanonicalId(df).withColumn("__mode_rank", lit(rank))
    val unioned = tag(newStream, 0)
      .unionByName(tag(updatedStream, 1), allowMissingColumns = true)
      .unionByName(tag(deletedStream, 2), allowMissingColumns = true)
    // Seen-keys state lives as parquet beside the checkpoint (the
    // reference's `processed_ids` set, but distributed: the unseen filter
    // is a left-anti join, not a driver-side set). Stream-level
    // dropDuplicates can't express mode priority — it would keep an
    // arbitrary mode's row when one patron lands in two modes in the same
    // micro-batch. The set is RUN-scoped (a fresh subdir per `runId`),
    // matching the reference's `processed_ids` lifetime
    // (lib/pipeline_controller.py:74): the poller watermark persists in
    // the checkpoint across runs, but a patron re-updated in a LATER run
    // is re-emitted. Stale run subdirs are bounded by run count, not data.
    val seenPath = s"$checkpointDir/seen_keys/run_$runId"
    val caller = newStream.sparkSession
    unioned.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (microBatch: DataFrame, _: Long) =>
        // The whole batch runs as the caller's session: its rows rebased,
        // every job under its artifact state (see the class doc). Every
        // checkpoint the batch creates is freed once its writes end.
        SessionBridge.withResources(caller)(Checkpoints.scope(caller) {
          val batch = SessionBridge.rebase(caller, microBatch)
          // Only a MISSING state dir means "first run, nothing seen" — any
          // other failure (corrupt files, transient IO) must fail the batch,
          // or processed patrons would silently re-emit.
          val seen =
            try caller.read.parquet(seenPath)
            catch {
              case e: org.apache.spark.sql.AnalysisException
                  if e.getCondition == "PATH_NOT_FOUND" =>
                caller.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("patron_id_plaintext",
                      org.apache.spark.sql.types.StringType))))
            }
          // within a batch: highest-priority mode wins (NEW < UPDATED <
          // DELETED — the reference's sequential run order); at equal mode,
          // the lowest (display_order, patron_record_address_type_id)
          // address row survives (the reference's SQL-order keep='first',
          // helpers/query_helper.py:30). Deleted rows carry nulls there
          // (2-col schema padded by unionByName) — nulls sort last.
          // Materialized once: the mode census, each mode's branch and the
          // seen-key append all read it.
          val best = Checkpoints.fresh(PatronPipeline.dedupKeepFirst(
            PatronPipeline.filterUnseen(batch, seen),
            col("__mode_rank") +: PatronPipeline.addressPriority))
          val rank = best.schema.fieldIndex("__mode_rank")
          val modes = Checkpoints.rows(best)
            .mapPartitions(_.map(_.getInt(rank)).toSet.iterator).collect().toSet
          def ofMode(r: Int) = best.filter(col("__mode_rank") === r)
          val outputs = Seq(
            Option.when(modes(0))(PatronPipeline.processActivePatrons(ofMode(0),
              PipelineMode.NewPatrons, deps)),
            Option.when(modes(1))(PatronPipeline.processActivePatrons(ofMode(1),
              PipelineMode.UpdatedPatrons, deps)),
            Option.when(modes(2))(PatronPipeline.processDeletedPatrons(
              ofMode(2).select("patron_id_plaintext", "deletion_date_et"), deps))).flatten
          if (outputs.nonEmpty) {
            // one write over the modes' outputs: the union keeps each
            // mode's partitions, so the sink sees the same chunks
            AvroSink.write(outputs.reduce(_ union _), sink, schemaJson = schemaJson)
            // one file per batch, not one per shuffle partition: the key
            // set is bounded by the batch size, and an append-only state
            // dir otherwise accumulates numPartitions small files per
            // micro-batch — the classic small-files leak on long runs
            best.select("patron_id_plaintext")
              .coalesce(1).write.mode("append").parquet(seenPath)
          }
        })
      }
      .start()
  }
}

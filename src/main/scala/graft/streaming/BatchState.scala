package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Cross-batch state of a `foreachBatch` operator: how it is stored,
  * read, committed and replayed.
  *
  *  - SNAPSHOT state (a sketch, a clustering, a view) is rewritten whole
  *    every batch as `<dir>/v<batchId>`. A version is committed only when
  *    it holds Spark's `_SUCCESS` marker, which the committer writes last;
  *    any other `v<n>` is an unfinished write and is never read. A new
  *    version never overwrites the one it merges from, so a failed write
  *    fails the batch and keeps the prior state.
  *  - LOG state (a dedup history, appended counts) is append-only parquet
  *    at `<dir>` itself, read with [[readLog]]; the operator owns its
  *    append and its at-least-once contract.
  *
  * Replay follows the Structured Streaming paper's recovery contract (a
  * replayed micro-batch leaves the same state and sink output as an
  * uninterrupted run): a crash after `v<batchId>` commits but before the
  * streaming checkpoint does re-delivers that batchId, and [[advance]]
  * then emits from the committed `v<batchId>` and its predecessor (which
  * is why cleanup keeps the predecessor) instead of merging again.
  *
  * Listing and deleting use the Hadoop `FileSystem` of the session's
  * configuration, so any Hadoop path works. A missing dir is "no state
  * yet"; anything else unexpected throws, never reads as empty state.
  */
object BatchState {

  /** A snapshot state dir with files at its top level: the flat layout
    * that was overwritten in place. Never read as empty state.
    */
  final class FlatLayoutException(dir: String) extends IllegalStateException(
    s"state dir $dir holds files at its top level (the flat, overwrite-in-place " +
      "layout); snapshot state lives in <dir>/v<batchId> versions. Move or " +
      "delete the dir to start from empty state.")

  private val Version = "v(\\d+)".r

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every `v<n>` dir under `dir` as (n, committed), ascending. */
  private def versions(spark: SparkSession, dir: String): Seq[(Long, Boolean)] = {
    val root = new Path(dir)
    val f = fs(spark, root)
    if (!f.exists(root)) return Nil
    val entries = f.listStatus(root).toSeq
    if (entries.exists(_.isFile)) throw new FlatLayoutException(dir)
    entries.filter(_.isDirectory).map(_.getPath).collect {
      case p if Version.matches(p.getName) =>
        p.getName.tail.toLong -> f.exists(new Path(p, "_SUCCESS"))
    }.sortBy(_._1)
  }

  /** The committed versions of the snapshot state at `dir`, ascending. */
  def committed(spark: SparkSession, dir: String): Seq[Long] =
    versions(spark, dir).collect { case (n, true) => n }

  private def read(spark: SparkSession, dir: String, n: Long): DataFrame =
    spark.read.parquet(s"$dir/v$n")

  /** The newest committed version of the snapshot state at `dir`. */
  def latest(spark: SparkSession, dir: String): Option[DataFrame] =
    committed(spark, dir).lastOption.map(read(spark, dir, _))

  /** One batch of snapshot state at `dir`: `merge` the batch onto the
    * newest committed version below `batchId` (None on the first batch),
    * or on a replay take the committed `v<batchId>`; `emit(prior, merged)`
    * to the sink; commit `merged` as `v<batchId>`; delete the versions
    * older than the prior one and every uncommitted one. `merged` is
    * read by `emit` and then written, so an expensive merge returns a
    * materialized frame.
    */
  def advance(spark: SparkSession, dir: String, batchId: Long)
             (merge: Option[DataFrame] => DataFrame)
             (emit: (Option[DataFrame], DataFrame) => Unit): Unit = {
    val all = versions(spark, dir)
    val done = all.collect { case (n, true) => n }
    val priorId = done.filter(_ < batchId).lastOption
    val prior = priorId.map(read(spark, dir, _))
    val replay = done.contains(batchId)
    val merged = if (replay) read(spark, dir, batchId) else merge(prior)
    emit(prior, merged)
    val root = new Path(dir)
    if (!replay) {
      merged.write.mode("overwrite").parquet(s"$dir/v$batchId")
      if (!fs(spark, root).exists(new Path(root, s"v$batchId/_SUCCESS")))
        throw new IllegalStateException(s"state version $dir/v$batchId has no " +
          "_SUCCESS marker and can never count as committed; keep " +
          "mapreduce.fileoutputcommitter.marksuccessfuljobs at its default (true)")
    }
    all.foreach { case (n, ok) =>
      if (n != batchId && (!ok || priorId.exists(n < _)))
        fs(spark, root).delete(new Path(root, s"v$n"), true)
    }
  }

  /** Append-only LOG state at `dir` read with `schema`: empty only when
    * `dir` does not exist, so an unreadable dir fails the batch instead
    * of passing as "nothing seen yet".
    */
  def readLog(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (fs(spark, new Path(dir)).exists(new Path(dir))) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(java.util.List.of[Row](), schema)
}

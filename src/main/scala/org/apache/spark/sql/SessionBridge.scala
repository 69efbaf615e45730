package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The three `private[sql]` session APIs graft needs, in the package
  * that can see them (the DatasetFactory pattern):
  *  - a frame over an `RDD[InternalRow]` with no Row encoder on either
  *    side, so no deserializer or serializer projection is generated;
  *  - a foreachBatch micro-batch rebased into another session;
  *  - a body run under a session's artifact state, which names the
  *    executor class loader every job it submits runs under.
  */
object SessionBridge {

  /** `rows` as a frame of `spark`: a stats-free `LogicalRDD` over
    * exactly that RDD.
    */
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    castToImpl(spark).internalCreateDataFrame(rows, schema)

  /** The same rows as `batch` (a ForeachBatchSink micro-batch, whose
    * plan is one `LogicalRDD`), as a frame of `spark`.
    */
  def rebase(spark: SparkSession, batch: DataFrame): DataFrame =
    batch.queryExecution.analyzed match {
      case lr: LogicalRDD => frame(spark, lr.rdd, batch.schema)
      case other => throw new IllegalStateException(
        s"expected a foreachBatch micro-batch over one LogicalRDD, got ${other.nodeName}")
    }

  /** Run `body` with `spark`'s artifact state active, so every job it
    * submits, SQL or plain RDD action, carries that session's id.
    */
  def withResources[T](spark: SparkSession)(body: => T): T =
    castToImpl(spark).artifactManager.withResources(body)
}

package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The foreachBatch state protocol: only committed versions are read, a
  * failed commit never costs the prior state, and a state dir that
  * cannot be read fails instead of passing as empty.
  */
class BatchStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def values(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  /** One batch that appends `add` to the prior state; returns the prior
    * and merged values that the emit step saw.
    */
  private def step(dir: String, batchId: Long, add: Long*): (Set[Long], Set[Long]) = {
    import spark.implicits._
    var seen = (Set.empty[Long], Set.empty[Long])
    BatchState.advance(spark, dir, batchId) { prior =>
      val rows = add.toSeq.toDF("v")
      prior.fold(rows)(_.union(rows))
    } { (prior, merged) => seen = (prior.fold(Set.empty[Long])(values), values(merged)) }
    seen
  }

  test("a version without _SUCCESS is ignored and the batch merges onto its predecessor") {
    import spark.implicits._
    val dir = tmpDir("batchstate-partial")
    assert(step(dir, 0L, 1L, 2L) == (Set.empty[Long], Set(1L, 2L)))
    // a crash during the v1 write: data files but no _SUCCESS marker
    Seq(99L).toDF("v").write.parquet(s"$dir/v1")
    new java.io.File(s"$dir/v1/_SUCCESS").delete()
    assert(BatchState.committed(spark, dir) == Seq(0L))
    assert(step(dir, 1L, 3L) == (Set(1L, 2L), Set(1L, 2L, 3L)))
    assert(values(BatchState.latest(spark, dir).get) == Set(1L, 2L, 3L),
      "the committed v1 must hold no trace of the partial write")
    // cleanup keeps the newest version and its predecessor only
    step(dir, 2L, 4L)
    assert(BatchState.committed(spark, dir) == Seq(1L, 2L))
  }

  test("a commit whose frame throws mid-write keeps the predecessor; the next batch merges onto it") {
    val dir = tmpDir("batchstate-failed")
    step(dir, 0L, 1L, 2L)
    val boom = udf { (x: Long) =>
      if (x == 5L) throw new IllegalStateException("boom in state write")
      x
    }
    val failed = intercept[SparkException] {
      BatchState.advance(spark, dir, 1L) { _ =>
        spark.range(0L, 6L, 1L, 3).select(boom(col("id")).as("v"))
      } { (_, _) => () }
    }
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("boom"))), failed)
    assert(BatchState.committed(spark, dir) == Seq(0L))
    assert(values(BatchState.latest(spark, dir).get) == Set(1L, 2L))
    assert(step(dir, 2L, 3L) == (Set(1L, 2L), Set(1L, 2L, 3L)))
    assert(BatchState.committed(spark, dir) == Seq(0L, 2L))
    assert(!new java.io.File(s"$dir/v1").exists(), "the failed v1 must be cleaned up")
  }

  test("a commit that writes no _SUCCESS marker fails instead of passing as uncommitted") {
    val dir = tmpDir("batchstate-nomarker")
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    conf.setBoolean(key, false)
    try intercept[IllegalStateException](step(dir, 0L, 1L))
    finally conf.unset(key)
  }

  test("a log dir reads empty only when missing; an unreadable one fails") {
    val schema = new StructType().add("k", "string")
    val dir = tmpDir("batchstate-log")
    val missing = BatchState.readLog(spark, s"$dir/none", schema)
    assert(missing.schema == schema && missing.isEmpty)
    Files.write(java.nio.file.Paths.get(dir, "part-00000.parquet"),
      "not parquet".getBytes("UTF-8"))
    intercept[SparkException](BatchState.readLog(spark, dir, schema).collect())
  }

  test("a flat-layout state dir fails with the named error") {
    import spark.implicits._
    val dir = tmpDir("batchstate-flat")
    Seq(1L).toDF("v").write.mode("overwrite").parquet(dir)
    intercept[BatchState.FlatLayoutException](step(dir, 0L, 2L))
    intercept[BatchState.FlatLayoutException](BatchState.latest(spark, dir))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet testdata tables
  * (TESTDATA.md / FIXTURES.md §B). One parquet file per table under
  * `/root/testdata/sf{0.001,0.01,0.1}/`.
  *
  * All loads are plain `spark.read.parquet` so Catalyst gets full
  * predicate pushdown / column pruning on the scan.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS) in others, so branch on the dtype the
    * reader actually produced rather than assuming either:
    *  - LongType → the file was NANOS and `legacy.parquet.nanosAsLong` turned
    *    it into raw nanos; integer-divide down to micros (the same floor
    *    truncation DuckDB applies) and rebuild a TimestampType.
    *  - TIMESTAMP_NTZ → the file was MICROS with isAdjustedToUTC=false; cast
    *    to TimestampType (an exact reinterpretation under the UTC session
    *    timezone every entrypoint sets) so downstream window/interval logic
    *    sees the same type it always has.
    *  - TimestampType → pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

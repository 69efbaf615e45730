package graft.streaming

import java.sql.{Date, Timestamp}
import java.time.{LocalDate, ZoneId, ZonedDateTime}

import graft.TestSpark
import graft.pipeline._
import graft.sources.{PollClient, PollClientRegistry, PollingSourceProvider}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Full-system flow: custom DSv2 polling source (Sierra stand-in) →
  * streaming dedup → patron pipeline transform → Avro encode → chunked
  * record sink — the whole reference program
  * (main.py → pipeline_controller → kinesis) as one Spark streaming query.
  */
class EndToEndSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val et = ZoneId.of("America/New_York")
  private def ts(y: Int, m: Int, d: Int): Timestamp =
    Timestamp.from(ZonedDateTime.of(y, m, d, 23, 59, 59, 0, et).toInstant)
  private def dt(y: Int, m: Int, d: Int): Date = Date.valueOf(LocalDate.of(y, m, d))

  private class SierraStandIn(rows: Seq[Seq[Any]]) extends PollClient {
    override def schema: StructType = Schemas.sierraActive
    override val watermarkField = "creation_timestamp"
    private val wmIdx = schema.fieldIndex(watermarkField)
    override def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]] =
      rows.filter { r =>
        val t = r(wmIdx).asInstanceOf[Timestamp]
        t.getTime * 1000L > afterMicros
      }.sortBy(_(wmIdx).asInstanceOf[Timestamp].getTime).take(limit)
  }

  test("poll source → pipeline → Avro → sink, two micro-batches") {
    val rows: Seq[Seq[Any]] = Seq(
      Seq(123L, 4, 5, "lib1", "city1", "region1", "10001-99", "1 REAL AVE",
        dt(2021, 1, 1), null, ts(2021, 1, 3), ts(2020, 12, 28), 1, 1),
      Seq(456L, 5, 6, "lib2", "city2", "region2", "10002-99", "2 REAL AVE",
        dt(2021, 2, 1), null, ts(2021, 2, 3), ts(2020, 12, 29), 1, 1),
      Seq(789L, 6, 7, "lib3", "city3", "region3", "10003-99", "3 REAL AVE",
        dt(2021, 3, 1), null, ts(2021, 3, 3), ts(2020, 12, 30), 1, 1))
    PollClientRegistry.register("sierra_e2e", new SierraStandIn(rows))

    val deps = PatronPipeline.Deps(
      new MapObfuscator(Map.empty),
      new MapGeocoder(Map("123" -> "36061000100", "456" -> "36047000200")),
      new MapGeocoder(Map.empty),
      keys => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftAddress),
      keys => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftPatron),
      keys => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftIphlc))

    val stream = spark.readStream
      .format(classOf[PollingSourceProvider].getName)
      .option("client", "sierra_e2e")
      .option("limit", "2") // forces 2 micro-batches for 3 patrons
      .load()

    // the updated and deleted modes: empty file streams of their schemas
    val empty = java.nio.file.Files.createTempDirectory("e2e-empty").toFile.getAbsolutePath
    new java.io.File(s"$empty/upd").mkdirs()
    new java.io.File(s"$empty/del").mkdirs()

    StreamSinkLog.reset()
    val ckpt = java.nio.file.Files.createTempDirectory("e2e-ckpt").toFile.getAbsolutePath
    val q = PatronStream.runAll(stream,
      spark.readStream.schema(Schemas.sierraActive).parquet(s"$empty/upd"),
      spark.readStream.schema(Schemas.sierraDeleted).parquet(s"$empty/del"),
      deps, ckpt, new StreamSinkLog)
    q.awaitTermination(120000)

    val decoded = StreamSinkLog.records.map(AvroSink.decode(_))
    assert(decoded.length == 3)
    val byGeoid = decoded.map(r => (
      Option(r.get("geoid")).map(_.toString).orNull,
      r.get("creation_date_et").toString,
      r.get("postal_code").toString,
      r.get("ptype_code"))).sortBy(_._2)
    assert(byGeoid == Seq(
      ("36061000100", "2020-12-28", "10001", 4L),
      ("36047000200", "2020-12-29", "10002", 5L),
      (null, "2020-12-30", "10003", 6L)))
  }
}

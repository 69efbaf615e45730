package graft.pipeline

import graft.TestSpark
import graft.pipeline.AddressParser.AddressParts
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Census client golden tests ported from
  * tests/test_census_geocoder_api_client.py (CSV request/response shape,
  * No_Match/Tie → null, 11-digit geoid assembly, recursive split-retry).
  */
class CensusGeocoderSpec extends AnyFunSuite {
  // _API_RESPONSE (tests/test_census_geocoder_api_client.py:11-15), keyed
  // by our string row keys instead of pandas integer index.
  private val apiResponse =
    ("\"k0\",\"123 good address, New York, NY, 11111\",\"Match\",\"Exact\",\"123 matched address, New York, NY, 11111-9999\",\"-0.00000001,1.11111110\",\"123456789\",\"R\",\"00\",\"111\",\"222222\",\"3333\"\n"
      + "\"k1\",\"456 bad address, Brooklyn, NY, 22222\",\"No_Match\"\n"
      + "\"k2\",\"789 good address, Staten Island, NY, 33333-4444\",\"Match\",\"Non_Exact\",\"789 matched address, Staten Island, NY, 33333-4444\",\"-0.00000001,1.11111110\",\"123456789\",\"R\",\"44\",\"555\",\"666666\",\"7777\"\n"
      + "\"k3\",\"012 bad address, Bronx, NY, 55555-6666\",\"No_Match\"\n"
      + "\"k4\",\"345 tie address, Queens, NY, 77777\",\"Tie\"\n")

  private val rows: Seq[(String, AddressParts)] = Seq(
    "k0" -> AddressParts("123 good address", "New York", "NY", "11111", ""),
    "k1" -> AddressParts("456 bad address", "Brooklyn", "NY", "22222", ""),
    "k2" -> AddressParts("789 good address", "Staten Island", "NY", "33333-4444", ""),
    "k3" -> AddressParts("012 bad address", "Bronx", "NY", "55555-6666", ""),
    "k4" -> AddressParts("345 tie address", "Queens", "NY", "77777", ""))

  /** One geoid (null on a miss) per input key. */
  private def perRow(batch: Seq[(String, AddressParts)], got: Map[String, String]) =
    batch.map { case (k, _) => k -> got.get(k).orNull }.toMap

  test("geoid assembly: Match → state+county+tract, No_Match/Tie → null (:67-75)") {
    val got = perRow(rows, new CensusBatchGeocoder(new FixedResponsePoster(apiResponse)).geocode(rows))
    assert(got == Map("k0" -> "00111222222", "k1" -> null,
      "k2" -> "44555666666", "k3" -> null, "k4" -> null))
  }

  test("split-retry halves failed batches while halves ≥ floor (:52-64)") {
    // 4 rows with floor 2: first call fails → two 2-row calls succeed.
    PosterCallLog.reset()
    val batch = rows.take(4)
    val got = perRow(batch, new CensusBatchGeocoder(new FailOncePoster, splitFloor = 2).geocode(batch))
    assert(PosterCallLog.count == 3)
    assert(got.size == 4 && got.values.forall(_ == "00111222222"))
    // request CSV shape (reference serializes key,address,city,region,postal)
    assert(PosterCallLog.firstBody.contains("k0,123 good address,New York,NY,11111"))
  }

  test("split-retry below floor raises CensusGeocoderError (:75-90)") {
    intercept[CensusGeocoderError] {
      new CensusBatchGeocoder(new AlwaysFailPoster, splitFloor = 1000).geocode(rows)
    }
  }

  test("csv round-trip quoting") {
    val line = CensusCsv.toCsvLine(Seq("k", "1 main st, apt 2", "a\"b", "NY", ""))
    assert(CensusCsv.splitCsvLine(line).toSeq == Seq("k", "1 main st, apt 2", "a\"b", "NY", ""))
  }
}

/** Test posters; each call is logged in [[PosterCallLog]]. */
final class FixedResponsePoster(response: String) extends HttpPoster {
  def post(body: Array[Byte]): Array[Byte] = {
    PosterCallLog.record(new String(body, "UTF-8"))
    response.getBytes("UTF-8")
  }
}

final class FailOncePoster extends HttpPoster {
  def post(body: Array[Byte]): Array[Byte] = {
    val n = PosterCallLog.record(new String(body, "UTF-8"))
    if (n == 1) throw new java.io.IOException("connection error")
    new String(body, "UTF-8").split("\n")
      .map(l => l.split(",")(0) + ",addr,Match,Exact,m,c,t,R,00,111,222222,3333")
      .mkString("\n").getBytes("UTF-8")
  }
}

final class AlwaysFailPoster extends HttpPoster {
  def post(body: Array[Byte]): Array[Byte] =
    throw new java.io.IOException("connection error")
}

/** Static call log — local mode shares one JVM, so a poster running in
  * an executor task logs here too.
  */
object PosterCallLog {
  private val calls = new java.util.concurrent.CopyOnWriteArrayList[String]()
  def reset(): Unit = calls.clear()
  def record(body: String): Int = { calls.add(body); calls.size() }
  def count: Int = calls.size()
  def firstBody: String = calls.get(0)
}

/** NYC geocoder golden tests ported from tests/test_nyc_geocoder_client.py:
  * borough→FIPS, tract-vintage coalesce 2020→2010→2000→1990, non-borough →
  * null, GeosupportError → null.
  */
class NycGeocoderSpec extends AnyFunSuite {
  /** (key, house number, street name, postal) rows as the cascade's NYC
    * tier hands them over.
    */
  private def batch(rows: (String, String, String, String)*): Seq[(String, AddressParts)] =
    rows.map { case (k, h, s, z) => k -> AddressParts("", "", "", z, "", h, s) }

  private def geosupport(results: Map[String, Map[String, String]]) =
    new GeosupportLike {
      def address(h: String, s: String, z: String): Map[String, String] =
        results.getOrElse(h, throw new GeosupportError("error"))
    }

  test("tract vintage coalesce + borough map (:50-77)") {
    val gs = geosupport(Map(
      "123" -> Map("First Borough Name" -> "BRONX", "2020 Census Tract" -> "123456"),
      "456" -> Map("First Borough Name" -> "BROOKLYN", "2010 Census Tract" -> "789012"),
      "789" -> Map("First Borough Name" -> "MANHATTAN", "2000 Census Tract" -> "345678"),
      "01-23" -> Map("First Borough Name" -> "QUEENS", "1990 Census Tract" -> "901234"),
      "4" -> Map("First Borough Name" -> "STATEN IS",
        "2020 Census Tract" -> "567890", "2010 Census Tract" -> "999999"),
      "5" -> Map("First Borough Name" -> "BRONX")))
    val got = new NycBatchGeocoder(gs).geocode(batch(
      ("a", "123", "ave", "11111"), ("b", "456", "st", "22222"),
      ("c", "789", "blvd", "33333-4444"), ("d", "01-23", "ct", "55555"),
      ("e", "4", "pl", "66666"), ("f", "5", "rd", "77777")))
    assert(got == Map(
      "a" -> "36005123456", "b" -> "36047789012", "c" -> "36061345678",
      "d" -> "36081901234", "e" -> "36085567890", "f" -> null))
  }

  test("non-borough → null (:38-44); GeosupportError → null (:46-48)") {
    val gs = geosupport(Map(
      "123" -> Map("First Borough Name" -> "NOT A BOROUGH", "2020 Census Tract" -> "123456")))
    val got = new NycBatchGeocoder(gs).geocode(batch(
      ("a", "123", "ave", "11111"), ("b", "999", "st", "22222")))
    assert(got == Map("a" -> null, "b" -> null))
  }
}

/** Avro boundary round-trip (reference S6: encode_batch against the
  * registry schema, pinned by the expected dicts at
  * tests/test_pipeline_controller.py:113-167).
  */
class AvroSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("output rows round-trip through the PatronInfo Avro schema") {
    val row = Row("p1", "h1", "11111", "00111222222", "2021-01-01",
      null, "2021-06-01", 4L, null, "aa", "bb")
    val df = spark.createDataFrame(Seq(row).asJava, Schemas.output)
    val bytes = DeliveredRecords.of(df)
    assert(bytes.length == 1)
    val rec = AvroSink.decode(bytes.head)
    assert(rec.get("patron_id").toString == "p1")
    assert(rec.get("geoid").toString == "00111222222")
    assert(rec.get("deletion_date_et") == null)
    assert(rec.get("ptype_code") == 4L)
    assert(rec.get("pcode3") == null)
  }

  test("write delivers exactly the records encode makes, nulls and dates included") {
    val df = spark.createDataFrame(Seq(
      Row("p1", "h1", "11111", "00111222222", "2021-01-01", "2022-02-02", "2021-06-01",
        4L, 7L, "aa", "bb"),
      Row("p2", null, null, null, null, null, null, null, null, null, null),
      Row("p3", "h3", "33333", null, "2020-12-31", null, "2021-03-04", 1L, null,
        "cc", null)).asJava, Schemas.output).repartition(2)
    val delivered = DeliveredRecords.of(df)
    assert(delivered.size == 3)
    val byId = delivered.map(AvroSink.decode(_))
      .map(r => r.get("patron_id").toString -> r).toMap
    assert(byId.keySet == Set("p1", "p2", "p3"))
    val p1 = byId("p1")
    assert(Schemas.outputColumns.map(p1.get(_).toString) == Seq("p1", "h1", "11111",
      "00111222222", "2021-01-01", "2022-02-02", "2021-06-01", "4", "7", "aa", "bb"))
    assert(p1.get("ptype_code") == 4L && p1.get("pcode3") == 7L)
    assert(Schemas.outputColumns.tail.forall(byId("p2").get(_) == null))
    val p3 = byId("p3")
    assert(p3.get("creation_date_et").toString == "2020-12-31")
    assert(p3.get("deletion_date_et") == null)
    assert(p3.get("circ_active_date_et").toString == "2021-03-04")
    assert(p3.get("pcode3") == null && p3.get("ptype_code") == 1L)
  }

  test("sink chunks records at the Kinesis PutRecords cap") {
    val rows = (1 to 7).map(i => Row(s"p$i", null, null, null, null, null,
      null, null, null, null, null))
    val df = spark.createDataFrame(rows.asJava, Schemas.output).coalesce(1)
    val chunks = scala.collection.mutable.ListBuffer.empty[Int]
    AvroSink.write(df, new AvroSink.RecordSink {
      def putRecords(records: Seq[Array[Byte]]): Unit =
        CollectedChunks.add(records.length)
    }, maxBatch = 3)
    assert(CollectedChunks.get.sorted == Seq(1, 3, 3))
  }
}

/** Executor-side accumulator for the sink test (local mode: same JVM). */
object CollectedChunks {
  private val chunks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  def add(n: Int): Unit = chunks.add(n)
  def get: Seq[Int] = chunks.asScala.toSeq
}

/** Executor-side record collector for the sink tests (local mode: same JVM). */
object DeliveredRecords {
  private val records = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()

  /** The records [[AvroSink.write]] delivers for `df`. */
  def of(df: org.apache.spark.sql.DataFrame,
         schemaJson: String = Schemas.patronInfoAvroJson): Seq[Array[Byte]] = {
    records.clear()
    AvroSink.write(df, new AvroSink.RecordSink {
      def putRecords(rs: Seq[Array[Byte]]): Unit = rs.foreach(records.add)
    }, schemaJson = schemaJson)
    records.asScala.toSeq
  }
}

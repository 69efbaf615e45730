package graft.pipeline

import java.sql.{Date, Timestamp}
import java.time.{LocalDate, ZoneId, ZonedDateTime}

import graft.TestSpark
import graft.pipeline.AddressParser.AddressParts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

/** Golden end-to-end iteration tests ported from the reference
  * (tests/test_pipeline_controller.py): the `_ACTIVE_SIERRA_RESULTS` →
  * `_NEW/_UPDATED/_DELETED_AVRO_ENCODER_INPUT` triples are the primary
  * correctness oracle (SURVEY.md §5).
  */
class PatronPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val et = ZoneId.of("America/New_York")
  private def ts(y: Int, m: Int, d: Int, h: Int, mi: Int, s: Int): Timestamp =
    Timestamp.from(ZonedDateTime.of(y, m, d, h, mi, s, 0, et).toInstant)
  private def dt(y: Int, m: Int, d: Int): Date =
    Date.valueOf(LocalDate.of(y, m, d))

  // _ACTIVE_SIERRA_RESULTS (tests/test_pipeline_controller.py:20-43):
  // duplicate patron 456 (keep-first), all-null patron 789.
  private def activeSierraRows: Seq[Row] = Seq(
    Row(123L, 4, 5, "home_library1", "city1", "region1", "postal_code1",
      "address1", dt(2021, 1, 1), dt(2021, 1, 2), ts(2021, 1, 3, 23, 59, 59),
      ts(2020, 12, 31, 23, 59, 59), 1, 1),
    Row(456L, 5, 6, "home_library2", "city2", "region2", "postal_code2",
      "address2", dt(2021, 2, 1), dt(2021, 2, 2), ts(2021, 2, 3, 0, 0, 1),
      ts(2020, 12, 30, 23, 59, 59), 1, 1),
    Row(456L, 6, 7, "home_library3", "city3", "region3", "postal_code3",
      "address3", dt(2021, 3, 1), dt(2021, 3, 2), ts(2021, 3, 3, 3, 3, 3),
      ts(2020, 12, 29, 23, 59, 59), 1, 1),
    Row(789L, null, null, null, null, null, null, null, null, null,
      ts(2021, 4, 3, 4, 4, 4), ts(2020, 12, 28, 23, 59, 59), null, null))

  // _EXTRA_SIERRA_RESULTS (:44-61): warehouse-known 999/888, seen 777.
  private def extraSierraRows: Seq[Row] = Seq(
    Row(999L, 9, 9, "home_library9", "city9", "region9", "postal_code9",
      "address9", dt(2021, 9, 1), dt(2021, 9, 2), ts(2021, 9, 3, 23, 59, 59),
      ts(2020, 12, 1, 23, 59, 59), 1, 1),
    Row(888L, 8, 8, "home_library8", "city8", "region8", "postal_code8",
      "address8", dt(2021, 8, 1), dt(2021, 8, 2), ts(2021, 8, 3, 23, 59, 59),
      ts(2020, 12, 2, 23, 59, 59), 1, 1),
    Row(777L, null, null, null, null, null, null, null, null, null,
      ts(2021, 4, 3, 4, 4, 4), ts(2022, 7, 7, 7, 7, 7), null, null))

  private def sierraDf(rows: Seq[Row]): DataFrame =
    PatronPipeline.withCanonicalId(
      spark.createDataFrame(rows.asJava, Schemas.sierraActive))

  // Mocked obfuscation mapping (reference mocks `obfuscate` side_effect,
  // :427-428, :476-478, :523-524).
  private val obfuscator = new MapObfuscator(Map(
    "123_address1_city1_region1_postal_code1" -> "obfuscated_1",
    "456_address2_city2_region2_postal_code2" -> "obfuscated_2",
    "789____" -> "obfuscated_3",
    "999_address9_city9_region9_postal_code9" -> "addr_hash_9",
    "888_address8_city8_region8_postal_code8" -> "addr_hash_8",
    "123" -> "obfuscated_4",
    "456" -> "obfuscated_5",
    "789" -> "obfuscated_6",
    "111" -> "obfuscated_patron_1",
    "222" -> "obfuscated_patron_2",
    "333" -> "obfuscated_patron_3"))

  private def emptyLookup: DataFrame => DataFrame = { keys =>
    val schema = Schemas.redshiftAddress
    keys.sparkSession.createDataFrame(Seq.empty[Row].asJava, schema)
  }

  private def redshiftAddressDf: DataFrame =
    spark.createDataFrame(Seq(
      Row("addr_hash_9", "obfuscated_patron_9", "99999999999", "zz"),
      Row("addr_hash_8", "obfuscated_patron_8", "88888888888", "yy")).asJava,
      Schemas.redshiftAddress)

  private def redshiftIphlcDf: DataFrame =
    spark.createDataFrame(Seq(
      Row("obfuscated_4", "aa"), Row("obfuscated_5", "bb"),
      Row("obfuscated_6", "cc")).asJava, Schemas.redshiftIphlc)

  private def redshiftPatronDf: DataFrame =
    spark.createDataFrame(Seq(
      Row("obfuscated_patron_1", "addr_hash_1", "11111", "11111111111",
        dt(2021, 1, 1), dt(2021, 6, 1), 1, 2, "aa", "bb"),
      Row("obfuscated_patron_3", "addr_hash_3", "33333", "33333333333",
        dt(2021, 3, 3), dt(2021, 6, 3), 3, 4, "cc", "dd")).asJava,
      Schemas.redshiftPatron)

  private def deps(census: BatchGeocoder = new MapGeocoder(Map(
                     "123" -> "12345", "456" -> "67890")),
                   nyc: BatchGeocoder = new MapGeocoder(Map.empty),
                   addressLookup: DataFrame => DataFrame = emptyLookup,
                   iphlc: DataFrame => DataFrame = emptyLookup): PatronPipeline.Deps =
    PatronPipeline.Deps(obfuscator, census, nyc, addressLookup,
      PatronPipeline.staticLookup(redshiftPatronDf, "patron_id"), iphlc)

  private def collectOut(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("patron_id").collect().toSeq.map(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i)))

  test("NEW patrons golden iteration (test_pipeline_controller.py:410-449)") {
    val out = PatronPipeline.processActivePatrons(
      sierraDf(activeSierraRows), PipelineMode.NewPatrons, deps(),
      Seq(col("last_updated_timestamp")))
    assert(out.schema == Schemas.output)
    assert(collectOut(out) == Seq(
      Seq("obfuscated_4", "obfuscated_1", "posta", "12345", "2020-12-31",
        "2021-01-02", "2021-01-01", 4L, 5L, "home_library1", "home_library1"),
      Seq("obfuscated_5", "obfuscated_2", "posta", "67890", "2020-12-30",
        "2021-02-02", "2021-02-01", 5L, 6L, "home_library2", "home_library2"),
      Seq("obfuscated_6", "obfuscated_3", null, null, "2020-12-28",
        null, null, null, null, null, null)))
  }

  test("UPDATED patrons golden iteration (test_pipeline_controller.py:451-504)") {
    val seen = spark.createDataFrame(
      Seq(Row("777")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("patron_id_plaintext",
          org.apache.spark.sql.types.StringType))))
    val input = PatronPipeline.filterUnseen(
      sierraDf(activeSierraRows ++ extraSierraRows), seen)
    val out = PatronPipeline.processActivePatrons(
      input, PipelineMode.UpdatedPatrons,
      deps(addressLookup = PatronPipeline.staticLookup(redshiftAddressDf, "address_hash"),
        iphlc = PatronPipeline.staticLookup(redshiftIphlcDf, "patron_id")),
      Seq(col("last_updated_timestamp")))
    assert(collectOut(out) == Seq(
      Seq("obfuscated_4", "obfuscated_1", "posta", "12345", "2020-12-31",
        "2021-01-02", "2021-01-01", 4L, 5L, "home_library1", "aa"),
      Seq("obfuscated_5", "obfuscated_2", "posta", "67890", "2020-12-30",
        "2021-02-02", "2021-02-01", 5L, 6L, "home_library2", "bb"),
      Seq("obfuscated_6", "obfuscated_3", null, null, "2020-12-28",
        null, null, null, null, null, "cc"),
      Seq("obfuscated_patron_8", "addr_hash_8", "posta", "88888888888",
        "2020-12-02", "2021-08-02", "2021-08-01", 8L, 8L, "home_library8", "yy"),
      Seq("obfuscated_patron_9", "addr_hash_9", "posta", "99999999999",
        "2020-12-01", "2021-09-02", "2021-09-01", 9L, 9L, "home_library9", "zz")))
  }

  // A warehouse whose address row for 999 carries no iphlc, which only
  // the J5 backfill (iphlc table: "ii") can fill.
  private def partialIphlcDeps(census: BatchGeocoder, nyc: BatchGeocoder) = deps(
    census = census, nyc = nyc,
    addressLookup = PatronPipeline.staticLookup(spark.createDataFrame(Seq(
      Row("addr_hash_9", "obfuscated_patron_9", "99999999999", null),
      Row("addr_hash_8", "obfuscated_patron_8", "88888888888", "yy")).asJava,
      Schemas.redshiftAddress), "address_hash"),
    iphlc = PatronPipeline.staticLookup(spark.createDataFrame(Seq(
      Row("obfuscated_patron_9", "ii"), Row("obfuscated_4", "aa")).asJava,
      Schemas.redshiftIphlc), "patron_id"))

  test("UPDATED batch the warehouse fully knows: no geocoder call, known rows out, no J5 backfill") {
    GeocodeCallLog.reset()
    val out = PatronPipeline.processActivePatrons(
      sierraDf(extraSierraRows.take(2)), PipelineMode.UpdatedPatrons,
      partialIphlcDeps(new LoggedGeocoder("census"), new LoggedGeocoder("nyc")),
      Seq(col("last_updated_timestamp")))
    assert(collectOut(out) == Seq(
      Seq("obfuscated_patron_8", "addr_hash_8", "posta", "88888888888",
        "2020-12-02", "2021-08-02", "2021-08-01", 8L, 8L, "home_library8", "yy"),
      Seq("obfuscated_patron_9", "addr_hash_9", "posta", "99999999999",
        "2020-12-01", "2021-09-02", "2021-09-01", 9L, 9L, "home_library9", null)))
    assert(GeocodeCallLog.calls.isEmpty)
  }

  test("UPDATED batch with one unknown patron geocodes only it and backfills every missing iphlc") {
    GeocodeCallLog.reset()
    val out = PatronPipeline.processActivePatrons(
      sierraDf(activeSierraRows.take(1) ++ extraSierraRows.take(2)),
      PipelineMode.UpdatedPatrons,
      partialIphlcDeps(new LoggedGeocoder("census"), new LoggedGeocoder("nyc")),
      Seq(col("last_updated_timestamp")))
    val got = out.select("patron_id", "geoid", "initial_patron_home_library_code")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq(("obfuscated_4", null, "aa"),
      ("obfuscated_patron_8", "88888888888", "yy"),
      ("obfuscated_patron_9", "99999999999", "ii")))
    // census tier 1 and tier 2 (re-parsed), each with 123 alone; no NYC
    // call, as the re-parsed "address1" has no house number (P9)
    assert(GeocodeCallLog.calls == Seq("census" -> Seq("123"), "census" -> Seq("123")))
  }

  test("NEW batch with only blank addresses makes no Census post and keeps a null geoid") {
    val blank = Row(790L, 4, 5, "home_library7", "", " ", "", "", dt(2021, 1, 1),
      dt(2021, 1, 2), ts(2021, 1, 3, 23, 59, 59), ts(2020, 12, 27, 23, 59, 59), 1, 1)
    PosterCallLog.reset()
    GeocodeCallLog.reset()
    val out = PatronPipeline.processActivePatrons(
      sierraDf(activeSierraRows.last +: Seq(blank)), PipelineMode.NewPatrons,
      deps(census = new CensusBatchGeocoder(new FixedResponsePoster("")),
        nyc = new LoggedGeocoder("nyc")),
      Seq(col("last_updated_timestamp")))
    val got = out.select("patron_id", "geoid").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(("obf(790)", null), ("obfuscated_6", null)))
    assert(PosterCallLog.count == 0 && GeocodeCallLog.calls.isEmpty)
  }

  test("DELETED patrons golden iteration (test_pipeline_controller.py:506-547)") {
    val deleted = PatronPipeline.withCanonicalId(spark.createDataFrame(Seq(
      Row(111L, dt(2022, 1, 1)), Row(222L, dt(2022, 2, 2)),
      Row(333L, dt(2022, 3, 3))).asJava, Schemas.sierraDeleted))
    val out = PatronPipeline.processDeletedPatrons(deleted, deps())
    assert(out.schema == Schemas.output)
    assert(collectOut(out) == Seq(
      Seq("obfuscated_patron_1", "addr_hash_1", "11111", "11111111111",
        "2021-01-01", "2022-01-01", "2021-06-01", 1L, 2L, "aa", "bb"),
      Seq("obfuscated_patron_2", null, null, null, null, "2022-02-02",
        null, null, null, null, null),
      Seq("obfuscated_patron_3", "addr_hash_3", "33333", "33333333333",
        "2021-03-03", "2022-03-03", "2021-06-03", 3L, 4L, "cc", "dd")))
  }

  test("priority dedup keeps the lowest (display_order, type_id) address " +
      "(helpers/query_helper.py:30, lib/pipeline_controller.py:176-181)") {
    // Same patron, same ordering timestamp, two address rows: the reference's
    // SQL ORDER BY + keep='first' keeps display_order 1 over 2 regardless of
    // arrival order; that row feeds address_hash.
    val rows = Seq(
      Row(456L, 5, 6, "home_library2", "city2", "region2", "postal_code2",
        "addressA", dt(2021, 2, 1), dt(2021, 2, 2), ts(2021, 2, 3, 0, 0, 1),
        ts(2020, 12, 30, 23, 59, 59), 2, 1),
      Row(456L, 5, 6, "home_library2", "city2", "region2", "postal_code2",
        "addressB", dt(2021, 2, 1), dt(2021, 2, 2), ts(2021, 2, 3, 0, 0, 1),
        ts(2020, 12, 30, 23, 59, 59), 1, 2))
    val obf = new MapObfuscator(Map(
      "456_addressA_city2_region2_postal_code2" -> "obf_A",
      "456_addressB_city2_region2_postal_code2" -> "obf_B",
      "456" -> "obf_456"))
    val d = PatronPipeline.Deps(obf, new MapGeocoder(Map("456" -> "g")),
      new MapGeocoder(Map.empty), emptyLookup,
      PatronPipeline.staticLookup(redshiftPatronDf, "patron_id"), emptyLookup)
    val out = PatronPipeline.processActivePatrons(
      sierraDf(rows), PipelineMode.NewPatrons, d,
      col("last_updated_timestamp") +: PatronPipeline.addressPriority)
    val got = out.select("patron_id", "address_hash").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("obf_456", "obf_B")))
  }

  test("iphlc backfill warns and nulls missing patrons (:626-636)") {
    val df = spark.createDataFrame(Seq(
      Row("123", null), Row("456", null), Row("789", null), Row("012", null))
      .asJava, Schemas.redshiftIphlc)
    val lookupTable = spark.createDataFrame(Seq(
      Row("123", "aa"), Row("789", "bb")).asJava, Schemas.redshiftIphlc)
    val out = PatronPipeline.backfillIphlc(df,
      deps(iphlc = PatronPipeline.staticLookup(lookupTable, "patron_id")))
    val got = out.collect().map(r =>
      r.getString(0) -> Option(r.getString(1)).orNull).toMap
    assert(got == Map("123" -> "aa", "456" -> null, "789" -> "bb", "012" -> null))
  }

  test("iphlc backfill warning is sample-bounded beyond the cap") {
    // More misses than missingWarnSample: the join semantics must be
    // unchanged (all misses stay null) and the driver-side collect bounded.
    val n = PatronPipeline.missingWarnSample + 15
    val ids = (1 to n).map(i => f"m$i%03d")
    val df = spark.createDataFrame(
      ids.map(id => Row(id, null)).asJava, Schemas.redshiftIphlc)
    val lookupTable = spark.createDataFrame(
      Seq(Row("m001", "aa")).asJava, Schemas.redshiftIphlc)
    val out = PatronPipeline.backfillIphlc(df,
      deps(iphlc = PatronPipeline.staticLookup(lookupTable, "patron_id")))
    val got = out.collect().map(r =>
      r.getString(0) -> Option(r.getString(1)).orNull).toMap
    assert(got.size == n && got("m001") == "aa" &&
      got.count(_._2 == null) == n - 1)
  }
}

/** Records the keys of each batch it is handed and geocodes nothing. The
  * log is static: tasks run in this JVM but on deserialized copies.
  */
final class LoggedGeocoder(tier: String) extends BatchGeocoder {
  override def geocode(batch: Seq[(String, AddressParts)]): Map[String, String] = {
    GeocodeCallLog.record(tier, batch.map(_._1))
    Map.empty
  }
}

object GeocodeCallLog {
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
  def reset(): Unit = log.clear()
  def record(tier: String, keys: Seq[String]): Unit = log.add(tier -> keys.sorted)
  def calls: Seq[(String, Seq[String])] = log.asScala.toSeq
}

/** Scripted geocoder: records the exact input rows each tier received
  * (the reference asserts these via mock call_args) and replies from a
  * fixed key→geoid map per call.
  */
final class ScriptedGeocoder(responses: Seq[Map[String, String]])
    extends BatchGeocoder {
  val calls: ListBuffer[Seq[(String, AddressParts)]] = ListBuffer.empty

  override def geocode(batch: Seq[(String, AddressParts)]): Map[String, String] = {
    calls += batch
    val resp = responses(calls.length - 1)
    batch.map { case (key, _) => key -> resp.getOrElse(key, null) }.toMap
  }
}

/** Geocode-cascade golden routing test (reference
  * test_process_unknown_patrons, tests/test_pipeline_controller.py:599-624):
  * exact inter-tier inputs `_CENSUS_INPUT_1/2`, `_NYC_INPUT` and the
  * coalesced `_ALL_GEOIDS` output, through the pure per-batch cascade.
  */
class GeocodeCascadeSpec extends AnyFunSuite {
  // _ORIGINAL_ADDRESS_DF (:172-182) — nulls, quote/backslash junk.
  private def originalRows: Seq[(String, AddressParts)] = Seq(
    ("123 address", "New York", "NY", "11111", "patid1"),
    (null, null, null, null, "patid2"),
    ("456 address", "Brooklyn", "NY", "22222", "patid3"),
    ("789 address", "C\"hicag\\o", "IL", "33333-4444", "patid4"),
    ("012 address", "LA", "CA", "55555-6666", "patid5"),
    ("345 address", "Tokyo", null, "", "patid6"),
    ("678 address", "Bronx", "NY", "77777", "patid7"))
    .map { case (a, c, r, z, key) => key -> AddressParts(a, c, r, z, null) }

  test("cascade routing + coalesced geoids (test_pipeline_controller.py:599-624)") {
    val census = new ScriptedGeocoder(Seq(
      // _CENSUS_GEOID_1 keyed to patids (:232-235)
      Map("patid1" -> "00111222222", "patid4" -> "3344455555"),
      // _CENSUS_GEOID_2 (:237-238)
      Map("patid5" -> "66777888888")))
    val nyc = new ScriptedGeocoder(Seq(
      // _NYC_GEOID (:239): patid3 geocoded, patid7 not
      Map("patid3" -> "99000111111")))
    val obf = new MapObfuscator(
      (1 to 7).map(i => s"patid$i" -> s"obfuscated_$i").toMap)

    val out = PatronPipeline.geocodeUnknown(originalRows, obf, census, nyc)
      .sortBy(_._1)

    // _ALL_GEOIDS (:241-247)
    assert(out == Seq(
      ("patid1", "obfuscated_1", "00111222222"),
      ("patid2", "obfuscated_2", null),
      ("patid3", "obfuscated_3", "99000111111"),
      ("patid4", "obfuscated_4", "3344455555"),
      ("patid5", "obfuscated_5", "66777888888"),
      ("patid6", "obfuscated_6", null),
      ("patid7", "obfuscated_7", null)))

    // _CENSUS_INPUT_1 (:184-202): patid2 dropped (empty address), junk
    // sanitized ('C"hicag\o' → 'Chicago').
    assert(census.calls.length == 2 && nyc.calls.length == 1)
    val call1 = census.calls(0).map { case (k, p) =>
      (k, p.address, p.city, p.region, p.postalCode, p.fullAddress) }.sortBy(_._1)
    assert(call1 == Seq(
      ("patid1", "123 address", "New York", "NY", "11111", "123 address New York NY 11111"),
      ("patid3", "456 address", "Brooklyn", "NY", "22222", "456 address Brooklyn NY 22222"),
      ("patid4", "789 address", "Chicago", "IL", "33333-4444", "789 address Chicago IL 33333-4444"),
      ("patid5", "012 address", "LA", "CA", "55555-6666", "012 address LA CA 55555-6666"),
      ("patid6", "345 address", "Tokyo", "", "", "345 address Tokyo"),
      ("patid7", "678 address", "Bronx", "NY", "77777", "678 address Bronx NY 77777")))

    // _CENSUS_INPUT_2 (:204-217): tier-1 misses, re-parsed.
    val call2 = census.calls(1).map { case (k, p) =>
      (k, p.address, p.city, p.region, p.postalCode, p.houseNumber, p.streetName) }
      .sortBy(_._1)
    assert(call2 == Seq(
      ("patid3", "456 address", "Brooklyn", "NY", "22222", "456", "address"),
      ("patid5", "012 address", "LA", "CA", "55555-6666", "012", "address"),
      ("patid6", "345 address", "Tokyo", "", "", "345", "address"),
      ("patid7", "678 address", "Bronx", "NY", "77777", "678", "address")))

    // _NYC_INPUT (:219-230): still-missing rows passing the P9 filter.
    val call3 = nyc.calls(0).map(_._1).sorted
    assert(call3 == Seq("patid3", "patid7"))
  }
}

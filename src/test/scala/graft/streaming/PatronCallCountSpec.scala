package graft.streaming

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.{LocalDate, ZoneId, ZonedDateTime}
import java.util.concurrent.atomic.AtomicInteger

import graft.TestSpark
import graft.pipeline._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The expensive calls of one `runAll` drain, counted exactly: the
  * reference hashes an active record's address and, when the warehouse
  * does not know it, its id, and a deleted record's id, each once; it
  * sends each unknown address to Census once, and the tier-1 misses once
  * more after the re-parse. A plan that re-executes bcrypt or a geocoder
  * under a second action shows up here as a higher count. Generated
  * classes are counted the same way: a repeat drain in one session
  * compiles none.
  */
class PatronCallCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val et = ZoneId.of("America/New_York")
  private def ts(y: Int, m: Int, d: Int): Timestamp =
    Timestamp.from(ZonedDateTime.of(y, m, d, 23, 59, 59, 0, et).toInstant)
  private def dt(y: Int, m: Int, d: Int): Date = Date.valueOf(LocalDate.of(y, m, d))

  private def patron(id: Long, address: String, postal: String, day: Int): Row =
    Row(id, 4, 5, s"lib$id", "NEW YORK", "NY", postal, address, dt(2021, 1, 1),
      null, ts(2021, 1, day), ts(2020, 12, day), 1, 1)

  /** The one-drain fixture: three NEW, three UPDATED (two known to the
    * warehouse) and two DELETED patrons, written once under `dir`.
    */
  private def fixture(): (String, PatronPipeline.Deps) = {
    val dir = Files.createTempDirectory("callcount").toFile.getAbsolutePath
    def active(rows: Row*) = spark.createDataFrame(rows.asJava, Schemas.sierraActive)

    // NEW, all unknown: a tier-1 Census hit, a miss on both Census tiers
    // and a blank address (no Census row at all).
    active(patron(101, "1 GOOD AVE", "10001", 1), patron(102, "2 BAD AVE", "10002", 2),
      Row(103L, 4, 5, "lib103", null, null, null, null, dt(2021, 1, 1), null,
        ts(2021, 1, 3), ts(2020, 12, 3), 1, 1)).write.parquet(s"$dir/new")
    // UPDATED: two the warehouse knows by address hash, one it does not.
    active(patron(201, "201 KNOWN AVE", "10201", 4), patron(202, "202 KNOWN AVE", "10202", 5),
      patron(203, "3 GOOD AVE", "10203", 6)).write.parquet(s"$dir/upd")
    spark.createDataFrame(Seq(Row(901L, dt(2022, 1, 1)), Row(902L, dt(2022, 1, 2))).asJava,
      Schemas.sierraDeleted).write.parquet(s"$dir/del")

    val known = spark.createDataFrame(Seq(
      Row("obf(201_201 KNOWN AVE_NEW YORK_NY_10201)", "wh201", "36061000201", "lib201"),
      Row("obf(202_202 KNOWN AVE_NEW YORK_NY_10202)", "wh202", "36061000202", "lib202"))
      .asJava, Schemas.redshiftAddress)
    dir -> PatronPipeline.Deps(
      new CountingObfuscator,
      new CensusBatchGeocoder(new CountingPoster),
      new NycBatchGeocoder(new NoGeosupport),
      PatronPipeline.staticLookup(known, "address_hash"),
      _ => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftPatron),
      _ => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftIphlc))
  }

  /** One `runAll` drain of the fixture into checkpoint `ckpt`: the
    * delivered records as patron_id → geoid.
    */
  private def drain(dir: String, deps: PatronPipeline.Deps, ckpt: String): Map[String, String] = {
    def rs(p: String) = spark.readStream.schema(
        if (p == "del") Schemas.sierraDeleted else Schemas.sierraActive)
      .parquet(s"$dir/$p")
    StreamSinkLog.reset()
    PatronStream.runAll(rs("new"), rs("upd"), rs("del"), deps, s"$dir/$ckpt",
      new StreamSinkLog).awaitTermination(120000)
    StreamSinkLog.records.map(AvroSink.decode(_))
      .map(r => r.get("patron_id").toString -> Option(r.get("geoid")).map(_.toString).orNull)
      .toMap
  }

  private val expected = Map(
    "obf(101)" -> "36061000100", "obf(102)" -> null, "obf(103)" -> null,
    "wh201" -> "36061000201", "wh202" -> "36061000202", "obf(203)" -> "36061000100",
    "obf(901)" -> null, "obf(902)" -> null)

  test("one drain: one bcrypt per address hash, unknown active id and deleted id; " +
      "Census sees tier-1 plus tier-2 rows once") {
    val (dir, deps) = fixture()
    CallCounts.reset()
    assert(drain(dir, deps, "ckpt") == expected)
    // 6 active address hashes + 4 unknown active ids + 2 deleted ids
    assert(CallCounts.bcrypt.get == 12)
    // tier 1: 101, 102, 203 (103 is blank); tier 2: 102 re-parsed
    assert(CallCounts.censusRows.get == 4)
  }

  test("three drains in one session: the second and third compile no generated class") {
    // Each query runs in a clone of the session with a fresh session id,
    // and the executor's class loader follows the session id; runAll runs
    // its batch as the caller's session, so once one drain has filled the
    // codegen cache, a repeat drain finds every class there.
    val (dir, deps) = fixture()
    val compiles = (1 to 3).map { i =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(drain(dir, deps, s"ckpt$i") == expected)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    info(s"classes compiled per drain: ${compiles.mkString(", ")}")
    assert(compiles.tail == Seq(0L, 0L), s"classes compiled per drain: $compiles")
  }
}

/** Static call counters — local mode runs every task in this JVM, on
  * deserialized copies of the services below.
  */
object CallCounts {
  val bcrypt = new AtomicInteger(0)
  val censusRows = new AtomicInteger(0)
  def reset(): Unit = { bcrypt.set(0); censusRows.set(0) }
}

final class CountingObfuscator extends Obfuscator {
  override def obfuscate(plaintext: String): String = {
    CallCounts.bcrypt.incrementAndGet()
    s"obf($plaintext)"
  }
}

/** Census stand-in: an address containing GOOD matches one fixed tract,
  * anything else is No_Match.
  */
final class CountingPoster extends HttpPoster {
  override def post(csvBody: Array[Byte]): Array[Byte] = {
    val lines = new String(csvBody, "UTF-8").split("\n").filter(_.nonEmpty)
    CallCounts.censusRows.addAndGet(lines.length)
    lines.map { line =>
      val f = CensusCsv.splitCsvLine(line)
      if (f(1).contains("GOOD"))
        CensusCsv.toCsvLine(Seq(f(0), f(1), "Match", "Exact", f(1), "0,0", "1", "L",
          "36", "061", "000100", "1000"))
      else CensusCsv.toCsvLine(Seq(f(0), f(1), "No_Match"))
    }.mkString("\n").getBytes("UTF-8")
  }
}

final class NoGeosupport extends GeosupportLike {
  override def address(houseNumber: String, streetName: String,
                       zipCode: String): Map[String, String] =
    throw new GeosupportError("not in NYC")
}

package graft.streaming

import java.sql.DriverManager

import graft.TestSpark
import graft.pipeline._
import graft.sources.{JdbcPollClient, PollClientRegistry, PollingSourceProvider}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The complete reference program over a real database: three JDBC poll
  * clients (new / updated / deleted) issuing the reference SQL shape
  * against embedded Derby, unioned into the shared-dedup runAll query,
  * through the pipeline to Avro records — main.py end to end.
  */
class JdbcEndToEndSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val url = "jdbc:derby:memory:sierra_runall;create=true"

  private def exec(sqls: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try sqls.foreach(st.executeUpdate)
      finally st.close()
    } finally conn.close()
  }

  test("three JDBC mode streams through runAll emit each patron once") {
    exec(
      """CREATE TABLE record_metadata (
        |  id BIGINT, record_type_code VARCHAR(1),
        |  creation_date_gmt TIMESTAMP, record_last_updated_gmt TIMESTAMP,
        |  deletion_date_gmt DATE)""".stripMargin,
      """CREATE TABLE patron_record_address (
        |  patron_record_id BIGINT, display_order INT,
        |  patron_record_address_type_id INT,
        |  city VARCHAR(64), region VARCHAR(64), postal_code VARCHAR(32),
        |  addr1 VARCHAR(128))""".stripMargin,
      """CREATE TABLE patron_view (
        |  id BIGINT, ptype_code INT, pcode3 INT,
        |  home_library_code VARCHAR(16), activity_gmt DATE)""".stripMargin,
      // patron 10: created in the NEW window; patron 20: created BEFORE it
      // (only the UPDATED stream sees it); patron 999: deleted.
      """INSERT INTO record_metadata VALUES
        |  (10, 'p', TIMESTAMP('2021-01-05 10:00:00'), TIMESTAMP('2021-06-01 10:00:00'), NULL),
        |  (20, 'p', TIMESTAMP('2020-06-01 10:00:00'), TIMESTAMP('2021-06-02 10:00:00'), NULL),
        |  (999, 'p', TIMESTAMP('2019-01-01 00:00:00'), TIMESTAMP('2019-01-01 00:00:00'), DATE('2022-01-01'))""".stripMargin,
      """INSERT INTO patron_record_address VALUES
        |  (10, 1, 1, 'city10', 'NY', '10010', '10 AVE'),
        |  (20, 1, 1, 'city20', 'NY', '10020', '20 AVE')""".stripMargin,
      """INSERT INTO patron_view VALUES
        |  (10, 4, 5, 'lib10', DATE('2020-06-01')),
        |  (20, 5, 6, 'lib20', DATE('2020-07-01'))""".stripMargin)

    PollClientRegistry.register("jdbc_e2e_new",
      new JdbcPollClient.Active(url, "creation_date_gmt"))
    PollClientRegistry.register("jdbc_e2e_upd",
      new JdbcPollClient.Active(url, "record_last_updated_gmt"))
    PollClientRegistry.register("jdbc_e2e_del", new JdbcPollClient.Deleted(url))

    def stream(client: String, startMicros: Option[Long] = None) = {
      val r = spark.readStream.format(classOf[PollingSourceProvider].getName)
        .option("client", client).option("limit", "10")
      startMicros.fold(r)(m => r.option("startMicros", m)).load()
    }
    // NEW stream window starts 2021-01-01T00:00Z — patron 20 predates it
    val newStart = java.time.Instant.parse("2021-01-01T00:00:00Z")
      .getEpochSecond * 1000000L

    val empty = (_: org.apache.spark.sql.DataFrame) =>
      spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftAddress)
    val deps = PatronPipeline.Deps(
      new MapObfuscator(Map.empty), // deterministic obf(x) fallback
      new MapGeocoder(Map("10" -> "g10", "20" -> "g20")),
      new MapGeocoder(Map.empty),
      empty,
      k => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftPatron),
      k => spark.createDataFrame(Seq.empty[Row].asJava, Schemas.redshiftIphlc))

    val ckpt = java.nio.file.Files.createTempDirectory("jdbc-runall")
      .toFile.getAbsolutePath
    StreamSinkLog.reset()
    val q = PatronStream.runAll(
      stream("jdbc_e2e_new", Some(newStart)),
      stream("jdbc_e2e_upd"),
      stream("jdbc_e2e_del"),
      deps, ckpt, new StreamSinkLog)
    q.awaitTermination(120000)

    val decoded = StreamSinkLog.records.map(AvroSink.decode(_))
      .map(r => (r.get("patron_id").toString,
        Option(r.get("geoid")).map(_.toString).orNull,
        Option(r.get("deletion_date_et")).map(_.toString).orNull))
      .sortBy(_._1)
    assert(decoded == Seq(
      ("obf(10)", "g10", null),
      ("obf(20)", "g20", null),
      ("obf(999)", null, "2022-01-01")))
    // the query has no stateful operator (its seen keys are a parquet
    // log beside the checkpoint), so no state store is ever written
    assert(new java.io.File(ckpt, "offsets").isDirectory)
    assert(!new java.io.File(ckpt, "state").exists())
  }
}

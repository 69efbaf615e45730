package graft.sources

import java.sql.{DriverManager, Timestamp}

import graft.TestSpark
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The JDBC PollClients against a real embedded database (Derby), issuing
  * the reference's generated Sierra scan shape (helpers/query_helper.py:
  * 5-40): paged metadata subquery + address/patron_view left joins +
  * TRIM / 'none'→NULL projections + priority ORDER BY, and checkpointed
  * offset resume across streaming restarts.
  */
class JdbcPollClientSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val url = "jdbc:derby:memory:sierra_spec;create=true"

  private def exec(sqls: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try sqls.foreach(st.executeUpdate)
      finally st.close()
    } finally conn.close()
  }

  private lazy val initDb: Unit = {
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
      // patron 1: two addresses (priority order reversed on purpose),
      // trailing-space home code; patron 2: home 'none' → NULL; patron 3:
      // no address/view rows (left-join NULLs); id 9 is not a patron.
      """INSERT INTO record_metadata VALUES
        |  (1, 'p', TIMESTAMP('2021-01-01 10:00:00'), TIMESTAMP('2021-01-05 10:00:00'), NULL),
        |  (2, 'p', TIMESTAMP('2021-01-02 10:00:00'), TIMESTAMP('2021-01-06 10:00:00'), DATE('2022-02-02')),
        |  (3, 'p', TIMESTAMP('2021-01-03 10:00:00'), TIMESTAMP('2021-01-07 10:00:00'), DATE('2022-03-03')),
        |  (9, 'b', TIMESTAMP('2021-01-01 00:00:00'), TIMESTAMP('2021-01-01 00:00:00'), NULL)""".stripMargin,
      """INSERT INTO patron_record_address VALUES
        |  (1, 2, 1, 'city1b', 'NY', '11112', '1B AVE'),
        |  (1, 1, 1, 'city1a', 'NY', '11111', '1A AVE'),
        |  (2, 1, 1, ' city2 ', 'NY', '22222', '2 AVE')""".stripMargin,
      """INSERT INTO patron_view VALUES
        |  (1, 4, 5, 'lib1  ', DATE('2020-06-01')),
        |  (2, 5, 6, 'none', DATE('2020-07-01'))""".stripMargin)
  }

  test("active scan: joins, trims, 'none'->NULL, priority order, patron-counted limit") {
    initDb
    val client = new JdbcPollClient.Active(url, "creation_date_gmt")
    val rows = client.poll(Long.MinValue, 10)
    // 4 joined rows: patron 1 × 2 addresses (display_order 1 first),
    // patron 2, patron 3 (null join side); id 9 filtered by type code.
    assert(rows.map(_.head) == Seq(1L, 1L, 2L, 3L))
    val r1a = rows(0)
    assert(r1a(3) == "lib1" && r1a(4) == "city1a" && r1a(7) == "1A AVE"
      && r1a(12) == 1) // display_order 1 sorts before 2
    assert(rows(1)(12) == 2)
    val r2 = rows(2)
    assert(r2(3) == null) // 'none' → NULL
    assert(r2(4) == "city2") // TRIM
    val r3 = rows(3)
    assert(r3(1) == null && r3(4) == null && r3(12) == null) // left-join NULLs
    assert(r3(11) == Timestamp.valueOf("2021-01-03 10:00:00"))
    // limit counts inner metadata rows: limit 1 → patron 1's BOTH addresses
    assert(client.poll(Long.MinValue, 1).map(_.head) == Seq(1L, 1L))
    // strict > watermark: nothing at-or-before the last creation instant
    val after = Timestamp.valueOf("2021-01-03 10:00:00").getTime * 1000L
    assert(client.poll(after, 10).isEmpty)
    assert(client.poll(after - 1, 10).map(_.head) == Seq(3L))
  }

  test("deleted scan: date watermark, strict >") {
    initDb
    val client = new JdbcPollClient.Deleted(url)
    val all = client.poll(Long.MinValue, 10)
    assert(all.map(_.head) == Seq(2L, 3L))
    val feb2 = java.sql.Date.valueOf("2022-02-02").toLocalDate.toEpochDay * 86400000000L
    assert(client.poll(feb2, 10).map(_.head) == Seq(3L))
  }

  test("streaming over JDBC: offsets resume across restarts, no re-delivery") {
    initDb
    PollClientRegistry.register("jdbc_updated",
      new JdbcPollClient.Active(url, "record_last_updated_gmt"))
    val ckpt = java.nio.file.Files.createTempDirectory("jdbc-ckpt")
      .toFile.getAbsolutePath
    def run(): Unit = {
      val q = spark.readStream.format(classOf[PollingSourceProvider].getName)
        .option("client", "jdbc_updated").option("limit", "2").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => PollRunLog.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    PollRunLog.reset()
    run()
    // patron 1 has two address rows — both in one batch (limit counts
    // patrons), then patrons 2 and 3 page through
    assert(PollRunLog.ids.sorted == Seq(1L, 1L, 2L, 3L))
    // restart with a new patron committed after the watermark: only it
    exec(
      "INSERT INTO record_metadata VALUES (4, 'p', TIMESTAMP('2021-01-04 10:00:00'), TIMESTAMP('2021-01-08 10:00:00'), NULL)",
      "INSERT INTO patron_record_address VALUES (4, 1, 1, 'city4', 'NY', '44444', '4 AVE')",
      "INSERT INTO patron_view VALUES (4, 7, 8, 'lib4', DATE('2020-08-01'))")
    PollRunLog.reset()
    run()
    assert(PollRunLog.ids == Seq(4L))
  }
}

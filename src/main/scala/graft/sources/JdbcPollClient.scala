package graft.sources

import java.sql.{DriverManager, PreparedStatement, ResultSet, Timestamp}

import graft.pipeline.Schemas
import org.apache.spark.sql.types._

/** [[PollClient]]s backed by a real JDBC connection, issuing the
  * reference's generated Sierra scan shape
  * (/root/reference/helpers/query_helper.py:5-40):
  *
  *  - active scan: a LIMITed, range-predicated page over
  *    `record_metadata` (record_type_code = 'p'), LEFT JOINed to
  *    `patron_record_address` and `patron_view`, with the
  *    empty/'none'→NULL home-library CASE and TRIM projections pushed
  *    into the SQL (P1/P2), outer-ordered by
  *    `{ordering_field}, display_order, patron_record_address_type_id`.
  *  - deleted scan: the single-table date-watermarked page
  *    (query_helper.py:33-40).
  *
  * Dialect notes (ANSI instead of the reference's Postgres): `FETCH FIRST
  * n ROWS ONLY` for LIMIT, a plain DATE column for the reference's
  * `TO_DATE(CAST(activity_gmt AS TEXT), ...)`, and bind parameters for
  * the watermark instead of string interpolation. The page predicate is
  * strictly `>` (the source's half-open offset contract — boundary rows
  * never re-deliver), where the reference uses `>=` plus its
  * processed_ids dedup; same delivered set.
  *
  * LIMIT counts inner METADATA rows (patrons), exactly as the reference's
  * subquery does — the joined output may exceed it on multi-address
  * patrons. That satisfies the source's contract: a poll(_, n) returns at
  * least n rows whenever they exist (each metadata row yields ≥1 joined
  * row), and [[PollingSource]] only ever cuts pages at watermark-group
  * boundaries, so a patron's address rows always travel together.
  *
  * Connections are opened per poll on the driver — the same topology as
  * the reference's single poll connection (lib/pipeline_controller.py:
  * 86-88); downstream processing is fully distributed.
  */
object JdbcPollClient {

  /** Floor for the bind watermark: JDBC embedded engines reject
    * out-of-range timestamps, and `Long.MinValue` micros (the source's
    * "no offset yet") is far below year 1.
    */
  private val minMicros = java.time.LocalDate.of(1, 1, 1)
    .toEpochDay * 86400000000L

  private def toTimestamp(micros: Long): Timestamp = {
    val m = math.max(micros, minMicros)
    val ts = new Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
    ts
  }

  private def toDate(micros: Long): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
      Math.floorDiv(math.max(micros, minMicros), 86400000000L)))

  /** Read one ResultSet row into the external-JVM-typed Seq the source's
    * reader expects, honoring SQL NULLs.
    */
  private def readRow(rs: ResultSet, schema: StructType): Seq[Any] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val v: Any = f.dataType match {
        case LongType => rs.getLong(i + 1)
        case IntegerType => rs.getInt(i + 1)
        case StringType => rs.getString(i + 1)
        case TimestampType => rs.getTimestamp(i + 1)
        case DateType => rs.getDate(i + 1)
        case dt => throw new IllegalArgumentException(
          s"unsupported poll column type ${dt.catalogString}")
      }
      if (rs.wasNull()) null else v
    }.toSeq

  private def collect(ps: PreparedStatement, schema: StructType): Seq[Seq[Any]] = {
    val rs = ps.executeQuery()
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) buf += readRow(rs, schema)
      buf.toSeq
    } finally rs.close()
  }

  private def withPrepared[A](url: String, sql: String,
                              bind: PreparedStatement => Unit)
                             (run: PreparedStatement => A): A = {
    val conn = DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement(sql)
      try { bind(ps); run(ps) } finally ps.close()
    } finally conn.close()
  }

  /** Active-patrons scan (NEW_PATRONS ⇒ `creation_date_gmt`,
    * UPDATED_PATRONS ⇒ `record_last_updated_gmt` — query_helper.py:57-62).
    */
  final class Active(url: String, orderingField: String) extends PollClient {
    require(orderingField == "creation_date_gmt"
      || orderingField == "record_last_updated_gmt",
      s"unknown ordering field: $orderingField")
    override def schema: StructType = Schemas.sierraActive
    override val watermarkField: String =
      if (orderingField == "creation_date_gmt") "creation_timestamp"
      else "last_updated_timestamp"

    // reference column order == sierraActive schema order (id, ptype,
    // pcode3, home, city, region, postal, addr, activity, deletion,
    // updated, created, display_order, type_id)
    override def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]] =
      withPrepared(url,
        s"""SELECT
           |    x.id, ptype_code, pcode3,
           |    CASE WHEN LENGTH(TRIM(home_library_code)) = 0
           |        OR TRIM(home_library_code) = 'none' THEN NULL
           |        ELSE TRIM(home_library_code) END,
           |    TRIM(city), TRIM(region), TRIM(postal_code), TRIM(addr1),
           |    activity_gmt,
           |    x.deletion_date_gmt,
           |    x.record_last_updated_gmt,
           |    x.creation_date_gmt,
           |    display_order,
           |    patron_record_address_type_id
           |FROM (
           |    SELECT
           |        id, record_last_updated_gmt, deletion_date_gmt, creation_date_gmt
           |    FROM record_metadata
           |    WHERE record_type_code = 'p'
           |        AND $orderingField > ?
           |        AND $orderingField IS NOT NULL
           |    ORDER BY $orderingField
           |    FETCH FIRST $limit ROWS ONLY) x
           |LEFT JOIN patron_record_address
           |    ON x.id = patron_record_address.patron_record_id
           |LEFT JOIN patron_view
           |    ON x.id = patron_view.id
           |ORDER BY x.$orderingField, display_order, patron_record_address_type_id""".stripMargin,
        ps => ps.setTimestamp(1, toTimestamp(afterMicros)))(collect(_, schema))
  }

  /** Deleted-patrons scan (query_helper.py:33-40): date-watermarked
    * single-table page.
    */
  final class Deleted(url: String) extends PollClient {
    override def schema: StructType = Schemas.sierraDeleted
    override val watermarkField: String = "deletion_date_et"

    override def poll(afterMicros: Long, limit: Int): Seq[Seq[Any]] =
      withPrepared(url,
        s"""SELECT id, deletion_date_gmt
           |FROM record_metadata
           |WHERE record_type_code = 'p'
           |    AND deletion_date_gmt > ?
           |    AND deletion_date_gmt IS NOT NULL
           |ORDER BY deletion_date_gmt
           |FETCH FIRST $limit ROWS ONLY""".stripMargin,
        ps => ps.setDate(1, toDate(afterMicros)))(collect(_, schema))
  }
}

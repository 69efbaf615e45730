package graft.pipeline

/** Environment-driven configuration (reference O6: the config YAML env files +
  * PLAINTEXT/ENCRYPTED env variables, main.py:12, README.md:39-73). Same
  * variable names where they exist; KMS decryption of credentials is the
  * deployment's concern (inject already-decrypted values).
  */
final case class Config(
    redshiftJdbcUrl: Option[String],
    redshiftTable: String,
    schemaUrl: Option[String],
    bcryptSalt: String,
    activePatronBatchSize: Int,
    deletedPatronBatchSize: Int,
    kinesisStreamArn: Option[String],
    maxBatches: Option[Int],
    ignoreCache: Boolean,
    ignoreKinesis: Boolean,
    startingCreationDt: String,
    startingUpdateDt: String,
    startingDeletionDate: String,
    checkpointDir: String)

object Config {

  /** Build from an environment map (defaults mirror the reference's:
    * lib/pipeline_controller.py:445-450 watermark defaults,
    * config/production.yaml batch sizes).
    */
  def fromEnv(env: Map[String, String] = sys.env): Config = Config(
    redshiftJdbcUrl = env.get("REDSHIFT_JDBC_URL"),
    redshiftTable = env.getOrElse("REDSHIFT_TABLE", "patron_info"),
    schemaUrl = env.get("PATRON_INFO_SCHEMA_URL"),
    bcryptSalt = env.getOrElse("BCRYPT_SALT", ""),
    activePatronBatchSize = env.getOrElse("ACTIVE_PATRON_BATCH_SIZE", "10000").toInt,
    deletedPatronBatchSize = env.getOrElse("DELETED_PATRON_BATCH_SIZE", "500000").toInt,
    // reference lib/pipeline_controller.py:81 (KMS-decrypted at deploy)
    kinesisStreamArn = env.get("KINESIS_STREAM_ARN"),
    maxBatches = env.get("MAX_BATCHES").map(_.toInt),
    ignoreCache = env.get("IGNORE_CACHE").contains("True"),
    ignoreKinesis = env.get("IGNORE_KINESIS").contains("True"),
    startingCreationDt = env.getOrElse("STARTING_CREATION_DT", "2020-01-01 00:00:00-05"),
    startingUpdateDt = env.getOrElse("STARTING_UPDATE_DT", "2020-01-01 00:00:00-05"),
    startingDeletionDate = env.getOrElse("STARTING_DELETION_DATE", "2020-01-01"),
    checkpointDir = env.getOrElse("CHECKPOINT_DIR", "/tmp/graft-checkpoint"))

  /** Reference default watermark parsed to epoch micros (for the polling
    * source's startMicros when no checkpoint exists; `IGNORE_CACHE` resets
    * to these, lib/pipeline_controller.py:442-452).
    */
  def startMicros(isoWithOffset: String): Long = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ssx")
    val i = java.time.OffsetDateTime.parse(isoWithOffset, fmt).toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** STARTING_DELETION_DATE parsed to epoch micros. The deleted stream's
    * watermark is a DATE column (deletion_date_gmt), so the reference
    * default `2020-01-01` (lib/pipeline_controller.py:449-450) maps to that
    * day's epoch-day micros — the same encoding the polling source uses for
    * java.sql.Date watermarks.
    */
  def dateMicros(isoDate: String): Long =
    java.time.LocalDate.parse(isoDate).toEpochDay * 86400000000L
}

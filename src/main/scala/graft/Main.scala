package graft

import graft.pipeline._
import graft.sources.{PollClientRegistry, PollingSourceProvider}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Production driver (reference main.py:11-24): wires config from the
  * environment, builds the three mode streams over the polling source,
  * and runs them with shared dedup scope via PatronStream.runAll.
  *
  * Deployment binds the external-system adapters before launch (the
  * reference binds the same five clients in its controller constructor,
  * lib/pipeline_controller.py:58-82); this main fails fast naming any
  * missing binding:
  *  - PollClients "sierra_active_new" / "sierra_active_updated" /
  *    "sierra_deleted" (JDBC clients issuing the reference's SQL shape)
  *  - [[Main.censusPoster]] (Census geocoder HTTP transport)
  *  - [[Main.geosupport]] (NYC Geosupport binding)
  *  - [[Main.recordSink]] (AWS Kinesis PutRecords), unless
  *    IGNORE_KINESIS=True selects the logging sink
  */
object Main {
  @volatile var censusPoster: Option[HttpPoster] = None
  @volatile var geosupport: Option[GeosupportLike] = None
  @volatile var recordSink: Option[AvroSink.RecordSink] = None

  private def required[T](name: String, v: Option[T]): T =
    v.getOrElse(throw new IllegalStateException(
      s"bind $name before launching graft.Main"))

  def main(args: Array[String]): Unit = {
    val cfg = Config.fromEnv()
    val spark = SparkSession.builder()
      .appName("graft-patron-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new GraftExtensions)
      .getOrCreate()

    Seq("sierra_active_new", "sierra_active_updated", "sierra_deleted")
      .foreach(PollClientRegistry.get) // fail fast with a clear message

    // The source polls strictly `> startMicros`; the reference's scans are
    // `>= start` (helpers/query_helper.py:22,36), so the configured instant
    // itself must be included — start one micro before it.
    def stream(client: String, limit: Int, startMicros: Long): DataFrame = {
      val reader = spark.readStream
        .format(classOf[PollingSourceProvider].getName)
        .option("client", client)
        .option("limit", limit)
      val withStart =
        if (cfg.ignoreCache) reader.option("startMicros", startMicros - 1) else reader
      cfg.maxBatches.fold(withStart)(m => withStart.option("maxBatches", m)).load()
    }

    // Warehouse lookups with IN-list pushdown (SURVEY §4).
    val rsUrl = required("REDSHIFT_JDBC_URL", cfg.redshiftJdbcUrl)
    val rsProps = new java.util.Properties()
    def rsLookup(cols: Seq[String], key: String): DataFrame => DataFrame =
      JdbcLookup.lookup(spark, rsUrl, rsProps, cfg.redshiftTable, cols, key)

    val deps = PatronPipeline.Deps(
      // BCRYPT_SALT is a "$2b$NN$..." crypt salt and keys the warehouse
      // joins (lib/pipeline_controller.py:20,195-197); a missing or
      // malformed one fails here, before the stream starts
      new BcryptObfuscator(cfg.bcryptSalt),
      new CensusBatchGeocoder(required("Main.censusPoster", censusPoster)),
      new NycBatchGeocoder(required("Main.geosupport", geosupport)),
      addressLookup = rsLookup(Seq("address_hash", "patron_id", "geoid",
        "initial_patron_home_library_code"), "address_hash"),
      patronLookup = rsLookup(Schemas.redshiftPatron.fieldNames.toSeq, "patron_id"),
      iphlcLookup = rsLookup(Seq("patron_id", "initial_patron_home_library_code"),
        "patron_id"))

    // Sink resolution: dev toggle > explicit binding > KINESIS_STREAM_ARN
    // (the reference's wiring, lib/pipeline_controller.py:79-82 — the
    // ARN arrives KMS-decrypted from the deployment).
    val sink: AvroSink.RecordSink =
      if (cfg.ignoreKinesis) new AvroSink.LoggingSink
      else recordSink
        .orElse(cfg.kinesisStreamArn.map(KinesisSink.fromStreamArn(_)))
        .getOrElse(throw new IllegalStateException(
          "bind Main.recordSink or set KINESIS_STREAM_ARN before launching graft.Main"))

    // S5: the registry is authoritative for the output schema when
    // configured (reference fetches PATRON_INFO_SCHEMA_URL at startup,
    // lib/pipeline_controller.py:59); the built-in schema serves dev runs.
    val schemaJson = cfg.schemaUrl
      .map(AvroSink.fetchSchemaJson(_))
      .getOrElse(Schemas.patronInfoAvroJson)

    val q = streaming.PatronStream.runAll(
      stream("sierra_active_new", cfg.activePatronBatchSize,
        Config.startMicros(cfg.startingCreationDt)),
      stream("sierra_active_updated", cfg.activePatronBatchSize,
        Config.startMicros(cfg.startingUpdateDt)),
      stream("sierra_deleted", cfg.deletedPatronBatchSize,
        Config.dateMicros(cfg.startingDeletionDate)),
      deps, cfg.checkpointDir, sink, schemaJson)
    q.awaitTermination()
    spark.stop()
  }
}

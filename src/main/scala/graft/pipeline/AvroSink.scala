package graft.pipeline

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._

/** Avro encoding + Kinesis-shaped sink (reference S6/S7:
  * lib/pipeline_controller.py:241-244 encodes each output row against the
  * registry schema and PutRecords them in KINESIS_BATCH_SIZE chunks; here 500).
  *
  * This build has avro-core but no spark-avro SQL module and no AWS SDK,
  * so: each partition encodes its shaped output rows with avro's
  * GenericDatumWriter (schema parsed once per partition), and the
  * transport is an injected [[RecordSink]] — the AWS implementation slot
  * chunks ≤500 records per PutRecords call (the service cap,
  * config/production.yaml:12).
  */
object AvroSink extends Logging {

  /** One partition's Avro encoder: the output values by column index, in
    * [[Schemas.outputColumns]] order (null for null), to one binary.
    * The schema is parsed once per call.
    */
  private def encoder(schemaJson: String): (Int => Any) => Array[Byte] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    value => {
      val rec = new GenericData.Record(schema)
      Schemas.outputColumns.zipWithIndex.foreach { case (name, i) => rec.put(name, value(i)) }
      val out = new ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
  }

  /** Decode (for tests / round-trip verification). */
  def decode(bytes: Array[Byte], schemaJson: String = Schemas.patronInfoAvroJson): GenericRecord = {
    val schema = new Schema.Parser().parse(schemaJson)
    val reader = new org.apache.avro.generic.GenericDatumReader[GenericRecord](schema)
    val dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, null)
    reader.read(null, dec)
  }

  /** S5: fetch the authoritative output schema from a registry at startup
    * (reference lib/pipeline_controller.py:59 — AvroEncoder fetches
    * PATRON_INFO_SCHEMA_URL). Accepts either a bare Avro schema document
    * or a `{"data": {"schema": "<json-string>"}}` envelope. Transport is
    * injectable (this build has no egress).
    */
  def fetchSchemaJson(url: String,
                      transport: String => String = defaultHttpGet): String = {
    val body = transport(url)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(body)
    val node = root.path("data").path("schema")
    val schemaJson =
      if (!node.isMissingNode && node.isTextual) node.asText() else body
    new Schema.Parser().parse(schemaJson) // validate before returning
    schemaJson
  }

  private def defaultHttpGet(url: String): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
  }

  /** Record transport (reference KinesisClient.send_records). */
  trait RecordSink extends Serializable {
    /** Deliver one chunk of ≤ maxBatch records. */
    def putRecords(records: Seq[Array[Byte]]): Unit
  }

  /** Console/no-op sink (reference IGNORE_KINESIS dev toggle,
    * lib/pipeline_controller.py:72).
    */
  final class LoggingSink extends RecordSink {
    override def putRecords(records: Seq[Array[Byte]]): Unit =
      logInfo(s"LoggingSink: would send ${records.length} records")
  }

  /** Encode + deliver, chunking per partition (each executor sends its own
    * partitions — at scale the sink parallelism equals the partition count,
    * where the reference was single-threaded). Each record is encoded
    * straight from the selected row's `InternalRow`: no Row conversion
    * on either side, so the write generates no deserializer or
    * serializer class. A plain RDD action:
    * a caller that needs its jobs under a given session's artifact state
    * wraps it ([[graft.streaming.PatronStream.runAll]] does).
    */
  def write(df: DataFrame, sink: RecordSink, maxBatch: Int = 500,
            schemaJson: String = Schemas.patronInfoAvroJson): Unit = {
    val selected = df.select(Schemas.outputColumns.map(col): _*)
    val types = selected.schema.map(_.dataType)
    selected.queryExecution.toRdd.foreachPartition { it =>
      val encode = encoder(schemaJson)
      val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
      it.map(row => encode(i => if (row.isNullAt(i)) null else toScala(i)(row.get(i, types(i)))))
        .grouped(maxBatch).foreach(chunk => sink.putRecords(chunk))
    }
  }
}

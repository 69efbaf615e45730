package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** S5: schema-registry fetch — bare schema and platform-API envelope. */
class SchemaFetchSpec extends AnyFunSuite {

  test("bare Avro schema body is accepted") {
    val got = AvroSink.fetchSchemaJson("http://reg/x",
      _ => Schemas.patronInfoAvroJson)
    assert(got == Schemas.patronInfoAvroJson)
  }

  test("data.schema envelope is unwrapped (platform-API shape)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val env = mapper.createObjectNode()
    env.putObject("data").put("schema", Schemas.patronInfoAvroJson)
    val got = AvroSink.fetchSchemaJson("http://reg/x", _ => env.toString)
    assert(got == Schemas.patronInfoAvroJson)
  }

  test("invalid schema fails fast") {
    intercept[Exception] {
      AvroSink.fetchSchemaJson("http://reg/x", _ => """{"not": "avro"}""")
    }
  }

  test("a registry-fetched schema flows through encode/decode") {
    // A registry schema that differs from the built-in (extra doc + field
    // reorder is still name-matched by the encoder): records written with
    // it must decode with it.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Schemas.patronInfoAvroJson)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("doc", "registry copy")
    val fetched = AvroSink.fetchSchemaJson("http://reg/x", _ => root.toString)
    assert(fetched.contains("registry copy"))
    val spark = graft.TestSpark.spark
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(org.apache.spark.sql.Row(
      "id1", "hash1", "11111", "36061000100", "2020-01-01", null, null,
      4L, 5L, "lib1", "lib1")).asJava, Schemas.output)
    val bytes = DeliveredRecords.of(df, fetched)
    assert(bytes.length == 1)
    val rec = AvroSink.decode(bytes.head, fetched)
    assert(rec.get("patron_id").toString == "id1"
      && rec.get("geoid").toString == "36061000100"
      && rec.get("deletion_date_et") == null)
  }
}

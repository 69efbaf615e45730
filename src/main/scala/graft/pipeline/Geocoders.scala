package graft.pipeline

import graft.pipeline.AddressParser.AddressParts

/** Geocoding enrichment (reference S8/S9/E1/E2). A geocoder is a plain
  * batch function over address rows keyed by `patron_id_plaintext` —
  * Spark has no pandas row index, so the key is carried through every
  * tier (SURVEY §7.4 risk 1). [[PatronPipeline.geocodeUnknown]] chains
  * the tiers over one batch inside a single `mapPartitions`, so a
  * geocoder never sees a DataFrame.
  */
trait BatchGeocoder extends Serializable {
  /** One batch of (key, address) rows in; key → geoid out. A key that is
    * absent or maps to null is a miss.
    */
  def geocode(batch: Seq[(String, AddressParts)]): Map[String, String]
}

/** Injected HTTP transport so tests (and this zero-egress build) can fake
  * the Census API (reference mounts a retrying session the same way,
  * lib/census_geocoder_api_client.py:17-21).
  */
trait HttpPoster extends Serializable {
  /** POST a headerless address CSV; returns the response body.
    * Implementations must retry 5xx (total=2, backoff factor 4) and use a
    * 300 s timeout to match the reference envelope (BASELINE.md).
    */
  def post(csvBody: Array[Byte]): Array[Byte]
}

object CensusCsv {
  /** Headerless CSV line `key,address,city,region,postal` with minimal
    * quoting (reference serializes via pandas to_csv,
    * lib/census_geocoder_api_client.py:55-58).
    */
  def toCsvLine(fields: Seq[String]): String =
    fields.map { f =>
      val s = Option(f).getOrElse("")
      if (s.exists(c => c == ',' || c == '"' || c == '\n'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }.mkString(",")

  /** Split one CSV line honoring double-quoted fields. */
  def splitCsvLine(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
        else if (c == '"') inQ = false
        else sb += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.toString; sb.clear()
        case _ => sb += c
      }
      i += 1
    }
    out += sb.toString
    out.toArray
  }

  /** Parse the geocoder's 12-column response CSV into key→geoid, where
    * geoid = state_id + county_id + tract_id, null if any part is missing
    * (reference lib/census_geocoder_api_client.py:35-44: pandas `+` on NaN
    * propagates NaN).
    */
  def parseResponse(body: Array[Byte]): Map[String, String] = {
    new String(body, "UTF-8").split("\n").iterator
      .map(_.stripSuffix("\r")).filter(_.nonEmpty)
      .flatMap { line =>
        val f = splitCsvLine(line)
        if (f.length < 11) None
        else {
          val key = f(0)
          val state = f(8); val county = f(9); val tract = f(10)
          if (state.isEmpty || county.isEmpty || tract.isEmpty) Some(key -> null)
          else Some(key -> (state + county + tract))
        }
      }.toMap
  }
}

/** Census Geocoder API batch client (reference E1,
  * lib/census_geocoder_api_client.py:23-90): one HTTP round-trip per
  * batch, with the reference's recursive binary split-retry: on
  * transport failure halve the chunk while halves stay ≥ `splitFloor`
  * (=1000, :75-83), else raise [[CensusGeocoderError]].
  */
final class CensusBatchGeocoder(poster: HttpPoster, splitFloor: Int = 1000)
    extends BatchGeocoder {

  private def sendWithSplit(lines: Vector[String]): Map[String, String] = {
    try CensusCsv.parseResponse(poster.post(lines.mkString("\n").getBytes("UTF-8")))
    catch {
      case e: java.io.IOException =>
        val half = lines.length / 2
        if (half >= splitFloor)
          sendWithSplit(lines.take(half)) ++ sendWithSplit(lines.drop(half))
        else throw new CensusGeocoderError(
          s"Failed to retrieve geocoded addresses from API: ${e.getMessage}")
    }
  }

  override def geocode(batch: Seq[(String, AddressParts)]): Map[String, String] =
    sendWithSplit(batch.iterator.map { case (key, p) =>
      CensusCsv.toCsvLine(Seq(key, p.address, p.city, p.region, p.postalCode))
    }.toVector)
}

class CensusGeocoderError(message: String) extends RuntimeException(message)

/** Geosupport-style per-row geocoder interface (reference S9 wraps the NYC
  * Geosupport C library in-process; tests inject a fake exactly like
  * tests/test_nyc_geocoder_client.py:21-23 mocks `geosupport.address`).
  */
trait GeosupportLike extends Serializable {
  /** Returns the Geosupport result fields, or throws [[GeosupportError]]. */
  def address(houseNumber: String, streetName: String, zipCode: String): Map[String, String]
}

class GeosupportError(message: String) extends RuntimeException(message)

/** NYC geocoder (reference E2, lib/nyc_geocoder_client.py:24-69): one
  * Geosupport call per row, borough → county FIPS, census-tract vintage
  * coalesce 2020→2010→2000→1990, null on any miss or Geosupport error.
  * The reference's 2-thread pool becomes partition parallelism.
  */
final class NycBatchGeocoder(geosupport: GeosupportLike) extends BatchGeocoder {

  override def geocode(batch: Seq[(String, AddressParts)]): Map[String, String] =
    batch.map { case (key, p) =>
      val geoid =
        try {
          val result = geosupport.address(p.houseNumber, p.streetName, p.postalCode)
          val county = result.get("First Borough Name").flatMap(NycBatchGeocoder.boroughMap.get)
          val tract = Seq("2020 Census Tract", "2010 Census Tract",
              "2000 Census Tract", "1990 Census Tract")
            .iterator.flatMap(result.get).find(t => t != null && t.nonEmpty)
          (county, tract) match {
            case (Some(c), Some(t)) => c + t
            case _ => null
          }
        } catch { case _: GeosupportError => null }
      key -> geoid
    }.toMap
}

object NycBatchGeocoder {
  /** Reference _BOROUGH_MAP (lib/nyc_geocoder_client.py:8-14). */
  val boroughMap: Map[String, String] = Map(
    "BRONX" -> "36005",
    "BROOKLYN" -> "36047",
    "MANHATTAN" -> "36061",
    "QUEENS" -> "36081",
    "STATEN IS" -> "36085")
}

/** Test double: key→geoid map (mirrors the reference tests' mocked
  * `get_geoids` return values).
  */
final class MapGeocoder(mapping: Map[String, String]) extends BatchGeocoder {
  override def geocode(batch: Seq[(String, AddressParts)]): Map[String, String] =
    batch.flatMap { case (key, _) => mapping.get(key).map(key -> _) }.toMap
}

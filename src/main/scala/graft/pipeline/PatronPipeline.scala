package graft.pipeline

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The three patron-pipeline mode DAGs (reference entry points traced in
  * SURVEY.md §3), re-expressed as pure DataFrame transforms with injected
  * I/O dependencies. Everything is a declarative plan — Catalyst handles
  * predicate pushdown / broadcast choice; the only imperative pieces are
  * the geocoder HTTP calls (mapPartitions inside BatchGeocoder).
  *
  * Scale notes: every join here is keyed on a unique patron or hash key;
  * the lookup sides (warehouse hits for ONE batch's keys) are small by
  * construction, so Spark broadcasts them — no shuffle of the batch side.
  * The only window (`dedupKeepFirst`) shuffles on patron id, the same key
  * as the upstream source partitioning.
  */
object PatronPipeline extends Logging {

  /** I/O dependencies. The three lookups take a DataFrame of keys and
    * return matching warehouse rows — implementations should push the keys
    * into the warehouse scan (IN-list / semi-join pushdown, reference
    * lib/pipeline_controller.py:317-323; SURVEY §4) rather than scanning
    * the table.
    */
  final case class Deps(
      obfuscator: Obfuscator,
      census: BatchGeocoder,
      nyc: BatchGeocoder,
      addressLookup: DataFrame => DataFrame,
      patronLookup: DataFrame => DataFrame,
      iphlcLookup: DataFrame => DataFrame)

  /** Static-DataFrame lookup (semi-join pushdown form) for tests and
    * parquet-backed warehouses: `keys ⋉ table` — Catalyst broadcasts
    * whichever side is small.
    */
  def staticLookup(table: DataFrame, key: String): DataFrame => DataFrame =
    keys => table.join(broadcast(keys.select(key).distinct()), Seq(key), "left_semi")

  /** Canonical digit-string patron id (reference two-step
    * `.astype('Int64').astype('string')`, lib/pipeline_controller.py:147-148
    * — preserves "123", never "123.0").
    */
  def withCanonicalId(df: DataFrame): DataFrame =
    df.withColumn("patron_id_plaintext",
      col("patron_id_plaintext").cast("long").cast("string"))

  /** Cross-batch unseen filter (reference P6 `processed_ids` anti-join,
    * lib/pipeline_controller.py:165-168): a left-anti join against the
    * accumulated key set. [[graft.streaming.PatronStream.runAll]] applies
    * it per micro-batch against the run-scoped seen keys it persists
    * beside the checkpoint.
    */
  def filterUnseen(df: DataFrame, seenKeys: DataFrame): DataFrame =
    df.join(seenKeys.select(col("patron_id_plaintext")), Seq("patron_id_plaintext"), "left_anti")

  /** The reference's address-row priority: its scan ORDER BYs
    * `display_order, patron_record_address_type_id` after the ordering
    * field (helpers/query_helper.py:30) and `duplicated(keep='first')`
    * (lib/pipeline_controller.py:176-181) keeps the lowest pair — that row
    * feeds address_hash and geocoding, so the choice must be deterministic
    * and identical to the reference's. Nulls last: a patron with no address
    * row (all-null left join) never outranks a real address.
    */
  val addressPriority: Seq[Column] = Seq(
    col("display_order").asc_nulls_last,
    col("patron_record_address_type_id").asc_nulls_last)

  /** Keep-first-per-key dedup (reference A4,
    * lib/pipeline_controller.py:176-181). The reference keeps the first row
    * in SQL result order (ordering_field, display_order,
    * patron_record_address_type_id — helpers/query_helper.py:30); Spark has
    * no input order, so the priority must be explicit `orderCols`.
    */
  def dedupKeepFirst(df: DataFrame, orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("patron_id_plaintext")).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** F2: null-safe '_'-joined address-hash plaintext (reference
    * lib/pipeline_controller.py:189-194). `concat` + `coalesce`, NOT
    * `concat_ws` — concat_ws skips nulls and would silently change every
    * hash (SURVEY §7.4 risk 2).
    */
  def addressHashPlaintext: Column =
    concat(
      col("patron_id_plaintext"), lit("_"),
      coalesce(col("address"), lit("")), lit("_"),
      coalesce(col("city"), lit("")), lit("_"),
      coalesce(col("region"), lit("")), lit("_"),
      coalesce(col("postal_code"), lit("")))

  private def obfuscateUdf(obf: Obfuscator) = udf { s: String =>
    if (s == null) null else obf.obfuscate(s)
  }

  /** The geocode cascade for patrons unknown to the warehouse (reference
    * `_process_unknown_patrons`, lib/pipeline_controller.py:352-411; O4):
    * census(raw) → census(re-parsed) → NYC(parsed + P9 filter), each tier
    * seeing only the prior tier's nulls, short-circuiting when none remain.
    * Row identity is `patron_id_plaintext` throughout (no pandas index).
    *
    * Returns (patron_id_plaintext, patron_id, geoid) for EVERY input row.
    */
  def geocodeUnknown(unknown: DataFrame, deps: Deps): DataFrame = {
    val obf = obfuscateUdf(deps.obfuscator)
    // F5 sanitize + F3 full_address (reference :365-372): strip quotes and
    // backslashes, null→'', single-space join, outer trim (inner
    // double-space artifacts from empty fields are faithful).
    val clean = (c: String) =>
      regexp_replace(coalesce(col(c), lit("")), "['\"\\\\]", "")
    val addressDf = unknown
      .withColumn("patron_id", obf(col("patron_id_plaintext")))
      .withColumn("address", clean("address"))
      .withColumn("city", clean("city"))
      .withColumn("region", clean("region"))
      .withColumn("postal_code", clean("postal_code"))
      .withColumn("full_address",
        trim(concat(col("address"), lit(" "), col("city"), lit(" "),
          col("region"), lit(" "), col("postal_code"))))
      // Consumed by up to three geocode tiers + the id projection; one
      // batch's unknown rows fit memory by construction (≤ poll limit).
      // Released by LRU eviction — per-batch explicit unpersist isn't
      // possible while the returned plan still references it.
      .persist()
    val ids = addressDf.select("patron_id_plaintext", "patron_id")

    def result(geoids: DataFrame): DataFrame =
      ids.join(geoids, Seq("patron_id_plaintext"), "left")
        .select(col("patron_id_plaintext"), col("patron_id"), col("geoid"))

    // P8: only non-empty addresses are geocodable (reference :373-376).
    val input1 = addressDf.filter(length(col("full_address")) > 0)
    if (input1.isEmpty) return result(ids.select(col("patron_id_plaintext"), lit(null).cast("string").as("geoid")))

    // Tier 1: census on the raw (sanitized) address.
    val g1 = deps.census.geocode(input1).withColumnRenamed("geoid", "geoid1")

    // Tier 2: re-parse tier-1 misses (E3) and retry census — recommended by
    // the API itself for spurious batch-mode misses (reference :379-390).
    val retry1 = input1.join(g1.filter(col("geoid1").isNull),
      Seq("patron_id_plaintext"), "left_semi")
    if (retry1.isEmpty) return result(g1.withColumnRenamed("geoid1", "geoid"))

    val reparsed = reparse(retry1)
    val g2 = deps.census.geocode(reparsed).withColumnRenamed("geoid", "geoid2")

    // Tier 3: NYC Geosupport on remaining misses that are geocodable (P9:
    // house number, street name, postal all non-empty, reference :393-404).
    val retry2 = reparsed.join(g2.filter(col("geoid2").isNull),
      Seq("patron_id_plaintext"), "left_semi")
    val nycInput = retry2.filter(
      length(col("house_number")) > 0 && length(col("street_name")) > 0 &&
        length(col("postal_code")) > 0)
    val g3 =
      if (nycInput.isEmpty) null
      else deps.nyc.geocode(nycInput).withColumnRenamed("geoid", "geoid3")

    // SO2: merge tiers, earliest non-null wins per key.
    var merged = g1.join(g2, Seq("patron_id_plaintext"), "left")
    merged =
      if (g3 == null) merged.withColumn("geoid3", lit(null).cast("string"))
      else merged.join(g3, Seq("patron_id_plaintext"), "left")
    val geoids = merged.select(col("patron_id_plaintext"),
      coalesce(col("geoid1"), col("geoid2"), col("geoid3")).as("geoid"))
    result(geoids)
  }

  /** E3 re-parse as a struct-returning UDF over the carried key. */
  private def reparse(df: DataFrame): DataFrame = {
    val parseUdf = udf { (address: String, city: String, region: String,
                          postal: String, full: String) =>
      val p = AddressParser.reformat(AddressParser.AddressParts(
        Option(address).getOrElse(""), Option(city).getOrElse(""),
        Option(region).getOrElse(""), Option(postal).getOrElse(""),
        Option(full).getOrElse("")))
      (p.address, p.city, p.region, p.postalCode, p.houseNumber, p.streetName)
    }
    df.withColumn("__p", parseUdf(col("address"), col("city"), col("region"),
        col("postal_code"), col("full_address")))
      .withColumn("address", col("__p._1"))
      .withColumn("city", col("__p._2"))
      .withColumn("region", col("__p._3"))
      .withColumn("postal_code", col("__p._4"))
      .withColumn("house_number", col("__p._5"))
      .withColumn("street_name", col("__p._6"))
      .drop("__p")
  }

  /** NEW / UPDATED patrons single-iteration transform (reference
    * `_run_active_patrons_single_iteration`,
    * lib/pipeline_controller.py:135-246). Input: unseen, id-canonical
    * Sierra rows. `dedupOrder` expresses the reference's keep-first
    * priority (display_order, patron_record_address_type_id).
    */
  def processActivePatrons(sierra: DataFrame, mode: PipelineMode, deps: Deps,
                           dedupOrder: Seq[Column]): DataFrame = {
    require(mode != PipelineMode.DeletedPatrons, "use processDeletedPatrons")
    val obf = obfuscateUdf(deps.obfuscator)
    val deduped = dedupKeepFirst(sierra, dedupOrder)
      .withColumn("address_hash", obf(addressHashPlaintext))

    // O3 routing: UPDATED consults the warehouse by address hash (J3);
    // NEW starts fully unknown with iphlc defaulted from the current code
    // (reference :199-210).
    val routed = mode match {
      case PipelineMode.UpdatedPatrons =>
        val hits = deps.addressLookup(deduped.select("address_hash"))
        deduped.join(broadcast(hits), Seq("address_hash"), "left")
      case _ =>
        deduped
          .withColumn("patron_id", lit(null).cast("string"))
          .withColumn("geoid", lit(null).cast("string"))
          .withColumn("initial_patron_home_library_code", col("patron_home_library_code"))
    }

    // Unknown patrons: obfuscate id + geocode cascade; J6 merge-back is a
    // key-join + coalesce (new non-null values win).
    val unknown = routed.filter(col("patron_id").isNull)
      .select("address", "city", "region", "postal_code", "patron_id_plaintext")
    val merged =
      if (unknown.isEmpty) routed
      else {
        val geocoded = geocodeUnknown(unknown, deps)
          .withColumnRenamed("patron_id", "g_patron_id")
          .withColumnRenamed("geoid", "g_geoid")
        val m = routed.join(broadcast(geocoded), Seq("patron_id_plaintext"), "left")
          .withColumn("patron_id", coalesce(col("g_patron_id"), col("patron_id")))
          .withColumn("geoid", coalesce(col("g_geoid"), col("geoid")))
          .drop("g_patron_id", "g_geoid")
        // J5: iphlc backfill for updated patrons whose address missed the
        // warehouse (reference :219-227, 413-435).
        mode match {
          case PipelineMode.UpdatedPatrons => backfillIphlc(m, deps)
          case _ => m
        }
      }
    shapeActiveOutput(merged)
  }

  /** Max missing-patron ids named in the backfill warning (J5/O7). */
  private[pipeline] val missingWarnSample = 20

  private[pipeline] def backfillIphlc(df: DataFrame, deps: Deps): DataFrame = {
    val needs = df.filter(col("initial_patron_home_library_code").isNull)
      .select(col("patron_id"))
    val found = deps.iphlcLookup(needs)
      .withColumnRenamed("initial_patron_home_library_code", "iphlc_found")
    // Warn with a BOUNDED sample: collecting every missing id to the driver
    // is unbounded at scale (a cold warehouse could miss a whole batch).
    // Persist around the two actions (count + sample) so the anti-join and
    // the lookup feeding it execute once, as the unbounded version did.
    val missingDf = needs.join(found, Seq("patron_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val missingCount = missingDf.count()
      if (missingCount > 0) {
        val sample = missingDf.sort("patron_id").limit(missingWarnSample)
          .collect().map(_.getString(0))
        val suffix = if (missingCount > sample.length)
          s" … and ${missingCount - sample.length} more" else ""
        logWarning("The following updated patrons could not be found in " +
          s"Redshift ($missingCount total): " +
          sample.mkString("['", "', '", "']") + suffix)
      }
    } finally missingDf.unpersist()
    df.join(broadcast(found), Seq("patron_id"), "left")
      .withColumn("initial_patron_home_library_code",
        coalesce(col("initial_patron_home_library_code"), col("iphlc_found")))
      .drop("iphlc_found")
  }

  /** Output shaping for active modes (reference :231-240): postal → first 5
    * chars (F4), creation date = the America/New_York calendar date of the
    * creation instant (F6 — the reference's timestamps are tz-aware ET, so
    * `.dt.date` is the ET date; with a UTC session the conversion must be
    * explicit, SURVEY §7.4 risk 3), dates ISO-serialized, 11-col projection
    * with nullable-long codes (F13/P11).
    */
  private def shapeActiveOutput(df: DataFrame): DataFrame =
    df.withColumn("postal_code", substring(col("postal_code"), 1, 5))
      .withColumn("creation_date_et",
        date_format(from_utc_timestamp(col("creation_timestamp"), "America/New_York"), "yyyy-MM-dd"))
      .select(
        col("patron_id").cast("string"),
        col("address_hash").cast("string"),
        col("postal_code").cast("string"),
        col("geoid").cast("string"),
        col("creation_date_et").cast("string"),
        date_format(col("deletion_date_et"), "yyyy-MM-dd").as("deletion_date_et"),
        date_format(col("circ_active_date_et"), "yyyy-MM-dd").as("circ_active_date_et"),
        col("ptype_code").cast("long"),
        col("pcode3").cast("long"),
        col("patron_home_library_code").cast("string"),
        col("initial_patron_home_library_code").cast("string"))

  /** DELETED patrons single-iteration transform (reference
    * `_run_deleted_patrons_single_iteration`,
    * lib/pipeline_controller.py:248-309): obfuscate id, enrich from the
    * warehouse patron lookup (J4), emit with Sierra's deletion date. No
    * geocoding, no per-key dedup (ids are unique), no postal slice.
    */
  def processDeletedPatrons(deleted: DataFrame, deps: Deps): DataFrame = {
    val obf = obfuscateUdf(deps.obfuscator)
    val withIds = deleted.withColumn("patron_id", obf(col("patron_id_plaintext")))
    val hits = deps.patronLookup(withIds.select("patron_id"))
      .withColumnRenamed("circ_active_date_et", "rs_circ_active_date_et")
      .withColumnRenamed("creation_date_et", "rs_creation_date_et")
    withIds.join(broadcast(hits), Seq("patron_id"), "left")
      .select(
        col("patron_id").cast("string"),
        col("address_hash").cast("string"),
        col("postal_code").cast("string"),
        col("geoid").cast("string"),
        date_format(col("rs_creation_date_et"), "yyyy-MM-dd").as("creation_date_et"),
        date_format(col("deletion_date_et"), "yyyy-MM-dd").as("deletion_date_et"),
        date_format(col("rs_circ_active_date_et"), "yyyy-MM-dd").as("circ_active_date_et"),
        col("ptype_code").cast("long"),
        col("pcode3").cast("long"),
        col("patron_home_library_code").cast("string"),
        col("initial_patron_home_library_code").cast("string"))
  }
}

package graft.pipeline

import graft.operators.Checkpoints
import graft.pipeline.AddressParser.AddressParts
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** The three patron-pipeline mode DAGs (reference entry points traced in
  * SURVEY.md §3), re-expressed as DataFrame transforms with injected I/O
  * dependencies. Catalyst handles predicate pushdown and broadcast choice;
  * the one imperative piece is the geocode cascade ([[geocodeUnknown]]),
  * a pure function of one batch's unknown rows that runs once per
  * partition inside a single `mapPartitions`, filling `patron_id` and
  * `geoid` in place. There are no tier frames and no driver-side probes
  * between tiers: a tier with no input simply makes no call.
  *
  * Scale notes: every join here is keyed on a unique patron or hash key;
  * the lookup sides (warehouse hits for ONE batch's keys) are small by
  * construction, so Spark broadcasts them — no shuffle of the batch side.
  * The only window (`dedupKeepFirst`) shuffles on patron id, the same key
  * as the upstream source partitioning. A frame that more than one plan
  * reads is materialized once with [[Checkpoints.fresh]], so bcrypt and
  * the geocoders never re-run for a row; the caller frees those
  * checkpoints (a [[Checkpoints.scope]] per micro-batch in
  * [[graft.streaming.PatronStream.runAll]]).
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

  /** The geocode cascade for one batch of patrons unknown to the
    * warehouse (reference `_process_unknown_patrons`,
    * lib/pipeline_controller.py:352-411; O4), a pure function of its rows:
    *  1. F1 obfuscated patron id; F5 sanitize (strip quotes and
    *     backslashes, null→'') and F3 `full_address` (single-space join,
    *     outer trim; inner double spaces from empty fields are faithful);
    *  2. P8: only non-empty addresses are geocodable (:373-376);
    *  3. census on the sanitized address;
    *  4. E3 re-parse of the tier-1 misses, then census again — the API's
    *     own advice for spurious batch-mode misses (:379-390);
    *  5. P9: NYC Geosupport on what is still missing and has a house
    *     number, street name and postal code (:393-404);
    *  6. SO2: the earliest non-null geoid wins.
    * A tier with no input makes no call. Rows are (patron_id_plaintext,
    * raw address parts); returns (patron_id_plaintext, patron_id, geoid)
    * per row, in input order.
    */
  def geocodeUnknown(unknown: Seq[(String, AddressParts)], obfuscator: Obfuscator,
                     census: BatchGeocoder, nyc: BatchGeocoder): Seq[(String, String, String)] = {
    def clean(s: String) = Option(s).getOrElse("").replaceAll("['\"\\\\]", "")
    val sanitized = unknown.map { case (key, p) =>
      val (a, c, r, z) = (clean(p.address), clean(p.city), clean(p.region), clean(p.postalCode))
      key -> AddressParts(a, c, r, z, s"$a $c $r $z".replaceAll("^ +| +$", ""))
    }
    def tier(g: BatchGeocoder, rows: Seq[(String, AddressParts)]): Map[String, String] =
      if (rows.nonEmpty) g.geocode(rows).filter(_._2 != null) else Map.empty
    def nonEmpty(s: String) = s != null && s.nonEmpty

    val input1 = sanitized.filter(r => r._2.fullAddress.nonEmpty)
    val g1 = tier(census, input1)
    val input2 = input1.filterNot(r => g1.contains(r._1))
      .map { case (key, p) => key -> AddressParser.reformat(p) }
    val g2 = tier(census, input2)
    val g3 = tier(nyc, input2.filter { case (key, p) =>
      !g2.contains(key) && nonEmpty(p.houseNumber) && nonEmpty(p.streetName) &&
        nonEmpty(p.postalCode)
    })
    unknown.map { case (key, _) =>
      (key, if (key == null) null else obfuscator.obfuscate(key),
        g1.get(key).orElse(g2.get(key)).orElse(g3.get(key)).orNull)
    }
  }

  /** Fill `patron_id` and `geoid` in place for every row the warehouse
    * did not know (null `patron_id`, reference P7 :212-215), running
    * [[geocodeUnknown]] once per partition — the partition is the
    * geocoder batch. J6 is the reference's `df.update`: new non-null
    * values win. `__unknown` marks the filled rows.
    */
  private def fillUnknown(routed: DataFrame, deps: Deps): DataFrame = {
    val (obf, census, nyc) = (deps.obfuscator, deps.census, deps.nyc)
    val schema = routed.schema
    val Seq(key, pid, geo, addr, city, region, postal) = Seq("patron_id_plaintext",
      "patron_id", "geoid", "address", "city", "region", "postal_code").map(schema.fieldIndex)
    routed.mapPartitions { it =>
      val rows = it.toVector
      val filled = geocodeUnknown(rows.filter(_.isNullAt(pid)).map { r =>
        r.getString(key) -> AddressParts(r.getString(addr), r.getString(city),
          r.getString(region), r.getString(postal), null)
      }, obf, census, nyc).iterator
      rows.iterator.map { r =>
        if (!r.isNullAt(pid)) Row.fromSeq(r.toSeq :+ false)
        else {
          val (_, id, g) = filled.next()
          Row.fromSeq(r.toSeq.updated(pid, id)
            .updated(geo, if (g != null) g else r.get(geo)) :+ true)
        }
      }
    }(Encoders.row(schema.add("__unknown", BooleanType)))
  }

  /** NEW / UPDATED patrons single-iteration transform (reference
    * `_run_active_patrons_single_iteration`,
    * lib/pipeline_controller.py:135-246). Input: unseen, id-canonical
    * Sierra rows. `dedupOrder` expresses the reference's keep-first
    * priority (display_order, patron_record_address_type_id).
    *
    * UPDATED materializes twice with [[Checkpoints.fresh]], each time
    * because more than one plan reads the frame: the hashed batch (the
    * J3 lookup's keys and its join side) and the post-cascade frame (the
    * J5 count, sample and the caller's write). So bcrypt and the
    * geocoders run once per row. The caller owns their lifetime
    * ([[graft.streaming.PatronStream.runAll]] scopes each micro-batch).
    */
  def processActivePatrons(sierra: DataFrame, mode: PipelineMode, deps: Deps,
                           dedupOrder: Seq[Column]): DataFrame = {
    require(mode != PipelineMode.DeletedPatrons, "use processDeletedPatrons")
    val obf = obfuscateUdf(deps.obfuscator)
    val deduped = dedupKeepFirst(sierra, dedupOrder)
      .withColumn("address_hash", obf(addressHashPlaintext))

    // O3 routing: UPDATED consults the warehouse by address hash (J3);
    // NEW starts fully unknown with iphlc defaulted from the current code
    // (reference :199-210). Unknown rows then get their id and geoid
    // from the cascade (J6).
    val out = mode match {
      case PipelineMode.UpdatedPatrons =>
        val hashed = Checkpoints.fresh(deduped)
        val hits = deps.addressLookup(hashed.select("address_hash"))
        val filled = Checkpoints.fresh(fillUnknown(
          hashed.join(broadcast(hits), Seq("address_hash"), "left"), deps))
        // J5: iphlc backfill for updated patrons whose address missed the
        // warehouse, only when the batch had any (reference :219-227,
        // 413-435).
        if (filled.filter(col("__unknown")).count() > 0) backfillIphlc(filled, deps)
        else filled
      case _ =>
        fillUnknown(deduped
          .withColumn("patron_id", lit(null).cast("string"))
          .withColumn("geoid", lit(null).cast("string"))
          .withColumn("initial_patron_home_library_code", col("patron_home_library_code")),
          deps)
    }
    shapeActiveOutput(out)
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
    val missingDf = needs.join(found, Seq("patron_id"), "left_anti")
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
    // read by the J4 lookup's keys and its join side: hash each id once
    val withIds = Checkpoints.fresh(
      deleted.withColumn("patron_id", obf(col("patron_id_plaintext"))))
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

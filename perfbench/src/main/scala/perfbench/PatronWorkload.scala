package perfbench

import java.sql.{Connection, DriverManager, Timestamp}
import java.time.{Instant, LocalDate}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import graft.functions.Bcrypt
import graft.pipeline._
import graft.pipeline.AddressParser.AddressParts
import graft.pipeline.AvroSink.RecordSink
import graft.sources.{JdbcPollClient, PollClient, PollClientRegistry, PollingSourceProvider}
import graft.streaming.PatronStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import Main._

/** The patron-info poller end to end: a seeded Sierra schema in embedded
  * Derby, three JDBC poll clients unioned by `PatronStream.runAll`, real
  * bcrypt, zero-delay in-process Census and Geosupport fakes, a static
  * warehouse and a recording sink.
  *
  * A run is one backfill drain of the whole history (one page at the
  * production page size), the first drain of the process, followed by
  * ticks: each tick commits a small
  * delta of new, updated and deleted patrons and drains it with
  * `AvailableNow` from the same checkpoint. A tick is timed from the
  * commit to query termination.
  *
  * Every delivered record is decoded, per-drain record counts must equal
  * the generator's prediction (each patron in a drain's window exactly
  * once), and for a sample the (patron_id, geoid, deletion_date_et) triple
  * must equal a sequential model of the pipeline: bcrypt ids, warehouse
  * hits by address hash, and the Census → re-parsed Census → Geosupport
  * cascade over the same fakes.
  */
final class PatronWorkload(seed: Long, tiny: Boolean) extends Workload {
  import PatronWorkload._

  private val historySize = if (tiny) 200 else 500
  private var trace = false

  private var state: Db = _

  override def setUp(spark: SparkSession, dir: String): Unit = {
    if (state != null) state.drop()
    state = new Db(spark, dir, seed, historySize, tag = s"h${dbCounter.incrementAndGet()}")
    state.load()
  }

  /** None: the backfill is the first drain of a fresh process, as it is
    * for a scheduled poller's first run, and it warms the ticks.
    */
  override def warmUp(spark: SparkSession): Unit = ()

  private def sinkFor(): RecordSink =
    if (trace) new Probe.TracedSink(new RecordingSink) else new RecordingSink

  private def depsFor(spark: SparkSession, db: Db): PatronPipeline.Deps = {
    val obf: Obfuscator = new BcryptObfuscator(salt)
    val poster: HttpPoster = new FakeCensus
    val gs: GeosupportLike = new FakeGeosupport
    val lookups = Seq(
      "address" -> PatronPipeline.staticLookup(db.warehouseAddress, "address_hash"),
      "patron" -> PatronPipeline.staticLookup(db.warehousePatron, "patron_id"),
      "iphlc" -> PatronPipeline.staticLookup(db.warehouseIphlc, "patron_id"))
      .map { case (n, f) => if (trace) Probe.tracedLookup(n, f) else f }
    if (trace)
      PatronPipeline.Deps(new Probe.TracedObfuscator(obf),
        new CensusBatchGeocoder(new Probe.TracedPoster(poster)),
        new NycBatchGeocoder(new Probe.TracedGeosupport(gs)),
        lookups(0), lookups(1), lookups(2))
    else
      PatronPipeline.Deps(obf, new CensusBatchGeocoder(poster), new NycBatchGeocoder(gs),
        lookups(0), lookups(1), lookups(2))
  }

  override def run(spark: SparkSession, runner: OpRunner, seconds: Int): Outcome = {
    trace = runner.trace
    val db = state
    if (trace) db.registerClients(traced = true)
    val deps = depsFor(spark, db)
    val sink = sinkFor()
    val failures = mutable.LinkedHashMap.empty[String, String]
    val delivered = mutable.ArrayBuffer.empty[(String, Set[Long], Seq[Array[Byte]])]

    def drainOp(name: String, expected: Set[Long], traced: Boolean): Option[Double] = {
      RecordingSink.reset()
      val (err, wall) = runner.measure(traced)(Probe.op(name) {
        try {
          val id = db.drain(sink, deps)
          if (Probe.recording) runner.awaitStreamEvents(id)
          None
        } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      })
      err match {
        case Some(e) => failures(name) = e; None
        case None =>
          delivered += ((name, expected, RecordingSink.drain()))
          Some(wall)
      }
    }

    val t0 = System.nanoTime()
    val cpu0 = cpuSeconds()
    val backfill = drainOp("backfill", db.backfillExpected, traced = trace)
    val backfillCpu = cpuSeconds() - cpu0
    log(s"backfill: ${backfill.getOrElse(Double.NaN)} s")
    val backfillSample = runner.samples.lastOption.filter(_ => trace)
    val sampleCount = runner.samples.size

    val ticks = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var i = 0
    while (i < runner.minOps(1) || runner.fits(t0, seconds, ticks.map(_._2).toSeq)) {
      val expected = db.commitTick(i + 1)
      val traced = runner.tracedAt(i)
      drainOp(s"tick${i + 1}", expected, traced).foreach(w => ticks += ((traced, w)))
      log(s"tick ${i + 1} (traced=$traced): ${ticks.lastOption.map(_._2)}")
      i += 1
    }
    val attempted = 1 + i
    val failed = failures.size

    // ---- checks (untimed) ----
    val checks = mutable.ArrayBuffer.empty[Check]
    failures.foreach { case (n, e) => checks += Check(s"drain:$n", ok = false, e) }
    val sampler = new SplittableRandom(seed ^ 0x5eedL)
    delivered.foreach { case (name, expected, records) =>
      checks += Check(s"count:$name", records.size == expected.size,
        s"delivered ${records.size}, predicted ${expected.size}")
      val wantIds = expected.map(id => obfuscate(id.toString))
      val decoded =
        try Right(records.map(AvroSink.decode(_)))
        catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      decoded match {
        case Left(e) => checks += Check(s"decode:$name", ok = false, e)
        case Right(recs) =>
          def str(r: org.apache.avro.generic.GenericRecord, f: String): String =
            Option(r.get(f)).map(_.toString).orNull
          val gotIds = recs.map(str(_, "patron_id"))
          val dupIds = gotIds.size - gotIds.distinct.size
          checks += Check(s"ids:$name", dupIds == 0 && gotIds.toSet == wantIds,
            s"$dupIds repeated ids, ${(wantIds -- gotIds).size} missing, " +
              s"${(gotIds.toSet -- wantIds).size} unexpected")
          val got = recs.map(r => str(r, "patron_id") -> (str(r, "geoid"), str(r, "deletion_date_et"))).toMap
          val ids = expected.toSeq.sorted
          val sample =
            if (ids.size <= 40) ids
            else Seq.fill(40)(ids(sampler.nextInt(ids.size))).distinct
          val mismatches = sample.flatMap { id =>
            val want = db.expectedRecord(name, id)
            got.get(obfuscate(id.toString)) match {
              case Some(g) if g == (want._2, want._3) => None
              case other => Some(s"$id: want $want, got $other")
            }
          }
          checks += Check(s"sample:$name", mismatches.isEmpty,
            if (mismatches.isEmpty) s"${sample.size} sampled records match"
            else mismatches.take(3).mkString("; "))
      }
    }

    val untracedTicks = ticks.collect { case (false, w) => w }.toSeq
    val backfillRecords = delivered.find(_._1 == "backfill").map(_._3.size).getOrElse(0)
    val backfillWall = backfill.getOrElse(Double.NaN)
    val e2e = Seq(
      ("wall_s", backfillWall, "s"),
      ("op_p50_s", median(untracedTicks), "s"),
      ("cpu_s", backfillCpu, "s"))

    val layers = mutable.Map.empty[String, Double]
    backfillSample.foreach { s =>
      def c(k: String) = s.getOrElse(k, 0.0)
      val recs = math.max(1, backfillRecords).toDouble
      layers ++= Map(
        "pipeline.obfuscate_calls" -> c("pipeline.obfuscate.calls"),
        "pipeline.obfuscate_s" -> c("pipeline.obfuscate.ns") * 1e-9,
        "pipeline.obfuscate_per_record" -> c("pipeline.obfuscate.calls") / recs,
        "pipeline.census_posts" -> c("pipeline.census.calls"),
        "pipeline.census_s" -> c("pipeline.census.ns") * 1e-9,
        "pipeline.census_rows_per_record" -> c("pipeline.census_rows") / recs,
        "pipeline.nyc_calls" -> c("pipeline.nyc.calls"),
        "pipeline.nyc_s" -> c("pipeline.nyc.ns") * 1e-9,
        "pipeline.sink_puts" -> c("pipeline.sink.calls"),
        "pipeline.sink_s" -> c("pipeline.sink.ns") * 1e-9,
        "pipeline.records_per_put" -> c("pipeline.sink_records") / math.max(1.0, c("pipeline.sink.calls")),
        "pipeline.backfill_share" -> Probe.coverage("backfill", "pipeline."))
    }
    val tickSamples = runner.samples.drop(sampleCount).toSeq
    if (trace) {
      val polls = tickSamples.map(_.getOrElse("sources.poll.calls", 0.0)).sum
      layers ++= Map(
        "sources.polls" -> perOp(tickSamples, "sources.poll.calls"),
        "sources.poll_s" -> perOp(tickSamples, "sources.poll.ns", 1e-9),
        "sources.rows_polled" -> perOp(tickSamples, "sources.rows"),
        "sources.empty_poll_ratio" ->
          tickSamples.map(_.getOrElse("sources.empty", 0.0)).sum / math.max(1.0, polls),
        "streaming.batches" -> perOp(tickSamples, "streaming.batches"),
        "streaming.trigger_s" -> perOp(tickSamples, "streaming.trigger_ms", 1e-3),
        "streaming.add_batch_s" -> perOp(tickSamples, "streaming.add_batch_ms", 1e-3),
        "streaming.latest_offset_s" -> perOp(tickSamples, "streaming.latest_offset_ms", 1e-3),
        "streaming.commit_s" -> perOp(tickSamples, "streaming.commit_ms", 1e-3),
        "streaming.state_rows" -> runner.stateRows)
      layers ++= sparkLayers(tickSamples, 1)
      layers("trace.overhead_pct") = overheadPct(ticks.toSeq)
    }
    db.drop()
    Outcome(attempted, failed, e2e, layers.toMap, checks.toSeq, Seq(
      "history_patrons" -> historySize.toString,
      "backfill_records" -> backfillRecords.toString,
      "patrons_per_s" -> num(backfillRecords / backfillWall),
      "ticks" -> ticks.size.toString,
      "tick_s" -> ticks.map(t => num(t._2)).mkString("[", ", ", "]"),
      "failed_ratio" -> num(failed.toDouble / attempted)))
  }
}

object PatronWorkload {
  /** Fixed bcrypt salt at the cheapest cost the format allows. */
  val salt = "$2b$04$perfbenchSaltPerfbench"
  def obfuscate(plaintext: String): String = Bcrypt.hashpw(plaintext, salt).substring(29)

  private val dbCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  // ---- sink and fakes --------------------------------------------------------

  object RecordingSink {
    private val records = new ConcurrentLinkedQueue[Array[Byte]]()
    def reset(): Unit = records.clear()
    def drain(): Seq[Array[Byte]] = { val out = records.asScala.toVector; records.clear(); out }
    def add(rs: Seq[Array[Byte]]): Unit = rs.foreach(records.add)
  }

  final class RecordingSink extends RecordSink {
    override def putRecords(records: Seq[Array[Byte]]): Unit = RecordingSink.add(records)
  }

  /** Census batch geocoder stand-in: a deterministic share of well-formed
    * street addresses with a 5-digit ZIP match; PO boxes, intersections and
    * blanks never do.
    */
  def censusGeoid(address: String, postal: String): Option[String] = {
    val a = address.toUpperCase
    val zipOk = postal.length >= 5 && postal.take(5).forall(_.isDigit)
    if (a.isEmpty || !zipOk || a.contains("PO BOX") || a.contains("&")) None
    else {
      val h = MurmurHash3.stringHash(a + "|" + postal.take(5)) & 0x7fffffff
      if (h % 100 >= 55) None
      else Some(f"36${countyOf(postal)}${h % 1000000}%06d")
    }
  }

  private def countyOf(postal: String): String = postal.take(3) match {
    case "100" | "101" | "102" => "061"
    case "103" => "085"
    case "104" => "005"
    case "112" => "047"
    case _ => "081"
  }

  final class FakeCensus extends HttpPoster {
    override def post(csvBody: Array[Byte]): Array[Byte] =
      new String(csvBody, "UTF-8").split("\n").filter(_.nonEmpty).map { line =>
        val f = CensusCsv.splitCsvLine(line).padTo(5, "")
        censusGeoid(f(1), f(4)) match {
          case Some(g) => CensusCsv.toCsvLine(Seq(f(0), f(1), "Match", "Exact", f(1), "0,0", "1",
            "L", g.take(2), g.slice(2, 5), g.drop(5), "1000"))
          case None => CensusCsv.toCsvLine(Seq(f(0), f(1), "No_Match", "", "", "", "", "", "", "", "", ""))
        }
      }.mkString("\n").getBytes("UTF-8")
  }

  /** Geosupport stand-in: NYC ZIPs resolve to a borough and tract, except a
    * deterministic share that raises like an unknown address.
    */
  def geosupport(house: String, street: String, zip: String): Map[String, String] = {
    val borough = zip.take(3) match {
      case "100" | "101" | "102" => "MANHATTAN"
      case "103" => "STATEN IS"
      case "104" => "BRONX"
      case "112" => "BROOKLYN"
      case "110" | "111" | "113" | "114" | "116" => "QUEENS"
      case _ => throw new GeosupportError(s"no borough for $zip")
    }
    val h = MurmurHash3.stringHash(s"$house|$street|$zip") & 0x7fffffff
    if (h % 5 == 0) throw new GeosupportError("ADDRESS NUMBER OUT OF RANGE")
    Map("First Borough Name" -> borough, "2020 Census Tract" -> f"${h % 100000}%06d")
  }

  final class FakeGeosupport extends GeosupportLike {
    override def address(houseNumber: String, streetName: String,
                         zipCode: String): Map[String, String] =
      geosupport(houseNumber, streetName, zipCode)
  }

  /** The geocode cascade as one sequential function over the same fakes:
    * the model the pipeline's output is checked against.
    */
  def cascadeModel(key: String, a: Addr): String = {
    def clean(s: String) = Option(s).getOrElse("").replaceAll("['\"\\\\]", "")
    val (ad, ci, re, po) = (clean(a.line), clean(a.city), clean(a.region), clean(a.postal))
    val full = s"$ad $ci $re $po".trim
    def census(fields: Seq[String]): Option[String] = {
      val f = CensusCsv.splitCsvLine(CensusCsv.toCsvLine(key +: fields)).padTo(5, "")
      censusGeoid(f(1), f(4))
    }
    if (full.isEmpty) null
    else census(Seq(ad, ci, re, po)).getOrElse {
      val p = AddressParser.reformat(AddressParts(ad, ci, re, po, full))
      census(Seq(p.address, p.city, p.region, p.postalCode)).getOrElse {
        def nonEmpty(s: String) = s != null && s.nonEmpty
        if (!(nonEmpty(p.houseNumber) && nonEmpty(p.streetName) && nonEmpty(p.postalCode))) null
        else
          try {
            val r = geosupport(p.houseNumber, p.streetName, p.postalCode)
            (r.get("First Borough Name").flatMap(NycBatchGeocoder.boroughMap.get),
              r.get("2020 Census Tract")) match {
              case (Some(c), Some(t)) => c + t
              case _ => null
            }
          } catch { case _: GeosupportError => null }
      }
    }
  }

  // ---- generated Sierra data -------------------------------------------------

  /** One address row, with the values the scan returns (already trimmed). */
  final case class Addr(displayOrder: Int, typeId: Int, city: String, region: String,
                        postal: String, addr1: String) {
    /** The address line as the scan's TRIM returns it. */
    def line: String = addr1.trim
  }

  final class Patron(val id: Long, val created: Option[Instant], var updated: Option[Instant],
                     var deleted: Option[LocalDate], val addrs: Seq[Addr], val hasView: Boolean,
                     val home: String) {
    /** The address the pipeline keeps: lowest display order. */
    def chosen: Option[Addr] = addrs.sortBy(a => (a.displayOrder, a.typeId)).headOption
    def hashPlaintext: String = {
      val a = chosen
      def v(f: Addr => String) = a.map(f).getOrElse("")
      s"${id}_${v(_.line)}_${v(_.city)}_${v(_.region)}_${v(_.postal)}"
    }
  }

  private val streets = Array("MAIN", "BROADWAY", "PARK", "LEXINGTON", "AMSTERDAM",
    "FLATBUSH", "ATLANTIC", "GRAND CONCOURSE", "QUEENS", "VICTORY", "O'CONNOR", "ST MARKS")
  private val suffixes = Array("ST", "AVE", "BLVD", "PL", "RD")
  private val dirs = Array("W", "E", "N", "S")
  private val homes = Array("sa", "mp", "jm", "hg", "bt")
  private val nycCities = Array(("NEW YORK", "100"), ("NEW YORK", "101"), ("STATEN ISLAND", "103"),
    ("BRONX", "104"), ("BROOKLYN", "112"), ("JAMAICA", "114"), ("ASTORIA", "111"))
  private val otherCities = Array(("JERSEY CITY", "NJ", "07302"), ("YONKERS", "NY", "10701"),
    ("NEWARK", "NJ", "07102"))

  private def ordinal(n: Int): String = {
    val sfx = if (n % 100 / 10 == 1) "TH" else n % 10 match {
      case 1 => "ST"; case 2 => "ND"; case 3 => "RD"; case _ => "TH"
    }
    s"$n$sfx"
  }

  /** Address line shapes: street, directional, PO box, intersection,
    * blank and quoted.
    */
  private def addrLine(r: SplittableRandom, st: Strata): String = {
    val u = st.pct("shape")
    def street = s"${1 + r.nextInt(2500)} ${streets(r.nextInt(streets.length))} ${suffixes(r.nextInt(suffixes.length))}"
    if (u < 55) street
    else if (u < 67) s"${1 + r.nextInt(900)} ${dirs(r.nextInt(4))} ${ordinal(1 + r.nextInt(220))} ${suffixes(r.nextInt(2))}"
    else if (u < 75) s"PO BOX ${1 + r.nextInt(9999)}"
    else if (u < 82) s"${streets(r.nextInt(streets.length))} & ${dirs(r.nextInt(4))} ${ordinal(1 + r.nextInt(220))} ST"
    else if (u < 90) if (r.nextBoolean()) "" else "   "
    else "\"" + street + "\""
  }

  private def genAddr(r: SplittableRandom, st: Strata, order: Int): Addr = {
    val (city, region, postal) =
      if (st.pct("nyc") < 80) {
        val (c, p) = nycCities(r.nextInt(nycCities.length))
        (c, "NY", f"$p${r.nextInt(100)}%02d")
      } else otherCities(r.nextInt(otherCities.length))
    val zip = st.pct("zip") match {
      case u if u < 5 => ""
      case u if u < 10 => s"$postal-${1000 + r.nextInt(9000)}"
      case _ => postal
    }
    Addr(order, 1 + r.nextInt(2), city, region, zip, addrLine(r, st))
  }

  private def genPatron(r: SplittableRandom, st: Strata, id: Long, created: Option[Instant],
                        updated: Option[Instant]): Patron = {
    val n = st.pct("addresses") match {
      case u if u < 5 => 0
      case u if u < 70 => 1
      case u if u < 92 => 2
      case _ => 3
    }
    val orders = new scala.util.Random(new java.util.Random(r.nextLong())).shuffle((0 until n).toList)
    val home = st.pct("home") match {
      case u if u < 5 => "none"
      case u if u < 8 => ""
      case _ => homes(r.nextInt(homes.length))
    }
    new Patron(id, created, updated, None, orders.map(o => genAddr(r, st, o + 1)),
      st.pct("view") >= 3, home)
  }

  /** Sierra in an in-memory Derby database plus the warehouse and the
    * generator's bookkeeping of which patron each drain delivers, and how.
    */
  final class Db(spark: SparkSession, dir: String, seed: Long, n: Int, tag: String) {
    val url = s"jdbc:derby:memory:perfbench_$tag;create=true"
    private val r = new SplittableRandom(seed)
    private val st = new Strata(seed)
    private val base = Instant.parse("2020-01-01T00:00:00Z")
    val patrons = mutable.LinkedHashMap.empty[Long, Patron]
    private var nextId = 1000000L
    /** Patrons the warehouse knows: address hash, patron row and iphlc. */
    private val known = mutable.Set.empty[Long]
    /** drain name → patron id → mode the patron is emitted under. */
    private val modes = mutable.Map.empty[String, Map[Long, PipelineMode]]
    private val deletedBefore = mutable.Map.empty[(String, Long), Option[LocalDate]]
    private var lastTick: Instant = base
    private val ckpt = s"$dir/checkpoint"
    private val clients = Seq("new", "upd", "del").map(m => m -> s"perfbench_${tag}_$m").toMap

    var warehouseAddress: DataFrame = _
    var warehousePatron: DataFrame = _
    var warehouseIphlc: DataFrame = _

    {
      var t = base
      var groupLeft = 0
      (0 until n).foreach { _ =>
        if (groupLeft == 0) {
          t = t.plusSeconds(1 + r.nextInt(3600))
          groupLeft = 1 + r.nextInt(4)
        }
        groupLeft -= 1
        // 3% are purged records only the deleted scan still sees
        val purged = st.pct("purged") < 3
        val created = if (purged || st.pct("legacy") < 25) None else Some(t)
        val updated =
          if (purged) None else Some(created.getOrElse(base).plusSeconds(r.nextLong(300L * 86400L)))
        val p = genPatron(r, st, nextId, created, updated)
        if (purged || st.pct("deleted") < 8)
          p.deleted = Some(LocalDate.of(2020, 6, 1).plusDays(r.nextInt(390)))
        patrons(nextId) = p
        nextId += 1
      }
      lastTick = patrons.values.flatMap(p => p.created.toSeq ++ p.updated).max
      patrons.values.foreach(p => if (p.addrs.nonEmpty && st.pct("known") < 25) known += p.id)
    }

    /** Backfill: every patron, under the first of NEW, UPDATED and DELETED
      * whose scan sees it (the streams share one micro-batch, and the
      * lowest mode wins).
      */
    def backfillExpected: Set[Long] = {
      modes("backfill") = patrons.values.map(p => p.id ->
        (if (p.created.isDefined) PipelineMode.NewPatrons
         else if (p.updated.isDefined) PipelineMode.UpdatedPatrons
         else PipelineMode.DeletedPatrons)).toMap
      patrons.values.foreach(p => deletedBefore(("backfill", p.id)) = p.deleted)
      patrons.keySet.toSet
    }

    private def exec(conn: Connection, sql: String): Unit = {
      val st = conn.createStatement()
      try st.executeUpdate(sql) finally st.close()
    }

    private def insertPatrons(conn: Connection, ps: Seq[Patron]): Unit = {
      val meta = conn.prepareStatement("INSERT INTO record_metadata VALUES (?, ?, ?, ?, ?)")
      val addr = conn.prepareStatement("INSERT INTO patron_record_address VALUES (?, ?, ?, ?, ?, ?, ?)")
      val view = conn.prepareStatement("INSERT INTO patron_view VALUES (?, ?, ?, ?, ?)")
      try {
        ps.foreach { p =>
          meta.setLong(1, p.id); meta.setString(2, "p")
          meta.setTimestamp(3, p.created.map(Timestamp.from).orNull)
          meta.setTimestamp(4, p.updated.map(Timestamp.from).orNull)
          meta.setDate(5, p.deleted.map(java.sql.Date.valueOf).orNull)
          meta.addBatch()
          p.addrs.foreach { a =>
            addr.setLong(1, p.id); addr.setInt(2, a.displayOrder); addr.setInt(3, a.typeId)
            // stored padded: the scan's TRIM must remove it
            addr.setString(4, s" ${a.city} "); addr.setString(5, a.region)
            addr.setString(6, a.postal); addr.setString(7, a.addr1)
            addr.addBatch()
          }
          if (p.hasView) {
            view.setLong(1, p.id); view.setInt(2, 1 + (p.id % 20).toInt); view.setInt(3, (p.id % 7).toInt)
            view.setString(4, if (p.home.length == 2) p.home + "  " else p.home)
            view.setDate(5, java.sql.Date.valueOf(LocalDate.of(2021, 1, 1).plusDays(p.id % 300)))
            view.addBatch()
          }
        }
        meta.executeBatch(); addr.executeBatch(); view.executeBatch()
      } finally { meta.close(); addr.close(); view.close() }
    }

    private def withConn[A](body: Connection => A): A = {
      val c = DriverManager.getConnection(url)
      try body(c) finally c.close()
    }

    def load(): Unit = {
      withConn { c =>
        Seq(
          """CREATE TABLE record_metadata (id BIGINT, record_type_code VARCHAR(1),
            |  creation_date_gmt TIMESTAMP, record_last_updated_gmt TIMESTAMP,
            |  deletion_date_gmt DATE)""".stripMargin,
          """CREATE TABLE patron_record_address (patron_record_id BIGINT, display_order INT,
            |  patron_record_address_type_id INT, city VARCHAR(64), region VARCHAR(64),
            |  postal_code VARCHAR(32), addr1 VARCHAR(128))""".stripMargin,
          """CREATE TABLE patron_view (id BIGINT, ptype_code INT, pcode3 INT,
            |  home_library_code VARCHAR(16), activity_gmt DATE)""".stripMargin,
          "CREATE INDEX rm_created ON record_metadata (creation_date_gmt)",
          "CREATE INDEX rm_updated ON record_metadata (record_last_updated_gmt)",
          "CREATE INDEX rm_deleted ON record_metadata (deletion_date_gmt)",
          "CREATE INDEX pra_patron ON patron_record_address (patron_record_id)",
          "CREATE INDEX pv_id ON patron_view (id)").foreach(exec(c, _))
        insertPatrons(c, patrons.values.toSeq)
        // a few non-patron records the scans must skip
        (0 until math.max(1, n / 50)).foreach { k =>
          exec(c, s"INSERT INTO record_metadata VALUES (${900000L + k}, 'b', " +
            s"TIMESTAMP('2020-03-01 00:00:00'), TIMESTAMP('2020-03-02 00:00:00'), NULL)")
        }
      }
      buildWarehouse()
      registerClients(traced = false)
    }

    private def buildWarehouse(): Unit = {
      val ks = known.toSeq.sorted.map(patrons)
      val ids = ks.map(p => p.id -> obfuscate(p.id.toString)).toMap
      warehouseAddress = spark.createDataFrame(ks.map { p =>
        Row(obfuscate(p.hashPlaintext), ids(p.id), warehouseGeoid(p.id),
          if (p.id % 3 == 0) null else s"i${p.id % 9}")
      }.asJava, Schemas.redshiftAddress).cache()
      warehousePatron = spark.createDataFrame(ks.map { p =>
        Row(ids(p.id), null, "10001", warehouseGeoid(p.id), java.sql.Date.valueOf("2019-05-01"),
          java.sql.Date.valueOf("2021-02-01"), 3, 4, "sa", "sa")
      }.asJava, Schemas.redshiftPatron).cache()
      warehouseIphlc = spark.createDataFrame(ks.map(p => Row(ids(p.id), s"i${p.id % 9}")).asJava,
        Schemas.redshiftIphlc).cache()
    }

    private def warehouseGeoid(id: Long): String = f"36061${id % 1000000}%06d"

    def registerClients(traced: Boolean): Unit = {
      def reg(m: String, c: PollClient): Unit =
        PollClientRegistry.register(clients(m), if (traced) new Probe.TracedPollClient(c) else c)
      reg("new", new JdbcPollClient.Active(url, "creation_date_gmt"))
      reg("upd", new JdbcPollClient.Active(url, "record_last_updated_gmt"))
      reg("del", new JdbcPollClient.Deleted(url))
    }

    /** Commit tick `j`: new, updated and deleted patrons, each with a
      * watermark past everything committed before. Returns the patrons
      * the drain must deliver.
      */
    def commitTick(j: Int): Set[Long] = {
      val name = s"tick$j"
      val t = lastTick.plusSeconds(3600)
      lastTick = t
      val fresh = (0 until 10).map { _ =>
        val p = genPatron(r, st, nextId, Some(t), Some(t))
        nextId += 1
        p
      }
      val live = patrons.values.filter(_.deleted.isEmpty).map(_.id).toIndexedSeq
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < 10) picked += live(r.nextInt(live.size))
      val (upd, del) = picked.toSeq.splitAt(6)
      val delDate = LocalDate.of(2021, 7, 1).plusDays(j)
      withConn { c =>
        c.setAutoCommit(false)
        insertPatrons(c, fresh)
        val u = c.prepareStatement("UPDATE record_metadata SET record_last_updated_gmt = ? WHERE id = ?")
        upd.foreach { id => u.setTimestamp(1, Timestamp.from(t)); u.setLong(2, id); u.addBatch() }
        u.executeBatch(); u.close()
        val d = c.prepareStatement("UPDATE record_metadata SET deletion_date_gmt = ? WHERE id = ?")
        del.foreach { id => d.setDate(1, java.sql.Date.valueOf(delDate)); d.setLong(2, id); d.addBatch() }
        d.executeBatch(); d.close()
        c.commit()
      }
      fresh.foreach(p => patrons(p.id) = p)
      upd.foreach(id => patrons(id).updated = Some(t))
      del.foreach(id => patrons(id).deleted = Some(delDate))
      (fresh.map(_.id) ++ upd ++ del).foreach(id => deletedBefore((name, id)) = patrons(id).deleted)
      modes(name) = (fresh.map(_.id -> PipelineMode.NewPatrons) ++
        upd.map(_ -> PipelineMode.UpdatedPatrons) ++
        del.map(_ -> PipelineMode.DeletedPatrons)).toMap
      modes(name).keySet
    }

    /** The (patron_id, geoid, deletion_date_et) the drain must emit. */
    def expectedRecord(drain: String, id: Long): (String, String, String) = {
      val p = patrons(id)
      val deletion = deletedBefore((drain, id)).map(_.toString).orNull
      val geoid = modes(drain)(id) match {
        case PipelineMode.DeletedPatrons => if (known(id)) warehouseGeoid(id) else null
        case PipelineMode.UpdatedPatrons if known(id) => warehouseGeoid(id)
        case _ => p.chosen.map(a => cascadeModel(id.toString, a)).orNull
      }
      (obfuscate(id.toString), geoid, deletion)
    }

    private def stream(m: String): DataFrame =
      spark.readStream.format(classOf[PollingSourceProvider].getName)
        .option("client", clients(m)).option("limit", pageSize.toString).load()

    private def pageSize = 10000

    /** One `runAll` drain to termination; returns the query id. */
    def drain(sink: RecordSink, deps: PatronPipeline.Deps): java.util.UUID = {
      val q = PatronStream.runAll(stream("new"), stream("upd"), stream("del"), deps, ckpt, sink)
      q.awaitTermination()
      q.id
    }

    def drop(): Unit =
      try DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
      catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
  }
}

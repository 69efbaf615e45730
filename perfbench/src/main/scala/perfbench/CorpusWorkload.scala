package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import graft.SparkEntry
import graft.operators.{SuffixArray, TransientPersists}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import Main._

/** One query per heavy text operator family, run as passes in a fixed
  * order over documents derived from the reference test data (see
  * [[CorpusGen]]). Each pass collects every query's result to the driver
  * and releases transient persists between queries; suffix-array caches
  * are cleared before each pass so no pass reuses an index built by an
  * earlier one.
  *
  * Outputs are checked outside the timed regions: an untimed reference
  * pass writes every result to parquet (for the DuckDB oracle, run by
  * run.py) and records its row count and order-invariant checksum, and
  * every timed pass collects each result and must reproduce both exactly
  * (the digest is computed after the query's clock stops).
  */
final class CorpusWorkload(seed: Long, tiny: Boolean, runDir: String) extends Workload {
  import CorpusWorkload._

  private var dir: String = _
  private var documents = 0L

  private def fn(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"$name is not a registered query"))

  /** A derivation of the sf0.1 documents, or of the sf0.001 ones when tiny. */
  override def setUp(spark: SparkSession, dir: String): Unit = {
    documents =
      if (tiny) CorpusGen.write(spark, dataFile("sf0.001"), dir, seed, tinyDocuments)
      else CorpusGen.write(spark, dataFile("sf0.1"), dir, seed, fullDocuments)
    this.dir = dir
  }

  private val resultsDir = s"$runDir/results"
  private var reference: Map[String, Either[String, (Long, Long)]] = Map.empty
  /** Row count and checksum of every result collected after the reference. */
  private val digests = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[(Long, Long)]]
  private val failures = mutable.LinkedHashMap.empty[String, String]

  /** The reference pass doubles as the warm-up: it writes every result to
    * parquet for the DuckDB oracle and records the row count and checksum
    * every later pass must reproduce.
    */
  override def warmUp(spark: SparkSession): Unit = {
    SuffixArray.clearCaches(spark)
    reference = queries.map { name =>
      val r =
        try {
          val path = s"$resultsDir/$name"
          fn(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)
          Right(digest(spark.read.parquet(path).collect()))
        } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        finally TransientPersists.releaseAll()
      name -> r
    }.toMap
  }

  /** Collect one query's result, then release its transient persists. */
  private def collect(spark: SparkSession, name: String): Either[String, Array[Row]] =
    try Right(fn(name)(spark, dir).collect())
    catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    finally TransientPersists.releaseAll()

  /** Row count and an order-invariant checksum of a result. */
  private def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.foldLeft(0L)((acc, r) => acc + MurmurHash3.stringHash(r.toString)))

  private def record(name: String, rows: Array[Row]): Unit =
    digests.getOrElseUpdate(name, mutable.LinkedHashSet.empty) += digest(rows)

  override def run(spark: SparkSession, runner: OpRunner, seconds: Int): Outcome = {
    // timed passes: each query is collected and timed, then digested
    val passWalls = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val queryTimes = mutable.ArrayBuffer.empty[(String, Boolean, Double)]
    var attempted = 0
    var failed = 0
    val t0 = System.nanoTime()
    var i = 0
    // two passes at least: the medians then average over more of the
    // machine's moment-to-moment speed than one pass does
    while (i < runner.minOps(2) || runner.fits(t0, seconds, passWalls.map(_._2).toSeq)) {
      val traced = runner.tracedAt(i)
      SuffixArray.clearCaches(spark)
      val cpu0 = cpuSeconds()
      val (results, wall) = runner.measure(traced) {
        queries.map { name =>
          val q0 = System.nanoTime()
          val result = Probe.op(name)(collect(spark, name))
          (name, result, (System.nanoTime() - q0) / 1e9)
        }
      }
      passCpu += cpuSeconds() - cpu0
      results.foreach {
        case (name, Right(rows), dt) =>
          queryTimes += ((name, traced, dt))
          record(name, rows)
        case (name, Left(e), _) =>
          failed += 1
          failures(name) = e
      }
      attempted += results.size
      passWalls += ((traced, wall))
      log(f"pass $i (traced=$traced): $wall%.2f s")
      i += 1
    }
    val untracedWalls = passWalls.collect { case (false, w) => w }.toSeq

    val checks = queries.map { name =>
      val seen = digests.getOrElse(name, mutable.LinkedHashSet.empty)
      reference(name) match {
        case Right(ref) =>
          Check(s"stable:$name", seen.nonEmpty && seen.forall(_ == ref),
            s"rows/checksum reference ${ref._1}/${ref._2}, passes ${seen.mkString(" ")}")
        case Left(e) => Check(s"stable:$name", ok = false, s"reference pass: $e")
      }
    } ++ failures.map { case (n, msg) => Check(s"timed:$n", ok = false, msg) }

    // a failed query is never timed, and any failure fails the run, so a
    // broken query cannot pass as a fast one. End-to-end figures come from
    // untraced passes only.
    val e2e = Seq(
      ("wall_s", median(untracedWalls), "s"),
      // median over every query run of the untraced passes
      ("op_p50_s", median(queryTimes.collect { case (_, false, dt) => dt }.toSeq), "s"),
      ("cpu_s", median(passCpu.toSeq), "s"))
    val perQuery = queries.map { name =>
      s"queries.${name.takeWhile(_ != '_')}_s" ->
        median(queryTimes.collect { case (`name`, true, dt) => dt }.toSeq)
    }
    val layers = sparkLayers(runner.samples.toSeq, queries.size) ++ perQuery ++
      Map("trace.overhead_pct" -> overheadPct(passWalls.toSeq))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Outcome(attempted, failed, e2e, layers, checks,
      Seq(
        "inputs_dir" -> q(dir),
        "documents" -> documents.toString,
        "results_dir" -> q(resultsDir),
        "passes" -> passWalls.size.toString,
        "pass_wall_s" -> passWalls.map(p => num(p._2)).mkString("[", ", ", "]"),
        "query_s" -> queryTimes.map { case (n, t, dt) => s"[${q(n)}, $t, ${num(dt)}]" }.mkString("[", ", ", "]"),
        "failed_ratio" -> num(failed.toDouble / math.max(1, attempted)),
        "oracle_sql" -> oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")))
  }
}

object CorpusWorkload {
  /** Documents in a derivation: 5% of sf0.1 (full) or 20% of sf0.001 (tiny). */
  val fullDocuments = 250
  val tinyDocuments = 100

  def dataFile(sf: String): String =
    s"${sys.props.getOrElse("perfbench.data", "perfbench/data")}/documents_$sf.parquet"

  /** One query per heavy text operator family, in a fixed order:
    * suffix-array build with LCP and cut, prefix-filtered Jaccard, APSS,
    * Gopher.
    */
  val prefixes: Seq[String] = Seq("q127", "q24", "q140", "q149")

  lazy val queries: Seq[String] = prefixes.map { p =>
    SparkEntry.queries.keySet.find(_.startsWith(p + "_")).getOrElse(
      throw new IllegalArgumentException(s"no registered query $p"))
  }
}

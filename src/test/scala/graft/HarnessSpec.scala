package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.operators.{Checkpoints, SuffixArray, TransientPersists}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The harness core every bench and verify main shares: the session
  * policy, the measured run, conf pins, the child-JVM launcher and the
  * artifact JSON.
  */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A data dir that does not exist: every registered query throws on it. */
  private def missingDir: String =
    Files.createTempDirectory("harness").resolve("no_such_sf").toString

  test("the session factory fixes 32 shuffle partitions under AQE, UTC and nanosAsLong") {
    val conf = Harness.conf.toMap
    assert(conf("spark.master") == s"local[${Harness.cpus}]")
    assert(conf("spark.sql.shuffle.partitions") == "32")
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("an unregistered or a throwing query runs ok=false with -1 fields and releases transient persists") {
    Seq("no_such_query", "q01_pricing_summary").foreach { name =>
      val held = TransientPersists.track(spark.range(10).toDF())
      held.count()
      assert(held.storageLevel != StorageLevel.NONE)
      assert(Harness.run(spark, name, missingDir) ==
        Harness.Run(ok = false, -1.0, -1L, -1L, -1L))
      assert(held.storageLevel == StorageLevel.NONE, name)
    }
  }

  test("a measured run frees the checkpoints its query created and keeps the SA cache entries") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    for (_ <- 1 to 2;
         q <- Seq("q115_equidepth_hist", "q129_quality_ensemble", "q168_cc_incremental"))
      assert(Harness.run(spark, q, "/root/testdata/sf0.001").ok, q)
    val cached = SuffixArray.cachedFrames.flatMap(Checkpoints.roots).map(_.id).toSet
    assert(sc.getPersistentRDDs.keySet == baseline ++ cached)
  }

  test("a Verify dump frees the checkpoints its queries created and keeps the SA cache entries") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    val out = Files.createTempDirectory("verify-dump").toString
    val qs = Set("q115_equidepth_hist", "q129_quality_ensemble", "q168_cc_incremental")
    for (_ <- 1 to 2)
      assert(Verify.dump(spark, "/root/testdata/sf0.001", out, Some(qs)).isEmpty)
    qs.foreach(q => assert(new File(out, q).isDirectory, q))
    val cached = SuffixArray.cachedFrames.flatMap(Checkpoints.roots).map(_.id).toSet
    assert(sc.getPersistentRDDs.keySet == baseline ++ cached)
  }

  test("broadcast and initialPartitionNum pins are restored after a throwing query or body") {
    val pins = ScaleRehearsal.NoBroadcastPins :+ ScaleRehearsal.ChildGranularity
    val initKey = ScaleRehearsal.ChildGranularity._1
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "12345")
    try {
      def current = pins.map { case (k, _) => spark.conf.getOption(k) }
      val before = current
      assert(spark.conf.getOption(initKey).isEmpty)
      val r = Harness.withConf(spark, pins: _*) {
        assert(current == pins.map(p => Some(p._2)))
        Harness.run(spark, "q01_pricing_summary", missingDir)
      }
      assert(!r.ok)
      assert(current == before)
      intercept[IllegalStateException] {
        Harness.withConf(spark, pins: _*) { throw new IllegalStateException("boom") }
      }
      assert(current == before)
      assert(spark.conf.getOption(initKey).isEmpty)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("the artifact JSON round-trips hostile strings and keeps printed precision") {
    val hostile = "line1\nline2\t\"quoted\\path\"\r\u0001ctrl"
    val text = Harness.json.writeValueAsString(
      Harness.obj("r" -> hostile, "secs" -> Harness.fixed(1.0, 3)))
    assert(!text.exists(_ < ' '))
    val back = Harness.json.readTree(text)
    assert(back.get("r").asText == hostile)
    // a child artifact re-embedded in its parent keeps "1.000"
    assert(Harness.json.writeValueAsString(back) == text)
    assert(text.contains("\"secs\":1.000"))
  }

  private def forkDirs(): (File, File) = {
    val dir = Files.createTempDirectory("harness-fork").toFile
    (new File(dir, "out"), new File(dir, "child_tmp"))
  }

  test("the launcher returns true when the child writes its out file, and removes its tmpdir") {
    val (out, tmp) = forkDirs()
    assert(Harness.fork("graft.HarnessForkChild", Seq("write", out.getPath),
      out, tmp, "64m", timeoutSecs = 120, ProcessBuilder.Redirect.INHERIT))
    // the child ran with the launcher-owned tmpdir
    assert(new String(Files.readAllBytes(out.toPath)) == tmp.getAbsolutePath)
    assert(!tmp.exists)
  }

  test("the launcher kills a child past its timeout, returns false and removes its tmpdir") {
    val (out, tmp) = forkDirs()
    val t0 = System.nanoTime()
    assert(!Harness.fork("graft.HarnessForkChild", Seq("sleep", out.getPath),
      out, tmp, "64m", timeoutSecs = 3, ProcessBuilder.Redirect.INHERIT))
    assert((System.nanoTime() - t0) / 1e9 < 60)
    assert(!out.exists && !tmp.exists)
  }
}

/** Child main for HarnessSpec's launcher tests. `write <file>`: write this
  * JVM's java.io.tmpdir into the file and exit. `sleep <file>`: sleep
  * far past any test timeout without writing.
  */
object HarnessForkChild {
  def main(args: Array[String]): Unit = args(0) match {
    case "write" => Files.write(Paths.get(args(1)),
      System.getProperty("java.io.tmpdir").getBytes)
    case "sleep" => Thread.sleep(600000)
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** O6 env config: defaults mirror the reference's, overrides parse. */
class ConfigSpec extends AnyFunSuite {

  test("defaults match the reference envelope") {
    val c = Config.fromEnv(Map.empty)
    assert(c.activePatronBatchSize == 10000)
    assert(c.deletedPatronBatchSize == 500000)
    assert(c.startingCreationDt == "2020-01-01 00:00:00-05")
    assert(c.startingDeletionDate == "2020-01-01")
    assert(!c.ignoreCache && !c.ignoreKinesis && c.maxBatches.isEmpty)
  }

  test("overrides and toggles parse (reference IGNORE_* string convention)") {
    val c = Config.fromEnv(Map(
      "ACTIVE_PATRON_BATCH_SIZE" -> "4", "DELETED_PATRON_BATCH_SIZE" -> "3",
      "MAX_BATCHES" -> "3",
      "IGNORE_CACHE" -> "True", "IGNORE_KINESIS" -> "False"))
    assert(c.activePatronBatchSize == 4 && c.deletedPatronBatchSize == 3)
    assert(c.maxBatches.contains(3))
    assert(c.ignoreCache && !c.ignoreKinesis)
  }

  test("default watermark parses to the reference instant") {
    // 2020-01-01 00:00:00-05 == 2020-01-01T05:00:00Z
    assert(Config.startMicros("2020-01-01 00:00:00-05") ==
      java.time.Instant.parse("2020-01-01T05:00:00Z").getEpochSecond * 1000000L)
  }
}

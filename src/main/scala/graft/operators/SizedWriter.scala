package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, pmod, struct, xxhash64}

/** Size-targeted parquet writer — the output half of the small-file
  * problem: a 100 TB job that writes `spark.sql.shuffle.partitions`
  * files per day produces either millions of KB-sized files (metadata
  * pressure on every downstream scan) or a handful of multi-GB files
  * (no read parallelism). This writer picks the file COUNT from the
  * data: measure compressed bytes/row on a bounded sample, size the
  * final exchange to hit `targetFileBytes` per file.
  *
  * Cost model: one metadata-cheap `count()` (parquet row counts come
  * from footers; for an in-memory plan Spark counts without
  * materializing columns), one `sampleRows`-bounded sample written to a
  * temp dir to measure POST-compression density (uncompressed row-size
  * estimates miss parquet's 3–10× encoding gains), then the single
  * full write. The sample write is driver-local and bounded — never
  * proportional to the input.
  *
  * With `clusterBy`, rows are range-partitioned and sorted within
  * partitions on those columns, so each output file covers a disjoint
  * key range and parquet row-group min/max stats prune file scans for
  * key-predicated readers — the poor man's clustered index, and the
  * layout every downstream incremental join wants.
  *
  * The sample is drawn by CONTENT HASH (`xxhash64(struct(*)) % q == 0`
  * with q sized from the row count), not `limit()`: limit()
  * short-circuits on the input's first partitions, so a
  * partition-ordered heterogeneous input (e.g. text docs sorted by
  * source, where one source compresses 5× better) would estimate
  * density from one stratum only. The hash filter touches every
  * partition uniformly and is deterministic across runs and cluster
  * sizes. It costs one extra scan of the input — a map-only pass, no
  * shuffle; the count() pass is already paying the scan for non-parquet
  * plans, and for parquet inputs the count is footer-only so this is
  * the single data scan before the write. Identical rows hash together
  * (all copies in or out) — a slight clumping bias on dup-heavy inputs,
  * bounded by the dup rate. Estimate error moves file sizes, never
  * rows — the write is always complete and exact.
  */
object SizedWriter {

  /** @return (number of files written, estimated compressed bytes/row) */
  def writeSized(
      df: DataFrame,
      path: String,
      targetFileBytes: Long,
      clusterBy: Seq[String] = Nil,
      sampleRows: Int = 2000): (Int, Double) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val total = df.count()
    if (total == 0L) {
      df.limit(0).write.mode(SaveMode.Overwrite).parquet(path)
      return (1, 0.0)
    }

    val tmp = Files.createTempDirectory("graft-sized-writer-sample")
    val bytesPerRow =
      try {
        // Modulus targeting ~sampleRows hash-selected rows; limit() on
        // top is only a hard cap for the temp write (hash variance or a
        // dup-heavy input can overshoot the expectation).
        val q = math.max(1L, total / sampleRows.toLong)
        val sampled = df
          .where(pmod(xxhash64(struct(df.columns.map(col): _*)), lit(q)) === 0)
          .limit(sampleRows).coalesce(1)
        sampled.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val n = df.sparkSession.read.parquet(tmp.toString).count()
        if (n == 0L) {
          // Degenerate hash draw (tiny input, unlucky modulus): fall
          // back to a bounded head sample rather than divide by zero.
          val m = math.min(total, sampleRows.toLong)
          df.limit(m.toInt).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          dirBytes(tmp).toDouble / m.toDouble
        } else dirBytes(tmp).toDouble / n.toDouble
      } finally JavaUtils.deleteQuietly(tmp.toFile)

    val nFiles = math.max(1L,
      math.ceil(total.toDouble * bytesPerRow / targetFileBytes.toDouble).toLong)
      .min(Int.MaxValue.toLong).toInt
    val shaped =
      if (clusterBy.nonEmpty) {
        val cols = clusterBy.map(col)
        df.repartitionByRange(nFiles, cols: _*).sortWithinPartitions(cols: _*)
      } else df.repartition(nFiles)
    shaped.write.mode(SaveMode.Overwrite).parquet(path)
    (nFiles, bytesPerRow)
  }

  private def dirBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }
}

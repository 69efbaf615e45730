package graft.tools

/** Round-tooling dev main (never invoked by the driver): measures the
  * NO-BROADCAST pinned 1× base for a comma list of queries — exactly
  * Bench's pinnedRuns protocol (broadcast joins disabled, child
  * shuffle granularity initialPartitionNum=256, min of `runs`) — and
  * writes a `scale_rehearsal_base.tsv`-format file, so a targeted
  * ScaleRehearsal run can gate a single query's exponents in minutes
  * without the full bench (args: sfDir outFile query[,query...] [runs]).
  */
object PinnedBaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val runs = if (args.length > 3) args(3).toInt else 2
    val spark = graft.Harness.session()
    val warmupDir = "/root/testdata/sf0.001"
    // Bench.pinnedRuns conf, verbatim
    val lines = graft.Harness.withConf(spark, graft.ScaleRehearsal.NoBroadcastPins :+
        graft.ScaleRehearsal.ChildGranularity: _*) {
      if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
        names.foreach(graft.Harness.run(spark, _, warmupDir))
      names.map { n =>
        val samples = (1 to runs).map(_ => graft.Harness.run(spark, n, sfDir)).filter(_.ok)
        val (s, b) =
          if (samples.isEmpty) (-1.0, -1L)
          else (samples.map(_.secs).min, samples.map(_.writeBytes).min)
        System.err.println(f"[pinnedbase] $n secs=$s%.3f bytes=$b")
        s"$n\t$s\t$b"
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (lines.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}

package graft.tools

/** Round-tooling dev main (never invoked by the driver): times a
  * comma-listed subset of SparkEntry queries at a given SF dir with N
  * passes, printing per-pass seconds and shuffle-write bytes. Exists so
  * a wall regression can be bisected in minutes without running the
  * full 173-query bench (args: sfDir queries [passes] [warmupDir]).
  * One query, three passes (`<sfDir> <name> 3`) is the single-query
  * bench timing.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val passes = if (args.length > 2) args(2).toInt else 3
    val warmupDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val spark = graft.Harness.session()
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
      names.foreach(graft.Harness.run(spark, _, warmupDir))
    (1 to passes).foreach { p =>
      names.foreach { n =>
        val r = graft.Harness.run(spark, n, sfDir)
        println(f"[time] pass=$p $n%-32s ${if (r.ok) f"${r.secs}%8.2f s" else "FAILED"} write=${r.writeBytes / 1048576.0}%9.2f MB input=${r.inputBytes / 1048576.0}%9.2f MB")
      }
    }
    spark.stop()
  }
}

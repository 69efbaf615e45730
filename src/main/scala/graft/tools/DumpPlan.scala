package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Round-tooling dev main (never invoked by the driver): dumps the
  * `explain("formatted")` physical plan of each named SparkEntry query
  * to `<outDir>/<name>_<tag>.txt` — the before/after plan evidence the
  * optimization rounds commit under plans/r<N>/.
  *
  * args: outDir tag query[,query...] [sfDir]
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.Harness.session()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      val path = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(path,
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[dumpplan] wrote $path (${plan.length} chars)")
      graft.operators.TransientPersists.releaseAll()
    }
    spark.stop()
  }
}

package graft

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare.
  *
  * args: sfDir outDir [comma-separated query-name filter], e.g.
  * `runMain graft.Verify <sfDir> <outDir> q24_ngram_jaccard,q127_dup_substring_cut`
  * dumps just those queries so `tools/t2check.py <outDir>` gates them.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // A throwing query must not vanish from the correctness artifact
    // (round 7: 15 broken queries were silently absent). Dump a 1-row
    // `err` parquet in its place — the driver's compare then reports a
    // visible schema/row mismatch for that query instead of omitting it.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        try {
          import spark.implicits._
          Seq(s"QUERY FAILED: $msg").toDF("err")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name err-row dump failed: ${e2.getMessage}")
        }
      } finally graft.operators.TransientPersists.releaseAll()
    }
    Harness.writeJson(s"$outDir/oracle_sql.json", Harness.obj(SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }.toSeq: _*))
    // Machine-readable failure record beside the dumps (and loud on stderr).
    Harness.writeJson(s"$outDir/errors.json", Harness.obj(errors.toSeq: _*))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}

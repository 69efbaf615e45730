package graft

import org.apache.spark.sql.SparkSession

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
    val errors = dump(spark, sfDir, outDir, only)
    Harness.writeJson(s"$outDir/oracle_sql.json", Harness.obj(SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }.toSeq: _*))
    // Machine-readable failure record beside the dumps (and loud on stderr).
    Harness.writeJson(s"$outDir/errors.json", Harness.obj(errors: _*))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.map(_._1).mkString(", ")}")
    spark.stop()
  }

  /** Write each registered query's result over `sfDir` (those in `only`,
    * when given) to `outDir/<name>` as one parquet file, each under
    * [[Harness.queryLifetime]] so no query's checkpoints outlive its
    * dump. Returns the failed queries with their messages.
    *
    * A throwing query must not vanish from the correctness artifact
    * (round 7: 15 broken queries were silently absent). Dump a 1-row
    * `err` parquet in its place — the oracle compare then reports a
    * visible schema/row mismatch for that query instead of omitting it.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Option[Set[String]]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.ArrayBuffer[(String, String)]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        Harness.queryLifetime(spark) {
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          } catch { case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            System.err.println(s"[verify] $name failed: $msg")
            errors += name -> msg
            try {
              import spark.implicits._
              Seq(s"QUERY FAILED: $msg").toDF("err")
                .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            } catch { case e2: Throwable =>
              System.err.println(s"[verify] $name err-row dump failed: ${e2.getMessage}")
            }
          }
        }
      }
    errors.toSeq
  }
}

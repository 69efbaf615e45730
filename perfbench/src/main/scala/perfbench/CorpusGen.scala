package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** Seeded derivation of the `documents` table from a copy of the engine's
  * reference test data (`perfbench/data/documents_sf<sf>.parquet`).
  *
  * Documents are grouped into duplicate clusters: texts that are equal once
  * trailing " dup" tokens are dropped, which covers exact copies and the
  * near-duplicates the dedup, suffix-array and Jaccard operators key on.
  * A derivation keeps the same share of the clusters of each size (so
  * duplicate shares are exact for every seed), picks which clusters with
  * the seed, keeps the documents' relative order and renumbers `doc_id`
  * from 0. Texts, languages, sources and lengths are the reference rows'
  * own. The same (seed, source, size) always yields the same file.
  */
object CorpusGen {
  def base(text: String): String = {
    var t = text
    while (t.endsWith(" dup")) t = t.dropRight(4)
    t
  }

  private def shuffled[A](xs: Seq[A], r: SplittableRandom): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Write `<dir>/documents.parquet` with about `docs` documents derived
    * from `source`, or all of them when `docs` is at least its size.
    * Returns the number of documents written.
    */
  def write(spark: SparkSession, source: String, dir: String, seed: Long, docs: Int): Long = {
    val ref = spark.read.parquet(source)
    val rows = ref.collect().sortBy(_.getAs[Long]("doc_id")).toSeq
    val share = math.min(1.0, docs.toDouble / rows.size)
    val clusters = rows.groupBy(r => base(r.getAs[String]("text"))).values.toSeq
      .map(_.sortBy(_.getAs[Long]("doc_id")))
      .sortBy(_.head.getAs[Long]("doc_id"))
    val r = new SplittableRandom(seed)
    val picked = clusters.groupBy(_.size).toSeq.sortBy(_._1).flatMap { case (_, cs) =>
      shuffled(cs, r).take(math.round(cs.size * share).toInt)
    }.flatten.sortBy(_.getAs[Long]("doc_id"))
    val out = picked.zipWithIndex.map { case (row, i) =>
      Row.fromSeq(ref.schema.fieldNames.toSeq.map {
        case "doc_id" => i.toLong
        case f => row.getAs[Any](f)
      })
    }
    spark.createDataFrame(out.asJava, ref.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    out.size.toLong
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Text-side LSH audit: MinHash band bucket occupancy and the star-edge
  * graph size for a documents corpus — the numbers behind (a) the CC
  * auto-select threshold (edges decide flood vs contract; VERDICT r13
  * item 3) and (b) the saturation story (the legacy 30-word vocabulary
  * saturates buckets; the Zipf vocabulary must not — VERDICT r13 item 2).
  *
  * Usage: runMain graft.tools.TextLshAudit <sfDir> [<sfDir> ...]
  * Prints one row per corpus: docs, band rows, distinct buckets,
  * multi-member buckets, bucket-size p50/p99/max, star edges, sym edge
  * rows (what [[graft.operators.ConnectedComponents.minLabel]] sees).
  */
object TextLshAudit {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = graft.Session.builder("graft-text-lsh-audit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(f"${"corpus"}%-28s ${"docs"}%9s ${"buckets"}%9s ${"multi"}%8s " +
      f"${"p50"}%5s ${"p99"}%6s ${"max"}%8s ${"star_edges"}%11s")
    dirs.foreach { d =>
      val docs = graft.Tables.documents(spark, d).select("doc_id", "text")
      val bands = graft.queries.TextQueries.bandKeys(docs).persist()
      val nDocs = docs.count()
      val sizes = bands.groupBy("band_idx", "band")
        .agg(count(lit(1)).as("n")).persist()
      val occ = sizes.agg(count(lit(1)).as("buckets"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("multi"),
        expr("percentile_approx(n, 0.5)").as("p50"),
        expr("percentile_approx(n, 0.99)").as("p99"),
        max(col("n")).as("mx"),
        sum(col("n") - 1).as("star_edges")).head()
      println(f"$d%-28s $nDocs%9d ${occ.getLong(0)}%9d ${occ.getLong(1)}%8d " +
        f"${occ.getLong(2)}%5d ${occ.getLong(3)}%6d ${occ.getLong(4)}%8d " +
        f"${occ.getLong(5)}%11d")
      bands.unpersist(); sizes.unpersist()
    }
    spark.stop()
  }
}

package graft.tools

import graft.pipeline.{CorpusDedup, Curation}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage attribution for the pipeline suite's curate shape (VERDICT r13
  * item 6: p_curate_full is the largest composed cell at sf10). Times
  * each stage in isolation, the composed DAG as shipped, and the
  * composed DAG with the multiply-referenced `kept` frame eagerly
  * materialized — the q115 double-fill class: `kept` (which embeds the
  * whole keepBest chain) feeds BOTH the decontamination probe and the
  * final join, so an unpersisted composition computes the dedup chain
  * twice inside one action.
  *
  * Usage: runMain graft.tools.CurateProfile [sfDir]
  */
object CurateProfile {
  // the exact materialization PipelineShapes' bench rows use (count() on
  // the hash-fold agg — head() would EVALUATE the long sum and overflow
  // under ANSI; count() prunes the sum but still executes the DAG)
  private def forced(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(sum(col("h")).as("fold")).count()

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.Session.builder("graft-curate-profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def cleanup(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache(); System.gc()
    }
    def t(name: String)(f: => Unit): Unit = {
      cleanup()
      val t0 = System.nanoTime()
      f
      println(f"[curate] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    val dd = graft.Tables.documents(spark, dir)
    val n = dd.count()
    println(s"[curate] corpus $dir ($n docs)")

    def composed(materializeKept: Boolean): DataFrame = {
      val verdict = CorpusDedup.keepBest(dd)
      var kept = dd.join(verdict.filter(col("kept")).select("doc_id"), "doc_id")
      if (materializeKept) { kept = kept.persist(); kept.count() }
      val bench = dd.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"))
      val cont = Curation.decontaminate(
        kept.select(col("doc_id"), col("text")), bench)
      val clean = kept.join(
        cont.filter(col("contamination") > 0.2).select("doc_id"),
        Seq("doc_id"), "left_anti")
      Curation.mixtureSample(clean, "lang",
        Map("en" -> 0.4, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15,
          "de" -> 0.15),
        budget = 250L * (1L max (n / 500L)))
    }
    // stage isolation
    t("stage: keepBest verdict")(forced(CorpusDedup.keepBest(dd)))
    t("stage: decontaminate(all docs)")(forced(Curation.decontaminate(
      dd.select(col("doc_id"), col("text")),
      dd.filter(col("doc_id") % 97 === 0).select(col("doc_id"), col("text")))))
    t("stage: mixtureSample(all docs)")(forced(Curation.mixtureSample(
      dd, "lang", Map("en" -> 0.4, "fr" -> 0.15, "es" -> 0.15,
        "zh" -> 0.15, "de" -> 0.15), budget = 250L * (1L max (n / 500L)))))
    // the shape as shipped vs kept materialized once
    t("composed (as shipped)")(forced(composed(materializeKept = false)))
    t("composed (kept materialized)")(forced(composed(materializeKept = true)))
    spark.stop()
  }
}

package graft.tools

import graft.SparkEntry

/** Plan audit: print formatted physical plans for the named queries (or a
  * default set) — used to check pushdown/broadcast/codegen per the scale
  * checklist (PushedFilters reach the scan, dims broadcast, WholeStageCodegen
  * spans are wide, no stray CartesianProduct/SortMergeJoin where a hash join
  * belongs).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
    else Seq("q02_filter", "q06_enrich_join", "q13_argmax_argmin",
      "q22_rollup_revenue", "q25_cosine_topk", "q27p_minhash_pairs")
    val spark = graft.Session.local(4, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

package graft.tools

import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

/** Flood-vs-contraction measurement for connected components (VERDICT
  * r11 item 6): times [[ConnectedComponents.minLabel]] (min-label flood
  * + pointer jumps, the default) against [[ConnectedComponents.contract]]
  * (Kiveris large-star/small-star) on PATH graphs — the adversarial
  * diameter topology the GRAFT_CHAIN_DOCS corpus induces through the
  * MinHash pipeline, generated here directly so diameters up to 10⁶
  * are reachable without materializing a 10⁶-doc corpus.
  *
  * Emits one table row per (diameter, algo): rounds, wall seconds, and
  * a correctness check (exactly one component labeled by the global
  * min). GRAFT_CC_DIAMS overrides the diameter list.
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder("graft-ccbench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val diams = sys.env.getOrElse("GRAFT_CC_DIAMS", "1000,10000,100000,1000000")
      .split(",").map(_.trim.toLong).filter(_ > 0)
    println(f"${"diameter"}%10s ${"algo"}%10s ${"rounds"}%7s ${"wall_s"}%8s ok")
    diams.foreach { d =>
      val vertices = spark.range(d + 1).select(col("id"))
      val edges = spark.range(d).select(col("id").as("_s"), (col("id") + 1).as("_d"))
      val sym = edges.unionByName(
        edges.select(col("_d").as("_s"), col("_s").as("_d")))
      Seq("flood", "contract", "hybrid", "auto").foreach { algo =>
        val t0 = System.nanoTime()
        // every arm forced EXPLICITLY via the algo parameter (r13's
        // flood arm silently measured the hybrid until ADVICE caught
        // it); "auto" is the r14 default — the edge-count probe must
        // land ≈ the best forced arm on every topology here
        val (labels, rounds) =
          ConnectedComponents.minLabel(vertices, "id", sym, "_s", "_d",
            algo = algo)
        val r = labels.agg(countDistinct(col("cluster_id")).as("k"),
          min(col("cluster_id")).as("m"), count(lit(1)).as("n")).head()
        val wall = (System.nanoTime() - t0) / 1e9
        val ok = r.getLong(0) == 1L && r.getLong(1) == 0L && r.getLong(2) == d + 1
        println(f"$d%10d $algo%10s $rounds%7d $wall%8.2f $ok")
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
      }
    }
    spark.stop()
  }
}

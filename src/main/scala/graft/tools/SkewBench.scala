package graft.tools

import org.apache.spark.sql.functions._

/** Measures the skew levers on a deliberately pathological join: a fact
  * where 90% of rows share ONE key (the hot-advertiser / null-bucket
  * shape) joined to a broadcast-ineligible dim. Three arms:
  *
  *  - `plain`  — AQE off, broadcast off: the naive sort-merge join; the
  *               hot key lands on one reducer, wall ≈ that task.
  *  - `salted` — operators/Salt.saltedJoin (fact salted `buckets` ways,
  *               dim replicated): the hot key spreads over `buckets`
  *               reducers at the cost of a `buckets`× dim explode.
  *  - `aqe`    — AQE skew-join splitting, broadcast still off: what the
  *               runtime fixes on its own for sort-merge inputs.
  *
  * All three arms verify the SAME exact aggregate (row count + value
  * sum over the joined payloads), so a lever can't cheat by dropping
  * rows. Usage: runMain graft.tools.SkewBench [rows] [buckets]
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val buckets = if (args.length > 1) args(1).toInt else 16
    val spark = graft.Session.builder("graft-skewbench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 90% of fact rows hit key 0; the rest spread over 999 cold keys
    val fact = spark.range(n).select(
      when(pmod(col("id"), lit(10)) < 9, lit(0L))
        .otherwise(pmod(col("id"), lit(999)) + 1).as("key"),
      col("id").as("v"))
    val dim = spark.range(1000).select(col("id").as("key"),
      (col("id") * 7 % 101).as("w"))

    def time(label: String)(body: => (Long, Long)): (Long, Long) = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[skew] $label%-7s ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"(rows=${r._1}, checksum=${r._2})")
      r
    }
    def agg(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("v") % 1000 + col("w"))).head
      (r.getLong(0), r.getLong(1))
    }

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plain = time("plain")(agg(fact.join(dim, "key")))
    val salted = time("salted")(agg(
      graft.operators.Salt.saltedJoin(fact, dim, "key", buckets, col("v"))))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    val aqe = time("aqe")(agg(fact.join(dim, "key")))
    require(plain == salted && salted == aqe,
      s"arms disagree: plain=$plain salted=$salted aqe=$aqe")
    println("[skew] all arms agree on (rows, checksum) — levers are safe")
    spark.stop()
  }
}

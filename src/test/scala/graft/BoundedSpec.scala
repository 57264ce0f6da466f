package graft

import org.apache.spark.sql.functions._

/** The bounded-collect gate: every driver-side literal-frame site routes
  * through `util.Bounded.literalFrame` (or carries its own require), so a
  * refactor that feeds a corpus-sized plan into a collect fails loudly.
  */
class BoundedSpec extends SparkSpec {

  test("literalFrame passes under the cap and keeps rows/schema") {
    val plan = spark.range(10).select(col("id"), (col("id") * 2).as("d"))
    val lit = graft.util.Bounded.literalFrame(plan, 16, "test frame")
    assert(lit.schema == plan.schema)
    assert(lit.orderBy("id").collect().map(_.getLong(1)).toSeq ==
      (0L until 10L).map(_ * 2))
  }

  test("literalFrame fails loudly over the cap, naming the site") {
    val plan = spark.range(100).toDF()
    val e = intercept[IllegalArgumentException] {
      graft.util.Bounded.literalFrame(plan, 16, "runaway frame")
    }
    assert(e.getMessage.contains("runaway frame"))
    assert(e.getMessage.contains("100"))
  }

  test("a cap violation fails having fetched at most cap + 1 rows") {
    val produced = spark.sparkContext.longAccumulator("bounded rows produced")
    val counted = udf { (id: Long) => produced.add(1); id }
    val plan = spark.range(1000000L).select(counted(col("id")).as("id"))
    Seq[(String, org.apache.spark.sql.DataFrame => Any)](
      "million-row frame" -> (graft.util.Bounded.literalFrame(_, 10, "million-row frame")),
      "million-row set" -> (graft.util.Bounded.rows(_, 10, "million-row set"))
    ).foreach { case (what, collectCapped) =>
      produced.reset()
      val e = intercept[IllegalArgumentException](collectCapped(plan))
      assert(e.getMessage.contains(what) && e.getMessage.contains("1000000"),
        e.getMessage)
      assert(produced.value <= 11,
        s"$what: the plan produced ${produced.value} rows before the cap fired")
    }
  }

  test("benchmarkGramSet and quantizer collects enforce their bounds") {
    // centArray: a fake corpus-sized "centroid" frame must be rejected
    val fake = spark.range(70000).select(
      col("id").cast("int").as("cluster_id"),
      array(lit(1.0)).as("cv"), lit(1.0).as("cnrm"))
    val e = intercept[IllegalArgumentException] {
      graft.queries.AnnKernels.centArray(fake)
    }
    assert(e.getMessage.contains("70000"))
  }
}

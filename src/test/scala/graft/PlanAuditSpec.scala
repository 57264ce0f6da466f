package graft

import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Institutionalizes the two 100 TB plan rules every declared query must
  * hold (previously checked by eye with a one-off audit tool):
  *
  *  1. no WindowExec with an empty partition spec over a corpus-sized
  *     input — the single-reducer "No Partition Defined for Window" shape;
  *  2. no Cartesian product — every cross join must broadcast a provably
  *     bounded side (Catalyst plans those as BroadcastNestedLoopJoin, not
  *     CartesianProductExec).
  *
  * The cartesian exception list is EMPTY as of r16: q34 left it in r13
  * (fixed probe panel broadcasts → BroadcastNestedLoopJoin) and q33 got
  * the same treatment in r16 (VERDICT r15 what's-wrong 2 — its "sampled"
  * cartesian was relative on both sides, (n/50)² pairs at scale; one
  * side is now an absolute 10-doc panel that broadcasts). Any new query
  * that trips this spec either gets a bounded plan or a documented
  * exception here — silent regressions don't merge.
  * AQE is disabled during planning so the physical tree stays walkable;
  * the audit inspects plans only (no execution), so it covers every
  * declared query in seconds.
  */
class PlanAuditSpec extends SparkSpec {

  private val cartesianBySampleContract = Set.empty[String]

  test("no declared query plans an unpartitioned window or a raw cartesian join") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
        val plan = q(spark, sf0001).queryExecution.executedPlan
        val globalWindows = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        val cartesians = plan.collect { case c: CartesianProductExec => c }
        val winHits =
          if (globalWindows.nonEmpty) Seq(s"$name: ${globalWindows.size} global window(s)")
          else Nil
        val cartHits =
          if (cartesians.nonEmpty && !cartesianBySampleContract(name))
            Seq(s"$name: ${cartesians.size} cartesian product(s)")
          else Nil
        winHits ++ cartHits
      }
      assert(offenders.isEmpty, s"plan rule violations:\n${offenders.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q121's order-date range stays pushed to the parquet scan") {
    // regression guard for the year()-blocks-pushdown fix: the star join
    // must filter orders AT THE SCAN, or a 100 TB orders table is read
    // whole for a two-year window
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = queries.StarQueries.q121.build(spark, sf0001)
        .queryExecution.executedPlan
      val pushed = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.getOrElse("PushedFilters", "")
      }
      assert(pushed.exists(p => p.contains("GreaterThanOrEqual(o_orderdate") &&
        p.contains("LessThan(o_orderdate")),
        s"order-date range not in any scan's PushedFilters: $pushed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q89's scoring join is broadcast — the bigram stream never join-shuffles") {
    // regression guard for the r12 model-broadcast rewrite (BASELINE r12
    // addendum 1): the r11 shape shuffle-joined the token-sized bigram
    // stream back to its own aggregates and went 20x super-linear at
    // sf10. The model frame must arrive by broadcast; the only sort-merge
    // or shuffled-hash joins allowed are none at all.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = queries.LmQueries.q89.build(spark, sf0001)
        .queryExecution.executedPlan
      val shuffleJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(shuffleJoins.isEmpty,
        s"q89 plans ${shuffleJoins.size} shuffle join(s) — the model must broadcast")
      val bcasts = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bcasts.nonEmpty, "q89 lost its broadcast scoring join entirely")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q11's re-scan carries the located price ranges in PushedFilters") {
    // regression guard for the r13 second-scan pruning (BASELINE r13
    // addendum 5): the located quantile buckets must reach the parquet
    // scan as an Or-of-ranges on the RAW price column (sf10 14.4 → 5.1 s)
    // — a refactor that moves the filter above the scan silently reverts
    // to reading the whole table twice
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = queries.RelationalQueries.q11.build(spark, sf0001)
        .queryExecution.executedPlan
      val pushed = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.getOrElse("PushedFilters", "")
      }
      // assert both range ENDS reached a scan on the raw column — not the
      // "Or(" spelling (ADVICE r13: if the fixture's needed buckets ever
      // coalesce into one contiguous range the pushed predicate is a
      // plain GTE∧LTE conjunction and an Or( requirement fails spuriously
      // even though the pushdown works)
      assert(pushed.exists(p =>
        p.contains("GreaterThanOrEqual(l_extendedprice") &&
        p.contains("LessThanOrEqual(l_extendedprice")),
        s"located price ranges not pushed into any scan: $pushed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q96's rolling window plans NO sliding frame — unbounded-preceding cumulatives only") {
    // regression guard for the r16 hot-key rewrite (BASELINE r16): a
    // both-bounds-moving RANGE frame is evaluated by Spark's
    // SlidingWindowFunctionFrame, which REBUILDS the aggregate buffer
    // every time a bound moves (no retraction) — O(rows × frame) per
    // key; measured 22+ CPU-minutes on one task for a user holding 10%
    // of 10M events. q96 must keep the difference-of-cumulatives form:
    // every window frame in its plan has an UnboundedPreceding lower
    // bound (Spark's incremental O(n) frame class). Reverting to the
    // declarative sliding frame re-opens the hot-key quadratic.
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedPreceding, WindowExpression}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = queries.EventQueries.q96.build(spark, sf0001)
        .queryExecution.executedPlan
      val frames = plan.collect { case w: WindowExec => w }.flatMap(
        _.windowExpression.flatMap(_.collect {
          case WindowExpression(_, spec) => spec.frameSpecification
        }))
      assert(frames.nonEmpty, "q96 plan has no window frames to audit")
      val sliding = frames.collect {
        case f: SpecifiedWindowFrame if f.lower != UnboundedPreceding => f
      }
      assert(sliding.isEmpty,
        s"q96 plans ${sliding.size} sliding frame(s) — the hot-key quadratic is back: $sliding")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q38's bloom prefilter stays three map-side broadcast semi-joins") {
    // regression guard for the r13 shape: the training explode must pass
    // through exactly 3 LeftSemi BroadcastHashJoins (the bloom positions)
    // and the exact benchDocs join must broadcast — any SortMergeJoin
    // here means the corpus-sized trigram stream is shuffling again
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = queries.TextQueries.q38.build(spark, sf0001)
        .queryExecution.executedPlan
      val semis = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(semis.size == 3,
        s"expected 3 bloom LeftSemi broadcast joins, found ${semis.size}")
      val shuffleJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(shuffleJoins.isEmpty,
        s"q38 plans ${shuffleJoins.size} shuffle join(s) — bench side must broadcast")
      // SATURATION SKIP (r15): when the bench trigram set covers ≥ 0.5
      // of its own vocabulary's trigram space, the bloom arm must be
      // dropped entirely — zero LeftSemi joins, just the exact broadcast
      // membership join. Driver data only reaches that regime at sf10
      // (coverage ≈ 1.0 there vs 0.009/0.078 at sf0.01/sf0.1 — measured
      // r15, the gate run above keeps the 3-join arm), so the skip is
      // pinned on a purpose-built saturated corpus: a 3-word vocabulary
      // (vb³ = 27) whose single bench doc (doc_id 7) walks enough
      // distinct trigrams to cross the threshold.
      val satDir = java.nio.file.Files.createTempDirectory("graft-q38sat").toString
      import spark.implicits._
      val vocab = Seq("aa", "bb", "cc")
      // de Bruijn-ish walk: every length-3 window over this id stream is
      // a distinct trigram — 25 windows over 27 possible ⇒ coverage 0.93
      val ids = Seq(0,0,0,1,0,2,0,1,1,2,1,0,1,1,1,2,2,0,2,1,2,2,2,0,0,1,2)
      val text = ids.map(vocab).mkString(" ")
      Seq((7L, text), (8L, text), (9L, text))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$satDir/documents.parquet")
      val satPlan = queries.TextQueries.q38.build(spark, satDir)
        .queryExecution.executedPlan
      val satSemis = satPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(satSemis.isEmpty,
        s"saturated corpus must skip the bloom arm, found ${satSemis.size} semi-joins")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}

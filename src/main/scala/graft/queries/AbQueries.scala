package graft.queries

import graft.{DeclaredQuery, Tables}
import graft.util.Det
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Experimentation and customer-segmentation analytics (SURVEY §2.13
  * X81/X82) — the A/B readout and RFM report every growth team runs.
  *
  * Determinism discipline: arm assignment is the engine's seeded-hash
  * rule ([[Det.seededKey]] → [[Det.hex60]] parity with the DuckDB
  * spelling), never `rand()`; the chi-square statistic is computed in
  * pure integer arithmetic (ppm by integer division), widened to
  * DECIMAL(38,0)/HUGEINT where the cross-products outgrow int64; the
  * RFM quartiles ride the q65 two-phase NTILE recipe — no global
  * window anywhere.
  */
object AbQueries {

  /** per-user conversion + metrics frame shared by q117/q118. A NULL
    * user_id is not an identity (NULLS.md pin 5): arm assignment,
    * recency/frequency/monetary — all meaningless without one. */
  private def perUser(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "purchase" && col("value") >= 90.0,
          lit(1)).otherwise(lit(0))).as("conv"),
        max(unix_timestamp(col("ts"))).as("last_es"),
        count(lit(1)).as("freq"),
        sum(Det.cents(col("value"))).as("cent"))

  // ---------------------------------------------------------------- Q117
  /** X81: A/B experiment readout — users assigned to control/treatment
    * by the seeded hash (a hash split is how real experiment systems
    * assign: sticky, uniform, reproducible), conversion = any purchase
    * ≥ $90, and the 2×2 chi-square independence statistic reported in
    * exact ppm. chi² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — every factor
    * is an exact integer count; the numerator reaches ~1e30 at sf10's
    * 150k users, so the whole quotient is computed in DECIMAL(38,0)
    * (HUGEINT in the oracle) and the bounded ppm result cast back.
    * (The DECIMAL(38) headroom runs out past ~10M users/arm; a larger
    * deployment drops the ppm scale to per-mille, documented here.)
    *
    * Plan: one scan → per-user hash-agg (map-side combinable) → arm
    * tag from md5 arithmetic (no shuffle — it's a projection) → ONE
    * 1-row conditional agg. Nothing is ever collected; the readout is
    * a single row.
    */
  val q117 = DeclaredQuery(
    "q117_ab_test",
    Some(s"""WITH u AS (SELECT user_id,
            |             ${Det.sql.seededKey("ab1", "user_id")} AS h,
            |             MAX(CASE WHEN event_type = 'purchase'
            |                       AND value >= 90.0
            |                      THEN 1 ELSE 0 END) AS conv
            |          FROM events WHERE user_id IS NOT NULL GROUP BY 1),
            |arms AS (SELECT CASE WHEN ${Det.sql.hex60("h")} % 2 = 0
            |                     THEN 'control' ELSE 'treatment' END AS arm,
            |                conv FROM u),
            |agg AS (SELECT
            |    CAST(SUM(CASE WHEN arm='treatment' THEN 1 ELSE 0 END)
            |         AS BIGINT) AS n_t,
            |    CAST(SUM(CASE WHEN arm='treatment' AND conv=1
            |                  THEN 1 ELSE 0 END) AS BIGINT) AS conv_t,
            |    CAST(SUM(CASE WHEN arm='control' THEN 1 ELSE 0 END)
            |         AS BIGINT) AS n_c,
            |    CAST(SUM(CASE WHEN arm='control' AND conv=1
            |                  THEN 1 ELSE 0 END) AS BIGINT) AS conv_c
            |  FROM arms)
            |SELECT n_t, conv_t, n_c, conv_c,
            |       CASE WHEN n_t = 0 THEN NULL
            |            ELSE (1000000 * conv_t) // n_t END AS conv_t_ppm,
            |       CASE WHEN n_c = 0 THEN NULL
            |            ELSE (1000000 * conv_c) // n_c END AS conv_c_ppm,
            |       CASE WHEN n_t = 0 OR n_c = 0 OR conv_t + conv_c = 0
            |              OR (n_t-conv_t) + (n_c-conv_c) = 0 THEN NULL
            |       ELSE
            |       CAST((CAST(1000000 AS HUGEINT) * (n_t + n_c) *
            |             (conv_t*(n_c-conv_c) - conv_c*(n_t-conv_t)) *
            |             (conv_t*(n_c-conv_c) - conv_c*(n_t-conv_t)))
            |            // (CAST(n_t AS HUGEINT) * n_c * (conv_t+conv_c) *
            |               ((n_t-conv_t)+(n_c-conv_c))) AS BIGINT)
            |       END AS chi2_ppm
            |FROM agg""".stripMargin)) { (s, d) =>
    val u = perUser(s, d).select(col("user_id"), col("conv"))
      .withColumn("arm",
        when(Det.hex60(Det.seededKey("ab1", col("user_id"))) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    u.agg(
        sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === "treatment" && col("conv") === 1, 1L)
          .otherwise(0L)).as("conv_t"),
        sum(when(col("arm") === "control", 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === "control" && col("conv") === 1, 1L)
          .otherwise(0L)).as("conv_c"))
      .select(col("n_t"), col("conv_t"), col("n_c"), col("conv_c"),
        // DEGENERATE-TABLE GUARD (found by the r15 Zipf oracle gate, the
        // round's purpose): on a small-corpus generation EVERY user
        // converted, so the non-converting margin — and the chi²
        // denominator — was exactly 0 and ANSI integer division threw.
        // A 2×2 table with an empty margin carries no independence
        // signal; the statistic is UNDEFINED there, and both engines now
        // agree on NULL rather than crashing (Spark) or diverging.
        expr("CASE WHEN n_t = 0 THEN NULL " +
          "ELSE (1000000 * conv_t) div n_t END").as("conv_t_ppm"),
        expr("CASE WHEN n_c = 0 THEN NULL " +
          "ELSE (1000000 * conv_c) div n_c END").as("conv_c_ppm"),
        expr("""CASE WHEN n_t = 0 OR n_c = 0 OR conv_t + conv_c = 0
               |  OR (n_t-conv_t) + (n_c-conv_c) = 0 THEN NULL
               |ELSE
               |CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_t + n_c) *
               | (conv_t*(n_c-conv_c) - conv_c*(n_t-conv_t)) *
               | (conv_t*(n_c-conv_c) - conv_c*(n_t-conv_t)))
               | div (CAST(n_t AS DECIMAL(38,0)) * n_c * (conv_t+conv_c) *
               | ((n_t-conv_t)+(n_c-conv_c))) AS BIGINT)
               |END"""
          .stripMargin.replace("\n", " ")).as("chi2_ppm"))
  }

  /** SQL NTILE(k)'s remainder rule from an exact global rank: bins
    * 1..n%k hold ⌈n/k⌉ rows, the rest hold ⌊n/k⌋ — the same integer
    * arithmetic q65 replays, factored for reuse. */
  private def ntileFromRank(rank: Column, n: Long, k: Long): Column = {
    val q = n / k; val rem = n % k; val cut = rem * (q + 1)
    when(lit(rem) > 0 && rank <= cut,
      floor((rank + lit(q)) / lit(q + 1)).cast("long"))
      .otherwise(lit(rem) +
        floor((rank - lit(cut) + lit(q) - 1) / lit(q)).cast("long"))
  }

  // ---------------------------------------------------------------- Q118
  /** X82: RFM segmentation — every user scored into quartiles of
    * recency (last event time), frequency (event count) and monetary
    * (exact-cent spend), reported as the 4×4×4 segment grid with user
    * counts and value mass. The lifecycle-marketing report ("champions",
    * "at risk", …) and a three-fold composition of the engine's
    * distributed-NTILE primitive.
    *
    * Plan: one scan → per-user hash-agg, then THREE exact global
    * NTILE(4)s via [[graft.operators.Ranks.globalRowNumberWithCount]] —
    * each is a monotone bounded bucket (day of last_es / capped freq /
    * digit-count·leading-2 of cents: monotone because a longer decimal
    * is always larger, ≤ ~1.9k buckets) plus a bucket-partitioned
    * window; NO global window (PlanAuditSpec's rule). The three ranked
    * frames re-join on user_id and collapse to ≤ 64 grid rows. The
    * oracle states the same thing declaratively as three
    * `NTILE(4) OVER (ORDER BY metric, user_id)`.
    */
  val q118 = DeclaredQuery(
    "q118_rfm_segments",
    Some("""WITH m AS (SELECT user_id,
           |             MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS last_es,
           |             COUNT(*) AS freq,
           |             SUM(CAST(ROUND((value)*100) AS BIGINT)) AS cent
           |        FROM events WHERE user_id IS NOT NULL GROUP BY 1),
           |b AS (SELECT user_id, cent,
           |        CAST(NTILE(4) OVER (ORDER BY last_es, user_id) AS BIGINT)
           |          AS r_bin,
           |        CAST(NTILE(4) OVER (ORDER BY freq, user_id) AS BIGINT)
           |          AS f_bin,
           |        CAST(NTILE(4) OVER (ORDER BY cent, user_id) AS BIGINT)
           |          AS m_bin
           |      FROM m)
           |SELECT r_bin, f_bin, m_bin, COUNT(*) AS n_users,
           |       CAST(SUM(cent) AS DOUBLE)/1e2 AS total_value
           |FROM b GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin)) { (s, d) =>
    // r19: persisted — the three rank calls and the final join otherwise
    // each recompute the events scan + per-user agg (27 jobs, the agg
    // chain ~5×); the first rank call's bucket collect fills it
    val m = perUser(s, d).select(col("user_id"), col("last_es"),
      col("freq"), col("cent")).persist()
    // monotone bounded coarsenings of each leading order key
    val dayBucket = (col("last_es") / lit(86400L)).cast("long")
    val freqBucket = least(col("freq"), lit(255L))
    // (digit count, leading two digits): lexicographically monotone in
    // cent because any (d+1)-digit number exceeds any d-digit one —
    // string arithmetic only, no float pow
    val centStr = col("cent").cast("string")
    val centBucket = (length(centStr) * 100 +
      substring(centStr, 1, 2).cast("long")).cast("long")
    import graft.operators.Ranks.globalRowNumberWithCount
    val (r1, n1) = globalRowNumberWithCount(m, dayBucket,
      Seq(col("last_es"), col("user_id")), "r_rank")
    // r2 ranks off m, not r1 — stacking it on r1 made r2's chain carry
    // r1's window for no reason (r19)
    val (r2, n2) = globalRowNumberWithCount(
      m.select(col("user_id").as("u2"), col("freq")), freqBucket,
      Seq(col("freq"), col("u2")), "f_rank")
    val (r3, n3) = globalRowNumberWithCount(
      m.select(col("user_id").as("u3"), col("cent")), centBucket,
      Seq(col("cent"), col("u3")), "m_rank")
    r1.select(col("user_id"), col("cent"),
        ntileFromRank(col("r_rank"), n1, 4).as("r_bin"))
      .join(r2.select(col("u2"),
        ntileFromRank(col("f_rank"), n2, 4).as("f_bin")),
        col("user_id") === col("u2"))
      .join(r3.select(col("u3"),
        ntileFromRank(col("m_rank"), n3, 4).as("m_bin")),
        col("user_id") === col("u3"))
      .groupBy("r_bin", "f_bin", "m_bin")
      .agg(count(lit(1)).as("n_users"),
        Det.unCents(sum(col("cent"))).as("total_value"))
      .orderBy("r_bin", "f_bin", "m_bin")
  }

  // ---------------------------------------------------------------- Q134
  /** X98: revenue concentration — the exact Gini coefficient of
    * customer spend plus the top-decile revenue share, in ppm. The
    * inequality report behind "10% of customers are 40% of revenue".
    *
    * Exact and sort-free: Gini needs every customer's GLOBAL rank by
    * spend — the fourth instance of the bucketed global-rank recipe
    * (q65 NTILE, q118 RFM, q126 skyline): monotone digit-composite
    * cent bucket + per-bucket window + driver offset map, never a
    * global window. Then gini = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) — Σi·x
    * reaches ~1e18 at sf10 and the ppm numerator far beyond, so the
    * whole quotient runs in DECIMAL(38,0)/HUGEINT and only the bounded
    * ppm comes back as BIGINT. The top-decile share is the integer
    * read-off `10·i > 9·n` over the same ranked frame.
    */
  val q134 = DeclaredQuery(
    "q134_revenue_concentration",
    Some("""WITH s AS (SELECT o_custkey,
           |             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
           |                  AS BIGINT) AS cent
           |           FROM orders GROUP BY 1),
           |r AS (SELECT cent,
           |             ROW_NUMBER() OVER (ORDER BY cent, o_custkey NULLS FIRST) AS i,
           |             COUNT(*) OVER () AS n,
           |             CAST(SUM(cent) OVER () AS BIGINT) AS tot
           |      FROM s),
           |g AS (SELECT MAX(n) AS n, MAX(tot) AS tot,
           |             CAST(SUM(CAST(i AS HUGEINT) * cent) AS HUGEINT)
           |               AS iws
           |      FROM r),
           |topdec AS (SELECT CAST(SUM(cent) AS BIGINT) AS top_cent
           |           FROM r WHERE 10 * i > 9 * n)
           |SELECT g.n AS n_customers,
           |       CAST(g.tot AS DOUBLE)/1e2 AS total_revenue,
           |       CAST((CAST(1000000 AS HUGEINT) *
           |             (2*g.iws - (g.n+1)*g.tot))
           |            // (CAST(g.n AS HUGEINT) * g.tot) AS BIGINT)
           |         AS gini_ppm,
           |       CAST((CAST(1000000 AS HUGEINT) * t.top_cent) // g.tot
           |            AS BIGINT) AS top_decile_share_ppm
           |FROM g, topdec t""".stripMargin)) { (s, d) =>
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("cent"))
    // monotone bounded coarsening of the rank key (the q118/q126 bucket)
    val centStr = col("cent").cast("string")
    val bucket = (length(centStr) * 100 +
      substring(centStr, 1, 2).cast("long")).cast("long")
    val (ranked, n) = graft.operators.Ranks.globalRowNumberWithCount(
      spend, bucket, Seq(col("cent"), col("o_custkey")), "i")
    ranked.agg(
        sum(col("cent")).as("tot"),
        sum(col("i").cast("decimal(38,0)") * col("cent")).as("iws"),
        sum(when(col("i") * 10 > lit(9L * n), col("cent"))
          .otherwise(lit(0L))).as("top_cent"))
      .select(
        lit(n).as("n_customers"),
        Det.unCents(col("tot")).as("total_revenue"),
        expr(s"""CAST((CAST(1000000 AS DECIMAL(38,0)) *
                | (2*iws - ${n + 1}*CAST(tot AS DECIMAL(38,0))))
                | div (CAST($n AS DECIMAL(38,0)) * tot) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("gini_ppm"),
        // DECIMAL promotion before the ppm multiply (r16, found by the
        // noop-write bench action at sf10): top_cent reaches ~7.5e13
        // cents there, and 1e6 × that overflows ANSI long — the same
        // widening gini_ppm already had
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * top_cent) div tot AS BIGINT)")
          .as("top_decile_share_ppm"))
  }

  val all: Seq[DeclaredQuery] = Seq(q117, q118, q134)
}

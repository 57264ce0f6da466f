package graft.queries

import graft.{DeclaredQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity surface (SURVEY §2.13 X3 + the training-pipeline
  * brief): brute-force cosine top-k as the verifiable baseline, an
  * LSH-bucketed variant as the scale path.
  *
  * All vector math runs through higher-order functions (zip_with/aggregate)
  * over `array<float>` cast to double — sequential left-folds, so the
  * summation order is fixed and matches DuckDB's list functions to ~1e-12,
  * far inside the 6-decimal hash rounding. No UDFs: HOFs stay codegen'd.
  */
object VectorQueries {

  private[graft] def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** native codegen dot product (graft.expressions.VecDot) — same
    * left-to-right double fold as the HOF formulation and DuckDB's
    * list_dot_product, so results are bit-identical; but the loop lives
    * inside whole-stage codegen instead of an interpreted lambda. */
  private[graft] def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.expressions.VecDot(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** embeddings with double vectors + L2 norms — EXCLUDING zero-norm
    * vectors. Contract (r16, found by the GRAFT_VEC_DEGEN oracle gate on
    * its first run — the q117 recipe): cosine similarity is undefined on
    * the zero vector, and under ANSI mode dot/(nrm·pnrm) is a hard
    * DIVIDE_BY_ZERO the moment a corpus contains one (it killed 7
    * queries on the degenerate generation: q25/q34/q36/q43/q57/q60/q85).
    * The similarity universe is therefore the non-zero vectors; every
    * oracle's `n` CTE carries the same `WHERE list_dot_product(v,v) > 0`.
    * Queries whose OUTPUT spans all vectors (q60's cluster labels) keep
    * their vertex set on the unfiltered table — zero vectors appear as
    * singleton clusters, they just never form edges. */
  private[graft] def normed(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
    e.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
  }

  // ---------------------------------------------------------------- Q25
  /** Cosine top-5 neighbors of 5 probe vectors. Probes are a tiny side →
    * broadcast; the scan side streams once. At 100 TB this is the exact
    * "score a handful of queries against the corpus" shape: one pass, no
    * shuffle except the final per-probe top-k — and Catalyst's
    * InferWindowGroupLimit turns the rank≤5 filter into a PARTIAL
    * WindowGroupLimit before the exchange (verified in the plan), so each
    * task ships only its local top-5 per probe, never the scored corpus. */
  val q25 = DeclaredQuery(
    "q25_cosine_topk",
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE list_dot_product(v, v) > 0),
           |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM n WHERE vec_id < 5),
           |sim AS (
           |  SELECT probe_id, vec_id,
           |         list_dot_product(v, pv)/(nrm*pnrm) AS cosine
           |  FROM n CROSS JOIN p WHERE vec_id <> probe_id),
           |r AS (SELECT probe_id, vec_id, cosine,
           |             row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rk
           |      FROM sim)
           |SELECT probe_id, rk, vec_id AS neighbor_id, cosine
           |FROM r WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin)) { (s, d) =>
    val n = normed(s, d)
    val probes = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    n.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", dot(col("v"), col("pv")) / (col("nrm") * col("pnrm")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy("probe_id", "rk")
  }

  // ---------------------------------------------------------------- Q34
  /** Embedding near-dup detection: top-20 most-similar pairs where the
    * LOWER end sits in a FIXED 100-probe panel (vec_id ≡ 0 mod 5 and
    * vec_id < 500 — deterministic, scale-independent), scored by exact
    * cosine against the full 1/5 id-sample.
    *
    * VERDICT r12 item 5 closed the suite's last super-linear decade
    * here: the previous contract scored ALL pairs within a 1/25 sample —
    * an O(n²) theta-join whose sf1→sf10 wall grew 18.8× for 10× data.
    * Bounding one side to a fixed panel makes the pair space O(100·n):
    * the panel broadcasts (100-row build side of the nested-loop join),
    * the sample side streams ONCE, and top-20 is a distributed
    * TakeOrderedAndProject — the "score a fixed probe set against the
    * corpus" shape that stays linear at 100 TB. The unconstrained
    * full-corpus path remains q35/q57's LSH bucketing and q56's PQ-ADC. */
  val q34 = DeclaredQuery(
    "q34_embed_neardup",
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 5 = 0),
           |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE list_dot_product(v, v) > 0),
           |p AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < 500),
           |sim AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |         list_dot_product(a.v, b.v)/(a.nrm*b.nrm) AS cosine
           |  FROM p a JOIN n b ON a.vec_id < b.vec_id),
           |r AS (SELECT id_a, id_b, cosine,
           |             row_number() OVER (ORDER BY cosine DESC, id_a, id_b) AS rk
           |      FROM sim)
           |SELECT rk, id_a, id_b, cosine FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin)) { (s, d) =>
    val n = normed(s, d).filter(col("vec_id") % 5 === 0)
    val panel = n.filter(col("vec_id") < 500)
      .select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    // panel is the BROADCAST build side; the sample streams once through
    // the nested-loop (the id_a < id_b theta condition keeps within-panel
    // pairs deduplicated). top-20 via orderBy+limit → distributed
    // TakeOrderedAndProject; the rank is then assigned over the surviving
    // 20 rows only (constant partition key — partition defined, 20-row
    // window, not a global sort)
    b.join(broadcast(panel), col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(20)
      .withColumn("rk", row_number().over(
        Window.partitionBy(graft.operators.Ranks.onePartition(col("id_a")))
          .orderBy(col("cosine").desc, col("id_a"), col("id_b"))))
      .select("rk", "id_a", "id_b", "cosine")
      .orderBy("rk")
  }

  // ---------------------------------------------------------------- Q35
  /** LSH-bucketed ANN (the 100 TB path): seeded random hyperplanes → sign
    * signature per vector → candidates share a signature bucket; exact
    * cosine only inside buckets. Hyperplane components are md5-derived ±1
    * (deterministic, engine-independent), so the bucketing is reproducible
    * and oracle-checkable: both engines fold the same doubles left-to-right
    * and no projection in the testdata lands exactly on zero. Members are
    * exported as a sorted CSV string (array columns break the driver's
    * pandas comparer). */
  private val lshDims = 64
  private val lshPlanes = 8 // 256 buckets — sized so sf0.01's 500 vectors
  // collide; at corpus scale raise planes (buckets ≈ corpus/expected-cands).
  // Bucket occupancy vs plane count was measured at sf1+ (BASELINE.md
  // "LSH plane-count sizing": sf1's 20k vectors, 8 planes → max bucket
  // 187, 10 planes → 76).
  // plane j, dim k sign: high bit of first md5 byte of "hp:j:k"
  private[graft] def lshSignsFor(planes: Int, dims: Int = lshDims): Seq[Seq[Int]] =
    (0 until planes).map { j =>
      (0 until dims).map { k =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"hp:$j:$k".getBytes("UTF-8"))
        if ((hex(0) & 0x80) != 0) 1 else -1
      }
    }
  private val lshSigns: Seq[Seq[Int]] = lshSignsFor(lshPlanes)

  /** Sign-LSH bucket id over a normalized double-vector column, `planes`
    * bits wide — q35's bucketing, parameterized for scale sizing. */
  private[graft] def lshBucket(v: Column, planes: Int): Column = {
    val signs = lshSignsFor(planes)
    concat((0 until planes).map { j =>
      val proj = dot(v, array(signs(j).map(x => lit(x.toDouble)): _*))
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }: _*)
  }

  val q35 = DeclaredQuery(
    "q35_lsh_buckets",
    Some {
      val bits = (0 until lshPlanes).map { j =>
        val arr = lshSigns(j).map(x => s"$x.0").mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, $bits AS bucket FROM e)
         |SELECT bucket, COUNT(*) AS n_vectors,
         |       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id) AS members
         |FROM b GROUP BY bucket HAVING COUNT(*) > 1 ORDER BY bucket""".stripMargin
    }) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val sigBits: Seq[Column] = (0 until lshPlanes).map { j =>
      val proj = dot(col("v"), array(lshSigns(j).map(x => lit(x.toDouble)): _*))
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }
    e.withColumn("bucket", concat(sigBits: _*))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"),
        concat_ws(",",
          transform(array_sort(collect_list(col("vec_id"))), _.cast("string"))).as("members"))
      .filter(col("n_vectors") > 1)
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- Q36
  /** IVF-style ANN (the second scale path next to q35's LSH): 16 coarse
    * centroids picked by seeded hash order, every vector assigned to its
    * most-cosine-similar centroid, probes search only their top-2 clusters
    * (nprobe=2), exact cosine inside. At corpus scale: centroids are a
    * k-means fit (tiny, broadcast), assignment is one scan, and a probe
    * touches ~nprobe/k of the data. Fully deterministic → oracle-checked. */
  val q36 = DeclaredQuery(
    "q36_ivf_ann",
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE list_dot_product(v, v) > 0),
           |cent AS (
           |  SELECT row_number() OVER (ORDER BY md5(concat_ws(':', CAST(vec_id AS VARCHAR), 'centroid')), vec_id) AS cluster_id,
           |         v AS cv, nrm AS cnrm, vec_id AS cent_vec
           |  FROM n QUALIFY cluster_id <= 16),
           |asgn0 AS (
           |  SELECT n.vec_id, n.v, n.nrm, cent.cluster_id,
           |         list_dot_product(n.v, cent.cv)/(n.nrm*cent.cnrm) AS csim,
           |         row_number() OVER (PARTITION BY n.vec_id
           |           ORDER BY list_dot_product(n.v, cent.cv)/(n.nrm*cent.cnrm) DESC, cent.cluster_id) AS ark
           |  FROM n CROSS JOIN cent),
           |asgn AS (SELECT vec_id, v, nrm, cluster_id FROM asgn0 WHERE ark = 1),
           |probe_clusters AS (SELECT vec_id AS probe_id, cluster_id FROM asgn0 WHERE vec_id < 5 AND ark <= 2),
           |probes AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM n WHERE vec_id < 5),
           |cand AS (
           |  SELECT pc.probe_id, a.vec_id,
           |         list_dot_product(a.v, p.pv)/(a.nrm*p.pnrm) AS cosine
           |  FROM asgn a JOIN probe_clusters pc ON a.cluster_id = pc.cluster_id
           |              JOIN probes p ON p.probe_id = pc.probe_id
           |  WHERE a.vec_id <> pc.probe_id),
           |r AS (SELECT probe_id, vec_id, cosine,
           |             row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rk
           |      FROM cand)
           |SELECT probe_id, rk, vec_id AS neighbor_id, cosine
           |FROM r WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin)) { (s, d) =>
    val n = normed(s, d)
    // centroid pick: top-16 by seeded hash via orderBy+limit (distributed
    // TakeOrdered over the corpus) — never a global row_number over all
    // embeddings. The 16 survivors are fetched once and re-planted as a
    // literal frame: `cent` feeds two broadcasts below, and a lazy
    // TakeOrdered would rescan the corpus per use.
    val ckey = md5(concat_ws(":", col("vec_id").cast("string"), lit("centroid")))
    val centPicked = n
      .withColumn("_ck", ckey)
      .orderBy(col("_ck"), col("vec_id"))
      .limit(16)
      .withColumn("cluster_id", row_number().over(
        Window.partitionBy(graft.operators.Ranks.onePartition(col("vec_id")))
          .orderBy(col("_ck"), col("vec_id"))))
      .select(col("cluster_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val cent = graft.util.Bounded.literalFrame(centPicked, 16, "q43 centroids")
    def assignTo(base: DataFrame): DataFrame = base.crossJoin(broadcast(cent))
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cluster_id"))))
    // one full-corpus assignment pass; the probes' nprobe=2 cluster list is
    // a second pass over FIVE rows, not the corpus (ark per vec_id is
    // independent of other vec_ids, so the subset rank is identical).
    // r18 (guide §2.3): the corpus-sized rank-1 selection is a struct
    // argmax agg, not a window — min(struct(-csim, cluster_id, ...))
    // picks the identical (csim DESC, cluster_id ASC) winner, but the
    // 16-candidate fan-out (carrying the full vectors!) collapses in the
    // map-side partial agg instead of being shuffled and sorted. The
    // 5-row probe pass keeps the window (it needs rank ≤ 2).
    val asgn = n.crossJoin(broadcast(cent))
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy("vec_id")
      // 0.0 - csim, not -csim: UnaryMinus(0.0) is -0.0, and struct order
      // uses Double.compare where -0.0 < 0.0 — a zero similarity could
      // then out-rank another zero against the window's csim DESC tie
      // rule. 0.0 - x equals -x for every nonzero and normalizes the
      // signed zero (VERDICT r18 item 4; unreachable on the declared
      // non-zero-vector universe, closed for free).
      .agg(min(struct((lit(0.0) - col("csim")).as("nc"), col("cluster_id"),
        col("v"), col("nrm"))).as("_m"))
      .select(col("vec_id"), col("_m.v").as("v"), col("_m.nrm").as("nrm"),
        col("_m.cluster_id").as("cluster_id"))
    val probeClusters = assignTo(n.filter(col("vec_id") < 5)).filter(col("ark") <= 2)
      .select(col("vec_id").as("probe_id"), col("cluster_id"))
    val probes = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    asgn.join(broadcast(probeClusters), "cluster_id")
      .filter(col("vec_id") =!= col("probe_id"))
      .join(broadcast(probes), "probe_id")
      .withColumn("cosine", dot(col("v"), col("pv")) / (col("nrm") * col("pnrm")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy("probe_id", "rk")
  }

  // ---------------------------------------------------------------- Q43
  /** IVF with one k-means refinement iteration (the quality upgrade over
    * q36's hash-picked centroids): seeded init → assign → recompute each
    * centroid as its cluster's mean vector → reassign → nprobe=2 probe.
    *
    * FP parity for the means: a per-dimension SUM over doubles is
    * partition-order-dependent in Spark, so each (cluster, dim) sum folds
    * an explicitly vec_id-sorted list left-to-right — and the oracle folds
    * `list(val ORDER BY vec_id)` the same way. Division and argmax then
    * run on bit-identical doubles.
    *
    * Scale: assignment passes are one corpus scan each against a 16-row
    * broadcast; refined centroids are collected (16×64 floats) and
    * re-planted, like q36. The deterministic centroid mean is a TWO-PHASE
    * fold (the `scalableCumSum` shape): phase 1 folds each vec_id-range
    * bucket's values in vec_id order (list ≤ [[MeanBucketWidth]] entries),
    * phase 2 folds the bucket partials in bucket order (n/width entries) —
    * never a corpus-proportional collect_list per (cluster, dim) group.
    * The oracle computes the *same* bucketed fold, so parity is exact by
    * construction. State is O(max(width, n/width)): size the width to ~√n
    * for the target corpus. A 100 TB deployment that doesn't need
    * bit-reproducible means should still prefer plain `avg` (map-side
    * combined, O(1) state) — k-means itself doesn't care, only the
    * declared-query oracle does. */
  /** vec_id-range bucket width for q43's two-phase deterministic mean.
    * State per (cluster, dim) group is O(max(width, nVecs/width)) — size
    * to ~√nVecs for the target corpus. 1024 keeps the sf-scale oracle
    * multi-bucket so the stitching is actually exercised; it is baked into
    * the oracle SQL (`vec_id // 1024`), change both together. */
  private val MeanBucketWidth = 1024

  /** left-to-right double fold of `value` in `sortKey` order — the
    * deterministic per-group sum q43/q55's oracle replays exactly (group
    * size is bounded by the two-phase bucketing, never corpus-sized). */
  private def orderedFold(sortKey: String, value: String): Column =
    aggregate(
      transform(sort_array(collect_list(struct(col(sortKey), col(value)))), x => x(value)),
      lit(0.0), (acc, x) => acc + x)

  val q43 = DeclaredQuery(
    "q43_ivf_kmeans",
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE list_dot_product(v, v) > 0),
           |cent0 AS (
           |  SELECT row_number() OVER (ORDER BY md5(concat_ws(':', CAST(vec_id AS VARCHAR), 'centroid')), vec_id) AS cluster_id,
           |         v AS cv, nrm AS cnrm
           |  FROM n QUALIFY cluster_id <= 16),
           |a1 AS (
           |  SELECT vec_id, v, nrm, cluster_id FROM (
           |    SELECT n.vec_id, n.v, n.nrm, cent0.cluster_id,
           |           row_number() OVER (PARTITION BY n.vec_id
           |             ORDER BY list_dot_product(n.v, cent0.cv)/(n.nrm*cent0.cnrm) DESC, cent0.cluster_id) AS ark
           |    FROM n CROSS JOIN cent0) WHERE ark = 1),
           |dims AS (
           |  SELECT cluster_id, vec_id, i AS pos, v[CAST(i AS INTEGER)] AS val
           |  FROM (SELECT cluster_id, vec_id, v, unnest(range(1, len(v)+1)) AS i FROM a1)),
           |bsum AS (
           |  SELECT cluster_id, pos, vec_id // 1024 AS b,
           |         list_aggregate(list(val ORDER BY vec_id), 'sum') AS bs,
           |         COUNT(*) AS cnt
           |  FROM dims GROUP BY cluster_id, pos, b),
           |csum AS (
           |  SELECT cluster_id, pos,
           |         list_aggregate(list(bs ORDER BY b), 'sum') AS sv,
           |         CAST(SUM(cnt) AS BIGINT) AS cnt
           |  FROM bsum GROUP BY cluster_id, pos),
           |cent1 AS (
           |  SELECT cluster_id, list(sv/cnt ORDER BY pos) AS cv FROM csum GROUP BY cluster_id),
           |cent1n AS (SELECT cluster_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent1),
           |a2 AS (
           |  SELECT n.vec_id, n.v, n.nrm, cent1n.cluster_id,
           |         row_number() OVER (PARTITION BY n.vec_id
           |           ORDER BY list_dot_product(n.v, cent1n.cv)/(n.nrm*cent1n.cnrm) DESC, cent1n.cluster_id) AS ark
           |  FROM n CROSS JOIN cent1n),
           |asgn AS (SELECT vec_id, v, nrm, cluster_id FROM a2 WHERE ark = 1),
           |probe_clusters AS (SELECT vec_id AS probe_id, cluster_id FROM a2 WHERE vec_id < 5 AND ark <= 2),
           |probes AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM n WHERE vec_id < 5),
           |cand AS (
           |  SELECT pc.probe_id, a.vec_id,
           |         list_dot_product(a.v, p.pv)/(a.nrm*p.pnrm) AS cosine
           |  FROM asgn a JOIN probe_clusters pc ON a.cluster_id = pc.cluster_id
           |              JOIN probes p ON p.probe_id = pc.probe_id
           |  WHERE a.vec_id <> pc.probe_id),
           |r AS (SELECT probe_id, vec_id, cosine,
           |             row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rk
           |      FROM cand)
           |SELECT probe_id, rk, vec_id AS neighbor_id, cosine
           |FROM r WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin)) { (s, d) =>
    val n = normed(s, d)
    val ckey = md5(concat_ws(":", col("vec_id").cast("string"), lit("centroid")))
    val cent0Picked = n
      .withColumn("_ck", ckey)
      .orderBy(col("_ck"), col("vec_id"))
      .limit(16)
      .withColumn("cluster_id", row_number().over(
        Window.partitionBy(graft.operators.Ranks.onePartition(col("vec_id")))
          .orderBy(col("_ck"), col("vec_id"))))
      .select(col("cluster_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val cent0 = graft.util.Bounded.literalFrame(cent0Picked, 16, "ivf seed centroids")
    def assignTo(base: DataFrame, cent: DataFrame): DataFrame = base
      .crossJoin(broadcast(cent))
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cluster_id"))))
    // r18: corpus-sized rank-1 selections become struct-argmax aggs (see
    // q36's asgn note) — identical winner, 16× fewer shuffled rows, no
    // sort; the 5-row probe pass below keeps its rank ≤ 2 window.
    def argmax1(base: DataFrame, cent: DataFrame, payload: Seq[String]): DataFrame =
      base.crossJoin(broadcast(cent))
        .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
        .groupBy("vec_id")
        // 0.0 - csim normalizes the signed zero — see q36's asgn note
        .agg(min(struct((lit(0.0) - col("csim")).as("nc") +: col("cluster_id") +:
          payload.map(col): _*)).as("_m"))
        .select(col("vec_id") +: col("_m.cluster_id").as("cluster_id") +:
          payload.map(p => col(s"_m.$p").as(p)): _*)
    val a1 = argmax1(n, cent0, Seq("v"))
      .select(col("vec_id"), col("v"), col("cluster_id"))
    // per-(cluster, dim) mean with a DETERMINISTIC fold order (vec_id),
    // two-phase so no group ever buffers a corpus-proportional list:
    // phase 1 folds each vec_id-range bucket (≤ MeanBucketWidth values),
    // phase 2 folds the bucket partials in bucket order. The oracle's
    // bsum/csum CTEs are the identical fold, so parity is by construction.
    val dims = a1.select(col("cluster_id"), col("vec_id"),
      posexplode(col("v")).as(Seq("pos", "val")))
      .withColumn("_b", expr(s"vec_id DIV $MeanBucketWidth"))
    val bsum = dims.groupBy("cluster_id", "pos", "_b").agg(
      orderedFold("vec_id", "val").as("bs"),
      count(lit(1)).as("cnt"))
    val csum = bsum.groupBy("cluster_id", "pos").agg(
      orderedFold("_b", "bs").as("sv"),
      sum(col("cnt")).as("cnt"))
    val cent1Plan = csum.groupBy("cluster_id").agg(
      transform(sort_array(collect_list(struct(col("pos"), (col("sv") / col("cnt")).as("m")))),
        x => x("m")).as("cv"))
      .withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
      .select(col("cluster_id"), col("cv"), col("cnrm"))
    val cent1 = graft.util.Bounded.literalFrame(cent1Plan, 16, "ivf refined centroids")
    val asgn = argmax1(n, cent1, Seq("v", "nrm"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster_id"))
    val probeClusters = assignTo(n.filter(col("vec_id") < 5), cent1)
      .filter(col("ark") <= 2)
      .select(col("vec_id").as("probe_id"), col("cluster_id"))
    val probes = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    asgn.join(broadcast(probeClusters), "cluster_id")
      .filter(col("vec_id") =!= col("probe_id"))
      .join(broadcast(probes), "probe_id")
      .withColumn("cosine", dot(col("v"), col("pv")) / (col("nrm") * col("pnrm")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy("probe_id", "rk")
  }

  // ---------------------------------------------------------------- Q51
  /** Int8 embedding quantization — the standard 4× memory cut before ANN
    * at scale: per-dimension symmetric scale s_d = max|v_d|/127, codes
    * q = ⌊v/s + 0.5⌋ clamped to [−127,127], plus per-vector reconstruction
    * error stats. `q_l1 = Σ|q|` is an INTEGER checksum of the actual
    * codes, so the oracle pins the quantized values exactly (no float
    * tolerance), while max-abs-err/MSE document the quality loss.
    *
    * Rounding is spelled ⌊x+0.5⌋ in BOTH engines rather than round():
    * Spark rounds HALF_UP via BigDecimal and DuckDB half-away-from-zero —
    * they disagree on negative ties, floor never does. Scale shape: one
    * explode → 64-row per-dim agg (map-side combined) → broadcast join →
    * per-vector hash agg; the quantize itself is embarrassingly parallel. */
  val q51 = DeclaredQuery(
    "q51_embed_quantize",
    Some("""WITH u AS (
           |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
           |         generate_subscripts(embedding, 1) AS dim
           |  FROM embeddings),
           |s AS (SELECT dim, greatest(greatest(MAX(v), -MIN(v)) / 127.0, 1e-30) AS scale
           |      FROM u GROUP BY dim),
           |q AS (SELECT vec_id, v, scale,
           |             greatest(-127, least(127,
           |               CAST(floor(v / scale + 0.5) AS INTEGER))) AS qv
           |      FROM u JOIN s USING (dim))
           |SELECT vec_id, COUNT(*) AS n_dims,
           |       CAST(SUM(abs(qv)) AS BIGINT) AS q_l1,
           |       MAX(abs(v - qv*scale)) AS max_abs_err,
           |       SUM((v - qv*scale)*(v - qv*scale))/COUNT(*) AS mse
           |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin)) { (s, d) =>
    val u = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("col").cast("double").as("v"))
    val scales = u.groupBy("dim").agg(
      greatest(greatest(max(col("v")), -min(col("v"))) / 127.0, lit(1e-30)).as("scale"))
    val q = u.join(broadcast(scales), "dim")
      .withColumn("qv", greatest(lit(-127), least(lit(127),
        floor(col("v") / col("scale") + 0.5).cast("int"))))
    q.groupBy("vec_id").agg(
      count(lit(1)).as("n_dims"),
      sum(abs(col("qv"))).cast("long").as("q_l1"),
      max(abs(col("v") - col("qv") * col("scale"))).as("max_abs_err"),
      (sum((col("v") - col("qv") * col("scale")) * (col("v") - col("qv") * col("scale")))
        / count(lit(1))).as("mse"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- Q55
  /** Product quantization (IVF-PQ's code stage) — the 100 TB ANN standard
    * beyond q51's scalar int8: the 64-dim space splits into 4 subvectors of
    * 16 dims, each subspace trains its own 16-codeword codebook (seeded
    * init → assign → deterministic mean → reassign, the q43 recipe run
    * per subspace), and every vector compresses to 4 byte-sized codes
    * (64 floats → 4 bytes, 64×) plus its exact squared reconstruction
    * error ‖v − ĉ‖² = Σ_s (vs·vs − 2·vs·c_s + c_s·c_s).
    *
    * Determinism/parity: codeword means use the same two-phase vec_id-
    * bucketed fold as q43 (oracle replays it exactly); assignment distance
    * is pure dot-product arithmetic (VecDot ≡ list_dot_product
    * bit-identically), ties broken by codeword id. Scale shape: both
    * assignment passes are one corpus scan against a broadcast 4×16
    * codebook (64 candidate rows per vector); codebooks collect to the
    * driver as 64 rows of 16 doubles and re-plant as a literal frame. An
    * asymmetric-distance query stage would reuse the same codebook
    * broadcast — the training side here is the hard deterministic part. */
  /** q55/q56 shared oracle prefix: the PQ training chain through the final
    * per-(vec, sub) code assignment `a2` (the CTE names match the Scala
    * stages 1:1; `dist` in a2 is the exact squared subspace residual). */
  private val PqOracleCte =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |subs AS (
      |  SELECT vec_id, s.s AS sub, v[(s.s*16+1):(s.s*16+16)] AS vs
      |  FROM e CROSS JOIN (SELECT unnest([0,1,2,3]) AS s) s),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY md5(concat_ws(':', CAST(vec_id AS VARCHAR), 'pqseed')), vec_id) AS code,
      |         vec_id
      |  FROM e QUALIFY code <= 16),
      |c0 AS (SELECT sb.sub, sd.code, sb.vs AS cv
      |       FROM seeds sd JOIN subs sb ON sb.vec_id = sd.vec_id),
      |a1 AS (
      |  SELECT vec_id, sub, vs, code FROM (
      |    SELECT subs.vec_id, subs.sub, subs.vs, c0.code,
      |           row_number() OVER (PARTITION BY subs.vec_id, subs.sub
      |             ORDER BY list_dot_product(subs.vs, subs.vs)
      |                      - 2*list_dot_product(subs.vs, c0.cv)
      |                      + list_dot_product(c0.cv, c0.cv) ASC, c0.code) AS ark
      |    FROM subs JOIN c0 USING (sub)) WHERE ark = 1),
      |dims AS (
      |  SELECT sub, code, vec_id, i AS pos, vs[CAST(i AS INTEGER)] AS val
      |  FROM (SELECT sub, code, vec_id, vs, unnest(range(1, len(vs)+1)) AS i FROM a1)),
      |bsum AS (
      |  SELECT sub, code, pos, vec_id // 1024 AS b,
      |         list_aggregate(list(val ORDER BY vec_id), 'sum') AS bs,
      |         COUNT(*) AS cnt
      |  FROM dims GROUP BY sub, code, pos, b),
      |csum AS (
      |  SELECT sub, code, pos,
      |         list_aggregate(list(bs ORDER BY b), 'sum') AS sv,
      |         CAST(SUM(cnt) AS BIGINT) AS cnt
      |  FROM bsum GROUP BY sub, code, pos),
      |c1 AS (SELECT sub, code, list(sv/cnt ORDER BY pos) AS cv
      |       FROM csum GROUP BY sub, code),
      |a2 AS (
      |  SELECT vec_id, sub, code, dist FROM (
      |    SELECT subs.vec_id, subs.sub, c1.code,
      |           list_dot_product(subs.vs, subs.vs)
      |             - 2*list_dot_product(subs.vs, c1.cv)
      |             + list_dot_product(c1.cv, c1.cv) AS dist,
      |           row_number() OVER (PARTITION BY subs.vec_id, subs.sub
      |             ORDER BY list_dot_product(subs.vs, subs.vs)
      |                      - 2*list_dot_product(subs.vs, c1.cv)
      |                      + list_dot_product(c1.cv, c1.cv) ASC, c1.code) AS ark
      |    FROM subs JOIN c1 USING (sub)) WHERE ark = 1)""".stripMargin

  /** q55/q56 shared Spark stages: the per-(vec, subspace) subvector frame
    * and the trained 4×16 codebook (collected to 64 literal rows, like
    * q43's centroids). Training = seeded md5 init → L2 assign →
    * deterministic two-phase mean → the caller reassigns. */
  private def pqTrain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // persisted (r18): subs feeds the c0-assignment chain that the c1
    // literalFrame collect executes at build time, the caller's final
    // reassignment, AND (for q56) the probe frame — without the cache
    // the embeddings scan + 4-way explode re-ran once per consumer. The
    // single training collect fills it; later actions read the cache
    // (Bench/Verify cleanup unpersists between queries).
    val subs = e
      .select(col("vec_id"), col("v"),
        explode(array((0 until 4).map(lit): _*)).as("sub"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * 16 + 1, lit(16)).as("vs"))
      .persist()
    // seeded init: the 16 md5-picked vectors donate their subvectors as
    // each subspace's initial codebook (same pick trick as q43)
    val skey = md5(concat_ws(":", col("vec_id").cast("string"), lit("pqseed")))
    val seedsPlan = e.withColumn("_sk", skey)
      .orderBy(col("_sk"), col("vec_id"))
      .limit(16)
      .withColumn("code", row_number().over(
        Window.partitionBy(graft.operators.Ranks.onePartition(col("vec_id")))
          .orderBy(col("_sk"), col("vec_id"))))
      .select(col("code"), col("vec_id"))
    val seeds = graft.util.Bounded.literalFrame(seedsPlan, 16, "pq seed picks")
    val c0 = subs.join(broadcast(seeds), "vec_id")
      .select(col("sub"), col("code"), col("vs").as("cv"))
    val a1 = pqAssign(subs, c0).select(col("vec_id"), col("sub"), col("code"), col("vs"))
    val dims = a1.select(col("sub"), col("code"), col("vec_id"),
      posexplode(col("vs")).as(Seq("pos", "val")))
      .withColumn("_b", expr(s"vec_id DIV $MeanBucketWidth"))
    val bsum = dims.groupBy("sub", "code", "pos", "_b").agg(
      orderedFold("vec_id", "val").as("bs"),
      count(lit(1)).as("cnt"))
    val csum = bsum.groupBy("sub", "code", "pos").agg(
      orderedFold("_b", "bs").as("sv"),
      sum(col("cnt")).as("cnt"))
    val c1Plan = csum.groupBy("sub", "code").agg(
      transform(sort_array(collect_list(struct(col("pos"), (col("sv") / col("cnt")).as("m")))),
        x => x("m")).as("cv"))
    val c1 = graft.util.Bounded.literalFrame(c1Plan, 16 * 4, "pq codebook")
    (subs, c1)
  }

  /** nearest codeword per (vec, subspace): one corpus scan against the
    * broadcast codebook, L2 via the dot-product identity, ties to the
    * lower code. `dist` is the exact squared subspace residual.
    *
    * r18 (guide §2.3 "aggregate before you shuffle"): the winner was a
    * `row_number` window over the 16-candidate fan-out — an exchange +
    * sort of 16 rows per (vec, sub). `min(struct(dist, code, vs))` picks
    * the SAME row (struct order compares dist first, then code; code is
    * unique per group so the (dist asc, code asc) tie-break is identical
    * and the vs payload is never compared) but partial-aggregates
    * map-side: the fan-out collapses before the shuffle, which now
    * carries one row per (vec, sub), and the sort disappears. */
  private def pqAssign(subs: DataFrame, cent: DataFrame): DataFrame = subs
    .join(broadcast(cent), Seq("sub"))
    .withColumn("dist",
      dot(col("vs"), col("vs")) - lit(2) * dot(col("vs"), col("cv"))
        + dot(col("cv"), col("cv")))
    .groupBy(col("vec_id"), col("sub"))
    .agg(min(struct(col("dist"), col("code"), col("vs"))).as("_m"))
    .select(col("vec_id"), col("sub"), col("_m.code").as("code"),
      col("_m.dist").as("dist"), col("_m.vs").as("vs"))

  val q55 = DeclaredQuery(
    "q55_product_quantize",
    Some(PqOracleCte +
      """
        |SELECT vec_id,
        |       CAST(MAX(CASE WHEN sub = 0 THEN code END) AS INTEGER) AS code0,
        |       CAST(MAX(CASE WHEN sub = 1 THEN code END) AS INTEGER) AS code1,
        |       CAST(MAX(CASE WHEN sub = 2 THEN code END) AS INTEGER) AS code2,
        |       CAST(MAX(CASE WHEN sub = 3 THEN code END) AS INTEGER) AS code3,
        |       SUM(dist) AS sq_err
        |FROM a2 GROUP BY vec_id ORDER BY vec_id""".stripMargin)) { (s, d) =>
    val (subs, c1) = pqTrain(s, d)
    pqAssign(subs, c1)
      .groupBy("vec_id")
      .agg(
        max(when(col("sub") === 0, col("code"))).cast("int").as("code0"),
        max(when(col("sub") === 1, col("code"))).cast("int").as("code1"),
        max(when(col("sub") === 2, col("code"))).cast("int").as("code2"),
        max(when(col("sub") === 3, col("code"))).cast("int").as("code3"),
        sum(col("dist")).as("sq_err"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- Q56
  /** PQ asymmetric-distance search (ADC) — the query stage that completes
    * IVF-PQ: 5 probe vectors score the ENTIRE corpus through its 4-byte
    * codes without touching a single original vector. Per probe, a
    * 4×16-entry lookup table of exact subspace distances to every codeword
    * is built once (‖p_s − c‖² via the dot identity); a database vector's
    * approximate distance is then the sum of its 4 table lookups.
    *
    * Scale shape: the LUT is 5 probes × 64 rows — broadcast; the corpus
    * side is the codes frame (4 rows/vector), one broadcast-hash join on
    * (sub, code), one hash-agg per (probe, vec), and a per-probe top-k
    * window (partitioned, rank ≤ 5 → WindowGroupLimit ships only local
    * top-5s). At 100 TB this is exactly the serving plan: codes fit in
    * ~1/64th the corpus bytes and the scan never reads embeddings.
    *
    * Parity: equal codes ⇒ equal ADC distance, so ties are COMMON — the
    * per-(probe, vec) sum folds its 4 lookups in sub order (orderedFold /
    * list ORDER BY sub) so both engines compute bit-identical doubles and
    * break ties by vec_id identically. */
  val q56 = DeclaredQuery(
    "q56_pq_adc_search",
    Some(PqOracleCte +
      """,
        |codes AS (SELECT vec_id, sub, code FROM a2),
        |probes AS (SELECT vec_id AS probe_id, sub, vs AS ps FROM subs WHERE vec_id < 5),
        |lut AS (
        |  SELECT p.probe_id, p.sub, c1.code,
        |         list_dot_product(p.ps, p.ps)
        |           - 2*list_dot_product(p.ps, c1.cv)
        |           + list_dot_product(c1.cv, c1.cv) AS pd
        |  FROM probes p JOIN c1 USING (sub)),
        |pa AS (
        |  SELECT l.probe_id, cd.vec_id,
        |         list_aggregate(list(l.pd ORDER BY l.sub), 'sum') AS adc_dist
        |  FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.code = cd.code
        |  GROUP BY l.probe_id, cd.vec_id),
        |r AS (
        |  SELECT probe_id, vec_id, adc_dist,
        |         row_number() OVER (PARTITION BY probe_id
        |                            ORDER BY adc_dist, vec_id) AS rk
        |  FROM pa WHERE vec_id <> probe_id)
        |SELECT probe_id, CAST(rk AS INTEGER) AS rk, vec_id AS neighbor_id, adc_dist
        |FROM r WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin)) { (s, d) =>
    val (subs, c1) = pqTrain(s, d)
    val codes = pqAssign(subs, c1).select(col("vec_id"), col("sub"), col("code"))
    val probes = subs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("sub"), col("vs").as("ps"))
    val lut = probes.join(broadcast(c1), Seq("sub"))
      .select(col("probe_id"), col("sub"), col("code"),
        (dot(col("ps"), col("ps")) - lit(2) * dot(col("ps"), col("cv"))
          + dot(col("cv"), col("cv"))).as("pd"))
    codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy("probe_id", "vec_id")
      .agg(orderedFold("sub", "pd").as("adc_dist"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("adc_dist").asc, col("vec_id")))
        .cast("int"))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("vec_id").as("neighbor_id"), col("adc_dist"))
      .orderBy("probe_id", "rk")
  }

  // ---------------------------------------------------------------- Q57
  /** Embedding-cosine near-dup at SCALE — the linear-path twin of q34's
    * declared-quadratic sampled pair join: vectors hash into sign-LSH
    * buckets (q35's hyperplane family), exact cosine runs only INSIDE a
    * bucket, and each bucket emits its top-3 most-similar pairs. Total
    * pair work is Σ(bucket size²) instead of n².
    *
    * The plane count SELF-SIZES to the corpus: smallest p in [8, 20] with
    * 4·2^p ≥ n, targeting ~4 vectors/bucket at any scale (a fixed 8 planes
    * measured 14× wall for 10× data at sf10 — ~780 vectors/bucket made the
    * in-bucket join quadratic; self-sized it is 16 planes there). The
    * formula is INTEGER arithmetic (shift + compare), so both engines pick
    * the same p with no FP-at-the-boundary risk; the DuckDB oracle computes
    * it from COUNT(*) and substrings the same 20-bit signature. The [8,20]
    * cap is bench-scale — a 10⁹-vector deployment raises the ceiling
    * (buckets ≈ corpus/occupancy), same knob; occupancy per plane count
    * is measured in BASELINE.md "LSH plane-count sizing".
    *
    * Scale shape: one scan computes the sign projections (codegen'd VecDot
    * folds), ONE hash-shuffle on bucket, an in-bucket self-join bounded by
    * occupancy, and a per-bucket top-3 rank window (partitioned →
    * WindowGroupLimit ships local winners only). Cosines are bit-identical
    * across engines (same left-fold dot), so rank ties cannot diverge. */
  private val lshMaxPlanes = 20

  /** smallest p in [8, lshMaxPlanes] with 4·2^p ≥ n — q57's integer
    * self-sizing rule (~4 vectors/bucket at any corpus size); INTEGER
    * arithmetic so the oracle derives the identical p from COUNT(*). */
  private def selfSizedPlanes(nVecs: Long): Int =
    (8 to lshMaxPlanes).find(p => (4L << p) >= nVecs).getOrElse(lshMaxPlanes)

  /** sign-LSH bucket column over [[normed]] output, `planes` bits. */
  private def withSelfSizedBucket(n: DataFrame, planes: Int): DataFrame = {
    val signs = lshSignsFor(lshMaxPlanes)
    val sigBits: Seq[Column] = (0 until planes).map { j =>
      val proj = dot(col("v"), array(signs(j).map(x => lit(x.toDouble)): _*))
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }
    n.withColumn("bucket", concat(sigBits: _*))
  }

  /** oracle twin of [[selfSizedPlanes]] + [[withSelfSizedBucket]]:
    * CTEs `e` (vectors), `pl` (self-sized plane count), `n` (norms),
    * `b` (bucketed vectors) — shared by q57 and q60. */
  private lazy val lshSelfSizedCtes: String = {
    val signs20 = lshSignsFor(lshMaxPlanes)
    val bits = (0 until lshMaxPlanes).map { j =>
      val arr = signs20(j).map(x => s"$x.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pl AS (
       |  SELECT COALESCE(MIN(p), $lshMaxPlanes) AS planes
       |  FROM (SELECT CAST(unnest(range(8, ${lshMaxPlanes + 1})) AS INTEGER) AS p)
       |  WHERE 4 * (CAST(1 AS BIGINT) << p) >= (SELECT COUNT(*) FROM embeddings)),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE list_dot_product(v, v) > 0),
       |b AS (SELECT vec_id, v, nrm,
       |             substr($bits, 1, (SELECT planes FROM pl)) AS bucket FROM n)""".stripMargin
  }

  val q57 = DeclaredQuery(
    "q57_embed_neardup_lsh",
    Some {
      s"""WITH $lshSelfSizedCtes,
         |p AS (
         |  SELECT a.bucket, a.vec_id AS id_a, bb.vec_id AS id_b,
         |         list_dot_product(a.v, bb.v)/(a.nrm*bb.nrm) AS cosine
         |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id),
         |r AS (
         |  SELECT bucket, id_a, id_b, cosine,
         |         row_number() OVER (PARTITION BY bucket
         |                            ORDER BY cosine DESC, id_a, id_b) AS rk
         |  FROM p)
         |SELECT bucket, CAST(rk AS INTEGER) AS rk, id_a, id_b, cosine
         |FROM r WHERE rk <= 3 ORDER BY bucket, rk""".stripMargin
    }) { (s, d) =>
    // integer self-sizing: one tiny count job, like q43/q55's codebook
    // collects
    val planes = selfSizedPlanes(Tables.embeddings(s, d).count())
    val b = withSelfSizedBucket(normed(s, d), planes)
    val left = b.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val right = b.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    left.join(right, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("cosine").desc, col("id_a"), col("id_b"))).cast("int"))
      .filter(col("rk") <= 3)
      .select(col("bucket"), col("rk"), col("id_a"), col("id_b"), col("cosine"))
      .orderBy("bucket", "rk")
  }

  // ---------------------------------------------------------------- Q60
  /** Embedding dedup CLUSTERS (SURVEY §2.13 X22) — the semantic-dedup
    * closure over q57's bucketed candidates: in-bucket pairs with cosine ≥
    * τ become edges, connected components label each near-dup group, and
    * the min-id member is kept — the embedding-space twin of q39's
    * MinHash→CC text path (SemDeDup-style, Abbas et al. 2023, with LSH
    * cells standing in for k-means cells so the candidate stage stays
    * output-linear at any corpus size).
    *
    * τ = 0.3 is a declared constant calibrated to this synthetic corpus
    * (its all-pairs cosine tops out at 0.51; 0.3 yields a meaningful edge
    * set). A real embedding corpus runs the same query at ~0.95+.
    * Single-table sign-LSH trades recall for linearity — the declared
    * contract is "clusters over the bucketed candidate edges", the same
    * contract q39 declares over its band-bucket edges.
    *
    * Scale shape: q57's self-sized buckets (Σ bucket² bounded by ~4×n),
    * edge list linear in qualifying pairs, then [[graft.operators.ConnectedComponents]]
    * at one Spark job per round (diameter-bound, q39's measured posture).
    * The oracle replays the identical buckets/edges and closes them with a
    * recursive reachability CTE. */
  val q60 = DeclaredQuery(
    "q60_embed_dedup_clusters",
    Some {
      s"""WITH RECURSIVE $lshSelfSizedCtes,
         |ed AS (
         |  SELECT a.vec_id AS x, bb.vec_id AS nb
         |  FROM b a JOIN b bb
         |    ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |   AND list_dot_product(a.v, bb.v)/(a.nrm*bb.nrm) >= 0.3),
         |sym AS (SELECT x, nb FROM ed UNION ALL SELECT nb, x FROM ed),
         |r(vec_id, seen) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT sym.nb, r.seen FROM r JOIN sym ON sym.x = r.vec_id),
         |reach AS (SELECT vec_id, MIN(seen) AS cluster_id FROM r GROUP BY vec_id)
         |SELECT vec_id, cluster_id,
         |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |       (vec_id = cluster_id) AS kept
         |FROM reach ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    val planes = selfSizedPlanes(Tables.embeddings(s, d).count())
    val b = withSelfSizedBucket(normed(s, d), planes)
    val left = b.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val right = b.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    // a pair shares at most ONE bucket (single signature) — no distinct
    val edges = left.join(right, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.3)
      .select(col("id_a"), col("id_b"))
    val sym = edges.select(col("id_a").as("x"), col("id_b").as("nb"))
      .unionByName(edges.select(col("id_b").as("x"), col("id_a").as("nb")))
      .persist()
    val (labels, rounds) = graft.operators.ConnectedComponents.minLabel(
      Tables.embeddings(s, d).select("vec_id"), "vec_id", sym, "x", "nb")
    System.err.println(s"[graft] q60 label propagation converged in $rounds rounds")
    sym.unpersist()
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("kept", col("vec_id") === col("cluster_id"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- Q63
  /** Embedding outlier scoring (X26) — the embedding-space quality filter:
    * squared L2 distance of each vector to its own label's centroid,
    * flagged against 2× the label's mean squared distance. The SemDeDup-
    * family pipelines prune exactly this way (drop vectors far from their
    * cluster centroid) before dedup/selection.
    *
    * Distance uses the expansion d² = v·v − 2·v·c + c·c so every term is a
    * sequential dot-product fold — bit-identical between [[dot]] (VecDot
    * codegen) and DuckDB's list_dot_product — instead of a zip-subtract
    * whose intermediate array would cost an allocation per row.
    *
    * Scale shape: centroid = posexplode → (label, pos) map-side-combined
    * avg (labels×dims rows) → per-label array reassembly → 10-row
    * broadcast; per-vector scoring is one scan; per-label means are
    * another 10-row broadcast. No window, no pair join. */
  val q63 = DeclaredQuery(
    "q63_embed_outliers",
    Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |x AS (SELECT vec_id, label, i, v[i] AS xv FROM e, range(1, 65) t(i)),
           |cm AS (SELECT label, i, SUM(xv)/CAST(COUNT(*) AS DOUBLE) AS c FROM x GROUP BY label, i),
           |cen AS (SELECT label, list(c ORDER BY i) AS cv FROM cm GROUP BY label),
           |d AS (SELECT vec_id, e.label,
           |             list_dot_product(v, v) - 2*list_dot_product(v, cv) + list_dot_product(cv, cv) AS d2
           |      FROM e JOIN cen ON e.label = cen.label),
           |m AS (SELECT label, SUM(d2)/CAST(COUNT(*) AS DOUBLE) AS mean_d2 FROM d GROUP BY label)
           |SELECT vec_id, d.label, d2, mean_d2, d2/mean_d2 AS ratio,
           |       (d2 > 2*mean_d2) AS is_outlier
           |FROM d JOIN m ON d.label = m.label ORDER BY vec_id""".stripMargin)) { (s, dir) =>
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
    val x = e.select(col("label"), posexplode(col("v"))).toDF("label", "pos", "xv")
    val cm = x.groupBy("label", "pos")
      .agg((sum(col("xv")) / count(lit(1)).cast("double")).as("c"))
    val cen = cm.groupBy("label").agg(
      transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        t => t.getField("c")).as("cv"))
    val d = e.join(broadcast(cen), "label")
      .withColumn("d2", dot(col("v"), col("v"))
        - lit(2) * dot(col("v"), col("cv")) + dot(col("cv"), col("cv")))
    val m = d.groupBy("label")
      .agg((sum(col("d2")) / count(lit(1)).cast("double")).as("mean_d2"))
    d.join(broadcast(m), "label")
      .select(col("vec_id"), col("label"), col("d2"), col("mean_d2"),
        (col("d2") / col("mean_d2")).as("ratio"),
        (col("d2") > lit(2) * col("mean_d2")).as("is_outlier"))
      .orderBy("vec_id")
  }

  val all: Seq[DeclaredQuery] = Seq(q25, q34, q35, q36, q43, q51, q55, q56, q57,
    q60, q63)
}

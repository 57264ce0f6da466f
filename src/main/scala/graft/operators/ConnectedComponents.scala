package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointShim.unpersistCheckpoint
import graft.util.Checkpoints.ckpt

/** Distributed connected components by min-label propagation with pointer
  * jumping.
  *
  * Each round runs a neighbor-min step plus `Jumps` pointer jumps:
  *
  *   1. neighbor min:  m(x) = min(l(x), min over neighbors l(nb))
  *   2. pointer jump:  l'(x) = min(m(x), m(m(x)))  — follow the current
  *      representative's own label, contracting label chains
  *
  * Measured behavior (round 6, sf1): rounds track the widest component's
  * DIAMETER, not its size — the min label floods the graph one edge-hop
  * per neighbor-min round, and the jumps only contract the label-pointer
  * chains that flood leaves behind (log_{Jumps+2} contraction of chain
  * depth, which is why ConnectedComponentsSpec's deep-chain bound holds).
  * True per-round pointer doubling (re-deriving the rep map each jump) ran
  * the same round count with identical changed-counts: on this edge
  * topology more jumps cannot beat the flood. The long-cited alternative —
  * [[contract]], Kiveris large-star/small-star edge contraction — was
  * BUILT AND MEASURED in r12 (BASELINE r12 addenda 2/5). Two regimes
  * emerged: on PURE PATHS the flood is logarithmic in diameter (8→12
  * rounds for 1000×) and contraction only ties at 10⁶ hops; but on the
  * PIPELINE's band-star graphs the flood pays near-per-hop (5000-hop
  * chain corpus = 35 rounds / 39.8 s) while contraction's shrinking edge
  * set converges in 8 rounds / 12.4 s, and even the natural sf1 corpus
  * ran 2-4× faster contracted. The default since r14 is AUTO: one
  * edge-count probe picks contraction at or above [[AutoFloodMax]] sym
  * rows (it won or tied every measured graph there — see the table at
  * the probe) and [[flood]] (with the escalate-5 hybrid depth net)
  * below, where rounds are job-count-bound and the flood's one-action
  * rounds win. The fixed point is the same as plain propagation — every
  * vertex labeled with its component's minimum id — so callers' oracles
  * are unchanged.
  *
  * Scale/cost: ONE Spark job per round. The neighbor-min frame is lazily
  * `persist`ed (both jump-join references resolve to the same
  * InMemoryRelation, so it computes once inside the round's job instead of
  * needing its own eager-checkpoint job), the round result is a lazy
  * `localCheckpoint` (truncates lineage), and the convergence count is the
  * single action that materializes both. The previous label rides along so
  * that count is a scan, not a third join. Shuffles key on vertex id /
  * label only. Hot representative keys on giant components are one-row
  * build side per key — AQE skew split territory, no driver state
  * anywhere. (Two-rounds-per-action fusion was measured in r11 and
  * rejected — see the loop comment.)
  *
  * Round checkpoints follow the shared [[graft.util.Checkpoints]] policy —
  * local blocks on local masters, reliable `spark.checkpoint.dir` files on
  * clusters (executor loss mid-fixpoint would otherwise kill the
  * truncated-lineage rounds). Retired rounds delete their reliable files
  * promptly via [[unpersistCheckpoint]]'s reliable branch. Measured
  * local-mode cost of the reliable posture (200k-vertex star-chain graph,
  * 15 flood rounds, local[32], /tmp dir; BASELINE.md "Round-15 addendum
  * 5"): 1.20× wall per fixpoint.
  *
  * Reference provenance: the reference has no graph step; this serves the
  * near-dup cluster formation the training-pipeline brief adds (q39).
  */
object ConnectedComponents {

  /** pointer jumps per round: each is one more label-frame shuffle join
    * against the round's materialized label map, and one more chain hop
    * contracted — rounds scale as log_{jumps+2}(deepest chain). Jump depth
    * ESCALATES with the round count: near-dup cluster graphs are shallow
    * (diameter-bound rounds, measured since round 6), so the common case
    * converges in ~3 rounds where extra jumps cannot cut rounds (the
    * changes are neighbor-min flood, not chain contraction — measured:
    * jumps 1/2/4/6 all take 3 rounds on the corpus graph) and each jump
    * join shuffles the corpus-sized label frame for nothing. Only a graph
    * that is still unconverged after [[EscalateAfter]] rounds has
    * demonstrated depth, and only then is the extra contraction paid. */
  private val EscalateAfter = 3
  private val JumpsShallow = 1
  private val JumpsDeep = 3

  /** Flood rounds before the hybrid hands the quotient graph to
    * [[contract]]. r12 shipped 8; r13 lowered it to 5 after measuring
    * the prelude's cost at sf10
    * (BASELINE r13): sf0.1 corpora converge in ≤5 rounds and still never
    * escalate, but every graph that outlives round 5 landed faster under
    * earlier contraction — natural sf10 ~29→26 s box-normalized, the
    * 20000-hop chain corpus 39→20 s (where escalate-at-5 even beat pure
    * contraction: the cheap early flood rounds collapse local stars
    * before the quotient contracts). Pure contraction remains slightly
    * ahead on the deepest natural corpus (~22 s) but loses at the
    * driver's sf0.1 scale — the hybrid keeps both regimes. */
  private val defaultEscalateRounds = 5

  /** AUTO-SELECT (VERDICT r13 item 3, default since r14): one cheap
    * edge-count probe decides the algorithm per invocation. Re-measured
    * r14 with the bench harness (2 reps, min, canary-normalized — the
    * r13 table was single reps at box factors 1.5-1.7, inside the
    * documented variance envelope, and its natural-vs-chain best-arm
    * flip did not reproduce):
    *
    *   corpus             sym rows   flood   contract   hybrid-5
    *   natural sf0.1         2.4k     4.2      3.9        = flood
    *   natural sf1            21k    20.4      6.3        ~flood
    *   natural sf10          896k    46.2     21.6       22.2
    *   chain-20k sf10        984k    50.1     17.3       25.5
    *   path 10^5             200k    20.9     20.6        —
    *   path 10^6               2M    46.2     49.9        —
    *
    * Contraction wins or ties every measured BAND-STAR graph at ≥20k
    * sym rows (3.3× at sf1 — the saturated corpus' depth makes the
    * flood pay label-frame rounds per hop). The one measured exception
    * is the degenerate PURE PATH at 10⁶ hops (2M sym rows: flood 46.2 s
    * vs contract 49.9 s) — a topology LSH band graphs never produce
    * (every bucket is a star); on such graphs the probe picks the ~8%
    * slower arm, a known cost of deciding from the edge count alone.
    * Below ~4k rows both arms are pure job-count (the tie at sf0.1)
    * and the flood's one-action rounds beat contraction's three eager
    * checkpoints per round. AUTO therefore floods (with the escalate-5
    * depth net) under [[AutoFloodMax]] sym rows and contracts at or
    * above it. The probe
    * is one count on the caller-persisted edge frame — the rounds that
    * follow scan it many times either way. */
  private val AutoFloodMax = 4096L

  /** Generic 1-hop warm start for [[minLabel]]: each vertex labeled
    * min(self, direct neighbors) — one groupBy + left join. Isolated
    * vertices keep their own id. See the `init` caveat on [[minLabel]]:
    * measured r11, this buys at most one round and costs an eager
    * checkpoint job, so it only pays when `sym` is already materialized
    * AND the graph is shallow; the in-repo dedup chains use cold starts. */
  def oneHopInit(vertices: DataFrame, idCol: String,
                 sym: DataFrame, srcCol: String, dstCol: String,
                 labelCol: String = "cluster_id"): DataFrame = {
    val mins = sym.groupBy(col(srcCol).as("_i")).agg(min(col(dstCol)).as("_m"))
    vertices.select(col(idCol))
      .join(mins, col(idCol) === col("_i"), "left")
      .select(col(idCol),
        least(col(idCol), coalesce(col("_m"), col(idCol))).as(labelCol))
  }

  /** Connected components through the edge-count probe: [[contract]] at
    * or above [[AutoFloodMax]] sym rows, [[flood]] below.
    *
    * @param vertices one row per vertex
    * @param idCol    vertex id column in `vertices` (orderable; min wins)
    * @param sym      SYMMETRIC edge list (caller unions both directions)
    * @param srcCol   edge source column in `sym`
    * @param dstCol   edge destination column in `sym`
    * @param init     optional WARM-START labels (idCol, labelCol),
    *   exactly one row per vertex (it REPLACES `vertices`): each
    *   label must be the id of a vertex reachable from the keyed vertex
    *   (and ≤ it, min wins). The fixpoint is unchanged (labels only
    *   move down toward the component min and every intermediate value
    *   stays a reachable id) — ConnectedComponentsSpec pins warm == cold.
    *   Measured caveat (r11): a 1-hop warm start saves at most one
    *   round, which is worth nothing on flood-bound graphs (the sf1
    *   chain corpus runs 24 rounds either way), and the init plan is
    *   eagerly checkpointed here (one extra job) — so the dedup chain
    *   queries deliberately do NOT use it. The incremental-ingest use
    *   case it was reserved for landed in r14 as
    *   [[graft.pipeline.CorpusDedup.appendShard]], which goes one step
    *   further than warm labels: the old fixpoint becomes the VERTEX
    *   SET (each component pre-collapsed to its label), so CC work is
    *   O(shard + touched components) — `init` remains for callers whose
    *   warm labels are free-standing but who still need per-doc vertices.
    * @return (labels as (idCol, labelCol) DataFrame, rounds used)
    */
  def minLabel(vertices: DataFrame, idCol: String,
               sym: DataFrame, srcCol: String, dstCol: String,
               labelCol: String = "cluster_id",
               maxIter: Int = 50,
               init: Option[DataFrame] = None): (DataFrame, Int) =
    if (sym.count() >= AutoFloodMax)
      contract(vertices, idCol, sym, srcCol, dstCol, labelCol, maxIter, init)
    else flood(vertices, idCol, sym, srcCol, dstCol, labelCol, maxIter, init)

  /** Min-label flood with pointer jumps, escalating to [[contract]] on
    * the quotient graph after `escalateRounds` rounds (the hybrid;
    * `Int.MaxValue` never escalates). Same parameters and fixpoint as
    * [[minLabel]]. */
  private[graft] def flood(vertices: DataFrame, idCol: String,
                           sym: DataFrame, srcCol: String, dstCol: String,
                           labelCol: String = "cluster_id",
                           maxIter: Int = 50,
                           init: Option[DataFrame] = None,
                           escalateRounds: Int = defaultEscalateRounds): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    val edges = sym.select(col(srcCol).as("_x"), col(dstCol).as("_nb"))
    // localCheckpoint truncates LINEAGE but its LogicalRDD CARRIES the
    // origin plan's sizeInBytes estimate. Joins multiply child estimates,
    // so a loop that feeds each round's checkpoint into the next compounds
    // the estimate exponentially — by round ~12 Catalyst's stats visitor is
    // multiplying million-digit BigIntegers and planning time quadruples
    // per round (observed at sf1). Re-basing the frame on the checkpointed
    // RDD resets the estimate to the constant default, keeping per-round
    // planning O(1). The row re-encode is linear in label rows — noise next
    // to the round's joins.
    def rebase(ck: DataFrame): DataFrame = spark.createDataFrame(ck.rdd, ck.schema)
    // EAGER checkpoint, deliberately: round 1 reads the label frame
    // through TWO branches (the edge join and the union self branch). A
    // lazy checkpoint/cache would be filled by two concurrent readers
    // racing inside round 1's job — the initial plan's whole subtree
    // computes ~twice (measured in r11 on the warm-start experiment:
    // "Block already exists; not re-adding" + q39 sf1 15 s → 24-29 s).
    // One small up-front job is cheaper than double-computing the input.
    var labelsCk = init
      .map(_.select(col(idCol).as("_id"), col(labelCol).as("_lbl")))
      .getOrElse(vertices.select(col(idCol).as("_id"), col(idCol).as("_lbl")))
      .transform(ckpt(_, true))
    var labels = rebase(labelsCk)
    var converged = false
    var iter = 0
    val lblType = labels.schema("_lbl").dataType
    // ONE round per Spark action. Fusing two rounds per action was built
    // and MEASURED in r11, then reverted: within a fused pair the second
    // round reads the first round's un-materialized output through TWO
    // branches (edge join + union self), and concurrent tasks race to
    // fill the same lazy cache partitions — the first round's subtree
    // computes ~twice ("Block already exists; not re-adding"). On tiny
    // per-round data (sf0.1, scheduling-dominated) fusion won ~0.5 s/
    // query, but on the sf1 adversarial chain corpus (24 rounds,
    // data-dominated) q39 went 15 s → 38 s. Multi-reference inside one
    // action is fundamental to this operator (the jump joins read mins
    // twice as well), so actions are the only safe materialization
    // points; the warm start above is where the round count is cut.
    //
    // HYBRID ESCALATION (r12): a graph still unconverged after
    // `escalateRounds` has demonstrated depth the flood pays for
    // per-hop-ish (measured on the band-graph topology: 5000-hop chain
    // corpus = 35 flood rounds) — hand the QUOTIENT graph (edges
    // re-keyed by current labels: same components, mostly collapsed)
    // to [[contract]], whose shrinking edge set owns that regime
    // (8 rounds / 3.2× less wall on the same corpus), and compose the
    // label maps. Labels after k rounds are reachable-min ids and the
    // component min labels itself, so the quotient's component min IS
    // the component min — fixpoint unchanged (spec-pinned). Shallow
    // graphs (every natural sf0.1 corpus: ≤ 5 rounds) never reach the
    // switch.
    while (!converged && iter < maxIter) {
      if (iter == escalateRounds) {
        val quot = edges
          .join(labels.select(col("_id").as("_x"), col("_lbl").as("_lx")), Seq("_x"))
          .join(labels.select(col("_id").as("_nb"), col("_lbl").as("_ln")), Seq("_nb"))
          .select(col("_lx"), col("_ln"))
          .filter(col("_lx") =!= col("_ln"))
        val verts = labels.select(col("_lbl").as("_q")).distinct()
        val (qLabels, qRounds) =
          contract(verts, "_q", quot, "_lx", "_ln", "_qlbl", maxIter)
        // checkpoint + rebase the composition so the returned frame's
        // stats are a plain leaf default, not the join product of two
        // checkpointed frames (the compounding guard this loop already
        // holds for its own rounds)
        val composed = rebase(labels
          .join(qLabels.select(col("_q").as("_lbl"), col("_qlbl")), Seq("_lbl"), "left")
          .select(col("_id").as(idCol),
            coalesce(col("_qlbl"), col("_lbl")).as(labelCol))
          .transform(ckpt(_, true)))
        // composed is an INDEPENDENT eager checkpoint, so the flood's
        // round-`escalateRounds` label blocks and the quotient contract's
        // label blocks are dead weight from here (ADVICE r12: the hybrid
        // return path leaked both per invocation)
        unpersistCheckpoint(labelsCk)
        unpersistCheckpoint(qLabels)
        return (composed, iter + qRounds)
      }
      val prevCk = labelsCk
      // step 1: neighbor min — lazily cached so step 2's self-join reads
      // the InMemoryRelation instead of re-running the join (the
      // referenced-twice re-execution trap), WITHOUT spending a separate
      // eager-materialization job: the round's one action below computes it.
      // The previous label RIDES THROUGH the aggregation (the self branch
      // contributes exactly one non-null _old per _id; max ignores the edge
      // branch's nulls), so the convergence check at the end of the round
      // needs no separate join back to the previous frame — one shuffle
      // fewer per round than the join-with-prev shape.
      val mins = edges
        .join(labels.select(col("_id").as("_nb"), col("_lbl").as("_nl")), Seq("_nb"))
        .select(col("_x").as("_id"), col("_nl").as("_lbl"),
          lit(null).cast(lblType).as("_old"))
        .unionByName(labels.select(col("_id"), col("_lbl"),
          col("_lbl").as("_old")))
        .groupBy("_id").agg(min(col("_lbl")).as("_lbl"), max(col("_old")).as("_old"))
        .persist()
      // step 2: chained pointer jumps — follow the representative's own
      // label off the one cached mins frame, so each round contracts
      // label chains by depth jumps+1, not 2 (rounds ~ log_{jumps+2} of
      // the deepest chain). A label is always a live vertex id (it is the
      // min of vertex ids), so the lookup always matches; left join +
      // coalesce only guards degenerate empty inputs
      val jumps = if (iter < EscalateAfter) JumpsShallow else JumpsDeep
      val reps = mins.select(col("_id").as("_lbl"), col("_lbl").as("_ll"))
      var jumped = mins
      for (_ <- 1 to jumps)
        jumped = jumped.join(reps, Seq("_lbl"), "left")
          .select(col("_id"),
            least(col("_lbl"), coalesce(col("_ll"), col("_lbl"))).as("_lbl"),
            col("_old"))
      // lazy checkpoint: the convergence count below is the round's SINGLE
      // action — it computes the joins, fills the mins cache, persists the
      // checkpoint blocks, and counts changed labels in one job
      val nextCk = ckpt(jumped, false)
      val changed = nextCk.filter(col("_lbl") =!= col("_old")).count()
      labelsCk = nextCk
      labels = rebase(nextCk).select("_id", "_lbl")
      // checkpoint blocks live on the RDD, not in the CacheManager —
      // Dataset.unpersist is a no-op on them (ADVICE r12); go through
      // the shim so each round's blocks free promptly instead of waiting
      // on a GC-driven ContextCleaner pass
      unpersistCheckpoint(prevCk)
      mins.unpersist()
      converged = changed == 0
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components unconverged after $maxIter doubling rounds — " +
        "at 2^50 reachable hops this is a broken edge list, not a deep graph")
    (labels.select(col("_id").as(idCol), col("_lbl").as(labelCol)), iter)
  }

  /** Alternating large-star/small-star EDGE CONTRACTION (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
    * in MapReduce and Beyond", SoCC 2014), the escape hatch the
    * [[minLabel]] scaladoc has cited since r6 — built and measured in
    * r12 (VERDICT item 6), selected by [[minLabel]]'s edge-count probe
    * at or above [[AutoFloodMax]] sym rows. Same fixpoint: every vertex labeled
    * with its component's minimum id, so callers' oracles are unchanged
    * (spec-pinned equal to the flood on chains, stars, and the full
    * MinHash corpus graph).
    *
    * One round = large-star ∘ small-star over the current edge set:
    *   - large-star(u): every neighbor v > u re-points to
    *     m = min(Γ(u) ∪ u) — long-range shortcuts grow exponentially.
    *   - small-star(u): every lower neighbor (and u itself) points to
    *     the min of u's lower closure — local stars flatten.
    * Edges stay oriented high→low; at convergence (edge-set signature
    * stable) the edge set IS the star forest (v → component-min), and
    * labels fall out of one left join. O(log² n) rounds proven,
    * ~log n observed.
    *
    * Per-round cost is EDGES-sized (two groupBy+join+distinct passes)
    * vs the flood's LABELS-sized joins — the trade this hatch was
    * reserved for. Each intermediate is eagerly localCheckpoint'ed:
    * both star steps read their input through two branches (the
    * neighbor-min agg and the re-point join), the same
    * one-materialization-per-action constraint the flood loop obeys
    * (lazy persist there double-computes — r11 measured). `init` warm
    * labels fold in as extra (id → label) edges: a label is a reachable
    * id, so components are unchanged. */
  def contract(vertices: DataFrame, idCol: String,
               sym: DataFrame, srcCol: String, dstCol: String,
               labelCol: String = "cluster_id",
               maxIter: Int = 50,
               init: Option[DataFrame] = None): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    def rebase(ck: DataFrame): DataFrame = spark.createDataFrame(ck.rdd, ck.schema)
    val raw = sym.select(col(srcCol).as("_u"), col(dstCol).as("_v"))
    val initCk = {
      val base = raw.select(greatest(col("_u"), col("_v")).as("_a"),
        least(col("_u"), col("_v")).as("_b"))
      (if (init.isDefined) base.unionByName(
        init.get.select(col(idCol).as("_a"), col(labelCol).as("_b"))) else base)
        .filter(col("_a") =!= col("_b"))
        .distinct()
        .transform(ckpt(_, true))
    }
    var edges = rebase(initCk)
    // hash sum widened to DECIMAL(38,0): a long sum of 64-bit hashes
    // overflows (and ANSI mode throws on it)
    def signature(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("_a"), col("_b")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
    }
    var sig = signature(edges)
    var iter = 0
    var converged = sig._1 == 0L
    // previous round's checkpoint blocks are dropped once the round is
    // done (the flood loop's posture — 20 rounds of retained 10⁶-edge
    // checkpoints is block-manager debt, not state); the initial distinct
    // edge checkpoint retires with round 1 (ADVICE r12: it never did)
    var retired: Seq[DataFrame] = Seq(initCk)
    while (!converged && iter < maxIter) {
      // large-star over the symmetrized view
      val symView = edges.select(col("_a").as("_u"), col("_b").as("_v"))
        .unionByName(edges.select(col("_b").as("_u"), col("_a").as("_v")))
      val lsMin = symView.groupBy("_u").agg(min(col("_v")).as("_m"))
      val lsCk = symView.join(lsMin, Seq("_u"))
        .filter(col("_v") > col("_u"))
        .select(col("_v").as("_a"), least(col("_m"), col("_u")).as("_b"))
        .distinct()
        .transform(ckpt(_, true))
      val ls = rebase(lsCk)
      // small-star over the high→low orientation (large-star preserves it)
      val ssMin = ls.groupBy("_a").agg(min(col("_b")).as("_m"))
      val ssCk = ls.join(ssMin, Seq("_a"))
        .select(col("_b").as("_v"), col("_m"))
        .unionByName(ssMin.select(col("_a").as("_v"), col("_m")))
        .filter(col("_v") =!= col("_m"))
        .select(col("_v").as("_a"), col("_m").as("_b"))
        .distinct()
        .transform(ckpt(_, true))
      val ss = rebase(ssCk)
      val nextSig = signature(ss)
      converged = nextSig == sig
      sig = nextSig
      edges = ss
      retired.foreach(unpersistCheckpoint(_))
      retired = Seq(lsCk, ssCk)
      iter += 1
    }
    if (!converged && sig._1 > 0) throw new IllegalStateException(
      s"edge contraction unconverged after $maxIter star rounds — broken edge list")
    val stars = edges.select(col("_a").as("_id"), col("_b").as("_lbl"))
    // labels are eagerly checkpointed so the final star-forest edge
    // blocks (and the last round's retired pair) can be freed HERE
    // instead of leaking per invocation (ADVICE r12) — the returned
    // frame is self-contained, callers re-read its blocks, never the
    // contraction lineage
    val labels = vertices.select(col(idCol).as("_id"))
      .join(stars, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("_lbl"), col("_id")).as(labelCol))
      .transform(ckpt(_, true))
    retired.foreach(unpersistCheckpoint(_))
    (labels, iter)
  }
}

package graft.util

import org.apache.spark.sql.DataFrame

/** Shared round-checkpoint strategy for the engine's ITERATIVE operators
  * (connected components, the BPE trainer, PageRank) — the r15
  * generalization of VERDICT r14 item 4: `localCheckpoint` truncates
  * lineage into EXECUTOR block storage, which is free on local[32] but
  * lost-executor-fatal mid-loop on a multi-node cluster (no lineage,
  * blocks gone — the whole fixpoint dies). On a non-local master every
  * loop checkpoint can instead go through `Dataset.checkpoint` onto the
  * reliable `spark.checkpoint.dir` store.
  *
  * The mode (`auto` | `local` | `reliable`) is the deployment's
  * `spark.graft.checkpoint` conf, else `auto`. `auto` = reliable iff the
  * master is non-local AND a checkpoint dir is set; a non-local master
  * WITHOUT a dir warns once and stays local rather than failing every
  * iterative query.
  *
  * The reliable arm is ALWAYS eager: a lazy `Dataset.checkpoint`
  * materializes at the caller's action and then RECOMPUTES the whole
  * plan a second time when doCheckpoint writes the files — eager writes
  * them in one job and the caller's action reads them back. Retiring a
  * reliable checkpoint goes through
  * [[org.apache.spark.sql.graftshim.CheckpointShim.unpersistCheckpoint]],
  * whose reliable branch deletes the rdd-<id> files promptly. Measured
  * local-mode cost of the reliable posture (200k-vertex star-chain CC
  * graph, 15 flood rounds, local[32]; BASELINE.md "Round-15 addendum 5"):
  * 1.20x per CC fixpoint.
  */
object Checkpoints {

  private val warnedNoDir = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Test hook: the warn-once flag is JVM-global and the local-cluster
    * spec must observe the first warning deterministically regardless of
    * suite order. */
  private[graft] def resetWarnForTest(): Unit = warnedNoDir.set(false)

  def ckpt(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val mode = df.sparkSession.conf.get("spark.graft.checkpoint", "auto")
    // ADVICE r15: an unrecognized mode (a typo'd 'relaible') must not fall
    // into the auto branch silently — a cluster deployment that intended
    // the reliable posture would run lost-executor-fatal local checkpoints
    require(Set("auto", "local", "reliable")(mode),
      s"unrecognized checkpoint mode '$mode' (from spark.graft.checkpoint) " +
        "— expected one of: auto, local, reliable")
    val reliable = mode match {
      case "reliable" =>
        require(sc.getCheckpointDir.isDefined,
          "checkpoint mode 'reliable' needs spark.checkpoint.dir set")
        true
      case "local" => false
      case _ =>
        val nonLocal = !sc.isLocal
        if (nonLocal && sc.getCheckpointDir.isEmpty) {
          if (!warnedNoDir.getAndSet(true)) System.err.println(
            "[graft] non-local master without spark.checkpoint.dir — loop " +
              "checkpoints stay LOCAL (executor loss mid-iteration is fatal); " +
              "set spark.checkpoint.dir to enable reliable checkpoints")
          false
        } else nonLocal
    }
    if (reliable) df.checkpoint(true) else df.localCheckpoint(eager)
  }
}

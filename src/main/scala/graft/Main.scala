package graft

import graft.pipeline._
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Paths => JPaths}
import scala.jdk.CollectionConverters._

/** Config-driven entry point: the reference's user runs
  * `DataModule(config).setup()` from one YAML (`README.md:85-100`,
  * `demo/data-config.yaml`); this main gives the engine the same
  * no-code-required surface — one YAML plus a command.
  *
  * Usage: `runMain graft.Main <data-config.yaml> <command>` with command
  * one of:
  *   - `cache`   — split subjects, materialize the fingerprinted cache
  *                 (or hit an existing one), print its path
  *   - `serve`   — cache + one epoch of train (augmented) and valid
  *                 batches; writes `output/train_epoch0` when set
  *   - `explore` — dataset-wide descriptive statistics (A5/A6 sweep),
  *                 one CSV per feature under `output/`
  *   - `predict` — serve validation records, run the (stub identity)
  *                 scorer, inverse-warp predictions to cached geometry,
  *                 write `output/predictions`
  *   - `dedup`   — corpus dedup over `paths.documents`: exact content
  *                 hash → MinHash near-dup clusters → keep-best-quality
  *                 (pipeline/CorpusDedup); writes `output/dedup`
  *   - `split`   — leakage-safe train/val/test assignment over
  *                 `paths.documents`: one dedup chain, then clusters —
  *                 not docs — draw the split (pipeline/Curation);
  *                 writes `output/split`
  *   - `score`   — linear classifier inference of `paths.documents`
  *                 against the `paths.weights` (term, weight) model
  *                 (pipeline/Curation); writes `output/score`
  *   - `ingest`  — incremental dedup of `paths.incoming` against the
  *                 `paths.documents` corpus (exact_dup/near_dup/novel);
  *                 writes `output/ingest`
  *   - `dedupindex` — build + snapshot-commit the incremental-dedup
  *                 state (labels + band index) under `paths.state_dir`
  *                 (pipeline/CorpusDedup.writeState)
  *   - `dedupappend` — append `paths.incoming` to that state without
  *                 re-clustering the corpus; with `--resume`, heal an
  *                 append that crashed between its two MERGEs at
  *                 O(shard) (CorpusDedup.appendState; the stamp format
  *                 is CorpusDedup's "Stamp protocol")
  *   - `decontaminate` — flag `paths.documents` docs sharing any
  *                 word-13-gram with `paths.benchmarks`
  *                 (pipeline/Curation); writes `output/decontaminate`
  *   - `annbuild`/`annsearch` — persistent IVF-PQ index lifecycle over
  *                 `paths.data_dir`'s embeddings: build materializes
  *                 centroids/codebook/cell-partitioned codes under
  *                 `paths.index_dir` (shape via optional `ann:` keys);
  *                 search serves top-k without retraining
  *   - `compact` — layout maintenance: bound `paths.records`' file
  *                 count from its on-disk bytes (Sources.compact;
  *                 target MB via `paths.compact_target_mb`, default 128)
  *   - `upsert`  — catalog-scoped MERGE of `paths.updates` into the
  *                 clustered `paths.records` (key via `paths.upsert_key`,
  *                 default doc_id): only touched key ranges rewrite
  *   - `snapshot`/`timetravel`/`cdc`/`vacuum`/`merge`/`forget` —
  *                 versioned-snapshot table lifecycle
  *                 (pipeline/Snapshots) at `paths.table`: commit
  *                 `paths.records` as the next version (stats via
  *                 `paths.snapshot_key`), read any retained version,
  *                 row-level change feed between two versions, reclaim
  *                 space keeping `paths.vacuum_keep` versions,
  *                 catalog-scoped MERGE of `paths.updates` on
  *                 `paths.merge_key` (scoped rewrite, optimistic retry,
  *                 optional `paths.merge_lo`/`merge_hi` discovery
  *                 pruning), and catalog-scoped DELETE of
  *                 `paths.forget_column == paths.forget_value` rows
  *                 rewriting only files with hits (GDPR forget)
  *   - `gate`    — write-audit-publish commit of `paths.records` into
  *                 `paths.table`: staged files must pass rows>0 plus
  *                 `paths.gate_not_null` / `paths.gate_unique`
  *                 expectations or nothing publishes
  *
  * The YAML is the reference's config shape (`GraftConfig.fromYaml`) plus
  * a `paths` section naming the inputs:
  * {{{
  * paths:
  *   records: /data/ingested.parquet   # OR dicom_dir: /data/dicoms
  *   subjects: /data/subjects.csv      # S3 schema; optional
  *   cache_root: /data/cache
  *   output: /data/out                 # optional, command outputs
  * }}}
  */
object Main {

  final case class IoPaths(records: Option[String], dicomDir: Option[String],
                           subjects: Option[String], cacheRoot: String,
                           output: Option[String],
                           scorer: String,
                           documents: Option[String],
                           incoming: Option[String],
                           weights: Option[String],
                           benchmarks: Option[String],
                           dataDir: Option[String],
                           indexDir: Option[String])

  /** Every command [[run]] accepts; the usage and unknown-command texts
    * are built from it. */
  private val Verbs = Seq("cache", "serve", "explore", "predict", "dedup",
    "split", "score", "ingest", "dedupindex", "dedupappend", "decontaminate",
    "annbuild", "annsearch", "compact", "upsert", "snapshot", "timetravel",
    "cdc", "vacuum", "merge", "forget", "gate")

  /** one nested section of the root map (`paths:`, `ann:`); empty if absent */
  private def section(root: Map[String, Object], name: String): Map[String, Object] =
    root.get(name) match {
      case Some(m: java.util.Map[_, _]) =>
        m.asInstanceOf[java.util.Map[String, Object]].asScala.toMap
      case _ => Map.empty[String, Object]
    }

  /** one non-empty scalar of the `paths:` section */
  private def pathKey(root: Map[String, Object])(key: String): Option[String] =
    section(root, "paths").get(key).map(_.toString).filter(_.nonEmpty)

  /** `paths` section of the config's root map. */
  private def ioPaths(configPath: String, root: Map[String, Object]): IoPaths = {
    val s = pathKey(root) _
    // default cache_root must be STABLE across invocations (the cache
    // command's contract is "build or hit an existing one"): a sibling
    // `.graft-cache` next to the config, not a fresh temp dir per run
    IoPaths(s("records"), s("dicom_dir"), s("subjects"),
      s("cache_root").getOrElse {
        val cfgDir = Option(JPaths.get(configPath).toAbsolutePath.getParent)
          .getOrElse(JPaths.get("."))
        cfgDir.resolve(".graft-cache").toString
      },
      s("output"),
      // root-level `scorer` key: the predict command's model plug-point
      root.get("scorer").map(_.toString).filter(_.nonEmpty).getOrElse("identity"),
      s("documents"), s("incoming"), s("weights"), s("benchmarks"), s("data_dir"),
      s("index_dir"))
  }

  /** Run one command; returns a small summary map (printed by main, and
    * asserted on by PipelineSpec's end-to-end test). */
  def run(spark: SparkSession, configPath: String, command: String): Map[String, String] = {
    // the YAML is parsed once: dataset sections → cfg, `paths` → p / extra
    val root = GraftConfig.loadYaml(configPath)
    val cfg = GraftConfig.fromMap(root)
    val p = ioPaths(configPath, root)
    // optional `paths:` scalars of single verbs — keeps IoPaths stable
    val extra = pathKey(root) _
    def stateDirFor(verb: String): String = extra("state_dir")
      .orElse(p.output.map(_ + "/dedup_state"))
      .getOrElse(throw new IllegalArgumentException(
        s"$verb needs paths.state_dir (or paths.output)"))
    val imageCols = cfg.keyPairs.keys.toSeq.sorted
    val labelCols = cfg.keyPairs.values.filter(_ != "none").toSeq.distinct.sorted

    lazy val records: DataFrame = (p.records, p.dicomDir) match {
      case (Some(r), _) => spark.read.parquet(r)
      case (None, Some(d)) =>
        // raw-archive on-ramp: scan + decode + stack series to volumes;
        // series uid stands in for the subject id
        Sources.stackDicomSeries(Sources.scanDicomFrames(spark, d))
          .select(col("series_uid").as("subject_id"),
            lit(cfg.datasetNames.head).as("dataset"),
            col("volume").as(imageCols.head))
      case _ => throw new IllegalArgumentException(
        "config needs paths.records (ingested parquet) or paths.dicom_dir")
    }
    lazy val subjects: DataFrame = p.subjects match {
      case Some(s) if s.endsWith(".csv") =>
        Sources.subjectCsv(spark, s).select(
          col("SubjectID").as("subject_id"),
          coalesce(col("Vendor"), lit("unknown")).as("vendor"),
          col("Pathology").as("pathology"))
      case Some(s) => spark.read.parquet(s)
      case None => // subject list derivable from the records themselves
        records.select("subject_id").distinct().withColumn("vendor", lit("all"))
    }
    def dataModule(): DataModule =
      DataModule(spark, cfg, subjects, records, p.cacheRoot,
        imageCols = imageCols, labelCols = labelCols).setup()

    command match {
      case "cache" =>
        val dm = dataModule()
        val n = DatasetCacher.load(spark, dm.cachePath).count()
        Map("cache_path" -> dm.cachePath, "cached_records" -> n.toString)

      case "serve" =>
        val dm = dataModule()
        val train = dm.dataloader("train", epoch = 0L)
        val valid = dm.dataloader("valid", epoch = 0L)
        p.output.foreach { o =>
          train.write.mode("overwrite").parquet(s"$o/train_epoch0")
        }
        Map("cache_path" -> dm.cachePath,
          "train_rows" -> train.count().toString,
          "valid_rows" -> valid.count().toString)

      case "explore" =>
        val sweeps = Exploration.explore(records, imageCols.head, "dataset")
        p.output.foreach(o => sweeps.foreach { case (ft, df) =>
          Sources.writeCsv(df, s"$o/exploration_$ft")
        })
        sweeps.map { case (ft, df) => s"explore_$ft" -> df.count().toString }

      case "predict" =>
        val dm = dataModule()
        // source geometry = cached (pre-warp) record geometry
        val cached = DatasetCacher.load(spark, dm.cachePath)
        val shape = cached.select(col(s"${imageCols.head}.shape")).head().getSeq[Int](0)
        val (srcH, srcW) = (shape(3), shape(4))
        // scorer from config (identity | expr:<sql> | class:<fqcn> — the
        // reference's GPU forward_model hole, SURVEY §7.5); the inverse
        // path is real either way
        val served = Predictor.resolveScorer(p.scorer)(
          dm.dataloader("valid", epoch = 0L), imageCols.head)
        val inverted = Predictor.invertPredictions(served, srcH, srcW)
        val out = inverted.select(
          col("file_id"), col("subject_id"), col("dataset"),
          col("frame_nr"), col("slice_nr"), col("prediction"))
        p.output.foreach(o => out.write.mode("overwrite").parquet(s"$o/predictions"))
        Map("predictions" -> out.count().toString,
          "source_geometry" -> s"${srcH}x$srcW",
          "scorer" -> p.scorer)

      case "dedup" =>
        // corpus dedup end-to-end: exact → near-dup clusters → keep-best
        // (CorpusDedup); needs paths.documents (parquet with doc_id, text)
        val docsPath = p.documents.getOrElse(throw new IllegalArgumentException(
          "dedup needs paths.documents (parquet with doc_id, text)"))
        val verdicts = CorpusDedup.keepBest(spark.read.parquet(docsPath)).persist()
        val total = verdicts.count()
        val kept = verdicts.filter(col("kept")).count()
        val exactDups = verdicts
          .filter(col("doc_id") =!= col("exact_canonical_id")).count()
        val nearDups = total - exactDups - kept
        // the q62-style audit report from the SAME materialized labels —
        // no second cluster chain
        val docsDf = spark.read.parquet(docsPath)
        val prof = CorpusDedup.profile(verdicts, docsDf).collect()
        prof.foreach(r => System.err.println(
          s"[graft] dedup profile: size=${r.getAs[Long]("cluster_docs")} " +
            s"clusters=${r.getAs[Long]("n_clusters")} " +
            s"tokens_removed=${r.getAs[Long]("tokens_removed")} " +
            f"(${r.getAs[Double]("frac_corpus_removed") * 100}%.2f%% of corpus)"))
        val fracRemoved = prof.map(_.getAs[Double]("frac_corpus_removed")).sum
        p.output.foreach(o => verdicts.write.mode("overwrite").parquet(s"$o/dedup"))
        verdicts.unpersist()
        Map("docs" -> total.toString, "kept" -> kept.toString,
          "exact_dups" -> exactDups.toString,
          "near_dups_dropped" -> nearDups.toString,
          "token_frac_removed" -> f"$fracRemoved%.4f")

      case "split" =>
        // leakage-safe train/val/test split: near-dup clusters (one chain,
        // materialized once — CorpusDedup.keepBest's labels) assigned
        // CLUSTER-wise by Curation.leakageSafeSplit, so near-duplicates
        // can never straddle a split boundary (q80's production twin)
        val docsPath = p.documents.getOrElse(throw new IllegalArgumentException(
          "split needs paths.documents (parquet with doc_id, text)"))
        val verdicts = CorpusDedup.keepBest(spark.read.parquet(docsPath))
        val assigned = Curation.leakageSafeSplit(
          verdicts.select("doc_id", "cluster_id", "kept")).persist()
        val counts = assigned.groupBy("split").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        p.output.foreach(o =>
          assigned.write.mode("overwrite").parquet(s"$o/split"))
        assigned.unpersist()
        Map("train" -> counts.getOrElse("train", 0L).toString,
          "val" -> counts.getOrElse("val", 0L).toString,
          "test" -> counts.getOrElse("test", 0L).toString)

      case "score" =>
        // linear quality-classifier inference: per-doc logit/sigmoid of
        // paths.documents against the trained (term, weight) model at
        // paths.weights (Curation.linearScore — q84's production twin)
        val docsPath = p.documents.getOrElse(throw new IllegalArgumentException(
          "score needs paths.documents (parquet with doc_id, text)"))
        val weightsPath = p.weights.getOrElse(throw new IllegalArgumentException(
          "score needs paths.weights (parquet with term, weight)"))
        val scored = Curation.linearScore(
          spark.read.parquet(docsPath), spark.read.parquet(weightsPath))
          .persist()
        val total = scored.count()
        val flagged = scored.filter(col("flagged")).count()
        p.output.foreach(o =>
          scored.write.mode("overwrite").parquet(s"$o/score"))
        scored.unpersist()
        Map("docs" -> total.toString, "flagged" -> flagged.toString,
          "kept" -> (total - flagged).toString)

      case "ingest" =>
        // incremental dedup: judge paths.incoming against paths.documents
        // (the existing corpus) — exact_dup / near_dup / novel per doc,
        // nothing re-clusters the existing side (CorpusDedup.incremental)
        val existingPath = p.documents.getOrElse(throw new IllegalArgumentException(
          "ingest needs paths.documents (the existing corpus parquet)"))
        val incomingPath = p.incoming.getOrElse(throw new IllegalArgumentException(
          "ingest needs paths.incoming (the new shard parquet)"))
        val verdicts = CorpusDedup.incremental(
          spark.read.parquet(existingPath), spark.read.parquet(incomingPath))
          .persist()
        val counts = verdicts.groupBy("verdict").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        p.output.foreach(o => verdicts.write.mode("overwrite").parquet(s"$o/ingest"))
        val total = verdicts.count()
        verdicts.unpersist()
        Map("incoming" -> total.toString,
          "exact_dups" -> counts.getOrElse("exact_dup", 0L).toString,
          "near_dups" -> counts.getOrElse("near_dup", 0L).toString,
          "novel" -> counts.getOrElse("novel", 0L).toString)

      case "dedupindex" =>
        // build + snapshot-commit the incremental-dedup state
        // (CorpusDedup.writeState) under paths.state_dir (or
        // paths.output/dedup_state)
        val docsPath = p.documents.getOrElse(throw new IllegalArgumentException(
          "dedupindex needs paths.documents (parquet with doc_id, text)"))
        val stateDir = stateDirFor("dedupindex")
        val head = CorpusDedup.writeState(spark, stateDir,
          spark.read.parquet(docsPath))
        val nDocs = Snapshots.read(spark, s"$stateDir/labels").count()
        head.versions + ("docs" -> nDocs.toString)

      case cmd @ ("dedupappend" | "dedupappend-resume") =>
        // append paths.incoming to the dedupindex state WITHOUT
        // re-clustering the corpus; the `--resume` CLI variant heals an
        // append that crashed between its two MERGEs at O(shard)
        // (CorpusDedup.appendState)
        val incomingPath = p.incoming.getOrElse(throw new IllegalArgumentException(
          "dedupappend needs paths.incoming (the new shard parquet)"))
        val (out, nShard, head) = CorpusDedup.appendState(spark,
          stateDirFor("dedupappend"), spark.read.parquet(incomingPath),
          resume = cmd == "dedupappend-resume")
        head.versions + ("shard_docs" -> nShard.toString) ++ (out match {
          case CorpusDedup.Resumed(n) =>
            Map("resumed" -> "true", "bands_upserted" -> n.toString)
          case CorpusDedup.AlreadyApplied =>
            Map("resumed" -> "noop", "bands_upserted" -> "0")
          case CorpusDedup.Appended(changed, n, rounds) =>
            Map("labels_changed" -> changed.toString,
              "bands_upserted" -> n.toString, "cc_rounds" -> rounds.toString)
        })

      case "decontaminate" =>
        // benchmark decontamination: flag paths.documents docs sharing any
        // word-13-gram with paths.benchmarks (pipeline/Curation — q77's
        // production twin with the benchmark set as a real input)
        val docsPath = p.documents.getOrElse(throw new IllegalArgumentException(
          "decontaminate needs paths.documents (parquet with doc_id, text)"))
        val benchPath = p.benchmarks.getOrElse(throw new IllegalArgumentException(
          "decontaminate needs paths.benchmarks (parquet with doc_id, text)"))
        val report = Curation.decontaminate(
          spark.read.parquet(docsPath), spark.read.parquet(benchPath)).persist()
        val contaminated = report.count()
        // doc_id tie-break: two docs tied on contamination must not make
        // the reported worst_doc plan-dependent
        val worst = report.orderBy(col("contamination").desc, col("doc_id"))
          .limit(1).collect().headOption
        p.output.foreach(o =>
          report.write.mode("overwrite").parquet(s"$o/decontaminate"))
        report.unpersist()
        Map("contaminated" -> contaminated.toString,
          "worst_doc" -> worst.map(_.getAs[Long]("doc_id").toString).getOrElse("-"),
          "worst_frac" -> worst.map(r => f"${r.getAs[Double]("contamination")}%.4f")
            .getOrElse("-"))

      case "annbuild" =>
        // persistent IVF-PQ index over paths.data_dir's embeddings table,
        // materialized under paths.index_dir (pipeline/AnnIndex)
        val dataDir = p.dataDir.getOrElse(throw new IllegalArgumentException(
          "annbuild needs paths.data_dir (directory with embeddings.parquet)"))
        val indexDir = p.indexDir.getOrElse(throw new IllegalArgumentException(
          "annbuild needs paths.index_dir"))
        // optional root-level `ann:` section overrides the index shape
        val ann = section(root, "ann")
        def ai(k: String, dflt: Int): Int =
          ann.get(k).map(_.toString.toInt).getOrElse(dflt)
        // n_clusters 0 (the default) self-sizes to ≈√n at build time
        val params = AnnIndex.Params(
          nClusters = ai("n_clusters", 0), m = ai("m", 8),
          k = ai("k", 256), iters = ai("iters", 4))
        AnnIndex.build(spark, dataDir, indexDir, params)
        Map("index_dir" -> indexDir,
          "centroids" -> spark.read.parquet(s"$indexDir/centroids").count().toString,
          "codebook_rows" -> spark.read.parquet(s"$indexDir/codebook").count().toString,
          "coded_rows" -> spark.read.parquet(s"$indexDir/codes").count().toString)

      case "annsearch" =>
        val dataDir = p.dataDir.getOrElse(throw new IllegalArgumentException(
          "annsearch needs paths.data_dir (directory with embeddings.parquet)"))
        val indexDir = p.indexDir.getOrElse(throw new IllegalArgumentException(
          "annsearch needs paths.index_dir (a built index)"))
        val out = graft.pipeline.AnnIndex.search(spark, dataDir, indexDir)
        // count the WRITTEN parquet, not the plan: out.count() after the
        // write would re-read the index and re-run the whole ADC/rerank
        // job a second time
        val n = p.output match {
          case Some(o) =>
            out.write.mode("overwrite").parquet(s"$o/annsearch")
            spark.read.parquet(s"$o/annsearch").count()
          case None => out.count()
        }
        Map("results" -> n.toString)

      case "compact" =>
        // layout maintenance: bound the records dataset's file count from
        // its CURRENT on-disk bytes (Sources.compact) — the pass every
        // long-lived table needs once incremental ingest sprays small
        // files. Target MB via paths.compact_target_mb (default 128).
        val target = extra("compact_target_mb")
          .map(_.toLong).getOrElse(128L) << 20
        val recordsPath = p.records.getOrElse(throw new IllegalArgumentException(
          "compact needs paths.records (an ingested parquet dataset)"))
        val files = Sources.compact(spark, recordsPath, target)
        Map("files" -> files.toString,
          "rows" -> spark.read.parquet(recordsPath).count().toString)

      case "upsert" =>
        // catalog-scoped MERGE of paths.updates into paths.records
        // (clustered by paths.upsert_key, default doc_id): only files
        // whose key range the updates touch are rewritten
        val recordsPath = p.records.getOrElse(throw new IllegalArgumentException(
          "upsert needs paths.records (a clustered parquet dataset)"))
        val updatesPath = extra("updates")
          .getOrElse(throw new IllegalArgumentException(
            "upsert needs paths.updates (the rows to merge)"))
        val key = extra("upsert_key").getOrElse("doc_id")
        val st = Sources.upsertClustered(
          spark, recordsPath, spark.read.parquet(updatesPath), key)
        Map("files_total" -> st.filesTotal.toString,
          "files_rewritten" -> st.filesRewritten.toString,
          "files_appended" -> st.filesAppended.toString)

      case "snapshot" =>
        // commit paths.records as the next version of the snapshot table
        // at paths.table (append by default; paths.snapshot_overwrite:
        // true replaces the membership — old versions stay readable).
        // paths.snapshot_key additionally records per-file min/max stats
        // and clusters the files on that key (pruned time travel).
        // paths.snapshot_merge_schema: true lets an append ADD nullable
        // columns (recorded in the version's schema sidecar; old files
        // read them as null — the r13 evolution path).
        val recordsPath = p.records.getOrElse(throw new IllegalArgumentException(
          "snapshot needs paths.records (the rows to commit)"))
        val tablePath = extra("table")
          .getOrElse(throw new IllegalArgumentException(
            "snapshot needs paths.table (the snapshot table root)"))
        val key = extra("snapshot_key")
        val over = extra("snapshot_overwrite").contains("true")
        val st = Snapshots.commit(spark, spark.read.parquet(recordsPath),
          tablePath, overwrite = over, statsCol = key,
          clustered = key.nonEmpty,
          files = extra("snapshot_files").map(_.toInt).getOrElse(0),
          mergeSchema = extra("snapshot_merge_schema")
            .contains("true"))
        Map("version" -> st.version.toString,
          "files_added" -> st.filesAdded.toString,
          "files_total" -> st.filesTotal.toString)

      case "timetravel" =>
        // read paths.table at paths.snapshot_version (default: latest)
        // and write it to output/timetravel — the audit/rollback read
        val tablePath = extra("table")
          .getOrElse(throw new IllegalArgumentException(
            "timetravel needs paths.table"))
        val v = extra("snapshot_version")
          .map(_.toLong).getOrElse(-1L)
        val df = Snapshots.read(spark, tablePath, v)
        val rows = p.output match {
          case Some(o) =>
            df.write.mode("overwrite").parquet(s"$o/timetravel")
            spark.read.parquet(s"$o/timetravel").count()
          case None => df.count()
        }
        Map("version" -> (if (v < 0) Snapshots.currentVersion(spark, tablePath)
                          else v).toString,
          "rows" -> rows.toString)

      case "cdc" =>
        // row-level change feed of paths.table between paths.cdc_from and
        // paths.cdc_to (default: latest); writes output/cdc when set
        val tablePath = extra("table")
          .getOrElse(throw new IllegalArgumentException("cdc needs paths.table"))
        val from = extra("cdc_from")
          .map(_.toLong).getOrElse(throw new IllegalArgumentException(
            "cdc needs paths.cdc_from (the base version)"))
        val to = extra("cdc_to").map(_.toLong)
          .getOrElse(Snapshots.currentVersion(spark, tablePath))
        val d = Snapshots.diff(spark, tablePath, from, to)
        val counts = d.groupBy("_op").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        p.output.foreach(o => d.write.mode("overwrite").parquet(s"$o/cdc"))
        Map("from" -> from.toString, "to" -> to.toString,
          "inserts" -> counts.getOrElse("insert", 0L).toString,
          "deletes" -> counts.getOrElse("delete", 0L).toString)

      case "vacuum" =>
        // reclaim paths.table: retain paths.vacuum_keep versions
        // (default 1), delete unreferenced/orphaned data files older
        // than paths.vacuum_orphan_age_ms (default 10 min — young
        // orphans may belong to an in-flight commit; pass 0 only in a
        // maintenance window with no live writers)
        val tablePath = extra("table")
          .getOrElse(throw new IllegalArgumentException("vacuum needs paths.table"))
        val keep = extra("vacuum_keep")
          .map(_.toInt).getOrElse(1)
        val orphanAge = extra("vacuum_orphan_age_ms")
          .map(_.toLong).getOrElse(600000L)
        val (manifests, files) =
          Snapshots.vacuum(spark, tablePath, keep, orphanMinAgeMs = orphanAge)
        Map("manifests_dropped" -> manifests.toString,
          "files_deleted" -> files.toString)

      case "gate" =>
        // write-audit-publish: commit paths.records to paths.table ONLY
        // if the staged files pass the declared expectations — rows > 0
        // always; paths.gate_not_null (comma-separated columns) adds
        // null-freedom checks; paths.gate_unique adds a primary-key
        // uniqueness check. A failed audit discards the staged files,
        // burns no version, and reports the failed checks.
        val recordsPath = p.records.getOrElse(throw new IllegalArgumentException(
          "gate needs paths.records"))
        val tablePath = extra("table")
          .getOrElse(throw new IllegalArgumentException("gate needs paths.table"))
        val notNull = extra("gate_not_null")
          .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
        val unique = extra("gate_unique")
        val checks: Seq[(String, org.apache.spark.sql.Column)] =
          Seq("nonempty" -> (count(lit(1)) > 0)) ++
            notNull.map(c =>
              s"not_null:$c" -> (count(when(col(c).isNull, 1)) === 0)) ++
            unique.map(c =>
              s"unique:$c" -> (countDistinct(col(c)) === count(col(c)))).toSeq
        val key = extra("snapshot_key")
        try {
          val st = Snapshots.commit(spark, spark.read.parquet(recordsPath),
            tablePath, statsCol = key, clustered = key.nonEmpty,
            files = extra("snapshot_files")
              .map(_.toInt).getOrElse(0),
            audit = checks)
          Map("published" -> "true", "version" -> st.version.toString,
            "files_added" -> st.filesAdded.toString)
        } catch {
          case e: Snapshots.AuditFailed =>
            Map("published" -> "false",
              "failed_checks" -> e.failed.mkString(","))
        }

      case "merge" =>
        // catalog-scoped MERGE into paths.table: rows of paths.updates
        // whose paths.merge_key matches an existing row replace it, the
        // rest are inserted — the versioned sibling of `upsert` (which
        // rewrites a clustered dataset in place). Scoped rewrite +
        // optimistic retry: racing writers serialize with no lost
        // update. If merge_key is the table's recorded stats key, pass
        // paths.merge_lo/merge_hi to also prune hit-file discovery.
        val tablePath = extra("table")
          .getOrElse(throw new IllegalArgumentException("merge needs paths.table"))
        val updatesPath = extra("updates")
          .getOrElse(throw new IllegalArgumentException("merge needs paths.updates"))
        val key = extra("merge_key")
          .getOrElse(throw new IllegalArgumentException("merge needs paths.merge_key"))
        val prune = for {
          lo <- extra("merge_lo").map(_.toDouble)
          hi <- extra("merge_hi").map(_.toDouble)
        } yield (key, lo, hi)
        val st = Snapshots.upsert(spark, tablePath,
          spark.read.parquet(updatesPath), key, prune = prune,
          meta = s"merge $key from $updatesPath")
        Map("version" -> st.version.toString,
          "rows_updated" -> st.rowsUpdated.toString,
          "rows_inserted" -> st.rowsInserted.toString,
          "files_rewritten" -> st.filesRewritten.toString)

      case "forget" =>
        // catalog-scoped DELETE from paths.table: remove every row whose
        // paths.forget_column equals paths.forget_value (the GDPR
        // right-to-be-forgotten pass), rewriting only files that contain
        // hits. If forget_column is the table's recorded stats key, the
        // value's range also prunes DISCOVERY to overlapping files.
        // Pre-delete versions remain time-travelable until `vacuum`.
        val tablePath = extra("table")
          .getOrElse(throw new IllegalArgumentException("forget needs paths.table"))
        val cName = extra("forget_column")
          .getOrElse(throw new IllegalArgumentException(
            "forget needs paths.forget_column"))
        val value = extra("forget_value")
          .getOrElse(throw new IllegalArgumentException(
            "forget needs paths.forget_value"))
        val keyed = Snapshots.manifest(spark, tablePath,
            Snapshots.currentVersion(spark, tablePath))
          .filter(col("key") === cName).limit(1).count() > 0
        val prune = if (keyed) scala.util.Try(value.toDouble).toOption
          .map(v => (cName, v, v)) else None
        val colType = Snapshots.read(spark, tablePath).schema(cName).dataType
        // validate the literal's cast on the driver FIRST: a value that
        // fails to cast (typo, wrong type) yields null, the predicate
        // matches nothing, and a right-to-be-forgotten request would
        // report rows_deleted=0 as a successful run — fail loudly
        // instead. try_cast, not cast (ADVICE r11): under ANSI mode
        // (the Spark 4 default) a bad cast THROWS at execution, so the
        // probe must use the null-yielding form for the intended
        // message to fire identically in ANSI and legacy modes.
        // Column-level try_cast on lit(value), NOT a SQL-parsed string
        // literal (ADVICE r12): the parser interprets backslash escapes
        // by default, so a value containing backslashes would be
        // validated as a DIFFERENT string than the lit(value) the delete
        // predicate uses — probe and predicate must share the literal
        require(!spark.range(1)
            .select(lit(value).try_cast(colType).isNull)
            .head().getBoolean(0),
          s"forget_value '$value' does not cast to $cName's type " +
            s"$colType — the delete predicate would silently match nothing")
        val st = Snapshots.delete(spark, tablePath,
          col(cName) === lit(value).cast(colType),
          prune = prune, meta = s"forget $cName=$value")
        Map("version" -> st.version.toString,
          "rows_deleted" -> st.rowsDeleted.toString,
          "files_rewritten" -> st.filesRewritten.toString,
          "files_kept" -> st.filesKept.toString)

      case other => throw new IllegalArgumentException(
        s"unknown command '$other' — expected ${Verbs.mkString("|")}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 ||
      (args.length == 3 && args(1) == "dedupappend" && args(2) == "--resume"),
      "usage: graft.Main <data-config.yaml> " +
        Verbs.mkString("<", "|", ">") +
        " (dedupappend also takes --resume)")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val command = if (args.length == 3) "dedupappend-resume" else args(1)
    try run(spark, args(0), command).toSeq.sortBy(_._1)
      .foreach { case (k, v) => println(s"$k: $v") }
    finally spark.stop()
  }
}

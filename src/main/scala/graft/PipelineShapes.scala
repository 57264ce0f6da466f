package graft

import graft.pipeline.{AnnIndex, CorpusDedup, Curation, LmModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production-shape benchmark entries (GRAFT_BENCH_PIPELINE=1): the
  * composed pipelines a deployment actually runs, timed on the same data
  * as the declared queries. The declared suite's headline number carries
  * contract shapes — q50/q62 re-run the whole cluster chain because each
  * declared query is standalone by oracle contract — so BASELINE.md needs
  * these rows NEXT TO those to show what the engine costs when stages are
  * materialized once (CorpusDedup) and indexes are trained once
  * (AnnIndex). Order matters: `p_ann_build` materializes the index
  * `p_ann_search` serves from, so Bench must run these as a Seq, not a
  * Map. */
object PipelineShapes {

  /** per-sf scratch home for the persistent index the bench builds. */
  def annDir(sfDir: String): String = {
    val lbl = java.nio.file.Paths.get(sfDir).getFileName.toString
    s"bench_scratch/ann_$lbl"
  }

  /** Fold EVERY column of every row into one hash aggregate. Historically
    * this guarded against count()-action pruning (r9: the verdict's left
    * joins were eliminated wholesale and p_dedup_incremental timed an
    * empty id scan); under the r16 noop-write action the harness itself
    * forces evaluation, but the fold stays — it keeps the output
    * one-row-summarizable and double-guards against any future
    * cardinality-preserving elimination. r16: the fold is `bit_xor`, not
    * `sum` — under the new action the fold column actually EVALUATES, and
    * a sum of uniform 64-bit hashes overflows ANSI long arithmetic almost
    * surely (all 11 pipeline rows died on first contact); xor is
    * overflow-free and just as order-invariant. */
  private def forced(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(bit_xor(col("h")).as("fold"))

  val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // full per-document dedup verdict (exact canon + near-dup cluster +
    // keep-best), each stage computed once — the q26+q39+q50 composition
    "p_dedup_keepbest" -> ((s, d) =>
      forced(CorpusDedup.keepBest(Tables.documents(s, d)))),
    // q62's audit numbers FROM a materialized verdict: one cluster chain,
    // not the declared query's three standalone re-computations
    "p_dedup_audit" -> ((s, d) => {
      val dd = Tables.documents(s, d)
      forced(CorpusDedup.profile(CorpusDedup.keepBest(dd).persist(), dd))
    }),
    // q72's ingest verdict as the pipeline API: existing = even doc_ids,
    // incoming = odd (the declared query's split, so rows are comparable)
    "p_dedup_incremental" -> ((s, d) => {
      val dd = Tables.documents(s, d)
      forced(CorpusDedup.incremental(
        dd.filter(col("doc_id") % 2 === 0),
        dd.filter(col("doc_id") % 2 === 1)))
    }),
    // incremental label maintenance (VERDICT r13 item 1): p_dedup_index
    // prices the COLD state build (full minhash → LSH → CC over the
    // corpus, labels + band index written once); p_dedup_append prices
    // the DAILY operation — a ~6% shard appended against the
    // materialized state, quotient-CC over touched components only.
    // The pair is the O(corpus)-once vs O(shard)-per-day story.
    "p_dedup_index" -> ((s, d) => {
      val t = annDir(d) + "_dedup"
      val p = new org.apache.hadoop.fs.Path(t)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val corpus = Tables.documents(s, d)
        .filter(col("doc_id") % 17 =!= 0).select("doc_id", "text")
      // the cold build this row prices is `graft.Main dedupindex`: the
      // stamped snapshot tables p_dedup_append reads and p_dedup_stream
      // copies (CorpusDedup.writeState)
      CorpusDedup.writeState(s, t, corpus)
      // the shard lands as its own table here (untimed relative to the
      // build): in production a shard ARRIVES as a table — carving it
      // from the corpus inside p_dedup_append would bill a full corpus
      // text scan to the append and bury the O(shard) story
      Tables.documents(s, d).filter(col("doc_id") % 17 === 0)
        .select("doc_id", "text").write.mode("overwrite")
        .parquet(s"$t/shard.parquet")
      s.range(1).toDF("ok")
    }),
    "p_dedup_append" -> ((s, d) => {
      val t = annDir(d) + "_dedup"
      val state = CorpusDedup.DedupState(
        graft.pipeline.Snapshots.read(s, s"$t/labels")
          .select("doc_id", "cluster_id"),
        graft.pipeline.Snapshots.read(s, s"$t/bands")
          .select("band_idx", "band", "ex_id"))
      val shard = s.read.parquet(s"$t/shard.parquet")
      forced(CorpusDedup.appendShard(state, shard).state.labels)
    }),
    // the STREAMING ingest story (r15): the same staged shard arrives as
    // 3 micro-batches through CorpusDedup.appendSink — per batch: token
    // scan, quotient CC over touched components, two stamped MERGEs.
    // Each invocation works on a FRESH copy of the committed state
    // (appendSink mutates its tables; a shared state would make rep 2 a
    // watermark no-op and report the skip, not the ingest) — the copy is
    // narrow-table FS I/O, billed here and noted in BASELINE.
    "p_dedup_stream" -> ((s, d) => {
      val src = annDir(d) + "_dedup"
      val t = annDir(d) + "_dedupstream"
      val conf = s.sparkContext.hadoopConfiguration
      val tp = new org.apache.hadoop.fs.Path(t)
      val fs = tp.getFileSystem(conf)
      fs.delete(tp, true)
      fs.mkdirs(tp)
      for (tbl <- Seq("labels", "bands"))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(s"$src/$tbl"),
          fs, new org.apache.hadoop.fs.Path(s"$t/$tbl"), false, conf)
      val shard = s.read.parquet(s"$src/shard.parquet")
      val sink = CorpusDedup.appendSink(t, "bench")
      for (b <- 0 until 3)
        sink(shard.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong)
      forced(graft.pipeline.Snapshots.read(s, s"$t/labels")
        .select("doc_id", "cluster_id"))
    }),
    // train-once: build the persistent IVF-PQ index (result row is a
    // sentinel; the work is the parquet artifacts under annDir)
    "p_ann_build" -> ((s, d) => {
      AnnIndex.build(s, d, annDir(d))
      s.range(1).toDF("ok")
    }),
    // serve-many: search against the prebuilt index — no training, codes
    // read partition-pruned to the probed cells
    "p_ann_search" -> ((s, d) => forced(AnnIndex.search(s, d, annDir(d)))),
    // q89's production split: train the bigram LM once (CCNet trains on a
    // reference corpus), then score many corpora against the artifacts
    "p_lm_train" -> ((s, d) => {
      LmModel.build(s, Tables.documents(s, d), annDir(d) + "_lm")
      s.range(1).toDF("ok")
    }),
    "p_lm_score" -> ((s, d) =>
      forced(LmModel.score(s, Tables.documents(s, d), annDir(d) + "_lm"))),
    // q79's production split: build the inverted index once, serve
    // queries from postings without touching raw text again (the
    // lexical twin of p_ann_build/p_ann_search)
    "p_text_build" -> ((s, d) => {
      graft.pipeline.TextIndex.build(s, Tables.documents(s, d), annDir(d) + "_text")
      s.range(1).toDF("ok")
    }),
    "p_text_search" -> ((s, d) =>
      forced(graft.pipeline.TextIndex.search(
        s, annDir(d) + "_text", graft.queries.Bm25.qterms, k = 50))),
    // the END-TO-END curation pass a training-data pipeline actually
    // runs, each stage computed ONCE and flowing into the next: dedup
    // keep-best → decontaminate survivors vs a benchmark slice (here
    // every 97th doc stands in for the benchmark corpus) → drop docs
    // over 20% contamination → language-mixture sample to half the
    // cleaned corpus. One composed DAG, no per-stage materialization —
    // the declared queries (q26/q39/q50/q77/q78) price each stage
    // standalone by contract; this row prices the production chain.
    "p_curate_full" -> ((s, d) => {
      val dd = Tables.documents(s, d)
      val verdict = CorpusDedup.keepBest(dd)
      // kept feeds BOTH the decontamination probe and the final
      // anti-join — eagerly materialized so the dedup chain above it
      // computes once per run, not once per reference (the q115
      // double-fill class; measured r14: 48.5 -> 42.5 s at sf10, with
      // keepBest itself 94% of the composed wall, BASELINE.md "Round-14
      // addendum 3")
      val kept = dd.join(
        verdict.filter(col("kept")).select("doc_id"), "doc_id").persist()
      kept.count()
      val bench = dd.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"))
      val cont = Curation.decontaminate(
        kept.select(col("doc_id"), col("text")), bench)
      val clean = kept.join(
        cont.filter(col("contamination") > 0.2).select("doc_id"),
        Seq("doc_id"), "left_anti")
      forced(Curation.mixtureSample(clean, "lang",
        Map("en" -> 0.4, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15,
          "de" -> 0.15),
        budget = 250L * (1L max (dd.count() / 500L))))
    }),
    // versioned-snapshot lifecycle (pipeline/Snapshots): one row prices
    // the write path (clustered base commit + append commit), the next
    // two price what snapshots buy — CDC that reads only the churned
    // files, and a pruned time-travel read against v1's manifest stats.
    // The table rebuilds from scratch each run so version numbers are
    // deterministic across reps.
    "p_snap_commit" -> ((s, d) => {
      val t = annDir(d) + "_snap"
      val p = new org.apache.hadoop.fs.Path(t)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val dd = Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.pipeline.Snapshots.commit(s, dd, t,
        statsCol = Some("doc_id"), clustered = true, files = 8)
      graft.pipeline.Snapshots.commit(s,
        dd.filter(col("doc_id") % 16 === 0)
          .withColumn("doc_id", col("doc_id") + 100000000L), t,
        statsCol = Some("doc_id"), clustered = true, files = 1)
      s.range(1).toDF("ok")
    }),
    "p_snap_cdc" -> ((s, d) =>
      forced(graft.pipeline.Snapshots.diff(s, annDir(d) + "_snap", 1, 2))),
    "p_snap_timetravel" -> ((s, d) =>
      forced(graft.pipeline.Snapshots.readPruned(
        s, annDir(d) + "_snap", "doc_id", 0.0, 1000.0, version = 1L))),
    // the GDPR pass: delete a narrow key range from the clustered table —
    // discovery prunes to stats-overlapping files, rewrite touches only
    // files with hits (p_snap_commit's table, so run after it)
    "p_snap_delete" -> ((s, d) => {
      val st = graft.pipeline.Snapshots.delete(s, annDir(d) + "_snap",
        col("doc_id") >= 100 && col("doc_id") <= 140,
        prune = Some(("doc_id", 100.0, 140.0)))
      s.range(st.rowsDeleted).toDF("deleted")
    }))
}

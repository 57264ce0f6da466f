package graft

import graft.pipeline.{CorpusDedup, Snapshots}
import graft.queries.TextQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental CC label maintenance (VERDICT r13 item 1): appendShard's
  * labels must equal a FULL re-cluster of corpus ∪ shard, label for
  * label — including shards that merge existing components and shard ids
  * below an existing component's min.
  *
  * The bridge fixture is hand-searched offline against the exact Spark
  * hashing (md5 3-shingle minhash, 4 bands of 2): X = word00..word53;
  * Z = X with [17]→alt7, [36]→alt14; M = X with [17]→alt7.
  * bands(X) ∩ bands(Z) = ∅ (two separate corpus clusters) while M shares
  * bands with BOTH — one shard doc merges two existing components. All
  * hashing is deterministic, so the precondition asserts below can never
  * flake; they fail loudly if the minhash pipeline changes.
  */
class AppendShardSpec extends SparkSpec {
  import spark.implicits._

  private val baseWords = (0 until 54).map(i => f"word$i%02d")
  private val textX = baseWords.mkString(" ")
  private val textZ = baseWords.updated(17, "alt7").updated(36, "alt14").mkString(" ")
  private val textM = baseWords.updated(17, "alt7").mkString(" ")
  private val textNovel = "zebra xylophone quartz jigsaw vortex plasma nebula kumquat"

  private def labelsMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def full(docs: DataFrame): Map[Long, Long] =
    labelsMap(TextQueries.nearDupClustersOf(docs.select("doc_id", "text")))

  private def indexMap(df: DataFrame): Map[(Int, String), Long] =
    df.collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

  test("appendShard: a bridging shard doc merges two existing components, " +
       "label-for-label equal to a full re-cluster") {
    val corpus = Seq((10L, textX), (11L, textX), (20L, textZ), (21L, textZ))
      .toDF("doc_id", "text")
    val shard = Seq((30L, textM), (40L, textNovel)).toDF("doc_id", "text")
    val state = CorpusDedup.indexCorpus(corpus)
    val old = labelsMap(state.labels)
    // precondition: X and Z really are two separate components cold
    assert(old == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L),
      s"bridge fixture preconditions broke: $old")

    val delta = CorpusDedup.appendShard(state, shard)
    val expect = full(corpus.unionByName(shard))
    // precondition: the merge actually happens in the full fixpoint
    assert(expect(20L) == 10L && expect(30L) == 10L,
      s"bridge fixture no longer merges: $expect")
    assert(labelsMap(delta.state.labels) == expect)
    assert(expect(40L) == 40L, "novel shard doc must label itself")

    // changedLabels = shard rows + moved existing rows, NOTHING else:
    // docs 10/11 keep label 10 and must not be rewritten
    val changed = labelsMap(delta.changedLabels)
    assert(changed == Map(20L -> 10L, 21L -> 10L, 30L -> 10L, 40L -> 40L),
      s"changed set must be the moved component + the shard: $changed")

    // band index parity with a full rebuild
    assert(indexMap(delta.state.bandIndex) ==
      indexMap(CorpusDedup.indexCorpus(corpus.unionByName(shard)).bandIndex))
  }

  test("appendShard: shard id below the existing component min relabels " +
       "existing docs; sequential shards compose") {
    val corpus = Seq((10L, textX), (11L, textX), (20L, textZ), (21L, textZ))
      .toDF("doc_id", "text")
    val shard1 = Seq((30L, textM)).toDF("doc_id", "text")
    val shard2 = Seq((1L, textX), (50L, textZ)).toDF("doc_id", "text")
    val s1 = CorpusDedup.appendShard(CorpusDedup.indexCorpus(corpus), shard1)
    val s2 = CorpusDedup.appendShard(s1.state, shard2)
    val expect = full(corpus.unionByName(shard1).unionByName(shard2))
    assert(labelsMap(s2.state.labels) == expect)
    // doc 1 is the new global min of the merged component: every doc
    // (bridged X∪Z∪M plus both shard docs) must relabel to 1
    assert(expect.values.toSet == Set(1L), s"expected one component at min 1: $expect")
    assert(indexMap(s2.state.bandIndex) ==
      indexMap(CorpusDedup.indexCorpus(
        corpus.unionByName(shard1).unionByName(shard2)).bandIndex))
  }

  test("appendShard: parity on a natural corpus slice (sf0.001 documents)") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 40)
    val shard = docs.filter(col("doc_id") >= 40)
    assert(shard.count() > 0, "fixture needs a non-empty shard")
    val delta = CorpusDedup.appendShard(CorpusDedup.indexCorpus(corpus), shard)
    assert(labelsMap(delta.state.labels) == full(docs))
    assert(indexMap(delta.state.bandIndex) ==
      indexMap(CorpusDedup.indexCorpus(docs).bandIndex))
  }

  test("appendShard: randomized corpora — sequential shards always equal " +
       "the full re-cluster (seeded)") {
    // the randomized-graphs pin of ConnectedComponentsSpec applied to the
    // WHOLE incremental path: seeded random docs over a small vocab (so
    // band collisions, exact dups, and cross-shard merges all occur),
    // split randomly into corpus + two shards, appended sequentially —
    // labels and band index must equal the cold rebuild every time
    val rnd = new scala.util.Random(1014)
    val vocab = (0 until 12).map(i => s"v$i")
    for (trial <- 1 to 3) {
      val n = 18 + rnd.nextInt(10)
      val docs = (0 until n).map { i =>
        // ~1/3 of docs copy an earlier doc's text (exact dups); the rest
        // draw 5-9 words so shingle overlap is common
        i.toLong -> (if (i > 2 && rnd.nextInt(3) == 0) null
          else Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val resolved = docs.foldLeft(Vector.empty[(Long, String)]) {
        case (acc, (id, null)) => acc :+ (id -> acc(rnd.nextInt(acc.size))._2)
        case (acc, (id, t)) => acc :+ (id -> t)
      }
      val all = resolved.toDF("doc_id", "text")
      val cut1 = n / 2 + rnd.nextInt(3)
      val cut2 = cut1 + (n - cut1) / 2
      val s0 = CorpusDedup.indexCorpus(all.filter(col("doc_id") < cut1))
      val s1 = CorpusDedup.appendShard(s0,
        all.filter(col("doc_id") >= cut1 && col("doc_id") < cut2))
      val s2 = CorpusDedup.appendShard(s1.state,
        all.filter(col("doc_id") >= cut2))
      assert(labelsMap(s2.state.labels) == full(all), s"trial $trial labels")
      assert(indexMap(s2.state.bandIndex) ==
        indexMap(CorpusDedup.indexCorpus(all).bandIndex), s"trial $trial index")
      // recovery-payload parity (r15): bandDelta recomputed from the
      // pre-append index must equal the append's own changedIndex — the
      // exact equivalence `dedupappend --resume` rests on, pinned here
      // on every randomized corpus, not just the hand-built fixture
      assert(indexMap(CorpusDedup.bandDelta(s1.state.bandIndex,
          all.filter(col("doc_id") >= cut2))) == indexMap(s2.changedIndex),
        s"trial $trial: bandDelta != changedIndex")
      s1.release(); s2.release()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("appendShard: an empty shard is a no-op on labels and index") {
    val corpus = Seq((10L, textX), (11L, textX), (20L, textZ))
      .toDF("doc_id", "text")
    val state = CorpusDedup.indexCorpus(corpus)
    val delta = CorpusDedup.appendShard(state,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(labelsMap(delta.state.labels) == labelsMap(state.labels))
    assert(indexMap(delta.state.bandIndex) == indexMap(state.bandIndex))
    assert(delta.changedLabels.count() == 0)
  }

  test("appendShard: changedLabels MERGEs into a snapshot labels table " +
       "and reproduces the full fixpoint") {
    val corpus = Seq((10L, textX), (11L, textX), (20L, textZ), (21L, textZ))
      .toDF("doc_id", "text")
    val shard = Seq((30L, textM), (40L, textNovel)).toDF("doc_id", "text")
    val state = CorpusDedup.indexCorpus(corpus)
    val table = Files.createTempDirectory("graft-appendshard").toString + "/labels"
    Snapshots.commit(spark, state.labels, table, statsCol = Some("doc_id"))
    val delta = CorpusDedup.appendShard(state, shard)
    val st = Snapshots.upsert(spark, table, delta.changedLabels, "doc_id")
    assert(st.rowsInserted == 2 && st.rowsUpdated == 2,
      s"scoped MERGE should insert the shard and update the moved component: $st")
    assert(labelsMap(Snapshots.read(spark, table).select("doc_id", "cluster_id"))
      == full(corpus.unionByName(shard)))
  }

  test("CLI: dedupindex + dedupappend maintain the snapshot state " +
       "label-equal and index-equal to a full recompute") {
    val corpus = Seq((10L, textX), (11L, textX), (20L, textZ), (21L, textZ))
      .toDF("doc_id", "text")
    val shard = Seq((30L, textM), (40L, textNovel)).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-dedupcli").toString
    corpus.write.parquet(s"$root/docs")
    shard.write.parquet(s"$root/shard")
    Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"),
      s"""paths:
         |  documents: $root/docs
         |  incoming: $root/shard
         |  state_dir: $root/state
         |""".stripMargin)
    val r1 = Main.run(spark, s"$root/config.yaml", "dedupindex")
    assert(r1("docs") == "4" && r1("labels_version") == "1", r1.toString)
    val r2 = Main.run(spark, s"$root/config.yaml", "dedupappend")
    // 20,21 moved to the merged component + the two shard docs
    assert(r2("labels_changed") == "4" && r2("labels_version") == "2", r2.toString)
    val labels = Snapshots.read(spark, s"$root/state/labels")
      .select("doc_id", "cluster_id")
    assert(labelsMap(labels) == full(corpus.unionByName(shard)))
    val bands = Snapshots.read(spark, s"$root/state/bands")
      .select("band_idx", "band", "ex_id")
    assert(indexMap(bands) ==
      indexMap(CorpusDedup.indexCorpus(corpus.unionByName(shard)).bandIndex))
    // a SECOND healthy append: the torn-state guard must pass on a
    // well-formed history (bands stamp == current labels version) and
    // the state must keep tracking the full fixpoint
    val shard2 = Seq((50L, textZ), (60L, textNovel + " extra words here"))
      .toDF("doc_id", "text")
    shard2.write.parquet(s"$root/shard2")
    Files.writeString(java.nio.file.Paths.get(s"$root/config2.yaml"),
      s"""paths:
         |  documents: $root/docs
         |  incoming: $root/shard2
         |  state_dir: $root/state
         |""".stripMargin)
    val r3 = Main.run(spark, s"$root/config2.yaml", "dedupappend")
    assert(r3("labels_version") == "3", r3.toString)
    assert(labelsMap(Snapshots.read(spark, s"$root/state/labels")
        .select("doc_id", "cluster_id")) ==
      full(corpus.unionByName(shard).unionByName(shard2)))
    // torn-state guard: simulate a dedupappend that crashed between its
    // two MERGEs (labels landed, bands did not) — the next append must
    // refuse with the rebuild remedy instead of drifting the band minima
    Snapshots.upsert(spark, s"$root/state/labels",
      Seq((99L, 99L)).toDF("doc_id", "cluster_id"), "doc_id",
      meta = "dedupappend:deadbeef")
    val e = intercept[IllegalStateException](
      Main.run(spark, s"$root/config.yaml", "dedupappend"))
    assert(e.getMessage.contains("torn"), e.getMessage)
    assert(e.getMessage.contains("--resume"), "remedy must name the O(shard) path")

    // the FIRST-append crash window (r14 review): fresh dedupindex, then
    // a simulated crash between the first append's two MERGEs — the
    // dedupindex stamp itself must carry the labels version so this is
    // caught too, not just crashes after a prior successful append
    val root2 = Files.createTempDirectory("graft-dedupcli2").toString
    corpus.write.parquet(s"$root2/docs")
    shard.write.parquet(s"$root2/shard")
    Files.writeString(java.nio.file.Paths.get(s"$root2/config.yaml"),
      s"""paths:
         |  documents: $root2/docs
         |  incoming: $root2/shard
         |  state_dir: $root2/state
         |""".stripMargin)
    Main.run(spark, s"$root2/config.yaml", "dedupindex")
    Snapshots.upsert(spark, s"$root2/state/labels",
      Seq((99L, 99L)).toDF("doc_id", "cluster_id"), "doc_id",
      meta = "dedupappend:crashed")
    val e2 = intercept[IllegalStateException](
      Main.run(spark, s"$root2/config.yaml", "dedupappend"))
    assert(e2.getMessage.contains("torn"), e2.getMessage)
  }

  test("CLI: dedupappend --resume replays a crash between the two MERGEs " +
       "at O(shard), ending state-equal to the never-crashed run") {
    // VERDICT r14 item 2: the guard used to refuse with an O(corpus)
    // rebuild remedy; now the labels head stamp carries the shard's
    // CONTENT token, so the interrupted shard is recognizable and only
    // the missing band-index MERGE replays.
    val corpus = Seq((10L, textX), (11L, textX), (20L, textZ), (21L, textZ))
      .toDF("doc_id", "text")
    val shard = Seq((30L, textM), (40L, textNovel)).toDF("doc_id", "text")
    def mkRoot(): String = {
      val root = Files.createTempDirectory("graft-dedupresume").toString
      corpus.write.parquet(s"$root/docs")
      shard.write.parquet(s"$root/shard")
      Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"),
        s"""paths:
           |  documents: $root/docs
           |  incoming: $root/shard
           |  state_dir: $root/state
           |""".stripMargin)
      Main.run(spark, s"$root/config.yaml", "dedupindex")
      root
    }
    // reference: the append that never crashes
    val rootA = mkRoot()
    Main.run(spark, s"$rootA/config.yaml", "dedupappend")
    // crashed: MERGE 1 (labels, stamped with the real content token)
    // lands, MERGE 2 (bands) does not
    val rootB = mkRoot()
    val stateB = CorpusDedup.DedupState(
      Snapshots.read(spark, s"$rootB/state/labels").select("doc_id", "cluster_id"),
      Snapshots.read(spark, s"$rootB/state/bands").select("band_idx", "band", "ex_id"))
    val delta = CorpusDedup.appendShard(stateB, shard)
    val token = CorpusDedup.shardToken(shard)
    Snapshots.upsert(spark, s"$rootB/state/labels", delta.changedLabels,
      "doc_id", meta = s"dedupappend:$token")
    delta.release()
    // a plain append refuses and names the O(shard) remedy
    val torn = intercept[IllegalStateException](
      Main.run(spark, s"$rootB/config.yaml", "dedupappend"))
    assert(torn.getMessage.contains("--resume"), torn.getMessage)
    // resuming with a DIFFERENT shard refuses: the token disagrees
    val wrong = Seq((70L, textNovel + " other")).toDF("doc_id", "text")
    wrong.write.parquet(s"$rootB/wrong")
    Files.writeString(java.nio.file.Paths.get(s"$rootB/configw.yaml"),
      s"""paths:
         |  incoming: $rootB/wrong
         |  state_dir: $rootB/state
         |""".stripMargin)
    val mismatch = intercept[IllegalArgumentException](
      Main.run(spark, s"$rootB/configw.yaml", "dedupappend-resume"))
    assert(mismatch.getMessage.contains("not this shard"), mismatch.getMessage)
    // resume with the torn shard: state must equal the never-crashed run
    val r = Main.run(spark, s"$rootB/config.yaml", "dedupappend-resume")
    assert(r("resumed") == "true", r.toString)
    def stateOf(root: String) = (
      labelsMap(Snapshots.read(spark, s"$root/state/labels")
        .select("doc_id", "cluster_id")),
      indexMap(Snapshots.read(spark, s"$root/state/bands")
        .select("band_idx", "band", "ex_id")),
      Snapshots.commitMeta(spark, s"$root/state/bands",
        Snapshots.currentVersion(spark, s"$root/state/bands")))
    assert(stateOf(rootB) == stateOf(rootA),
      s"resumed state must equal the healthy run: ${stateOf(rootB)} vs ${stateOf(rootA)}")
    // a THIRD run of the same shard under --resume is a recognized no-op
    val again = Main.run(spark, s"$rootB/config.yaml", "dedupappend-resume")
    assert(again("resumed") == "noop", again.toString)
    // and the healthy state accepts the next ordinary append
    val shard2 = Seq((50L, textZ)).toDF("doc_id", "text")
    shard2.write.parquet(s"$rootB/shard2")
    Files.writeString(java.nio.file.Paths.get(s"$rootB/config2.yaml"),
      s"""paths:
         |  incoming: $rootB/shard2
         |  state_dir: $rootB/state
         |""".stripMargin)
    val r2 = Main.run(spark, s"$rootB/config2.yaml", "dedupappend")
    assert(r2("labels_changed").toLong > 0, r2.toString)
  }

  test("CLI: a state torn by a PRE-r16 writer (legacy 12-hex token) refuses " +
       "--resume with the dedupindex remedy, not an endless retry (ADVICE r16)") {
    // r16 changed the token derivation (xxhash64 sum -> SHA-256) AND its
    // width (12 -> 24 hex): no current binary can ever reproduce a
    // legacy token, so the old error text ("resume with that shard's
    // parquet") sent operators into a retry loop that always failed.
    // Width IS the format version; a 12-hex stamp must route to rebuild.
    val corpus = Seq((10L, textX), (20L, textZ)).toDF("doc_id", "text")
    val shard = Seq((30L, textM)).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-legacytoken").toString
    corpus.write.parquet(s"$root/docs")
    shard.write.parquet(s"$root/shard")
    Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"),
      s"""paths:
         |  documents: $root/docs
         |  incoming: $root/shard
         |  state_dir: $root/state
         |""".stripMargin)
    Main.run(spark, s"$root/config.yaml", "dedupindex")
    // simulate the pre-r16 torn state: labels advanced under a 12-hex
    // xxhash64-era token, bands left behind
    Snapshots.upsert(spark, s"$root/state/labels",
      Seq((99L, 99L)).toDF("doc_id", "cluster_id"), "doc_id",
      meta = "dedupappend:deadbeefcafe")
    val e = intercept[IllegalArgumentException](
      Main.run(spark, s"$root/config.yaml", "dedupappend-resume"))
    assert(e.getMessage.contains("LEGACY"), e.getMessage)
    assert(e.getMessage.contains("dedupindex"), e.getMessage)
    assert(!e.getMessage.contains("resume with that shard"),
      "the unfollowable retry advice must not be the remedy: " + e.getMessage)
  }

  test("CLI + appendSink: a truncated or non-numeric stamp refuses as " +
       "unparseable with the dedupindex remedy, not a bare NumberFormatException") {
    val corpus = Seq((10L, textX), (20L, textZ)).toDF("doc_id", "text")
    val shard = Seq((30L, textM)).toDF("doc_id", "text")
    def mkRoot(): String = {
      val root = Files.createTempDirectory("graft-badstamp").toString
      corpus.write.parquet(s"$root/docs")
      shard.write.parquet(s"$root/shard")
      Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"),
        s"""paths:
           |  documents: $root/docs
           |  incoming: $root/shard
           |  state_dir: $root/state
           |""".stripMargin)
      Main.run(spark, s"$root/config.yaml", "dedupindex")
      root
    }
    def assertUnparseable(e: IllegalArgumentException): Unit = {
      assert(e.getMessage.contains("unparseable"), e.getMessage)
      assert(e.getMessage.contains("dedupindex"), e.getMessage)
    }
    // a bands head stamp whose labels_v suffix is empty or not a number
    for (bad <- Seq("dedupappend:tok:labels_v", "dedupindex:labels_v1x")) {
      val root = mkRoot()
      val bandsT = s"$root/state/bands"
      Snapshots.commit(spark, Snapshots.read(spark, bandsT).limit(0), bandsT,
        meta = bad)
      assertUnparseable(intercept[IllegalArgumentException](
        Main.run(spark, s"$root/config.yaml", "dedupappend")))
    }
    // a labels head stamp whose stream batch watermark is truncated
    val root = mkRoot()
    Snapshots.upsert(spark, s"$root/state/labels",
      Seq((99L, 99L)).toDF("doc_id", "cluster_id"), "doc_id",
      meta = "dedupappend:tok:batch:spec:")
    assertUnparseable(intercept[IllegalArgumentException](
      CorpusDedup.appendSink(s"$root/state", "spec")(shard, 0L)))
  }

  test("appendSink: a FOREIGN writer's advance behind the cached head fails " +
       "loudly within the revalidation window (ADVICE r16)") {
    // The r16 head cache made torn-by-foreign-writer detection run only
    // on a closure's FIRST batch — a long-lived sink would silently
    // merge against stale pinned versions forever. r17 revalidates disk
    // truth every 16 batches; this drives the sink closure directly (as
    // foreachBatch would) past one window with an out-of-band upsert in
    // the middle and expects the loud refusal, not silent masking.
    val corpus = Seq((10L, textX), (20L, textZ)).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-sinkforeign").toString
    corpus.write.parquet(s"$root/docs")
    Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"),
      s"""paths:
         |  documents: $root/docs
         |  state_dir: $root/state
         |""".stripMargin)
    Main.run(spark, s"$root/config.yaml", "dedupindex")
    val sink = CorpusDedup.appendSink(s"$root/state", "spec")
    sink(Seq((30L, textM)).toDF("doc_id", "text"), 0L) // seeds the cache
    // one-live-writer discipline broken out-of-band:
    Snapshots.upsert(spark, s"$root/state/labels",
      Seq((99L, 99L)).toDF("doc_id", "cluster_id"), "doc_id",
      meta = "foreign:writer")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      var b = 1L
      while (b <= 20L) { sink(empty, b); b += 1 } // crosses the window
    }
    assert(e.getMessage.contains("FOREIGN"), e.getMessage)
    assert(e.getMessage.contains("restart"), e.getMessage)
  }
}

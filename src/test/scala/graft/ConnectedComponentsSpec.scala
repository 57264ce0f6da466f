package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {

  test("deep chain converges in O(log n) rounds with correct min labels") {
    // worst case for plain propagation: one 64-vertex path (diameter 63),
    // plus a triangle component and an isolated vertex
    val chain = (0L until 63L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val edges = spark.createDataFrame(chain ++ tri).toDF("a", "b")
    val sym = edges.select(col("a").as("x"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
    val vertices = spark.range(64).select(col("id"))
      .unionByName(spark.createDataFrame(Seq(Tuple1(100L), Tuple1(101L), Tuple1(102L), Tuple1(999L))).toDF("id"))
    val (labels, rounds) = ConnectedComponents.minLabel(vertices, "id", sym, "x", "nb")
    val byId = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 64L).forall(byId(_) == 0L), "chain collapses to min id 0")
    assert(Seq(100L, 101L, 102L).forall(byId(_) == 100L))
    assert(byId(999L) == 999L, "isolated vertex keeps its own label")
    // plain one-hop propagation would need 63 rounds here; doubling must
    // stay within ceil(log2(64)) + 1
    assert(rounds <= 7, s"expected <= 7 doubling rounds on a 64-chain, got $rounds")
  }

  test("1-hop warm start reaches the same fixpoint in fewer rounds") {
    // same adversarial shape as above (64-path + triangle + isolate);
    // warm-started labels must be IDENTICAL to cold labels — the init
    // only moves the flood one hop in, never past a reachable min
    val chain = (0L until 63L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val edges = spark.createDataFrame(chain ++ tri).toDF("a", "b")
    val sym = edges.select(col("a").as("x"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
    val vertices = spark.range(64).select(col("id"))
      .unionByName(spark.createDataFrame(
        Seq(Tuple1(100L), Tuple1(101L), Tuple1(102L), Tuple1(999L))).toDF("id"))
    val init = ConnectedComponents.oneHopInit(vertices, "id", sym, "x", "nb")
    // the init itself is the neighbor min: isolated keeps own id
    val i0 = init.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(i0(999L) == 999L && i0(5L) == 4L && i0(0L) == 0L && i0(102L) == 100L)
    val (cold, coldRounds) =
      ConnectedComponents.minLabel(vertices, "id", sym, "x", "nb")
    val (warm, warmRounds) = ConnectedComponents.minLabel(
      vertices, "id", sym, "x", "nb", init = Some(init))
    val c = cold.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = warm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == w, "warm start must not change the fixpoint")
    assert(warmRounds <= coldRounds,
      s"warm start took $warmRounds rounds vs cold $coldRounds")
  }

  test("many-round run keeps per-round plan stats constant (no compounding)") {
    // regression guard for the sf1 planning hang: localCheckpoint's
    // LogicalRDD carries the origin plan's sizeInBytes, and joins multiply
    // child estimates, so an un-rebased loop compounds the estimate
    // exponentially (million-digit BigIntegers in the stats visitor by
    // round ~12). A 5000-vertex chain forces many rounds even at the
    // Jumps=2 contraction rate (log_4); the returned frame's estimate must
    // still be a plain leaf default, not a compounded product.
    val n = 5000L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val edges = spark.createDataFrame(chain).toDF("a", "b")
    val sym = edges.select(col("a").as("x"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
    // the flood arm called directly: this guard is about the FLOOD loop's
    // per-round stats (minLabel's probe would hand this ≥4096-edge graph
    // straight to contraction and skip the loop under test)
    val (labels, rounds) = ConnectedComponents.flood(
      spark.range(n).toDF("id"), "id", sym, "x", "nb")
    assert(labels.filter(col("cluster_id") =!= 0L).count() == 0)
    assert(rounds >= 6, s"a 5000-chain should need many doubling rounds, got $rounds")
    val size = labels.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size.toString.length <= 25,
      s"label-frame size estimate compounded across rounds: $size")
  }

  test("sliding-window near-dup CHAIN corpus: adversarial diameter through the full MinHash pipeline") {
    // corpus-level twin of the synthetic chain tests: doc i = words
    // [2i, 2i+54) of one global stream, so adjacent docs are near-dups
    // (3-shingle Jaccard ≈ 0.93 ⇒ band edges i↔i+1) and the dup-cluster
    // graph is a PATH with diameter ≈ n — the topology that breaks
    // plain min-label flooding (n rounds) and that DataGen's
    // GRAFT_CHAIN_DOCS knob reproduces at scale. Convergence here (no
    // unconverged throw at maxIter=50) + the BASELINE.md sf1 row are the
    // round-8 adversarial-diameter evidence.
    import spark.implicits._
    val n = 120
    def w(j: Long): String = "t" + ((j * 2654435761L) % 997)
    val docs = (0 until n).map { i =>
      (i.toLong, (i * 2L until i * 2L + 54L).map(w).mkString(" "))
    }.toDF("doc_id", "text")
    val labels = graft.queries.TextQueries.nearDupClustersOf(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n)
    // the chain collapses to one (or, on a rare band miss, very few)
    // clusters — and every label is a component MINIMUM, so cluster 0
    // must hold the head of the chain
    val c0 = labels.values.count(_ == 0L)
    assert(c0 >= n - 10, s"chain should collapse to ~one cluster, got $c0 docs in cluster 0")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("auto: the edge-count probe sends a big graph to contraction at the same fixpoint") {
    // 5000-path = 9998 sym rows, over the 4096-row auto threshold — the
    // default call must route to contraction (measured 3.3x on the sf1
    // corpus, r14) and land the identical min-label fixpoint; a small
    // graph (below threshold) floods as before
    val n = 5000L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val edges = spark.createDataFrame(chain).toDF("a", "b")
    val sym = edges.select(col("a").as("x"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
    val vertices = spark.range(n).toDF("id")
    val (auto, _) = ConnectedComponents.minLabel(
      vertices, "id", sym, "x", "nb")
    val (forced, _) = ConnectedComponents.contract(
      vertices, "id", sym, "x", "nb")
    assert(auto.filter(col("cluster_id") =!= 0L).count() == 0)
    assert(forced.except(auto).count() == 0 && auto.except(forced).count() == 0,
      "auto's fixpoint must equal forced contraction's")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("empty edge list: every vertex is its own cluster in one round") {
    val vertices = spark.range(5).select(col("id"))
    val sym = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("x", "nb")
    val (labels, rounds) = ConnectedComponents.minLabel(vertices, "id", sym, "x", "nb")
    assert(labels.filter(col("id") =!= col("cluster_id")).count() == 0)
    assert(rounds == 1)
  }

  test("edge contraction (large-star/small-star) reaches the flood's exact fixpoint") {
    // same adversarial mix as the flood pin: 64-path + triangle +
    // isolate, plus a star and a two-edge vee — contraction must label
    // every vertex with its component min, identically to minLabel
    val chain = (0L until 63L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val star = (201L to 205L).map(i => (200L, i))
    val vee = Seq((301L, 300L), (301L, 302L))
    val edges = spark.createDataFrame(chain ++ tri ++ star ++ vee).toDF("a", "b")
    val sym = edges.select(col("a").as("x"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
    val ids = (0L until 64L) ++ Seq(100L, 101L, 102L, 999L) ++
      (200L to 205L) ++ (300L to 302L)
    val vertices = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id")
    val (cLabels, cRounds) =
      ConnectedComponents.contract(vertices, "id", sym, "x", "nb")
    val (fLabels, _) = ConnectedComponents.minLabel(vertices, "id", sym, "x", "nb")
    val c = cLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f = fLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == f, s"contraction fixpoint must equal the flood's")
    assert(c(63L) == 0L && c(205L) == 200L && c(302L) == 300L && c(999L) == 999L)
    // O(log^2 n) proven, ~log n observed: a 64-path must be well under
    // the path length
    assert(cRounds <= 12, s"expected <= 12 star rounds on a 64-path, got $cRounds")
    // empty edge list: all isolated, zero rounds
    val (iso, r0) = ConnectedComponents.contract(
      spark.range(5).select(col("id")), "id",
      spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("x", "nb"), "x", "nb")
    assert(iso.filter(col("id") =!= col("cluster_id")).count() == 0 && r0 == 0)
  }

  test("hybrid escalation: flood hands the quotient to contraction at the same fixpoint") {
    // 300-hop path + triangle + isolate; escalateRounds = 2 forces the
    // switch while labels are still far from converged, so the quotient
    // graph is non-trivial — the composed labels must equal the pure
    // flood's fixpoint exactly
    val chain = (0L until 300L).map(i => (i, i + 1))
    val tri = Seq((900L, 901L), (901L, 902L))
    val edges = spark.createDataFrame(chain ++ tri).toDF("a", "b")
    val sym = edges.select(col("a").as("x"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
    val ids = (0L to 300L) ++ Seq(900L, 901L, 902L, 999L)
    val vertices = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id")
    val (hybrid, hRounds) = ConnectedComponents.flood(
      vertices, "id", sym, "x", "nb", escalateRounds = 2)
    val (flood, fRounds) = ConnectedComponents.flood(
      vertices, "id", sym, "x", "nb", escalateRounds = Int.MaxValue)
    val h = hybrid.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f = flood.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == f, "hybrid fixpoint must equal the pure flood's")
    assert((0L to 300L).forall(h(_) == 0L) && h(902L) == 900L && h(999L) == 999L)
    assert(hRounds >= 2, "rounds must count both phases")
  }

  test("checkpoint blocks retire per round — only the returned labels stay persisted") {
    // ADVICE r12: Dataset.unpersist is a CacheManager no-op on
    // localCheckpointed frames (their blocks live on the RDD inside the
    // LogicalRDD leaf), so the rounds' retirement must go through
    // CheckpointShim — otherwise every round of a long run leaks a
    // label-frame's worth of block-manager state. After a run completes
    // and its result is materialized, the ONLY persisted RDD left may be
    // the returned frame's own checkpoint.
    def clear(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    def persisted(): Int = spark.sparkContext.getPersistentRDDs.size
    val chain = (0L until 200L).map(i => (i, i + 1))
    val edges = spark.createDataFrame(chain).toDF("a", "b")
    val sym = edges.select(col("a").as("x"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
    val vertices = spark.range(201L).select(col("id"))

    clear()
    val (flood, _) = ConnectedComponents.flood(
      vertices, "id", sym, "x", "nb", escalateRounds = Int.MaxValue)
    assert(flood.filter(col("cluster_id") =!= 0L).count() == 0)
    assert(persisted() <= 1, s"flood leaked checkpoints: ${persisted()} persisted RDDs")

    clear()
    val (hybrid, _) = ConnectedComponents.flood(
      vertices, "id", sym, "x", "nb", escalateRounds = 2)
    assert(hybrid.filter(col("cluster_id") =!= 0L).count() == 0)
    assert(persisted() <= 1, s"hybrid leaked checkpoints: ${persisted()} persisted RDDs")

    clear()
    val (contr, _) = ConnectedComponents.contract(vertices, "id", sym, "x", "nb")
    assert(contr.filter(col("cluster_id") =!= 0L).count() == 0)
    assert(persisted() <= 1, s"contract leaked checkpoints: ${persisted()} persisted RDDs")
    clear()
  }

  test("randomized graphs: flood, contract, and hybrid all match a union-find model") {
    // seeded random graphs checked against a driver-side union-find
    // MODEL (union-by-min keeps every root the component minimum), so
    // all three execution modes are pinned to ground truth, not just to
    // each other
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(30)
      val m = rnd.nextInt(2 * n)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val edges = spark.createDataFrame(es).toDF("a", "b")
      val sym = edges.select(col("a").as("x"), col("b").as("nb"))
        .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
      val vertices = spark.range(n).select(col("id"))
      def labelsOf(run: => (org.apache.spark.sql.DataFrame, Int)): Map[Long, Long] =
        run._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val flood = labelsOf(ConnectedComponents.flood(
        vertices, "id", sym, "x", "nb", escalateRounds = Int.MaxValue))
      val hybrid = labelsOf(ConnectedComponents.flood(
        vertices, "id", sym, "x", "nb", escalateRounds = 1))
      val contr = labelsOf(ConnectedComponents.contract(
        vertices, "id", sym, "x", "nb"))
      assert(flood == expect, s"trial $trial: flood != model")
      assert(hybrid == expect, s"trial $trial: hybrid != model")
      assert(contr == expect, s"trial $trial: contract != model")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("reliable checkpoints (non-local posture) reach the same fixpoint and retire their files") {
    // VERDICT r14 item 4: on a real cluster localCheckpoint is
    // lost-executor-fatal mid-fixpoint; spark.graft.checkpoint=reliable
    // routes every round checkpoint through Dataset.checkpoint onto
    // spark.checkpoint.dir. Pin: identical labels to the local path on
    // the adversarial 64-chain graph through BOTH arms (flood-only and
    // hybrid-through-contract), and retired rounds' rdd-<id> dirs are
    // deleted promptly (the CheckpointShim reliable branch), so a long
    // fixpoint doesn't strand one checkpoint per round on the store.
    val ckDir = java.nio.file.Files.createTempDirectory("graft-cc-ck")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    val chain = (0L until 63L).map(i => (i, i + 1))
    val edges = spark.createDataFrame(chain).toDF("a", "b")
    val sym = edges.select(col("a").as("x"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("nb")))
    val vertices = spark.range(64).select(col("id"))
    def run(): Map[Long, Long] = {
      val flood = ConnectedComponents.flood(vertices, "id", sym, "x", "nb",
        escalateRounds = Int.MaxValue)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hybrid = ConnectedComponents.flood(vertices, "id", sym, "x", "nb",
        escalateRounds = 1)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(flood == hybrid)
      flood
    }
    val local = run()
    spark.conf.set("spark.graft.checkpoint", "reliable")
    try {
      val reliable = run()
      assert(reliable == local, "reliable path must not change the fixpoint")
      assert((0L until 64L).forall(reliable(_) == 0L))
      // retirement: only the surviving frames' checkpoints may remain —
      // a multi-round fixpoint must not keep one rdd-<id> dir per round
      val left = java.nio.file.Files.walk(ckDir).iterator().asInstanceOf[
        java.util.Iterator[java.nio.file.Path]]
      var rddDirs = 0
      while (left.hasNext) {
        val p = left.next()
        if (p.getFileName.toString.startsWith("rdd-") &&
          java.nio.file.Files.isDirectory(p)) rddDirs += 1
      }
      assert(rddDirs <= 4,
        s"expected retired round checkpoints deleted, found $rddDirs rdd dirs")
    } finally spark.conf.set("spark.graft.checkpoint", "auto")
  }
}

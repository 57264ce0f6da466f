package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Watermark / session-window behavior on a real stream (SURVEY §2.11:
  * "exercised in a streaming unit test (not DuckDB-hashable)"). */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  test("session_window merges within gap and splits across it, under watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val sessions = StreamingOps.sessions(events, "ts", "user_id",
      watermark = "10 minutes", gap = "5 minutes")
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 2 min apart (one session), then a 20-min gap
      input.addData((ts(0), 1L, "a"), (ts(2), 1L, "a"), (ts(22), 1L, "b"))
      q.processAllAvailable()
      // advance watermark far past everything so all sessions close
      input.addData((ts(59), 9L, "z"))
      q.processAllAvailable()
      val out = spark.table("sessions_out")
        .filter(col("user_id") === 1L)
        .orderBy("session_start").collect()
      assert(out.length == 2, s"expected 2 closed sessions, got ${out.toSeq}")
      assert(out(0).getAs[Long]("n_events") == 2)
      assert(out(0).getAs[Timestamp]("session_start") == ts(0))
      // session end = last event + gap
      assert(out(0).getAs[Timestamp]("session_end") == ts(7))
      assert(out(1).getAs[Long]("n_events") == 1)
    } finally q.stop()
  }

  test("streaming dedup keeps first record per key under watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "content_hash", "payload")
    val deduped = StreamingOps.dedupStream(events, "ts", "10 minutes", Seq("content_hash"))
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), 100L, "a"), (ts(1), 100L, "b"), (ts(2), 200L, "c"))
      q.processAllAvailable()
      input.addData((ts(3), 100L, "d"), (ts(4), 300L, "e"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").collect()
      assert(out.length == 3, s"one row per key: ${out.toSeq}")
      assert(out.map(_.getAs[Long]("content_hash")).sorted.toSeq == Seq(100L, 200L, 300L))
      // the first payload for key 100 won
      assert(out.find(_.getAs[Long]("content_hash") == 100L).get.getAs[String]("payload") == "a")
    } finally q.stop()
  }

  test("file-source stream with Trigger.AvailableNow drains new files incrementally") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("fstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fstream-ckpt").toString
    spark.range(5).select(col("id")).write.parquet(s"$dir/batch1")
    // the incremental cache-refresh shape (SURVEY §2.11): file source +
    // AvailableNow processes what exists, then stops; parquet sink supports
    // checkpoint recovery (memory sink does not)
    val outDir = java.nio.file.Files.createTempDirectory("fstream-out").toString
    def drain(): Long = {
      val stream = spark.readStream.schema("id LONG").parquet(s"$dir/*")
      val q = stream.writeStream.format("parquet")
        .option("path", s"$outDir/data")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$outDir/data").count()
    }
    assert(drain() == 5)
    spark.range(3).select(col("id") + 100).write.parquet(s"$dir/batch2")
    // second drain resumes from the checkpoint: only the new files flow,
    // so cumulative output is 5 + 3
    assert(drain() == 8, "checkpointed restart must process only new files")
  }

  test("watermark drops late data in tumbling aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val agg = StreamingOps.tumbling(events, "ts", watermark = "5 minutes",
      width = "10 minutes", aggs = Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory")
      .queryName("tumbling_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 1L, "a"), (ts(3), 1L, "a"))
      q.processAllAvailable()
      // watermark advances to 10:55 − 5m = 10:50; the [10:00,10:10) window closes
      input.addData((ts(55), 2L, "b"))
      q.processAllAvailable()
      // this event is *late* beyond the watermark → discarded
      input.addData((ts(5), 1L, "a"))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 11:30:00"), 3L, "c"))
      q.processAllAvailable()
      val w0 = spark.table("tumbling_out")
        .filter(col("window.start") === ts(0)).collect()
      assert(w0.length == 1 && w0(0).getAs[Long]("n") == 2,
        s"late event must not be counted: ${w0.toSeq}")
    } finally q.stop()
  }

  test("streaming near-dup: band-bucket state dedups new docs against history") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    val textB = "completely different content with many unique words present here indeed now"
    val textC = "a third body of text sharing nothing with the other documents at all"
    val input = MemoryStream[(Long, String)]
    val cands = StreamingOps.nearDupCandidates(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = cands.writeStream.format("memory")
      .queryName("neardup_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, textA), (2L, textB))
      q.processAllAvailable()
      // doc 3 repeats doc 1's text in a LATER micro-batch: every band
      // bucket must remember doc 1 and name it canonical
      input.addData((3L, textA))
      q.processAllAvailable()
      // docs 6 and 7 share NEW text within ONE batch: within-batch doc-id
      // order makes 6 canonical for both
      input.addData((6L, textC), (7L, textC))
      q.processAllAvailable()
      val rows = spark.table("neardup_out")
        .as[StreamingOps.NearDupCandidate].collect()
      assert(rows.count(_.docId == 1L) == 4, "4 band hits per doc")
      assert(rows.filter(_.docId == 1L).forall(_.canonicalId == 1L), "first doc is canonical")
      assert(rows.filter(_.docId == 2L).forall(_.canonicalId == 2L), "unique doc is its own canonical")
      assert(rows.filter(_.docId == 3L).forall(_.canonicalId == 1L),
        s"cross-batch duplicate must resolve to doc 1: ${rows.filter(_.docId == 3L).toSeq}")
      assert(rows.filter(_.docId == 6L).forall(_.canonicalId == 6L))
      assert(rows.filter(_.docId == 7L).forall(_.canonicalId == 6L),
        "within-batch duplicate resolves to the batch's min doc id")
    } finally q.stop()

    // batch parity: the same op over the whole corpus as one static frame
    // (empty initial state) yields the same canonical relation
    val static = Seq((1L, textA), (2L, textB), (3L, textA), (6L, textC), (7L, textC))
      .toDF("doc_id", "text")
    val batch = StreamingOps.nearDupCandidates(static, "doc_id", "text").collect()
    assert(batch.filter(_.docId == 3L).forall(_.canonicalId == 1L))
    assert(batch.filter(_.docId == 7L).forall(_.canonicalId == 6L))
    assert(batch.filter(_.docId == 2L).forall(_.canonicalId == 2L))
  }

  test("minhashBandsOf matches the batch q27 band scheme byte-for-byte") {
    import spark.implicits._
    // the streaming path computes bands in a JVM loop; the batch path via
    // explode+hash-agg expressions. Same corpus, same bands — else the
    // streaming dedup disagrees with the batch dedup it claims to extend.
    val q27 = SparkEntry.queries("q27_minhash_sig")(spark, sf0001)
      .select("doc_id", "band0", "band1", "band2", "band3").collect()
    val texts = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val digest = java.security.MessageDigest.getInstance("MD5")
    assert(q27.length == texts.size && q27.nonEmpty)
    q27.foreach { r =>
      val bands = StreamingOps.minhashBandsOf(digest, texts(r.getLong(0)))
      assert(bands.toSeq == (1 to 4).map(r.getString),
        s"band mismatch for doc ${r.getLong(0)}")
    }
    // <3-token fallback: the shingle set is the whole text itself
    val expected = spark.sql(
      """SELECT md5(concat(substring(md5('xy'), 1, 8), substring(md5('xy'), 9, 8))),
        |       md5(concat(substring(md5('xy'), 17, 8), substring(md5('xy'), 25, 8))),
        |       md5(concat(substring(md5('xy#'), 1, 8), substring(md5('xy#'), 9, 8))),
        |       md5(concat(substring(md5('xy#'), 17, 8), substring(md5('xy#'), 25, 8)))
        |""".stripMargin).collect()(0).toSeq
    assert(StreamingOps.minhashBandsOf(digest, "xy").toSeq == expected)
  }

  test("streaming near-dup TTL: idle bucket expires, late re-arrival re-establishes it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    val textD = "yet another entirely unrelated passage to tick the processing clock forward"
    // the within-TTL phase must survive scheduling gaps between doc 1's
    // state write and doc 3's micro-batch — at 2 s the test flaked
    // whenever a loaded box stretched that gap past the TTL (r9); 8 s
    // keeps the expiry phase's sleep bounded while giving the
    // within-TTL phase real headroom
    val ttlMs = 8000L
    val input = MemoryStream[(Long, String)]
    val cands = StreamingOps.nearDupCandidates(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", ttlMs = Some(ttlMs))
    // a processing-time trigger paces the engine: with ProcessingTimeTimeout
    // the default ASAP trigger re-fires empty micro-batches continuously
    // (every batch schedules future timeouts), burning a checkpoint write
    // per spin
    val q = cands.writeStream.format("memory")
      .queryName("neardup_ttl_out").outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .start()
    // processAllAvailable CANNOT be used here: with ProcessingTimeTimeout
    // every batch schedules future timeouts, so the engine always "requires
    // another batch" and the no-new-data signal that processAllAvailable
    // waits on never fires. Poll the sink for the expected rows instead.
    def awaitDoc(id: Long, hits: Int = 4): Unit = {
      val t0 = System.currentTimeMillis
      def n() = spark.table("neardup_ttl_out").filter(col("docId") === id).count()
      while (n() < hits && System.currentTimeMillis - t0 < 60000) Thread.sleep(100)
      assert(n() == hits, s"doc $id: expected $hits band hits in the sink")
    }
    try {
      input.addData((1L, textA))
      awaitDoc(1L)
      // within the TTL: the bucket remembers doc 1
      input.addData((3L, textA))
      awaitDoc(3L)
      // idle past the TTL; intervening trigger batches run the timeout
      // cleanup (and the in-function staleness check covers the rest)
      Thread.sleep(ttlMs + 600)
      input.addData((5L, textD))
      awaitDoc(5L)
      // late re-arrival: the expired bucket re-establishes with doc 9 as
      // its own fresh canonical (history before the TTL is forgotten)
      input.addData((9L, textA))
      awaitDoc(9L)
      val rows = spark.table("neardup_ttl_out")
        .as[StreamingOps.NearDupCandidate].collect()
      assert(rows.filter(_.docId == 3L).forall(_.canonicalId == 1L),
        s"within-TTL duplicate resolves to doc 1: ${rows.filter(_.docId == 3L).toSeq}")
      assert(rows.filter(_.docId == 9L).forall(_.canonicalId == 9L),
        s"post-TTL re-arrival must be its own canonical: ${rows.filter(_.docId == 9L).toSeq}")
    } finally q.stop()
  }

  test("streaming as-of join: versions match across micro-batches, tolerance bounds") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{AsOfEvent, AsOfMatchOut}
    val input = MemoryStream[AsOfEvent]
    val out = StreamingOps.asofStream(input.toDS(), toleranceMs = 100L)
    val q = out.writeStream.format("memory")
      .queryName("asof_out").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: a version at t=100 then a probe at t=150 (same batch)
      input.addData(
        AsOfEvent(1L, 100L, 10L, 0, 10L, 1.5),
        AsOfEvent(1L, 150L, 1L, 1, 0L, 0.0))
      q.processAllAvailable()
      // batch 2: probe at t=120 matches the REMEMBERED batch-1 version;
      // a new version at t=200 then a probe at t=320 — gap 120 > 100 miss
      input.addData(
        AsOfEvent(1L, 120L, 2L, 1, 0L, 0.0),
        AsOfEvent(1L, 200L, 11L, 0, 11L, 2.5),
        AsOfEvent(1L, 320L, 3L, 1, 0L, 0.0),
        AsOfEvent(2L, 500L, 4L, 1, 0L, 0.0)) // key with no versions
      q.processAllAvailable()
      val rows = spark.table("asof_out").as[AsOfMatchOut].collect()
        .map(r => r.tb -> r).toMap
      assert(rows(1L).matched && rows(1L).matchPid == 10L && rows(1L).matchTs == 100L)
      assert(rows(2L).matched && rows(2L).matchPid == 10L, "cross-batch state match")
      assert(!rows(3L).matched, "match beyond tolerance must miss")
      assert(!rows(4L).matched, "key with no versions must miss")
    } finally q.stop()
  }

  test("streaming as-of join: batch parity with operators.AsOfJoin on events") {
    import spark.implicits._
    import StreamingOps.{AsOfEvent, AsOfMatchOut}
    val tolUs = 3600L * 1000000L
    val ev = Tables.events(spark, sf0001).withColumn("eus", unix_micros(col("ts")))
    val tagged = ev.filter(col("event_type").isin("click", "error"))
      .select(col("user_id").as("key"), col("eus").as("ts"),
        col("event_id").as("tb"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"),
        when(col("event_type") === "click", col("event_id")).otherwise(0L).as("pid"),
        when(col("event_type") === "click", col("value")).otherwise(0.0).as("pval"))
      .as[AsOfEvent]
    val streamShaped = StreamingOps.asofStream(tagged, tolUs).collect()
      .map(r => (r.key, r.tb) -> (r.matched, r.matchPid, r.matchTs, r.matchVal)).toMap
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "event_id", "eus")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "eus", "value")
    val batch = graft.operators.AsOfJoin.backward(
      errors, clicks, Seq("user_id"), "eus", "event_id",
      Seq("event_id", "value"), tolerance = Some(lit(tolUs)))
      .select(col("user_id"), col("event_id"),
        col("asof_event_id").isNotNull.as("matched"),
        coalesce(col("asof_event_id"), lit(-1L)).as("mpid"),
        coalesce(col("asof_eus"), lit(-1L)).as("mts"),
        coalesce(col("asof_value"), lit(0.0)).as("mval"))
      .collect()
    assert(batch.nonEmpty && batch.length == streamShaped.size)
    batch.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val got = streamShaped(k)
      assert(got == ((r.getBoolean(2), r.getLong(3), r.getLong(4), r.getDouble(5))),
        s"parity mismatch at $k: stream=$got batch=$r")
    }
  }

  test("streaming CMS counters equal the batch sketch of the same prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val words = Seq("spark", "join", "filter", "scan", "merge", "window")
    val data = (0 until 3000).map(i => words(i % words.length) + (i % 7))
    val input = MemoryStream[String]
    val terms = input.toDF().toDF("term")
    val agg = StreamingOps.cmsStream(terms, "term", d = 4, w = 64)
    val q = agg.writeStream.format("memory")
      .queryName("cms_out").outputMode(OutputMode.Complete()).start()
    try {
      // two micro-batches: the state must accumulate across them
      input.addData(data.take(1000))
      q.processAllAvailable()
      input.addData(data.drop(1000))
      q.processAllAvailable()
      val stream = spark.table("cms_out").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.CountMinSketch
        .counters(data.toDF("term"), "term", 4, 64)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(stream == batch,
        "the streaming counter matrix must equal the batch sketch exactly")
      // bounded state: never more than d*w counter rows however long the stream
      assert(stream.size <= 4 * 64)
    } finally q.stop()
  }

  test("scoreStream: classifier gate verdicts are batch-exact across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).orderBy("doc_id").limit(60)
      .as[(Long, String)].collect()
    val weights = Seq(("spark", 3L), ("slow", -5L), ("table", 1L), ("the", -1L))
      .toDF("term", "weight")
    val wm = graft.pipeline.Curation.weightsMap(weights)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.scoreStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", wm)
      .writeStream.format("memory").queryName("score_out")
      .outputMode(OutputMode.Append()).start()
    try {
      corpus.grouped(20).foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
      val stream = spark.table("score_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
      val batch = graft.pipeline.Curation.linearScore(
        corpus.toSeq.toDF("doc_id", "text"), weights).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
      assert(stream.size == 60 && stream == batch,
        "streaming verdicts must equal the batch classifier bit-for-bit")
    } finally q.stop()
  }

  test("enrichStream: stream-stream interval join matches the batch join; " +
    "leftOuter emits unmatched only after the watermark closes the interval") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // one input pair per query: a MemoryStream drops the rows any reader
    // commits, so two queries sharing one race for its data
    val inputs = Seq.fill(2)(
      (MemoryStream[(Timestamp, Long, String)], MemoryStream[(Timestamp, Long, String)]))
    def feed(ls: (Timestamp, Long, String)*)(rs: (Timestamp, Long, String)*): Unit =
      inputs.foreach { case (lIn, rIn) => lIn.addData(ls: _*); rIn.addData(rs: _*) }
    def joined(jt: String, i: Int) = StreamingOps.enrichStream(
      inputs(i)._1.toDF().toDF("l_ts", "key", "l_payload"), "l_ts", "10 minutes",
      inputs(i)._2.toDF().toDF("r_ts", "r_key", "r_payload"), "r_ts", "10 minutes",
      col("key") === col("r_key"), lowerMs = 120000, upperMs = 120000,
      joinType = jt)
    val q = joined("inner", 0).writeStream.format("memory")
      .queryName("enrich_inner").outputMode(OutputMode.Append()).start()
    val qo = joined("leftOuter", 1).writeStream.format("memory")
      .queryName("enrich_outer").outputMode(OutputMode.Append()).start()
    try {
      // key 1: click 1 min after the impression (inside ±2 min);
      // key 2: follow-up 5 min later (outside); key 3: no right row at all
      feed((ts(0), 1L, "imp1"), (ts(0), 2L, "imp2"), (ts(1), 3L, "imp3"))(
        (ts(1), 1L, "click1"), (ts(5), 2L, "late2"))
      q.processAllAvailable(); qo.processAllAvailable()
      val inner = spark.table("enrich_inner").collect()
      assert(inner.length == 1 && inner(0).getAs[String]("l_payload") == "imp1"
        && inner(0).getAs[String]("r_payload") == "click1", s"${inner.toSeq}")
      // outer: unmatched lefts must NOT emit yet — a match could still arrive
      assert(spark.table("enrich_outer")
        .filter(col("r_payload").isNull).count() == 0)
      // push both watermarks far past the interval horizon
      feed((ts(59), 9L, "wm"))((ts(59), 9L, "wm"))
      q.processAllAvailable(); qo.processAllAvailable()
      // second batch so the advanced watermark actually evicts/emits
      feed((ts(59, 30), 9L, "wm2"))((ts(59, 30), 9L, "wm2"))
      q.processAllAvailable(); qo.processAllAvailable()
      val unmatched = spark.table("enrich_outer")
        .filter(col("r_payload").isNull)
        .select("l_payload").collect().map(_.getString(0)).toSet
      assert(unmatched == Set("imp2", "imp3"),
        s"watermark-closed unmatched lefts: $unmatched")
      // batch parity: the same frames joined as static data give the same
      // matched pairs (watermarks are no-ops on batch)
      val lb = Seq((ts(0), 1L, "imp1"), (ts(0), 2L, "imp2"), (ts(1), 3L, "imp3"))
        .toDF("l_ts", "key", "l_payload")
      val rb = Seq((ts(1), 1L, "click1"), (ts(5), 2L, "late2"))
        .toDF("r_ts", "r_key", "r_payload")
      val batch = StreamingOps.enrichStream(
        lb, "l_ts", "10 minutes", rb, "r_ts", "10 minutes",
        col("key") === col("r_key"), 120000, 120000)
        .select("l_payload", "r_payload").collect()
        .map(row => (row.getString(0), row.getString(1))).toSet
      assert(batch ==
        spark.table("enrich_inner").filter(col("key") < 9)
          .select("l_payload", "r_payload")
          .collect().map(row => (row.getString(0), row.getString(1))).toSet)
    } finally { q.stop(); qo.stop() }
  }

  test("rolling stream: cross-batch window carry and eviction") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{RollingEvent, RollingOut}
    val input = MemoryStream[RollingEvent]
    val out = StreamingOps.rollingStream(input.toDS(), windowMs = 100L)
    val q = out.writeStream.format("memory")
      .queryName("rolling_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        RollingEvent(1L, 100L, 1L, 500L),
        RollingEvent(1L, 150L, 2L, 300L))
      q.processAllAvailable()
      // batch 2: t=220 still sees t=150 (gap 70 <= 100) but not t=100
      // (gap 120); t=400 sees only itself (full eviction)
      input.addData(
        RollingEvent(1L, 220L, 3L, 100L),
        RollingEvent(1L, 400L, 4L, 50L),
        RollingEvent(2L, 220L, 5L, 10L)) // other key: independent state
      q.processAllAvailable()
      val rows = spark.table("rolling_out").as[RollingOut].collect()
        .map(r => r.tb -> (r.n, r.cents)).toMap
      assert(rows(1L) == ((1L, 500L)))
      assert(rows(2L) == ((2L, 800L)), "same-batch trailing sum")
      assert(rows(3L) == ((2L, 400L)), "cross-batch carry + eviction")
      assert(rows(4L) == ((1L, 50L)), "full eviction")
      assert(rows(5L) == ((1L, 10L)), "keys do not share state")
    } finally q.stop()
  }

  test("topk stream: snapshots equal the batch bottom-k after every prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{TopKEvent, TopKSnapshot}
    import graft.operators.TopK
    val input = MemoryStream[TopKEvent]
    val out = StreamingOps.topkStream(input.toDS(), k = 3)
    val q = out.writeStream.format("memory")
      .queryName("topk_out").outputMode(OutputMode.Update()).start()
    try {
      val b1 = Seq(TopKEvent(1L, 50L), TopKEvent(1L, 20L), TopKEvent(1L, 80L),
        TopKEvent(2L, 7L))
      input.addData(b1: _*)
      q.processAllAvailable()
      // Update-mode memory sink appends refreshed rows; latest per group
      // is the live snapshot
      val s1 = spark.table("topk_out").as[TopKSnapshot].collect()
      assert(s1.filter(_.group == 1L).last.topk == Seq(20L, 50L, 80L))
      assert(s1.filter(_.group == 2L).last.topk == Seq(7L))
      // batch 2: 10 enters, 80 falls out; duplicate 20 dropped; group 2 idle
      input.addData(TopKEvent(1L, 10L), TopKEvent(1L, 20L), TopKEvent(1L, 95L))
      q.processAllAvailable()
      val s2 = spark.table("topk_out").as[TopKSnapshot].collect()
      assert(s2.filter(_.group == 1L).last.topk == Seq(10L, 20L, 50L))
      // parity with the batch Aggregator over the full prefix
      val all = (b1 ++ Seq(TopKEvent(1L, 10L), TopKEvent(1L, 20L), TopKEvent(1L, 95L)))
      val batch = all.toDF("group", "packed")
        .groupBy("group").agg(TopK.bottomK(3)(col("packed")).as("topk"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(s2.filter(_.group == 1L).last.topk == batch(1L))
      assert(s2.filter(_.group == 2L).last.topk == batch(2L))
    } finally q.stop()
  }

  test("funnel stream: state machine matches q97 on an in-order feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{FunnelEvent, FunnelStep}
    val DayUs = 86400L * 1000000L
    val feed = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").as("user"), col("event_type").as("typ"),
        unix_micros(col("ts")).as("eus"), col("event_id").as("tb"))
      .orderBy("eus", "tb") // event-time feed order, the op's contract
      .as[FunnelEvent].collect()
    val input = MemoryStream[FunnelEvent]
    val q = StreamingOps.funnelStream(input.toDS(), DayUs)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append()).start()
    try {
      feed.grouped(math.max(1, feed.length / 4)).foreach { c =>
        input.addData(c.toSeq: _*); q.processAllAvailable()
      }
      val steps = spark.table("funnel_out").as[FunnelStep].collect()
      // each user arms each step at most once
      assert(steps.groupBy(s => (s.user, s.step)).forall(_._2.length == 1))
      val counts = steps.groupBy(_.step).view.mapValues(_.length.toLong).toMap
      val gapSums = steps.groupBy(_.step).view
        .mapValues(_.map(_.gapUs).sum).toMap
      val batch = graft.queries.EventQueries.q97.build(spark, sf0001)
        .select("step", "users", "total_gap_us").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      (1 to 3).foreach { st =>
        assert(counts.getOrElse(st, 0L) == batch(st.toLong)._1,
          s"step $st user count drifted from q97")
        assert(gapSums.getOrElse(st, 0L) == batch(st.toLong)._2,
          s"step $st gap total drifted from q97")
      }
    } finally q.stop()
  }

  test("cep stream: 4-step declared pattern arms in order, within window, once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{FunnelEvent, FunnelStep}
    val W = 100L
    val feed = Seq(
      // user 1 completes all four steps in order within the window
      FunnelEvent(1L, "a", 10L, 1L), FunnelEvent(1L, "b", 20L, 2L),
      FunnelEvent(1L, "c", 50L, 3L), FunnelEvent(1L, "d", 120L, 4L),
      // user 2: step c arrives BEFORE b armed — must not arm; then b,
      // then a late c outside b's window — must not arm either
      FunnelEvent(2L, "a", 10L, 5L), FunnelEvent(2L, "c", 15L, 6L),
      FunnelEvent(2L, "b", 30L, 7L), FunnelEvent(2L, "c", 200L, 8L),
      // user 3: duplicate a's — only the first arms; b equal-time to a
      // (not strictly after) must not arm
      FunnelEvent(3L, "a", 40L, 9L), FunnelEvent(3L, "a", 41L, 10L),
      FunnelEvent(3L, "b", 40L, 11L))
    val input = MemoryStream[FunnelEvent]
    val q = StreamingOps.cepStream(input.toDS(), Seq("a", "b", "c", "d"), W)
      .writeStream.format("memory").queryName("cep_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // two chunks so state crosses a micro-batch boundary
      feed.grouped(6).foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
      val got = spark.table("cep_out").as[FunnelStep].collect()
        .map(s => (s.user, s.step) -> (s.eus, s.gapUs)).toMap
      assert(got == Map(
        (1L, 1) -> (10L, 0L), (1L, 2) -> (20L, 10L),
        (1L, 3) -> (50L, 30L), (1L, 4) -> (120L, 70L),
        (2L, 1) -> (10L, 0L), (2L, 2) -> (30L, 20L),
        (3L, 1) -> (40L, 0L)))
    } finally q.stop()
    // funnelStream is cepStream(view->click->purchase): the q97 parity
    // test above pins the 3-step instantiation
  }

  test("wau stream: live day states are bit-equal to a batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{WauEvent, WauState}
    import graft.operators.KmvSketch
    import graft.util.Det
    // real (day, user-hash) feed from events, streamed in 4 chunks
    val feed = Tables.events(spark, sf0001)
      .select(expr("unix_micros(ts) DIV 86400000000").as("day"),
        Det.hex60(md5(col("user_id").cast("string"))).as("hv"))
      .as[WauEvent].collect()
    val input = MemoryStream[WauEvent]
    val out = StreamingOps.wauStream(input.toDS())
    val q = out.writeStream.format("memory")
      .queryName("wau_out").outputMode(OutputMode.Update()).start()
    try {
      feed.grouped(math.max(1, feed.length / 4)).foreach { c =>
        input.addData(c.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.table("wau_out").as[WauState].collect()
        .groupBy(_.day).map { case (d, snaps) => d -> snaps.last }
      val batch = Tables.events(spark, sf0001)
        .select(expr("unix_micros(ts) DIV 86400000000").as("day"),
          Det.hex60(md5(col("user_id").cast("string"))).as("hv"))
        .groupBy("day").agg(KmvSketch.state(col("hv")).as("st"),
          KmvSketch(col("hv")).as("kmv"))
        .as[(Long, Seq[Long], (Double, Long))].collect()
      assert(batch.nonEmpty && batch.length == live.size)
      batch.foreach { case (day, st, (est, _)) =>
        assert(live(day).kmins == st, s"day $day state drifted")
        assert(live(day).estimate == est, s"day $day estimate drifted")
      }
    } finally q.stop()
  }

  test("balance stream: snapshot after every chunk equals the batch recurrence") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{LedgerEvent, LedgerState}
    // q120's ledger feed, per-key in-order (the declared arrival contract)
    val feed = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id").as("user"),
        unix_timestamp(col("ts")).as("es"), col("event_id").as("eventId"),
        when(col("event_type") === "purchase",
          round(col("value") * 100, 0).cast("long"))
          .otherwise(-round(col("value") * 100, 0).cast("long")).as("delta"))
      .as[LedgerEvent].collect().sortBy(e => (e.es, e.eventId))
    def recount(prefix: Seq[LedgerEvent]): Map[Long, (Long, Long, Long)] =
      prefix.groupBy(_.user).map { case (u, xs) =>
        var bal = 0L; var peak = 0L
        xs.sortBy(e => (e.es, e.eventId)).foreach { e =>
          bal = math.max(0L, bal + e.delta); peak = math.max(peak, bal)
        }
        u -> (bal, peak, xs.length.toLong)
      }
    val input = MemoryStream[LedgerEvent]
    val out = StreamingOps.balanceStream(input.toDS())
    val q = out.writeStream.format("memory")
      .queryName("bal_out").outputMode(OutputMode.Update()).start()
    try {
      var seen = 0
      feed.grouped(math.max(1, feed.length / 3)).foreach { c =>
        input.addData(c.toSeq: _*); q.processAllAvailable()
        seen += c.length
        val live = spark.table("bal_out").as[LedgerState].collect()
          .groupBy(_.user).map { case (u, snaps) =>
            u -> snaps.maxBy(_.nApplied)
          }
        val want = recount(feed.take(seen))
        assert(live.keySet == want.keySet, s"prefix $seen users")
        want.foreach { case (u, (bal, peak, n)) =>
          val s = live(u)
          assert((s.bal, s.peak, s.nApplied) == ((bal, peak, n)),
            s"prefix $seen user $u drifted")
        }
      }
    } finally q.stop()
  }

  test("streaming dedup-state ingest: micro-batched shards end label-equal " +
       "to a cold index of the union; replays and torn batches heal") {
    // VERDICT r14 item 5: CorpusDedup.appendSink — appendShard composed
    // with the batchSink txn guard as one foreachBatch function. Fixture
    // texts are AppendShardSpec's hand-searched bridge set (X/Z two
    // separate cold clusters, M shares bands with both).
    import graft.pipeline.{CorpusDedup, Snapshots}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val baseWords = (0 until 54).map(i => f"word$i%02d")
    val textX = baseWords.mkString(" ")
    val textZ = baseWords.updated(17, "alt7").updated(36, "alt14").mkString(" ")
    val textM = baseWords.updated(17, "alt7").mkString(" ")
    val textNovel = "zebra xylophone quartz jigsaw vortex plasma nebula kumquat"
    val corpus = Seq((10L, textX), (11L, textX), (20L, textZ), (21L, textZ))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-streamdedup").toString
    corpus.write.parquet(s"$root/docs")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"),
      s"""paths:
         |  documents: $root/docs
         |  state_dir: $root/state
         |""".stripMargin)
    Main.run(spark, s"$root/config.yaml", "dedupindex")
    val batch0 = Seq((30L, textM), (40L, textNovel))
    val batch1 = Seq((1L, textX), (50L, textZ))
    val input = MemoryStream[(Long, String)]
    val docsStream = input.toDF().toDF("doc_id", "text")
    val q = docsStream.writeStream
      .foreachBatch(CorpusDedup.appendSink(s"$root/state", "ingest"))
      .start()
    try {
      input.addData(batch0: _*); q.processAllAvailable()
      input.addData(batch1: _*); q.processAllAvailable()
    } finally q.stop()
    def labelsNow() = Snapshots.read(spark, s"$root/state/labels")
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bandsNow() = Snapshots.read(spark, s"$root/state/bands")
      .select("band_idx", "band", "ex_id").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    def coldOf(df: org.apache.spark.sql.DataFrame) = {
      val st = CorpusDedup.indexCorpus(df)
      val l = st.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = st.bandIndex.collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      st.release(); (l, b)
    }
    val union01 = corpus.unionByName(
      (batch0 ++ batch1).toDF("doc_id", "text"))
    val (coldL, coldB) = coldOf(union01)
    assert(labelsNow() == coldL, "streamed state must equal the cold index")
    assert(bandsNow() == coldB)
    // doc 1 is the global min of the merged bridge component
    assert(labelsNow()(20L) == 1L && labelsNow()(30L) == 1L)
    // recovery replay of an already-committed batch id: a recognized no-op
    val vBefore = Snapshots.currentVersion(spark, s"$root/state/labels")
    CorpusDedup.appendSink(s"$root/state", "ingest")(
      batch1.toDF("doc_id", "text"), 1L)
    assert(Snapshots.currentVersion(spark, s"$root/state/labels") == vBefore,
      "replayed batch must not burn a labels version")
    assert(labelsNow() == coldL)
    // torn batch: MERGE 1 (labels, stream-stamped) lands, MERGE 2 does
    // not; the replay of the same batch applies only the band delta
    val batch2 = Seq((5L, textZ), (60L, textNovel + " tail")).toDF("doc_id", "text")
    val state = CorpusDedup.DedupState(
      Snapshots.read(spark, s"$root/state/labels").select("doc_id", "cluster_id"),
      Snapshots.read(spark, s"$root/state/bands").select("band_idx", "band", "ex_id"))
    val delta = CorpusDedup.appendShard(state, batch2)
    val token = CorpusDedup.shardToken(batch2)
    Snapshots.upsert(spark, s"$root/state/labels", delta.changedLabels,
      "doc_id", meta = s"dedupappend:$token:batch:ingest:2")
    delta.release()
    CorpusDedup.appendSink(s"$root/state", "ingest")(batch2, 2L)
    val (coldL2, coldB2) = coldOf(union01.unionByName(batch2))
    assert(labelsNow() == coldL2, "torn-batch replay must heal to the cold index")
    assert(bandsNow() == coldB2)
    // healed: a further replay of batch 2 is skipped by the watermark
    val v2 = Snapshots.currentVersion(spark, s"$root/state/labels")
    CorpusDedup.appendSink(s"$root/state", "ingest")(batch2, 2L)
    assert(Snapshots.currentVersion(spark, s"$root/state/labels") == v2)
  }

  test("streaming dedup ingest: randomized corpora over 3 micro-batches " +
       "equal the cold index (seeded)") {
    // the AppendShardSpec randomized-parity pin applied to the WHOLE
    // streaming path: seeded random docs over a small vocab (band
    // collisions, exact dups, cross-batch merges all occur), state built
    // by the CLI verb, the remainder arriving as 3 appendSink batches —
    // labels AND band index must equal the cold rebuild every time
    import graft.pipeline.{CorpusDedup, Snapshots}
    import spark.implicits._
    val rnd = new scala.util.Random(1015)
    val vocab = (0 until 12).map(i => s"w$i")
    for (trial <- 1 to 2) {
      val n = 24 + rnd.nextInt(12)
      val raw = (0 until n).map { i =>
        i.toLong -> (if (i > 2 && rnd.nextInt(3) == 0) null
          else Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val resolved = raw.foldLeft(Vector.empty[(Long, String)]) {
        case (acc, (id, null)) => acc :+ (id -> acc(rnd.nextInt(acc.size))._2)
        case (acc, (id, t)) => acc :+ (id -> t)
      }
      val all = resolved.toDF("doc_id", "text")
      val cut = n / 3 + rnd.nextInt(3)
      val root = java.nio.file.Files.createTempDirectory(s"graft-sdr$trial").toString
      all.filter(col("doc_id") < cut).write.parquet(s"$root/docs")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$root/config.yaml"),
        s"""paths:
           |  documents: $root/docs
           |  state_dir: $root/state
           |""".stripMargin)
      Main.run(spark, s"$root/config.yaml", "dedupindex")
      val sink = CorpusDedup.appendSink(s"$root/state", s"t$trial")
      for (b <- 0 until 3)
        sink(all.filter(col("doc_id") >= cut &&
          pmod(col("doc_id"), lit(3)) === b), b.toLong)
      val got = Snapshots.read(spark, s"$root/state/labels")
        .select("doc_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotIdx = Snapshots.read(spark, s"$root/state/bands")
        .select("band_idx", "band", "ex_id").collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val cold = CorpusDedup.indexCorpus(all)
      val expL = cold.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expI = cold.bandIndex.collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      cold.release()
      assert(got == expL, s"trial $trial labels")
      assert(gotIdx == expI, s"trial $trial index")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("rolling stream: batch parity with q96's RANGE window on events") {
    import spark.implicits._
    import StreamingOps.{RollingEvent, RollingOut}
    val winUs = 7L * 86400L * 1000000L
    // ts-distinct per user (the declared tie caveat): keep min event_id per
    // (user, eus) so batch peers-semantics and stream order agree
    val ev = Tables.events(spark, sf0001)
      .withColumn("eus", unix_micros(col("ts")))
      .groupBy("user_id", "eus")
      .agg(min("event_id").as("event_id"),
        first("value").as("value"))
    val tagged = ev.select(col("user_id").as("key"), col("eus").as("ts"),
        col("event_id").as("tb"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .as[RollingEvent]
    val streamed = StreamingOps.rollingStream(tagged, winUs).collect()
      .map(r => (r.key, r.tb) -> (r.n, r.cents)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("eus"))
      .rangeBetween(-winUs, org.apache.spark.sql.expressions.Window.currentRow)
    val batch = ev.select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).over(w).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }
}

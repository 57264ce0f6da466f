package graft

import graft.pipeline._
import graft.sources.Sources
import graft.tensor.Tensors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.util.hashing.MurmurHash3

class PipelineSpec extends SparkSpec {

  private def cfg = GraftConfig(
    datasetNames = Seq("mm1"), keyPairs = Map("image" -> "label"),
    dimensionality = "2D", targetSize = (4, 4), nrClasses = 3)

  test("GraftConfig parses YAML and ignores unknown keys") {
    val y =
      """dataset:
        |  names: [mm1, mm2]
        |  key_pairs: {sa_cine: sa_cine_gt, la_cine: none}
        |cache:
        |  dimensionality: 3D
        |  special_mode: ed_only
        |  target_size: [128, 128]
        |unknown_section: {foo: 1}
        |split: {seed: 99, valid_fraction: 0.25}
        |""".stripMargin
    val f = Files.createTempFile("cfg", ".yaml")
    Files.writeString(f, y)
    val c = GraftConfig.fromYaml(f.toString)
    assert(c.datasetNames == Seq("mm1", "mm2"))
    assert(c.keyPairs == Map("sa_cine" -> "sa_cine_gt", "la_cine" -> "none"))
    assert(c.dimensionality == "3D" && c.specialMode.contains("ed_only"))
    assert(c.targetSize == (128, 128) && c.seed == 99L && c.validFraction == 0.25)
  }

  test("DataSplit: disjoint, exhaustive, deterministic, overlap removed") {
    val subjects = Tables.customer(spark, sf0001)
    val overlap = col("c_acctbal") < -900
    val s1 = DataSplit.split(subjects, "c_custkey", "c_mktsegment", 5, 0.2, 7L, Some(overlap))
    val s2 = DataSplit.split(subjects, "c_custkey", "c_mktsegment", 5, 0.2, 7L, Some(overlap))
    assert(s1.orderBy("c_custkey").collect().toSeq == s2.orderBy("c_custkey").collect().toSeq)
    assert(s1.groupBy("c_custkey").count().filter(col("count") > 1).count() == 0)
    assert(s1.filter(col("c_acctbal") < -900).count() == 0, "overlap subjects must be dropped")
    val sm = DataSplit.summary(s1, "c_custkey").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sm.keySet == Set("test", "train", "valid"))
  }

  /** synthetic 2-subject record table with (2,2,1,2,2) tensors. */
  private def records: DataFrame = {
    val n = 2 * 2 * 1 * 2 * 2
    spark.range(2).select(
      concat(lit("subj"), col("id")).as("subject_id"),
      lit("mm1").as("dataset"),
      Tensors.tensor(typedLit(Seq(2, 2, 1, 2, 2)),
        transform(sequence(lit(1), lit(n)), i => (i + col("id") * 100).cast("float"))).as("image"),
      Tensors.tensor(typedLit(Seq(2, 2, 1, 2, 2)),
        transform(sequence(lit(1), lit(n)), i => (i % 3).cast("float"))).as("label"))
  }

  test("cachePlan explodes with stats meta and special-mode filter") {
    val plan = TransformPlanner.cachePlan(cfg, Seq("image"), Seq("label"))
    val out = plan(records)
    assert(out.count() == 8) // 2 subjects × T2 × D2
    val r = out.filter(col("subject_id") === "subj0" && col("frame_nr") === 0 && col("slice_nr") === 0).head()
    assert(r.getAs[Int]("total_nr_frames") == 2 && r.getAs[Int]("total_nr_slices") == 2)
    // min-shift happened before explode: global min of subj0 was 1 → shifted to 0
    val firstBlock = out.filter(col("subject_id") === "subj0")
      .orderBy("frame_nr", "slice_nr").select(col("image.data")).head().getSeq[Float](0)
    assert(firstBlock == Seq(0f, 1f, 2f, 3f))
    // stats meta present
    assert(out.select(col("image_meta.std")).head().getDouble(0) > 0)
    // ed_only keeps only the detected ED frame, renumbered to 0 (labels are
    // identical across frames here → tiebreak picks acquisition frame 0)
    val edOnly = TransformPlanner.cachePlan(cfg.copy(specialMode = Some("ed_only")),
      Seq("image"), Seq("label"), recordKeyCols = Seq("dataset", "subject_id"))(records)
    assert(edOnly.count() == 4)
    assert(edOnly.select("frame_nr").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
    // es_only selects the detected ES frame (same data → also frame 0 here)
    val esOnly = TransformPlanner.cachePlan(cfg.copy(specialMode = Some("es_only")),
      Seq("image"), Seq("label"), recordKeyCols = Seq("dataset", "subject_id"))(records)
    assert(esOnly.count() == 4)
  }

  test("ED/ES detection restricts to annotated frames (reference get_ed_es_idxs)") {
    // 4 frames, labels only on frames 1 (3 fg voxels → ED) and 3 (1 fg
    // voxel → ES); frames 0/2 all-zero. The naive global argmin would pick
    // frame 0 (volume 0) as ES — the reference first restricts to
    // np.nonzero frames (`setup/reformat/utils.py:101-113`).
    val lbl = Seq.fill(4)(0f) ++ Seq(1f, 1f, 1f, 0f) ++ Seq.fill(4)(0f) ++ Seq(1f, 0f, 0f, 0f)
    val rec = spark.range(1).select(
      lit("s0").as("subject_id"), lit("mm1").as("dataset"),
      Tensors.tensor(typedLit(Seq(4, 1, 1, 2, 2)),
        typedLit((1 to 16).map(_.toFloat))).as("image"),
      Tensors.tensor(typedLit(Seq(4, 1, 1, 2, 2)), typedLit(lbl)).as("label"))
    val keys = Seq("dataset", "subject_id")
    val ed = TransformPlanner.cachePlan(cfg.copy(specialMode = Some("ed_only")),
      Seq("image"), Seq("label"), recordKeyCols = keys)(rec)
    // ED = frame 1 → image block (min-shifted by 1) is 4..7
    assert(ed.count() == 1)
    assert(ed.select(col("image.data")).head().getSeq[Float](0) == Seq(4f, 5f, 6f, 7f))
    val es = TransformPlanner.cachePlan(cfg.copy(specialMode = Some("es_only")),
      Seq("image"), Seq("label"), recordKeyCols = keys)(rec)
    // ES = frame 3 (smallest *annotated* volume), NOT zero-label frame 0
    assert(es.count() == 1)
    assert(es.select(col("image.data")).head().getSeq[Float](0) == Seq(12f, 13f, 14f, 15f))
  }

  test("servePlan: identity resample + standardize + one-hot") {
    val cached = TransformPlanner.cachePlan(cfg, Seq("image"), Seq("label"))(records)
      .withColumn("file_id", concat_ws("-", col("subject_id"), col("frame_nr"), col("slice_nr")))
    val serve = TransformPlanner.servePlan(cfg.copy(oneHot = true, targetSize = (2, 2)),
      Seq("image"), Seq("label"), "file_id", augmented = false)
    val out = serve(cached)
    assert(out.count() == 8)
    val img = out.select(col("image.data")).head().getSeq[Float](0)
    assert(math.abs(img.map(_.toDouble).sum) < 1e-4, "standardized block should be ~zero-mean")
    val lbl = out.select(col("label.shape")).head().getSeq[Int](0)
    assert(lbl == Seq(1, 1, 3, 2, 2), "one-hot expands channel axis")
  }

  test("servePlan augmented: deterministic and seed-dependent; copies fan out") {
    val cached = TransformPlanner.cachePlan(cfg, Seq("image"), Seq("label"))(records)
      .withColumn("file_id", concat_ws("-", col("subject_id"), col("frame_nr"), col("slice_nr")))
    val aug = cfg.copy(targetSize = (2, 2), copies = 1,
      augment = AugmentConfig(enabled = true, noiseSigma = 0.1))
    val p = TransformPlanner.servePlan(aug, Seq("image"), Seq("label"), "file_id", augmented = true)
    val a = p(cached).orderBy("file_id", "copy_nr").select(col("image.data")).collect().map(_.getSeq[Float](0))
    val b = p(cached).orderBy("file_id", "copy_nr").select(col("image.data")).collect().map(_.getSeq[Float](0))
    assert(a.toSeq == b.toSeq, "augmented serve must be reproducible")
    // order-insensitive digest of the served buffers' raw float bits, pinned
    // from the zip_with noise formula the native kernel replaced: the whole
    // augmented chain must stay byte-identical
    val digest = MurmurHash3.unorderedHash(a.toSeq.map(d =>
      MurmurHash3.orderedHash(d.map(java.lang.Float.floatToRawIntBits))))
    assert(digest == 640042606, s"served buffers drifted: digest $digest")
    assert(p(cached).count() == 16, "copies=1 doubles the stream")
    // epoch folds into the augmentation key → different draws per epoch
    val e1 = TransformPlanner.servePlan(aug, Seq("image"), Seq("label"), "file_id",
      augmented = true, epoch = 1L)(cached)
      .orderBy("file_id", "copy_nr").select(col("image.data")).collect().map(_.getSeq[Float](0))
    assert(a.toSeq != e1.toSeq, "augmentation draws must vary across epochs")
  }

  test("servePlan augmented default path plans no higher-order function") {
    // the benchmark's serve shape: augmented, noise σ 0.05, blur σ 0.75,
    // standardize; served from a parquet slice cache as DataModule does
    val dir = Files.createTempDirectory("graftserve").resolve("cache").toString
    TransformPlanner.cachePlan(cfg, Seq("image"), Seq("label"))(records)
      .withColumn("file_id", concat_ws("-", col("subject_id"), col("frame_nr"), col("slice_nr")))
      .write.parquet(dir)
    val aug = cfg.copy(augment = AugmentConfig(enabled = true, noiseSigma = 0.05, blurSigma = 0.75))
    val served = TransformPlanner.servePlan(aug, Seq("image"), Seq("label"), "file_id",
      augmented = true)(spark.read.parquet(dir))
    // HOFs are CodegenFallback: interpreted, per element, on every served pixel
    val hofs = served.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case h: HigherOrderFunction => h.prettyName }))
    assert(hofs.isEmpty, s"interpreted per-element ops on the serve path: $hofs")
    assert(served.count() == 8)
  }

  test("DatasetCacher: fingerprint identity + cache hit skip") {
    val dir = Files.createTempDirectory("graftcache").toString
    val subj = records.select("subject_id").distinct()
    val fp1 = DatasetCacher.fingerprint(cfg, subj, "subject_id")
    val fp2 = DatasetCacher.fingerprint(cfg, subj, "subject_id")
    val fp3 = DatasetCacher.fingerprint(cfg.copy(dimensionality = "3D"), subj, "subject_id")
    assert(fp1 == fp2 && fp1 != fp3)
    val recs = TransformPlanner.cachePlan(cfg, Seq("image"), Seq("label"))(records)
    val path = DatasetCacher.materialize(spark, recs,
      Seq("subject_id", "dataset", "frame_nr", "slice_nr"), dir, cfg, subj, "subject_id")
    assert(DatasetCacher.isCached(spark, path))
    assert(DatasetCacher.load(spark, path).count() == 8)
    assert(DatasetCacher.manifest(spark, path).columns.toSet ==
      Set("subject_id", "dataset", "frame_nr", "slice_nr"))
    // second call serves from cache (same path, no error)
    val path2 = DatasetCacher.materialize(spark, recs,
      Seq("subject_id", "dataset", "frame_nr", "slice_nr"), dir, cfg, subj, "subject_id")
    assert(path2 == path)
    // recursive delete (reformat_check overwrite flow) with path guard
    assertThrows[IllegalArgumentException](DatasetCacher.deleteCache(spark, dir))
    assert(DatasetCacher.deleteCache(spark, path))
    assert(!DatasetCacher.isCached(spark, path))
    // overwrite re-materializes through the delete-first flow
    val path3 = DatasetCacher.materialize(spark, recs,
      Seq("subject_id", "dataset", "frame_nr", "slice_nr"), dir, cfg, subj, "subject_id",
      overwrite = true)
    assert(DatasetCacher.isCached(spark, path3))
  }

  test("BatchServer: batches, drop_last, weights, weighted draw") {
    val df = Tables.customer(spark, sf0001) // 150 rows
    val batched = BatchServer.shuffledBatches(df, "c_custkey", epoch = 1, batchSize = 32, dropLast = true)
    assert(batched.count() == 128) // 4 complete batches
    val sizes = batched.groupBy("batch_id").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ == 32))
    val e1 = BatchServer.shuffledBatches(df, "c_custkey", 1, 32, dropLast = true)
      .select("c_custkey", "batch_id").collect().toSeq
    val e2 = BatchServer.shuffledBatches(df, "c_custkey", 2, 32, dropLast = true)
      .select("c_custkey", "batch_id").collect().toSeq
    assert(e1.toSet != e2.toSet, "different epochs shuffle differently")

    val weighted = BatchServer.inverseFrequencyWeights(df, Seq("c_mktsegment"))
    val drawn = BatchServer.weightedDraw(weighted, "c_custkey", draws = 600, seed = 5L)
    assert(drawn.count() == 600)
    // rare segments are oversampled to ≈uniform across segments
    val bySeg = drawn.groupBy("c_mktsegment").count().collect().map(_.getLong(1))
    assert(bySeg.max < 3 * bySeg.min,
      s"inverse-frequency draw should roughly equalize segments: ${bySeg.mkString(",")}")
    val again = BatchServer.weightedDraw(weighted, "c_custkey", 600, 5L)
      .groupBy("c_mktsegment").count().collect().map(_.getLong(1))
    assert(bySeg.sorted.toSeq == again.sorted.toSeq)
  }

  test("inverseFrequencyWeights: NULL keys are groups, matched null-safely (r17)") {
    // the declared contract (reference utils.py:121-135, SURVEY §2.3 J1 /
    // §2.4 A1): dropna=False grouping + null-MATCHING merge keys. The
    // r17 star leg exposed that a using-columns join left NULL-keyed
    // rows with weight NULL — this pins the <=> behavior.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("seg", StringType, nullable = true),
      StructField("nat", IntegerType, nullable = true)))
    val rows = Seq(
      Row(1L, "A", Integer.valueOf(1)), Row(2L, "A", Integer.valueOf(1)),
      Row(3L, null, Integer.valueOf(1)), Row(4L, null, Integer.valueOf(1)),
      Row(5L, null, null), Row(6L, "B", null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val w = BatchServer.inverseFrequencyWeights(df, Seq("seg", "nat"))
      .select("id", "weight").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // total=6; groups: (A,1)=2, (null,1)=2, (null,null)=1, (B,null)=1
    assert(w(1L) == 3.0 && w(2L) == 3.0)
    assert(w(3L) == 3.0 && w(4L) == 3.0, s"NULL-keyed rows must match their own group: $w")
    assert(w(5L) == 6.0 && w(6L) == 6.0)
    // no row may come back with a NULL weight (the pre-r17 bug shape)
    val n = BatchServer.inverseFrequencyWeights(df, Seq("seg", "nat"))
      .filter(col("weight").isNull).count()
    assert(n == 0, "null-safe merge must weight every row")
  }

  test("weightedDraw intervals tile [0, W) exactly — every draw hits one row") {
    // zero-weight rows and duplicate weights included: integer micro-unit
    // cumsums must leave no gaps/overlaps, so N draws return exactly N rows
    val df = spark.range(40).select(col("id").as("k"),
      (when(col("id") % 7 === 0, 0.0).otherwise((col("id") % 5 + 1).cast("double") / 3.0))
        .as("weight"))
    val drawn = BatchServer.weightedDraw(df, "k", draws = 500, seed = 11L)
    assert(drawn.count() == 500, "every draw must match exactly one interval")
    assert(drawn.groupBy("draw_nr").count().filter(col("count") > 1).count() == 0,
      "no draw may land in two intervals")
    assert(drawn.filter(col("k") % 7 === 0).count() == 0,
      "zero-weight rows are never drawn")
  }

  test("Predictor: softmax + argmax + inverse warp round-trip") {
    val pred = records.select(col("subject_id"),
      Tensors.tensor(typedLit(Seq(1, 1, 3, 2, 2)),
        typedLit((0 until 12).map(_.toFloat))).as("prediction"),
      typedLit(Seq(1.0, 0.0, 0.0, 0.0, 1.0, 0.0)).as("_affine"))
    val sm = Predictor.softmaxChannels(pred, "prediction")
    val probs = sm.select(col("prediction.data")).head().getSeq[Float](0)
    // each fiber sums to 1: fibers are (i, i+4, i+8)
    for (i <- 0 until 4) {
      val s = probs(i) + probs(i + 4) + probs(i + 8)
      assert(math.abs(s - 1.0) < 1e-5)
    }
    val am = Predictor.argmaxChannels(pred, "prediction")
    assert(am.select(col("prediction.data")).head().getSeq[Float](0) == Seq(2f, 2f, 2f, 2f))
    assert(am.select(col("prediction.shape")).head().getSeq[Int](0) == Seq(1, 1, 1, 2, 2))
    val inv = Predictor.invertPredictions(am, 2, 2)
    assert(inv.select(col("prediction.data")).head().getSeq[Float](0) == Seq(2f, 2f, 2f, 2f))
    val cc = Predictor.classCounts(am, "prediction", 3).head()
    assert(cc.getAs[Long]("class_2") == 4 && cc.getAs[Long]("class_0") == 0)
  }

  test("graft.Main: YAML-driven cache/serve/explore/predict end-to-end") {
    // demo-shaped inputs: 8 subjects over 2 vendors, (2,2,1,4,4) tensors
    val root = Files.createTempDirectory("graft-main").toString
    val n = 2 * 2 * 1 * 4 * 4
    spark.range(8).select(
      concat(lit("subj"), col("id")).as("subject_id"),
      lit("demo").as("dataset"),
      Tensors.tensor(typedLit(Seq(2, 2, 1, 4, 4)),
        transform(sequence(lit(1), lit(n)), i => (i + col("id") * 100).cast("float"))).as("image"),
      Tensors.tensor(typedLit(Seq(2, 2, 1, 4, 4)),
        transform(sequence(lit(1), lit(n)), i => (i % 3).cast("float"))).as("label"))
      .write.parquet(s"$root/records")
    val csv = ("SubjectID,Pathology,Vendor" +:
      (0 until 8).map(i => s"subj$i,healthy,${if (i % 2 == 0) "A" else "B"}"))
      .mkString("\n")
    Files.writeString(java.nio.file.Paths.get(s"$root/subjects.csv"), csv)
    val yaml =
      s"""dataset:
         |  names: [demo]
         |  key_pairs: {image: label}
         |cache:
         |  dimensionality: 2D
         |  target_size: [4, 4]
         |  nr_classes: 3
         |normalize: {mode: standardize}
         |split: {test_per_group: 1, valid_fraction: 0.5, seed: 11, group_col: vendor}
         |dataloader: {batch_size: 4, drop_last: false}
         |paths:
         |  records: $root/records
         |  subjects: $root/subjects.csv
         |  cache_root: $root/cache
         |  output: $root/out
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"), yaml)

    val cache = Main.run(spark, s"$root/config.yaml", "cache")
    // 2 test subjects (1/vendor) leave 6 dev subjects × T2×D2 slices
    assert(cache("cached_records") == "24", cache.toString)
    assert(cache("cache_path").startsWith(s"$root/cache/"), cache.toString)

    val serve = Main.run(spark, s"$root/config.yaml", "serve")
    assert(serve("train_rows").toInt + serve("valid_rows").toInt == 24, serve.toString)
    assert(serve("train_rows").toInt > 0 && serve("valid_rows").toInt > 0)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/out/train_epoch0")))

    val explore = Main.run(spark, s"$root/config.yaml", "explore")
    assert(explore("explore_rec_mean") == "1", explore.toString) // one dataset row
    assert(Files.exists(java.nio.file.Paths.get(s"$root/out/exploration_rec_mean")))

    val predict = Main.run(spark, s"$root/config.yaml", "predict")
    assert(predict("source_geometry") == "4x4", predict.toString)
    assert(predict("predictions").toInt == serve("valid_rows").toInt, predict.toString)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/out/predictions")))

    val bad = intercept[IllegalArgumentException](
      Main.run(spark, s"$root/config.yaml", "frobnicate"))
    assert(bad.getMessage.contains("unknown command"))
    // the message lists every verb run accepts
    val listed = bad.getMessage.split("expected ").last.split('|').toSet
    assert(Set("cache", "serve", "explore", "predict", "dedup", "split",
      "score", "ingest", "dedupindex", "dedupappend", "decontaminate",
      "annbuild", "annsearch", "compact", "upsert", "snapshot", "timetravel",
      "cdc", "vacuum", "merge", "forget", "gate").subsetOf(listed), listed)

    // non-identity scorer via config (the model plug-point): prediction :=
    // negated image. The inverse warp is linear in intensities, so the
    // inverted predictions must be exactly the negation of the identity
    // run's — same rows, same source geometry, sign-flipped data.
    val yaml2 = yaml.replace(s"output: $root/out", s"output: $root/out2") +
      "scorer: \"expr:named_struct('shape', image.shape, " +
      "'data', transform(image.data, x -> CAST(-x AS FLOAT)))\"\n"
    Files.writeString(java.nio.file.Paths.get(s"$root/config2.yaml"), yaml2)
    val predict2 = Main.run(spark, s"$root/config2.yaml", "predict")
    assert(predict2("source_geometry") == "4x4", predict2.toString)
    assert(predict2("scorer").startsWith("expr:"), predict2.toString)
    assert(predict2("predictions") == predict("predictions"), predict2.toString)
    val idPred = spark.read.parquet(s"$root/out/predictions")
      .select(col("file_id"), col("frame_nr"), col("slice_nr"),
        col("prediction.shape").as("shp"), col("prediction.data").as("d1"))
    val negPred = spark.read.parquet(s"$root/out2/predictions")
      .select(col("file_id"), col("frame_nr"), col("slice_nr"),
        col("prediction.shape").as("shp2"), col("prediction.data").as("d2"))
    val joined = idPred.join(negPred, Seq("file_id", "frame_nr", "slice_nr")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getSeq[Int](r.fieldIndex("shp")) == r.getSeq[Int](r.fieldIndex("shp2")),
        "inverse geometry must match the identity run")
      val d1 = r.getSeq[Float](r.fieldIndex("d1"))
      val d2 = r.getSeq[Float](r.fieldIndex("d2"))
      assert(d1.length == d2.length)
      d1.zip(d2).foreach { case (a, b) =>
        assert(math.abs(a + b) < 1e-4, s"expected sign-flip, got $a vs $b") }
    }

    // unknown scorer specs fail by name
    val badScorer = intercept[IllegalArgumentException](
      graft.pipeline.Predictor.resolveScorer("magic"))
    assert(badScorer.getMessage.contains("magic"))
  }

  test("graft.Main compact: YAML-driven layout maintenance") {
    val root = Files.createTempDirectory("graft-compact").toString
    Tables.documents(spark, sf0001).repartition(23)
      .write.parquet(s"$root/records") // sprayed small files
    Files.writeString(java.nio.file.Paths.get(s"$root/cfg.yaml"),
      s"""paths:
         |  records: $root/records
         |  compact_target_mb: 1
         |""".stripMargin)
    val rows = Tables.documents(spark, sf0001).count()
    val out = Main.run(spark, s"$root/cfg.yaml", "compact")
    assert(out("rows").toLong == rows)
    val files = new java.io.File(s"$root/records").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == out("files").toInt && files < 23)
  }

  test("graft.Main upsert: catalog-scoped MERGE from one YAML") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-upsert").toString
    Sources.writeClustered(
      Tables.documents(spark, sf0001).select("doc_id", "n_chars"),
      s"$root/records", "doc_id", files = 6)
    Seq((5L, -9L), (6L, -9L)).toDF("doc_id", "n_chars")
      .write.parquet(s"$root/updates")
    Files.writeString(java.nio.file.Paths.get(s"$root/cfg.yaml"),
      s"""paths:
         |  records: $root/records
         |  updates: $root/updates
         |  upsert_key: doc_id
         |""".stripMargin)
    val out = Main.run(spark, s"$root/cfg.yaml", "upsert")
    assert(out("files_total") == "6")
    assert(out("files_rewritten").toInt >= 1 && out("files_rewritten").toInt < 6)
    val back = spark.read.parquet(s"$root/records")
    assert(back.filter(col("n_chars") === -9L).count() == 2)
  }

  test("graft.Main snapshot/timetravel/cdc/vacuum: versioned-table lifecycle from one YAML") {
    val root = Files.createTempDirectory("graft-snap").toString
    Tables.documents(spark, sf0001).select("doc_id", "n_chars")
      .write.parquet(s"$root/records")
    def cfg(extra: String): String = {
      Files.writeString(java.nio.file.Paths.get(s"$root/cfg.yaml"),
        s"""paths:
           |  records: $root/records
           |  table: $root/table
           |  output: $root/out
           |$extra""".stripMargin)
      s"$root/cfg.yaml"
    }
    val total = Tables.documents(spark, sf0001).count()
    val c1 = Main.run(spark, cfg("  snapshot_key: doc_id\n  snapshot_files: 4\n"), "snapshot")
    assert(c1("version") == "1" && c1("files_added") == "4")
    // second commit appends a small increment
    Tables.documents(spark, sf0001).select("doc_id", "n_chars")
      .filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 1000000)
      .write.mode("overwrite").parquet(s"$root/records")
    val c2 = Main.run(spark, cfg("  snapshot_key: doc_id\n  snapshot_files: 1\n"), "snapshot")
    assert(c2("version") == "2")
    val tt1 = Main.run(spark, cfg("  snapshot_version: 1\n"), "timetravel")
    assert(tt1("rows").toLong == total)
    val ttLatest = Main.run(spark, cfg(""), "timetravel")
    assert(ttLatest("rows").toLong == total + 5)
    val cdc = Main.run(spark, cfg("  cdc_from: 1\n"), "cdc")
    assert(cdc("inserts") == "5" && cdc("deletes") == "0")
    assert(spark.read.parquet(s"$root/out/cdc").count() == 5)
    val vac = Main.run(spark, cfg("  vacuum_keep: 1\n"), "vacuum")
    assert(vac("manifests_dropped") == "1" && vac("files_deleted").toInt == 0)
    // append-only: v1's files are all still referenced by v2 → 0 deleted
    assert(graft.pipeline.Snapshots.read(spark, s"$root/table").count() == total + 5)
    // forget: the GDPR pass — delete one doc_id, rewrite only hit files
    val fg = Main.run(spark,
      cfg("  forget_column: doc_id\n  forget_value: 3\n"), "forget")
    assert(fg("rows_deleted") == "1" && fg("files_rewritten").toInt >= 1)
    assert(fg("files_kept").toInt >= 1, "cold files carried by reference")
    val left = graft.pipeline.Snapshots.read(spark, s"$root/table")
    assert(left.count() == total + 4)
    assert(left.filter(col("doc_id") === 3).count() == 0)
    // merge: the versioned MERGE verb — matched keys replaced, rest
    // inserted, untouched files by reference
    Tables.documents(spark, sf0001).select("doc_id", "n_chars")
      .filter(col("doc_id") < 3)
      .withColumn("n_chars", col("n_chars") + 100000)
      .unionByName(Tables.documents(spark, sf0001)
        .select("doc_id", "n_chars").filter(col("doc_id") < 3)
        .withColumn("doc_id", col("doc_id") + 2000000))
      .write.mode("overwrite").parquet(s"$root/upd")
    val mg = Main.run(spark,
      cfg(s"  updates: $root/upd\n  merge_key: doc_id\n"), "merge")
    assert(mg("rows_updated") == "3" && mg("rows_inserted") == "3", mg.toString)
    val merged = graft.pipeline.Snapshots.read(spark, s"$root/table")
    assert(merged.count() == total + 7)
    assert(merged.filter(col("doc_id") === 0).select("n_chars")
      .head().getAs[Number](0).longValue >= 100000L,
      "matched key must carry the update")
    // gate: the WAP verb — audits the STAGED batch; a clean batch
    // publishes...
    val vBefore = graft.pipeline.Snapshots.currentVersion(spark, s"$root/table")
    val g1 = Main.run(spark,
      cfg("  gate_unique: doc_id\n  gate_not_null: doc_id,n_chars\n"), "gate")
    assert(g1("published") == "true")
    // ...and a batch with a duplicated key is rejected without a version
    val docs01 = Tables.documents(spark, sf0001).select("doc_id", "n_chars")
    docs01.filter(col("doc_id") <= 2)
      .union(docs01.filter(col("doc_id") === 0))
      .write.mode("overwrite").parquet(s"$root/records")
    val g2 = Main.run(spark, cfg("  gate_unique: doc_id\n"), "gate")
    assert(g2("published") == "false" &&
      g2("failed_checks") == "unique:doc_id")
    assert(graft.pipeline.Snapshots.currentVersion(spark, s"$root/table")
      == vBefore + 1, "failed gate burned a version")
  }

  test("graft.Main dedup: exact + near-dup + keep-best end-to-end") {
    val root = Files.createTempDirectory("graft-dedup").toString
    // sf0.001 documents plus a planted exact copy of the min-id doc
    val base = Tables.documents(spark, sf0001).select("doc_id", "text")
    val first = base.orderBy("doc_id").limit(1)
      .select(lit(999999L).as("doc_id"), col("text"))
    base.unionByName(first).write.parquet(s"$root/documents")
    val yaml =
      s"""paths:
         |  documents: $root/documents
         |  output: $root/out
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"), yaml)

    val total = base.count() + 1
    val res = Main.run(spark, s"$root/config.yaml", "dedup")
    assert(res("docs").toLong == total, res.toString)
    assert(res("kept").toLong + res("exact_dups").toLong +
      res("near_dups_dropped").toLong == total, s"verdict partition: $res")
    assert(res("exact_dups").toLong >= 1, s"planted copy must be an exact dup: $res")

    val v = spark.read.parquet(s"$root/out/dedup")
    assert(v.count() == total, "every input doc gets a verdict row")
    // the planted copy: non-canonical, not kept, inherits its canonical
    val planted = v.filter(col("doc_id") === 999999L).head()
    val canonicalId = planted.getAs[Long]("exact_canonical_id")
    assert(canonicalId != 999999L && !planted.getAs[Boolean]("kept"))
    assert(v.filter(col("doc_id") === canonicalId)
      .head().getAs[Long]("cluster_id") == planted.getAs[Long]("cluster_id"),
      "exact copies inherit the canonical's cluster")
    // kept docs: distinct contents, exactly one per cluster
    import spark.implicits._
    val kept = v.filter(col("kept"))
    assert(kept.count() == kept.select("content_hash").distinct().count())
    val perCluster = v.filter(col("doc_id") === col("exact_canonical_id"))
      .groupBy("cluster_id").agg(sum(when(col("kept"), 1).otherwise(0)).as("k"))
      .select("k").as[Long].collect()
    assert(perCluster.forall(_ == 1L), "exactly one kept doc per cluster")
    // keep-best rule: within every multi-member cluster the kept doc has
    // the max (quality_score, -doc_id)
    val multi = v.filter(col("doc_id") === col("exact_canonical_id"))
      .filter(col("cluster_size") > 1)
      .select("cluster_id", "doc_id", "quality_score", "kept").collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    multi.foreach { case (_, rows) =>
      val best = rows.maxBy(r => (r.getAs[Double]("quality_score"),
        -r.getAs[Long]("doc_id")))
      assert(best.getAs[Boolean]("kept"), s"best not kept: ${rows.toSeq}")
    }

    // profile report from the SAME verdict (no cluster re-run): docs
    // partition across size buckets; removed tokens = tokens of !kept docs
    val docsDf = spark.read.parquet(s"$root/documents")
    val prof = graft.pipeline.CorpusDedup.profile(v, docsDf).collect()
    assert(prof.map(r => r.getAs[Long]("cluster_docs") * r.getAs[Long]("n_clusters")).sum == total)
    val removedFromVerdict = v.filter(!col("kept"))
      .join(docsDf.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt")), "doc_id")
      .agg(sum("nt")).head().getLong(0)
    assert(prof.map(_.getAs[Long]("tokens_removed")).sum == removedFromVerdict,
      "profile's removed tokens must equal the !kept docs' tokens")
  }

  test("CorpusDedup.incremental: exact/near/novel verdicts against an existing corpus") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while forty tables " +
      "stream through the spark engine sorting every column into batches of rows"
    val existing = Seq(
      (0L, base),
      (2L, "completely different content about window functions and joins over partitioned data")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (11L, base), // exact copy of doc 0
      (13L, base.replace("lazy", "sleepy")), // near-dup of doc 0
      (15L, "zebra xylophone quartz jigsaw vortex plasma nebula kumquat")
    ).toDF("doc_id", "text")
    val v = CorpusDedup.incremental(existing, incoming)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v(11L) == ("exact_dup", 0L), s"exact copy: ${v(11L)}")
    assert(v(13L)._1 == "near_dup" && v(13L)._2 == 0L, s"near copy: ${v(13L)}")
    assert(v(15L) == ("novel", -1L), s"novel doc: ${v(15L)}")
    // an accepted shard's own indices would be appended next increment —
    // judging the existing corpus against itself is all exact_dups
    val self = CorpusDedup.incremental(existing, existing)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(self == Map(0L -> "exact_dup", 2L -> "exact_dup"))

    // the CLI verb drives the same relation from YAML paths
    val root = Files.createTempDirectory("graft-ingest").toString
    existing.write.parquet(s"$root/existing")
    incoming.write.parquet(s"$root/incoming")
    Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"),
      s"""paths:
         |  documents: $root/existing
         |  incoming: $root/incoming
         |  output: $root/out
         |""".stripMargin)
    val res = Main.run(spark, s"$root/config.yaml", "ingest")
    assert(res == Map("incoming" -> "3", "exact_dups" -> "1",
      "near_dups" -> "1", "novel" -> "1"), res.toString)
    assert(spark.read.parquet(s"$root/out/ingest").count() == 3)
  }

  test("graft.Main annbuild/annsearch: YAML-driven index lifecycle") {
    val root = Files.createTempDirectory("graft-ann").toString
    Files.writeString(java.nio.file.Paths.get(s"$root/config.yaml"),
      s"""paths:
         |  data_dir: /root/testdata/sf0.001
         |  index_dir: $root/index
         |  output: $root/out
         |ann:
         |  n_clusters: 4
         |  m: 4
         |  k: 8
         |  iters: 1
         |""".stripMargin)
    val built = Main.run(spark, s"$root/config.yaml", "annbuild")
    assert(built("centroids") == "4" && built("codebook_rows") == "32", built.toString)
    val searched = Main.run(spark, s"$root/config.yaml", "annsearch")
    assert(searched("results") == "25", searched.toString) // 5 probes × top-5
    assert(spark.read.parquet(s"$root/out/annsearch").count() == 25)
  }
}

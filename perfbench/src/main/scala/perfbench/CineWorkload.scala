package perfbench

import graft.pipeline._
import graft.tensor.Tensors
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The paper's chain, cache → serve → predict, through the `DataModule`
  * user API: cold `setup(overwrite = true)`, warm `setup()`, one augmented
  * train epoch, one inverse-frequency weighted draw, and identity-scorer
  * predict inverted back to the source geometry.
  *
  * Records are synthetic cine volumes of T frames × D slices × H × W (a
  * beating ring phantom with seeded noise and a matching 4-class label).
  * The seed drives record content plus the split and augmentation seeds.
  * `wide` selects realistic records, 128² planes on 64 subjects, instead of
  * the 64² planes on 6 subjects that fit the run budget.
  *
  * Traced passes run the same chain decomposed into the module calls that
  * `DataModule` makes, each wrapped in a call span (eager builder work) or
  * an action span (the noop sink), so every layer's share is visible. */
final class CineWorkload(o: Opts, cores: Int, work: String, wide: Boolean) extends Workload {
  private val name = if (wide) "cine_wide" else "cine_chain"

  private val (nSubjects, t, d, hw, batch, draws) =
    if (o.smoke) (6, 2, 2, 16, 4, 32)
    else if (wide) (64, 20, 8, 128, 32, 512) // the realistic size that exposes the read-path OOMs
    else (6, 20, 8, 64, 32, 512)

  val config: GraftConfig = GraftConfig(
    datasetNames = Seq("bench"), keyPairs = Map("image" -> "label"),
    dimensionality = "2D", targetSize = (hw, hw), nrClasses = 4,
    augment = AugmentConfig(enabled = true, noiseSigma = 0.05, blurSigma = 0.75),
    testPerGroup = 1, splitGroupCol = "vendor", validFraction = 0.25,
    seed = 1000L + o.seed, batchSize = batch, dropLast = true)
  private val idCol = "subject_id"
  private val imageCols = Seq("image")
  private val labelCols = Seq("label")
  private val weightCols = Seq("slice_nr")
  private val metaCols = Seq("file_id", idCol, "dataset", "split", "frame_nr", "slice_nr",
    "total_nr_frames", "total_nr_slices")

  private var spark: SparkSession = _
  private val rawDir = s"$work/raw/records"
  private val subjectsDir = s"$work/raw/subjects"
  private val cacheRoot = s"$work/cache"
  private var records: DataFrame = _
  private var subjects: DataFrame = _
  /** the module every untraced pass drives, built by each set-up repetition */
  private var dm: DataModule = _

  // per-run state the checks read back
  private val coldPaths = scala.collection.mutable.ArrayBuffer.empty[String]
  private val hitPaths = scala.collection.mutable.ArrayBuffer.empty[String]
  private val tracedPaths = scala.collection.mutable.ArrayBuffer.empty[String]
  private var probeNs: Map[String, Double] = Map.empty

  val opNames: Seq[String] = Seq("cache_build", "cache_hit", "train_epoch", "weighted_draw", "predict")

  /** Untimed: write the seeded raw records and subject table as parquet, on
    * a session of its own that is stopped afterwards. */
  override def prepare(): Unit = {
    val s = newSession()
    val (seed, tt, dd, side) = (o.seed, t, d, hw) // locals: the closure ships to executors
    val volume = udf((id: Long, label: Boolean) => CineWorkload.phantom(seed, id, tt, dd, side, label))
    s.range(nSubjects).select(
      format_string("s%03d", col("id")).as(idCol),
      lit("bench").as("dataset"),
      Tensors.tensor(typedLit(Seq(t, d, 1, hw, hw)), volume(col("id"), lit(false))).as("image"),
      Tensors.tensor(typedLit(Seq(t, d, 1, hw, hw)), volume(col("id"), lit(true))).as("label"))
      .write.mode("overwrite").parquet(rawDir)
    s.range(nSubjects).select(
      format_string("s%03d", col("id")).as(idCol),
      when(col("id") % 2 === 0, "A").otherwise("B").as("vendor"),
      (col("id") % 3).cast("string").as("pathology"))
      .write.mode("overwrite").parquet(subjectsDir)
    s.stop()
  }

  private def newSession(): SparkSession = {
    val s = graft.Session.local(cores, "perfbench-" + name)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set-up: engine start only. A fresh session from `graft.Session.local`
    * and the `DataModule` over the raw records and subjects (which reads
    * their parquet schemas). */
  def setup(r: Int, previous: Option[SparkSession]): SparkSession = {
    previous.foreach(_.stop())
    spark = newSession()
    records = spark.read.parquet(rawDir)
    subjects = spark.read.parquet(subjectsDir)
    dm = DataModule(spark, config, subjects, records, cacheRoot, idCol, imageCols, labelCols)
    spark
  }

  /** outputs of the warm-up pass, read by the checks */
  private val warm = scala.collection.mutable.Map.empty[String, Any]

  def pass(index: Int, tr: Tracer, warmup: Boolean): Seq[Op] =
    if (tr.enabled) tracedPass(index, tr)
    else {
      val epoch = index.toLong
      Seq(
        Op("cache_build", () => coldPaths += dm.setup(overwrite = true).cachePath),
        Op("cache_hit", () => hitPaths += dm.setup().cachePath),
        Op("train_epoch", () => {
          val b = dm.dataloader("train", epoch)
          if (!warmup) Harness.noop(b)
          else {
            val r = b.groupBy("batch_id").count()
              .agg(coalesce(sum("count"), lit(0L)), max("count"), count(lit(1))).head()
            warm ++= Seq("epoch_rows" -> r.getLong(0), "batch_max" -> r.get(1), "batches" -> r.getLong(2))
          }
        }),
        Op("weighted_draw", () => {
          val w = dm.weightedDataloader("train", epoch, weightCols, draws)
          if (!warmup) Harness.noop(w) else warm("draws") = w.count()
        }),
        Op("predict", () => {
          val out = predictFrame(dm.cachePath, dm.dataloader("valid", 0L))
          if (!warmup) Harness.noop(out)
          else {
            val shapes = out.groupBy(col("prediction.shape")).count().collect()
            warm ++= Seq("pred_rows" -> shapes.map(_.getLong(1)).sum,
              "pred_shapes" -> shapes.map(_.getSeq[Int](0)).toSeq)
          }
        }))
    }

  /** the `graft.Main predict` verb's frame: source geometry read from the
    * cache, identity scorer, inverse warp, output columns */
  private def predictFrame(path: String, valid: DataFrame,
                           invert: (DataFrame, Int, Int) => DataFrame = Predictor.invertPredictions): DataFrame = {
    val shape = DatasetCacher.load(spark, path).select(col("image.shape")).head().getSeq[Int](0)
    val scored = Predictor.resolveScorer("identity")(valid, "image")
    invert(scored, shape(3), shape(4))
      .select(col("file_id"), col(idCol), col("dataset"), col("frame_nr"), col("slice_nr"),
        col("prediction"))
  }

  /** The chain as `DataModule` composes it, one module call per span. With
    * a disabled tracer it builds the same DataFrames untraced; the check
    * `traced_chain_matches_datamodule` holds them against `DataModule`'s. */
  private final class Chain(tr: Tracer) {
    var path: String = _
    def split(): DataFrame = tr.span("pipeline.split.call", "call") {
      DataSplit.split(subjects, idCol, config.splitGroupCol, config.testPerGroup,
        config.validFraction, config.seed)
    }
    def dev(): DataFrame = split().filter(col("split").isin("train", "valid"))
    def cachePlan(dev: DataFrame): DataFrame = {
      val devRecords = records.join(broadcast(dev.select(col(idCol), col("split"))), Seq(idCol))
      tr.span("pipeline.planner.cache_plan", "call") {
        TransformPlanner.cachePlan(config, imageCols, labelCols, Seq("dataset", idCol))(devRecords)
      }.withColumn("file_id", concat_ws("-", col("dataset"), col(idCol),
        format_string("%02d", col("slice_nr")), format_string("%02d", col("frame_nr"))))
    }
    def materialize(): String = {
      val d = dev()
      val cached = cachePlan(d)
      path = tr.span("pipeline.cacher.materialize", "action") {
        DatasetCacher.materialize(spark, cached, metaCols, cacheRoot, config,
          d.select(col(idCol)), idCol, overwrite = true)
      }
      path
    }
    def hit(): String = {
      val d = dev()
      cachePlan(d)
      val fp = tr.span("pipeline.cacher.fingerprint", "call") {
        DatasetCacher.fingerprint(config, d.select(col(idCol)), idCol)
      }
      path = DatasetCacher.cachePath(cacheRoot, config, fp)
      val found = tr.span("pipeline.cacher.probe", "call") {
        !DatasetCacher.needsMaterialize(spark, path, overwrite = false)
      }
      require(found, s"traced cache_hit found no cache at $path")
      path
    }
    def load(which: String): DataFrame = tr.span("sources.cache_load", "call") {
      DatasetCacher.load(spark, path)
    }.filter(col("split") === which)
    def serve(df: DataFrame, augmented: Boolean, epoch: Long): DataFrame =
      tr.span("pipeline.planner.serve_plan", "call") {
        TransformPlanner.servePlan(config, imageCols, labelCols, "file_id", augmented, epoch)(df)
      }
    def batches(df: DataFrame, epoch: Long): DataFrame =
      tr.span("pipeline.batch.shuffle_call", "call") {
        BatchServer.shuffledBatches(df, "file_id", epoch, config.batchSize, config.dropLast)
      }
    def train(epoch: Long): DataFrame = batches(serve(load("train"), augmented = true, epoch), epoch)
    def valid(): DataFrame = batches(serve(load("valid"), augmented = false, 0L), 0L)
    def weighted(epoch: Long): DataFrame = {
      val cached = load("train")
      val w = tr.span("pipeline.batch.weights.call", "call") {
        BatchServer.inverseFrequencyWeights(cached, weightCols)
      }
      val drawn = tr.span("pipeline.batch.weighted_draw.call", "call") {
        BatchServer.weightedDraw(w, "file_id", draws, config.seed + epoch)
      }
      serve(drawn, augmented = true, epoch)
    }
  }

  private def tracedPass(index: Int, tr: Tracer): Seq[Op] = {
    val chain = new Chain(tr)
    val epoch = index.toLong
    Seq(
      Op("cache_build", () => tracedPaths += chain.materialize()),
      Op("cache_hit", () => tracedPaths += chain.hit()),
      // each DataFrame is built before its action span, so call spans stay
      // siblings of the action instead of nesting in it
      Op("train_epoch", () => {
        val b = chain.train(epoch)
        tr.span("pipeline.batch.epoch.action", "action")(Harness.noop(b))
      }),
      Op("weighted_draw", () => {
        val w = chain.weighted(epoch)
        tr.span("pipeline.batch.weighted_draw.action", "action")(Harness.noop(w))
      }),
      Op("predict", () => {
        val out = predictFrame(chain.path, chain.valid(), (df, h, w) =>
          tr.span("pipeline.predictor.invert.call", "call")(Predictor.invertPredictions(df, h, w)))
        tr.span("pipeline.predictor.invert.action", "action")(Harness.noop(out))
      }))
  }

  /** Analyzed plans of the writes `f` runs, captured by a query listener. */
  private def writePlans(f: () => Unit): Seq[LogicalPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.collect { case c: DataWritingCommand => c.query }.foreach(plans.add)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { f(); BusDrain.drain(spark.sparkContext) } finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** Layer isolation after each traced pass: raw and cache scans alone,
    * and the exploration sweep (recorded for attribution only). */
  override def probes(tr: Tracer): Unit = {
    tr.span("sources.raw_scan", "probe")(Harness.noop(records))
    val path = coldPaths.lastOption.orElse(tracedPaths.lastOption).get
    tr.span("sources.cache_scan", "probe")(Harness.noop(DatasetCacher.load(spark, path)))
    tr.span("pipeline.exploration.explore", "probe") {
      val sweeps = Exploration.explore(records, "image", "dataset")
      sweeps.values.foreach(Harness.noop)
    }
    if (probeNs.isEmpty) probeNs = Probes.kernels(spark, hw)
  }

  // --- correctness ---------------------------------------------------------

  /** (bytes, files) of the cached records and bytes of the raw input */
  private lazy val (cacheBytes, rawBytes) = {
    val path = (coldPaths ++ hitPaths ++ tracedPaths).lastOption
    (path.map(p => Harness.dirBytesAndFiles(s"$p/records")).getOrElse((0L, 0L)),
      Harness.dirBytesAndFiles(rawDir)._1)
  }

  val checkNames: Seq[String] = Seq("split_disjoint_exhaustive", "cached_rows",
    "cache_hit_same_path", "served_rows_reconcile", "batch_size_bound",
    "weighted_draw_count", "predictions_match_valid", "prediction_geometry") ++
    (if (o.trace) Seq("traced_chain_same_path", "traced_chain_matches_datamodule") else Nil)

  private def warmed[T](k: String): T =
    warm.getOrElse(k, throw new IllegalStateException(s"the warm-up pass produced no $k"))
      .asInstanceOf[T]

  def checks(): Seq[(String, () => String)] = {
    lazy val split = dm.split.cache()
    lazy val nSplit = split.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    lazy val nDev = nSplit.getOrElse("train", 0L) + nSplit.getOrElse("valid", 0L)
    lazy val nCached = DatasetCacher.manifest(spark, dm.cachePath).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def whole(n: Long) = n / config.batchSize * config.batchSize // drop_last
    Seq(
      "split_disjoint_exhaustive" -> (() => {
        val n = split.count(); val ids = split.select(idCol).distinct().count()
        val bad = split.filter(!col("split").isin("train", "valid", "test")).count()
        require(n == nSubjects && ids == nSubjects && bad == 0,
          s"split rows $n, distinct ids $ids, unknown labels $bad, subjects $nSubjects")
        s"$nSubjects subjects: $nSplit"
      }),
      "cached_rows" -> (() => {
        val n = nCached.values.sum
        require(n == nDev * t * d, s"cache holds $n slices, expected $nDev dev subjects x $t x $d")
        s"$n slices"
      }),
      "cache_hit_same_path" -> (() => {
        val all = (coldPaths ++ hitPaths).distinct
        val fp = DatasetCacher.fingerprint(config, split.filter(col("split").isin("train", "valid"))
          .select(col(idCol)), idCol)
        require(all.size == 1 && all.head == DatasetCacher.cachePath(cacheRoot, config, fp),
          s"cold/hit paths differ: $all")
        s"${coldPaths.size} cold, ${hitPaths.size} hit -> ${all.head.split('/').last}"
      }),
      "served_rows_reconcile" -> (() => {
        val train = nCached.getOrElse("train", 0L); val n = warmed[Long]("epoch_rows")
        require(n == whole(train), s"served $n rows, cache has $train train slices")
        s"$n of $train (drop_last remainder ${train - n})"
      }),
      "batch_size_bound" -> (() => {
        val largest = warmed[Long]("batch_max")
        require(largest <= config.batchSize, s"largest batch $largest")
        s"${warmed[Long]("batches")} batches, largest $largest"
      }),
      "weighted_draw_count" -> (() => {
        val n = warmed[Long]("draws")
        require(n == draws, s"$n rows for $draws draws")
        s"$n draws"
      }),
      "predictions_match_valid" -> (() => {
        val valid = nCached.getOrElse("valid", 0L); val n = warmed[Long]("pred_rows")
        require(n == whole(valid), s"$n predictions for $valid valid slices")
        s"$n predictions"
      }),
      "prediction_geometry" -> (() => {
        val shapes = warmed[Seq[Seq[Int]]]("pred_shapes")
        require(shapes == Seq(Seq(1, 1, 1, hw, hw)),
          s"prediction shapes ${shapes.map(_.mkString("x")).mkString(",")}")
        s"all ${hw}x$hw"
      })) ++ (if (o.trace) Seq(
      "traced_chain_same_path" -> (() => {
        val all = (tracedPaths ++ coldPaths ++ hitPaths).distinct
        require(all.size == 1, s"traced chain paths differ from the DataModule's: $all")
        "same cache path"
      }),
      "traced_chain_matches_datamodule" -> (() => {
        // the traced decomposition must build what DataModule builds, or the
        // per-layer figures would measure a stale copy of the chain
        val chain = new Chain(new Tracer(false, spark))
        val epoch = 1L
        def analyzed(df: DataFrame) = Seq(df.queryExecution.analyzed)
        val pairs = Seq(
          "cache_plan" -> (writePlans(() => dm.setup(overwrite = true)),
            writePlans(() => chain.materialize())),
          "train" -> (analyzed(dm.dataloader("train", epoch)), analyzed(chain.train(epoch))),
          "valid" -> (analyzed(dm.dataloader("valid", 0L)), analyzed(chain.valid())),
          "weighted" -> (analyzed(dm.weightedDataloader("train", epoch, weightCols, draws)),
            analyzed(chain.weighted(epoch))))
        val differ = pairs.collect { case (k, (a, b))
          if a.isEmpty || a.size != b.size || !a.zip(b).forall { case (x, y) => x.sameResult(y) } => k }
        require(differ.isEmpty, s"traced chain builds other plans than DataModule for: $differ")
        s"same analyzed plans for ${pairs.map(_._1).mkString(", ")}"
      })) else Nil)
  }

  override def itemsPerOp: Map[String, Long] =
    Seq("train_epoch" -> "epoch_rows", "weighted_draw" -> "draws", "predict" -> "pred_rows")
      .collect { case (op, k) if warm.contains(k) => op -> warmed[Long](k) }.toMap

  override def facts: Map[String, Any] = Map(
    "geometry" -> s"${t}x${d}x${hw}x$hw", "subjects" -> nSubjects, "batch_size" -> batch,
    "draws" -> draws, "raw_bytes" -> rawBytes, "cache_bytes" -> cacheBytes._1,
    "cache_files" -> cacheBytes._2,
    "cache_bytes_per_input_byte" -> (if (rawBytes > 0) cacheBytes._1.toDouble / rawBytes else 0.0))

  override def layerMetrics: Map[String, Double] = probeNs ++ Map(
    "pipeline.cacher.bytes_written" -> cacheBytes._1.toDouble,
    "pipeline.cacher.files_written" -> cacheBytes._2.toDouble,
    "cache_bytes_per_input_byte" -> (if (rawBytes > 0) cacheBytes._1.toDouble / rawBytes else 0.0))
}

object CineWorkload {
  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A beating ring phantom: Gaussian blob of seeded radius plus seeded
    * noise for the image, 4 concentric classes for the label. */
  def phantom(seed: Long, id: Long, t: Int, d: Int, hw: Int, label: Boolean): Array[Float] = {
    val out = new Array[Float](t * d * hw * hw)
    val key = mix(seed * 31 + id)
    val r0 = 0.18 * hw + (java.lang.Long.remainderUnsigned(key, 1000) / 1000.0) * 0.08 * hw
    val c = (hw - 1) / 2.0
    var i = 0
    var f = 0
    while (f < t) {
      val radius = r0 * (1.0 + math.sin(f * 0.3) * 0.15)
      var z = 0
      while (z < d) {
        var y = 0
        while (y < hw) {
          var x = 0
          while (x < hw) {
            val rr = math.sqrt((x - c) * (x - c) + (y - c) * (y - c)) / radius
            out(i) =
              if (label) (if (rr < 0.5) 1f else if (rr < 1.0) 2f else if (rr < 1.5) 3f else 0f)
              else (200.0 * math.exp(-rr * rr) +
                java.lang.Long.remainderUnsigned(mix(key ^ i), 1000) / 40.0).toFloat
            i += 1; x += 1
          }
          y += 1
        }
        z += 1
      }
      f += 1
    }
    out
  }
}

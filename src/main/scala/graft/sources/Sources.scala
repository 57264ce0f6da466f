package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink surface (SURVEY §2.1).
  *
  * The reference reads NIfTI/DICOM files + per-dataset CSVs and writes
  * per-record `.pt` files + consolidated CSVs. Spark-side: binary scans with
  * decode kernels for the imaging formats (decode stubbed — no nibabel/
  * pydicom in the JVM; the Spark plumbing is real), schema'd CSV for
  * metadata, Parquet for everything materialized.
  */
object Sources {

  /** S3 dataset-CSV source (`utils.py:132-133`): explicit schema, subject
    * ids forced to string exactly like `dtype={"SubjectID": str}`. */
  def subjectCsv(spark: SparkSession, path: String, extraFields: Seq[StructField] = Nil): DataFrame = {
    val schema = StructType(
      StructField("SubjectID", StringType, nullable = false) +:
        StructField("Pathology", StringType, nullable = true) +:
        StructField("Vendor", StringType, nullable = true) +:
        extraFields)
    spark.read.option("header", "true").schema(schema).csv(path)
  }

  /** S6 consolidated-CSV sink (`dataset_cacher.py:391`): single-file CSV for
    * tool interop; the Parquet manifest is the scale path — coalesce(1) is a
    * deliberate single-writer funnel, only for small metadata tables. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** JSONL corpus source — the pretraining-data interchange staple (one
    * JSON object per line; what CommonCrawl-derived corpora ship as).
    * PERMISSIVE with an explicit corrupt-record column: a 100 TB crawl
    * ALWAYS contains malformed lines, and the two failure postures that
    * matter are "quarantine and count" (this — corrupt lines surface as
    * rows with `_corrupt_record` set and all data fields null, so the
    * pipeline can count/route them) and "fail fast" (`strict = true` →
    * FAILFAST). Spark refuses queries that reference ONLY the corrupt
    * column on a raw scan — cache/materialize the parsed frame before a
    * corrupt-only count (SPARK-26243 posture). Schema is REQUIRED: schema inference scans the whole
    * input twice at scale, and a typed contract catches drift the way a
    * parquet schema would. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                strict: Boolean = false): DataFrame = {
    if (strict)
      spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    else
      spark.read
        .schema(schema.add(StructField("_corrupt_record", StringType, nullable = true)))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
  }

  /** JSONL sink — newline-delimited JSON, one object per row, written
    * distributed (one part file per partition; downstream consumers
    * glob). Gzip by default: JSONL's consumers expect it and the codec
    * is splittable-enough at file granularity for a sharded corpus. */
  def writeJsonl(df: DataFrame, path: String, gzip: Boolean = true): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  /** ORC scan — the other columnar interchange format a warehouse
    * migration hands you (Hive-era lakes are ORC). Spark's native
    * vectorized ORC reader gives the same pushdown/pruning contract as
    * parquet (`PushedFilters`/`ReadSchema` in explain), so every
    * declared-query plan property transfers unchanged. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink — zlib (the ORC-ecosystem default; Hive readers expect
    * it), distributed one-file-per-partition like [[writeJsonl]]. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "zlib").orc(path)

  /** Clustered parquet write — range-partition on a key and sort within
    * each partition before writing, so every output file covers a
    * disjoint key range (the poor man's z-order; one sort column is the
    * overwhelmingly common case). With plain Spark the payoff is parquet
    * ROW-GROUP min/max skipping plus page-level (column index) pruning
    * inside every file a pushed range predicate touches; a table format
    * with a file-stats catalog (Delta/Iceberg) turns the same layout
    * into whole-file skipping. At 100 TB this is the difference between
    * "decode 3 row groups" and "decode the corpus" for key-ranged
    * queries; it also fixes small-file sprawl (`files` bounds the
    * output count).
    *
    * `repartitionByRange` samples the key distribution, so file sizes
    * stay balanced under skew. */
  def writeClustered(df: DataFrame, path: String, byCol: String, files: Int): Unit = {
    require(files > 0 && files <= 1000000, s"file count out of range: $files")
    df.repartitionByRange(files, col(byCol))
      .sortWithinPartitions(byCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-order clustered write — [[writeClustered]] for MULTI-column
    * predicates: each cluster column is linearly scaled to a 16-bit
    * lattice from its (min, max) (one 2·|cols|-value agg job), the bit
    * planes are interleaved into one z-value, and files range-partition
    * by it — so every cluster column is locality-preserved per file and
    * a range predicate on ANY of them skips files by min/max stats,
    * where a 1-D sort serves only its own column. Linear scaling is the
    * standard z-lattice construction (Delta/Iceberg sample range
    * boundaries instead; min/max keeps this deterministic and 2-job).
    * Skew degrades gracefully: the interleave still groups, only
    * lattice occupancy thins — re-cluster with a rank-based lattice if
    * a column is pathological. Numeric columns only (the lattice is
    * arithmetic). */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String], files: Int): Unit = {
    require(cols.size >= 2 && cols.size <= 4,
      s"z-order wants 2-4 columns, got ${cols.size} (1 column → writeClustered)")
    require(files > 0 && files <= 1000000, s"file count out of range: $files")
    val bounds = df.agg(
      min(col(cols.head)).cast("double").as("lo0"),
      cols.zipWithIndex.flatMap { case (c, i) =>
        (if (i == 0) Nil else Seq(min(col(c)).cast("double").as(s"lo$i"))) :+
          max(col(c)).cast("double").as(s"hi$i")
      }: _*).head() // bounded by construction: 2·|cols| doubles
    val lattice = cols.indices.map { i =>
      val lo = bounds.getDouble(bounds.fieldIndex(s"lo$i"))
      val hi = bounds.getDouble(bounds.fieldIndex(s"hi$i"))
      val span = if (hi > lo) hi - lo else 1.0
      least(lit(65535), greatest(lit(0),
        ((col(cols(i)).cast("double") - lo) / span * 65535.0).cast("int")))
    }
    val z = (0 until 16).foldLeft(lit(0L)) { (acc, b) =>
      cols.indices.foldLeft(acc) { (a, ci) =>
        a.bitwiseOR(shiftleft(
          shiftright(lattice(ci), b).bitwiseAND(lit(1)).cast("long"),
          b * cols.size + ci))
      }
    }
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** File-level min/max stats catalog — the tiny metadata table a
    * lakehouse keeps beside a 100 TB dataset so the PLANNER can drop
    * whole files before any task launches (the missing level above
    * parquet's in-file row-group/page skipping; what Delta/Iceberg
    * persist in their manifests). One column-pruned scan over `cols`
    * only; one row per file. Persist it beside the data and refresh on
    * compaction/ingest. */
  def statsCatalog(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "catalog wants at least one column")
    val df = spark.read.parquet(path)
    df.select(input_file_name().as("file") +: cols.map(col): _*)
      .groupBy("file")
      .agg(count(lit(1)).as("rows"),
        cols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)
  }

  /** Catalog-pruned read: keep only files whose [min, max] on `c`
    * overlaps [lo, hi], then scan just those — whole-file skipping from
    * plain parquet + a stats frame, no table format needed. The
    * row-level filter still applies (pruning is a strict optimization,
    * never a semantics change — LayoutSpec pins parity with the full
    * scan). The collect is bounded by the dataset's FILE count: the
    * catalog contract is that metadata is driver-sized; require()d. */
  def readPruned(spark: SparkSession, path: String, catalog: DataFrame,
                 c: String, lo: Any, hi: Any): DataFrame = {
    val keep = catalog
      .filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
      .select("file").collect().map(_.getString(0))
    require(keep.length <= 1000000,
      s"catalog lists ${keep.length} surviving files — not driver-sized metadata")
    if (keep.isEmpty) // schema-correct empty frame: scan pruned to nothing
      spark.read.parquet(path).filter(lit(false))
    else
      spark.read.parquet(keep.toIndexedSeq: _*)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** Schema-evolution read: a long-lived dataset accumulates files
    * written under older schemas (ingest grows a column; history keeps
    * the old footprint). Plain `spark.read.parquet` takes ONE file's
    * footer as the schema and silently drops columns absent there;
    * `mergeSchema` unions every footer and old files read the missing
    * columns as NULL — `unionByName(allowMissingColumns)` (q19's U3) at
    * the storage layer. Cost: one footer read per file at planning —
    * fine beside a stats catalog, pathological at millions of files
    * without one, so it is an explicit entry point rather than a
    * default. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Corrupt-tolerant read: skip files whose footer or pages fail to
    * parse instead of failing the job — the operational posture for a
    * 100 TB ingest directory where a crashed writer leaves truncated
    * files. An EXPLICIT entry point, never a default: silently dropping
    * data is the wrong failure mode for a curated table (use [[compact]]
    * + the stats catalog to quarantine instead); for raw ingest it is
    * the difference between a nightly job that finishes and one a
    * single bad file kills. */
  def readTolerant(spark: SparkSession, path: String): DataFrame =
    spark.read.option("ignoreCorruptFiles", "true").parquet(path)

  final case class UpsertStats(filesTotal: Int, filesRewritten: Int,
                               filesAppended: Int)

  /** Catalog-scoped upsert (MERGE) into a [[writeClustered]] dataset —
    * the table-format write path in miniature: instead of rewriting the
    * corpus to change 0.1% of keys, the per-file min/max catalog scopes
    * the rewrite to the files whose key range the updates touch. Rows
    * whose key exists are REPLACED by the update row; new in-range keys
    * land in their range's rewritten file; keys beyond every range
    * append as a fresh clustered file. Untouched files are not read,
    * not rewritten, not renamed — at 100 TB that is the difference
    * between a metadata-sized commit and a corpus rewrite.
    *
    * Assumes the upsert contract: `keyCol` unique in both the dataset
    * and `updates` (every base row with an updated key is dropped in
    * favor of the update row). The two collects are bounded by the
    * dataset's FILE count (catalog contract), require()d. Not atomic —
    * like [[compact]], a maintenance pass, not a transaction log. */
  def upsertClustered(spark: SparkSession, path: String, updates: DataFrame,
                      keyCol: String): UpsertStats = {
    // MATERIALIZE the catalog before any file is deleted: every later
    // arm must plan against this snapshot, never against a re-scan of a
    // directory we are mid-way through mutating. Driver-sized by the
    // catalog contract, require()d.
    val catFrame = statsCatalog(spark, path, Seq(keyCol))
    val catRows = catFrame.collect()
    require(catRows.length <= 1000000,
      s"${catRows.length} files — catalog is not driver-sized")
    val catalog = spark.createDataFrame(
      java.util.Arrays.asList(catRows: _*), catFrame.schema)
    // range-tag each update row; ranges are disjoint (writeClustered), so
    // ≤1 match per row and a broadcast range join stays 1:≤1
    val tagged = updates.join(
        broadcast(catalog.select(col("file"),
          col(s"min_$keyCol").as("_lo"), col(s"max_$keyCol").as("_hi"))),
        updates(keyCol) >= col("_lo") && updates(keyCol) <= col("_hi"),
        "left_outer")
    val affected = tagged.filter(col("file").isNotNull)
      .select("file").distinct().collect().map(_.getString(0))
    val total = catRows.length
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(conf)

    def moveIn(tmp: String): Int = {
      val t = new org.apache.hadoop.fs.Path(tmp)
      val parts = fs.listStatus(t).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      parts.foreach(p => require(fs.rename(p,
        new org.apache.hadoop.fs.Path(dirPath, p.getName)),
        s"rename $p into $path failed"))
      fs.delete(t, true)
      parts.length
    }

    var rewritten = 0
    if (affected.nonEmpty) {
      val base = spark.read.parquet(affected.toIndexedSeq: _*)
      val merged = base.join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(tagged.filter(col("file").isNotNull)
          .drop("file", "_lo", "_hi"))
      val tmp = path.stripSuffix("/") + "_upsert_tmp"
      merged.repartitionByRange(affected.length, col(keyCol))
        .sortWithinPartitions(keyCol)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      affected.foreach { f =>
        fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(f)), false)
      }
      rewritten = moveIn(tmp)
    }
    var appended = 0
    val fresh = tagged.filter(col("file").isNull).drop("file", "_lo", "_hi")
    if (!fresh.isEmpty) {
      val tmp = path.stripSuffix("/") + "_upsert_new_tmp"
      fresh.repartitionByRange(1, col(keyCol)).sortWithinPartitions(keyCol)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      appended = moveIn(tmp)
    }
    UpsertStats(total, rewritten, appended)
  }

  /** Compact a parquet dataset to ~`targetBytes` files — the maintenance
    * pass every long-lived 100 TB table needs once streaming/incremental
    * ingest has sprayed small files. File count derives from the CURRENT
    * on-disk byte size (not a row guess), floor 1; coalesce (no shuffle)
    * merges read-splits when shrinking, a round-robin repartition only
    * when growing. Returns the file count written. */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 128L << 20): Int = {
    require(targetBytes >= (1L << 20), s"target below 1 MiB: $targetBytes")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val tmp = path.stripSuffix("/") + "_compact_tmp"
    df.coalesce(n).write.mode(SaveMode.Overwrite).parquet(tmp)
    // swap atomically-enough for a maintenance pass: old dir out, tmp in
    val p = new org.apache.hadoop.fs.Path(path)
    val t = new org.apache.hadoop.fs.Path(tmp)
    fs.delete(p, true)
    require(fs.rename(t, p), s"rename $tmp -> $path failed")
    n
  }

  /** S10 directory-listing scan (`pipeline/utils.py:48-54`): file index +
    * `input_file_name`, with the `{dataset}-{subject}` filename parse. */
  def listRecords(spark: SparkSession, dir: String, format: String = "parquet"): DataFrame = {
    val base = spark.read.format(format).load(dir)
      .withColumn("_path", input_file_name())
    val fname = regexp_extract(col("_path"), "([^/]+)$", 1)
    base.withColumn("file_name", fname)
      .withColumn("dataset_from_name", regexp_extract(col("file_name"), "^([^-]+)-", 1))
      .withColumn("subject_from_name", regexp_extract(col("file_name"), "^[^-]+-([^-.]+)", 1))
      .drop("_path")
  }

  /** Stub decode for formats without a pure-JVM codec (compressed DICOM,
    * proprietary raws): deterministic fake (1,1,1,H,W) tensor + pixdim
    * from the byte stream — swap for a real parser without touching
    * callers. NIfTI and uncompressed DICOM use the REAL parsers below. */
  val stubDecodeVolume: UserDefinedFunction =
    udf((content: Array[Byte], h: Int, w: Int) => {
      val data = new Array[Float](h * w)
      var i = 0
      while (i < data.length) {
        var acc = 1125899906842597L ^ (i * 0x9E3779B185EBCA87L)
        val n = math.min(content.length, 32)
        var j = 0
        while (j < n) {
          acc = (acc ^ (content(j) + j * 131L)) * 0x9E3779B185EBCA87L
          j += 1
        }
        acc ^= acc >>> 29
        data(i) = (acc & 0x3ff).toFloat / 4f
        i += 1
      }
      (Seq(1, 1, 1, h, w), data, Seq(1.25f, 1.25f, 8.0f)) // (shape, data, pixdim)
    })

  /** S1/S2 real decode + stub fallback in ONE kernel (evaluated once per
    * row): `.nii`/`.nii.gz` → pure-JVM NIfTI-1 parser, `.dcm` → pure-JVM
    * uncompressed-DICOM parser (loud failure on compressed transfer
    * syntaxes), anything else → the stub. Returns
    * (shape, data, pixdim, affine?). */
  val decodeVolume: UserDefinedFunction =
    udf((path: String, content: Array[Byte], h: Int, w: Int) => {
      if (path != null && (path.endsWith(".nii") || path.endsWith(".nii.gz"))) {
        val v = Nifti.decode(content)
        (v.shape, v.data, v.pixdim, Option(v.affine))
      } else if (path != null && path.endsWith(".dcm")) {
        val sl = Dicom.decode(content)
        val pixdim = (sl.pixelSpacing ++ Seq(1f, 1f)).take(3)
        (Seq(1, 1, 1, sl.rows, sl.cols), sl.data, pixdim,
          Option.empty[Seq[Float]])
      } else {
        val data = new Array[Float](h * w)
        var i = 0
        while (i < data.length) {
          var acc = 1125899906842597L ^ (i * 0x9E3779B185EBCA87L)
          val n = math.min(content.length, 32)
          var j = 0
          while (j < n) {
            acc = (acc ^ (content(j) + j * 131L)) * 0x9E3779B185EBCA87L
            j += 1
          }
          acc ^= acc >>> 29
          data(i) = (acc & 0x3ff).toFloat / 4f
          i += 1
        }
        (Seq(1, 1, 1, h, w), data, Seq(1.25f, 1.25f, 8.0f),
          Option.empty[Seq[Float]])
      }
    })

  /** S1/S2 binary volume scan: `binaryFile` source + decode kernel.
    * `pathGlobFilter` prunes at the file index, `binaryFile` streams
    * content columns lazily; decode is one task per file —
    * embarrassingly parallel. */
  def scanVolumes(spark: SparkSession, dir: String, glob: String, h: Int, w: Int): DataFrame = {
    val dec = decodeVolume(col("path"), col("content"), lit(h), lit(w))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("length"),
        struct(dec("_1").as("shape"), dec("_2").as("data")).as("volume"),
        dec("_3").as("pixdim"), dec("_4").as("affine"))
  }

  /** S2 real DICOM series scan (`setup/reformat/utils.py:132-215`): decode
    * every uncompressed `.dcm` slice, then order slices WITHIN each series
    * by the reference's projection scalar dot(position, cross(o1,o2))
    * descending (instance number and path as tiebreaks) — the same
    * ordering q16 verifies relationally on synthetic keys, here on real
    * headers. The window partitions by series_uid: per-series work, never
    * a global sort. */
  val decodeDicomSlice: UserDefinedFunction =
    udf((content: Array[Byte]) => {
      val sl = Dicom.decode(content)
      val proj =
        if (sl.position.length == 3 && sl.orientation.length == 6)
          Dicom.sliceProjection(sl)
        else sl.instanceNumber.toDouble
      (Seq(1, 1, 1, sl.rows, sl.cols), sl.data,
        (sl.pixelSpacing ++ Seq(1f, 1f)).take(3), sl.seriesUid,
        sl.instanceNumber, proj)
    })

  /** Multi-frame-aware twin of [[decodeDicomSlice]]: one element per
    * frame ((0028,0008) NumberOfFrames), so multi-frame cine files and
    * single-frame series flow through the same scan. */
  val decodeDicomFrames: UserDefinedFunction =
    udf((content: Array[Byte]) => {
      Dicom.decodeFrames(content).map { sl =>
        val proj =
          if (sl.position.length == 3 && sl.orientation.length == 6)
            Dicom.sliceProjection(sl)
          else sl.instanceNumber.toDouble
        (Seq(1, 1, 1, sl.rows, sl.cols), sl.data,
          (sl.pixelSpacing ++ Seq(1f, 1f)).take(3), sl.seriesUid,
          sl.instanceNumber, proj, sl.frameIndex)
      }
    })

  /** [[scanDicomSeries]] for archives that mix single- and multi-frame
    * files: one output row per FRAME, ordered within each series by the
    * projected slice position, then instance, then temporal frame index
    * (the reference's slice-then-time ordering,
    * `setup/reformat/utils.py:196-241`). */
  def scanDicomFrames(spark: SparkSession, dir: String, glob: String = "*.dcm"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series_uid"))
      .orderBy(col("proj").desc, col("instance_number"), col("frame_index"), col("path"))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), explode(decodeDicomFrames(col("content"))).as("f"))
      .select(col("path"),
        struct(col("f._1").as("shape"), col("f._2").as("data")).as("volume"),
        col("f._3").as("pixdim"), col("f._4").as("series_uid"),
        col("f._5").as("instance_number"), col("f._6").as("proj"),
        col("f._7").as("frame_index"))
      .withColumn("slice_index", row_number().over(w))
  }

  def scanDicomSeries(spark: SparkSession, dir: String, glob: String = "*.dcm"): DataFrame = {
    val dec = decodeDicomSlice(col("content"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series_uid"))
      .orderBy(col("proj").desc, col("instance_number"), col("path"))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"),
        struct(dec("_1").as("shape"), dec("_2").as("data")).as("volume"),
        dec("_3").as("pixdim"), dec("_4").as("series_uid"),
        dec("_5").as("instance_number"), dec("_6").as("proj"))
      .withColumn("slice_index", row_number().over(w))
  }

  /** S2 series → volume stacking (`setup/reformat/utils.py:200-215`): the
    * ordered slices of each series concatenate into one (1,D,1,H,W)
    * tensor. sort_array on (slice_index, data) keeps the whole group
    * reduction inside one hash-agg — no window, no per-slice shuffle
    * beyond the series key. */
  def stackDicomSeries(slices: org.apache.spark.sql.DataFrame): DataFrame =
    slices
      .groupBy("series_uid")
      .agg(
        sort_array(collect_list(struct(col("slice_index"), col("volume").as("v"))))
          .as("_s"),
        count(lit(1)).as("n_slices"),
        first(col("pixdim")).as("pixdim"))
      .withColumn("volume", struct(
        concat(
          array(lit(1), col("n_slices").cast("int"), lit(1)),
          slice(element_at(col("_s"), 1)("v")("shape"), 4, 2)).as("shape"),
        flatten(transform(col("_s"), s => s("v")("data"))).as("data")))
      .drop("_s")

  /** S7 NIfTI sink (`setup/reformat/mm1.py:69-70` `nib.save`): one
    * `.nii.gz` per row via the pure-JVM encoder, written from executors
    * through the Hadoop FS API (works on local/HDFS/object stores). */
  def writeNiftiVolumes(df: DataFrame, volCol: String, nameCol: String,
                        outDir: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.select(col(nameCol).cast("string").as("_name"),
        col(s"$volCol.shape").as("_shape"), col(s"$volCol.data").as("_data"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val fs = new org.apache.hadoop.fs.Path(outDir)
          .getFileSystem(conf.value)
        rows.foreach { r =>
          val shape = r.getSeq[Int](1)
          val data = r.getSeq[Float](2).toArray
          val bytes = Nifti.encode(shape, data, Seq(1f, 1f, 1f))
          val p = new org.apache.hadoop.fs.Path(outDir, s"${r.getString(0)}.nii.gz")
          val os = fs.create(p, true)
          try os.write(bytes) finally os.close()
        }
      }
  }

  /** S8 prediction sink: parquet of the prediction column per subject. */
  def writePredictions(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S9 PNG sink (`pipeline/data_predictor.py:363-414`
    * `save_example_slices`): one grayscale PNG per record slice — or a T17
    * class-colored overlay when a label column is given — rendered with
    * the pure-JDK encoder (graft.sources.Png) and written from executors
    * through the Hadoop FS API. Expects exploded (·,·,1,H,W) records. */
  def writePngSlices(df: DataFrame, volCol: String, nameCol: String,
                     outDir: String, labelCol: Option[String] = None): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val cols = Seq(col(nameCol).cast("string").as("_name"),
      col(s"$volCol.shape").as("_shape"), col(s"$volCol.data").as("_data")) ++
      labelCol.map(l => col(s"$l.data").as("_label"))
    df.select(cols: _*)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(conf.value)
        rows.foreach { r =>
          val shape = r.getSeq[Int](1)
          val (h, w) = (shape(3), shape(4))
          val img = r.getSeq[Float](2).toArray
          val bytes =
            if (r.length > 3) Png.overlayPng(img, r.getSeq[Float](3).toArray, h, w)
            else Png.grayPng(img, h, w)
          val p = new org.apache.hadoop.fs.Path(outDir, s"${r.getString(0)}.png")
          val os = fs.create(p, true)
          try os.write(bytes) finally os.close()
        }
      }
  }
}

package graft

import graft.operators.NaturalSort
import graft.pipeline.Reformat
import graft.sources.Sources
import graft.tensor.Tensors
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  test("subjectCsv reads with string SubjectID schema") {
    val dir = Files.createTempDirectory("csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/subjects.csv"),
      "SubjectID,Pathology,Vendor\n007,NOR,A\n042,HCM,B\n")
    val df = Sources.subjectCsv(spark, s"$dir/subjects.csv")
    assert(df.schema("SubjectID").dataType.typeName == "string")
    assert(df.orderBy("SubjectID").collect().map(_.getString(0)).toSeq == Seq("007", "042"))
  }

  test("csv sink round-trips through the csv source") {
    val dir = Files.createTempDirectory("csvout").toString
    val df = spark.range(3).select(
      format_string("%03d", col("id")).as("SubjectID"),
      lit("NOR").as("Pathology"), lit("A").as("Vendor"))
    Sources.writeCsv(df, s"$dir/out")
    val back = Sources.subjectCsv(spark, s"$dir/out")
    assert(back.count() == 3)
    assert(back.orderBy("SubjectID").collect().map(_.getString(0)).toSeq ==
      Seq("000", "001", "002"))
  }

  test("orc sink round-trips values and keeps filters scan-pushed") {
    val dir = Files.createTempDirectory("orcout").toString
    val df = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "n_chars")
    Sources.writeOrc(df, s"$dir/out")
    val back = Sources.readOrc(spark, s"$dir/out")
    assert(back.count() == df.count())
    // value-exact round trip
    assert(back.agg(sum("doc_id"), sum("n_chars")).head ==
      df.agg(sum("doc_id"), sum("n_chars")).head)
    // ORC gives the same pushdown contract as parquet: the range filter
    // must reach the scan, not evaluate post-read
    val plan = back.filter(col("doc_id") < 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(doc_id,10)") ||
      plan.contains("lessThan(doc_id, 10)"), s"ORC filter not pushed:\n$plan")
  }

  test("binary volume scan stub-decodes codec-less formats with glob pruning") {
    val dir = Files.createTempDirectory("vols").toString
    Files.write(java.nio.file.Paths.get(s"$dir/mm1-sub1.raw"), Array[Byte](1, 2, 3, 4, 5))
    Files.write(java.nio.file.Paths.get(s"$dir/mm1-sub2.raw"), Array[Byte](9, 8, 7, 6, 5))
    Files.write(java.nio.file.Paths.get(s"$dir/notes.txt"), Array[Byte](0))
    val v = Sources.scanVolumes(spark, dir, "*.raw", h = 4, w = 4)
    assert(v.count() == 2, "glob must prune the .txt")
    val a = v.orderBy("path").select(col("volume.data")).collect().map(_.getSeq[Float](0))
    val b = Sources.scanVolumes(spark, dir, "*.raw", 4, 4)
      .orderBy("path").select(col("volume.data")).collect().map(_.getSeq[Float](0))
    assert(a.toSeq == b.toSeq)
    assert(a(0) != a(1), "different bytes decode differently")
    assert(v.select(col("pixdim")).head().getSeq[Float](0) == Seq(1.25f, 1.25f, 8.0f))
  }

  test("DICOM codec: round-trip, projection ordering, series scan") {
    import graft.sources.Dicom
    // encode → decode round-trip with geometry
    val px = Array.tabulate(12)(i => (i * 3).toFloat)
    val bytes = Dicom.encode(3, 4, px, position = Seq(0f, 0f, 10f),
      orientation = Seq(1f, 0f, 0f, 0f, 1f, 0f), pixelSpacing = Seq(1.5f, 1.5f),
      seriesUid = "1.2.3.9", instanceNumber = 7)
    val sl = Dicom.decode(bytes)
    assert(sl.rows == 3 && sl.cols == 4)
    assert(sl.data.toSeq == px.toSeq, "uint16 voxels round-trip exactly")
    assert(sl.seriesUid == "1.2.3.9" && sl.instanceNumber == 7)
    assert(sl.pixelSpacing == Seq(1.5f, 1.5f))
    // projection = dot(position, cross(o1,o2)) = z here
    assert(math.abs(Dicom.sliceProjection(sl) - 10.0) < 1e-9)
    // series scan orders slices by projection desc within a series
    val dir = Files.createTempDirectory("dcms").toString
    Seq(5f, 15f, 10f).zipWithIndex.foreach { case (z, i) =>
      Files.write(java.nio.file.Paths.get(s"$dir/s$i.dcm"),
        Dicom.encode(2, 2, Array(z, z, z, z), position = Seq(0f, 0f, z),
          instanceNumber = i + 1))
    }
    val scanned = Sources.scanDicomSeries(spark, dir)
    assert(scanned.count() == 3)
    val ordered = scanned.orderBy("slice_index")
      .select(col("proj"), col("slice_index")).collect()
    assert(ordered.map(_.getDouble(0)).toSeq == Seq(15.0, 10.0, 5.0),
      "slice_index follows projection descending")
    // scanVolumes real-decodes .dcm too
    val vols = Sources.scanVolumes(spark, dir, "*.dcm", 2, 2)
    assert(vols.select(col("volume.data")).collect()
      .map(_.getSeq[Float](0).head).toSet == Set(5f, 15f, 10f))
    // series stacking: ordered slices concatenate into one (1,D,1,H,W)
    val stacked = Sources.stackDicomSeries(scanned).head()
    assert(stacked.getAs[org.apache.spark.sql.Row]("volume").getSeq[Int](0) ==
      Seq(1, 3, 1, 2, 2))
    assert(stacked.getAs[org.apache.spark.sql.Row]("volume").getSeq[Float](1)
      .grouped(4).map(_.head).toSeq == Seq(15f, 10f, 5f),
      "slices stack in projection-descending order")
  }

  test("DICOM PhotometricInterpretation: MONOCHROME1 inverts, color fails by name") {
    import graft.sources.Dicom
    val px = Array.tabulate(12)(i => (i * 1000).toFloat)
    // MONOCHROME1: raw' = (2^BitsStored - 1) - raw, applied identically to
    // every frame (deterministic, not observed-max)
    val m1 = Dicom.decode(Dicom.encode(3, 4, px, photometric = "MONOCHROME1"))
    assert(m1.data.toSeq == px.map(65535f - _).toSeq,
      "MONOCHROME1 inverts within the stored-bit range")
    // explicit MONOCHROME2 and absent photometric both pass through
    val m2 = Dicom.decode(Dicom.encode(3, 4, px, photometric = "MONOCHROME2"))
    assert(m2.data.toSeq == px.toSeq)
    // multi-frame cine: same inversion constant on every frame
    val frames = Seq(Array.fill(4)(100f), Array.fill(4)(60000f))
    val cine = Dicom.decodeFrames(
      Dicom.encodeFrames(2, 2, frames, photometric = "MONOCHROME1"))
    assert(cine.map(_.data.head).toSeq == Seq(65435f, 5535f))
    // PALETTE COLOR without its LUT tags fails loudly (r8: WITH the tags
    // it decodes — next test); unknown values fail by name
    val pal = intercept[IllegalArgumentException] {
      Dicom.decode(Dicom.encode(3, 4, px, photometric = "PALETTE COLOR"))
    }
    assert(pal.getMessage.contains("PALETTE COLOR"))
    val unk = intercept[IllegalArgumentException] {
      Dicom.decode(Dicom.encode(3, 4, px, photometric = "YBR_ICT"))
    }
    assert(unk.getMessage.contains("YBR_ICT"))
    // color photometrics are only meaningful on the JPEG-baseline path
    val rgb = intercept[IllegalArgumentException] {
      Dicom.decode(Dicom.encode(3, 4, px, photometric = "RGB"))
    }
    assert(rgb.getMessage.contains("RGB") && rgb.getMessage.contains("JPEG"))
  }

  test("DICOM PALETTE COLOR: LUTs expand to BT.601 grayscale, indices clamp") {
    import graft.sources.Dicom
    // 4-entry LUTs with distinct per-channel ramps, firstMapped = 10
    val red = Array(1000, 2000, 3000, 4000)
    val green = Array(500, 600, 700, 800)
    val blue = Array(10, 20, 30, 40)
    def luma(i: Int): Float =
      0.299f * red(i) + 0.587f * green(i) + 0.114f * blue(i)
    // indices: below firstMapped (clamps to entry 0), the four mapped
    // values, above range (clamps to the last entry)
    val idx = Array(0, 10, 11, 12, 13, 200, 10, 13)
    val s = Dicom.decode(Dicom.encodePalette(2, 4, idx, red, green, blue,
      firstMapped = 10))
    assert(s.data.toSeq == Seq(luma(0), luma(0), luma(1), luma(2), luma(3),
      luma(3), luma(0), luma(3)))
    // identity grayscale palette: 8-bit ramp maps index → gray(index)
    val ramp = Array.tabulate(256)(i => i)
    val idx2 = Array(0, 7, 255, 128)
    val s2 = Dicom.decode(Dicom.encodePalette(2, 2, idx2, ramp, ramp, ramp))
    assert(s2.data.toSeq == idx2.map(i => 0.299f * i + 0.587f * i + 0.114f * i).toSeq)
    // 8-bit LUT entries (two packed per OW word, odd count padded)
    val lut8 = Array(10, 20, 30, 40, 50)
    val s3 = Dicom.decode(Dicom.encodePalette(2, 2, Array(0, 2, 4, 9),
      lut8, lut8, lut8, lutBits = 8))
    assert(s3.data.toSeq == Seq(10, 30, 50, 50).map(v =>
      0.299f * v + 0.587f * v + 0.114f * v))
  }

  test("DICOM multi-frame cine: uncompressed and JPEG 2000 frames round-trip") {
    import graft.sources.Dicom
    val rng = new scala.util.Random(31)
    val rows = 9; val cols = 11
    val frames = IndexedSeq.fill(4)(Array.fill(rows * cols)(rng.nextInt(1 << 16).toFloat))
    // uncompressed: frames strided out of one PixelData value
    val raw = Dicom.encodeFrames(rows, cols, frames, seriesUid = "3.1.4")
    val rawSlices = Dicom.decodeFrames(raw)
    assert(rawSlices.map(_.frameIndex) == IndexedSeq(0, 1, 2, 3))
    assert(rawSlices.forall(s => s.rows == rows && s.seriesUid == "3.1.4"))
    for (fi <- frames.indices)
      assert(rawSlices(fi).data.toSeq == frames(fi).toSeq, s"raw frame $fi")
    // encapsulated: one J2K codestream fragment per frame
    val j2k = Dicom.encodeJpeg2000Frames(rows, cols, frames)
    val j2kSlices = Dicom.decodeFrames(j2k)
    assert(j2kSlices.length == 4)
    for (fi <- frames.indices)
      assert(j2kSlices(fi).data.toSeq == frames(fi).toSeq, s"j2k frame $fi")
    // single-frame decode() refuses multi-frame input loudly
    val e = intercept[IllegalArgumentException](Dicom.decode(raw))
    assert(e.getMessage.contains("decodeFrames"))
    // single-frame files keep working through both paths
    assert(Dicom.decodeFrames(Dicom.encode(rows, cols, frames.head)).length == 1)
    // Spark scan surfaces one row per frame, ordered slice-then-time:
    // one 4-frame cine at z=10 plus one single-frame slice at z=20
    val dir = java.nio.file.Files.createTempDirectory("cine").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/cine.dcm"),
      Dicom.encodeFrames(rows, cols, frames, position = Seq(0f, 0f, 10f),
        instanceNumber = 2))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/top.dcm"),
      Dicom.encode(rows, cols, frames.head, position = Seq(0f, 0f, 20f),
        instanceNumber = 1))
    val scanned = graft.sources.Sources.scanDicomFrames(spark, dir)
    assert(scanned.count() == 5)
    val ordered = scanned.orderBy("slice_index")
      .select("proj", "frame_index").collect()
    assert(ordered.map(_.getDouble(0)).toSeq == Seq(20.0, 10.0, 10.0, 10.0, 10.0),
      "projection-descending across files")
    assert(ordered.map(_.getInt(1)).toSeq == Seq(0, 0, 1, 2, 3),
      "temporal frame order within the cine")
  }

  test("DICOM RLE Lossless: PS3.5 annex G round-trips bit-exactly") {
    import graft.sources.Dicom
    // long runs + literal noise + >128 runs: exercises replicate packets,
    // literal packets, and the 128-byte packet-length cap in one image
    val rows = 20; val cols = 20
    val rnd = new scala.util.Random(42)
    val px = Array.tabulate(rows * cols) { i =>
      if (i < 150) 1000f // run > 128 on both byte planes
      else if (i < 300) (i % 7 * 331).toFloat // literal-ish noise
      else 0f
    }
    val bytes = Dicom.encodeRle(rows, cols, px,
      position = Seq(0f, 0f, 5f), seriesUid = "1.2.3.5", instanceNumber = 3)
    val sl = Dicom.decode(bytes)
    assert(sl.rows == rows && sl.cols == cols)
    assert(sl.seriesUid == "1.2.3.5" && sl.instanceNumber == 3)
    assert(sl.data.toSeq == px.toSeq, "RLE is lossless — bit-exact round-trip")
    // random 16-bit data (worst case for PackBits: mostly literals)
    val rand = Array.fill(33 * 17)(rnd.nextInt(0x10000).toFloat)
    assert(Dicom.decode(Dicom.encodeRle(33, 17, rand)).data.toSeq == rand.toSeq)
    // constant image (best case: pure replicate packets)
    val flat = Array.fill(64)(777f)
    assert(Dicom.decode(Dicom.encodeRle(8, 8, flat)).data.toSeq == flat.toSeq)
  }

  test("DICOM JPEG-LS Lossless: T.87 codec round-trips bit-exactly") {
    import graft.sources.Dicom
    val rows = 24; val cols = 18
    val rnd = new scala.util.Random(9)
    // realistic CT-ish content: smooth ramp + noise + flat air region (runs)
    val px = Array.tabulate(rows * cols) { i =>
      if (i % cols < 4) 0f else (1000 + (i % cols) * 40 + rnd.nextInt(30)).toFloat
    }
    val bytes = Dicom.encodeJpegLs(rows, cols, px,
      position = Seq(0f, 0f, 7f), seriesUid = "1.2.3.80", instanceNumber = 4)
    val sl = Dicom.decode(bytes)
    assert(sl.rows == rows && sl.cols == cols)
    assert(sl.seriesUid == "1.2.3.80" && sl.instanceNumber == 4)
    assert(sl.data.toSeq == px.toSeq, "JPEG-LS is lossless — bit-exact round-trip")
    // full 16-bit random payload
    val rand = Array.fill(10 * 11)(rnd.nextInt(0x10000).toFloat)
    assert(Dicom.decode(Dicom.encodeJpegLs(10, 11, rand)).data.toSeq == rand.toSeq)
  }

  test("DICOM JPEG-baseline: encapsulated fragments decode via ImageIO") {
    import graft.sources.Dicom
    // smooth gradient: JPEG is lossy, so assert proximity, not equality
    val rows = 16; val cols = 16
    val px = Array.tabulate(rows * cols)(i => (40 + (i % cols) * 8).toFloat)
    val bytes = Dicom.encodeJpegBaseline(rows, cols, px,
      position = Seq(0f, 0f, 3f), seriesUid = "1.2.3.50", instanceNumber = 2)
    val sl = Dicom.decode(bytes)
    assert(sl.rows == rows && sl.cols == cols)
    assert(sl.seriesUid == "1.2.3.50" && sl.instanceNumber == 2)
    val maxErr = sl.data.zip(px).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr <= 8f, s"JPEG round-trip drifted $maxErr (> 8 gray levels)")
    // a flat image survives DCT exactly
    val flat = Array.fill(64)(128f)
    assert(Dicom.decode(Dicom.encodeJpegBaseline(8, 8, flat)).data.toSeq == flat.toSeq)
    // out-of-scope encapsulated syntaxes still fail loudly by name
    // (.4.90 AND .4.91 now decode via the T.800 codec — Jpeg2000Spec —
    // so the loud-failure probe uses retired JPEG Lossless, .4.70)
    val other = bytes.clone()
    val needle = "1.2.840.10008.1.2.4.50".getBytes("US-ASCII")
    val at = bytes.indexOfSlice(needle)
    "1.2.840.10008.1.2.4.70".getBytes("US-ASCII").zipWithIndex
      .foreach { case (b, i) => other(at + i) = b }
    val e = intercept[IllegalArgumentException](Dicom.decode(other))
    assert(e.getMessage.contains("4.70") && e.getMessage.contains("transcode"))
  }

  test("NIfTI-1 codec: header fields + voxel round-trip, both endiannesses of scl") {
    import graft.sources.Nifti
    // float32 .nii.gz round-trip through encode → decode
    val shape = Seq(2, 3, 1, 4, 5) // (T,D,C,H,W)
    val data = Array.tabulate(2 * 3 * 4 * 5)(i => i * 0.5f - 7f)
    val affine = Seq(1.25f, 0f, 0f, -10f, 0f, 1.25f, 0f, -20f, 0f, 0f, 8f, -30f)
    val bytes = Nifti.encode(shape, data, Seq(1.25f, 1.25f, 8f), affine)
    val v = Nifti.decode(bytes)
    assert(v.shape == shape)
    assert(v.pixdim == Seq(1.25f, 1.25f, 8f))
    assert(v.affine == affine)
    assert(v.data.toSeq == data.toSeq, "float32 voxels must round-trip exactly")
    // uncompressed .nii decodes identically
    val plain = Nifti.decode(Nifti.encode(shape, data, Seq(1.25f, 1.25f, 8f), affine, gzip = false))
    assert(plain.data.toSeq == data.toSeq)
    // int16 with scl_slope/inter applies nibabel-style scaling
    val bb = java.nio.ByteBuffer.allocate(352 + 2 * 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0, 348)
    bb.putShort(40, 3.toShort)
    bb.putShort(42, 3.toShort); bb.putShort(44, 2.toShort); bb.putShort(46, 1.toShort)
    bb.putShort(48, 1.toShort); bb.putShort(50, 1.toShort)
    bb.putShort(70, 4.toShort) // int16
    bb.putShort(72, 16.toShort)
    bb.putFloat(80, 1f); bb.putFloat(84, 1f); bb.putFloat(88, 1f)
    bb.putFloat(108, 352f)
    bb.putFloat(112, 2f); bb.putFloat(116, -1f) // slope 2, inter -1
    bb.put(344, 'n'.toByte); bb.put(345, '+'.toByte); bb.put(346, '1'.toByte)
    (0 until 6).foreach(i => bb.putShort(352 + 2 * i, (i + 1).toShort))
    val scaled = Nifti.decode(bb.array())
    assert(scaled.shape == Seq(1, 1, 1, 2, 3))
    assert(scaled.data.toSeq == Seq(1f, 3f, 5f, 7f, 9f, 11f), "v*2-1 scaling")
    // big-endian header is sniffed from sizeof_hdr and decodes identically
    val be = java.nio.ByteBuffer.allocate(352 + 4 * 4)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    be.putInt(0, 348)
    be.putShort(40, 2.toShort)
    be.putShort(42, 2.toShort); be.putShort(44, 2.toShort); be.putShort(46, 1.toShort)
    be.putShort(48, 1.toShort)
    be.putShort(70, 16.toShort) // float32
    be.putShort(72, 32.toShort)
    be.putFloat(80, 2f); be.putFloat(84, 2f); be.putFloat(88, 2f)
    be.putFloat(108, 352f)
    be.put(344, 'n'.toByte); be.put(345, '+'.toByte); be.put(346, '1'.toByte)
    (0 until 4).foreach(i => be.putFloat(352 + 4 * i, i * 1.5f))
    val bev = Nifti.decode(be.array())
    assert(bev.shape == Seq(1, 1, 1, 2, 2))
    assert(bev.data.toSeq == Seq(0f, 1.5f, 3f, 4.5f))
    assert(bev.pixdim == Seq(2f, 2f, 2f))
  }

  test("scanVolumes real-decodes .nii.gz and NIfTI sink writes readable files") {
    import graft.sources.Nifti
    val dir = Files.createTempDirectory("niis").toString
    val data = Array.tabulate(4 * 4)(_.toFloat)
    Files.write(java.nio.file.Paths.get(s"$dir/mm1-subj7.nii.gz"),
      Nifti.encode(Seq(1, 1, 1, 4, 4), data, Seq(1.25f, 1.25f, 8f)))
    val v = Sources.scanVolumes(spark, dir, "*.nii.gz", h = 4, w = 4)
    val r = v.head()
    assert(r.getAs[org.apache.spark.sql.Row]("volume").getSeq[Int](0) == Seq(1, 1, 1, 4, 4))
    assert(r.getAs[org.apache.spark.sql.Row]("volume").getSeq[Float](1) == data.toSeq)
    assert(r.getSeq[Float](3) == Seq(1.25f, 1.25f, 8f), "real pixdim from header")
    assert(r.getSeq[Float](4).nonEmpty, "affine present for NIfTI")
    // S7 sink: write through the engine and read back with the scan
    val outDir = Files.createTempDirectory("niiout").toString
    Sources.writeNiftiVolumes(v.withColumn("name", lit("roundtrip")), "volume", "name", outDir)
    val back = Sources.scanVolumes(spark, outDir, "*.nii.gz", 4, 4).head()
    assert(back.getAs[org.apache.spark.sql.Row]("volume").getSeq[Float](1) == data.toSeq)
  }

  test("PNG sink renders grayscale and class overlay readable by imageio") {
    import graft.sources.Png
    // direct codec: 2x2 ramp normalizes to 0..255
    val gray = Png.grayPng(Array(0f, 1f, 2f, 3f), 2, 2)
    val gimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gray))
    assert(gimg.getWidth == 2 && gimg.getHeight == 2)
    assert((gimg.getRGB(0, 0) & 0xff) == 0 && (gimg.getRGB(1, 1) & 0xff) == 255)
    // overlay: class-1 pixel gains the red palette hue, class-0 stays gray
    val over = Png.overlayPng(Array(0f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), 2, 2)
    val oimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(over))
    val colored = oimg.getRGB(1, 0)
    assert(((colored >> 16) & 0xff) > ((colored >> 8) & 0xff), "class 1 blends red")
    assert((oimg.getRGB(0, 0) & 0xffffff) == 0, "class 0 stays grayscale")
    // S9 sink end-to-end through the Spark writer
    val outDir = Files.createTempDirectory("pngs").toString
    val df = spark.range(2).select(
      concat(lit("slice"), col("id")).as("name"),
      Tensors.tensor(typedLit(Seq(1, 1, 1, 2, 2)),
        typedLit(Seq(0f, 1f, 2f, 3f))).as("image"))
    Sources.writePngSlices(df, "image", "name", outDir)
    val f0 = javax.imageio.ImageIO.read(new java.io.File(s"$outDir/slice0.png"))
    assert(f0.getWidth == 2 && f0.getHeight == 2)
  }

  test("prediction sink round-trips the inverse-warped prediction records (S8)") {
    import graft.pipeline.Predictor
    // a served-shaped frame: identity affine + a (1,1,2,2,2) prediction
    val df = spark.range(2).select(
      concat(lit("s"), col("id")).as("subject_id"),
      typedLit(Seq(1.0, 0.0, 0.0, 0.0, 1.0, 0.0)).as("_affine"),
      graft.tensor.Tensors.tensor(typedLit(Seq(1, 1, 2, 2, 2)),
        transform(sequence(lit(1), lit(8)), i => (i + col("id") * 10).cast("float")))
        .as("prediction"))
    val inverted = Predictor.invertPredictions(df, 2, 2)
    val dir = Files.createTempDirectory("preds").toString
    Sources.writePredictions(inverted, s"$dir/preds")
    val back = spark.read.parquet(s"$dir/preds")
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("subject_id", "_affine", "prediction"))
    // identity affine → inverse warp is the identity; buffers survive the
    // parquet round-trip bit-exactly
    val r = back.filter(col("subject_id") === "s0")
      .select(col("prediction.data")).head().getSeq[Float](0)
    assert(r == (1 to 8).map(_.toFloat))
  }

  test("JSONL source/sink: round-trip, corrupt-line quarantine, strict mode") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val dir = Files.createTempDirectory("jsonl").toString
    // sink: write a corpus shard, read it back typed
    val out = spark.range(5).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"))
    Sources.writeJsonl(out, s"$dir/shard")
    val back = Sources.readJsonl(spark, s"$dir/shard", schema).cache()
    assert(back.filter(col("_corrupt_record").isNotNull).count() == 0)
    assert(back.count() == 5)
    assert(back.filter(col("doc_id") === 3).select("text").head().getString(0) == "doc 3")
    // a crawl shard with malformed lines: quarantine-and-count posture
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/dirty.jsonl"),
      ("""{"doc_id": 1, "text": "ok"}""" + "\n" +
        """{"doc_id": oops not json""" + "\n" +
        """{"doc_id": 2, "text": "also ok"}""" + "\n").getBytes("UTF-8"))
    // Spark disallows queries touching ONLY _corrupt_record on a raw
    // scan — cache first (the documented posture in readJsonl)
    val dirty = Sources.readJsonl(spark, s"$dir/dirty.jsonl", schema).cache()
    assert(dirty.count() == 3)
    assert(dirty.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(dirty.filter(col("_corrupt_record").isNull).count() == 2)
    // fail-fast posture for curated inputs
    intercept[org.apache.spark.SparkException] {
      Sources.readJsonl(spark, s"$dir/dirty.jsonl", schema, strict = true).count()
    }
  }

  test("listRecords parses dataset-subject from filenames") {
    val dir = Files.createTempDirectory("recs").toString
    spark.range(2).select(col("id")).write.parquet(s"$dir/mm1-subjA.parquet")
    val df = Sources.listRecords(spark, s"$dir/mm1-subjA.parquet")
    val r = df.head()
    assert(r.getAs[String]("dataset_from_name").nonEmpty)
  }

  test("natKey orders file2 before file10 and handles multi-run names") {
    val df = spark.createDataFrame(Seq(
      Tuple1("img10_f2"), Tuple1("img2_f10"), Tuple1("img2_f2"), Tuple1("x"), Tuple1("img10_f10")
    )).toDF("name")
    val sorted = df.orderBy(NaturalSort.natKey(col("name"))).collect().map(_.getString(0)).toSeq
    assert(sorted == Seq("img2_f2", "img2_f10", "img10_f2", "img10_f10", "x"))
  }

  /** frames fixture: subject × 4 frames, foreground volume peaks at frame 1,
    * dips at frame 3. */
  private def frames = {
    val mk = (fg: Int) => typedLit((0 until 4).map(i => if (i < fg) 1f else 0f))
    spark.range(2).select(concat(lit("s"), col("id")).as("subject"))
      .crossJoin(spark.range(4).select(col("id").cast("int").as("frame_nr")))
      .withColumn("label", Tensors.tensor(typedLit(Seq(1, 1, 1, 2, 2)),
        when(col("frame_nr") === 1, mk(4))
          .when(col("frame_nr") === 3, mk(1))
          .otherwise(mk(2))))
  }

  test("detectEdEs finds max/min foreground frames") {
    val out = Reformat.detectEdEs(frames, "subject", "label").orderBy("subject").collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Int]("ed_frame") == 1 && r.getAs[Long]("ed_volume") == 4)
      assert(r.getAs[Int]("es_frame") == 3 && r.getAs[Long]("es_volume") == 1)
    }
  }

  test("stackEdEs builds a 2-frame tensor per subject") {
    val edEs = Reformat.detectEdEs(frames, "subject", "label")
    val stacked = Reformat.stackEdEs(frames, "subject", "label", edEs)
    val r = stacked.orderBy("subject").head()
    assert(r.getAs[org.apache.spark.sql.Row]("stacked").getSeq[Int](0) == Seq(2, 1, 1, 2, 2))
    val data = r.getAs[org.apache.spark.sql.Row]("stacked").getSeq[Float](1)
    assert(data == Seq(1f, 1f, 1f, 1f, 1f, 0f, 0f, 0f), "ED block then ES block")
  }

  test("findFrameIndex: a duplicated frame gives the minimum frame_nr; an " +
    "unmatched probe gives no row") {
    // frames 0 and 2 carry the same buffer, so s0's probe (frame 2's
    // content) must report frame 0; frame 1 is unique
    def find(probe: org.apache.spark.sql.DataFrame): Seq[(String, Int)] =
      Reformat.findFrameIndex(frames, "subject", "label", probe, "probe")
        .orderBy("subject").collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    val probes = frames
      .filter((col("subject") === "s0" && col("frame_nr") === 2) ||
        (col("subject") === "s1" && col("frame_nr") === 1))
      .select(col("subject"), col("label").as("probe"))
    assert(find(probes) == Seq("s0" -> 0, "s1" -> 1))
    // three foreground pixels: no frame holds this buffer
    val unmatched = spark.range(1).select(lit("s0").as("subject"),
      Tensors.tensor(typedLit(Seq(1, 1, 1, 2, 2)), typedLit(Seq(1f, 1f, 1f, 0f))).as("probe"))
    assert(find(unmatched).isEmpty)
  }

  test("zoomsFromAffine recovers voxel spacing") {
    val affine = typedLit(Seq(2.0f, 0f, 0f, 0f, 3.0f, 0f, 0f, 0f, 8.0f))
    val z = spark.range(1).select(Reformat.zoomsFromAffine(affine).as("z"))
      .head().getSeq[Double](0)
    assert(z.map(v => math.round(v * 1e9) / 1e9) == Seq(2.0, 3.0, 8.0))
  }
}

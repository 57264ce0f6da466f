package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Config layer (S4): the YAML config is the "logical plan" of the whole
  * pipeline (`demo/data-config.yaml:1-131`, `utils.py:122-129`). Parsed on
  * the driver into typed case classes that TransformPlanner compiles into a
  * DataFrame chain — mirroring `build_transform`'s conditional assembly
  * (`pipeline/transforms/compose.py:26-234`).
  */
final case class AugmentConfig(
    enabled: Boolean = false,
    maxRotationDeg: Double = 30.0,
    rotationProb: Double = 0.5,
    scaleRange: (Double, Double) = (0.8, 1.2),
    scaleProb: Double = 0.5,
    flipProb: Double = 0.5,
    maxShift: Double = 5.0,
    shiftProb: Double = 0.5,
    noiseSigma: Double = 0.0,
    blurSigma: Double = 0.0,
    solarizeThreshold: Double = 0.0,
    solarizeProb: Double = 0.0)

final case class NormalizeConfig(
    mode: String = "standardize", // standardize | normalize | none
    referenceLevel: String = "current", // current | saved  (intensity.py reference_level)
    clamp: Option[(Double, Double)] = None)

final case class GraftConfig(
    datasetNames: Seq[String],
    keyPairs: Map[String, String], // image key -> label key ("none" => absent)
    dimensionality: String = "2D", // 2D | 3D
    specialMode: Option[String] = None, // ed_only | es_only
    targetSize: (Int, Int) = (256, 256),
    nrClasses: Int = 4,
    oneHot: Boolean = false,
    copies: Int = 0, // CopySamplesd n
    augment: AugmentConfig = AugmentConfig(),
    normalize: NormalizeConfig = NormalizeConfig(),
    testPerGroup: Int = 15,
    splitGroupCol: String = "vendor",
    validFraction: Double = 0.2,
    seed: Long = 1234L,
    batchSize: Int = 32,
    dropLast: Boolean = true)

object GraftConfig {

  /** Parse the YAML file (snakeyaml ships with Spark's jars). Unknown keys
    * are ignored; missing keys take defaults — reproducing the reference's
    * `allow_missing_keys` tolerance at the config level. */
  def fromYaml(path: String): GraftConfig = fromMap(loadYaml(path))

  /** The YAML file's root map (empty for an empty file) — the one loader
    * of config files. SafeConstructor: only plain maps/lists/scalars are
    * consumed, and the default constructor would instantiate arbitrary
    * Java classes from YAML tags (an RCE vector for attacker-influenced
    * config files). */
  def loadYaml(path: String): Map[String, Object] = {
    val yaml = new org.yaml.snakeyaml.Yaml(
      new org.yaml.snakeyaml.constructor.SafeConstructor(
        new org.yaml.snakeyaml.LoaderOptions()))
    Option(yaml.load[java.util.Map[String, Object]](
      Files.readString(Paths.get(path))))
      .map(_.asScala.toMap).getOrElse(Map.empty[String, Object])
  }

  def fromMap(m: Map[String, Object]): GraftConfig = {
    def section(k: String): Map[String, Object] = m.get(k) match {
      case Some(sub: java.util.Map[_, _]) =>
        sub.asInstanceOf[java.util.Map[String, Object]].asScala.toMap
      case _ => Map.empty
    }
    def str(s: Map[String, Object], k: String, dflt: String): String =
      s.get(k).map(_.toString).getOrElse(dflt)
    def num(s: Map[String, Object], k: String, dflt: Double): Double =
      s.get(k).map(_.toString.toDouble).getOrElse(dflt)
    def intOf(s: Map[String, Object], k: String, dflt: Int): Int =
      num(s, k, dflt.toDouble).toInt
    def boolOf(s: Map[String, Object], k: String, dflt: Boolean): Boolean =
      s.get(k).map(_.toString.toBoolean).getOrElse(dflt)

    val dataset = section("dataset")
    val cache = section("cache")
    val aug = section("augmentation")
    val norm = section("normalize")
    val split = section("split")
    val loader = section("dataloader")

    val names = dataset.get("names") match {
      case Some(l: java.util.List[_]) => l.asScala.map(_.toString).toSeq
      case _ => Seq("default")
    }
    val pairs = dataset.get("key_pairs") match {
      case Some(kp: java.util.Map[_, _]) =>
        kp.asInstanceOf[java.util.Map[String, Object]].asScala
          .map { case (k, v) => k -> String.valueOf(v) }.toMap
      case _ => Map("image" -> "label")
    }
    val ts = cache.get("target_size") match {
      case Some(l: java.util.List[_]) =>
        val xs = l.asScala.map(_.toString.toInt)
        (xs.head, xs(1))
      case _ => (256, 256)
    }
    GraftConfig(
      datasetNames = names,
      keyPairs = pairs,
      dimensionality = str(cache, "dimensionality", "2D"),
      specialMode = cache.get("special_mode").map(_.toString).filter(s => s != "none" && s.nonEmpty),
      targetSize = ts,
      nrClasses = intOf(cache, "nr_classes", 4),
      oneHot = boolOf(cache, "one_hot", dflt = false),
      copies = intOf(aug, "copies", 0),
      augment = AugmentConfig(
        enabled = boolOf(aug, "enabled", dflt = false),
        maxRotationDeg = num(aug, "max_rotation", 30.0),
        rotationProb = num(aug, "rotation_prob", 0.5),
        scaleRange = (num(aug, "scale_min", 0.8), num(aug, "scale_max", 1.2)),
        scaleProb = num(aug, "scale_prob", 0.5),
        flipProb = num(aug, "flip_prob", 0.5),
        maxShift = num(aug, "max_shift", 5.0),
        shiftProb = num(aug, "shift_prob", 0.5),
        noiseSigma = num(aug, "noise_sigma", 0.0),
        blurSigma = num(aug, "blur_sigma", 0.0),
        solarizeThreshold = num(aug, "solarize_threshold", 0.0),
        solarizeProb = num(aug, "solarize_prob", 0.0)),
      normalize = NormalizeConfig(
        mode = str(norm, "mode", "standardize"),
        referenceLevel = str(norm, "reference_level", "current"),
        clamp = norm.get("clamp_min").map(lo =>
          (lo.toString.toDouble, num(norm, "clamp_max", 3.0)))),
      testPerGroup = intOf(split, "test_per_group", 15),
      splitGroupCol = str(split, "group_col", "vendor"),
      validFraction = num(split, "valid_fraction", 0.2),
      seed = num(split, "seed", 1234).toLong,
      batchSize = intOf(loader, "batch_size", 32),
      dropLast = boolOf(loader, "drop_last", dflt = true))
  }

  /** Canonical string of the config for cache fingerprinting (F5) —
    * deterministic field order. */
  def canonical(c: GraftConfig): String = {
    val kp = c.keyPairs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
    Seq(
      s"datasets=${c.datasetNames.sorted.mkString("+")}",
      s"key_pairs=$kp",
      s"dim=${c.dimensionality}",
      s"special=${c.specialMode.getOrElse("none")}",
      s"target=${c.targetSize._1}x${c.targetSize._2}",
      s"classes=${c.nrClasses}", s"onehot=${c.oneHot}",
      s"norm=${c.normalize.mode}/${c.normalize.referenceLevel}/${c.normalize.clamp.getOrElse("none")}"
    ).mkString(";")
  }
}

package graft.serving

import graft.common.JsonIO
import graft.ml.ChurnTrainer
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serving path (reference M4-M7, the `services/api/app` tree minus HTTP):
  * model bundle save/load with required-metadata checks and an
  * approved-model pointer, an in-memory feature store built from the
  * latest-features export, and single-customer scoring with the
  * feature-version gate.
  */
object Scorer {

  final case class FeatureRecord(
      customerId: String, featureVersion: String,
      features: Map[String, Double])

  /** M5: latest-features export → Map lookup store (the reference loads
    * the export into a pandas dict at API start,
    * `local_latest_features.py:29-92`). One bounded collect at startup —
    * the export is one row per customer.
    */
  def loadFeatureStore(spark: SparkSession,
      latestFeaturesPath: String): Map[String, FeatureRecord] = {
    val cols = ChurnTrainer.FeatureCols
    spark.read.parquet(latestFeaturesPath)
      .select((Seq("customer_id", "_feature_version") ++ cols).map(col): _*)
      .collect().map { r =>
        val feats = cols.zipWithIndex.map { case (c, i) =>
          c -> r.get(i + 2).toString.toDouble
        }.toMap
        r.getString(0) -> FeatureRecord(r.getString(0), r.getString(1), feats)
      }.toMap
  }

  /** M7: model bundle = Spark-ML native save + JSON metadata sidecar. */
  def saveBundle(model: PipelineModel, dir: String, modelVersion: String,
      featureVersion: String, metrics: Map[String, Double]): Unit = {
    model.write.overwrite().save(s"$dir/model")
    JsonIO.write(s"$dir/model_meta.json",
      Map("model_version" -> modelVersion,
        "feature_version" -> featureVersion,
        "feature_cols" -> ChurnTrainer.FeatureCols.mkString(",")) ++
        metrics.map { case (k, v) => s"metric_$k" -> v })
  }

  /** Approved-model pointer (`train_stub.py:254-276` /
    * `model_loader.py:34-64`): loading refuses a bundle whose version
    * doesn't match the approval file.
    */
  def approve(dir: String, modelVersion: String): Unit =
    JsonIO.write(s"$dir/approved_model_version.json",
      Map("approved_model_version" -> modelVersion))

  /** In-process scorer: the scaler + logistic-regression arithmetic
    * extracted from the Spark-ML pipeline at bundle-load time, so each
    * request is a few dozen flops on the serving thread — no Spark job,
    * no driver scheduling, no collect (the reference serves the same way:
    * `model_loader.py:89-99` scores in-process). The arithmetic mirrors
    * Spark ML exactly — `(x - mean) * (1/std)` with zero-variance
    * features scaled to 0, sequential dot + intercept, logistic link —
    * so probabilities match `ChurnTrainer.score` to float-fold order
    * (ServingSpec asserts 1e-12 parity for every store customer).
    */
  final case class LinearScorer(mean: Array[Double], std: Array[Double],
      coef: Array[Double], intercept: Double) {
    require(mean.length == std.length && std.length == coef.length,
      s"scorer shape mismatch: mean=${mean.length} std=${std.length} " +
        s"coef=${coef.length}")
    def probability(x: Array[Double]): Double = {
      var dot = 0.0
      var i = 0
      while (i < coef.length) {
        val scaled =
          if (std(i) != 0.0) (x(i) - mean(i)) * (1.0 / std(i)) else 0.0
        dot += coef(i) * scaled
        i += 1
      }
      val margin = dot + intercept
      1.0 / (1.0 + math.exp(-margin))
    }
  }

  final case class Bundle(model: PipelineModel, modelVersion: String,
      featureVersion: String, scorer: LinearScorer)

  /** Pull scaler means/stds + LR coefficients out of the fitted pipeline
    * (stage layout is ChurnTrainer's: assembler → scaler → logreg; found
    * by type so an extra stage upstream can't silently misalign).
    */
  private[serving] def extractLinearScorer(
      model: PipelineModel): LinearScorer = {
    val scaler = model.stages.collectFirst {
      case s: org.apache.spark.ml.feature.StandardScalerModel => s
    }.getOrElse(throw new IllegalStateException(
      "bundle pipeline has no StandardScaler stage"))
    val lr = model.stages.collectFirst {
      case m: org.apache.spark.ml.classification.LogisticRegressionModel => m
    }.getOrElse(throw new IllegalStateException(
      "bundle pipeline has no LogisticRegression stage"))
    require(lr.numClasses == 2,
      s"expected binary logistic regression, got ${lr.numClasses} classes")
    LinearScorer(scaler.mean.toArray, scaler.std.toArray,
      lr.coefficients.toArray, lr.intercept)
  }

  def loadBundle(spark: SparkSession, dir: String): Bundle = {
    val meta = readFlatJson(s"$dir/model_meta.json")
    val required = Seq("model_version", "feature_version", "feature_cols")
    val missing = required.filterNot(meta.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(s"model bundle missing keys: $missing")
    val approved = readFlatJson(s"$dir/approved_model_version.json")
      .getOrElse("approved_model_version",
        throw new IllegalStateException("no approved model pointer"))
    if (approved != meta("model_version"))
      throw new IllegalStateException(
        s"model ${meta("model_version")} is not the approved version $approved")
    val model = PipelineModel.load(s"$dir/model")
    Bundle(model, meta("model_version"), meta("feature_version"),
      extractLinearScorer(model))
  }

  final case class Prediction(customerId: String, probability: Double,
      label: Int, modelVersion: String, featureVersion: String)

  /** M4+M6: score one customer from the store, gated on feature-version
    * equality (`predict.py:97-106`: mismatch → unavailable, not a wrong
    * answer). Pure in-process arithmetic — a request never schedules a
    * Spark job (the Spark path survives as [[predictViaSparkJob]], the
    * parity oracle).
    */
  def predict(bundle: Bundle, store: Map[String, FeatureRecord],
      customerId: String): Option[Prediction] = {
    val rec = store.getOrElse(customerId, return None)
    if (rec.featureVersion != bundle.featureVersion)
      throw new IllegalStateException(
        s"serving features ${rec.featureVersion} != model's ${bundle.featureVersion}")
    val x = new Array[Double](ChurnTrainer.FeatureCols.length)
    var i = 0
    ChurnTrainer.FeatureCols.foreach { c => x(i) = rec.features(c); i += 1 }
    val p = bundle.scorer.probability(x)
    Some(Prediction(customerId, p, if (p >= 0.5) 1 else 0,
      bundle.modelVersion, bundle.featureVersion))
  }

  /** The old Spark-job-per-request path, kept as the parity check for the
    * in-process scorer (ServingSpec runs both and asserts equality; never
    * on the serving hot path).
    */
  private[graft] def predictViaSparkJob(spark: SparkSession, bundle: Bundle,
      store: Map[String, FeatureRecord],
      customerId: String): Option[Prediction] = {
    val rec = store.getOrElse(customerId, return None)
    if (rec.featureVersion != bundle.featureVersion)
      throw new IllegalStateException(
        s"serving features ${rec.featureVersion} != model's ${bundle.featureVersion}")
    // row layout derived from FeatureCols, never duplicated by hand — a
    // reordered/extended feature list must not silently shift values
    // under the wrong column names
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("customer_id",
        org.apache.spark.sql.types.StringType) +:
        ChurnTrainer.FeatureCols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.DoubleType)))
    val row = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row.fromSeq(
        customerId +: ChurnTrainer.FeatureCols.map(rec.features))),
      schema)
    val p = ChurnTrainer.score(bundle.model, row).collect()(0).getDouble(1)
    Some(Prediction(customerId, p, if (p >= 0.5) 1 else 0,
      bundle.modelVersion, bundle.featureVersion))
  }

  /** Tiny flat-JSON reader for the sidecars this module writes. */
  private[serving] def readFlatJson(path: String): Map[String, String] =
    parseFlatJson(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  private val FlatPair =
    """"((?:[^"\\]|\\.)*)"\s*:\s*(?:"((?:[^"\\]|\\.)*)"|([-0-9.eE+]+|true|false))""".r

  /** Flat JSON-object parser for the sidecars this module writes (same
    * shape as JsonIO.render emits). It scans for key/value pairs at any
    * depth, so it is no validator: request bodies go through
    * [[graft.common.Json]].
    */
  private[graft] def parseFlatJson(txt: String): Map[String, String] =
    FlatPair.findAllMatchIn(txt).map { m =>
      val k = unescape(m.group(1))
      val v = if (m.group(2) != null) unescape(m.group(2)) else m.group(3)
      k -> v
    }.toMap

  /** Inverse of JsonIO.escape — values must round-trip, not accumulate
    * literal backslash sequences.
    */
  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case c => sb.append(c); i += 2
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
}

package graft.pipeline

import graft.common.Versioning
import graft.dq._
import graft.tables.ParquetTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end churn pipeline over the versioned table layer — the Scala
  * re-expression of the reference's stage mains (SURVEY.md §0 flow):
  * raw parquet → bronze → silver (DQ-gated MERGE) → gold features +
  * labels per as_of date (MERGE) → training snapshot (MERGE) →
  * latest-features export (overwrite).
  *
  * Stages stay independently callable (crash-restart between any two) and
  * communicate only through tables, preserving the reference's
  * idempotency model: every publish is a keyed merge into a fresh
  * pointer-swapped version.
  */
final class ChurnPipeline(spark: SparkSession, warehouse: String,
    expectationsPath: Option[String] = None) {

  val bronzeRoot = s"$warehouse/bronze_orders"
  val auditRoot = s"$warehouse/bronze_audit"
  val silverRoot = s"$warehouse/silver_orders"
  val goldRoot = s"$warehouse/gold_customer_features_daily"
  val labelsRoot = s"$warehouse/customer_labels_daily"
  val snapshotRoot = s"$warehouse/training_snapshot"
  val latestFeaturesPath = s"$warehouse/latest_features_export"

  // merge-target handles declare their merge keys as stats columns, so
  // every write records per-file key ranges and every merge's touched-file
  // discovery skips files outside the source's key bounds (Delta-style
  // data skipping; see ParquetTable)
  private def silverTable =
    ParquetTable(spark, silverRoot, Seq("order_id"))
  private def goldTable =
    ParquetTable(spark, goldRoot, Seq("customer_id", "as_of_date"))
  private def labelsTable =
    ParquetTable(spark, labelsRoot, Seq("customer_id", "as_of_date"))
  private def snapshotTable =
    ParquetTable(spark, snapshotRoot,
      Seq("customer_id", "as_of_date", "_data_snapshot_id"))

  def silverSchemaVersion: String =
    Versioning.stableHash(Map(
      "contract" -> "silver/orders", "version" -> "1",
      "allowed_statuses" -> Silver.AllowedStatuses.mkString(",")))

  /** The feature version IS the gold contract's identity hash — the
    * trainer re-hashes the contract ARTIFACT (`--feature_contract`) and
    * refuses a snapshot stamped with any other version
    * (`train_stub.py:154-165`).
    */
  def featureVersion: String =
    graft.contracts.Contracts.goldCustomerFeaturesDaily.identityHash

  def ingestBronze(inputPath: String, runId: String): Bronze.IngestResult =
    staged("bronze", runId) {
      Bronze.ingest(spark, inputPath, bronzeRoot, auditRoot, runId)
    }

  private def logEvent(stage: String, runId: String, status: String,
      extra: Map[String, Any] = Map.empty): Unit =
    StageEvents.logEvent(warehouse, stage, runId, status, extra)

  /** Uniform stage event envelope — see [[StageEvents]] (shared with
    * the corpus stages).
    */
  private def staged[A](stage: String, runId: String,
      extra: Map[String, Any] = Map.empty)(body: => A): A =
    StageEvents.staged(warehouse, stage, runId, extra)(body)

  /** Silver publish with the reference's DQ gate
    * (`orders_bronze_to_silver.py:129-196`): critical failures block the
    * merge; invalid/duplicate rejects land in bounded quarantine parquet
    * and the DQ report is written as a JSON sidecar.
    */
  def publishSilver(runId: String): DataFrame = staged("silver", runId) {
    val bronze = ParquetTable(spark, bronzeRoot).read
    // every normalized row classified once (kept / invalid / duplicate)
    // and persisted: the DQ aggregate, the quarantine and failed-check
    // samples and the merge are all filters of it, released on return
    val classified = Silver.classify(bronze).persist()
    try {
    val r = Silver.split(classified)
    val out = Silver.stamp(r.deduped, silverSchemaVersion, runId)

    // checks come from the expectations FILE when one is configured
    // (reference `data/expectations/silver/orders.yml` — config, not
    // code); the built-in list below is its exact in-code equivalent
    val checks = expectationsPath.map(DqConfig.load(_).checks).getOrElse(Seq(
      NotNull(Seq("order_id", "customer_id", "order_purchase_ts")),
      UniqueKey(Seq("order_id")),
      InSet("order_status", Silver.AllowedStatuses)))
    // one aggregate over every classified row: the checks over the kept
    // rows, plus the invalid and duplicate counts the quarantine needs
    def is(c: String) = col(Silver.ClassCol) === c
    val report = DqRunner.run(
      Silver.stamp(classified, silverSchemaVersion, runId), checks,
      rows = is(Silver.Kept),
      extra = Seq(Silver.Invalid, Silver.Duplicate).map(c =>
        count(when(is(c), lit(1)))))

    // quarantine: bounded samples of the rejected rows, written only
    // for a class that has any, like the reference
    Seq("invalid" -> r.invalid, "duplicates" -> r.duplicateRejects)
      .zip(report.extra).foreach { case ((kind, df), n) =>
        if (n > 0)
          df.limit(100).write.mode("overwrite")
            .parquet(s"$warehouse/quarantine/silver_$kind")
      }

    // per-check failed-row samples (reference dq.py:101-118: a <=100-row
    // parquet sample per failing check — the first thing an operator
    // debugging a DQ failure reaches for); written BEFORE the gate throws
    // so a blocked publish still leaves its evidence behind
    val samplePaths = checks.zip(report.results).collect {
      case (check, res) if !res.passed =>
        val path = s"$warehouse/quarantine/silver_dq_${res.checkName}"
        DqRunner.failedSample(out, check)
          .write.mode("overwrite").parquet(path)
        res.checkName -> path
    }
    graft.common.JsonIO.write(s"$warehouse/_meta/silver_dq_report.json",
      Map("run_id" -> runId, "passed" -> report.passed) ++
        report.results.map(r => s"failed_${r.checkName}" -> r.failedCount) ++
        samplePaths.map { case (n, p) => s"sample_$n" -> p })
    if (!report.passed)
      throw new IllegalStateException(
        s"silver DQ gate failed: ${report.criticalFailures}")

    graft.contracts.Contracts.silverOrders.enforce(out)
    silverTable.merge(out, keys = Seq("order_id"))
    // hand back the just-merged TABLE, not the (about to be unpersisted)
    // logical plan: any caller action reads parquet instead of re-running
    // the normalize/dedupe DAG
    ParquetTable(spark, silverRoot).read
    } finally classified.unpersist()
  }

  def publishGold(asOfDate: String, runId: String): DataFrame =
      staged("gold", runId, Map("as_of_date" -> asOfDate)) {
    val silver = ParquetTable(spark, silverRoot).read
    val snapshotId = Versioning.stableHash(s"$asOfDate|$featureVersion")
    // the quality aggregate (which also counts the rows for the sidecar)
    // and the merge write reuse one materialization of the feature plan
    val gold = Gold.buildFeatureSnapshot(
      silver, asOfDate, snapshotId, featureVersion, runId).persist()
    try {
      val quality = Gold.assertQuality(gold)
      graft.contracts.Contracts.goldCustomerFeaturesDaily.enforce(gold)
      goldTable
        .merge(gold, keys = Seq("customer_id", "as_of_date"))
      graft.common.JsonIO.write(
        s"$warehouse/_meta/gold_snapshot_$asOfDate.json",
        Map("run_id" -> runId, "as_of_date" -> asOfDate,
          "snapshot_id" -> snapshotId, "feature_version" -> featureVersion,
          "row_count" -> quality.rowCount))
      // materialized snapshot slice, not the unpersisted plan
      ParquetTable(spark, goldRoot).read
        .filter(col("as_of_date") === to_date(lit(asOfDate)))
    } finally gold.unpersist()
  }

  /** Incremental gold publish: rebuild features ONLY for customers
    * touched by newer silver rows, merge them over the standing snapshot.
    * The reference recomputes the full snapshot per as_of; at 100 TB a
    * daily batch touches a small fraction of customers, and restricting
    * the point-in-time aggregation to the affected key set turns a
    * full-table shuffle into one proportional to the day's activity.
    * Results are identical to the full rebuild (same deterministic
    * aggregation over each customer's complete history — proved in
    * PipelineSpec).
    *
    * @param changedSince only customers with silver activity at or after
    *                     this timestamp are recomputed
    */
  def publishGoldIncremental(asOfDate: String, runId: String,
      changedSince: String): DataFrame =
      staged("gold_incremental", runId,
        Map("as_of_date" -> asOfDate, "changed_since" -> changedSince)) {
    val silver = ParquetTable(spark, silverRoot).read
    val affected = silver
      .filter(col("_silver_ts") >= to_timestamp(lit(changedSince)) ||
        col("order_purchase_ts") >= to_timestamp(lit(changedSince)))
      .select("customer_id").distinct()
    // full history, but only for affected customers (left-semi prune
    // BEFORE the aggregation — the whole win)
    val scoped = silver.join(affected, Seq("customer_id"), "left_semi")
    val snapshotId = Versioning.stableHash(s"$asOfDate|$featureVersion")
    val gold = Gold.buildFeatureSnapshot(
      scoped, asOfDate, snapshotId, featureVersion, runId).persist()
    try {
      Gold.assertQuality(gold)
      graft.contracts.Contracts.goldCustomerFeaturesDaily.enforce(gold)
      goldTable
        .merge(gold, keys = Seq("customer_id", "as_of_date"))
      ParquetTable(spark, goldRoot).read
        .filter(col("as_of_date") === to_date(lit(asOfDate)))
    } finally gold.unpersist()
  }

  /** Labels publish + metadata sidecar (reference `labels.py:82-112`:
    * as_of, horizon, label version, row/positive/negative counts).
    */
  def publishLabels(asOfDate: String, runId: String,
      horizonDays: Int = Labels.DefaultHorizonDays): DataFrame =
      staged("labels", runId, Map("as_of_date" -> asOfDate)) {
    val silver = ParquetTable(spark, silverRoot).read
    Labels.assertEligible(silver, asOfDate, horizonDays)
    val labels = Labels.buildLabels(silver, asOfDate, horizonDays, runId)
      .persist()
    try {
      labelsTable
        .merge(labels, keys = Seq("customer_id", "as_of_date"))
      val counts = labels.agg(
        count(lit(1)), sum(col("churn_label")).cast("long")).collect()(0)
      val rows = counts.getLong(0)
      val positives = if (counts.isNullAt(1)) 0L else counts.getLong(1)
      graft.common.JsonIO.write(s"$warehouse/_meta/labels_$asOfDate.json",
        Map("as_of_date" -> asOfDate,
          "label_horizon_days" -> horizonDays,
          "label_version" -> Labels.labelPolicyVersion(horizonDays),
          "labels_run_id" -> runId,
          "row_count" -> rows,
          "positive_rows" -> positives,
          "negative_rows" -> (rows - positives)))
      labels
    } finally labels.unpersist()
  }

  /** Training-snapshot publish + metadata sidecar (reference
    * `build_training_snapshot.py:82-110`: snapshot id, row count, as-of
    * range, feature/label versions, payload schema hash).
    */
  def publishTrainingSnapshot(runId: String): DataFrame =
      staged("training_snapshot", runId) {
    val gold = ParquetTable(spark, goldRoot).read
    val labels = ParquetTable(spark, labelsRoot).read
    val snap = TrainingSnapshot.build(gold, labels, runId).persist()
    try {
      snapshotTable
        .merge(snap, keys = Seq("customer_id", "as_of_date", "_data_snapshot_id"))
      val stats = snap.agg(count(lit(1)),
        min(col("as_of_date")).cast("string"),
        max(col("as_of_date")).cast("string"),
        first(col("_data_snapshot_id")),
        first(col("_feature_version")),
        first(col("_label_version"))).collect()(0)
      graft.common.JsonIO.write(s"$warehouse/_meta/training_snapshot.json",
        Map("data_snapshot_id" -> stats.getString(3),
          "row_count" -> stats.getLong(0),
          "as_of_date_min" -> stats.getString(1),
          "as_of_date_max" -> stats.getString(2),
          "feature_version" -> stats.getString(4),
          "label_version" -> stats.getString(5),
          "payload_schema_hash" -> Versioning.stableHash(snap.schema.json)))
      snap
    } finally snap.unpersist()
  }

  /** Latest features per customer for serving (reference
    * `build_latest_features.py:112-142`, W2 pattern): plain parquet
    * overwrite export + manifest sidecar (`build_latest_features.py:
    * 62-86`: path, row count, as-of max, feature versions, run id).
    */
  def exportLatestFeatures(runId: String = "adhoc"): DataFrame =
      staged("latest_features", runId) {
    val gold = ParquetTable(spark, goldRoot).read
    val w = Window.partitionBy("customer_id").orderBy(
      col("as_of_date").desc, col("_gold_ts").desc_nulls_last,
      col("_snapshot_id").desc_nulls_last)
    val latest = gold.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    latest.write.mode("overwrite").parquet(latestFeaturesPath)
    // read back under the schema just written: no inference job
    val exported = spark.read.schema(latest.schema).parquet(latestFeaturesPath)
    val stats = exported.agg(count(lit(1)),
      max(col("as_of_date")).cast("string"),
      concat_ws(",", sort_array(collect_set(col("_feature_version")))))
      .collect()(0)
    graft.common.JsonIO.write(
      s"$warehouse/_meta/latest_features_manifest.json",
      Map("latest_features_path" -> latestFeaturesPath,
        "row_count" -> stats.getLong(0),
        "as_of_date_max" -> stats.getString(1),
        "feature_versions" -> stats.getString(2),
        "run_id" -> runId))
    exported
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold point-in-time customer feature snapshot (reference
  * `src/features/customer_features_daily.py:110-212`).
  *
  * Re-architected Spark-first: the reference builds FIVE aggregation
  * branches (stats, 30d, 90d, gaps, distinct customers) and joins them
  * back on customer_id — four extra shuffles. Here the 30/90-day counts
  * become conditional aggregates and the lag-window shares the groupBy's
  * hash partitioning, so the whole feature vector needs ONE exchange on
  * customer_id. Results are identical (proved by the reference's own
  * golden values in GoldFeaturesSpec and the DuckDB oracle on q24).
  */
object Gold {

  /** Build the feature snapshot for one as_of date. Expects silver columns
    * (customer_id, order_id, order_purchase_ts).
    */
  def buildFeatureSnapshot(silver: DataFrame, asOfDate: String,
      snapshotId: String, featureVersion: String, runId: String): DataFrame = {
    val asOf = to_date(lit(asOfDate))
    val orders = silver
      .select(col("customer_id"), col("order_id"), col("order_purchase_ts"))
      .withColumn("order_date", to_date(col("order_purchase_ts")))
      .filter(col("order_date") <= asOf) // P4: never read past as_of

    // lag window and groupBy share the customer_id hash partitioning →
    // Catalyst plans a single exchange for the whole feature vector
    val w = Window.partitionBy("customer_id")
      .orderBy(col("order_purchase_ts").asc, col("order_id").asc)

    orders
      .withColumn("gap_days",
        datediff(to_date(col("order_purchase_ts")),
          to_date(lag("order_purchase_ts", 1).over(w))))
      .groupBy("customer_id")
      .agg(
        datediff(asOf, max(col("order_date"))).as("recency_days"),
        countDistinct(when(col("order_date") >= date_sub(asOf, 29),
          col("order_id"))).cast("long").as("orders_30d"),
        countDistinct(when(col("order_date") >= date_sub(asOf, 89),
          col("order_id"))).cast("long").as("orders_90d"),
        countDistinct(col("order_id")).cast("long").as("lifetime_orders"),
        datediff(asOf, min(col("order_date"))).as("customer_tenure_days"),
        coalesce(avg(col("gap_days")).cast("double"), lit(0.0))
          .as("avg_days_between_orders"))
      .withColumn("as_of_date", asOf)
      .withColumn("_snapshot_id", lit(snapshotId))
      .withColumn("_feature_version", lit(featureVersion))
      .withColumn("_gold_run_id", lit(runId))
      .withColumn("_gold_ts", current_timestamp())
      .select("customer_id", "as_of_date", "recency_days", "orders_30d",
        "orders_90d", "lifetime_orders", "customer_tenure_days",
        "avg_days_between_orders", "_snapshot_id", "_feature_version",
        "_gold_run_id", "_gold_ts")
  }

  /** Quality gate (`customer_features_daily.py:30-80`): nulls, duplicate
    * keys, negative ranges, cross-column ordering. Throws on violation;
    * else returns the report, whose `rowCount` counts the snapshot's rows.
    */
  def assertQuality(df: DataFrame): graft.dq.DqReport = {
    import graft.dq._
    val report = DqRunner.run(df, Seq(
      NotNull(Seq("customer_id", "as_of_date", "recency_days", "orders_30d",
        "orders_90d", "lifetime_orders", "customer_tenure_days",
        "avg_days_between_orders")),
      UniqueKey(Seq("customer_id", "as_of_date")),
      Predicate("negative_ranges",
        col("recency_days") < 0 || col("orders_30d") < 0 ||
          col("orders_90d") < 0 || col("customer_tenure_days") < 0 ||
          col("avg_days_between_orders") < 0.0 ||
          col("lifetime_orders") < 1),
      Predicate("ordering_violations",
        col("orders_30d") > col("orders_90d") ||
          col("orders_90d") > col("lifetime_orders") ||
          col("recency_days") > col("customer_tenure_days"))))
    if (!report.passed)
      throw new IllegalStateException(
        s"gold quality gate failed: ${report.criticalFailures}")
    report
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver normalization + dedupe (reference
  * `src/transformations/orders_bronze_to_silver.py:44-90`): canonical ids,
  * timestamp parse, status canonicalization, invalid/clean split, and
  * keep-latest-per-order_id dedupe with a total tie-break chain.
  *
  * Scale: the only shuffle is the dedupe window's hash partition on
  * order_id; the invalid/clean split is two predicates over one scan
  * (Catalyst shares it), and the window's per-partition sort is bounded by
  * per-key duplicate counts.
  */
object Silver {

  val AllowedStatuses: Seq[String] = Seq(
    "approved", "canceled", "created", "delivered",
    "invoiced", "processing", "shipped", "unavailable")

  /** Status canonicalization (`orders_bronze_to_silver.py:22-28`). */
  def normalizeStatus(c: Column): Column = {
    val raw = lower(trim(c))
    when(raw === "cancelled", lit("canceled"))
      .when(raw === "shipment_pending", lit("processing"))
      .otherwise(raw)
  }

  final case class NormalizeResult(
      deduped: DataFrame, invalid: DataFrame, duplicateRejects: DataFrame)

  /** P1 projection + P2/P3 split + W1 dedupe. Column contract matches the
    * reference's silver layer exactly.
    */
  def normalizeAndDedupe(bronze: DataFrame,
      allowedStatuses: Seq[String] = AllowedStatuses): NormalizeResult = {
    val normalized = bronze.select(
      lower(trim(col("order_id"))).as("order_id"),
      lower(trim(col("customer_id"))).as("customer_id"),
      // under ANSI, to_timestamp throws on an unparseable value; the null
      // try_to_timestamp returns routes the row to the invalid rows
      try_to_timestamp(trim(col("order_purchase_timestamp")),
        lit("yyyy-MM-dd HH:mm:ss")).as("order_purchase_ts"),
      normalizeStatus(col("order_status")).as("order_status"),
      col("run_id").as("_bronze_run_id"),
      col("ingest_ts").as("_bronze_ingest_ts"),
      col("source_file").as("_bronze_source_file"),
      col("source_fingerprint").as("_bronze_source_fingerprint"),
      col("schema_hash").as("_bronze_schema_hash"))

    val invalid = normalized.filter(
      col("order_id").isNull || col("customer_id").isNull ||
        col("order_purchase_ts").isNull || col("order_status").isNull ||
        !col("order_status").isin(allowedStatuses: _*))

    val clean = normalized.filter(
      col("order_id").isNotNull && col("customer_id").isNotNull &&
        col("order_purchase_ts").isNotNull && col("order_status").isNotNull &&
        col("order_status").isin(allowedStatuses: _*))

    // keep-latest with a TOTAL tie-break chain — byte-stable reruns
    // (SURVEY.md §4.3 determinism discipline)
    val w = Window.partitionBy("order_id").orderBy(
      col("order_purchase_ts").desc_nulls_last,
      col("_bronze_ingest_ts").desc_nulls_last,
      col("_bronze_source_file").desc_nulls_last,
      col("_bronze_run_id").desc_nulls_last)
    val ranked = clean.withColumn("_row_num", row_number().over(w))

    NormalizeResult(
      deduped = ranked.filter(col("_row_num") === 1).drop("_row_num"),
      invalid = invalid,
      duplicateRejects = ranked.filter(col("_row_num") > 1).drop("_row_num"))
  }

  /** Lineage stamps for the publish (`orders_bronze_to_silver.py:145-160`). */
  def stamp(df: DataFrame, schemaVersion: String, runId: String): DataFrame =
    df.withColumn("_schema_version", lit(schemaVersion))
      .withColumn("_silver_run_id", lit(runId))
      .withColumn("_silver_ts", current_timestamp())
}

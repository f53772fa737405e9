package graft.pipeline

import graft.common.Versioning
import graft.tables.{ParquetFooters, ParquetTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze ingest (reference `src/ingestion/orders_to_bronze.py`):
  * schema-validated append-only evidence log with per-row lineage stamps,
  * a source fingerprint, and an audit-log idempotency gate (re-ingesting
  * an identical batch is a no-op).
  */
object Bronze {

  /** The raw orders contract (`orders_to_bronze.py:13-22`): all strings. */
  val SourceSchema: Seq[(String, String)] = Seq(
    "order_id" -> "string", "customer_id" -> "string",
    "order_status" -> "string", "order_purchase_timestamp" -> "string",
    "order_approved_at" -> "string",
    "order_delivered_carrier_date" -> "string",
    "order_delivered_customer_date" -> "string",
    "order_estimated_delivery_date" -> "string")

  def schemaHash: String = Versioning.schemaHash(SourceSchema)

  /** Name+type exact validation of the inferred raw schema
    * (`orders_to_bronze.py:45-60`).
    */
  def validateSchema(df: DataFrame): Unit = {
    val actual = df.schema.fields.map(f =>
      f.name -> f.dataType.typeName).toSeq
    val expected = SourceSchema
    if (actual.sortBy(_._1) != expected.sortBy(_._1))
      throw new IllegalArgumentException(
        s"raw schema mismatch: expected $expected, got $actual")
  }

  /** Deterministic fingerprint of the input file set: sorted
    * (path, size) — the storage-agnostic core of
    * `orders_to_bronze.py:79-101`.
    */
  def fingerprint(files: Seq[(String, Long)]): String =
    Versioning.stableHash(
      files.sortBy(_._1).map { case (p, s) => s"$p:$s" }.mkString("|"))

  final case class IngestResult(
      skipped: Boolean, rowCount: Long, fingerprint: String, version: Option[Long])

  /** Idempotent ingest: validate, fingerprint, skip if the audit log has a
    * successful ingest of the same fingerprint, else stamp lineage columns
    * and append partitioned by ingest_date.
    */
  def ingest(spark: SparkSession, inputPath: String, tableRoot: String,
      auditRoot: String, runId: String): IngestResult = {
    val raw = spark.read.parquet(inputPath)
    validateSchema(raw)
    val paths = raw.inputFiles.toSeq.map(f =>
      java.nio.file.Paths.get(new java.net.URI(f).getPath))
    val files = paths.map(p => (p.toString, java.nio.file.Files.size(p)))
    val fp = fingerprint(files)
    val audit = ParquetTable(spark, auditRoot)
    val table = ParquetTable(spark, tableRoot)

    val auditSaysDone = audit.exists && audit.read
      .filter(col("dataset") === "orders" &&
        col("source_fingerprint") === fp && col("status") === "success")
      .limit(1).count() > 0

    if (auditSaysDone) {
      appendAudit(spark, audit, runId, fp, "skipped_already_ingested", 0L,
        files.size)
      return IngestResult(skipped = true, 0L, fp, None)
    }

    // Crash-safety: the data append commits BEFORE the success audit row,
    // so a crash between the two leaves committed bronze rows with no
    // audit record. The data table itself is the source of truth — if any
    // committed version already carries this fingerprint, the batch is in;
    // heal the audit log with the success row the crash lost and skip.
    // (Normal reruns never reach this scan: the audit fast path above
    // answers first.)
    if (table.exists) {
      val committedRows = table.read
        .filter(col("source_fingerprint") === fp).count()
      if (committedRows > 0) {
        appendAudit(spark, audit, runId, fp, "success", committedRows,
          files.size)
        return IngestResult(skipped = true, 0L, fp, None)
      }
    }

    // the raw files' footers count their rows: no Spark job
    val conf = spark.sparkContext.hadoopConfiguration
    val rowCount = paths.map(p =>
      ParquetFooters.rowCount(ParquetFooters.read(p, conf))).sum
    val stamped = raw
      .withColumn("run_id", lit(runId))
      .withColumn("ingest_ts", current_timestamp())
      .withColumn("ingest_date", to_date(current_timestamp()))
      .withColumn("source_file", input_file_name())
      .withColumn("source_fingerprint", lit(fp))
      .withColumn("row_count", lit(rowCount))
      .withColumn("schema_hash", lit(schemaHash))

    val v = table.append(stamped, partitionBy = Seq("ingest_date"))
    appendAudit(spark, audit, runId, fp, "success", rowCount, files.size)
    IngestResult(skipped = false, rowCount, fp, Some(v))
  }

  private def appendAudit(spark: SparkSession, audit: ParquetTable,
      runId: String, fp: String, status: String, rowCount: Long,
      fileCount: Int): Unit = {
    import spark.implicits._
    val row = Seq((
      "orders", runId, fp, status, rowCount, fileCount,
      new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("dataset", "run_id", "source_fingerprint", "status",
        "row_count", "source_file_count", "ingest_ts")
    audit.append(row)
  }
}

package churnbench

import graft.ml.ChurnTrainer
import graft.pipeline.ChurnPipeline
import graft.serving.Scorer
import graft.tables.ParquetTable
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** A warehouse driven through the program's public pipeline calls, fed
  * from generated raw batches that it writes as parquet files first.
  */
final class Lake(spark: SparkSession, root: String, val tracer: Tracer) {
  val warehouse = s"$root/warehouse"
  val bundleDir = s"$root/bundle"
  val pipeline = new ChurnPipeline(spark, warehouse)

  /** Raw batch paths ingested so far, in order. */
  val fed = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Writes one batch as a raw parquet file under the lake's root. */
  def land(batch: Batch, name: String): String = {
    val path = s"$root/raw/$name"
    Lake.writeRaw(spark, batch, path)
    path
  }

  private def ingest(path: String, runId: String): Unit = {
    val r = tracer.span("pipeline.bronze")(pipeline.ingestBronze(path, runId))
    if (!r.skipped) fed += path
  }

  /** Backfill: one batch through bronze and silver, gold and labels for
    * `asOf`, and the export, so that the first daily refresh merges into
    * standing tables.
    */
  def backfill(batch: Batch, asOf: LocalDate): Unit = {
    val path = land(batch, "backfill")
    tracer.span("backfill", "backfill") {
      ingest(path, "backfill")
      tracer.span("pipeline.silver")(pipeline.publishSilver("backfill"))
      publishAsOf(asOf)
      tracer.span("pipeline.export")(pipeline.exportLatestFeatures("backfill"))
    }
  }

  /** Gold and labels for one as-of date, as training needs them. */
  def publishAsOf(d: LocalDate): Unit = {
    tracer.span("pipeline.gold")(pipeline.publishGold(d.toString, s"as-of-$d"))
    tracer.span("pipeline.labels")(
      pipeline.publishLabels(d.toString, s"as-of-$d"))
  }

  /** One daily refresh. Returns the seconds from the raw batch being on
    * disk until the five calls have committed.
    */
  def refreshDay(batch: Batch): Double = {
    val day = batch.day
    val runId = s"day-$day"
    val path = land(batch, runId)
    val t0 = System.nanoTime()
    tracer.span("day", runId) {
      ingest(path, runId)
      tracer.span("pipeline.silver")(pipeline.publishSilver(runId))
      tracer.span("pipeline.gold")(pipeline.publishGold(day.toString, runId))
      tracer.span("pipeline.labels")(pipeline.publishLabels(
        day.minusDays(Reckon.HorizonDays.toLong).toString, runId))
      tracer.span("pipeline.export")(pipeline.exportLatestFeatures(runId))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Snapshot, train, save and approve a bundle. */
  def retrain(): ChurnTrainer.TrainResult =
    tracer.span("retrain", "retrain") {
      tracer.span("pipeline.snapshot")(
        pipeline.publishTrainingSnapshot("retrain"))
      // trains on the standing snapshot table, as the program's train
      // stage does
      val snap = ParquetTable(spark, pipeline.snapshotRoot).read
      val result = tracer.span("ml.train")(ChurnTrainer.train(snap,
        expectedFeatureVersion = Some(pipeline.featureVersion)))
      tracer.span("serving.save_bundle") {
        Scorer.saveBundle(result.model, bundleDir, result.modelVersion,
          pipeline.featureVersion, result.metrics)
        Scorer.approve(bundleDir, result.modelVersion)
      }
      result
    }

  def rawBytes: Long = fed.map(p => parquetBytes(Paths.get(p))).sum

  def warehouseBytes: Long = Lake.bytesUnder(Paths.get(warehouse))

  private def parquetBytes(dir: Path): Long =
    Files.list(dir).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
}

object Lake {
  private val RawSchema = StructType(Seq("order_id", "customer_id",
    "order_status", "order_purchase_timestamp", "order_approved_at",
    "order_delivered_carrier_date", "order_delivered_customer_date",
    "order_estimated_delivery_date").map(StructField(_, StringType)))

  /** One batch as a single parquet file in the raw orders contract. */
  def writeRaw(spark: SparkSession, batch: Batch, path: String): Unit = {
    val rows = batch.rows.map(r => Row(r.orderId, r.customerId, r.status,
      r.purchaseTs, null, null, null, r.estimatedDelivery))
    spark.createDataFrame(rows.asJava, RawSchema).coalesce(1)
      .write.parquet(path)
  }

  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
}

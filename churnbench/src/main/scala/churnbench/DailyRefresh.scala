package churnbench

import graft.tables.ParquetTable
import java.nio.file.Paths
import java.time.{LocalDate, LocalDateTime}
import scala.util.chaining._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** daily_refresh: a backfilled lake takes one raw batch a day. An
  * operation is one day's five pipeline calls, timed from the batch being
  * on disk until the export has committed; each day also retries the
  * silver publish of [[DirtyProbe]], which fails every time. Traced runs
  * also publish gold and labels for a second month-end, retrain once and
  * read every table once, all after the timed days.
  */
object DailyRefresh {
  val Config = GenConfig(customers = 3000, start = LocalDate.of(2024, 1, 1),
    backfillDays = 120, timedDays = 30)
  val RoundDays = 2
  /** Validation ROC-AUC the planted churn makes reachable on every seed:
    * a model that learned nothing reads 0.5, give or take the validation
    * split's standard error of about 0.015, and the planted churn gives
    * 0.64 and more (see README.md).
    */
  val AucFloor = 0.55

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val batches = Gen.generate(Config, ctx.seed)
    val lake = new Lake(spark, ctx.root, ctx.tracer)
    val monthEnds = Config.backfillAsOfs
    lake.backfill(batches.head, monthEnds.head)
    val probe = new DirtyProbe(spark, ctx.root)
    val setup = ctx.sinceLaunch
    ctx.log("set-up done")
    val bytesAfterBackfill = lake.warehouseBytes

    // whole rounds of RoundDays days while the run's seconds last, at
    // least one: a day's cost grows with the commits before it, so runs
    // of one length time the same days; two days are steadier than one
    val start = System.nanoTime()
    val days = batches.tail.grouped(RoundDays).filter(_.size == RoundDays)
      .takeWhile(_ => (System.nanoTime() - start) / 1e9 < ctx.seconds)
      .flatten.map { b =>
        val t = lake.refreshDay(b)
        ctx.log(f"day ${b.day}: $t%.3f s")
        (t, probe.attempt())
      }.toVector
    val bytesAtEnd = lake.warehouseBytes
    ctx.log(s"${days.size} days refreshed")
    val refreshed = batches.take(days.size + 1)

    // re-ingesting the last batch must be skipped and add nothing
    val bronze = ParquetTable(spark, lake.pipeline.bronzeRoot)
    val bronzeRows = bronze.read.count()
    val again = lake.pipeline.ingestBronze(lake.fed.last, "reingest")
    val reingest =
      Checks.equal("re-ingest skipped", true, again.skipped) ++
        Checks.equal("bronze rows after re-ingest", bronzeRows,
          bronze.read.count()) ++
        Checks.equal("bronze rows", refreshed.map(_.rows.size.toLong).sum,
          bronzeRows)

    // training needs gold and labels on two as-of dates or more; traced
    // runs publish the second month-end after the timed days
    val published =
      if (ctx.tracer.enabled) monthEnds.tap(_.tail.foreach(lake.publishAsOf))
      else monthEnds.take(1)
    val retrain =
      if (!ctx.tracer.enabled) None
      else {
        val t0 = System.nanoTime()
        val r = lake.retrain()
        ctx.log(s"validation roc_auc ${r.metrics("roc_auc")}")
        Some((r, (System.nanoTime() - t0) / 1e9))
      }

    val failures = reingest ++ check(spark, lake, refreshed, published) ++
      probe.check() ++ retrain.toSeq.flatMap { case (r, _) =>
        Checks.atLeast("validation roc_auc", AucFloor, r.metrics("roc_auc"))
      }

    val dayTimes = days.map(_._1)
    val probesFailed = days.count(!_._2).toLong
    val endToEnd = Map(
      "op_p50_s" -> (Stats.median(dayTimes), "s"),
      "ops_per_s" -> (dayTimes.size / dayTimes.sum, "1/s"),
      "setup_s" -> (setup, "s"))
    val perLayer =
      if (!ctx.tracer.enabled) Map.empty[String, (Double, String)]
      else {
        val tables = tableStats(spark, lake)
        val spans = ctx.tracer.finished()
        val dayCalls = spans.filter(_.trace.startsWith("day-"))
        def perDay(call: String) = {
          val s = dayCalls.filter(_.name == s"pipeline.$call")
          Map(s"pipeline.${call}_s" -> (Stats.median(s.map(_.seconds)), "s"),
            s"pipeline.${call}_jobs" ->
              (Stats.median(s.map(_.jobs.toDouble)), "count"))
        }
        def one(name: String) = spans.find(_.name == name).get
        Metrics.PipelineCalls.flatMap(perDay).toMap ++ tables ++ Map(
          "pipeline.snapshot_s" -> (one("pipeline.snapshot").seconds, "s"),
          "pipeline.snapshot_jobs" ->
            (one("pipeline.snapshot").jobs.toDouble, "count"),
          "pipeline.retrain_s" -> (retrain.get._2, "s"),
          "ml.train_s" -> (one("ml.train").seconds, "s"),
          "ml.train_jobs" -> (one("ml.train").jobs.toDouble, "count"),
          "tables.bytes_per_day" ->
            ((bytesAtEnd - bytesAfterBackfill).toDouble / days.size, "bytes"),
          "tables.lake_bytes_per_raw_byte" ->
            (bytesAtEnd.toDouble / lake.rawBytes, "ratio"))
      }
    Outcome(failures, attempted = 2L * days.size, failed = probesFailed,
      if (ctx.tracer.enabled) perLayer else endToEnd)
  }

  /** The program's silver, gold, labels and export against the reckoning
    * over the batches fed, plus the properties.
    */
  private def check(spark: SparkSession, lake: Lake, fed: Seq[Batch],
      monthEnds: Seq[LocalDate]): Seq[String] = {
    val p = lake.pipeline
    val expected = Reckon.silver(fed.map(_.rows))
    val silver = expected.kept.values
    val asOfs = monthEnds ++ fed.tail.map(_.day)
    val labelDates = monthEnds ++
      fed.tail.map(_.day.minusDays(Reckon.HorizonDays.toLong))
    val gold = readGold(ParquetTable(spark, p.goldRoot).read)
    val labels = ParquetTable(spark, p.labelsRoot).read
      .select(col("customer_id"), col("as_of_date").cast("string"),
        col("churn_label")).collect().toSeq
      .map(r => LabelRow(r.getString(0), LocalDate.parse(r.getString(1)),
        num(r, 2).toInt))
    val customers = Reckon.byCustomer(silver)
    val expectedGold = asOfs.flatMap(d =>
      Reckon.gold(customers, d).map { case (c, f) => (c, d) -> f })
    val expectedLabels = labelDates.flatMap(d =>
      Reckon.labels(customers, d).map { case (c, l) => (c, d) -> l })
    Checks.silver(expected.kept, readSilver(ParquetTable(spark, p.silverRoot).read)) ++
      Checks.gold(expectedGold.toMap, gold) ++
      Checks.goldProperties(gold, silver) ++
      Checks.labels(expectedLabels.toMap, labels) ++
      Checks.goldLabelKeys(gold, labels) ++
      Checks.export(readGold(spark.read.parquet(p.latestFeaturesPath)), gold)
  }

  private def num(r: Row, i: Int): Long =
    r.get(i).asInstanceOf[Number].longValue

  def readSilver(df: DataFrame): Seq[SilverOrder] =
    df.select(col("order_id"), col("customer_id"),
      date_format(col("order_purchase_ts"), "yyyy-MM-dd HH:mm:ss"),
      col("order_status")).collect().toSeq.map(r => SilverOrder(
        r.getString(0), r.getString(1),
        LocalDateTime.parse(r.getString(2), Gen.TsFormat), r.getString(3)))

  def readGold(df: DataFrame): Seq[GoldRow] =
    df.select(col("customer_id"), col("as_of_date").cast("string"),
      col("recency_days"), col("orders_30d"), col("orders_90d"),
      col("lifetime_orders"), col("customer_tenure_days"),
      col("avg_days_between_orders")).collect().toSeq.map(r => GoldRow(
        r.getString(0), LocalDate.parse(r.getString(1)), Features(
          num(r, 2).toInt, num(r, 3), num(r, 4), num(r, 5), num(r, 6).toInt,
          r.getDouble(7))))

  /** One full read of each table (every column of every row), and the
    * current version's files, data dirs and 0-row files.
    */
  private def tableStats(spark: SparkSession,
      lake: Lake): Map[String, (Double, String)] = {
    val p = lake.pipeline
    val roots = Map("bronze" -> p.bronzeRoot, "bronze_audit" -> p.auditRoot,
      "silver" -> p.silverRoot, "gold" -> p.goldRoot, "labels" -> p.labelsRoot)
    val conf = spark.sparkContext.hadoopConfiguration
    Metrics.Tables.flatMap { t =>
      val table = ParquetTable(spark, roots(t))
      lake.tracer.span(s"tables.${t}_read", "tables") {
        table.read.write.format("noop").mode("overwrite").save()
      }
      val files = table.currentFiles
      val dataDir = Paths.get(roots(t), "d")
      val dirs = files.map(f => dataDir.relativize(Paths.get(f)).getName(0)).distinct
      val empty = files.count { f =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(f), conf))
        try r.getRecordCount == 0 finally r.close()
      }
      Seq(s"tables.${t}_files" -> (files.size.toDouble, "count"),
        s"tables.${t}_dirs" -> (dirs.size.toDouble, "count"),
        s"tables.${t}_empty_files" -> (empty.toDouble, "count"))
    }.toMap ++ {
      val spans = lake.tracer.finished().filter(_.trace == "tables")
      spans.flatMap(s => Seq(s"${s.name}_s" -> (s.seconds, "s"),
        s"${s.name}_jobs" -> (s.jobs.toDouble, "count")))
    }
  }
}

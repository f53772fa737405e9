package graft

import graft.pipeline._
import graft.tables.ParquetTable
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-derived golden tests (engine-independent semantics — same
  * fixtures and expected values as the reference's unit suite) plus table
  * layer and e2e slice coverage.
  */
class PipelineSpec extends AnyFunSuite with SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // --- reference tests/unit/test_silver_dedupe.py ---
  test("silver dedupe keeps latest valid record (reference golden)") {
    import spark.implicits._
    val bronze = Seq(
      ("ORD-1", "CUST-1", "2025-01-01 10:00:00", "delivered",
        "run-1", "2025-01-01 12:00:00", "a.parquet", "fp1", "sh1"),
      ("ORD-1", "CUST-1", "2025-01-02 10:00:00", "shipment_pending",
        "run-2", "2025-01-02 12:00:00", "b.parquet", "fp2", "sh2"),
      ("ORD-2", null, "2025-01-03 10:00:00", "delivered",
        "run-3", "2025-01-03 12:00:00", "c.parquet", "fp3", "sh3"))
      .toDF("order_id", "customer_id", "order_purchase_timestamp",
        "order_status", "run_id", "ingest_ts", "source_file",
        "source_fingerprint", "schema_hash")
      .withColumn("ingest_ts", to_timestamp(col("ingest_ts")))

    val r = Silver.split(Silver.classify(bronze))
    assert(r.deduped.count() == 1)
    assert(r.invalid.count() == 1)
    assert(r.duplicateRejects.count() == 1)
    val row = r.deduped.collect()(0)
    assert(row.getAs[String]("order_id") == "ord-1")
    assert(row.getAs[String]("customer_id") == "cust-1")
    assert(row.getAs[String]("order_status") == "processing")
    assert(row.getAs[String]("_bronze_run_id") == "run-2")
  }

  // --- reference tests/unit/test_customer_features_daily.py ---
  test("gold features match reference hand-computed goldens") {
    import spark.implicits._
    val silver = Seq(
      ("o1", "c1", "2025-01-10 10:00:00"),
      ("o2", "c1", "2025-03-10 11:00:00"))
      .toDF("order_id", "customer_id", "order_purchase_ts")
      .withColumn("order_purchase_ts", to_timestamp(col("order_purchase_ts")))

    val gold = Gold.buildFeatureSnapshot(
      silver, "2025-03-31", "snap", "fv", "run")
    val row = gold.collect()(0)
    assert(row.getAs[Int]("recency_days") == 21)
    assert(row.getAs[Long]("orders_30d") == 1L)
    assert(row.getAs[Long]("orders_90d") == 2L)
    assert(row.getAs[Long]("lifetime_orders") == 2L)
    assert(row.getAs[Int]("customer_tenure_days") == 80)
    assert(row.getAs[Double]("avg_days_between_orders") == 59.0)
  }

  // --- ParquetTable semantics ---
  test("ParquetTable: overwrite/append/merge/time-travel") {
    import spark.implicits._
    val root = tmpDir("pt")
    val t = ParquetTable(spark, s"$root/t")
    assert(!t.exists)

    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(t.read.count() == 2)

    t.append(Seq((3, "c")).toDF("k", "v"))
    assert(t.read.count() == 3)

    // merge: update k=2, insert k=4
    t.merge(Seq((2, "B"), (4, "d")).toDF("k", "v"), keys = Seq("k"))
    val m = t.read.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m == Map(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d"))

    // time travel: v1 still has the original two rows
    assert(t.readVersion(1).count() == 2)
    assert(t.latestVersion.contains(3L))
  }

  test("ParquetTable: merge is idempotent and keeps keys unique") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmpDir("pt")}/t")
    val src = Seq((1, "x"), (2, "y")).toDF("k", "v")
    t.overwrite(Seq((1, "a"), (3, "c")).toDF("k", "v"))
    t.merge(src, keys = Seq("k"))
    val once = t.read.orderBy("k").collect().toSeq
    t.merge(src, keys = Seq("k")) // rerun: same source again
    val twice = t.read.orderBy("k").collect().toSeq
    assert(once == twice)
    assert(t.read.groupBy("k").count().filter(col("count") > 1).count() == 0)
  }

  test("ParquetTable: compact rewrites the current version into one file") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmpDir("pt")}/t")
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    t.merge(Seq((2, "b")).toDF("k", "v"), keys = Seq("k"))
    t.merge(Seq((3, "c")).toDF("k", "v"), keys = Seq("k"))
    val before = t.read.orderBy("k").collect().toSeq
    val v = t.compact(targetFiles = 1)
    assert(t.latestVersion.contains(v))
    assert(t.read.orderBy("k").collect().toSeq == before)
    assert(t.read.inputFiles.length == 1)
  }

  test("ParquetTable: vacuum prunes old versions and orphans, never the current") {
    import spark.implicits._
    val root = s"${tmpDir("pt")}/t"
    val t = ParquetTable(spark, root)
    t.overwrite(Seq((1, "a")).toDF("k", "v"))                 // v1
    t.merge(Seq((2, "b")).toDF("k", "v"), keys = Seq("k"))    // v2
    t.merge(Seq((3, "c")).toDF("k", "v"), keys = Seq("k"))    // v3
    Seq((9, "z")).toDF("k", "v").write.parquet(s"$root/d/v9") // orphan dir
    val removed = t.vacuum(keepLast = 2, olderThanMs = 0L)
    assert(removed == Seq(1L, 9L)) // old v1 + orphan v9; v2/v3 retained
    assert(t.read.count() == 3)
    assert(t.readVersion(2).count() == 2) // retained history still works
    intercept[Exception] { t.readVersion(1).count() }
    // allocation continues cleanly after vacuum
    t.merge(Seq((4, "d")).toDF("k", "v"), keys = Seq("k"))
    assert(t.latestVersion.contains(4L))
  }

  test("ParquetTable: recovers from a crash between write and pointer flip") {
    import spark.implicits._
    val root = s"${tmpDir("pt")}/t"
    val t = ParquetTable(spark, root)
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    // simulate a crashed writer: orphan data dir v2, pointer still at 1
    Seq((9, "z")).toDF("k", "v").write.parquet(s"$root/d/v2")
    assert(t.latestVersion.contains(1L))
    assert(t.read.count() == 1) // reader never sees the orphan
    // time travel must refuse the uncommitted orphan
    intercept[IllegalArgumentException] { t.readVersion(2) }
    // stray non-numeric dirs must not wedge version allocation
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/d/vbackup"))
    // next publish must skip the orphan, not collide with it
    t.merge(Seq((2, "b")).toDF("k", "v"), keys = Seq("k"))
    assert(t.latestVersion.contains(3L))
    assert(t.read.count() == 2)
    assert(t.readVersion(3).count() == 2) // committed versions readable
    // the orphan stays unreadable even though its number is below latest
    intercept[IllegalArgumentException] { t.readVersion(2) }
    // vacuum keys retention off the committed log, not version arithmetic:
    // it removes the below-pointer orphan and keeps committed {1, 3}
    assert(t.vacuum(keepLast = 2, olderThanMs = 0L) == Seq(2L))
    assert(t.readVersion(1).count() == 1)
    assert(t.readVersion(3).count() == 2)
  }

  test("ParquetTable: append is O(batch) — prior files untouched, byte-identical") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmpDir("pt")}/t")
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val before = t.currentFiles
    val bytes = before.map(f =>
      f -> Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq).toMap
    t.append(Seq((3, "c")).toDF("k", "v"))
    val after = t.currentFiles
    // every prior data file is carried by reference, byte-identical
    assert(before.toSet.subsetOf(after.toSet))
    before.foreach { f =>
      assert(Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq == bytes(f),
        s"prior file rewritten: $f")
    }
    // the only new files are the batch's own
    val added = after.toSet -- before.toSet
    assert(added.nonEmpty && added.forall(_.contains("/d/v2/")))
    assert(t.read.count() == 3)
    // time travel still sees the pre-append table
    assert(t.readVersion(1).count() == 2)
  }

  test("ParquetTable: merge rewrites only files containing matched keys") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmpDir("pt")}/t")
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"))   // v1 files
    t.append(Seq((3, "c"), (4, "d")).toDF("k", "v"))      // v2 files
    val v1Files = t.readVersion(1).inputFiles.map(f =>
      java.nio.file.Paths.get(new java.net.URI(f).getPath).toString).toSet
    val v2Only = t.currentFiles.toSet -- v1Files
    t.merge(Seq((1, "A")).toDF("k", "v"), keys = Seq("k")) // touches v1 only
    val after = t.currentFiles.toSet
    assert(v2Only.subsetOf(after)) // untouched files carried by reference
    assert((v1Files -- after).nonEmpty) // the matched file was replaced
    val m = t.read.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m == Map(1 -> "A", 2 -> "b", 3 -> "c", 4 -> "d"))
  }

  test("ParquetTable: merge fails fast on duplicate source keys (Delta parity)") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmpDir("pt")}/t")
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      t.merge(Seq((2, "x"), (2, "y")).toDF("k", "v"), keys = Seq("k"))
    }
    assert(t.read.count() == 1) // table unchanged after the refusal
  }

  test("bronze rerun after crash between data commit and audit row is a no-op") {
    import spark.implicits._
    val wh = tmpDir("crash")
    val rawPath = s"$wh/raw"
    Seq(("A1", "CUST_0001", "delivered", "2025-01-10 10:00:00"))
      .toDF("order_id", "customer_id", "order_status",
        "order_purchase_timestamp")
      .withColumn("order_approved_at", lit(null).cast("string"))
      .withColumn("order_delivered_carrier_date", lit(null).cast("string"))
      .withColumn("order_delivered_customer_date", lit(null).cast("string"))
      .withColumn("order_estimated_delivery_date", lit(null).cast("string"))
      .write.parquet(rawPath)
    val p = new ChurnPipeline(spark, s"$wh/lake")
    val r1 = p.ingestBronze(rawPath, "run-1")
    assert(!r1.skipped && r1.rowCount == 1)
    // simulate the crash window: bronze data committed, but the success
    // audit row was never written (strip it from the audit table)
    val audit = ParquetTable(spark, p.auditRoot)
    audit.overwrite(audit.read.filter(col("status") =!= "success"))
    // rerun must NOT re-append (the data table is the source of truth)...
    val r2 = p.ingestBronze(rawPath, "run-2")
    assert(r2.skipped)
    val bronze = ParquetTable(spark, p.bronzeRoot).read
    assert(bronze.count() == 1, "crash rerun duplicated bronze rows")
    // ...and it heals the audit log so the next rerun takes the fast path
    assert(audit.read.filter(col("status") === "success").count() == 1)
    val r3 = p.ingestBronze(rawPath, "run-3")
    assert(r3.skipped && bronze.count() == 1)
  }

  test("publishSilver rerun is idempotent: new version, identical content") {
    import spark.implicits._
    val wh = tmpDir("rerun")
    val rawPath = s"$wh/raw"
    Seq(("A1", "CUST_0001", "delivered", "2025-01-10 10:00:00"))
      .toDF("order_id", "customer_id", "order_status",
        "order_purchase_timestamp")
      .withColumn("order_approved_at", lit(null).cast("string"))
      .withColumn("order_delivered_carrier_date", lit(null).cast("string"))
      .withColumn("order_delivered_customer_date", lit(null).cast("string"))
      .withColumn("order_estimated_delivery_date", lit(null).cast("string"))
      .write.parquet(rawPath)
    val p = new ChurnPipeline(spark, s"$wh/lake")
    p.ingestBronze(rawPath, "r1")
    p.publishSilver("r2")
    val t = ParquetTable(spark, p.silverRoot)
    val v1 = t.latestVersion.get
    val rows1 = t.read.drop("_silver_run_id", "_silver_ts")
      .orderBy("order_id").collect().toSeq
    p.publishSilver("r3") // rerun over unchanged bronze
    assert(t.latestVersion.get > v1) // a new committed version...
    val rows2 = t.read.drop("_silver_run_id", "_silver_ts")
      .orderBy("order_id").collect().toSeq
    assert(rows1 == rows2) // ...with identical business content
  }

  test("publishSilver routes an unparseable timestamp to the invalid rows") {
    import spark.implicits._
    val wh = tmpDir("badts")
    val rawPath = s"$wh/raw"
    Seq(("O-1", "C-1", "delivered", "2024-07-01 10:00:00"),
      ("O-2", "C-1", "delivered", "2024-07-01T11:00:00Z"))
      .toDF("order_id", "customer_id", "order_status",
        "order_purchase_timestamp")
      .withColumn("order_approved_at", lit(null).cast("string"))
      .withColumn("order_delivered_carrier_date", lit(null).cast("string"))
      .withColumn("order_delivered_customer_date", lit(null).cast("string"))
      .withColumn("order_estimated_delivery_date", lit(null).cast("string"))
      .write.parquet(rawPath)
    val p = new ChurnPipeline(spark, s"$wh/lake")
    p.ingestBronze(rawPath, "r1")
    // must not fail with CANNOT_PARSE_TIMESTAMP under ANSI
    p.publishSilver("r2")
    val silver = ParquetTable(spark, p.silverRoot).read
      .select(col("order_id"),
        date_format(col("order_purchase_ts"), "yyyy-MM-dd HH:mm:ss"))
      .collect()
    assert(silver.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("o-1", "2024-07-01 10:00:00")))
    val invalid = spark.read.parquet(s"$wh/lake/quarantine/silver_invalid")
      .select("order_id", "order_purchase_ts").collect()
    assert(invalid.map(_.getString(0)).toSeq == Seq("o-2"))
    assert(invalid(0).isNullAt(1))
  }

  test("incremental gold equals the full rebuild for affected customers") {
    import spark.implicits._
    val wh = tmpDir("inc")
    val rawPath = s"$wh/raw"
    Seq(
      ("A1", "CUST_0001", "delivered", "2025-01-10 10:00:00"),
      ("A2", "CUST_0001", "delivered", "2025-03-10 11:00:00"),
      ("B1", "CUST_0002", "delivered", "2025-01-20 12:00:00"),
      ("C1", "CUST_0003", "delivered", "2025-02-15 09:00:00"))
      .toDF("order_id", "customer_id", "order_status",
        "order_purchase_timestamp")
      .withColumn("order_approved_at", lit(null).cast("string"))
      .withColumn("order_delivered_carrier_date", lit(null).cast("string"))
      .withColumn("order_delivered_customer_date", lit(null).cast("string"))
      .withColumn("order_estimated_delivery_date", lit(null).cast("string"))
      .write.parquet(rawPath)
    val p = new ChurnPipeline(spark, s"$wh/lake")
    p.ingestBronze(rawPath, "r1")
    p.publishSilver("r2")
    val full = p.publishGold("2025-03-31", "full")
    // incremental with changedSince before all data: every customer is
    // "affected" -> must reproduce the full rebuild row-for-row
    val inc = p.publishGoldIncremental("2025-03-31", "inc", "2025-01-01 00:00:00")
    val cols = Seq("customer_id", "recency_days", "orders_30d", "orders_90d",
      "lifetime_orders", "customer_tenure_days", "avg_days_between_orders")
    assert(inc.select(cols.map(col): _*)
      .exceptAll(full.select(cols.map(col): _*)).count() == 0)
    // incremental scoped to activity after 2025-03-01 recomputes only
    // CUST_0001 (its A2 order), leaving others' rows from the full run
    val inc2 = p.publishGoldIncremental("2025-03-31", "inc2", "2025-03-01 00:00:00")
    assert(inc2.count() == full.count()) // merge preserved everyone
  }

  /** Runs `body` and counts the Spark jobs it started. Listener events
    * arrive asynchronously but in order, so a marker job run afterwards
    * (in a job group of its own) is seen only after every earlier job.
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = s"job-count-marker-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          seen.countDown()
        else if (seen.getCount > 0) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.setJobGroup(marker, "job count marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** A raw orders batch in the source contract: `(order_id, customer_id,
    * status, purchase timestamp)` rows, the delivery columns null.
    */
  private def writeRaw(rows: Seq[(String, String, String, String)],
      path: String): Unit = {
    import spark.implicits._
    rows.toDF("order_id", "customer_id", "order_status",
        "order_purchase_timestamp")
      .withColumn("order_approved_at", lit(null).cast("string"))
      .withColumn("order_delivered_carrier_date", lit(null).cast("string"))
      .withColumn("order_delivered_customer_date", lit(null).cast("string"))
      .withColumn("order_estimated_delivery_date", lit(null).cast("string"))
      .coalesce(1).write.parquet(path)
  }

  test("a day's refresh starts a fixed number of Spark jobs; table reads start none") {
    val wh = tmpDir("jobs")
    val p = new ChurnPipeline(spark, s"$wh/lake")
    val start = java.time.LocalDate.parse("2024-01-01")
    def ts(d: java.time.LocalDate, h: Int) = f"$d ${h % 24}%02d:00:00"
    // backfill: 120 days of orders for 8 customers, one invalid row and
    // one order sent twice with a later status
    val history = (0 until 120).flatMap { i =>
      val d = start.plusDays(i.toLong)
      Seq((s"H$i", s"C${i % 8}", "delivered", ts(d, 10)))
    } ++ Seq(("H0", "C0", "shipped", ts(start, 9)),
      ("BAD", null, "delivered", ts(start, 11)))
    writeRaw(history, s"$wh/raw/backfill")
    p.ingestBronze(s"$wh/raw/backfill", "backfill")
    p.publishSilver("backfill")
    p.publishGold("2024-01-31", "backfill")
    p.publishLabels("2024-01-31", "backfill")
    p.exportLatestFeatures("backfill")
    // one day: a new order, a re-sent older order, an invalid row, and
    // the five calls of the daily refresh
    def day(n: Int): Int = {
      val d = start.plusDays(119L + n)
      val path = s"$wh/raw/day$n"
      writeRaw(Seq((s"D$n", s"C${n % 8}", "delivered", ts(d, 12)),
        (s"H${100 + n}", s"C${(100 + n) % 8}", "canceled",
          ts(start.plusDays(100L + n), 10)),
        (s"X$n", s"C$n", "bogus", ts(d, 13))), path)
      jobsOf {
        p.ingestBronze(path, s"day$n")
        p.publishSilver(s"day$n")
        p.publishGold(d.toString, s"day$n")
        p.publishLabels(d.minusDays(60).toString, s"day$n")
        p.exportLatestFeatures(s"day$n")
      }._2
    }
    val counts = (1 to 5).map(day)
    info(s"jobs per day: ${counts.mkString(", ")}")
    // the cost of a day does not grow with the commits before it
    assert(counts(1) == counts(4), s"jobs per day: $counts")
    // pinned ceiling: 53 in a traced benchmark day, 90-98 before table
    // reads took their schema from the manifest and stats from footers
    assert(counts.forall(_ <= 55), s"jobs per day: $counts")
    // a table read is planning only: the recorded schema, no inference
    Seq(p.bronzeRoot, p.auditRoot, p.silverRoot, p.goldRoot, p.labelsRoot)
      .foreach { root =>
        val t = ParquetTable(spark, root)
        assert(jobsOf(t.read)._2 == 0, s"read of $root started a job")
        val first = t.history.map(_.version).min
        assert(jobsOf(t.readVersion(first))._2 == 0,
          s"readVersion($first) of $root started a job")
      }
  }

  // --- e2e slice (reference tests/integration/test_slice_e2e.py in-JVM) ---
  test("e2e slice: raw -> bronze -> silver -> gold+labels -> snapshot -> train -> score") {
    import spark.implicits._
    val wh = tmpDir("wh")
    val rawPath = s"$wh/raw_orders"
    val rows = Seq(
      ("A1", "CUST_0001", "delivered", "2025-01-10 10:00:00"),
      ("B1", "CUST_0002", "delivered", "2025-01-20 12:00:00"),
      ("C1", "CUST_0003", "delivered", "2025-02-15 09:00:00"),
      ("A2", "CUST_0001", "delivered", "2025-03-10 11:00:00"),
      ("C2", "CUST_0003", "delivered", "2025-04-10 15:00:00"),
      ("A3", "CUST_0001", "delivered", "2025-05-10 08:30:00"),
      ("Z1", "CUST_9999", "delivered", "2025-06-15 00:00:00"))
    rows.toDF("order_id", "customer_id", "order_status",
        "order_purchase_timestamp")
      .withColumn("order_approved_at", lit(null).cast("string"))
      .withColumn("order_delivered_carrier_date", lit(null).cast("string"))
      .withColumn("order_delivered_customer_date", lit(null).cast("string"))
      .withColumn("order_estimated_delivery_date", lit(null).cast("string"))
      .write.parquet(rawPath)

    val p = new ChurnPipeline(spark, s"$wh/lake")
    val r1 = p.ingestBronze(rawPath, "run-1")
    assert(!r1.skipped && r1.rowCount == 7)
    // idempotency: second ingest of the identical batch is skipped
    val r2 = p.ingestBronze(rawPath, "run-2")
    assert(r2.skipped)

    assert(p.publishSilver("run-3").count() == 7)

    val asOfs = Seq("2025-01-31", "2025-02-28", "2025-03-31")
    asOfs.foreach { d =>
      p.publishGold(d, s"gold-$d")
      p.publishLabels(d, s"labels-$d")
    }
    val snap = p.publishTrainingSnapshot("run-4")
    val n = snap.count()
    assert(n > 0 && n == snap.select("customer_id", "as_of_date")
      .distinct().count())

    // cust_0001 @ 2025-03-31: same goldens as the unit test (A1+A2 <= asof)
    val c1 = snap.filter(col("customer_id") === "cust_0001" &&
      col("as_of_date") === to_date(lit("2025-03-31"))).collect()(0)
    assert(c1.getAs[Int]("recency_days") == 21)
    assert(c1.getAs[Long]("lifetime_orders") == 2L)
    assert(c1.getAs[Double]("avg_days_between_orders") == 59.0)
    // A3 lands 2025-05-10, within (03-31, 05-30] -> retained
    assert(c1.getAs[Int]("churn_label") == 0)

    // train on the snapshot (validation_fraction 0.34 like the e2e test)
    val tr = graft.ml.ChurnTrainer.train(snap, validationFraction = 0.34)
    assert(tr.metrics("brier") >= 0.0 && tr.metrics("brier") <= 1.0)
    assert(tr.modelVersion.nonEmpty)

    // score the latest-features export: probability in [0,1] for everyone
    val latest = p.exportLatestFeatures()
    val scored = graft.ml.ChurnTrainer.score(tr.model, latest)
    val probs = scored.select("churn_probability").collect().map(_.getDouble(0))
    assert(probs.nonEmpty && probs.forall(x => x >= 0.0 && x <= 1.0))
  }
}

package churnbench

import graft.ml.ChurnTrainer
import graft.serving.{PredictServer, Scorer}
import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.lang.management.ManagementFactory
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** serve: a replica of the prediction API over a large feature store.
  *
  * Set-up writes a latest-features export in the gold schema, generated
  * from the seed, and trains the bundle with `ChurnTrainer.train` on the
  * reckoned features and labels of a seeded history, then saves and
  * approves it. (Building both through the pipeline would cost minutes
  * per run; daily_refresh covers that path.)
  * The timed part cold-loads the bundle and the store, starts
  * `PredictServer` and drives it with a closed loop of keep-alive
  * connections. An operation is one request. Traced runs then measure
  * the [[Analytics]] query set in the same JVM.
  */
object Serve {
  /** The training history (the store is generated apart, see storeFrame). */
  val Config = GenConfig(customers = 4000, start = LocalDate.of(2024, 1, 1),
    backfillDays = 120, timedDays = 0)
  val StoreCustomers = 200000
  val ApiKey = "churnbench-key"
  /** Requests per client per round: one with a wrong key, one for an id
    * outside the store, the rest for store ids.
    */
  val Round = 50
  val Clients: Int =
    math.max(1, math.min(4, Runtime.getRuntime.availableProcessors / 2))

  def run(ctx: Ctx, dataDir: String): Outcome = {
    val spark = ctx.spark
    val featureVersion =
      graft.contracts.Contracts.goldCustomerFeaturesDaily.identityHash
    val bundleDir = s"${ctx.root}/bundle"
    val exportPath = s"${ctx.root}/latest_features"
    storeFrame(spark, ctx.seed, featureVersion).write.parquet(exportPath)

    // the training snapshot: reckoned features and labels of a seeded
    // history, read back from parquet as the program's train stage reads
    // its snapshot table
    val customers = Reckon.byCustomer(Gen.cleanOrders(Config, ctx.seed))
    val snapshotPath = s"${ctx.root}/training_snapshot"
    Config.backfillAsOfs.map { d =>
      goldFrame(spark, Reckon.gold(customers, d), d, featureVersion)
        .join(labelFrame(spark, Reckon.labels(customers, d), d),
          Seq("customer_id", "as_of_date"))
    }.reduce(_ union _).withColumn("_data_snapshot_id", lit(s"serve-${ctx.seed}"))
      .write.parquet(snapshotPath)
    val snapshot = spark.read.parquet(snapshotPath)
    val trained = ChurnTrainer.train(snapshot,
      expectedFeatureVersion = Some(featureVersion))
    Scorer.saveBundle(trained.model, bundleDir, trained.modelVersion,
      featureVersion, trained.metrics)
    Scorer.approve(bundleDir, trained.modelVersion)
    val setup = ctx.sinceLaunch
    ctx.log(s"validation roc_auc ${trained.metrics("roc_auc")}")

    // timed: a replica's cold start, then the closed loop
    val tracer = ctx.tracer
    val bundle = tracer.span("serving.bundle_load", "load")(
      Scorer.loadBundle(spark, bundleDir))
    val before = heapAfterGc()
    val store = tracer.span("serving.store_load", "load")(
      Scorer.loadFeatureStore(spark, exportPath))
    val storeMb = (heapAfterGc() - before) / 1e6
    ctx.log("store loaded")
    val server = new PredictServer(spark, ApiKey, Some(bundle), Some(store))
    server.start()
    val (answers, latencies, window, failed) =
      try drive(server.boundPort, store.keySet.toVector.sorted, ctx)
      finally server.stop()

    ctx.log("loop done")
    val scored = latencies.zip(answers).collect {
      case (ns, a) if a.status == 200 => ns / 1e9 }
    val reference = referenceProbabilities(spark, bundle, exportPath,
      answers.filter(_.status == 200).map(_.customerId).distinct)
    val failures =
      Checks.atLeast("validation roc_auc", DailyRefresh.AucFloor, trained.metrics("roc_auc")) ++
        Checks.equal("store size", StoreCustomers, store.size) ++
        Checks.answers(answers, reference, bundle.modelVersion,
          bundle.featureVersion)

    // traced runs also measure the query set, after the timed part
    val (queryFailures, queryMetrics) =
      if (tracer.enabled) Analytics.run(ctx, dataDir)
      else (Nil, Map.empty[String, (Double, String)])

    val metrics =
      if (!tracer.enabled) Map(
        "op_p50_s" -> (Stats.median(scored), "s"),
        "ops_per_s" -> (answers.size / window, "1/s"),
        "setup_s" -> (setup, "s"))
      else {
        val spans = tracer.finished()
        def secs(n: String) = spans.find(_.name == n).get.seconds
        Map(
          "serving.bundle_load_s" -> (secs("serving.bundle_load"), "s"),
          "serving.store_load_s" -> (secs("serving.store_load"), "s"),
          "serving.store_heap_mb" -> (storeMb, "MB"),
          "serving.score_us" -> (scoreMicros(bundle, store), "us"),
          "serving.http_p50_ms" -> (Stats.median(scored) * 1e3, "ms"),
          "serving.http_p99_ms" -> (Stats.quantile(scored, 0.99) * 1e3, "ms")) ++
          queryMetrics
      }
    Outcome(failures ++ queryFailures, answers.size.toLong, failed, metrics)
  }

  private val GoldSchema = StructType(Seq(
    StructField("customer_id", StringType), StructField("as_of_date", DateType),
    StructField("recency_days", IntegerType),
    StructField("orders_30d", LongType), StructField("orders_90d", LongType),
    StructField("lifetime_orders", LongType),
    StructField("customer_tenure_days", IntegerType),
    StructField("avg_days_between_orders", DoubleType),
    StructField("_snapshot_id", StringType),
    StructField("_feature_version", StringType),
    StructField("_gold_run_id", StringType),
    StructField("_gold_ts", TimestampType)))

  /** Gold rows in the gold table's schema. */
  def goldFrame(spark: SparkSession, features: Map[String, Features],
      asOf: LocalDate, featureVersion: String): DataFrame = {
    val ts = new Timestamp(0L)
    val rows = features.toSeq.sortBy(_._1).map { case (c, f) =>
      Row(c, Date.valueOf(asOf), f.recencyDays, f.orders30d, f.orders90d,
        f.lifetimeOrders, f.tenureDays, f.avgDaysBetweenOrders,
        s"snapshot-$asOf", featureVersion, "serve", ts)
    }
    spark.createDataFrame(rows.asJava, GoldSchema)
  }

  private def labelFrame(spark: SparkSession, labels: Map[String, Int],
      asOf: LocalDate): DataFrame = {
    val rows = labels.toSeq.sortBy(_._1).map { case (c, l) =>
      Row(c, Date.valueOf(asOf), l, Reckon.HorizonDays, "label-v1") }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("customer_id", StringType),
      StructField("as_of_date", DateType),
      StructField("churn_label", IntegerType),
      StructField("_label_horizon_days", IntegerType),
      StructField("_label_version", StringType))))
  }

  /** The store's rows, generated in Spark from the seed: features that
    * keep the gold invariants (windows nest, recency within tenure).
    */
  def storeFrame(spark: SparkSession, seed: Long,
      featureVersion: String): DataFrame = {
    def h(k: Int, mod: Column) =
      pmod(xxhash64(lit(seed), col("id"), lit(k)), mod.cast("long"))
    spark.range(StoreCustomers)
      .withColumn("lifetime_orders", h(1, lit(15)) + 1)
      .withColumn("orders_90d", h(2, col("lifetime_orders") + 1))
      .withColumn("orders_30d", h(3, col("orders_90d") + 1))
      .withColumn("customer_tenure_days", h(4, lit(400)).cast("int"))
      .withColumn("recency_days",
        h(5, col("customer_tenure_days") + 1).cast("int"))
      .select(format_string("c%07d", col("id")).as("customer_id"),
        lit(Config.backfillEnd.toString).cast("date").as("as_of_date"),
        col("recency_days"), col("orders_30d"), col("orders_90d"),
        col("lifetime_orders"), col("customer_tenure_days"),
        when(col("lifetime_orders") > 1,
          (col("customer_tenure_days") - col("recency_days")) /
            (col("lifetime_orders") - 1)).otherwise(0.0)
          .as("avg_days_between_orders"),
        lit("store").as("_snapshot_id"),
        lit(featureVersion).as("_feature_version"),
        lit("serve").as("_gold_run_id"),
        current_timestamp().as("_gold_ts"))
  }

  /** Spark ML's own `transform` of the store rows the benchmark reads back
    * itself: the reference every 200 answer is held to.
    */
  private def referenceProbabilities(spark: SparkSession,
      bundle: Scorer.Bundle, exportPath: String,
      ids: Seq[String]): Map[String, Double] =
    bundle.model
      .transform(spark.read.parquet(exportPath)
        .filter(col("customer_id").isin(ids: _*))
        .withColumn("weight", lit(1.0)))
      .select(col("customer_id"),
        element_at(vector_to_array(col("probability")), 2))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def heapAfterGc(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed
  }

  /** Median of direct `Scorer.predict` calls, no HTTP, in microseconds. */
  private def scoreMicros(bundle: Scorer.Bundle,
      store: Map[String, Scorer.FeatureRecord]): Double = {
    val ids = store.keys.toVector
    val samples = (0 until 200).map { i =>
      val t0 = System.nanoTime()
      var k = 0
      while (k < 500) {
        Scorer.predict(bundle, store, ids((i * 500 + k) % ids.size)); k += 1
      }
      (System.nanoTime() - t0) / 500 / 1e3
    }
    Stats.median(samples)
  }

  /** The closed loop: each client sends its next request once the last
    * answer is in, in whole rounds, until the run's seconds are up.
    * Returns the answers, their latencies (ns), the window's seconds and
    * the requests that failed in transport.
    */
  private def drive(port: Int, ids: Vector[String],
      ctx: Ctx): (Vector[Answer], Vector[Long], Double, Long) = {
    val pool = Executors.newFixedThreadPool(Clients)
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    try {
      val results = (0 until Clients).map { c =>
        pool.submit(new Callable[Client] {
          def call(): Client = {
            val client = new Client(port, ids, ctx.seed * 31 + c, c, ctx.tracer)
            try client.loop(deadline) finally client.close()
            client
          }
        })
      }.map(_.get())
      val window = (System.nanoTime() - start) / 1e9
      (results.flatMap(_.answers.result()).toVector,
        results.flatMap(_.latencies.result()).toVector, window,
        results.map(_.failed).sum)
    } finally pool.shutdownNow()
  }

  /** One keep-alive connection with its seeded request sequence. Store ids
    * are drawn skewed toward a popular few (rank = n * u^3).
    */
  private final class Client(port: Int, ids: Vector[String], seed: Long,
      n: Int, tracer: Tracer) {
    val answers = Vector.newBuilder[Answer]
    val latencies = Vector.newBuilder[Long]
    var failed = 0L
    private val rnd = new SplittableRandom(seed)
    private var socket: Socket = _
    private var in: BufferedInputStream = _
    private var sent = 0L
    open()

    private def open(): Unit = {
      socket = new Socket("127.0.0.1", port)
      socket.setTcpNoDelay(true)
      socket.setSoTimeout(10000)
      in = new BufferedInputStream(socket.getInputStream)
    }

    def close(): Unit = socket.close()

    def loop(deadline: Long): Unit = {
      var round = 0
      while (System.nanoTime() < deadline) {
        tracer.span("serving.requests", s"client-$n-round-$round") {
          (0 until Round).foreach { i =>
            val wrongKey = i == 0
            val inStore = i != 1
            val id =
              if (inStore) ids((ids.size * math.pow(rnd.nextDouble(), 3)).toInt)
              else f"unknown-${rnd.nextInt(1000000)}%06d"
            request(id, wrongKey, inStore)
          }
        }
        round += 1
      }
    }

    private def request(id: String, wrongKey: Boolean, inStore: Boolean): Unit = {
      sent += 1
      val rid = s"r-$n-$sent"
      val body = s"""{"customer_id": "$id"}""".getBytes(UTF_8)
      val head = "POST /v1/churn/predict HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        "Content-Type: application/json\r\n" +
        s"X-API-Key: ${if (wrongKey) "wrong-key" else ApiKey}\r\n" +
        s"X-Request-Id: $rid\r\nContent-Length: ${body.length}\r\n\r\n"
      val t0 = System.nanoTime()
      try {
        val out = socket.getOutputStream
        out.write(head.getBytes(UTF_8) ++ body)
        out.flush()
        val (status, headers, text) = readResponse()
        latencies += System.nanoTime() - t0
        val json = Json.parseFlat(text)
        answers += Answer(id, status,
          json.get("churn_probability").map(_.toDouble),
          json.get("churn_label").map(_.toInt),
          json.get("model_version"), json.get("feature_version"),
          headers.get("x-request-id").contains(rid) &&
            json.get("request_id").contains(rid),
          wrongKey, inStore)
      } catch {
        case _: java.io.IOException =>
          failed += 1
          socket.close()
          open()
      }
    }

    private def readLine(): String = {
      val b = new ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') b.write(c)
        c = in.read()
      }
      b.toString(UTF_8)
    }

    private def readResponse(): (Int, Map[String, String], String) = {
      val status = readLine().split(' ')(1).toInt
      val headers = Iterator.continually(readLine()).takeWhile(_.nonEmpty)
        .map { h =>
          val i = h.indexOf(':')
          h.take(i).trim.toLowerCase -> h.drop(i + 1).trim
        }.toMap
      val body = in.readNBytes(headers("content-length").toInt)
      (status, headers, new String(body, UTF_8))
    }
  }
}

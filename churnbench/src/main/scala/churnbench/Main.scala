package churnbench

import org.apache.spark.sql.SparkSession

/** What one run reports: the checks' verdict, the operations attempted and
  * failed, and metrics by name with their units.
  */
final case class Outcome(failures: Seq[String], attempted: Long, failed: Long,
    metrics: Map[String, (Double, String)])

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, root: String,
    seed: Long, seconds: Double, launchNs: Long) {

  /** Seconds since the launcher started this JVM (epoch clock, since the
    * launch time comes from another process).
    */
  def sinceLaunch: Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - launchNs) / 1e9
  }

  /** A progress line in the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[churnbench] $sinceLaunch%7.2f s  $msg")
}

/** `churnbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --root <dir> --launch-ns <epoch ns>`: runs one workload in a fresh
  * Spark session and prints the outcome as the last line of stdout.
  */
object Main {
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("root")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("root")}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, new Tracer(trace, spark.sparkContext), a("root"),
      a("seed").toLong, a("seconds").toDouble, a("launch-ns").toLong)
    val outcome =
      try {
        val o = workload match {
          case "daily_refresh" => DailyRefresh.run(ctx)
          case "serve" => Serve.run(ctx, a("data"))
          case other => throw new IllegalArgumentException(s"no workload $other")
        }
        if (trace) java.nio.file.Files.writeString(
          java.nio.file.Paths.get(a("trace-out")),
          Tracer.toJson(ctx.tracer.finished()))
        o
      } finally spark.stop()
    // a traced run reports every layer; one its workload never calls
    // reads 0
    val wanted = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val metrics = wanted.map { case (name, unit) =>
      name -> outcome.metrics.getOrElse(name, (0.0, unit)) }.toMap
    val extra = outcome.metrics.keySet -- metrics.keySet
    require(extra.isEmpty, s"unlisted metrics: $extra")
    outcome.failures.foreach(f => System.err.println(s"[check] FAILED: $f"))
    println(Json.render(Map(
      "correct" -> outcome.failures.isEmpty,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })))
    System.out.flush()
    // PredictServer.stop leaves its request executor's threads running,
    // which would keep this JVM alive
    System.exit(0)
  }
}

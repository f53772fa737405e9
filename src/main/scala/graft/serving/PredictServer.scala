package graft.serving

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.common.{Json, JsonIO}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The serving process: an HTTP loop over `Scorer`/`Auth`, mirroring the
  * reference's FastAPI app (`services/api/app/main.py`,
  * `routers/predict.py:64-134`, `auth/api_key.py:17-28`,
  * `schemas/predict.py`) on the JDK's built-in `com.sun.net.httpserver` —
  * no new dependencies.
  *
  * Routes and envelopes (reference parity):
  *   - `POST /v1/churn/predict` — `X-API-Key` auth (constant-time check,
  *     401 `Invalid or missing API key.`), payload validation (422
  *     `Invalid request payload.` with an `errors` list), feature lookup
  *     (404), readiness + feature-version gate (503), scored response
  *     with model/feature versions and the request id.
  *   - `GET /health` / `GET /ready` / `GET /version` — liveness,
  *     readiness checks object (503 when not ready), version report.
  *
  * Request ids propagate from `X-Request-Id` or are minted per request,
  * appear in every response body AND the `X-Request-Id` response header
  * (the reference's RequestContextMiddleware). Counters mirror the
  * reference's observability increments; raw customer ids never reach
  * log lines (only `Auth.customerIdLogHash`).
  *
  * Transport:
  *   - TCP_NODELAY is on. The JDK server sends a response's headers and
  *     body as two writes; with Nagle's algorithm on, the body waits for
  *     the client's delayed ACK (~40 ms on loopback) on every keep-alive
  *     request.
  *   - Request bodies are capped at [[PredictServer.MaxBodyBytes]]: a
  *     larger declared `Content-Length` is answered 413 unread, and no
  *     more than the cap plus one byte is ever read.
  *   - Predict bodies are parsed as JSON ([[graft.common.Json]]) and must
  *     be an object whose top-level `customer_id` is a string.
  *   - `stop()` closes the listener, then shuts down the request pool
  *     and waits for it, so a stopped server leaves no thread behind.
  *
  * Scoring state is immutable after construction (bundle + in-memory
  * feature store), matching the reference's startup-loaded stores; a
  * `None` store/bundle models the not-ready states the reference
  * answers with 503.
  */
final class PredictServer(
    spark: SparkSession,
    apiKey: String,
    bundle: Option[Scorer.Bundle],
    store: Option[Map[String, Scorer.FeatureRecord]],
    port: Int = 0) {
  import PredictServer._

  // The JDK's ServerConfig reads this once, when the JVM creates its
  // first HttpServer, so it must be set before that (ServingSpec's
  // keep-alive latency test fails if it is not).
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", new RootHandler)

  /** Name prefix of this server's request threads. */
  private[graft] val threadNamePrefix =
    s"predict-server-${serverIds.incrementAndGet()}-"
  private val threadIds = new AtomicInteger()
  private val pool = Executors.newFixedThreadPool(4, (r: Runnable) =>
    new Thread(r, threadNamePrefix + threadIds.incrementAndGet()))
  server.setExecutor(pool)

  private val counterMap = new ConcurrentHashMap[String, AtomicLong]()
  private def inc(name: String): Unit =
    counterMap.computeIfAbsent(name, _ => new AtomicLong()).incrementAndGet()
  def counters: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counterMap.forEach((k, v) => b += (k -> v.get()))
    b.result()
  }

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, TimeUnit.SECONDS)) pool.shutdownNow()
  }
  /** Bound port (pass port=0 to let the OS pick a free one). */
  def boundPort: Int = server.getAddress.getPort

  private final case class Resp(status: Int, json: String)

  private def errBody(detail: String, rid: String,
      errors: Option[Seq[(String, String)]] = None): String = {
    val errsPart = errors.map { es =>
      es.map { case (loc, msg) =>
        s"""{"loc": "${JsonIO.escape(loc)}", "msg": "${JsonIO.escape(msg)}"}"""
      }.mkString(""", "errors": [""", ", ", "]")
    }.getOrElse("")
    s"""{"detail": "${JsonIO.escape(detail)}", """ +
      s""""request_id": "${JsonIO.escape(rid)}"$errsPart}"""
  }

  private def route(method: String, path: String,
      presentedKey: Option[String], rid: String, body: String): Resp =
    (method, path) match {
      case ("GET", "/health") => Resp(200, """{"status": "ok"}""")
      case ("GET", "/ready") => ready()
      case ("GET", "/version") => version()
      case ("POST", "/v1/churn/predict") =>
        predict(presentedKey, rid, body)
      case (_, "/v1/churn/predict") | ("POST", "/health" | "/ready" | "/version") =>
        Resp(405, errBody("Method not allowed.", rid))
      case _ => Resp(404, errBody("Not found.", rid))
    }

  private def ready(): Resp = {
    val modelReady = bundle.isDefined
    val featuresReady = store.isDefined
    val all = modelReady && featuresReady
    val versions = bundle.map { b =>
      s""", "model_version": "${JsonIO.escape(b.modelVersion)}"""" +
        s""", "feature_version": "${JsonIO.escape(b.featureVersion)}"""" +
        s""", "approved_model_version": "${JsonIO.escape(b.modelVersion)}""""
    }.getOrElse("")
    Resp(if (all) 200 else 503,
      s"""{"status": "${if (all) "ready" else "not_ready"}", """ +
        s""""checks": {"model_store_ready": $modelReady, """ +
        s""""feature_store_ready": $featuresReady, """ +
        s""""observability_ready": true}$versions}""")
  }

  private def version(): Resp = {
    val versions = bundle.map { b =>
      s""", "model_version": "${JsonIO.escape(b.modelVersion)}"""" +
        s""", "feature_version": "${JsonIO.escape(b.featureVersion)}""""
    }.getOrElse("")
    Resp(200, s"""{"api_name": "graft churn api"$versions}""")
  }

  private def predict(presentedKey: Option[String], rid: String,
      body: String): Resp = {
    if (!Auth.checkApiKey(presentedKey, apiKey)) {
      inc("http_exception_401_total")
      return Resp(401, errBody("Invalid or missing API key.", rid))
    }
    val customerId = requestCustomerId(body) match {
      case Left(error) =>
        inc("http_validation_errors_total")
        return Resp(422, errBody("Invalid request payload.", rid,
          Some(Seq(error))))
      case Right(c) => c
    }
    val st = store.getOrElse {
      inc("prediction_feature_store_not_ready_total")
      return Resp(503, errBody("Latest feature store is not ready.", rid))
    }
    val b = bundle.getOrElse {
      inc("prediction_model_store_not_ready_total")
      return Resp(503, errBody("Model store is not ready.", rid))
    }
    val rec = st.getOrElse(customerId, {
      inc("prediction_feature_miss_total")
      return Resp(404,
        errBody("No serving features found for customer_id.", rid))
    })
    if (rec.featureVersion != b.featureVersion) {
      inc("prediction_feature_version_mismatch_total")
      return Resp(503, errBody(
        "Serving feature version does not match approved model feature " +
          s"version. serving=${rec.featureVersion}, " +
          s"model=${b.featureVersion}", rid))
    }
    val pred = Scorer.predict(b, st, customerId).get
    inc("predictions_total")
    inc(s"predictions_label_${pred.label}_total")
    Resp(200,
      s"""{"customer_id": "${JsonIO.escape(pred.customerId)}", """ +
        s""""churn_probability": ${pred.probability}, """ +
        s""""churn_label": ${pred.label}, """ +
        s""""model_version": "${JsonIO.escape(pred.modelVersion)}", """ +
        s""""feature_version": "${JsonIO.escape(pred.featureVersion)}", """ +
        s""""request_id": "${JsonIO.escape(rid)}"}""")
  }

  /** The trimmed top-level `customer_id` of a predict body, or the
    * (loc, msg) error that refuses the body.
    */
  private def requestCustomerId(
      body: String): Either[(String, String), String] = {
    val parsed = try Json.parse(body) catch {
      case NonFatal(_) => return Left("body" -> "body is not valid JSON.")
    }
    parsed match {
      case o: Map[_, _] => Json.obj(o).get("customer_id") match {
        case None => Left("customer_id" -> "field required")
        case Some(s: String) => s.trim match {
          case "" => Left("customer_id" -> "customer_id must not be blank.")
          case c if c.length > 128 =>
            Left("customer_id" -> "customer_id too long (max 128).")
          case c => Right(c)
        }
        case Some(_) =>
          Left("customer_id" -> "customer_id must be a string.")
      }
      case _ => Left("body" -> "body must be a JSON object.")
    }
  }

  private final class RootHandler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val rid = Auth.requestId(
        Option(ex.getRequestHeaders.getFirst("X-Request-Id")))
      val resp =
        try {
          val tooLong = Option(ex.getRequestHeaders.getFirst("Content-Length"))
            .flatMap(_.trim.toLongOption).exists(_ > MaxBodyBytes)
          val body =
            if (tooLong) Array.emptyByteArray
            else ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
          if (tooLong || body.length > MaxBodyBytes) {
            inc("http_exception_413_total")
            Resp(413, errBody(
              s"Request body too large (max $MaxBodyBytes bytes).", rid))
          } else
            route(ex.getRequestMethod,
              ex.getRequestURI.getPath,
              Option(ex.getRequestHeaders.getFirst("X-API-Key")),
              rid, new String(body, UTF_8))
        } catch {
          case NonFatal(_) =>
            inc("http_exception_500_total")
            Resp(500, errBody("Internal server error.", rid))
        }
      val bytes = resp.json.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.getResponseHeaders.set("X-Request-Id", rid)
      ex.sendResponseHeaders(resp.status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }
}

object PredictServer {
  /** Largest request body the server reads, in bytes. */
  val MaxBodyBytes: Int = 64 * 1024

  private val serverIds = new AtomicInteger()
}

/** CLI entry point: `runMain graft.serving.PredictServerMain
  * <bundleDir> <latestFeaturesPath> [port]` with the API key from
  * `$GRAFT_API_KEY` (reference: `API_KEY` env, `api_key.py:13-14`).
  */
object PredictServerMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PredictServerMain <bundleDir> <latestFeaturesPath> [port]")
    val spark = SparkSession.builder()
      .appName("graft-predict-server")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val apiKey = sys.env.getOrElse("GRAFT_API_KEY", "dev-api-key")
    val bundle = Scorer.loadBundle(spark, args(0))
    val store = Scorer.loadFeatureStore(spark, args(1))
    val port = if (args.length > 2) args(2).toInt else 8080
    val server = new PredictServer(spark, apiKey, Some(bundle),
      Some(store), port)
    server.start()
    println(s"[serving] listening on ${server.boundPort}")
    Thread.currentThread().join()
  }
}

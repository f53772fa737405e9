package graft

import graft.pipeline.ChurnPipeline
import graft.serving.Scorer
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving path (M4-M7): bundle save/approve/load, feature store,
  * version-gated prediction — driven end-to-end off a trained slice.
  */
class ServingSpec extends AnyFunSuite with SparkSpec {

  private lazy val ctx: (ChurnPipeline, Scorer.Bundle, Map[String, Scorer.FeatureRecord]) = {
    import spark.implicits._
    val wh = Files.createTempDirectory("serving_wh").toString
    val rawPath = s"$wh/raw"
    Seq(
      ("A1", "CUST_0001", "delivered", "2025-01-10 10:00:00"),
      ("B1", "CUST_0002", "delivered", "2025-01-20 12:00:00"),
      ("C1", "CUST_0003", "delivered", "2025-02-15 09:00:00"),
      ("A2", "CUST_0001", "delivered", "2025-03-10 11:00:00"),
      ("C2", "CUST_0003", "delivered", "2025-04-10 15:00:00"),
      ("A3", "CUST_0001", "delivered", "2025-05-10 08:30:00"),
      ("Z1", "CUST_9999", "delivered", "2025-06-15 00:00:00"))
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
    Seq("2025-01-31", "2025-02-28", "2025-03-31").foreach { d =>
      p.publishGold(d, s"g-$d"); p.publishLabels(d, s"l-$d")
    }
    val snap = p.publishTrainingSnapshot("r3")
    val tr = graft.ml.ChurnTrainer.train(snap, validationFraction = 0.34)
    p.exportLatestFeatures()

    val bundleDir = s"$wh/bundle"
    Scorer.saveBundle(tr.model, bundleDir, tr.modelVersion,
      p.featureVersion, tr.metrics)
    Scorer.approve(bundleDir, tr.modelVersion)
    val bundle = Scorer.loadBundle(spark, bundleDir)
    val store = Scorer.loadFeatureStore(spark, p.latestFeaturesPath)
    (p, bundle, store)
  }

  test("bundle round-trips with version + approval checks") {
    val (_, bundle, _) = ctx
    assert(bundle.modelVersion.nonEmpty && bundle.featureVersion.nonEmpty)
  }

  test("prediction returns a gated, bounded probability") {
    val (_, bundle, store) = ctx
    val pred = Scorer.predict(bundle, store, "cust_0001").get
    assert(pred.probability >= 0.0 && pred.probability <= 1.0)
    assert(pred.label == 0 || pred.label == 1)
    assert(pred.modelVersion == bundle.modelVersion)
    assert(Scorer.predict(bundle, store, "no_such_customer").isEmpty)
  }

  test("in-process scorer matches the Spark ML pipeline to 1e-12 for every store customer") {
    val (_, bundle, store) = ctx
    assert(store.nonEmpty)
    store.keys.foreach { cid =>
      val fast = Scorer.predict(bundle, store, cid).get
      val oracle = Scorer.predictViaSparkJob(spark, bundle, store, cid).get
      assert(math.abs(fast.probability - oracle.probability) < 1e-12,
        s"$cid: in-process=${fast.probability} spark=${oracle.probability}")
      assert(fast.label == oracle.label)
    }
  }

  test("predict schedules zero Spark jobs per request") {
    val (_, bundle, store) = ctx
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    (1 to 50).foreach { _ =>
      assert(Scorer.predict(bundle, store, "cust_0001").nonEmpty)
    }
    val after = tracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"predict scheduled ${after - before} Spark jobs across 50 requests")
  }

  test("feature-version mismatch is refused, not mis-served") {
    val (_, bundle, store) = ctx
    val tampered = store.map { case (k, v) =>
      k -> v.copy(featureVersion = "stale0000"
      )
    }
    intercept[IllegalStateException] {
      Scorer.predict(bundle, tampered, "cust_0001")
    }
  }

  test("auth utilities: constant-time key check, request id, log hash") {
    import graft.serving.Auth
    assert(Auth.checkApiKey(Some("secret-key"), "secret-key"))
    assert(!Auth.checkApiKey(Some("wrong"), "secret-key"))
    assert(!Auth.checkApiKey(None, "secret-key"))
    assert(!Auth.checkApiKey(Some("anything"), "")) // fail closed
    assert(Auth.requestId(Some("req-123")) == "req-123")
    assert(Auth.requestId(None).length == 36)
    val h = Auth.customerIdLogHash("cust_0001")
    assert(h.length == 12 && h.matches("[0-9a-f]{12}"))
    assert(h == Auth.customerIdLogHash("cust_0001")) // stable
  }

  // --- HTTP loop e2e (reference services/api/tests/test_predict_auth.py:8-20,
  // test_predict_validation.py:8-23, over a real localhost port) ---

  private def http(port: Int, method: String, path: String,
      headers: Map[String, String] = Map.empty,
      body: Option[String] = None): (Int, Map[String, String], String) = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    body.foreach { b =>
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(b.getBytes("UTF-8")) finally os.close()
    }
    val status = c.getResponseCode
    val stream = if (status >= 400) c.getErrorStream else c.getInputStream
    val text = new String(stream.readAllBytes(), "UTF-8")
    val respHeaders = Map("X-Request-Id" ->
      Option(c.getHeaderField("X-Request-Id")).getOrElse(""))
    c.disconnect()
    (status, respHeaders, text)
  }

  private def jsonField(body: String, key: String): Option[String] =
    graft.serving.Scorer.parseFlatJson(body).get(key)

  test("HTTP: auth failure returns 401 with error envelope + request id") {
    val (_, bundle, store) = ctx
    val srv = new graft.serving.PredictServer(
      spark, "test-api-key", Some(bundle), Some(store))
    srv.start()
    try {
      val p = srv.boundPort
      // no key at all (reference test_predict_auth.py)
      val (s1, h1, b1) = http(p, "POST", "/v1/churn/predict",
        body = Some("""{"customer_id": "cust_0001"}"""))
      assert(s1 == 401)
      assert(jsonField(b1, "detail").contains("Invalid or missing API key."))
      assert(jsonField(b1, "request_id").exists(_.nonEmpty))
      assert(h1("X-Request-Id").nonEmpty)
      // wrong key
      val (s2, _, _) = http(p, "POST", "/v1/churn/predict",
        headers = Map("X-API-Key" -> "nope"),
        body = Some("""{"customer_id": "cust_0001"}"""))
      assert(s2 == 401)
    } finally srv.stop()
  }

  test("HTTP: validation failure returns 422 with errors list") {
    val (_, bundle, store) = ctx
    val srv = new graft.serving.PredictServer(
      spark, "test-api-key", Some(bundle), Some(store))
    srv.start()
    try {
      val p = srv.boundPort
      // blank customer_id (reference test_predict_validation.py)
      val (s1, _, b1) = http(p, "POST", "/v1/churn/predict",
        headers = Map("X-API-Key" -> "test-api-key"),
        body = Some("""{"customer_id": "   "}"""))
      assert(s1 == 422)
      assert(jsonField(b1, "detail").contains("Invalid request payload."))
      assert(jsonField(b1, "request_id").exists(_.nonEmpty))
      assert(b1.contains("\"errors\": ["))
      // missing field entirely
      val (s2, _, _) = http(p, "POST", "/v1/churn/predict",
        headers = Map("X-API-Key" -> "test-api-key"), body = Some("{}"))
      assert(s2 == 422)
    } finally srv.stop()
  }

  test("HTTP: successful predict returns scored envelope; 404 on miss") {
    val (_, bundle, store) = ctx
    val srv = new graft.serving.PredictServer(
      spark, "test-api-key", Some(bundle), Some(store))
    srv.start()
    try {
      val p = srv.boundPort
      val (s1, h1, b1) = http(p, "POST", "/v1/churn/predict",
        headers = Map("X-API-Key" -> "test-api-key",
          "X-Request-Id" -> "req-e2e-1"),
        body = Some("""{"customer_id": "cust_0001"}"""))
      assert(s1 == 200)
      assert(jsonField(b1, "customer_id").contains("cust_0001"))
      val prob = jsonField(b1, "churn_probability").get.toDouble
      assert(prob >= 0.0 && prob <= 1.0)
      assert(Set("0", "1").contains(jsonField(b1, "churn_label").get))
      assert(jsonField(b1, "model_version").contains(bundle.modelVersion))
      assert(jsonField(b1, "request_id").contains("req-e2e-1")) // propagated
      assert(h1("X-Request-Id") == "req-e2e-1")
      val (s2, _, b2) = http(p, "POST", "/v1/churn/predict",
        headers = Map("X-API-Key" -> "test-api-key"),
        body = Some("""{"customer_id": "no_such_customer"}"""))
      assert(s2 == 404)
      assert(jsonField(b2, "detail")
        .contains("No serving features found for customer_id."))
      assert(srv.counters.getOrElse("predictions_total", 0L) == 1L)
    } finally srv.stop()
  }

  test("HTTP: not-ready stores answer 503; health/ready/version routes") {
    val (_, bundle, store) = ctx
    val notReady = new graft.serving.PredictServer(
      spark, "test-api-key", None, None)
    notReady.start()
    try {
      val p = notReady.boundPort
      val (hs, _, hb) = http(p, "GET", "/health")
      assert(hs == 200 && jsonField(hb, "status").contains("ok"))
      val (rs, _, rb) = http(p, "GET", "/ready")
      assert(rs == 503 && jsonField(rb, "status").contains("not_ready"))
      val (ps, _, pb) = http(p, "POST", "/v1/churn/predict",
        headers = Map("X-API-Key" -> "test-api-key"),
        body = Some("""{"customer_id": "cust_0001"}"""))
      assert(ps == 503)
      assert(jsonField(pb, "detail")
        .contains("Latest feature store is not ready."))
    } finally notReady.stop()

    // feature-version mismatch -> 503, never a mis-served score
    val stale = store.map { case (k, v) =>
      k -> v.copy(featureVersion = "stale0000")
    }
    val mismatched = new graft.serving.PredictServer(
      spark, "test-api-key", Some(bundle), Some(stale))
    mismatched.start()
    try {
      val p = mismatched.boundPort
      val (rs, _, rb) = http(p, "GET", "/ready")
      assert(rs == 200 && jsonField(rb, "status").contains("ready"))
      val (s, _, b) = http(p, "POST", "/v1/churn/predict",
        headers = Map("X-API-Key" -> "test-api-key"),
        body = Some("""{"customer_id": "cust_0001"}"""))
      assert(s == 503)
      assert(jsonField(b, "detail").exists(
        _.startsWith("Serving feature version does not match")))
      val (vs, _, vb) = http(p, "GET", "/version")
      assert(vs == 200 &&
        jsonField(vb, "model_version").contains(bundle.modelVersion))
    } finally mismatched.stop()
  }

  /** One raw keep-alive connection: requests go out as single writes and
    * responses are read by their `Content-Length`, so a test sees exactly
    * what the server sends and when.
    */
  private final class RawConn(port: Int) extends AutoCloseable {
    private val socket = new java.net.Socket("127.0.0.1", port)
    socket.setTcpNoDelay(true)
    socket.setSoTimeout(10000)
    private val in = new java.io.BufferedInputStream(socket.getInputStream)

    def send(bytes: Array[Byte]): Unit = {
      socket.getOutputStream.write(bytes)
      socket.getOutputStream.flush()
    }

    def predict(body: String, key: String = "test-api-key"): Unit = {
      val b = body.getBytes("UTF-8")
      send((s"POST /v1/churn/predict HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"X-API-Key: $key\r\nContent-Length: ${b.length}\r\n\r\n")
        .getBytes("UTF-8") ++ b)
    }

    private def line(): String = {
      val b = new java.io.ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') b.write(c)
        c = in.read()
      }
      b.toString("UTF-8")
    }

    /** (status, lower-cased headers, body) of the next response. */
    def response(): (Int, Map[String, String], String) = {
      val status = line().split(' ')(1).toInt
      val headers = Iterator.continually(line()).takeWhile(_.nonEmpty)
        .map { h =>
          val i = h.indexOf(':')
          h.take(i).trim.toLowerCase -> h.drop(i + 1).trim
        }.toMap
      val body = in.readNBytes(headers("content-length").toInt)
      (status, headers, new String(body, "UTF-8"))
    }

    def close(): Unit = socket.close()
  }

  private def withServer(body: graft.serving.PredictServer => Unit): Unit = {
    val (_, bundle, store) = ctx
    val srv = new graft.serving.PredictServer(
      spark, "test-api-key", Some(bundle), Some(store))
    srv.start()
    try body(srv) finally srv.stop()
  }

  test("HTTP: keep-alive predicts are not held back by a delayed ACK") {
    withServer { srv =>
      val conn = new RawConn(srv.boundPort)
      try {
        val nanos = (1 to 40).map { _ =>
          val t0 = System.nanoTime()
          conn.predict("""{"customer_id": "cust_0001"}""")
          val (status, _, _) = conn.response()
          assert(status == 200)
          System.nanoTime() - t0
        }.sorted
        // with Nagle on at the server, each answer waits ~40 ms for the
        // client's delayed ACK; with TCP_NODELAY it takes well under 1 ms
        val medianMs = nanos(nanos.size / 2) / 1e6
        assert(medianMs < 10.0, s"median keep-alive latency $medianMs ms")
      } finally conn.close()
    }
  }

  test("HTTP: oversized bodies get 413 and the server keeps answering") {
    withServer { srv =>
      val cap = graft.serving.PredictServer.MaxBodyBytes
      val big = Array.fill[Byte](1 << 20)('x')
      // the client keeps writing while the server answers unread and
      // closes, so its writes may fail; only the answer matters
      def oversized(head: String, body: Array[Byte]): (Int, String) = {
        val conn = new RawConn(srv.boundPort)
        try {
          val writer = new Thread(() =>
            try conn.send(head.getBytes("UTF-8") ++ body)
            catch { case _: java.io.IOException => })
          writer.start()
          val (status, headers, text) = conn.response()
          assert(headers("x-request-id") == "req-big")
          writer.join(10000)
          (status, text)
        } finally conn.close()
      }
      val head = "POST /v1/churn/predict HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        "X-API-Key: test-api-key\r\nX-Request-Id: req-big\r\n"
      // declared over the cap: refused before the body is read
      val (s1, b1) = oversized(
        head + s"Content-Length: ${big.length}\r\n\r\n", big)
      assert(s1 == 413)
      assert(jsonField(b1, "detail")
        .contains(s"Request body too large (max $cap bytes)."))
      assert(jsonField(b1, "request_id").contains("req-big"))
      // no declared length (one 1 MiB chunk): refused after cap + 1 bytes
      val (s2, b2) = oversized(
        head + "Transfer-Encoding: chunked\r\n\r\n",
        s"${Integer.toHexString(big.length)}\r\n".getBytes("UTF-8") ++ big ++
          "\r\n0\r\n\r\n".getBytes("UTF-8"))
      assert(s2 == 413)
      assert(jsonField(b2, "request_id").contains("req-big"))
      assert(srv.counters.getOrElse("http_exception_413_total", 0L) == 2L)
      // a body at the cap is read and parsed as usual
      val padded = """{"customer_id": "cust_0001"}""".padTo(cap, ' ')
      val (s3, _, b3) = http(srv.boundPort, "POST", "/v1/churn/predict",
        headers = Map("X-API-Key" -> "test-api-key"), body = Some(padded))
      assert(s3 == 200 && jsonField(b3, "customer_id").contains("cust_0001"))
    }
  }

  test("HTTP: predict bodies are parsed strictly as one JSON object") {
    withServer { srv =>
      val conn = new RawConn(srv.boundPort)
      try {
        def refused(body: String, loc: String, msg: String): Unit = {
          conn.predict(body)
          val (status, _, text) = conn.response()
          assert(status == 422, s"$body -> $status $text")
          assert(jsonField(text, "detail").contains("Invalid request payload."))
          assert(text.contains(
            s""""errors": [{"loc": "$loc", "msg": "$msg"}]"""), text)
        }
        refused("""{"x": {"customer_id": "cust_0001"}}""",
          "customer_id", "field required")
        refused("""["cust_0001"]""", "body", "body must be a JSON object.")
        refused(""""cust_0001"""", "body", "body must be a JSON object.")
        refused("""{"customer_id": "cust_0001"""", "body",
          "body is not valid JSON.")
        refused("""{"customer_id": "cust_0001"} trailing""", "body",
          "body is not valid JSON.")
        refused("", "body", "body is not valid JSON.")
        refused("""{"customer_id": 1}""", "customer_id",
          "customer_id must be a string.")
        refused("""{"customer_id": ["cust_0001"]}""", "customer_id",
          "customer_id must be a string.")
        // deep nesting inside the cap is refused, not a stack overflow
        refused("[" * 60000, "body", "body is not valid JSON.")
        assert(srv.counters.getOrElse("http_validation_errors_total", 0L) == 9L)
        // the same connection still scores a well-formed body
        conn.predict("""{"other": {"a": [1, 2]}, "customer_id": " cust_0001 "}""")
        val (status, _, text) = conn.response()
        assert(status == 200 && jsonField(text, "customer_id").contains("cust_0001"))
      } finally conn.close()
    }
  }

  test("stop() leaves no thread of the server's request pool alive") {
    val (_, bundle, store) = ctx
    val srv = new graft.serving.PredictServer(
      spark, "test-api-key", Some(bundle), Some(store))
    srv.start()
    // concurrent requests make the pool start more than one thread
    val clients = (1 to 4).map(_ => new RawConn(srv.boundPort))
    clients.foreach(_.predict("""{"customer_id": "cust_0001"}"""))
    clients.foreach(c => assert(c.response()._1 == 200))
    def poolThreads = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread])
      .filter(_.getName.startsWith(srv.threadNamePrefix))
    assert(poolThreads.nonEmpty)
    srv.stop()
    clients.foreach(_.close())
    // a thread leaves the set a moment after its pool reports termination
    poolThreads.foreach(_.join(10000))
    assert(poolThreads.filter(_.isAlive).isEmpty,
      poolThreads.map(_.getName).mkString(", "))
  }

  test("unapproved model version refuses to load") {
    val (p, bundle, _) = ctx
    val dir = Files.createTempDirectory("bundle2").toString
    // reuse saved model but approve a different version
    Scorer.saveBundle(bundle.model, dir, "deadbeef00000000",
      p.featureVersion, Map.empty)
    Scorer.approve(dir, "someother0000000")
    intercept[IllegalStateException] { Scorer.loadBundle(spark, dir) }
  }
}

package graft.schema

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.codec.{ConfluentWire, GlueWire}
import graft.gen.{EventGenerator, KafkaEnvelope}
import graft.medallion.MedallionSpec.chainGold

/** In-process Confluent-REST-API server (JDK HttpServer, port 0) over
  * an [[InMemorySchemaRegistry]] — the fixture that lets the REAL HTTP
  * client be exercised without a network: same endpoints, same JSON
  * shapes, same 404 semantics as the public API.
  */
class TestSchemaRegistryServer {
  private val delegate = new InMemorySchemaRegistry
  val requests = new AtomicInteger(0)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/vnd.schemaregistry.v1+json")
    x.sendResponseHeaders(code, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  server.createContext("/", (x: HttpExchange) => try {
    requests.incrementAndGet()
    val path = x.getRequestURI.getPath
    val SubjectsVersions = "/subjects/([^/]+)/versions".r
    val SubjectsLatest = "/subjects/([^/]+)/versions/latest".r
    val SubjectsVersionN = "/subjects/([^/]+)/versions/(\\d+)".r
    val SchemaById = "/schemas/ids/(\\d+)".r
    val ConfigSubject = "/config/([^/]+)".r
    val CompatAll = "/compatibility/subjects/([^/]+)/versions".r
    (x.getRequestMethod, path) match {
      case ("POST", SubjectsVersions(subject)) =>
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        (JsonMethods.parse(body) \ "schema") match {
          case JString(schemaText) =>
            try {
              val id = delegate.register(subject,
                new org.apache.avro.Schema.Parser().parse(schemaText))
              respond(x, 200, s"""{"id":$id}""")
            } catch { case e: SchemaIncompatibleException =>
              // the public API's rejection shape: 409 + error body
              respond(x, 409, JsonMethods.compact(JsonMethods.render(JObject(
                "error_code" -> JInt(409),
                "message" -> JString(e.getMessage)))))
            }
          case _ => respond(x, 422, """{"error_code":42201,"message":"bad schema"}""")
        }
      case ("PUT", ConfigSubject(subject)) =>
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        (JsonMethods.parse(body) \ "compatibility") match {
          case JString(mode) =>
            delegate.setCompatibility(subject, Compatibility.of(mode))
            respond(x, 200, s"""{"compatibility":"$mode"}""")
          case _ => respond(x, 422, """{"error_code":42203,"message":"bad mode"}""")
        }
      case ("GET", ConfigSubject(subject)) =>
        respond(x, 200,
          s"""{"compatibilityLevel":"${delegate.compatibilityOf(subject).name}"}""")
      case ("POST", CompatAll(subject)) =>
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        (JsonMethods.parse(body) \ "schema") match {
          case JString(schemaText) =>
            // the public API 404s a subject with no versions
            if (delegate.versionIds(subject).isEmpty)
              respond(x, 404, """{"error_code":40401,"message":"subject not found"}""")
            else {
              val ok = delegate.testCompatibility(subject,
                new org.apache.avro.Schema.Parser().parse(schemaText)).isEmpty
              respond(x, 200, s"""{"is_compatible":$ok}""")
            }
          case _ => respond(x, 422, """{"error_code":42201,"message":"bad schema"}""")
        }
      case ("GET", SubjectsLatest(subject)) =>
        delegate.latest(subject) match {
          case Some((id, schema)) =>
            val j = JObject("subject" -> JString(subject), "version" -> JInt(1),
              "id" -> JInt(id), "schema" -> JString(schema.toString))
            respond(x, 200, JsonMethods.compact(JsonMethods.render(j)))
          case None =>
            respond(x, 404, """{"error_code":40401,"message":"subject not found"}""")
        }
      case ("GET", SubjectsVersionN(subject, n)) =>
        delegate.versionIds(subject).lift(n.toInt - 1) match {
          case Some(id) =>
            val j = JObject("subject" -> JString(subject), "version" -> JInt(n.toInt),
              "id" -> JInt(id), "schema" -> JString(delegate.getById(id).toString))
            respond(x, 200, JsonMethods.compact(JsonMethods.render(j)))
          case None =>
            respond(x, 404, """{"error_code":40402,"message":"version not found"}""")
        }
      case ("GET", SubjectsVersions(subject)) =>
        val ids = delegate.versionIds(subject)
        if (ids.isEmpty)
          respond(x, 404, """{"error_code":40401,"message":"subject not found"}""")
        else respond(x, 200, JsonMethods.compact(JsonMethods.render(
          JArray((1 to ids.size).map(JInt(_): JValue).toList))))
      case ("GET", SchemaById(id)) =>
        try respond(x, 200, JsonMethods.compact(JsonMethods.render(
          JObject("schema" -> JString(delegate.getById(id.toInt).toString)))))
        catch { case _: NoSuchElementException =>
          respond(x, 404, """{"error_code":40403,"message":"schema not found"}""")
        }
      case ("GET", "/subjects") =>
        respond(x, 200, JsonMethods.compact(JsonMethods.render(
          JArray(delegate.subjectNames.map(JString(_)).toList))))
      case _ =>
        respond(x, 404, """{"error_code":404,"message":"no such route"}""")
    }
  } catch { case e: Throwable => respond(x, 500, s"""{"message":"${e.getMessage}"}""") })

  server.start()
  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)
}

class HttpSchemaRegistrySpec extends SparkTestBase {

  private def withServer[T](f: TestSchemaRegistryServer => T): T = {
    val s = new TestSchemaRegistryServer
    try f(s) finally s.stop()
  }

  test("register/getById/latest round-trip over real HTTP, idempotent re-register") {
    withServer { srv =>
      val reg = new HttpSchemaRegistry(srv.url)
      val v1 = graft.schema.ProductSchemas.v1
      val v2 = graft.schema.ProductSchemas.v2
      val id1 = reg.register("product-value", v1)
      val id2 = reg.register("product-value", v2)
      assert(id1 != id2)
      assert(reg.register("product-value", v1) == id1, "re-register must return the same id")
      // a FRESH client resolves ids it never registered (server-side state)
      val reader = new HttpSchemaRegistry(srv.url)
      assert(reader.getById(id1).toString == v1.toString)
      assert(reader.latest("product-value").map(_._1).contains(id2))
      assert(reader.latest("no-such-subject").isEmpty)
      intercept[NoSuchElementException](reader.getById(9999))
    }
  }

  test("the compatibility gate works over the wire: FULL pin, 409 reject, test endpoint") {
    withServer { srv =>
      val reg = new HttpSchemaRegistry(srv.url)
      reg.register("product-value", graft.schema.ProductSchemas.v1)
      // the server default is already FULL; pin it explicitly the way
      // the reference producer does (producer.scala:60) and read back
      reg.setCompatibility("product-value", Compatibility.Full)
      assert(reg.getCompatibility("product-value").contains(Compatibility.Full))
      // v2 (defaulted adds) admits; the breaking v3 comes back 409
      assert(reg.testCompatibility("product-value", graft.schema.ProductSchemas.v2))
      assert(!reg.testCompatibility("product-value",
        graft.schema.ProductSchemas.v3Incompatible))
      reg.register("product-value", graft.schema.ProductSchemas.v2)
      val e = intercept[SchemaIncompatibleException](
        reg.register("product-value", graft.schema.ProductSchemas.v3Incompatible))
      assert(e.getMessage.contains("409"))
      // the rejected schema must not have entered the subject history
      val reader = new HttpSchemaRegistry(srv.url)
      assert(reader.latest("product-value").map(_._2.toString)
        .contains(graft.schema.ProductSchemas.v2.toString))
      // a NONE-pinned subject admits the same change
      reg.setCompatibility("free", Compatibility.None)
      reg.register("free", graft.schema.ProductSchemas.v1)
      reg.register("free", graft.schema.ProductSchemas.v3Incompatible)
      // a subject with NO versions is vacuously admissible over the
      // wire too (the API 404s; the client maps that to true, matching
      // the in-memory predicate)
      assert(reg.testCompatibility("never-registered",
        graft.schema.ProductSchemas.v1))
      // the test endpoint answers against the FULL history for a
      // transitive pin: history [double, long] built under NONE, then
      // a long candidate is fine vs latest (long) but cannot read the
      // older double data — only the transitive mode catches it
      val lng = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"R","fields":[{"name":"x","type":"long"}]}""")
      val dbl = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"R","fields":[{"name":"x","type":"double"}]}""")
      reg.setCompatibility("tr", Compatibility.None)
      reg.register("tr", dbl)
      reg.register("tr", lng)
      reg.setCompatibility("tr", Compatibility.Backward)
      assert(reg.testCompatibility("tr", lng), "vs latest only: admissible")
      reg.setCompatibility("tr", Compatibility.BackwardTransitive)
      assert(!reg.testCompatibility("tr", lng),
        "transitive must consult the double history, not just latest")
    }
  }

  test("transient 5xx and connect failures retry with backoff; 4xx never retries") {
    // a flaky front that fails the FIRST n attempts of each path
    // with 503, then proxies to the real logic
    withServer { srv =>
      val flakyFirst = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val front = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      val attempts = new AtomicInteger(0)
      front.createContext("/", { (x: HttpExchange) =>
        attempts.incrementAndGet()
        val key = x.getRequestURI.getPath
        val n = flakyFirst.merge(key, 1, (a, b) => a + b)
        if (n <= 2) {
          val b = """{"message":"unavailable"}""".getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(503, b.length); x.getResponseBody.write(b); x.close()
        } else {
          // proxy by re-issuing against the healthy server
          val resp = java.net.http.HttpClient.newHttpClient().send(
            java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"${srv.url}$key"))
              .method(x.getRequestMethod,
                java.net.http.HttpRequest.BodyPublishers.ofByteArray(
                  x.getRequestBody.readAllBytes()))
              .header("Content-Type", "application/vnd.schemaregistry.v1+json")
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          val b = resp.body().getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(resp.statusCode(), b.length)
          x.getResponseBody.write(b); x.close()
        }
      })
      front.start()
      try {
        val url = s"http://127.0.0.1:${front.getAddress.getPort}"
        // 3 attempts ride out 2 failures; register lands on attempt 3
        val reg = new HttpSchemaRegistry(url, maxAttempts = 3, backoffMs = 5L)
        val id = reg.register("p", graft.schema.ProductSchemas.v1)
        assert(new HttpSchemaRegistry(srv.url).getById(id).toString ==
          graft.schema.ProductSchemas.v1.toString)
        // a registry with too few attempts surfaces the transient error
        intercept[java.io.IOException](new HttpSchemaRegistry(url,
          maxAttempts = 2, backoffMs = 5L).latest("p"))
        // 404 is definitive: with 5 attempts allowed, the path sees
        // exactly 3 (2 retried 503s + the final 404), never 5
        val before = attempts.get()
        intercept[NoSuchElementException](new HttpSchemaRegistry(url,
          maxAttempts = 5, backoffMs = 5L).getById(424242))
        assert(attempts.get() - before == 3,
          "a definitive 4xx answer must stop the retry loop immediately")
      } finally front.stop(0)
    }
  }

  test("responses are cached: repeated decode never goes back to the network") {
    withServer { srv =>
      val reg = new HttpSchemaRegistry(srv.url)
      val id = reg.register("p", graft.schema.ProductSchemas.v1)
      val reader = new HttpSchemaRegistry(srv.url)
      reader.getById(id)
      val after = srv.requests.get()
      (0 until 50).foreach(_ => reader.getById(id))
      (0 until 50).foreach(_ => reader.uuidFor(id))
      assert(srv.requests.get() == after, "cached lookups must not re-fetch")
    }
  }

  test("Glue-style UUID resolution falls back to one subjects scan on a fresh client") {
    withServer { srv =>
      val writer = new HttpSchemaRegistry(srv.url)
      // v1 AND v2 under one subject: data on disk is routinely one
      // evolution behind, so the scan must surface OLDER versions the
      // registry still holds, not just each subject's latest
      val id1 = writer.register("product-value", graft.schema.ProductSchemas.v1)
      val id2 = writer.register("product-value", graft.schema.ProductSchemas.v2)
      val uuid1 = writer.uuidFor(id1)
      val reader = new HttpSchemaRegistry(srv.url) // cold cache
      assert(reader.idFor(uuid1) == id1,
        "a pre-evolution schema's UUID must resolve from the scan")
      assert(reader.getByUuid(uuid1).toString == graft.schema.ProductSchemas.v1.toString)
      assert(reader.idFor(writer.uuidFor(id2)) == id2)
      intercept[NoSuchElementException](
        reader.idFor(java.util.UUID.randomUUID()))
    }
  }

  test("Glue-wire ingest resolves UUIDs over live HTTP from a COLD consumer client") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withServer { srv =>
      val producer = new HttpSchemaRegistry(srv.url)
      val gen = new EventGenerator(seed = 77)
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaEnvelope]
      stream.addData(gen.envelopes(gen.events(30), producer, GlueWire))
      // the consumer is a DIFFERENT process in the reference
      // (ingest.scala:133-171): its registry cache is cold, so each
      // distinct per-batch UUID must resolve through the HTTP
      // subjects scan from INSIDE RawIngest.run — the prior pipeline
      // test shared the producer's warm client and never exercised it
      val consumer = new HttpSchemaRegistry(srv.url)
      val before = srv.requests.get()
      val raw = tmpDir("glue-e2e-raw")
      graft.ingest.RawIngest.run(stream.toDF(), consumer, GlueWire, raw,
        tmpDir("glue-e2e-ck")).awaitTermination()
      assert(srv.requests.get() > before,
        "the cold client must have resolved UUIDs over HTTP mid-stream")
      val out = graft.ingest.RawIngest.readRaw(spark, raw)
      assert(out.count() == 30)
      assert(out.where(col("parsedValue.productId").isNotNull).count() == 30,
        "every row decoded through the scan-resolved writer schemas")
      // both writer versions arrived (v1 lacks size/color)
      assert(out.where(col("parsedValue.size").isNull).count() > 0)
      assert(out.where(col("parsedValue.size").isNotNull).count() > 0)
    }
  }

  test("the full pipeline runs against the HTTP registry over both wire formats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withServer { srv =>
      for ((wire, tag) <- Seq((ConfluentWire, "confluent"), (GlueWire, "glue"))) {
        val reg = new HttpSchemaRegistry(srv.url)
        val gen = new EventGenerator(seed = 61)
        val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaEnvelope]
        stream.addData(gen.envelopes(gen.events(40), reg, wire))
        val gold = chainGold(spark, stream.toDF(), reg, wire, tmpDir(s"http-reg-$tag"))
        assert(gold.agg(sum("count_type")).collect().head.getLong(0) == 40L,
          s"wire format $tag through the HTTP registry")
      }
    }
  }
}

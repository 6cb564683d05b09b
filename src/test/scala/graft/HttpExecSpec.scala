package graft

import graft.cel.{Cel, Eval}
import graft.sources.{HttpExec, HttpSourceProvider}
import graft.values.JsonAlgebra
import org.apache.spark.sql.functions._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64

/** Executing HTTP surface (reference lib/http.go post :585-635,
  * head :518-548, do_request :826-854, basic auth :783-824) against a
  * local stub server — the same programs as the reference's live-server
  * goldens (testdata/post.txt, request_do.txt, head.txt,
  * basic_auth.txt), with the stub standing in for www.example.com.
  */
class HttpExecSpec extends SparkSpec {

  private val NOW = 1704067200000000L

  private def eval(src: String): String =
    Cel.evalOnce(src, "null", NOW, Map.empty, "", None)

  private def withServer(f: (HttpServer, String) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.start()
    try f(server, s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  test("post executes and returns the respToMap shape (testdata/post.txt)") {
    withServer { (server, base) =>
      val gotBody = new java.util.concurrent.atomic.AtomicReference[String]("")
      val gotCt = new java.util.concurrent.atomic.AtomicReference[String]("")
      server.createContext("/", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          gotBody.set(new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
          gotCt.set(x.getRequestHeaders.getFirst("Content-Type"))
          val body = "stub-response".getBytes(StandardCharsets.UTF_8)
          x.getResponseHeaders.add("Content-Type", "text/html; charset=UTF-8")
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        }
      })
      // same program as post.txt, volatile headers dropped
      val got = eval(s"""post("$base/", "text/plain", "test").drop(["Header.Date"])""")
      assert(gotBody.get() == "test")
      assert(gotCt.get() == "text/plain")
      val want =
        s"""{
           |"Body": "${b64("stub-response")}",
           |"Close": false,
           |"ContentLength": 13,
           |"Header": {"Content-Length": ["13"], "Content-Type": ["text/html; charset=UTF-8"]},
           |"Proto": "HTTP/1.1", "ProtoMajor": 1, "ProtoMinor": 1,
           |"Request": {
           |  "Close": false, "ContentLength": 4,
           |  "Header": {"Content-Type": ["text/plain"]},
           |  "Host": "${HttpExec.host(base)}", "Method": "POST",
           |  "Proto": "HTTP/1.1", "ProtoMajor": 1, "ProtoMinor": 1,
           |  "URL": "$base/"
           |},
           |"Status": "200 OK", "StatusCode": 200, "Uncompressed": false
           |}""".stripMargin
      assert(Eval.parseV(got) == Eval.parseV(want))
    }
  }

  test("get() over a literal state is requested once per row, not once per plan") {
    withServer { (server, base) =>
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      server.createContext("/", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          hits.incrementAndGet()
          val body = "ok".getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        }
      })
      // the Bench net shapes' form: an executing call over lit("null")
      val got = spark.range(20)
        .select(Cel(s"string(get('$base/').Body)", lit("null"), nowMicros = NOW))
        .collect().map(_.getString(0))
      assert(got.toSeq == Seq.fill(20)("\"ok\""))
      assert(hits.get() == 20)
    }
  }

  test("head executes with no body (testdata/head.txt shape)") {
    withServer { (server, base) =>
      val method = new java.util.concurrent.atomic.AtomicReference[String]("")
      server.createContext("/", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          method.set(x.getRequestMethod)
          x.sendResponseHeaders(200, -1); x.close()
        }
      })
      val got = JsonAlgebra.parse(eval(s"""head("$base/")"""))
      assert(method.get() == "HEAD")
      assert(got.get("StatusCode").asLong() == 200L)
      assert(got.get("Body").asText() == "")
      assert(got.get("Request").get("Method").asText() == "HEAD")
      assert(got.get("Status").asText() == "200 OK")
    }
  }

  test("do_request executes a built request map (testdata/request_do.txt)") {
    withServer { (server, base) =>
      val gotBody = new java.util.concurrent.atomic.AtomicReference[String]("")
      server.createContext("/", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          gotBody.set(new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
          val body = "do-request-response".getBytes(StandardCharsets.UTF_8)
          x.getResponseHeaders.add("Content-Type", "text/html; charset=UTF-8")
          x.getResponseHeaders.add("Accept-Ranges", "bytes")
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        }
      })
      val got = JsonAlgebra.parse(eval(
        s"""post_request("$base/", "text/plain", "request data").do_request().drop(["Header.Date"])"""))
      assert(gotBody.get() == "request data")
      assert(got.get("StatusCode").asLong() == 200L)
      assert(got.get("Body").asText() == b64("do-request-response"))
      assert(got.get("Header").get("Accept-Ranges").get(0).asText() == "bytes")
      val req = got.get("Request")
      assert(req.get("Method").asText() == "POST")
      assert(req.get("ContentLength").asLong() == 12L)
      assert(req.get("Header").get("Content-Type").get(0).asText() == "text/plain")
    }
  }

  test("basic_authentication + do_request replays testdata/basic_auth.txt") {
    withServer { (server, base) =>
      server.createContext("/", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          val auth = Option(x.getRequestHeaders.getFirst("Authorization"))
          val creds = auth.filter(_.startsWith("Basic "))
            .map(a => new String(Base64.getDecoder.decode(a.stripPrefix("Basic ")),
              StandardCharsets.UTF_8))
          val reply = creds match {
            case Some(c) if c == "user:password" => "hello\n"
            case Some(c) if c.startsWith("user:") => "password mismatch"
            case _ => "user mismatch"
          }
          val body = reply.getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        }
      })
      val got = JsonAlgebra.parse(eval(
        s"""{
           |  "no_auth": string(request("GET", "$base/").do_request().Body),
           |  "mismatch_user": string(request("GET", "$base/").basic_authentication("", "").do_request().Body),
           |  "mismatch_pass": string(request("GET", "$base/").basic_authentication("user", "").do_request().Body),
           |  "matched": string(request("GET", "$base/").basic_authentication("user", "password").do_request().Body),
           |}""".stripMargin))
      assert(got.get("no_auth").asText() == "user mismatch")
      assert(got.get("mismatch_user").asText() == "user mismatch")
      assert(got.get("mismatch_pass").asText() == "password mismatch")
      assert(got.get("matched").asText() == "hello\n")
    }
  }

  test("request-as-data builders render the reqToMap shape (testdata/request.txt)") {
    val got = JsonAlgebra.parse(eval(
      """post_request("http://www.example.com/", "text/plain", "request data")"""))
    assert(got.get("Method").asText() == "POST")
    assert(got.get("Host").asText() == "www.example.com")
    assert(got.get("ContentLength").asLong() == 12L)
    assert(got.get("Body").asText() == "request data")
    assert(got.get("Header").get("Content-Type").get(0).asText() == "text/plain")
    assert(got.get("Proto").asText() == "HTTP/1.1")
  }

  test("Column tier http_post / http_do_request execute per row") {
    withServer { (server, base) =>
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      server.createContext("/echo", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          hits.incrementAndGet()
          val in = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val body = s"""{"echo":$in}""".getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        }
      })
      import graft.functions._
      val df = spark.range(3).select(
        http_post(lit(s"$base/echo"), lit("application/json"),
          concat(lit("{\"id\":"), col("id").cast("string"), lit("}"))).as("r"))
        .select(col("r.StatusCode").as("code"), col("r.Body").cast("string").as("body"))
      val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._2)
      assert(rows.forall(_._1 == 200L))
      assert(rows.map(_._2).toSeq == Seq(
        """{"echo":{"id":0}}""", """{"echo":{"id":1}}""", """{"echo":{"id":2}}"""))
      assert(hits.get() == 3)

      val df2 = spark.range(1).select(
        http_do_request(basic_authentication(
          request(lit("GET"), lit(s"$base/echo"), lit(null).cast("binary")),
          lit("u"), lit("p"))).as("r"))
        .select(col("r.StatusCode").as("code"))
      assert(df2.head.getLong(0) == 200L)
    }
  }

  test("Column tier surfaces transport errors in-band, not as task failure") {
    import graft.functions._
    // port 9 (discard) is closed: connection refused must become an
    // error-shaped row (reference types.NewErr), not a thrown exception
    val r0 = spark.range(1).select(
      http_get(lit("http://127.0.0.1:9/nope")).as("r"))
      .select(col("r.StatusCode").as("code"), col("r.Error").as("err")).head
    assert(r0.isNullAt(0) && r0.getString(1) != null)

    val reqRow = spark.range(1).select(
      http_do_request(request(lit("GET"), lit(null).cast("string"),
        lit(null).cast("binary"))).as("r"))
      .select(col("r.Error")).head
    assert(reqRow.getString(0) == "do_request: null URL")
  }

  test("RateGate.ensure reconfigures on changed settings and un-throttles on 0") {
    import graft.sources.RateGate
    RateGate.ensure("ensure-test", 5.0, 2)
    assert(RateGate.isConfigured("ensure-test"))
    // same settings: no-op (token state preserved) — still configured
    RateGate.ensure("ensure-test", 5.0, 2)
    assert(RateGate.isConfigured("ensure-test"))
    // different rate takes effect: 1000/s bucket never blocks noticeably
    RateGate.ensure("ensure-test", 1000.0, 4)
    val t0 = System.nanoTime()
    (1 to 8).foreach(_ => RateGate.acquire("ensure-test"))
    assert((System.nanoTime() - t0) / 1e6 < 500)
    // rate <= 0 un-throttles a host a previous stream configured
    RateGate.ensure("ensure-test", 0.0)
    assert(!RateGate.isConfigured("ensure-test"))
  }

  test("RateGate blocks callers to the configured rate (rate.Limiter.Wait)") {
    graft.sources.RateGate.configure("gate-test", 20.0, 1) // 50ms/token
    try {
      val t0 = System.nanoTime()
      (1 to 4).foreach(_ => graft.sources.RateGate.acquire("gate-test"))
      val ms = (System.nanoTime() - t0) / 1e6
      // 1 burst token + 3 waits x 50ms; scheduling slack tolerated
      assert(ms >= 140, s"4 acquires at 20/s took only ${ms}ms")
    } finally graft.sources.RateGate.configure("gate-test", 0)
  }

  test("http source requests share one JVM-wide rate bucket per host") {
    withServer { (server, base) =>
      val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      server.createContext("/r", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          arrivals.add(System.nanoTime())
          val body = "ok".getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        }
      })
      val df = spark.readStream
        .format(classOf[HttpSourceProvider].getName)
        .option("url", s"$base/r?page={page}")
        .option("maxPages", "3")
        .option("pagesPerTrigger", "3") // concurrent tasks -> gate serializes
        .option("ratePerSec", "20")
        .load()
      val q = df.select(col("Page"))
        .writeStream.format("memory").queryName("http_rate_out").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.sql("SELECT * FROM http_rate_out").count() == 3)
        val ts = arrivals.toArray(Array.empty[java.lang.Long]).map(_.longValue()).sorted
        val spreadMs = (ts.max - ts.min) / 1e6
        assert(spreadMs >= 80, s"3 requests at 20/s arrived within ${spreadMs}ms")
      } finally q.stop()
      graft.sources.RateGate.configure(graft.sources.HttpExec.host(base), 0)
    }
  }

  test("TLS: default client rejects self-signed certs; insecure accepts (serve_tls.txt)") {
    // self-signed keystore via keytool (JDK tool, test-time only)
    val dir = java.nio.file.Files.createTempDirectory("graft-tls")
    val ks = dir.resolve("ks.p12")
    val rc = new ProcessBuilder("keytool", "-genkeypair", "-alias", "t",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ks.toString, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1", "-validity", "1")
      .redirectErrorStream(true).start().waitFor()
    assert(rc == 0, "keytool failed")
    val store = java.security.KeyStore.getInstance("PKCS12")
    val in = java.nio.file.Files.newInputStream(ks)
    try store.load(in, "changeit".toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(store, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    val server = com.sun.net.httpserver.HttpsServer.create(new InetSocketAddress(0), 0)
    server.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
    server.createContext("/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val body = "hello\n".getBytes(StandardCharsets.UTF_8)
        x.sendResponseHeaders(200, body.length)
        x.getResponseBody.write(body); x.close()
      }
    })
    server.start()
    try {
      val url = s"https://127.0.0.1:${server.getAddress.getPort}/"
      // secure client: certificate rejection -> the CEL tier surfaces it
      // in-band; evalDecorated renders the reference's failed-eval shape
      val res = Cel.evalDecorated(
        s"""string(request("GET", "$url").do_request().Body)""", "null", NOW)
      assert(res.isLeft)
      assert(res.left.exists(_.startsWith("failed eval: ERROR: <input>:1:")), res)
      // -insecure path (mito's flag): trust-all client succeeds
      val r = HttpExec.send("GET", url, insecure = true)
      assert(r.statusCode == 200L)
      assert(new String(r.body, StandardCharsets.UTF_8) == "hello\n")
    } finally server.stop(0)
  }

  test("http source POSTs a page-substituted body (POST pagination)") {
    withServer { (server, base) =>
      val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      server.createContext("/api", new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          assert(x.getRequestMethod == "POST")
          bodies.add(new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
          val body = """{"items":[1,2]}""".getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        }
      })
      val df = spark.readStream
        .format(classOf[HttpSourceProvider].getName)
        .option("url", s"$base/api")
        .option("method", "POST")
        .option("contentType", "application/json")
        .option("body", """{"cursor":{page},"limit":2}""")
        .option("maxPages", "3")
        .load()
      val q = df.select(col("Page"), col("StatusCode"))
        .writeStream.format("memory").queryName("http_post_out").outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.sql("SELECT * FROM http_post_out ORDER BY Page").collect()
        assert(rows.length == 3)
        assert(rows.forall(_.getLong(1) == 200L))
        assert(bodies.toArray(Array.empty[String]).toSet ==
          Set("""{"cursor":0,"limit":2}""", """{"cursor":1,"limit":2}""", """{"cursor":2,"limit":2}"""))
      } finally q.stop()
    }
  }
}

package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.perfbench.Engine
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.cel.{Cel, Eval, Parser}
import graft.sources.{HttpSource, HttpSourceProvider}
import graft.streaming.EventStreams

/** paged_stream: a loopback stub serves the generated pages; the
  * HttpSource pulls `pagesPerTrigger` pages per micro-batch, a Cel.auto
  * program reshapes each page body into events, EventStreams.sessionize
  * keeps per-user session state behind a watermark, and a foreachBatch
  * sink collects the closed sessions. The engine starts the next batch
  * as soon as one commits (the want_more re-entry loop). A pass is one
  * fresh stream over every page; passes repeat until the window ends,
  * so each micro-batch of the pass has one sample per pass. */
class PagedStream(spark: SparkSession, inputs: String, outDir: String, cores: Int)
    extends Workload {
  import PagedStream._
  import spark.implicits._

  private val pages: Array[Array[Byte]] =
    Files.readAllLines(Paths.get(inputs, "pages.jsonl")).asScala
      .map(_.getBytes(StandardCharsets.UTF_8)).toArray
  private val meta = graft.values.JsonAlgebra.parse(
    new String(Files.readAllBytes(Paths.get(inputs, "pages_meta.json")), StandardCharsets.UTF_8))
  private val perTrigger = meta.get("pages_per_trigger").asInt
  private val watermark = s"${meta.get("watermark_s").asInt} seconds"
  private val gapMinutes = meta.get("gap_minutes").asInt

  private val stubErrors = new AtomicLong(0)
  private var server: HttpServer = _
  private var base: String = _
  private val progress = new ConcurrentLinkedQueue[String]()
  /** Closed sessions per (pass, batch id). */
  private val sessions = new ConcurrentHashMap[(String, Long), Array[EventStreams.Session]]()
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private var listenerOn = false
  private var passes = 0

  private def startStub(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/page", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val p = Option(x.getRequestURI.getQuery).map(_.stripPrefix("p=")).flatMap(_.toIntOption)
        p.filter(i => i >= 0 && i < pages.length) match {
          case Some(i) =>
            x.getResponseHeaders.add("Content-Type", "application/json")
            x.sendResponseHeaders(200, pages(i).length)
            x.getResponseBody.write(pages(i))
          case None =>
            stubErrors.incrementAndGet()
            x.sendResponseHeaders(404, -1)
        }
        x.close()
      }
    })
    // no more server threads than cores; daemon so they never pin the JVM
    server.setExecutor(Executors.newFixedThreadPool(cores,
      r => { val t = new Thread(r); t.setDaemon(true); t }))
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  private def events(maxPages: Int): Dataset[EventStreams.SessEvent] = {
    val raw = spark.readStream
      .format(classOf[HttpSourceProvider].getName)
      .option("url", s"$base/page?p={page}")
      .option("maxPages", maxPages.toString)
      .option("pagesPerTrigger", perTrigger.toString)
      .load()
    val reshaped = Trace.span("graft.cel", "Cel.auto page program") {
      Cel.auto(PageProgram, col("Body").cast("string"), Main.NOW)
    }
    raw.filter(col("StatusCode") === 200)
      .select(from_json(reshaped, PageSchema).as("o"))
      .select(explode(col("o.events")).as("e"))
      .select(col("e.user_id").as("user_id"), col("e.event_id").as("event_id"),
        to_timestamp(col("e.ts")).as("event_time"), col("e.value").as("value"))
      .select(col("user_id"), col("event_id"), unix_micros(col("event_time")).as("tus"),
        col("value"), col("event_time"))
      .withWatermark("event_time", watermark)
      .as[EventStreams.SessEvent]
  }

  private def start(name: String, maxPages: Int, keep: Boolean): StreamingQuery =
    EventStreams.sessionize(events(maxPages), gapMinutes)
      .writeStream
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/checkpoints/$name")
      .foreachBatch { (ds: Dataset[EventStreams.Session], id: Long) =>
        val rows = ds.collect()
        if (keep) sessions.put((name, id), rows)
        ()
      }
      .start()

  /** One pass: a fresh stream, in its own checkpoint, over every page. */
  private def pass(name: String, keep: Boolean): Unit = {
    val q = Trace.span("graft.streaming", s"sessionize $name") {
      start(name, pages.length, keep)
    }
    try q.processAllAvailable()
    finally q.stop()
  }

  def setup(): Unit = {
    startStub()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (listenerOn && e.progress.name.startsWith("pass")) {
          progress.add(e.progress.json)
        }
    })
    // warm-up: whole passes (classes, codegen, state store, JIT)
    for (i <- 1 to WarmupPasses) pass(s"warmup$i", keep = false)
  }

  def measure(seconds: Double): Unit = {
    listenerOn = true
    val t0 = System.nanoTime()
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      passes += 1
      try pass(f"pass$passes%03d", keep = true)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] stream pass $passes failed: $e")
      }
    }
    // the progress of the last batches may still be on the listener bus
    Engine.drainListeners(spark.sparkContext)
    listenerOn = false
    attempted += progress.size
    val ps = progress.asScala.toVector
    Files.write(Paths.get(outDir, "progress.jsonl"),
      ps.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // outputs of the batches the progress reports cover
    val reported = ps.map { j =>
      val p = graft.values.JsonAlgebra.parse(j)
      (p.get("name").asText, p.get("batchId").asLong)
    }.toSet
    val rows = sessions.asScala.toSeq.filter(kv => reported(kv._1)).sortBy(_._1).flatMap {
      case ((name, id), ss) => ss.map(s =>
        s"$name,$id,${s.user_id},${s.session_start_us},${s.session_end_us},${s.n_events},${s.sum_value}")
    }
    Files.write(Paths.get(outDir, "sessions.csv"),
      ("pass,batch,user_id,start_us,end_us,n_events,sum_value" +: rows).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    out("passes") = passes
    out("cores") = cores
    out("stub_errors") = stubErrors.get()
  }

  /** Sessions and late-event counts are checked against DuckDB by the
    * Python front end, which holds the generator's own event list. */
  def check(): Unit = ()

  def probes(): Unit = {
    val n = math.min(ProbePages, pages.length)
    val fetchMs = (0 until n).flatMap { i =>
      Trace.span("graft.sources", "HttpSource.fetch") {
        val t0 = System.nanoTime()
        try {
          val (status, _, _) = HttpSource.fetch(s"$base/page?p=$i", "", "")
          if (status == 200) Some((System.nanoTime() - t0) / 1e6)
          else { stubErrors.incrementAndGet(); None }
        } catch { case _: Exception => stubErrors.incrementAndGet(); None }
      }
    }
    val bodies = pages.take(n).map(new String(_, StandardCharsets.UTF_8))
    val ast = Parser.parse(PageProgram)
    val env = Eval.baseEnv(Main.NOW)
    def pass(): Unit = bodies.foreach(b => Eval.renderV(Eval.evalValueInEnv(ast, b, env)))
    pass()
    val pageUs = Trace.span("graft.cel", "page program") {
      val t0 = System.nanoTime(); pass(); (System.nanoTime() - t0) / 1e3 / n
    }
    val t0 = System.nanoTime()
    Parser.parse(PageProgram)
    Cel.lower(PageProgram, col("Body").cast("string"), nowMicros = Some(Main.NOW))
    val compileMs = (System.nanoTime() - t0) / 1e6
    val lowered = Cel.tierOf(Cel.auto(PageProgram, col("Body").cast("string"), Main.NOW)) == "lowered"
    layer ++= Seq(
      "sources.fetch_ms" -> Stats.median(fetchMs),
      "sources.fetch_failed" -> stubErrors.get().toDouble,
      "cel.page_us" -> pageUs,
      "cel.compile_ms" -> compileMs,
      "cel.lowered_share" -> (if (lowered) 1.0 else 0.0))
    // the batch side: SparkEntry queries, q85_sessionize among them (the
    // batch twin of this stream), and their checkpoints
    val queries = new QueryMix(spark, s"$inputs/analytics", outDir)
    queries.setup()
    queries.measure(0.0)
    attempted += queries.attempted
    failed += queries.failed
    layer ++= queries.perLayer
  }

  override def close(): Unit = server.stop(0)

  def perLayer: Map[String, Double] = layer.toMap
}

object PagedStream {
  val WarmupPasses = 2
  val MinPasses = 3
  val ProbePages = 50

  /** Page body -> events: drops heartbeats and keeps the four fields
    * the sessionizer needs. */
  val PageProgram: String =
    """{"events": state.items.filter(e, e.kind != "heartbeat").map(e, {
      "user_id": e.user.id, "event_id": e.id, "ts": e.ts, "value": e.amount})}"""

  val PageSchema: StructType = StructType(Seq(StructField("events", ArrayType(StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", StringType), StructField("value", DoubleType)))))))
}

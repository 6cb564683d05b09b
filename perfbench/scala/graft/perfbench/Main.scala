package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.perfbench.Engine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One workload of the benchmark. The harness calls the steps in order;
  * only `measure` is timed. Raw measurements go into `out`, which the
  * Python front end (perfbench/run.py) turns into metrics. */
trait Workload {
  val out: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  def setup(): Unit
  def measure(seconds: Double): Unit
  def check(): Unit
  /** Single-layer measurements, traced run only, after the timed window. */
  def probes(): Unit
  def perLayer: Map[String, Double]
  /** Stops whatever the workload started besides Spark. */
  def close(): Unit = ()

  protected def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds one action takes; a failure counts and returns None. */
  protected def timed(layer: String, name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      Trace.span(layer, name)(body)
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }
}

/** Entry point: `--workload <name> --inputs <dir> --out <dir>
  * --seconds <s> --trace <0|1>`. Writes `<out>/result.json` and, when
  * traced, `<out>/spans.jsonl`. */
object Main {
  /** Fixed `now` for every CEL program, so outputs are reproducible. */
  val NOW = 1704067200000000L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val outDir = opts("out")
    Trace.on = opts.get("trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Trace.span("exec", "SparkSession") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.log.level", "ERROR")
        // bounded status-store history, so the heap a run retains does
        // not grow with the number of operations it managed to run
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.sql.streaming.ui.retainedProgressUpdates", "20")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", s"$outDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
        .config("spark.sql.streaming.checkpointLocation", s"$outDir/checkpoints")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart: Double = (System.currentTimeMillis() - startMs) / 1e3
    System.err.println(f"[perfbench] SparkSession ready ${sinceStart}%.2fs after JVM start")
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val planMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases
        planMs.add(Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum.toDouble)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    val w: Workload = opts("workload") match {
      case "cel_msgs" => new CelMsgs(spark, opts("inputs"), cores)
      case "paged_stream" => new PagedStream(spark, opts("inputs"), outDir, cores)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    w.out("jvm_setup_s") = sinceStart
    System.err.println(f"[perfbench] set up ${sinceStart}%.2fs after JVM start")

    // the listener counters cover the timed window only: no warm-up
    // event may arrive after the reset, and every event of the window
    // must have arrived before they are read
    Engine.drainListeners(spark.sparkContext)
    exec.reset()
    planMs.clear()
    val t0 = System.nanoTime()
    w.measure(opts("seconds").toDouble)
    val wallS = (System.nanoTime() - t0) / 1e9
    Engine.drainListeners(spark.sparkContext)
    val execMetrics = exec.metrics(wallS, cores)
    val plans = planMs.toArray.map(_.asInstanceOf[java.lang.Double].doubleValue).toSeq
    w.out("measure_wall_s") = wallS

    w.check()
    // retained heap: what the run leaves live after a full collection
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    w.out("retained_heap_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    if (Trace.on) {
      w.probes()
      val self = Trace.selfSeconds
      w.out("per_layer") = execMetrics ++
        Map("exec.plan_ms" -> (if (plans.isEmpty) 0.0 else Stats.median(plans))) ++
        w.perLayer ++
        Layers.all.map(l => s"$l.self_s" -> self.getOrElse(l, 0.0))
      Trace.write(s"$outDir/spans.jsonl")
    }
    w.out("attempted") = w.attempted
    w.out("failed") = w.failed
    Json.write(s"$outDir/result.json", w.out)
    w.close()
    spark.stop()
  }
}

/** Layer names used by spans and by the self-time summary. */
object Layers {
  val all: Seq[String] = Seq("graft.cel", "graft.values", "graft.functions",
    "graft.sources", "graft.streaming", "graft.queries", "graft.Checkpoints", "exec")
}

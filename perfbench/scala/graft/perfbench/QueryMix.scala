package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Engine
import org.apache.spark.sql.SparkSession

import graft.{Checkpoints, SparkEntry}

/** The SparkEntry query mix of the traced paged_stream run: queries over
  * the seed-permuted fixture, one at a time, forced through the noop
  * sink, in round-robin passes in the seed's query order. It measures
  * the graft.queries and graft.Checkpoints layers and is not a workload
  * of its own (see README.md). Between samples, outside the timer, the
  * harness releases the query's checkpoints and waits until their
  * blocks are really gone, so block removal never lands in the next
  * sample. */
class QueryMix(spark: SparkSession, inputs: String, outDir: String) extends Workload {
  import QueryMix._

  private val fixture = s"$inputs/fixture"
  private val order = Files.readAllLines(Paths.get(inputs, "order.txt")).asScala
    .map(_.trim).filter(_.nonEmpty).toVector
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val liveRdds = mutable.ArrayBuffer.empty[Double]
  private val drainMs = mutable.ArrayBuffer.empty[Double]
  private val sc = spark.sparkContext
  private var baselineBlocks = 0
  private var baselineBytes = 0L
  private var leakBytes = 0L

  private def query(name: String) = Trace.span("graft.queries", name) {
    SparkEntry.queries(name)(spark, fixture)
  }

  /** Release this query's checkpoints and wait until no persisted RDD
    * is left and the block manager holds no more RDD blocks than before
    * the first query. */
  private def drain(): Unit = {
    liveRdds += sc.getPersistentRDDs.size.toDouble
    val t0 = System.nanoTime()
    Trace.span("graft.Checkpoints", "releaseAll + wait") {
      Checkpoints.releaseAll()
      val deadline = t0 + DrainTimeoutNs
      while ((sc.getPersistentRDDs.nonEmpty || Engine.rddBlocks()._1 > baselineBlocks) &&
        System.nanoTime() < deadline) Thread.sleep(1)
    }
    drainMs += (System.nanoTime() - t0) / 1e6
  }

  def setup(): Unit = {
    val (n, bytes) = Engine.rddBlocks()
    baselineBlocks = n
    baselineBytes = bytes
    // warm-up pass, which also writes each result for the oracle check
    for (q <- order) {
      attempted += 1
      val t0 = System.nanoTime()
      try query(q).coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$q")
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: $e")
      }
      System.err.println(f"[perfbench] warm-up $q: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      drain()
    }
    // further warm-up passes: the driver-side code a query runs (query
    // building, Catalyst, scheduling) is still being compiled by the JIT
    // after one pass, which made the timed passes drift downwards
    for (_ <- 2 to WarmupPasses; q <- order) {
      force(query(q))
      drain()
    }
    liveRdds.clear()
    drainMs.clear()
    Json.write(s"$outDir/oracle.json",
      collection.immutable.ListMap(order.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")): _*))
  }

  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      for (q <- order) {
        timed("exec", q)(force(query(q))).foreach { s =>
          samples.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        }
        drain()
      }
      passes += 1
    }
    leakBytes = math.max(0L, Engine.rddBlocks()._2 - baselineBytes)
    out("passes") = passes
    out("queries") = collection.immutable.ListMap(samples.toSeq.map { case (q, xs) => q -> xs.toSeq }: _*)
  }

  /** The DuckDB oracle comparison runs in the Python front end over
    * `results/` and `oracle.json`. */
  def check(): Unit = ()

  def probes(): Unit = ()

  def perLayer: Map[String, Double] =
    samples.map { case (q, xs) => s"queries.${q}_s" -> Stats.median(xs.toSeq) }.toMap ++ Map(
      "checkpoints.live_rdds" -> liveRdds.maxOption.getOrElse(0.0),
      "checkpoints.drain_ms" -> Stats.median(drainMs.toSeq),
      "checkpoints.leak_mb" -> leakBytes / (1024.0 * 1024.0))
}

object QueryMix {
  val MinPasses = 3
  val WarmupPasses = 2
  val DrainTimeoutNs: Long = 10L * 1000 * 1000 * 1000
}

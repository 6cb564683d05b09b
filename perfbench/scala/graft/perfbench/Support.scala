package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Minimal JSON writer for the result files (maps keep insertion order). */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(StandardCharsets.UTF_8))
}

/** In-memory spans, written once at the end of a traced run. A span is
  * one call the benchmark makes into a layer; spans nest per thread.
  * Disabled (the untraced run) every call is a plain pass-through. */
object Trace {
  @volatile var on = false

  final case class Span(id: Long, parent: Long, trace: Long, layer: String,
      name: String, startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, trace) = outer.headOption.fold((0L, id)) { case (p, t) => (p, t) }
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, trace, layer, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Per-layer self time in seconds: each span's duration minus the
    * part its direct children cover. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toVector
    val childNs = all.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    all.groupBy(_.layer).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).toDouble / 1e9
    }.sum).toMap
  }

  def write(path: String): Unit = {
    val lines = spans.asScala.toVector.sortBy(_.startNs).map { s =>
      Json.render(collection.immutable.ListMap("name" -> s.name, "layer" -> s.layer,
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark's own public listener counters, summed over a window. */
class ExecListener extends SparkListener {
  @volatile var taskMs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var tasks = 0L
  @volatile var jobs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized {
    taskMs = 0; cpuNs = 0; gcMs = 0; tasks = 0; jobs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0
  }

  /** The exec.* per-layer metrics for a window of `wallS` seconds. */
  def metrics(wallS: Double, cores: Int): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    Map(
      "exec.task_s" -> taskMs / 1e3,
      "exec.cpu_s" -> cpuNs / 1e9,
      "exec.gc_s" -> gcMs / 1e3,
      "exec.tasks" -> tasks.toDouble,
      "exec.jobs" -> jobs.toDouble,
      "exec.idle_share" -> math.max(0.0, 1.0 - taskMs / 1e3 / (wallS * cores)),
      "exec.shuffle_write_mb" -> shuffleWrite / mb,
      "exec.shuffle_read_mb" -> shuffleRead / mb,
      "exec.spill_mb" -> spill / mb)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

package graft.connbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Percentiles that always travel with their sample count. */
object Stats {
  final case class Summary(n: Int, p50: Double, p90: Double)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(sorted: IndexedSeq[Double], q: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val pos = q * (sorted.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  def summary(xs: Iterable[Double]): Summary = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Summary(0, Double.NaN, Double.NaN)
    else Summary(s.size, percentile(s, 0.5), percentile(s, 0.9))
  }

  def median(xs: Iterable[Double]): Double = summary(xs).p50
}

/** In-memory span recorder for the traced run: (name, start, end,
  * parent, request id), written out when the run ends. Disabled, every
  * call is a no-op returning -1.
  */
final class Tracer(@volatile var enabled: Boolean) {
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, request: Long)

  private val ids = new AtomicLong(0L)
  private val open = new ConcurrentHashMap[Long, Span]()
  private val closed = java.util.Collections.synchronizedList(new java.util.ArrayList[Span]())

  def begin(name: String, start: Long = System.nanoTime(), parent: Long = -1L,
      request: Long = -1L): Long =
    if (!enabled) -1L
    else {
      val id = ids.incrementAndGet()
      open.put(id, Span(id, name, start, -1L, parent, request))
      id
    }

  def end(id: Long, now: Long = System.nanoTime()): Unit =
    if (id > 0) Option(open.remove(id)).foreach(s => closed.add(s.copy(end = now)))

  def span[T](name: String)(f: => T): T = {
    val id = begin(name)
    try f finally end(id)
  }

  def spans: Seq[Span] = closed.synchronized(closed.asScala.toList)

  /** Self time (span time minus child span time) summed per layer,
    * the layer being the span name up to its first dot. Milliseconds.
    */
  def selfMsByLayer: Map[String, Double] = {
    val all = spans
    val childNs = mutable.Map[Long, Long]().withDefaultValue(0L)
    all.foreach(s => if (s.parent > 0) childNs(s.parent) += s.end - s.start)
    all.groupBy(_.name.takeWhile(_ != '.')).view.mapValues { ss =>
      ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e6
    }.toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"request":${s.request}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark runtime counters, attributed to the layer named by the
  * [[RuntimeListener.LayerKey]] local property of the submitting
  * thread (unset → "other").
  */
final class RuntimeListener extends SparkListener {
  import RuntimeListener._

  final class Counters {
    val jobs = new AtomicLong(0L)
    val taskMs = new AtomicLong(0L)
    val shuffleBytes = new AtomicLong(0L)
    val spillBytes = new AtomicLong(0L)
  }

  private val byLayer = new ConcurrentHashMap[String, Counters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  private def counters(layer: String): Counters = byLayer.computeIfAbsent(layer, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey))).getOrElse("other")
    counters(layer).jobs.incrementAndGet()
    e.stageIds.foreach(stageLayer.put(_, layer))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageLayer.getOrDefault(e.stageId, "other"))
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs.addAndGet(m.executorRunTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  final case class Snapshot(jobs: Long, taskMs: Long, shuffleBytes: Long, spillBytes: Long) {
    def -(o: Snapshot): Snapshot =
      Snapshot(jobs - o.jobs, taskMs - o.taskMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  }

  /** Totals for one layer, or for all layers when `layer` is None. */
  def snapshot(sc: SparkContext, layer: Option[String] = None): Snapshot = {
    org.apache.spark.ConnbenchBus.drain(sc)
    val cs = layer match {
      case Some(l) => Option(byLayer.get(l)).toSeq
      case None => byLayer.values.asScala.toSeq
    }
    Snapshot(cs.map(_.jobs.get).sum, cs.map(_.taskMs.get).sum,
      cs.map(_.shuffleBytes.get).sum, cs.map(_.spillBytes.get).sum)
  }
}

object RuntimeListener {
  val LayerKey = "connbench.layer"

  /** Run `f` with this thread's Spark jobs attributed to `layer`. */
  def within[T](sc: SparkContext, layer: String)(f: => T): T = {
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, layer)
    try f finally sc.setLocalProperty(LayerKey, prev)
  }
}

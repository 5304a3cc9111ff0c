package graft.connbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.connect.{ConnectorConfig, Event, EventSource, EventSourceFactory, ReadPolicy}

/** The benchmark's event log plus a Kafka-consumer-shaped reader over it.
  *
  * The log is an append-only topic partition: a producer thread calls
  * [[append]], the engine's poll thread reads through [[BenchSource]].
  * Every event carries a due time (when the generator meant it to
  * exist) so the commit latency can be measured from it; `processed()`
  * stamps the commit time per offset.
  */
final class EventLog(val topic: String) {
  private val events = mutable.ArrayBuffer[Event]()
  private val dueNs = mutable.ArrayBuffer[Long]()
  private val appendedNs = mutable.ArrayBuffer[Long]()
  private val fetchedNs = mutable.ArrayBuffer[Long]()
  private val polledNs = mutable.ArrayBuffer[Long]()
  private val committedNs = mutable.ArrayBuffer[Long]()
  private val nextOffset = new AtomicLong(0L)

  /** Append one payload; `due` is the generator's scheduled time (ns). */
  def append(value: Array[Byte], contentType: String, due: Long): Long = synchronized {
    val off = events.size.toLong
    events += Event(topic, 0, off, Array.emptyByteArray, value, Map("Content-Type" -> contentType))
    dueNs += due
    appendedNs += System.nanoTime()
    fetchedNs += -1L
    polledNs += -1L
    committedNs += -1L
    nextOffset.set(off + 1)
    off
  }

  def size: Long = nextOffset.get()

  private[connbench] def read(from: Long, max: Int, now: Long): IndexedSeq[Event] = synchronized {
    val until = math.min(events.size.toLong, from + max).toInt
    (from.toInt until until).map { i => fetchedNs(i) = now; events(i) }
  }

  private[connbench] def markPolled(offset: Long, now: Long): Unit =
    synchronized(polledNs(offset.toInt) = now)

  private[connbench] def markCommitted(offsets: Seq[Long], now: Long): Unit = synchronized {
    offsets.foreach(o => if (committedNs(o.toInt) < 0) committedNs(o.toInt) = now)
  }

  /** Offsets committed so far (every event up to the highest offset). */
  def committedCount: Long = synchronized(committedNs.count(_ >= 0).toLong)

  /** Per-offset timestamps (ns; -1 where not reached yet). */
  def timeline: IndexedSeq[EventLog.Stamp] = synchronized {
    events.indices.map(i =>
      EventLog.Stamp(dueNs(i), appendedNs(i), fetchedNs(i), polledNs(i), committedNs(i)))
  }

  def payload(offset: Long): Array[Byte] = synchronized(events(offset.toInt).value)

  def payloadBytes: Long = synchronized(events.iterator.map(_.value.length.toLong).sum)
}

object EventLog {
  final case class Stamp(due: Long, appended: Long, fetched: Long, polled: Long, committed: Long) {
    /** From when the event was due to the commit that acknowledged it. */
    def commitLatencyNs: Long = committed - due
    /** Generator lateness: appended after its due time. */
    def lateNs: Long = appended - due
  }
}

/** A reader over an [[EventLog]] that keeps the Kafka adapter contract
  * documented on [[graft.connect.EventSource]]: records are served from
  * a poll buffer of at most `maxPollRecords`, refilled only when it
  * drains; `availableImmediately()` looks at that buffer alone;
  * `remaining()` is end offset minus position. Thread-safe: the engine
  * polls from its own thread while the benchmark reads counters.
  *
  * It also measures the projector from outside: the time between
  * handing an event out and the next `poll()` call is the engine's
  * `project(event)` for that event.
  */
final class BenchSource(log: EventLog, startOffset: Long, maxPollRecords: Int,
    tracer: Tracer) extends EventSource {
  private var position = startOffset
  private val buffer = mutable.Queue[Event]()
  private var projectStart = -1L
  private var projectSpan = -1L

  private val projectNs = new AtomicLong(0L)
  private val applyInProjectNs = new AtomicLong(0L)
  private val eventsPolled = new AtomicLong(0L)

  override def poll(): Option[Event] = synchronized {
    val now = System.nanoTime()
    if (projectStart >= 0) {
      projectNs.addAndGet(now - projectStart)
      tracer.end(projectSpan, now)
      projectStart = -1L
    }
    if (buffer.isEmpty) {
      buffer ++= log.read(position, maxPollRecords, now)
      position += buffer.size
    }
    if (buffer.isEmpty) None
    else {
      val e = buffer.dequeue()
      val t = System.nanoTime()
      log.markPolled(e.offset, t)
      eventsPolled.incrementAndGet()
      projectStart = t
      projectSpan = tracer.begin("connect.project", t, request = e.offset)
      Some(e)
    }
  }

  override def remaining(): Option[Long] = synchronized(Some(log.size - position + buffer.size))

  override def availableImmediately(): Boolean = synchronized(buffer.nonEmpty)

  override def processed(events: Seq[Event]): Unit =
    log.markCommitted(events.map(_.offset), System.nanoTime())

  /** Called by the timed sink: apply time spent inside a `project` call
    * (a stall-triggered commit runs outside one and is not subtracted).
    */
  private[connbench] def applyTimed(ns: Long): Unit =
    if (synchronized(projectStart >= 0)) applyInProjectNs.addAndGet(ns)

  /** The span a sink apply nests under: the current project span. */
  private[connbench] def currentSpan: Long = synchronized(if (projectStart >= 0) projectSpan else -1L)

  def polled: Long = eventsPolled.get()

  /** Projector self time (poll-to-poll minus sink apply), ns. */
  def projectSelfNs: Long = projectNs.get() - applyInProjectNs.get()
}

/** The engine's source factory seam: every connector reads the one log. */
final class BenchSourceFactory(log: EventLog, tracer: Tracer) extends EventSourceFactory {
  @volatile var last: BenchSource = _

  override def create(config: ConnectorConfig, policy: ReadPolicy,
      startOffsets: Map[(String, Int), Long]): EventSource = {
    val start = policy match {
      case ReadPolicy.Replay => 0L
      case ReadPolicy.Sync => startOffsets.getOrElse((log.topic, 0), 0L)
      case ReadPolicy.Latest => log.size
    }
    last = new BenchSource(log, start, config.maxPollRecords, tracer)
    last
  }
}

package graft.connect

import scala.collection.mutable.ArrayBuffer

import graft.rdf.{RdfParse, RdfParseException, RdfPatchParser}

/** Batching / commit configuration — the reference's tunables with
  * their defaults (SysJenaKafka.java:43-126, README.md:370-377).
  */
final case class ProjectorConfig(
    batchSize: Int = 5000,
    batchSizeBytes: Long = 50L * 1024 * 1024,
    maxTransactionDurationMs: Long = 5 * 60 * 1000L,
    batchSizeTrackingWindow: Int = 25,
    lowVolumeBatchSizeThreshold: Int = 10,
    highLagThreshold: Long = 10000L)

/** Dead-letter sink (reference: a synchronous Kafka producer,
  * FKS.java:300-311 — `noAsync()` so DLQ failures surface immediately).
  */
trait DlqSink {
  def send(event: Event): Unit
}

/** In-memory DLQ for tests / scenario queries. */
final class MemoryDlqSink extends DlqSink {
  private val buf = ArrayBuffer[Event]()
  override def send(event: Event): Unit = synchronized { buf += event }
  def events: Seq[Event] = synchronized(buf.toSeq)
}

/** The engine's JenaKafkaException: aborts processing when there is no
  * (working) DLQ to absorb a failed event.
  */
final class ProjectorException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Raised by [[Projector.admit]] for undecodable payloads — the
  * reference's RdfPayloadException failure class (deserialization
  * failure, FusekiProjector.java:267-277): the event never touched the
  * store, so the good prefix commits and processing continues.
  */
final class PayloadException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** An event whose payload decoded successfully. */
final case class MaterialisedEvent(event: Event, decoded: RdfParse.Decoded)

/** Where a committed batch of decoded events lands (the reference's
  * DatasetGraph; here a [[graft.store.QuadStore]] via
  * [[QuadStoreSink]], or a counting stub in tests).
  */
trait BatchSink {
  /** Atomically apply one batch. `batchId` increments per commit. */
  def apply(batchId: Long, events: Seq[MaterialisedEvent]): Unit

  /** First batch id a NEW projector run should use. Stateful sinks
    * override this with one past their committed history; without it
    * a Sync-policy restart would reuse id 0 and its first commit
    * would REPLAY OVER the first run's epoch segment (idempotent
    * same-run replay is per-instance: the id only advances after a
    * successful apply, so abort-and-replay still reuses the same id).
    */
  def resumeBatchId: Long = 0L

  /** Run `f` mutually exclusive with every other writer of this sink's
    * backing state. Stateful sinks override so the read of
    * [[resumeBatchId]] and the [[apply]] that consumes it form one
    * atomic section — without it, two in-process writers (connector
    * poll thread + HTTP mutation) can allocate the same id and one
    * copy-on-write-"replays" over the other's fresh epoch. Default:
    * no shared state, no exclusion needed.
    */
  def exclusively[T](f: => T): T = f

  /** Directory SPARQL Update LOAD may read from; None (the default)
    * disables LOAD for this sink ([[graft.sparql.SparqlUpdate.resolveLoad]]
    * security contract).
    */
  def loadRoot: Option[java.nio.file.Path] = None
}

/** The adaptive-batching projector — the reference's core engine
  * (FusekiProjector.java:36-139 spec, :400-479 decision tree, :514-573
  * commit), re-expressed for a columnar store:
  *
  *  - The per-event loop, the commit DECISION TREE (patch-closed /
  *    batching-disabled / bytes / count+buffered / max-duration /
  *    zero-lag), the adaptive HIGH-LAG and LOW-VOLUME modes, stall
  *    handling, pause/resume, and the two-class error routing (decode
  *    failure vs apply failure) are control-plane logic and live here,
  *    exactly as they live driver-side in the reference.
  *  - The APPLY is deferred: events buffer (bounded by the bytes
  *    threshold — the same memory-protection role it plays in the
  *    reference) and each commit materializes as ONE atomic store
  *    batch, which the QuadStore writes as a parquet segment: from
  *    the committing thread when the driver holds its ops (no Spark
  *    job, as an HTTP POST applies in-process in the reference), by a
  *    Spark job for bulk and WHERE-resolved batches.
  *  - Patch transactions may SPAN events
  *    (RDFChangesApplyExternalTransaction.java:10-42): each arrival
  *    advances the batch's transaction state ([[Projector.admit]]). A
  *    patch that leaves the dataset outside a transaction fires the
  *    patch-closed commit; the other triggers commit a dangling
  *    transaction with the batch, as the reference's commit() closes
  *    it (TestFusekiProjector.java:216-232).
  *
  * Error contract (FusekiProjector.java:258-277, README.md:256-269):
  *  - decode failure → commit good prefix, route event to DLQ with the
  *    five dead-letter headers, continue; no DLQ (or broken DLQ) →
  *    ProjectorException.
  *  - apply failure (e.g. invalid patch transaction markers) → the
  *    event is excluded, the good prefix commits (the reference's
  *    abort-and-replay, which our deferred-apply model gets by simply
  *    not having applied anything yet), DLQ, continue; no DLQ → abort
  *    (batch stays uncommitted and unacknowledged) + ProjectorException.
  *
  * `clock` is injectable so the max-transaction-duration rule is
  * deterministic in tests (the reference tests sleep instead).
  */
final class Projector(
    source: EventSource,
    sink: BatchSink,
    config: ProjectorConfig = ProjectorConfig(),
    offsets: Option[OffsetStore] = None,
    dlq: Option[DlqSink] = None,
    clock: () => Long = () => System.currentTimeMillis()) {

  val EXEC_PATH_HEADER = "Exec-Path"
  val EXEC_PATH_VALUE = "graft"
  val DEAD_LETTER_REASON = "Dead-Letter-Reason"
  val DEAD_LETTER_EXCEPTION_CLASS = "Dead-Letter-Exception-Class"
  val DEAD_LETTER_ROOT_CAUSE = "Dead-Letter-Root-Cause"
  val DEAD_LETTER_ROOT_CAUSE_CLASS = "Dead-Letter-Root-Cause-Class"

  private val batch = ArrayBuffer[MaterialisedEvent]()
  private var currentBatchSizeBytes = 0L
  private var lastCommitTime = -1L
  private var nextBatchId = sink.resumeBatchId

  private var _commitCount = 0L          // batch (store) commits
  private var _bookkeepingCommits = 0L   // all commit() invocations
  private var _lowVolumeDetected = false
  private var _highLagDetected = false

  // sliding window of recent committed batch sizes (the reference's
  // DescriptiveStatistics(window), FusekiProjector.java:180-184)
  private val recentBatchSizes = new ArrayBuffer[Long]()

  // pause coordination (FusekiProjector.java:164-184,619-671)
  private val pauseMonitor = new Object
  @volatile private var paused = false
  @volatile private var _atPausePoint = false

  def commitCount: Long = _commitCount
  def bookkeepingCommits: Long = _bookkeepingCommits
  def lowVolumeDetected: Boolean = _lowVolumeDetected
  def highLagDetected: Boolean = _highLagDetected
  def pendingEvents: Int = batch.size
  def isAtPausePoint: Boolean = _atPausePoint

  /** Drain the source to exhaustion, then signal a stall — the test /
    * scenario driver loop (the reference's ProjectorDriver polls the
    * same way, FKS.java:295-353).
    */
  def runToCompletion(): Unit = {
    var more = true
    while (more) {
      source.poll() match {
        case Some(e) => project(e)
        case None => more = false
      }
    }
    stalled()
  }

  /** Project one event (FusekiProjector.project, :232-278). */
  def project(event: Event): Unit = {
    awaitResumeIfPaused()
    if (lastCommitTime == -1L) lastCommitTime = clock()
    try {
      val (m, next) = Projector.admit(event, txn, batch.size, sink.loadRoot)
      txn = next
      batch += m
      commitTransactionIfNeeded(m)
    } catch {
      case e: PayloadException =>
        // deserialization failure: nothing was applied; commit the good
        // prefix in case a block of malformed events follows, then DLQ
        commit()
        if (!sendToDlq(event, e)) throw new ProjectorException("Malformed event", e)
      case e: RdfParseException =>
        // apply failure (invalid patch transaction markers): the
        // reference aborts + replays the good prefix; deferred apply
        // means the prefix is simply still pending — DLQ the event and
        // commit the prefix, or abort wholesale without a DLQ
        if (!sendToDlq(event, e)) throw new ProjectorException("Failed to apply event", e)
        commit()
    }
  }

  // the patch-transaction machine's state after the buffered batch:
  // each arrival advances it by one event, so arrival cost stays
  // O(event), not O(batch); it resets with the batch on commit
  private var txn = RdfPatchParser.TxnState()

  /** The commit decision tree (FusekiProjector.java:400-479) — same
    * branches, same order.
    */
  private def commitTransactionIfNeeded(m: MaterialisedEvent): Unit = {
    val elapsed = clock() - lastCommitTime
    currentBatchSizeBytes += m.event.sizeInBytes
    if (m.decoded.kind == "patch" && txn.closed) {
      // the patch just committed the open transaction itself (:408-412)
      // — judged over the whole batch's marker stream, so a TX left
      // open by an EARLIER event suppresses this trigger until a later
      // patch closes it (TestFusekiProjector.java:216-232)
      commit()
    } else if (config.batchSize == 1) {
      commit() // batching disabled (:413-416)
    } else if (currentBatchSizeBytes > config.batchSizeBytes) {
      commit() // bytes threshold (:417-421)
    } else if (!_highLagDetected && batch.size >= config.batchSize) {
      // count threshold — but keep batching while events are already
      // buffered in memory (batch maximization, :422-435)
      if (!source.availableImmediately()) commit()
    } else if (elapsed >= config.maxTransactionDurationMs) {
      commit() // max transaction duration (:436-445)
    } else if (!_lowVolumeDetected) {
      // zero-lag commit + high-lag engage/disengage (:447-473)
      source.remaining() match {
        case Some(0L) =>
          commit()
          if (_highLagDetected) _highLagDetected = false
        case Some(r) if !_highLagDetected && r > config.highLagThreshold =>
          _highLagDetected = true
        case _ => ()
      }
    }
  }

  /** Commit + bookkeeping (FusekiProjector.commit, :514-573). */
  private def commit(): Unit = {
    lastCommitTime = clock()
    if (batch.nonEmpty) {
      // never fall behind the sink's committed history: another writer
      // (an HTTP mutation on the same dataset) may have appended an
      // epoch since the last commit, and reusing its id would replay
      // over it — the id re-read and the apply form ONE atomic section
      // under the sink's writer lock so no writer can slip between
      // them. A FAILED apply leaves both sides unchanged, so the
      // abort-and-replay path still reuses the same id.
      sink.exclusively {
        nextBatchId = math.max(nextBatchId, sink.resumeBatchId)
        sink.apply(nextBatchId, batch.toSeq)
      }
      nextBatchId += 1
      _commitCount += 1
    }
    _bookkeepingCommits += 1
    source.processed(batch.map(_.event).toSeq)
    offsets.foreach { os =>
      // store next-offset-to-read per partition (Kafka commit
      // convention; the legacy off-by-one migration in OffsetStore
      // exists precisely because 1.x stored last-processed instead)
      batch.groupBy(m => (m.event.topic, m.event.partition)).foreach {
        case ((t, p), ms) => os.saveOffset(t, p, ms.map(_.event.offset).max + 1)
      }
      if (batch.nonEmpty) os.flush()
    }
    // low-volume detection over the sliding batch-size window
    // (:552-568; only once the window is full)
    recentBatchSizes += batch.size.toLong
    if (recentBatchSizes.size > config.batchSizeTrackingWindow)
      recentBatchSizes.remove(0)
    if (recentBatchSizes.size >= config.batchSizeTrackingWindow) {
      val avg = math.round(recentBatchSizes.sum.toDouble / recentBatchSizes.size)
      if (!_lowVolumeDetected && avg <= config.lowVolumeBatchSizeThreshold)
        _lowVolumeDetected = true
      else if (_lowVolumeDetected && avg > config.lowVolumeBatchSizeThreshold)
        _lowVolumeDetected = false
    }
    batch.clear()
    currentBatchSizeBytes = 0L
    // a dangling open txn committed with the batch; the machine resets
    // WITH the clear, so a sink that throws leaves the two in step
    txn = RdfPatchParser.TxnState()
  }

  /** Stall: no new events / connection lost → commit any open batch
    * (FusekiProjector.stalled, :586-606), then honor a pending pause.
    */
  def stalled(): Unit = {
    if (batch.nonEmpty) commit()
    awaitResumeIfPaused()
  }

  // --- DLQ ------------------------------------------------------------------

  private def rootCause(e: Throwable): Throwable = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    c
  }

  private def buildReason(e: Throwable, root: Throwable): String = {
    val top = Option(e.getMessage).filter(_.trim.nonEmpty)
      .getOrElse(e.getClass.getSimpleName)
    val includesRoot = root == e ||
      top.contains(root.getClass.getSimpleName) ||
      top.contains(root.getClass.getName) ||
      Option(root.getMessage).exists(m => m.trim.nonEmpty && top.contains(m))
    if (includesRoot) top
    else s"$top caused by: ${Option(root.getMessage).filter(_.trim.nonEmpty).getOrElse(root.getClass.getSimpleName)}"
  }

  /** Send a failed event to the DLQ with the five dead-letter headers
    * (FusekiProjector.sendToDlq, :287-350). Returns false when no DLQ
    * is configured or the send itself fails.
    */
  private def sendToDlq(event: Event, e: Throwable): Boolean = dlq match {
    case None => false
    case Some(q) =>
      val root = rootCause(e)
      val enriched = event.withHeaders(Seq(
        EXEC_PATH_HEADER -> EXEC_PATH_VALUE,
        DEAD_LETTER_REASON -> buildReason(e, root),
        DEAD_LETTER_EXCEPTION_CLASS -> e.getClass.getName,
        DEAD_LETTER_ROOT_CAUSE -> Option(root.getMessage).filter(_.trim.nonEmpty)
          .getOrElse(root.getClass.getSimpleName),
        DEAD_LETTER_ROOT_CAUSE_CLASS -> root.getClass.getName))
      try { q.send(enriched); true }
      catch { case _: Throwable => false }
  }

  // --- pause / resume (FusekiProjector.java:619-671) ------------------------

  /** Request a pause at the next safe point (between events);
    * non-blocking. The in-flight batch commits before blocking.
    */
  def requestPause(): Unit = pauseMonitor.synchronized {
    paused = true
    pauseMonitor.notifyAll()
  }

  /** Release a pause; idempotent. */
  def requestResume(): Unit = pauseMonitor.synchronized {
    paused = false
    pauseMonitor.notifyAll()
  }

  private def awaitResumeIfPaused(): Unit = {
    if (!paused) return
    if (batch.nonEmpty) commit()
    pauseMonitor.synchronized {
      _atPausePoint = true
      try while (paused) pauseMonitor.wait()
      finally _atPausePoint = false
    }
  }
}

object Projector {

  /** Admit an arriving event to a batch — the checks a DatasetGraph
    * would make while applying it, run at arrival since the deferred
    * apply must not fail. `txn` is the patch-transaction machine's state
    * after the `at` events already admitted. Returns the decoded event
    * and the machine's next state; throws the reference's two failure
    * classes (FusekiProjector.java:258-277): [[PayloadException]] when
    * the payload does not decode or overflows one event's op budget
    * ([[graft.store.OpLog.overBudget]]), [[RdfParseException]] when a
    * patch nests its markers badly against `txn` or an update fails
    * [[graft.sparql.SparqlUpdate.probeArrival]] (a LOAD document that
    * cannot be read, or resolved ops past the budget).
    */
  def admit(event: Event, txn: RdfPatchParser.TxnState, at: Int,
      loadRoot: Option[java.nio.file.Path]): (MaterialisedEvent, RdfPatchParser.TxnState) = {
    val d = RdfParse.decode(event.value, event.contentType,
      s"${event.topic}:${event.partition}:${event.offset}")
    if (d._corrupt != null) throw new PayloadException(d._corrupt)
    val ops = math.max(Option(d.quads).fold(0)(_.size), Option(d.ops).fold(0)(_.size))
    graft.store.OpLog.overBudget(ops).foreach(why =>
      throw new PayloadException(s"event decodes to $why"))
    val next = d.kind match {
      case "update" =>
        graft.sparql.SparqlUpdate.probeArrival(
          new String(event.value, java.nio.charset.StandardCharsets.UTF_8), loadRoot)
        txn
      case "patch" => RdfPatchParser.dataOpsBatch(Seq(d.ops), txn, at)._2
      case _ => txn
    }
    (MaterialisedEvent(event, d), next)
  }
}

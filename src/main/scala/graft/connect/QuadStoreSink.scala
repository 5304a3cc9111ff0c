package graft.connect

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, udf}

import graft.plans.Checkpoints
import graft.rdf.{RdfParse, RdfParseException, RdfPatchParser}
import graft.sparql.SparqlUpdate
import graft.store.{OpLog, QuadStore}

/** BatchSink applying committed batches to a [[QuadStore]] — the
  * engine's FusekiSink (FusekiSink.java:38-77), and the only commit
  * front-end: the projector's batches ([[apply]]) and Structured
  * Streaming's micro-batches ([[applyFrame]]) run the same commit.
  * Dataset payloads stream their quads as adds, patch payloads the
  * effective ops the patch-transaction machine
  * ([[RdfPatchParser.dataOpsBatch]]) yields for the whole batch — A/D
  * as quad ops, PA/PD into the prefix map — SPARQL Update payloads
  * their resolved quad ops, all as ONE atomic parquet segment per
  * commit.
  *
  * `seq` packs (event ordinal, op index in event) through
  * [[OpLog.seq]], so latest-op-wins inside the store respects event
  * order. A projector batch's ordinal is the event's index in the
  * batch, which orders its events without the reference's
  * single-partition restriction (README.md:152-153); a micro-batch's
  * is the event's offset, which orders it within its partition.
  *
  * SPARQL Update WHERE-clauses see the SEQUENTIAL state: the store as
  * of the last commit plus every batch op before them. That state is a
  * lazily-built DataFrame (store base, then per-chunk anti-join +
  * union of the small in-batch deltas — AQE broadcasts those), so a
  * `DELETE WHERE` never collects matched quads to the driver.
  *
  * Bulk auto-routing: when a batch's dataset payloads together exceed
  * `bulkBytesThreshold`, their quads skip the driver-side op buffer
  * (whose `toDF` embeds every row in the plan as a LocalRelation, a
  * driver bottleneck past the reference's 50 MiB batch envelope): the
  * RAW payload bytes ship to executors, one row per event, and lower
  * there as a micro-batch's dataset events do, keyed by each event's
  * ordinal. Batches carrying a SPARQL Update stay on the driver path:
  * WHERE resolution folds driver-buffered ops.
  *
  * Write and read path after a commit: a batch whose ops all sit in
  * the driver buffer — no bulk events, no WHERE-resolved update ops —
  * commits through [[QuadStore.commitRows]], which writes its segment
  * from this thread with no Spark job and folds the ops into the
  * store's driver tail fold, so later queries read base + that local
  * fold without scanning the tail. Any other batch commits a DataFrame
  * through [[QuadStore.commitOps]], a Spark write job, and reads fall
  * back to folding the tail segments until the next compaction.
  */
final class QuadStoreSink(spark: SparkSession, val store: QuadStore,
    bulkBytesThreshold: Long = QuadStoreSink.DefaultBulkBytes,
    override val loadRoot: Option[java.nio.file.Path] = None) extends BatchSink {
  import OpLog.OpRow

  /** One past the store's committed history (un-compacted tail AND
    * compaction high-water): a projector restart or an HTTP mutation
    * must APPEND a fresh epoch, never replay over an earlier run's
    * segment. Set semantics make a same-EVENT re-apply under the
    * fresh id idempotent in the merged view (latest-op-wins per
    * quad), so the Replay read policy stays correct too.
    */
  override def resumeBatchId: Long = store.nextBatchId

  /** Writer exclusion delegates to the store's lock, shared by every
    * sink instance over the same store (HTTP mutations build fresh
    * sinks per request).
    */
  override def exclusively[T](f: => T): T = store.writeLock.synchronized(f)

  /** Runs in its own [[Checkpoints.withScope]]: everything the commit
    * pins (fold-chain cuts, a WHERE path's fixpoint) is dead once
    * `commitOps` has written the segment, and a long-running connector
    * must not accumulate pinned blocks across batches.
    */
  override def apply(batchId: Long, events: Seq[MaterialisedEvent]): Unit =
    Checkpoints.withScope(commit(batchId,
      Seq(events.zipWithIndex.map { case (m, i) => (m, i.toLong) }), None))

  /** Commit one micro-batch of raw events ([[QuadStoreSink.FrameColumns]])
    * as ONE segment, each event meaning what it means to the projector.
    * Dataset events decode and lower on executors. Patch and update
    * events are collected in (topic, partition, offset) order and
    * admitted by the projector's arrival checks; a micro-batch holding
    * an update takes that driver route for every event, since WHERE
    * resolution folds driver-held ops. The offset is each event's
    * ordinal, so order holds within a partition (README.md:152-153).
    * The patch-transaction machine restarts at each partition and after
    * each event turned away, as the projector's good-prefix commit
    * restarts it; a transaction open at the end commits with the
    * micro-batch. Dataset failures are counted by an Observation on the
    * segment write, so a clean micro-batch decodes once, and they cannot
    * restart the machine. An epoch already compacted reports nothing.
    */
  def applyFrame(batchId: Long, events: DataFrame): QuadStoreSink.FrameCommit =
    exclusively(Checkpoints.withScope {
      import spark.implicits._
      val raw = events.select(QuadStoreSink.FrameColumns.map(col): _*)
      def collected(df: DataFrame) = df.collect().toSeq.map(r => Event(r.getString(0),
        r.getInt(1), r.getLong(2), r.getAs[Array[Byte]](3), r.getAs[Array[Byte]](4),
        Option(r.getString(5)).map("Content-Type" -> _).toMap))
      val held = collected(raw.filter(!RdfParse.isDatasetType(col("contentType"))))
      val allOnDriver =
        held.exists(e => RdfParse.normalize(e.contentType) == RdfParse.CT_SPARQL_UPDATE)
      val (runs, rejects) = admitRuns((if (allOnDriver) collected(raw) else held)
        .sortBy(e => (e.topic, e.partition, e.offset)))
      def decoded = RdfParse.decodeEvents(raw.filter(RdfParse.isDatasetType(col("contentType"))))
        .withColumn("_corrupt", coalesce(col("_corrupt"), OpLog.unpackable(col("offset"))))
      val counts = Observation()
      val lowered = if (allOnDriver) None else Some(OpLog.lower(decoded
        .observe(counts, count(lit(1)).as("n"), count(col("_corrupt")).as("bad"))
        .filter(col("_corrupt").isNull), col("offset")))
      val written = commit(batchId, runs, lowered)
      val (n, bad) = if (lowered.isEmpty || !written) (0L, 0L) else
        (counts.get("n").asInstanceOf[Long], counts.get("bad").asInstanceOf[Long])
      val turnedAway = rejects.map { case (e, why) =>
        (e.topic, e.partition, e.offset, e.contentType, why, e.key, e.value)
      }.toDF("topic", "partition", "offset", "contentType", "_corrupt", "key", "value")
      // the dataset failures' reasons: decoded again, only when some failed
      val rejected = if (bad == 0) turnedAway else turnedAway.unionByName(decoded
        .filter(col("_corrupt").isNotNull).select("topic", "partition", "offset", "_corrupt")
        .join(raw, Seq("topic", "partition", "offset")))
      if (written) QuadStoreSink.FrameCommit(runs.map(_.size).sum + n - bad, rejects.size + bad, rejected)
      else QuadStoreSink.FrameCommit(0L, 0L, turnedAway.limit(0))
    })

  /** `events` admitted in order ([[Projector.admit]], and an offset past
    * the op-log packing turned away), with their offsets as ordinals,
    * in runs of the patch-transaction machine: it restarts at each
    * partition and after each event turned away. Returns the runs and
    * the events turned away with their reasons.
    */
  private def admitRuns(events: Seq[Event])
      : (Seq[Seq[(MaterialisedEvent, Long)]], Seq[(Event, String)]) = {
    val runs = scala.collection.mutable.ArrayBuffer[Seq[(MaterialisedEvent, Long)]]()
    val rejects = scala.collection.mutable.ArrayBuffer[(Event, String)]()
    var run = Vector.empty[(MaterialisedEvent, Long)]
    var txn = RdfPatchParser.TxnState()
    def cut(): Unit = { if (run.nonEmpty) runs += run; run = Vector.empty; txn = RdfPatchParser.TxnState() }
    events.indices.foreach { i =>
      val e = events(i)
      if (i > 0 && (events(i - 1).topic, events(i - 1).partition) != ((e.topic, e.partition))) cut()
      try {
        OpLog.unfit(e.offset).foreach(why => throw new PayloadException(why))
        val (m, next) = Projector.admit(e, txn, run.size, loadRoot)
        run :+= ((m, e.offset))
        txn = next
      } catch {
        case x @ (_: PayloadException | _: RdfParseException) => rejects += ((e, x.getMessage)); cut()
      }
    }
    cut()
    (runs.toSeq, rejects.toSeq)
  }

  /** The one commit both entries share: `runs` of driver-held events,
    * each with its ordinal in the log, and op rows `lowered` on
    * executors, as ONE atomic segment. The patch-transaction machine
    * runs once over each run. Returns false when the store dropped the
    * epoch as already compacted.
    */
  private def commit(batchId: Long, runs: Seq[Seq[(MaterialisedEvent, Long)]],
      lowered: Option[DataFrame]): Boolean = {
    import spark.implicits._
    // patch op streams resolve run-wide: a transaction opened by one
    // event may be committed (or aborted) by a later one
    // (RDFChangesApplyExternalTransaction.java:10-42)
    val events = runs.flatten
    val patchOps = runs.flatMap(run => RdfPatchParser.dataOpsBatch(run.map { case (m, _) =>
      if (m.decoded.kind == "patch") m.decoded.ops else Seq.empty
    })._1)

    val local = scala.collection.mutable.ArrayBuffer[OpRow]()
    val resolved = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // sequential state for SPARQL Update WHERE resolution, built only
    // when a batch actually carries an update
    var state: DataFrame = null
    var folded = 0 // local ops already folded into `state`
    def currentState(): DataFrame = {
      if (state == null) state = store.quads()
      if (folded < local.size) {
        val pending = local.drop(folded).toSeq.toDF()
        state = OpLog.overlay(state, OpLog.tailState(pending, addsOnly = false, order = "seq"))
        folded = local.size
      }
      state
    }
    var foldsSinceCut = 0
    def foldResolved(df: DataFrame): Unit = {
      // stays LAZY: the resolved plan runs ONCE, inside the single
      // commitOps write — replay is safe because commitOps never
      // overwrites a segment in place (copy-on-write replay), so a
      // plan resolved against the pre-replay state keeps reading a
      // consistent snapshot. Earlier resolutions recur inside later
      // ops' state folds, but they share exchanges (ReusedExchange)
      // within the one job; every 8 WHERE-driven ops the fold chain is
      // cut with a lazy checkpoint so plan DEPTH stays bounded for
      // long update scripts without materializing per-op
      resolved += df
      // a resolved op's inserts (seq + 1) follow its deletes (seq), so
      // each of its rows already is the latest op for its quad
      state = OpLog.overlay(currentState(), df.withColumnRenamed("op", "last_op"))
      foldsSinceCut += 1
      if (foldsSinceCut >= 8) {
        // a lazy cut: its blocks materialize (at most once) inside the
        // commitOps write and are dead after it
        state = Checkpoints.register(state.localCheckpoint(false))
        foldsSinceCut = 0
      }
    }

    // bulk route: dataset payloads re-decode executor-side when their
    // combined size exceeds the threshold AND no update event needs
    // the sequential driver-folded state
    val datasetBytes = events.iterator.map(_._1)
      .filter(_.decoded.kind == "dataset").map(_.event.value.length.toLong).sum
    val bulkRoute = datasetBytes > bulkBytesThreshold &&
      !events.exists(_._1.decoded.kind == "update")
    val bulkEvents = scala.collection.mutable.ArrayBuffer[(MaterialisedEvent, Long)]()

    events.zip(patchOps).foreach { case ((m, ord), eventPatchOps) =>
      m.decoded.kind match {
        case "dataset" if bulkRoute => bulkEvents += ((m, ord))
        case "dataset" =>
          m.decoded.quads.zipWithIndex.foreach { case (q, qi) =>
            local += OpRow("A", OpLog.seq(ord, qi), q.graph, q.subject, q.predicate, q.obj)
          }
        case "patch" =>
          eventPatchOps.zipWithIndex.foreach { case (o, oi) =>
            if (o.op == "A" || o.op == "D")
              local += OpRow(o.op, OpLog.seq(ord, oi), o.graph, o.subject, o.predicate, o.obj)
          }
        case "update" =>
          // deterministic re-parse (decode already validated); blank
          // nodes in INSERT DATA scope to the event identity, as in
          // RdfParse.decodeEvents
          val script = SparqlUpdate.parse(
            new String(m.event.value, StandardCharsets.UTF_8))
          val scope = s"${m.event.topic}:${m.event.partition}:${m.event.offset}"
          var oi = 0L
          // past the OpLog budget the op index would bleed into the
          // event bits; the arrival probe DLQs such scripts, and this
          // loud backstop covers a document grown since the probe
          def guardOi(slots: Long): Unit =
            OpLog.overBudget(oi + slots).foreach(why => throw new ProjectorException(
              s"event ordinal budget exhausted ($why) — the arrival probe " +
              "should have routed this event to the DLQ"))
          script.foreach {
            case SparqlUpdate.QuadDataOp(op, quads) =>
              quads.foreach { q =>
                guardOi(1)
                local += OpRow(op, OpLog.seq(ord, oi), RdfParse.scopeTerm(q.graph, scope),
                  RdfParse.scopeTerm(q.subject, scope), q.predicate,
                  RdfParse.scopeTerm(q.obj, scope))
                oi += 1
              }
            case mo: SparqlUpdate.ModifyOp =>
              guardOi(2) // deletes at oi, inserts at oi + 1
              SparqlUpdate.resolveModify(currentState(), mo, OpLog.seq(ord, oi), scope)
                .foreach(foldResolved)
              oi += 2
            case cl: SparqlUpdate.ClearOp =>
              guardOi(1)
              foldResolved(SparqlUpdate.resolveClear(currentState(), cl, OpLog.seq(ord, oi)))
              oi += 1
            case gm: SparqlUpdate.GraphManageOp =>
              guardOi(2) // deletes at oi, re-labelled inserts at oi + 1
              SparqlUpdate.resolveGraphManage(currentState(), gm, OpLog.seq(ord, oi))
                .foreach(foldResolved)
              oi += 2
            case ld: SparqlUpdate.LoadOp =>
              // blank nodes scope to this load site; loaded quads join
              // the driver-local adds (the resolver caps them to the
              // ordinal budget). Non-SILENT loads were probed at
              // arrival, so a failure here means the file changed since:
              // it loads as SILENT, as the commit must not fail
              val loadScope = s"$scope:load$oi"
              val loaded =
                try SparqlUpdate.resolveLoad(ld, loadScope, loadRoot)
                catch { case scala.util.control.NonFatal(_) => Seq.empty[graft.rdf.Quad] }
              loaded.foreach { q =>
                guardOi(1)
                local += OpRow("A", OpLog.seq(ord, oi), q.graph, q.subject, q.predicate, q.obj)
                oi += 1
              }
          }
        case other =>
          throw new ProjectorException(s"unapplied payload kind '$other'")
      }
    }
    // executor-side decode of the bulk events: ONE row per event, with
    // the driver path's blank-node scope; the local scan splits the rows
    // into min(rows, defaultParallelism) slices, so no shuffle
    val bulkOps: Option[DataFrame] = if (bulkEvents.isEmpty) None else {
      val raw = bulkEvents.toSeq.map { case (m, _) =>
        (m.event.topic, m.event.partition, m.event.offset, m.event.key,
          m.event.value, m.event.contentType)
      }.toDF(QuadStoreSink.FrameColumns: _*)
      // the event's ordinal, looked up per event row by its
      // identity: a broadcast join back to an (identity, index) frame
      // copied every wide decoded row (~10 % of a 39 MB bulk commit,
      // 4 cores)
      val ordOf = bulkEvents.map { case (m, ord) =>
        (m.event.topic, m.event.partition, m.event.offset) -> ord
      }.toMap
      val ordinal = udf((t: String, p: Int, o: Long) => ordOf((t, p, o)))
      Some(OpLog.lower(RdfParse.decodeEvents(raw),
        ordinal(col("topic"), col("partition"), col("offset"))))
    }
    val written =
      if (resolved.isEmpty && bulkOps.isEmpty && lowered.isEmpty) store.commitRows(batchId, local.toSeq)
      else store.commitOps(batchId,
        (resolved ++ bulkOps ++ lowered).foldLeft(local.toSeq.toDF())(_.unionByName(_)))
    // effective PA/PD prefix ops update the dataset prefix map in event
    // order (RDFChangesApply semantics; SURVEY §2.1 row 6), unless the
    // store dropped the epoch: it applied them when it first committed
    if (written) store.updatePrefixes(patchOps.flatten.collect {
      case o if o.op == "PA" => ("PA", o.subject.lex, o.obj.lex)
      case o if o.op == "PD" => ("PD", o.subject.lex, null)
    })
    written
  }
}

object QuadStoreSink {
  /** Above this many combined dataset-payload bytes in one batch the
    * quads decode executor-side (see class doc). The reference's
    * default batch-bytes commit threshold is 50 MiB, so batches inside
    * its envelope stay on the driver path.
    */
  val DefaultBulkBytes: Long = 32L << 20

  /** The columns of a raw-event frame. */
  val FrameColumns: Seq[String] =
    Seq("topic", "partition", "offset", "key", "value", "contentType")

  /** Events applied and turned away by [[QuadStoreSink.applyFrame]];
    * `rejects` holds each whole event, replayable, and its `_corrupt`.
    */
  final case class FrameCommit(applied: Long, rejected: Long, rejects: DataFrame)
}

/** Counting sink for decision-tree tests — the reference's mock
  * DatasetGraph (AbstractFusekiProjectorTests.mockDatasetGraph).
  */
final class CountingSink extends BatchSink {
  private val buf = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
  override def apply(batchId: Long, events: Seq[MaterialisedEvent]): Unit =
    synchronized { buf += ((batchId, events.size)) }
  /** (batchId, batch size) per commit, in commit order. */
  def commits: Seq[(Long, Int)] = synchronized(buf.toSeq)
}

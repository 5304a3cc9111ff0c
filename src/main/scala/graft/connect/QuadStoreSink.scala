package graft.connect

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.plans.Checkpoints
import graft.rdf.{Quad, RdfPatchParser, Term}
import graft.sparql.SparqlUpdate
import graft.store.QuadStore

/** BatchSink applying committed batches to a [[QuadStore]] — the
  * engine's FusekiSink (FusekiSink.java:38-77): dataset payloads
  * stream their quads as adds, patch payloads their effective A/D op
  * stream, SPARQL Update payloads their resolved quad ops, all as ONE
  * atomic parquet segment per commit.
  *
  * `seq` encodes (event index in batch, op index in event) so
  * latest-op-wins inside the store respects event order — the ordered
  * delete contract (README.md:152-153) without the reference's
  * single-partition restriction.
  *
  * SPARQL Update WHERE-clauses see the SEQUENTIAL state: the store as
  * of the last commit plus every batch op before them. That state is a
  * lazily-built DataFrame (store base, then per-chunk anti-join +
  * union of the small in-batch deltas — AQE broadcasts those), so a
  * `DELETE WHERE` never collects matched quads to the driver.
  *
  * Bulk auto-routing: when a batch's dataset payloads together exceed
  * `bulkBytesThreshold`, their quads do NOT pass through the
  * driver-side op buffer (whose `toDF` embeds every row in the plan
  * as a LocalRelation — fine at the reference's 50 MiB batch
  * envelope, a driver bottleneck beyond it). Instead the RAW payload
  * bytes ship to executors — one row per event — and decode there,
  * the [[graft.streaming.IngestPipeline]] shape. Batches carrying a
  * SPARQL Update stay on the driver path: update WHERE resolution
  * needs the sequential in-batch state, which folds driver-buffered
  * ops.
  */
final class QuadStoreSink(spark: SparkSession, val store: QuadStore,
    bulkBytesThreshold: Long = QuadStoreSink.DefaultBulkBytes,
    override val loadRoot: Option[java.nio.file.Path] = None) extends BatchSink {
  import QuadStore.OpRow

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

  private val QUAD_COLS = QuadStore.QUAD_COLUMNS

  /** `state` minus `touched` plus `adds` (both small/derived sides;
    * null-safe per-column equality — default graph is NULL).
    */
  private def applyDelta(state: DataFrame, touched: DataFrame, adds: DataFrame): DataFrame = {
    val b = state.alias("b")
    val t = touched.alias("t")
    val cond = QUAD_COLS.map(c => col(s"b.$c") <=> col(s"t.$c")).reduce(_ && _)
    b.join(t, cond, "left_anti").select(QUAD_COLS.map(col): _*).unionByName(adds)
  }

  /** Runs in its own [[Checkpoints.withScope]]: everything the commit
    * pins (fold-chain cuts, a WHERE path's fixpoint) is dead once
    * `commitOps` has written the segment, and a long-running connector
    * must not accumulate pinned blocks across batches.
    */
  override def apply(batchId: Long, events: Seq[MaterialisedEvent]): Unit =
    Checkpoints.withScope(commit(batchId, events))

  private def commit(batchId: Long, events: Seq[MaterialisedEvent]): Unit = {
    import spark.implicits._
    // patch op streams resolve batch-wide: a transaction opened by one
    // event may be committed (or aborted) by a later one
    // (RDFChangesApplyExternalTransaction.java:10-42)
    val (effPatchOps, _) = RdfPatchParser.dataOpsBatch(
      events.map(m => if (m.decoded.kind == "patch") m.decoded.ops else Seq.empty))

    val local = scala.collection.mutable.ArrayBuffer[OpRow]()
    val resolved = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // sequential state for SPARQL Update WHERE resolution, built only
    // when a batch actually carries an update
    var state: DataFrame = null
    var folded = 0 // local ops already folded into `state`
    def quadsDf(qs: Seq[Quad]): DataFrame =
      qs.toDF().select(QUAD_COLS.map(col): _*)
    def currentState(): DataFrame = {
      if (state == null) state = store.quads()
      if (folded < local.size) {
        // fold the pending local rows: effective last op per quad
        val eff = local.drop(folded)
          .groupBy(o => (o.graph, o.subject, o.predicate, o.obj))
          .map { case (_, ops) => ops.maxBy(_.seq) }.toSeq
        val touched = eff.map(o => Quad(o.graph, o.subject, o.predicate, o.obj))
        val adds = eff.filter(_.op == "A")
          .map(o => Quad(o.graph, o.subject, o.predicate, o.obj))
        state = applyDelta(state, quadsDf(touched), quadsDf(adds))
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
      val touched = df.select(QUAD_COLS.map(col): _*)
      val adds = df.filter(col("op") === "A").select(QUAD_COLS.map(col): _*)
      state = applyDelta(currentState(), touched, adds)
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
    val datasetBytes = events.iterator
      .filter(_.decoded.kind == "dataset").map(_.event.value.length.toLong).sum
    val bulkRoute = datasetBytes > bulkBytesThreshold &&
      !events.exists(_.decoded.kind == "update")
    val bulkEvents = scala.collection.mutable.ArrayBuffer[(MaterialisedEvent, Int)]()

    events.zipWithIndex.foreach { case (m, ei) =>
      val base = ei.toLong << 24
      m.decoded.kind match {
        case "dataset" if bulkRoute => bulkEvents += ((m, ei))
        case "dataset" =>
          m.decoded.quads.zipWithIndex.foreach { case (q, qi) =>
            local += OpRow("A", base | qi.toLong, q.graph, q.subject, q.predicate, q.obj)
          }
        case "patch" =>
          effPatchOps(ei).zipWithIndex.foreach { case (o, oi) =>
            local += OpRow(o.op, base | oi.toLong, o.graph, o.subject, o.predicate, o.obj)
          }
        case "update" =>
          // deterministic re-parse (decode already validated); blank
          // nodes in INSERT DATA scope to the event identity, as in
          // RdfParse.decodeEvents
          val script = SparqlUpdate.parse(
            new String(m.event.value, StandardCharsets.UTF_8))
          val scope = s"${m.event.topic}:${m.event.partition}:${m.event.offset}"
          var oi = 0L
          // `base | oi` packs (event << 24) | op-index: past 2^24 the
          // index would bleed into the event bits and silently corrupt
          // latest-op-wins ordering. The arrival probe
          // (SparqlUpdate.probeArrival) rejects overflowing scripts to
          // the DLQ before they buffer; this guard is the loud
          // backstop so corruption is impossible even if a document
          // grew between probe and apply.
          def guardOi(slots: Long): Unit =
            if (oi + slots > SparqlUpdate.MaxEventOps)
              throw new ProjectorException(
                s"event ordinal budget exhausted (${SparqlUpdate.MaxEventOps} " +
                "ops in one event) — the arrival probe should have routed " +
                "this event to the DLQ")
          script.foreach {
            case SparqlUpdate.QuadDataOp(op, quads) =>
              quads.foreach { q0 =>
                def sc(t: Term): Term =
                  if (t != null && t.isBlank) Term.blank(scope + ":" + t.lex) else t
                guardOi(1)
                local += OpRow(op, base | oi,
                  sc(q0.graph), sc(q0.subject), q0.predicate, sc(q0.obj))
                oi += 1
              }
            case mo: SparqlUpdate.ModifyOp =>
              guardOi(2) // deletes at oi, inserts at oi + 1
              SparqlUpdate.resolveModify(currentState(), mo, base | oi, scope)
                .foreach(foldResolved)
              oi += 2
            case cl: SparqlUpdate.ClearOp =>
              guardOi(1)
              foldResolved(SparqlUpdate.resolveClear(currentState(), cl, base | oi))
              oi += 1
            case gm: SparqlUpdate.GraphManageOp =>
              guardOi(2) // deletes at oi, re-labelled inserts at oi + 1
              SparqlUpdate.resolveGraphManage(currentState(), gm, base | oi)
                .foreach(foldResolved)
              oi += 2
            case ld: SparqlUpdate.LoadOp =>
              // blank nodes scope to this load site, like per-event
              // decode; loaded quads join the driver-local adds (LOAD
              // shares the event path's batch envelope — bulk corpora
              // belong on the event source, not update scripts; the
              // resolver caps quads to the 24-bit ordinal budget).
              // The projector probed non-SILENT loads at ARRIVAL; a
              // failure HERE means the file changed in the tiny window
              // since — treated as SILENT (zero quads) rather than
              // poisoning the whole committed batch, whose other
              // events are innocent (deferred-apply contract: the
              // commit apply must not fail)
              val loadScope = s"$scope:load$oi"
              val loaded =
                try SparqlUpdate.resolveLoad(ld, loadScope, loadRoot)
                catch { case scala.util.control.NonFatal(_) => Seq.empty[graft.rdf.Quad] }
              loaded.foreach { q =>
                guardOi(1)
                local += OpRow("A", base | oi, q.graph, q.subject, q.predicate, q.obj)
                oi += 1
              }
          }
        case other =>
          throw new ProjectorException(s"unapplied payload kind '$other'")
      }
    }
    // executor-side decode of the bulk events: the driver ships ONE
    // row per event (raw bytes it already holds from the poll), the
    // per-quad explosion happens on executors — same blank-node scope
    // as the driver path, so labels are identical either way
    val bulkOps: Option[DataFrame] = if (bulkEvents.isEmpty) None else {
      val rows = bulkEvents.toSeq.map { case (m, ei) =>
        (ei, s"${m.event.topic}:${m.event.partition}:${m.event.offset}",
          m.event.value, m.event.contentType)
      }
      Some(rows.toDS()
        .repartition(math.min(rows.size, spark.sparkContext.defaultParallelism))
        .flatMap { case (ei, scope, value, ct) =>
          graft.rdf.RdfParse.decode(value, ct, scope).quads.zipWithIndex.map {
            case (q, qi) => OpRow("A", (ei.toLong << 24) | qi.toLong,
              q.graph, q.subject, q.predicate, q.obj)
          }
        }.toDF())
    }
    val ops = (resolved ++ bulkOps).foldLeft(local.toSeq.toDF())(_.unionByName(_))
    store.commitOps(batchId, ops)
    // PA/PD prefix ops update the dataset prefix map in event order
    // (RDFChangesApply semantics; SURVEY §2.1 row 6)
    val prefixOps = events.flatMap { m =>
      if (m.decoded.kind == "patch")
        m.decoded.ops.collect {
          case o if o.op == "PA" => ("PA", o.subject.lex, o.obj.lex)
          case o if o.op == "PD" => ("PD", o.subject.lex, null)
        }
      else Seq.empty
    }
    store.updatePrefixes(prefixOps)
  }
}

object QuadStoreSink {
  /** Above this many combined dataset-payload bytes in one batch the
    * quads decode executor-side (see class doc). The reference's
    * default batch-bytes commit threshold is 50 MiB, so batches inside
    * its envelope stay on the driver path.
    */
  val DefaultBulkBytes: Long = 32L << 20
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

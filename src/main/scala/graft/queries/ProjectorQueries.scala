package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.connect._
import graft.store.QuadStore

/** Scripted projector scenarios surfaced as verify-gate entries — the
  * reference's unit-test matrix (TestFusekiProjector.java:148-410,
  * TestFusekiProjectorHighLag.java:74-258,
  * TestFusekiProjectorLowVolume.java:28-170) driven through the real
  * EventSource → Projector → QuadStore → OffsetStore wiring. Each
  * scenario's observable state (commit count, store row count, DLQ
  * count, pending events, mode flags) is deterministic, so the DuckDB
  * oracle is a literal SELECT.
  */
object ProjectorQueries {

  private val CT = "Content-Type"

  /** A ~50-byte single-quad N-Quads event (fixed size so the bytes
    * threshold scenarios are deterministic).
    */
  private def ev(i: Long, topic: String = "t"): Event = {
    val body = f"""<http://g/s$i%05d> <http://g/p> "v$i%09d" .""" // 44 chars
    Event(topic, 0, i, Array.empty, body.padTo(50, ' ').getBytes("UTF-8"),
      Map(CT -> "application/n-quads"))
  }

  private def badEv(i: Long): Event =
    Event("t", 0, i, Array.empty, "this is not rdf".getBytes("UTF-8"),
      Map(CT -> "application/n-quads"))

  private def patchEv(i: Long, body: String): Event =
    Event("t", 0, i, Array.empty, body.getBytes("UTF-8"),
      Map(CT -> "application/rdf-patch"))

  /** Run a scenario and surface its observable state as one row. */
  private def result(s: SparkSession, p: Projector, sink: QuadStoreSink,
      dlq: MemoryDlqSink): DataFrame = {
    import s.implicits._
    val headersOk = dlq.events.forall { e =>
      Seq("Exec-Path", "Dead-Letter-Reason", "Dead-Letter-Exception-Class",
        "Dead-Letter-Root-Cause", "Dead-Letter-Root-Cause-Class")
        .forall(e.headers.contains) && e.headers("Exec-Path") == "graft"
    }
    Seq((p.commitCount, sink.store.count(), dlq.events.size.toLong * (if (headersOk) 1 else -1),
      p.pendingEvents.toLong, p.lowVolumeDetected, p.highLagDetected))
      .toDF("commits", "store_count", "dlq_count", "pending", "low_volume", "high_lag")
  }

  private def mkStoreSink(s: SparkSession): QuadStoreSink =
    new QuadStoreSink(s, new QuadStore(s, graft.Harness.scratchDir("projstore").toString))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // batch of 3 under a batch size of 10 → single commit at zero lag
    // (TestFusekiProjector.java:148-159)
    "proj_batch_of_3" -> { (s, _) =>
      val src = new MemoryEventSource(Seq(ev(0), ev(1), ev(2)))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
      p.runToCompletion()
      result(s, p, sink, dlq)
    },
    // unknown lag (remaining() == null) → no commit ever fires
    // (RemainingNullEventSource, TestFusekiProjector.java:187-198)
    "proj_unknown_lag" -> { (s, _) =>
      val src = new MemoryEventSource(Seq(ev(0), ev(1), ev(2)), Some(() => None))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
      var more = true
      while (more) src.poll() match { // drained WITHOUT a stall signal
        case Some(e) => p.project(e)
        case None => more = false
      }
      result(s, p, sink, dlq)
    },
    // batch maximization: batch size 2 but 6 events buffered → ONE
    // commit of all 6 (availableImmediately, FusekiProjector.java:422-435)
    "proj_count_threshold" -> { (s, _) =>
      val src = new MemoryEventSource((0L until 6L).map(ev(_)))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 2), dlq = Some(dlq))
      p.runToCompletion()
      result(s, p, sink, dlq)
    },
    // bytes threshold: 50-byte events, 100-byte cap, lag unknown →
    // commit at every third event (150 > 100) (FusekiProjector.java:417-421)
    "proj_bytes_threshold" -> { (s, _) =>
      val src = new MemoryEventSource((0L until 6L).map(ev(_)), Some(() => None))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink,
        ProjectorConfig(batchSize = 100, batchSizeBytes = 100L), dlq = Some(dlq))
      var more = true
      while (more) src.poll() match {
        case Some(e) => p.project(e)
        case None => more = false
      }
      result(s, p, sink, dlq)
    },
    // max transaction duration: clock jumps 6 minutes between events →
    // time-based commits (FusekiProjector.java:436-445)
    "proj_max_duration" -> { (s, _) =>
      var now = 1_000_000L
      val src = new MemoryEventSource((0L until 3L).map(ev(_)), Some(() => None))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 100),
        dlq = Some(dlq), clock = () => now)
      var more = true
      while (more) src.poll() match {
        case Some(e) => p.project(e); now += 6 * 60 * 1000L
        case None => more = false
      }
      result(s, p, sink, dlq)
    },
    // zero-lag commits mid-stream: two poll rounds → two commits
    // (FusekiProjector.java:447-462)
    "proj_zero_lag" -> { (s, _) =>
      val src = new MemoryEventSource(Seq(ev(0), ev(1)))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
      var more = true
      while (more) src.poll() match {
        case Some(e) => p.project(e)
        case None => more = false
      }
      src.enqueue(ev(2), ev(3))
      more = true
      while (more) src.poll() match {
        case Some(e) => p.project(e)
        case None => more = false
      }
      result(s, p, sink, dlq)
    },
    // high-lag mode: engages above threshold (ignoring the count
    // threshold), batches by bytes, disengages at zero lag
    // (TestFusekiProjectorHighLag.java:74-258)
    "proj_high_lag" -> { (s, _) =>
      var lag: Option[Long] = Some(50000L)
      val src = new MemoryEventSource(Seq.empty, Some(() => lag))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink,
        ProjectorConfig(batchSize = 2, batchSizeBytes = 220L, highLagThreshold = 10000L),
        dlq = Some(dlq))
      // 5 events under high lag: count threshold (2) is skipped; bytes
      // threshold commits at event 5 (250 > 220)
      (0L until 5L).foreach(i => p.project(ev(i)))
      // lag drops to zero → commit + disengage
      lag = Some(0L)
      p.project(ev(5))
      result(s, p, sink, dlq)
    },
    // low-volume mode: window of 3 single-event commits engages it
    // (zero-lag commits stop), batch-size commit disengages it
    // (TestFusekiProjectorLowVolume.java:28-170)
    "proj_low_volume" -> { (s, _) =>
      val src = new MemoryEventSource(Seq.empty)
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink,
        ProjectorConfig(batchSize = 3, batchSizeTrackingWindow = 3,
          lowVolumeBatchSizeThreshold = 1), dlq = Some(dlq))
      def feedOne(i: Long): Unit = { src.enqueue(ev(i)); p.project(src.poll().get) }
      (0L until 3L).foreach(feedOne) // three 1-event commits → engage
      (3L until 6L).foreach(feedOne) // no zero-lag commits; commit at size 3 → disengage
      feedOne(6L)                    // normal behaviour again → 1-event commit
      result(s, p, sink, dlq)
    },
    // malformed event mid-stream: good prefix commits, event goes to
    // the DLQ with the five headers, processing continues
    // (TestFusekiProjector.java:253-269,376-394; DockerTestConfigFK.java:267-331)
    "proj_dlq_routing" -> { (s, _) =>
      val src = new MemoryEventSource(Seq(ev(0), ev(1), badEv(2), ev(3), ev(4)))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
      p.runToCompletion()
      result(s, p, sink, dlq)
    },
    // patch transaction semantics: a TC-closing patch commits the open
    // transaction; a TX-only patch leaves it open for later triggers
    // (TestFusekiProjector.java:200-232; patch1.rdfp)
    "proj_patch_txn" -> { (s, _) =>
      val src = new MemoryEventSource(Seq(
        ev(0),
        patchEv(1, "TX .\nA <http://g/p1> <http://g/p> \"x\" .\nTC ."),
        patchEv(2, "TX .\nA <http://g/p2> <http://g/p> \"y\" ."),
        ev(3)))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
      p.runToCompletion()
      result(s, p, sink, dlq)
    },
    // a patch transaction SPANNING events
    // (RDFChangesApplyExternalTransaction.java:10-42,
    // TestFusekiProjector.java:216-232): event 1 leaves a TX open, so
    // its op is pending; event 2's TC commits the carried transaction
    // (commit #1 with both ops). Event 3 opens another TX whose op is
    // then ABORTED by event 4's TA (commit #2 applies zero ops). The
    // stall commit flushes the final dataset event (commit #3).
    "proj_patch_txn_open" -> { (s, _) =>
      val src = new MemoryEventSource(Seq(
        ev(0),
        patchEv(1, "TX .\nA <http://g/p1> <http://g/p> \"x\" ."),
        patchEv(2, "A <http://g/p2> <http://g/p> \"y\" .\nTC ."),
        patchEv(3, "TX .\nA <http://g/p3> <http://g/p> \"z\" ."),
        patchEv(4, "TA ."),
        ev(5)))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
      p.runToCompletion()
      result(s, p, sink, dlq)
    },
    // scale parity: the reference's integration corpus — 10,000 events
    // of U(1,1000) quads (~5M quads) through the distributed ingest
    // path in 4 epoch segments; final store count must equal the
    // arithmetic sum (AbstractDockerTests.java:38-141, BASELINE.md §B)
    "scale_ingest_10k" -> { (s, _) =>
      import s.implicits._
      import org.apache.spark.sql.functions.{col, expr}
      val store = new QuadStore(s, graft.Harness.scratchDir("scalestore").toString)
      val events = graft.streaming.IngestPipeline.syntheticEvents(s, 10000L, 1000)
      (0 until 4).foreach { b =>
        graft.streaming.IngestPipeline.ingest(
          events.filter(expr("offset div 2500") === b), store, b.toLong)
      }
      Seq((10000L, store.count())).toDF("n_events", "n_quads")
    },
    // apply-failure (invalid patch markers): good prefix commits, the
    // event routes to the DLQ, processing continues — the reference's
    // abort-and-replay observable state (TestFusekiProjector.java:234-251
    // with a DLQ; FusekiProjector.java:362-379)
    "proj_apply_failure" -> { (s, _) =>
      val src = new MemoryEventSource(Seq(
        ev(0), patchEv(1, "TX .\nTX ."), ev(2)))
      val sink = mkStoreSink(s)
      val dlq = new MemoryDlqSink
      val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
      p.runToCompletion()
      result(s, p, sink, dlq)
    }
  )

  private def row(commits: Long, store: Long, dlqC: Long, pending: Long,
      lowVol: Boolean, highLag: Boolean): String =
    s"""SELECT ${commits}::BIGINT AS commits, ${store}::BIGINT AS store_count,
        ${dlqC}::BIGINT AS dlq_count, ${pending}::BIGINT AS pending,
        $lowVol AS low_volume, $highLag AS high_lag"""

  val oracle: Map[String, String] = Map(
    "proj_batch_of_3" -> row(1, 3, 0, 0, lowVol = false, highLag = false),
    "proj_unknown_lag" -> row(0, 0, 0, 3, lowVol = false, highLag = false),
    "proj_count_threshold" -> row(1, 6, 0, 0, lowVol = false, highLag = false),
    "proj_bytes_threshold" -> row(2, 6, 0, 0, lowVol = false, highLag = false),
    "proj_max_duration" -> row(2, 3, 0, 0, lowVol = false, highLag = false),
    "proj_zero_lag" -> row(2, 4, 0, 0, lowVol = false, highLag = false),
    "proj_high_lag" -> row(2, 6, 0, 0, lowVol = false, highLag = false),
    "proj_low_volume" -> row(5, 7, 0, 0, lowVol = false, highLag = false),
    "proj_dlq_routing" -> row(2, 4, 1, 0, lowVol = false, highLag = false),
    "proj_patch_txn" -> row(2, 4, 0, 0, lowVol = false, highLag = false),
    // store: ev(0) + x + y + ev(5); z aborted by the cross-event TA
    "proj_patch_txn_open" -> row(3, 4, 0, 0, lowVol = false, highLag = false),
    "proj_apply_failure" -> row(2, 2, 1, 0, lowVol = false, highLag = false),
    "scale_ingest_10k" ->
      """SELECT 10000::BIGINT AS n_events,
          (SELECT SUM(1 + ((i * 2654435761) % 2147483648) % 1000)
           FROM range(0, 10000) t(i))::BIGINT AS n_quads"""
  )
}

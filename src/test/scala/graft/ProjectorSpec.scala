package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._

/** Port of the reference projector unit-test matrix
  * (TestFusekiProjector.java:148-410, TestFusekiProjectorHighLag.java,
  * TestFusekiProjectorLowVolume.java, TestFusekiProjectorReadiness.java)
  * against the decision tree via a CountingSink (the reference's mock
  * DatasetGraph role).
  */
class ProjectorSpec extends AnyFunSuite {

  private def ev(i: Long): Event =
    Event("t", 0, i, Array.empty,
      s"""<http://g/s$i> <http://g/p> "v$i" .""".getBytes("UTF-8"),
      Map("Content-Type" -> "application/n-quads"))

  private def badEv(i: Long): Event =
    Event("t", 0, i, Array.empty, "junk".getBytes("UTF-8"),
      Map("Content-Type" -> "application/n-quads"))

  private def patchEv(i: Long, body: String): Event =
    Event("t", 0, i, Array.empty, body.getBytes("UTF-8"),
      Map("Content-Type" -> "application/rdf-patch"))

  test("batch of 3, one commit at zero lag (ref :148-159)") {
    val src = new MemoryEventSource(Seq(ev(0), ev(1), ev(2)))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    p.runToCompletion()
    assert(sink.commits == Seq((0L, 3)))
    assert(src.processedEvents.size == 3)
  }

  test("unknown lag: no commits without a stall (ref :187-198)") {
    val src = new MemoryEventSource(Seq(ev(0), ev(1), ev(2)), Some(() => None))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    var more = true
    while (more) src.poll() match {
      case Some(e) => p.project(e)
      case None => more = false
    }
    assert(sink.commits.isEmpty && p.pendingEvents == 3)
    // ... and a stall flushes the open batch (ref stalled semantics)
    p.stalled()
    assert(sink.commits == Seq((0L, 3)))
  }

  test("patch with TC commits; patch leaving txn open does not (ref :200-232)") {
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    p.project(patchEv(0, "TX .\nA <http://g/a> <http://g/p> \"x\" .\nTC ."))
    assert(sink.commits == Seq((0L, 1)))
    p.project(patchEv(1, "TX .\nA <http://g/b> <http://g/p> \"y\" ."))
    assert(sink.commits.size == 1 && p.pendingEvents == 1)
  }

  test("patch txn spanning events: a later TC commits the carried ops (ref :216-232)") {
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    p.project(patchEv(0, "TX .\nA <http://g/a> <http://g/p> \"x\" ."))
    assert(sink.commits.isEmpty && p.pendingEvents == 1) // txn carried open
    p.project(patchEv(1, "A <http://g/b> <http://g/p> \"y\" .\nTC ."))
    assert(sink.commits == Seq((0L, 2))) // TC closed it → both events commit
  }

  test("bulk auto-route: oversized dataset batches decode executor-side, same result") {
    // threshold 1 byte forces the bulk route; blank nodes included so
    // scope-label parity with the driver path is exercised. In the one
    // batch, driver-path patches interleave with bulk-routed dataset
    // events: event 3 deletes quads bulk events 0 and 1 added, and
    // bulk event 4 re-adds one of them — each must win in event order
    def run(threshold: Long): Set[String] = {
      val store = new graft.store.QuadStore(TestSpark.spark,
        Harness.scratchDir("bulkroute").toString)
      val sink = new QuadStoreSink(TestSpark.spark, store, bulkBytesThreshold = threshold)
      def nq(i: Long, body: String) = Event("t", 0, i, Array.empty,
        body.getBytes("UTF-8"), Map("Content-Type" -> "application/n-quads"))
      val evs = (0L until 3L).map { i =>
        nq(i, s"""<http://g/s$i> <http://g/p> "v$i" .""" + "\n" +
          s"""_:b <http://g/q> <http://g/o$i> .""")
      } ++ Seq(
        patchEv(3, "D <http://g/s0> <http://g/p> \"v0\" .\n" +
          "D <http://g/s1> <http://g/p> \"v1\" ."),
        nq(4, "<http://g/s1> <http://g/p> \"v1\" ."),
        patchEv(5, "TX .\nA <http://g/px> <http://g/p> \"patched\" .\nTC ."))
      new Projector(new MemoryEventSource(evs), sink,
        ProjectorConfig(batchSize = 10)).runToCompletion()
      assert(store.committedSegments().size == 1, "the events must commit as one batch")
      store.quads().collect().map { r =>
        val s = r.getStruct(1); val o = r.getStruct(3)
        s"${s.getString(0)}:${s.getString(1)}|${o.getString(0)}:${o.getString(1)}"
      }.toSet
    }
    val bulk = run(threshold = 1L)
    val driver = run(threshold = Long.MaxValue)
    assert(bulk == driver, "bulk route diverged from the driver path")
    assert(bulk.size == 6) // 3 nquads pairs + 1 patched, less s0's deleted quad
    assert(!bulk.exists(_.startsWith("iri:http://g/s0|")))
    assert(bulk.exists(_.startsWith("iri:http://g/s1|")))
    // a batch carrying a SPARQL Update stays on the driver path even
    // past the threshold (sequential WHERE state) — and still applies
    val store2 = new graft.store.QuadStore(TestSpark.spark,
      Harness.scratchDir("bulkupd").toString)
    val sink2 = new QuadStoreSink(TestSpark.spark, store2, bulkBytesThreshold = 1L)
    val evs2 = Seq(
      ev(0),
      Event("t", 0, 1, Array.empty,
        "INSERT { ?s <http://g/copy> ?o } WHERE { ?s <http://g/p> ?o }"
          .getBytes("UTF-8"),
        Map("Content-Type" -> "application/sparql-update")))
    new Projector(new MemoryEventSource(evs2), sink2,
      ProjectorConfig(batchSize = 10)).runToCompletion()
    val preds = store2.quads().select(org.apache.spark.sql.functions.col("predicate.lex"))
      .collect().map(_.getString(0)).toSet
    assert(preds == Set("http://g/p", "http://g/copy"))
  }

  test("a committed update whose WHERE runs a path closure leaves nothing pinned") {
    // the sink owns one checkpoint scope per commit: the fixpoint the
    // WHERE's `+` path materializes is dead once the segment is written
    val store = new graft.store.QuadStore(TestSpark.spark,
      Harness.scratchDir("sinkpath").toString)
    val chain = (0 until 6).map(i =>
      s"<http://g/n$i> <http://g/next> <http://g/n${i + 1}> .").mkString("\n")
    val update = "INSERT { ?s <http://g/reach> ?o } WHERE { ?s <http://g/next>+ ?o }"
    val evs = Seq(
      Event("t", 0, 0, Array.empty, chain.getBytes("UTF-8"),
        Map("Content-Type" -> "application/n-quads")),
      Event("t", 0, 1, Array.empty, update.getBytes("UTF-8"),
        Map("Content-Type" -> "application/sparql-update")))
    val before = TestSpark.pinned()
    new Projector(new MemoryEventSource(evs), new QuadStoreSink(TestSpark.spark, store),
      ProjectorConfig(batchSize = 10)).runToCompletion()
    assert(TestSpark.awaitPinned(before) == before, "the commit left persistent RDDs")
    import org.apache.spark.sql.functions.col
    assert(store.quads().filter(col("predicate.lex") === "http://g/reach").count() == 21)
  }

  test("cross-event TA aborts ops carried from the opening event") {
    val store = new graft.store.QuadStore(TestSpark.spark,
      Harness.scratchDir("txnabort").toString)
    val sink = new QuadStoreSink(TestSpark.spark, store)
    val src = new MemoryEventSource(Seq(
      patchEv(0, "TX .\nA <http://g/a> <http://g/p> \"gone\" ."),
      patchEv(1, "TA ."),
      patchEv(2, "A <http://g/b> <http://g/p> \"kept\" .")))
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    p.runToCompletion()
    import org.apache.spark.sql.functions.col
    val lexes = store.quads().select(col("obj.lex")).collect().map(_.getString(0)).toSet
    assert(lexes == Set("kept"), s"aborted op leaked: $lexes")
  }

  test("prefix ops of an aborted patch transaction leave the prefix map unchanged") {
    val store = new graft.store.QuadStore(TestSpark.spark,
      Harness.scratchDir("txnprefix").toString)
    val src = new MemoryEventSource(Seq(
      patchEv(0, "TX .\nPA \"p\" <http://g/p#> .\nTA ."),
      patchEv(1, "TX .\nPA \"q\" <http://g/q#> ."),
      patchEv(2, "TA ."),
      patchEv(3, "PA \"k\" <http://g/k#> .")), Some(() => None))
    new Projector(src, new QuadStoreSink(TestSpark.spark, store),
      ProjectorConfig(batchSize = 10)).runToCompletion()
    assert(store.prefixes() == Map("k" -> "http://g/k#"))
  }

  test("patch semantics: projector + sink agree with a sequential model on random streams") {
    // an event is a list of (op, operand) lines over 6 quads and 3
    // prefix names, so ops collide often
    type Line = (String, Int)
    def render(l: Line): String = l match {
      case ("A" | "D", i) => s"""${l._1} <http://g/s${i % 3}> <http://g/p> "${i / 3}" ."""
      case ("PA", i) => s"""PA "p${i % 3}" <http://g/ns$i#> ."""
      case ("PD", i) => s"""PD "p${i % 3}" ."""
      case (marker, _) => s"$marker ."
    }
    def quad(i: Int): String = s"http://g/s${i % 3}|${i / 3}"

    // the model: ops append to a buffer in stream order, TX marks where
    // its transaction began, TA cuts the buffer back to that mark; the
    // buffer folds into the quads and prefixes at each patch that ends
    // on TC/TA, at each rejected event (its good prefix), before each
    // event in `cuts` (a micro-batch boundary) and at the end
    type Result = (Set[String], Map[String, String], Seq[Long])
    def model(events: Seq[Seq[Line]], cuts: Set[Int] = Set.empty): Result = {
      var quads = Set.empty[String]
      var prefixes = Map.empty[String, String]
      val rejected = scala.collection.mutable.ArrayBuffer[Long]()
      var buf = Vector.empty[Line]
      var mark: Option[(Int, Int)] = None // (opening event, buffer length at TX)
      def commit(): Unit = {
        buf.foreach {
          case ("A", i) => quads += quad(i)
          case ("D", i) => quads -= quad(i)
          case ("PA", i) => prefixes += (s"p${i % 3}" -> s"http://g/ns$i#")
          case ("PD", i) => prefixes -= s"p${i % 3}"
        }
        buf = Vector.empty; mark = None
      }
      events.zipWithIndex.foreach { case (ev, k) =>
        if (cuts(k)) commit()
        var (b, m, ok, closed) = (buf, mark, true, false)
        ev.foreach { l =>
          if (ok) l._1 match {
            case "TX" =>
              if (m.exists(_._1 == k)) ok = false
              else { m = Some((k, b.size)); closed = false }
            case "TC" => m = None; closed = true
            case "TA" =>
              m match {
                case None => ok = false
                case Some((_, at)) => b = b.take(at); m = None; closed = true
              }
            case _ => b :+= l
          }
        }
        if (!ok) { rejected += k.toLong; commit() }
        else { buf = b; mark = m; if (closed) commit() }
      }
      commit()
      (quads, prefixes, rejected.toSeq)
    }

    def contents(store: graft.store.QuadStore): Set[String] =
      store.quads().collect().map { r =>
        s"${r.getStruct(1).getString(1)}|${r.getStruct(3).getString(1)}"
      }.toSet

    def run(events: Seq[Seq[Line]]): Result = {
      val store = new graft.store.QuadStore(TestSpark.spark,
        Harness.scratchDir("patchmodel").toString)
      val dlq = new MemoryDlqSink
      // unknown lag and a large batch: only the patch-closed trigger,
      // a rejection and the final stall commit
      val src = new MemoryEventSource(events.zipWithIndex.map { case (ev, k) =>
        patchEv(k.toLong, ev.map(render).mkString("\n"))
      }, Some(() => None))
      new Projector(src, new QuadStoreSink(TestSpark.spark, store),
        ProjectorConfig(batchSize = 1000), dlq = Some(dlq)).runToCompletion()
      (contents(store), store.prefixes(), dlq.events.map(_.offset))
    }

    // the same stream through the Structured Streaming commit, one
    // micro-batch starting at each of `cuts` (and at 0)
    def ingest(events: Seq[Seq[Line]], cuts: Set[Int]): Result = {
      val spark = TestSpark.spark
      import spark.implicits._
      val store = new graft.store.QuadStore(spark, Harness.scratchDir("patchingest").toString)
      val dlqDir = Harness.scratchDir("patchingestdlq").resolve("dlq").toString
      val raw = events.zipWithIndex.map { case (ev, k) =>
        ("t", 0, k.toLong, Array.emptyByteArray, ev.map(render).mkString("\n").getBytes("UTF-8"),
          "application/rdf-patch")
      }
      val bounds = (0 +: cuts.toSeq.sorted :+ raw.size).distinct
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(from, to), b) =>
        graft.streaming.IngestPipeline.ingest(
          raw.slice(from, to).toDF(graft.connect.QuadStoreSink.FrameColumns: _*),
          store, b.toLong, Some(dlqDir))
      }
      val dlqd = if (!Files.exists(java.nio.file.Paths.get(dlqDir))) Seq.empty[Long]
        else spark.read.parquet(dlqDir).select("offset").as[Long].collect().sorted.toSeq
      (contents(store), store.prefixes(), dlqd)
    }

    val fixed: Seq[Seq[Seq[Line]]] = Seq(
      // TA across events drops the ops of every event since the TX
      Seq(Seq("TX" -> 0, "A" -> 0), Seq("A" -> 1, "PA" -> 0), Seq("TA" -> 0), Seq("A" -> 2)),
      // TX over a carried transaction commits it and opens its own
      Seq(Seq("TX" -> 0, "A" -> 0, "PA" -> 1), Seq("TX" -> 0, "A" -> 1, "D" -> 0), Seq("TA" -> 0)),
      // a TX still open at the end of the stream commits with it
      Seq(Seq("A" -> 3), Seq("TX" -> 0, "A" -> 4, "PA" -> 2, "PD" -> 2)),
      // malformed nesting: a second TX in one event, TA with none open
      Seq(Seq("A" -> 0), Seq("TX" -> 0, "A" -> 1, "TX" -> 0), Seq("TA" -> 0),
        Seq("D" -> 0, "TC" -> 0)),
      // a rejected event commits the transaction open before it, so a
      // later TA finds none open
      Seq(Seq("TX" -> 0, "A" -> 0), Seq("TX" -> 0, "A" -> 1, "TX" -> 0), Seq("TA" -> 0)))
    val rnd = new scala.util.Random(20261017L)
    val ops = Seq("A" -> 4, "D" -> 3, "PA" -> 1, "PD" -> 1, "TX" -> 2, "TC" -> 2, "TA" -> 1)
      .flatMap { case (op, w) => Seq.fill(w)(op) }
    def line(): Line = (ops(rnd.nextInt(ops.size)), rnd.nextInt(6))
    val random = Seq.fill(30)(Seq.fill(2 + rnd.nextInt(6))(Seq.fill(rnd.nextInt(4))(line())))
    (fixed ++ random).foreach { events =>
      val text = events.map(_.map(render).mkString(" ")).mkString(" | ")
      val projected = run(events)
      assert(projected == model(events), s"stream: $text")
      assert(ingest(events, Set.empty) == projected, s"one micro-batch: $text")
      val cuts = (1 until events.size).filter(_ => rnd.nextInt(3) == 0).toSet
      assert(ingest(events, cuts) == model(events, cuts),
        s"micro-batches from ${cuts.toSeq.sorted.mkString(",")}: $text")
    }
  }

  test("malformed patch without DLQ aborts with exception (ref :234-251)") {
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    p.project(ev(0))
    intercept[ProjectorException] { p.project(patchEv(1, "TX .\nTX .")) }
    assert(sink.commits.isEmpty) // nothing committed, nothing acknowledged
    assert(src.processedEvents.isEmpty)
  }

  test("malformed payload first: bookkeeping commit only, DLQ gets event (ref :278-309)") {
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val dlq = new MemoryDlqSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
    p.project(badEv(0))
    assert(sink.commits.isEmpty)        // no store commit (empty batch)
    assert(p.bookkeepingCommits == 1)   // but state was reset
    assert(dlq.events.size == 1)
  }

  test("broken DLQ: exception propagates, batch unacknowledged (ref :311-327)") {
    val broken = new DlqSink { def send(e: Event): Unit = throw new RuntimeException("dlq down") }
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(broken))
    intercept[ProjectorException] { p.project(badEv(0)) }
    assert(sink.commits.isEmpty && src.processedEvents.isEmpty)
  }

  test("DLQ headers carry reason/class/root-cause (ref :344-374)") {
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val dlq = new MemoryDlqSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
    p.project(badEv(7))
    val h = dlq.events.head.headers
    assert(h("Exec-Path") == "graft")
    assert(h(p.DEAD_LETTER_EXCEPTION_CLASS) == classOf[PayloadException].getName)
    assert(h(p.DEAD_LETTER_ROOT_CAUSE_CLASS) == classOf[PayloadException].getName)
    assert(h(p.DEAD_LETTER_REASON).nonEmpty && h(p.DEAD_LETTER_ROOT_CAUSE).nonEmpty)
    // original headers are preserved alongside the dead-letter ones
    assert(h.contains("Content-Type"))
  }

  test("good prefix commits before the bad event (ref :376-394)") {
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val dlq = new MemoryDlqSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), dlq = Some(dlq))
    p.project(ev(0)); p.project(ev(1))
    p.project(badEv(2))
    assert(sink.commits == Seq((0L, 2))) // prefix committed at failure point
    p.project(ev(3)); p.project(ev(4))
    p.stalled()
    assert(sink.commits == Seq((0L, 2), (1L, 2)))
    assert(dlq.events.map(_.event_offset) == Seq(2L))
  }

  test("idle stall is a no-op (ref :396-410)") {
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    p.stalled()
    assert(sink.commits.isEmpty && p.bookkeepingCommits == 0)
  }

  test("high lag: engage above threshold, bytes-batch, disengage at zero (ref HighLag:74-258)") {
    var lag: Option[Long] = Some(50000L)
    val src = new MemoryEventSource(Seq.empty, Some(() => lag))
    val sink = new CountingSink
    val p = new Projector(src, sink,
      ProjectorConfig(batchSize = 2, batchSizeBytes = 150L, highLagThreshold = 10000L))
    p.project(ev(0))
    assert(p.highLagDetected)
    p.project(ev(1)) // count threshold would fire here in normal mode
    assert(sink.commits.isEmpty)
    (2L until 5L).foreach(i => p.project(ev(i)))
    assert(sink.commits.nonEmpty) // bytes threshold fired
    lag = Some(0L)
    p.project(ev(5))
    assert(!p.highLagDetected)
  }

  test("low volume: engage on small batches, no zero-lag commits, disengage (ref LowVolume:28-170)") {
    val src = new MemoryEventSource(Seq.empty)
    val sink = new CountingSink
    val p = new Projector(src, sink,
      ProjectorConfig(batchSize = 3, batchSizeTrackingWindow = 3, lowVolumeBatchSizeThreshold = 1))
    def one(i: Long): Unit = { src.enqueue(ev(i)); p.project(src.poll().get) }
    (0L until 3L).foreach(one)
    assert(p.lowVolumeDetected && sink.commits.size == 3)
    one(3L); one(4L)
    assert(sink.commits.size == 3) // zero lag ignored in low-volume mode
    one(5L)
    assert(sink.commits.size == 4 && !p.lowVolumeDetected) // size-3 commit disengaged
  }

  test("offsets saved as next-to-read and flushed on commit") {
    val dir = Harness.scratchDir("offstore")
    val os = new OffsetStore("/ds", dir.resolve("state.json"), "g1")
    val src = new MemoryEventSource(Seq(ev(0), ev(1), ev(2)))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10), offsets = Some(os))
    p.runToCompletion()
    assert(os.loadOffset("t", 0).contains(3L))
    val reloaded = new OffsetStore("/ds", dir.resolve("state.json"), "g1")
    assert(reloaded.loadOffset("t", 0).contains(3L))
  }

  test("pause blocks between events, commits in-flight batch; resume continues (ref Readiness)") {
    val src = new MemoryEventSource(Seq.empty, Some(() => None))
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    p.project(ev(0)) // open batch
    p.requestPause()
    val entered = new CountDownLatch(1)
    val finished = new CountDownLatch(1)
    val t = new Thread(() => { entered.countDown(); p.project(ev(1)); finished.countDown() })
    t.start()
    assert(entered.await(2, TimeUnit.SECONDS))
    // projector thread must reach the pause point, committing first
    var spins = 0
    while (!p.isAtPausePoint && spins < 200) { Thread.sleep(10); spins += 1 }
    assert(p.isAtPausePoint)
    assert(sink.commits == Seq((0L, 1))) // in-flight batch committed before pause
    assert(finished.getCount == 1)       // still blocked
    p.requestResume()
    assert(finished.await(2, TimeUnit.SECONDS))
    assert(p.pendingEvents == 1)         // ev(1) processed after resume
    t.join(2000)
  }

  test("FileEventSource: one event per file, content type by extension, in order") {
    val dir = Harness.scratchDir("fes")
    Files.writeString(dir.resolve("a.ttl"), "@prefix ex: <http://example/> .\nex:s ex:p ex:o .\n")
    Files.writeString(dir.resolve("b.nq"), "<http://x/s> <http://x/p> \"v\" .\n")
    Files.writeString(dir.resolve("c.rdfp"), "TX .\nA <http://x/a> <http://x/p> \"w\" .\nTC .\n")
    val files = Seq("a.ttl", "b.nq", "c.rdfp").map(dir.resolve)
    val src = new FileEventSource("files", files)
    val sink = new CountingSink
    val p = new Projector(src, sink, ProjectorConfig(batchSize = 10))
    p.runToCompletion()
    // a and b accumulate; c's TC-closing patch commits all three
    assert(sink.commits == Seq((0L, 3)))
    assert(src.processedEvents.map(_.offset) == Seq(0L, 1L, 2L))
    assert(src.processedEvents.map(_.contentType) ==
      Seq("text/turtle", "application/n-quads", "application/rdf-patch"))
  }

  private implicit class EventOffset(e: Event) {
    def event_offset: Long = e.offset
  }
}

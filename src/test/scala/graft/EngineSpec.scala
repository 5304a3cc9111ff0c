package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._

/** Lifecycle / registry / read-policy behavior — the reference's
  * FMod_FusekiKafka + FKS + FKRegistry surface
  * (FMod_FusekiKafka.java:87-229, FKS.java:84-138,295-448,
  * FKRegistry.java:33-99).
  */
class EngineSpec extends AnyFunSuite {

  private def ev(i: Long, topic: String = "T1"): Event =
    Event(topic, 0, i, Array.empty,
      s"""<http://g/s$i> <http://g/p> "v" .""".getBytes("UTF-8"),
      Map("Content-Type" -> "application/n-quads"))

  private def cfg(topic: String = "T1", group: String = "G1",
      ds: String = "/ds", sync: Boolean = true, replay: Boolean = false,
      check: Boolean = false): ConnectorConfig = {
    val dir = Harness.scratchDir("engine")
    ConnectorConfig(Seq(topic), "b:9092", ds, dir.resolve(s"$group.state").toString,
      syncTopic = sync, replayTopic = replay, checkTopicAtStartup = check, None,
      Map("group.id" -> group))
  }

  private class CapturingFactory(events: Seq[Event]) extends EventSourceFactory {
    var captured: (ReadPolicy, Map[(String, Int), Long]) = _
    override def create(c: ConnectorConfig, policy: ReadPolicy,
        startOffsets: Map[(String, Int), Long]): EventSource = {
      captured = (policy, startOffsets)
      val start = policy match {
        case ReadPolicy.Latest => events.size.toLong
        case ReadPolicy.Replay => 0L
        case ReadPolicy.Sync => startOffsets.getOrElse((c.topics.head, 0), 0L)
      }
      new MemoryEventSource(events.filter(_.offset >= start))
    }
  }

  test("registry: one connector per topic") {
    val r = new ConnectorRegistry
    r.register(cfg(group = "G1"))
    intercept[ConfigException] { r.register(cfg(group = "G2")) }
    assert(r.connectorForTopic("T1").exists(_.consumerGroupId == "G1"))
    assert(r.topicsForDataset("/ds") == Seq("T1"))
  }

  test("duplicate consumer group ids fail startup (FMod:177-182)") {
    val engine = new Engine(new CapturingFactory(Seq.empty), _ => new CountingSink)
    intercept[ConfigException] {
      engine.start(Seq(cfg(topic = "T1", group = "G"), cfg(topic = "T2", group = "G")))
    }
  }

  test("startup topic check fails on missing topic (FKS:140-194)") {
    val engine = new Engine(new CapturingFactory(Seq.empty), _ => new CountingSink,
      topicExists = _ == "EXISTS", topicCheckTimeoutMs = 50L, topicCheckRetryMs = 10L)
    intercept[ConfigException] { engine.start(Seq(cfg(topic = "MISSING", check = true))) }
    val ok = new Engine(new CapturingFactory(Seq.empty), _ => new CountingSink,
      topicExists = _ == "T1")
    ok.start(Seq(cfg(check = true)))
    ok.stop()
  }

  test("startup topic check retry-polls: a topic appearing late passes (FKS:160-173)") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    // topic only "exists" from the third probe on — within the window
    val engine = new Engine(new CapturingFactory(Seq.empty), _ => new CountingSink,
      topicExists = _ => calls.incrementAndGet() >= 3,
      topicCheckTimeoutMs = 2000L, topicCheckRetryMs = 10L)
    engine.start(Seq(cfg(check = true)))
    engine.stop()
    assert(calls.get() >= 3)
  }

  test("read policy: replay ignores stored offsets; sync resumes; latest skips") {
    val events = (0L until 6L).map(ev(_))
    // seed a state file with offset 4 for group G1
    def seeded(group: String, sync: Boolean, replay: Boolean): ConnectorConfig = {
      val c = cfg(group = group, sync = sync, replay = replay)
      val os = new OffsetStore(c.datasetName, java.nio.file.Paths.get(c.stateFile), group)
      os.saveOffset("T1", 0, 4L); os.flush()
      c
    }
    // sync: resumes from stored offset 4 → events 4,5 applied
    val fSync = new CapturingFactory(events)
    val eSync = new Engine(fSync, _ => new CountingSink)
    val rcS = eSync.start(Seq(seeded("GS", sync = true, replay = false))).head
    Thread.sleep(300); eSync.stop()
    assert(fSync.captured._1 == ReadPolicy.Sync)
    assert(fSync.captured._2 == Map(("T1", 0) -> 4L))
    assert(rcS.offsets.loadOffset("T1", 0).contains(6L)) // advanced past the end

    // replay: from the beginning regardless of state
    val fReplay = new CapturingFactory(events)
    val eReplay = new Engine(fReplay, _ => new CountingSink)
    eReplay.start(Seq(seeded("GR", sync = true, replay = true)))
    Thread.sleep(300); eReplay.stop()
    assert(fReplay.captured._1 == ReadPolicy.Replay)
    assert(fReplay.captured._2.isEmpty)

    // latest: neither sync nor replay
    val fLatest = new CapturingFactory(events)
    val eLatest = new Engine(fLatest, _ => new CountingSink)
    eLatest.start(Seq(cfg(group = "GL", sync = false)))
    Thread.sleep(100); eLatest.stop()
    assert(fLatest.captured._1 == ReadPolicy.Latest)
  }

  test("end-to-end: poll thread drains source, commits, flushes offsets") {
    val sink = new CountingSink
    val factory = new CapturingFactory((0L until 5L).map(ev(_)))
    val engine = new Engine(factory, _ => sink)
    val c = cfg(group = "GE")
    val rc = engine.start(Seq(c)).head
    val deadline = System.currentTimeMillis() + 3000
    while (sink.commits.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    engine.stop()
    assert(sink.commits.map(_._2).sum == 5)
    assert(rc.offsets.loadOffset("T1", 0).contains(5L))
    assert(!rc.isAlive)
  }

  test("pause at safe point and resume via the engine (FKS:375-448)") {
    val sink = new CountingSink
    val factory = new CapturingFactory((0L until 3L).map(ev(_)))
    val engine = new Engine(factory, _ => sink)
    engine.start(Seq(cfg(group = "GP")))
    assert(engine.pauseDataset("/ds", timeoutMs = 3000))
    engine.resumeDataset("/ds")
    engine.stop()
  }

  test("findDataset: exact then trailing-segment fallback (FKS:203-227)") {
    val engine = new Engine(new CapturingFactory(Seq.empty), _ => new CountingSink)
    engine.registry.register(cfg(group = "GF"))
    assert(engine.findDataset("/ds").contains("/ds"))
    assert(engine.findDataset("/ds/service").contains("/ds"))
    assert(engine.findDataset("/nope").isEmpty)
  }

  test("offset restore: paused projectors, max across groups, flushed (FKS:456-475)") {
    val sink = new CountingSink
    val engine = new Engine(new CapturingFactory((0L until 2L).map(ev(_))), _ => sink)
    val c = cfg(group = "GRes")
    val rc = engine.start(Seq(c)).head
    // restore requires a pause first
    val external = Harness.scratchDir("restore").resolve("ext.state")
    Files.writeString(external,
      """{"dataset": "/ds", "offsets": {"T1-0-otherGroup": 40, "T1-0-G9": 35}}""")
    intercept[IllegalArgumentException] { engine.restoreOffsets("/ds", external) }
    assert(engine.pauseDataset("/ds", timeoutMs = 3000))
    val restored = engine.restoreOffsets("/ds", external)
    assert(restored == Map(("T1", 0) -> 40L))
    assert(rc.offsets.loadOffset("T1", 0).contains(40L))
    // flushed: a reload from disk sees the restored offset
    val reloaded = new OffsetStore("/ds", java.nio.file.Paths.get(c.stateFile), "GRes")
    assert(reloaded.loadOffset("T1", 0).contains(40L))
    engine.resumeDataset("/ds")
    engine.stop()
  }

  test("startup health gate surfaces an immediately-failing connector (FKS:338-348)") {
    val badSource = new EventSource {
      override def poll(): Option[Event] = throw new IllegalStateException("broker gone")
      override def remaining(): Option[Long] = None
      override def availableImmediately(): Boolean = false
      override def processed(events: Seq[Event]): Unit = ()
    }
    val factory = new EventSourceFactory {
      override def create(c: ConnectorConfig, p: ReadPolicy,
          o: Map[(String, Int), Long]): EventSource = badSource
    }
    val engine = new Engine(factory, _ => new CountingSink, startupHealthWaitMs = 300)
    intercept[ProjectorException] { engine.start(Seq(cfg(group = "GB"))) }
  }
}

package graft.connbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.connect.QuadStoreSink

/** Connector-to-query benchmark: events from the benchmark's own
  * source go through the engine's projector and quad-store sink, and
  * are read back over the SPARQL protocol.
  *
  * {{{
  * Main --workload ingest_replay|live_mixed --seed N
  *      --seconds S --trace 0|1 --work DIR --out DIR
  * }}}
  *
  * The last stdout line is the result object; the line before it gives
  * the sample count behind every metric and any failed check.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path)

  val Workloads = Seq("ingest_replay", "live_mixed")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val out = new Run(parse(argv)).execute()
    println(out.samplesLine)
    println(out.resultLine)
  }
}

/** One metric: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int)

final class Outcome(val attempted: Long, val failed: Long, val correct: Boolean,
    val metrics: Seq[(String, Metric)], val notes: Seq[String]) {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def resultLine: String = metrics.map { case (k, m) =>
    s"""${str(k)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}"""
  }.mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
    ", ", "}}")

  def samplesLine: String =
    s"""{"samples": {${metrics.map { case (k, m) => s"${str(k)}: ${m.samples}" }.mkString(", ")}}, """ +
      s""""notes": [${notes.map(str).mkString(", ")}]}"""
}

/** Sizes and rates. They are sizing choices kept well inside the
  * engine's measured envelope; README.md gives the reasoning.
  */
object Sizing {
  /** ingest_replay graph: ~36 MiB of N-Quads, so a drain's batch is
    * above QuadStoreSink.DefaultBulkBytes (32 MiB) and takes the bulk
    * executor-decode route.
    */
  val ReplayClusters = 3100
  /** Untimed drains before ingest_replay measures; the JIT needs more
    * than one to settle.
    */
  val ReplayWarmDrains = 2
  /** HTTP counts after each timed drain. */
  val ReplayCounts = 2
  /** live_mixed graph. */
  val QueryClusters = 100
  val DupShare = 0.1
  /** live_mixed set-up units per run; the first one runs cold and is
    * the warm-up.
    */
  val SetupUnits = 3
  val LiveClients = 1
  /** live_mixed offered load, events per second. */
  val LiveRate = 1.5
  /** live_mixed runs at least this many rounds of the query mix. */
  val LiveRounds = 3
  val DrainTimeoutMs = 120000L
}

final class Run(args: Main.Args) {
  import Sizing._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val tracer = new Tracer(args.trace)
  private val work = args.work
  private var spark: SparkSession = session(cores)
  private val layers = if (args.trace) Some(new Layers(spark, tracer, cores)) else None
  private val metrics = mutable.LinkedHashMap[String, Metric]()
  private val notes = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L
  private var checksOk = true
  private var stackNo = 0

  private def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("connbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = Metric(value, unit, samples)

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { checksOk = false; notes += s"check failed: $what" }

  private def ms(ns: Long): Double = ns / 1e6
  private def secs(ns: Long): Double = ns / 1e9

  // --- stacks and drains ---------------------------------------------------

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally st.close()
  }

  /** A backlog drained through a started stack: `setupNs` runs to the
    * stack's start, `readyNs` to the drain's last commit, `wallNs` from
    * the first consumer poll to the last commit.
    */
  final case class Drained(stack: Stack, root: Path, corpus: Gen.Corpus, setupNs: Long,
      readyNs: Long, wallNs: Long) {
    def quadsPerSec: Double = corpus.quads / secs(wallNs)
    def commitLatencyMs: Seq[Double] = stack.log.timeline.map(s => ms(s.commitLatencyNs))
  }

  /** One set-up unit (generate the corpus, load it as a backlog, start a
    * stack over it), then the drain: from the first consumer poll to
    * the last commit.
    */
  private def drain(clusters: Int): Drained = {
    val t0 = System.nanoTime()
    val c = Gen.corpus(new Gen.QueryGraph(args.seed, clusters), args.seed, DupShare)
    val log = new EventLog("bench")
    c.payloads.foreach(p => log.append(p, Gen.CT_NQUADS, System.nanoTime()))
    stackNo += 1
    val root = work.resolve(s"stack$stackNo")
    val st = new Stack(spark, root, log, tracer)
    st.start()
    val setupNs = System.nanoTime() - t0
    check(st.awaitCommitted(DrainTimeoutMs), s"backlog of ${log.size} events committed in time")
    val tl = log.timeline
    attempted += tl.size
    failed += tl.count(_.committed < 0) + st.dlq.events.size
    check(st.dlq.events.isEmpty, s"no DLQ sends (saw ${st.dlq.events.size})")
    val stored = st.storedOffset(log.size)
    check(stored.contains(log.size), s"stored offset $stored is last + 1 = ${log.size}")
    val end = tl.map(_.committed).max
    Drained(st, root, c, setupNs, end - t0, end - tl.map(_.fetched).min)
  }

  private def dispose(d: Drained): Unit = { d.stack.stop(); deleteTree(d.root) }

  // --- queries -------------------------------------------------------------

  private def queryWindow(port: Int, g: Gen.QueryGraph, clients: Int, seconds: Double,
      seed: Long, minRounds: Int = 1): (Seq[QueryLoad#Sample], Long) = {
    val t0 = System.nanoTime()
    val s = new QueryLoad(port, g, seed, clients).run(t0 + (seconds * 1e9).toLong, minRounds)
    (s, System.nanoTime() - t0)
  }

  private def recordQueries(samples: Seq[QueryLoad#Sample], wallNs: Long): Unit = {
    attempted += samples.size
    val bad = samples.count(!_.ok)
    failed += bad
    check(bad == 0, s"$bad of ${samples.size} query answers wrong or not 200")
    val lat = Stats.summary(samples.map(s => ms(s.latencyNs)))
    put("query_per_s", samples.size / secs(wallNs), "1/s", samples.size)
    put("query_latency_ms_p50", lat.p50, "ms", lat.n)
    put("query_latency_ms_p90", lat.p90, "ms", lat.n)
  }

  /** Each class once, untimed: JIT and codegen warm-up. */
  private def warmQueries(port: Int, g: Gen.QueryGraph, classes: Seq[String] = Queries.Classes): Unit = {
    val s = new QueryLoad(port, g, args.seed + 7, 1, classes).run(0L)
    attempted += s.size
    failed += s.count(!_.ok)
    check(s.forall(_.ok), "warm-up query answers")
  }

  private def commitLatency(lat: Seq[Double]): Unit = {
    val s = Stats.summary(lat)
    put("commit_latency_ms_p50", s.p50, "ms", s.n)
    put("commit_latency_ms_p90", s.p90, "ms", s.n)
  }

  /** Used heap after full collections, repeated until it settles: a
    * collection lets Spark's cleaner drop unreferenced blocks, which the
    * next collection then frees.
    */
  private def heapRetainedMb(): Unit = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while (n < 8 && math.abs(prev - cur) > 0.5) { prev = cur; cur = used(); n += 1 }
    put("heap_retained_mb", cur, "MB", n)
  }

  // --- workloads -----------------------------------------------------------

  private val endToEnd = Seq("setup_s", "ingest_quads_per_s", "commit_latency_ms_p50",
    "query_per_s", "query_latency_ms_p50", "query_latency_ms_p90",
    "store_bytes_per_input_byte", "heap_retained_mb")

  def execute(): Outcome = {
    Files.createDirectories(work)
    try {
      args.workload match {
        case "ingest_replay" => ingestReplay()
        case "live_mixed" => liveMixed()
      }
      heapRetainedMb() // the workload's own inputs are out of scope here
      layers.foreach { l =>
        tracingOverhead(l)
        l.put("failed_ops_ratio" -> Metric(failed.toDouble / math.max(attempted, 1L), "ratio", attempted.toInt))
        // too few commits per run for a steady p90: reported, not bounded
        metrics.get("commit_latency_ms_p90").foreach(m => l.put("commit_latency_ms_p90" -> m))
        localPass(l)
      }
    } finally spark.stop()
    val shown = layers match {
      case Some(l) =>
        l.write(args.out, s"${args.workload}-${args.seed}",
          Seq("workload" -> s""""${args.workload}"""", "seed" -> args.seed.toString,
            "cores" -> cores.toString, "correct" -> (checksOk && failed == 0).toString))
        l.metrics
      case None => endToEnd.map(k => k -> metrics.getOrElse(k, Metric(Double.NaN, "missing", 0)))
    }
    new Outcome(attempted, failed, checksOk && failed == 0, shown, notes.toSeq)
  }

  /** Backlog drains under the Replay policy with no queries beside
    * them; then the reference's check of a replay, a count over HTTP.
    */
  private def ingestReplay(): Unit = {
    val setups = mutable.ArrayBuffer[Long]()
    (1 to ReplayWarmDrains).foreach { i =>
      val w = drain(ReplayClusters)
      setups += w.setupNs
      if (i == ReplayWarmDrains) // and one count, so the timed ones run warm
        warmQueries(w.stack.port, w.corpus.graph, Seq("count"))
      dispose(w)
    }
    // the counts run inside the loop; the window counts only commit jobs
    layers.foreach(_.windowBegin(Some("commit")))
    val drains = mutable.ArrayBuffer[Drained]()
    val counts = mutable.ArrayBuffer[QueryLoad#Sample]()
    var countNs = 0L
    val t0 = System.nanoTime()
    while (drains.size < 2 || System.nanoTime() - t0 < args.seconds * 1e9) {
      drains.lastOption.foreach(dispose)
      val d = drain(ReplayClusters)
      setups += d.setupNs
      drains += d
      // the distinct-quad count over HTTP, straight after the drain, over
      // its uncompacted tail (DockerTestConfigFK's check of a replayed topic)
      val c0 = System.nanoTime()
      counts ++= new QueryLoad(d.stack.port, d.corpus.graph, args.seed, 1, Seq("count")).run(0L, ReplayCounts)
      countNs += System.nanoTime() - c0
    }
    layers.foreach(_.windowEnd(drains.map(_.wallNs).sum))
    check(drains.forall(_.corpus.bytes > QuadStoreSink.DefaultBulkBytes),
      s"the replay corpus (${drains.head.corpus.bytes} bytes) is above the bulk-route threshold")
    put("setup_s", Stats.median(setups.map(secs)), "s", setups.size)
    put("ingest_quads_per_s", Stats.median(drains.map(_.quadsPerSec)), "quads/s", drains.size)
    // a drain commits its backlog as one batch, so its events' latencies
    // are one observation of that drain: percentiles are taken per drain
    // and the median over drains is reported
    val perDrain = drains.map(d => Stats.summary(d.commitLatencyMs))
    put("commit_latency_ms_p50", Stats.median(perDrain.map(_.p50)), "ms", perDrain.size)
    put("commit_latency_ms_p90", Stats.median(perDrain.map(_.p90)), "ms", perDrain.size)
    recordQueries(counts.toSeq, countNs)
    val last = drains.last
    put("store_bytes_per_input_byte", last.stack.bytesOnDisk.toDouble / last.corpus.bytes, "B/B")
    layers.foreach(_.connect(drains.toSeq.map(d => Layers.Part(d.stack))))
    probes(last.stack, last.corpus.graph, last.corpus.payloads, Seq.empty, None, 0.0)
    dispose(last)
  }

  /** Set-up ingests the query graph and compacts it; then open-loop
    * live events beside one closed-loop query client.
    */
  private def liveMixed(): Unit = {
    val units = (1 to SetupUnits).map { i =>
      val d = drain(QueryClusters)
      val c0 = System.nanoTime()
      d.stack.store.compact()
      val c1 = System.nanoTime()
      if (i < SetupUnits) dispose(d)
      (d, secs(c1 - c0 + d.readyNs), ms(c1 - c0))
    }
    put("setup_s", Stats.median(units.map(_._2)), "s", units.size)
    val d = units.last._1
    val st = d.stack
    val g = d.corpus.graph
    val preload = st.log.size
    val gen = new Gen.LiveGen(args.seed)
    var index = 0L

    /** Append `seconds` × `LiveRate` events on schedule while `clients`
      * closed-loop query clients run whole rounds until `seconds` have
      * passed (at least `LiveRounds`). The event count is fixed, so every
      * run ends with the same tail under its queries, however slow the
      * host. Returns the queries, the window's wall time up to its last
      * commit, and its offsets.
      */
    def window(seconds: Double, clients: Int): (Seq[QueryLoad#Sample], Long, Long, Long, Long) = {
      val first = st.log.size
      val events = math.round(seconds * LiveRate)
      val t0 = System.nanoTime()
      val producer = new Thread(() => {
        var due = t0
        var i = 0L
        while (i < events) {
          val now = System.nanoTime()
          if (now < due) java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          else {
            val (payload, ct) = gen.next(index)
            index += 1
            st.log.append(payload, ct, due)
            i += 1
            due = t0 + (i * 1e9 / LiveRate).toLong
          }
        }
      }, "connbench-generator")
      producer.start()
      val (s, qwall) =
        if (clients > 0) queryWindow(st.port, g, clients, seconds, args.seed, LiveRounds)
        else (Seq.empty, 0L)
      producer.join()
      check(st.awaitCommitted(DrainTimeoutMs), "live events committed in time")
      val last = st.log.size
      val end = st.log.timeline.slice(first.toInt, last.toInt).map(_.committed).max
      (s, qwall, end - t0, first, last)
    }

    window(1.0, 0) // warm-up: live commits, untimed
    warmQueries(st.port, g)
    val mark = Layers.mark(st)
    layers.foreach(_.windowBegin())
    val (s, qwall, wall, first, last) = window(args.seconds, LiveClients)
    layers.foreach(_.windowEnd(wall))
    recordQueries(s, qwall)
    val tl = st.log.timeline.slice(first.toInt, last.toInt)
    commitLatency(tl.map(x => ms(x.commitLatencyNs)))
    val quadOps = (first until last).map { i =>
      new String(st.log.payload(i), UTF_8).linesIterator.count(l => l.nonEmpty && !l.startsWith("T"))
    }.sum
    put("ingest_quads_per_s", quadOps / secs(wall), "quads/s", (last - first).toInt)
    layers.foreach(_.connect(Seq(mark.copy(until = last))))
    // the live graphs equal the generator's model; the static graph is untouched
    verifyLive(st, gen.model, g)
    attempted += st.log.size - preload
    failed += st.dlq.events.size
    check(st.dlq.events.isEmpty, "no DLQ sends among live events")
    put("store_bytes_per_input_byte", st.bytesOnDisk.toDouble / st.log.payloadBytes, "B/B")
    val payloads = (preload until st.log.size).map(st.log.payload)
    def kind(p: Array[Byte]) = new String(p, 0, math.min(p.length, 4), UTF_8).startsWith("TX")
    probes(st, g, payloads.filterNot(kind), payloads.filter(kind),
      Some(Stats.median(units.map(_._3))), ms(tl.map(_.lateNs).max))
    dispose(d)
  }

  private def verifyLive(st: Stack, model: Set[Gen.LiveQuad], g: Gen.QueryGraph): Unit = {
    val q = st.store.quads()
    val live = q.filter(col("graph").isNotNull)
      .select(col("graph.lex"), col("subject.lex"), col("predicate.lex"), col("obj.lex"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val want = model.map(m => (m.g, m.s, m.p, m.o))
    check(live == want, s"live graphs equal the generator's model (${live.size} vs ${want.size} quads)")
    val static = q.filter(col("graph").isNull).count()
    check(static == g.tripleCount, s"static graph intact ($static vs ${g.tripleCount} quads)")
  }

  // --- traced-run extras ---------------------------------------------------

  private def probes(st: Stack, g: Gen.QueryGraph, nquads: Seq[Array[Byte]],
      patches: Seq[Array[Byte]], compactMs: Option[Double], lateMs: Double): Unit =
    layers.foreach { l =>
      l.queries(st, g, args.seed)
      l.decode(nquads, patches)
      l.store(st, compactMs)
      l.end(lateMs)
    }

  /** Interleaved A/B of one fixed operation, a drain of the query graph,
    * with spans and the listener off and on.
    */
  private def tracingOverhead(l: Layers): Unit = {
    var listening = true
    def op(traced: Boolean): Long = {
      tracer.enabled = traced
      if (traced != listening) {
        if (traced) spark.sparkContext.addSparkListener(l.listener)
        else spark.sparkContext.removeSparkListener(l.listener)
        listening = traced
      }
      val t0 = System.nanoTime()
      val d = drain(QueryClusters)
      val t = System.nanoTime() - t0
      dispose(d)
      t
    }
    op(false) // untimed: the first drain after the workload runs slow
    // A B B A: a drift across the four runs cancels out
    val (a1, b1, b2, a2) = (op(false), op(true), op(true), op(false))
    l.put("bench.tracing_overhead" -> Metric((b1 + b2).toDouble / (a1 + a2) - 1.0, "ratio", 4))
  }

  /** The single-thread baseline: one drain at local[1] of the graph the
    * workload ingests, against the same drain at local[N].
    */
  private def localPass(l: Layers): Unit = {
    val clusters = if (args.workload == "ingest_replay") ReplayClusters else QueryClusters
    val atN = drain(clusters)
    dispose(atN)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = session(1)
    val l1 = new RuntimeListener
    spark.sparkContext.addSparkListener(l1)
    val d = drain(clusters)
    val taskMs = l1.snapshot(spark.sparkContext).taskMs
    dispose(d)
    l.put("spark.core_utilization.local1" -> Metric(taskMs / 1e3 / secs(d.wallNs), "ratio", 1))
    l.put("spark.speedup_vs_local1" -> Metric(atN.quadsPerSec / d.quadsPerSec, "ratio", 1))
  }
}

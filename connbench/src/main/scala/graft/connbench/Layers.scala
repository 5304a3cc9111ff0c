package graft.connbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.rdf.RdfParse
import graft.sparql.Sparql

/** The traced run's per-layer measurements. Every number is taken from
  * outside the engine: around calls into a layer's public functions,
  * from the benchmark's own source and sink wrappers, or from a
  * SparkListener.
  */
final class Layers(spark: SparkSession, tracer: Tracer, cores: Int) {
  private val sc = spark.sparkContext
  val listener = new RuntimeListener
  sc.addSparkListener(listener)

  private val out = mutable.LinkedHashMap[String, Metric]()
  private def put(k: String, v: Double, unit: String, n: Int = 1): Unit = out(k) = Metric(v, unit, n)
  def metrics: Seq[(String, Metric)] = out.toSeq

  private def ms(ns: Long): Double = ns / 1e6

  // --- Spark runtime over the workload's main window ------------------------

  private var w0: listener.Snapshot = _
  private var wLayer: Option[String] = None

  /** `layer`: count only that layer's jobs (all jobs when None). */
  def windowBegin(layer: Option[String] = None): Unit = {
    wLayer = layer
    w0 = listener.snapshot(sc, layer)
  }

  /** `busyNs`: the wall time the window's work ran (drains, or the
    * query/live window).
    */
  def windowEnd(busyNs: Long): Unit = {
    val d = listener.snapshot(sc, wLayer) - w0
    put("spark.shuffle_bytes", d.shuffleBytes.toDouble, "bytes")
    put("spark.spill_bytes", d.spillBytes.toDouble, "bytes")
    put("spark.core_utilization", d.taskMs / 1e3 / (busyNs / 1e9 * cores), "ratio")
  }

  // --- connector -----------------------------------------------------------

  def connect(parts: Seq[Layers.Part]): Unit = {
    val waits = mutable.ArrayBuffer[Double]()
    var lagMax = 0L
    var selfNs = 0L
    var polled = 0L
    val applies = mutable.ArrayBuffer[TimedSink.Apply]()
    val commitsPerPart = mutable.ArrayBuffer[Double]()
    parts.foreach { p =>
      val tl = p.stack.log.timeline
      val until = if (p.until < 0) tl.size.toLong else p.until
      val range = (p.from until until).map(_.toInt)
      val appended = tl.map(_.appended).toArray
      range.foreach { i =>
        val s = tl(i)
        waits += ms(s.polled - s.due)
        // events appended by the time this one was polled, behind it
        val seen = java.util.Arrays.binarySearch(appended, s.polled) match {
          case k if k >= 0 => k + 1
          case k => -k - 1
        }
        lagMax = math.max(lagMax, seen.toLong - i - 1)
      }
      selfNs += p.stack.source.projectSelfNs - p.selfNs0
      polled += p.stack.source.polled - p.polled0
      val lo = range.map(tl(_).polled).minOption.getOrElse(Long.MaxValue)
      val hi = range.map(tl(_).committed).maxOption.getOrElse(Long.MinValue)
      val mine = p.stack.sink.applies.filter(a => a.startNs >= lo && a.startNs <= hi)
      applies ++= mine
      commitsPerPart += mine.size
    }
    val w = Stats.summary(waits)
    put("connect.source.wait_ms_p50", w.p50, "ms", w.n)
    put("connect.source.lag_events_max", lagMax.toDouble, "count", w.n)
    put("connect.project.self_ms", ms(selfNs) / math.max(polled, 1L), "ms/event", polled.toInt)
    put("connect.sink.commits", Stats.median(commitsPerPart), "count", commitsPerPart.size)
    val a = Stats.summary(applies.map(x => ms(x.durNs)))
    put("connect.sink.apply_ms_p50", a.p50, "ms", a.n)
    put("connect.sink.apply_ms_p90", a.p90, "ms", a.n)
    put("connect.sink.events_per_commit", applies.map(_.events.toDouble).sum / applies.size, "count", a.n)
    put("connect.sink.bytes_per_commit", applies.map(_.bytes.toDouble).sum / applies.size, "bytes", a.n)
    put("connect.dlq.sends", parts.map(_.stack).distinct.map(_.dlq.events.size).sum.toDouble, "count")
    val commit = listener.snapshot(sc, Some("commit"))
    val allCommits = parts.map(_.stack).distinct.map(_.sink.applies.size).sum
    put("spark.jobs_per_commit", commit.jobs.toDouble / allCommits, "count", allCommits)
    put("spark.task_s_per_commit", commit.taskMs / 1e3 / allCommits, "s", allCommits)
  }

  // --- decode, store, SPARQL and server probes -----------------------------

  /** Median ms per MB of `RdfParse.decode` over `payloads`, repeated
    * until at least 3 passes and 0.3 s.
    */
  private def decodeMsPerMb(payloads: Seq[Array[Byte]], ct: String): (Double, Int) = {
    val mb = payloads.map(_.length.toLong).sum / (1024.0 * 1024.0)
    val passes = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (passes.size < 3 || System.nanoTime() - t0 < 300000000L) {
      val p0 = System.nanoTime()
      tracer.span("rdf.decode") {
        payloads.zipWithIndex.foreach { case (b, i) =>
          require(RdfParse.decode(b, ct, s"probe:$i")._corrupt == null, "probe payload decodes")
        }
      }
      passes += ms(System.nanoTime() - p0) / mb
    }
    (Stats.median(passes), passes.size)
  }

  /** At most ~8 MiB of the workload's payloads, in order. */
  private def sample(payloads: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    var total = 0L
    payloads.takeWhile { p => total += p.length; total - p.length < (8L << 20) }
  }

  def decode(nquads: Seq[Array[Byte]], patches: Seq[Array[Byte]]): Unit = {
    val nq = sample(nquads)
    val pt = if (patches.nonEmpty) sample(patches) else nq.map(Gen.asPatch)
    val (a, an) = decodeMsPerMb(nq, Gen.CT_NQUADS)
    val (b, bn) = decodeMsPerMb(pt, Gen.CT_PATCH)
    put("rdf.decode_ms_per_mb.nquads", a, "ms/MB", an)
    put("rdf.decode_ms_per_mb.patch", b, "ms/MB", bn)
  }

  /** Store state at the end of the run; compacts last. `compactMs`
    * overrides the compaction timing when set-up already measured it.
    */
  def store(stack: Stack, compactMs: Option[Double]): Unit = {
    put("store.tail_segments_end", stack.tailSegments.toDouble, "count")
    put("store.bytes_on_disk", stack.bytesOnDisk.toDouble, "bytes")
    val counts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("store.count")(stack.store.count())
      ms(System.nanoTime() - t0)
    }
    put("store.count_ms_end", Stats.median(counts), "ms", counts.size)
    val c = compactMs.getOrElse {
      val t0 = System.nanoTime()
      tracer.span("store.compact")(stack.store.compact())
      ms(System.nanoTime() - t0)
    }
    put("store.compact_ms", c, "ms")
  }

  /** Each query class on its own: parse, direct execute, and the same
    * query over HTTP, with the Spark jobs the HTTP request ran. One query
    * per class; every other class runs HTTP first, so neither side
    * always meets a store the other has just warmed.
    */
  def queries(stack: Stack, g: Gen.QueryGraph, seed: Long): Unit = {
    val client = new SparqlClient(stack.port)
    val rng = new SplittableRandom(seed)
    Queries.Classes.zipWithIndex.foreach { case (cls, i) =>
      val q = Queries.build(g, cls, rng)
      val parse = (1 to 11).map { _ =>
        val t0 = System.nanoTime()
        tracer.span("sparql.parse")(Sparql.parse(q.text))
        ms(System.nanoTime() - t0)
      }
      def exec(): Double = {
        val t0 = System.nanoTime()
        tracer.span("sparql.execute") {
          // a closure scope per query, as the HTTP server gives each request
          Sparql.withClosureScope(Sparql.execute(stack.store.quads(), q.text).collect())
        }
        ms(System.nanoTime() - t0)
      }
      var jobs = 0L
      def viaHttp(): SparqlClient#Result = {
        val j0 = listener.snapshot(sc).jobs
        val r = tracer.span("server.request")(client.run(q.text))
        jobs = listener.snapshot(sc).jobs - j0
        r
      }
      val (e, h) = if (i % 2 == 0) { val e = exec(); (e, viaHttp()) } else { val h = viaHttp(); (exec(), h) }
      require(h.status == 200 && h.rows.exists(q.expect), s"probe answer for $cls")
      put(s"sparql.parse_ms.$cls", Stats.median(parse), "ms", parse.size)
      put(s"sparql.execute_ms.$cls", e, "ms")
      put(s"server.overhead_ms_p50.$cls", ms(h.latencyNs) - e, "ms")
      put(s"server.response_bytes.$cls", h.bytes.toDouble, "bytes")
      put(s"spark.jobs_per_query.$cls", jobs.toDouble, "count")
    }
  }

  def end(lateMaxMs: Double): Unit = {
    put("spark.persistent_rdds_end", sc.getPersistentRDDs.size.toDouble, "count")
    put("bench.generator_late_ms_max", lateMaxMs, "ms")
  }

  def put(m: (String, Metric)): Unit = out += m

  /** The per-layer artifact: metrics, self time per layer, and spans. */
  def write(dir: Path, name: String, header: Seq[(String, String)]): Unit = {
    Files.createDirectories(dir)
    tracer.writeJsonLines(dir.resolve(s"$name.spans.jsonl"))
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = out.map { case (k, m) =>
      s"""    "$k": {"value": ${num(m.value)}, "unit": "${m.unit}", "samples": ${m.samples}}"""
    }.mkString(",\n")
    val self = tracer.selfMsByLayer.toSeq.sorted.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    val head = header.map { case (k, v) => s"""  "$k": $v,\n""" }.mkString
    Files.writeString(dir.resolve(s"$name.layers.json"),
      s"""{\n$head  "spans": ${tracer.spans.size},\n  "self_ms_by_layer": {$self},\n  "metrics": {\n$ms\n  }\n}\n""")
  }
}

object Layers {
  /** Events `[from, until)` of one stack's log (`until` < 0: to the
    * end), with the source's projector counters at `from`.
    */
  final case class Part(stack: Stack, from: Long = 0L, until: Long = -1L,
      selfNs0: Long = 0L, polled0: Long = 0L)

  /** A part starting at the stack's current end. */
  def mark(stack: Stack): Part =
    Part(stack, stack.log.size, -1L, stack.source.projectSelfNs, stack.source.polled)
}

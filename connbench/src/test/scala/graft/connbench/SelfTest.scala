package graft.connbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.connect.{CountingSink, Projector, ProjectorConfig}

/** Self-tests of the benchmark itself: the generators are deterministic
  * per seed, the expected answers they derive match a brute-force
  * evaluation of the emitted data (and the engine, end to end),
  * percentiles come out with their sample counts, and the event source
  * keeps the poll-buffer contract.
  *
  *   python3 connbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0
  private def check(ok: Boolean, what: String): Unit = {
    println((if (ok) "ok   " else "FAIL ") + what)
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    generatorsAreDeterministic()
    expectedAnswersMatchBruteForce()
    percentilesCarrySampleCounts()
    sourceKeepsPollBufferContract()
    expectedAnswersMatchEngine()
    println(if (failures == 0) "selftest passed" else s"selftest FAILED: $failures")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def lines(c: Gen.Corpus): Seq[String] =
    c.payloads.flatMap(p => new String(p, UTF_8).split('\n').filter(_.nonEmpty))

  def generatorsAreDeterministic(): Unit = {
    def corpus(seed: Long) = Gen.corpus(new Gen.QueryGraph(seed, 12), seed, 0.1)
    val (a, b, c) = (corpus(5), corpus(5), corpus(6))
    check(a.payloads.map(_.toSeq) == b.payloads.map(_.toSeq), "same seed, same corpus bytes")
    check(a.payloads.map(_.toSeq) != c.payloads.map(_.toSeq), "another seed, another corpus")
    def live(seed: Long) = { val g = new Gen.LiveGen(seed); (0 until 40).map(i => g.next(i)._1.toSeq) }
    check(live(5) == live(5), "same seed, same live events")
    check(live(5) != live(6), "another seed, other live events")
    val m = new Queries.Mix(new Gen.QueryGraph(5, 12), 5, 0)
    val n = new Queries.Mix(new Gen.QueryGraph(5, 12), 5, 0)
    check((1 to 20).map(_ => m.next().text) == (1 to 20).map(_ => n.next().text),
      "same seed, same query sequence")
  }

  def expectedAnswersMatchBruteForce(): Unit = {
    val g = new Gen.QueryGraph(9, 10)
    val c = Gen.corpus(g, 9, 0.2)
    val ls = lines(c)
    check(ls.size == c.quads, s"corpus counts every emitted quad (${c.quads})")
    check(ls.distinct.size == c.distinct && c.distinct == g.tripleCount,
      s"distinct quads ${ls.distinct.size} = generator's ${c.distinct} = graph's ${g.tripleCount}")
    check(ls.size > c.distinct, "the corpus carries duplicates")
    val sizes = c.payloads.map(p => new String(p, UTF_8).count(_ == '\n'))
    check(sizes.forall(n => n >= 1 && n <= Gen.MaxQuadsPerEvent), "events carry 1..1000 quads")

    // brute force over the rendered triples
    val triple = """<([^>]*)> <([^>]*)> (.*) \.""".r
    val spo = ls.distinct.collect { case triple(s, p, o) => (s, p, o) }
    check(spo.size == ls.distinct.size, "every line is a triple")
    def id(iri: String) = iri.stripPrefix(Gen.node(0).dropRight(1)).toInt
    val knows = spo.filter(_._2 == Gen.Knows).groupBy(t => id(t._1))
      .view.mapValues(_.map(t => id(t._3.drop(1).dropRight(1)))).toMap
    def reach(n: Int): Set[Int] = {
      val seen = mutable.Set[Int]()
      var front = knows.getOrElse(n, Seq.empty)
      while (front.nonEmpty) { seen ++= front; front = front.flatMap(knows.getOrElse(_, Seq.empty)) }
      seen.toSet
    }
    check((0 until g.nodes).forall(n => reach(n) == g.descendants(n)), "path answers = BFS over knows")
    val classOf = spo.filter(_._2 == Gen.Type).map(t => id(t._1) -> t._3).toMap
    val ageOf = spo.filter(_._2 == Gen.Age).map(t => id(t._1) -> t._3).toMap
    val star = (0 until Gen.Classes).forall { k =>
      (18 until 81).forall { a =>
        val bf = classOf.collect { case (n, cl) if cl == s"<${Gen.cls(k)}>" &&
          ageOf(n) == s"\"$a\"^^<${Gen.XSD_INT}>" => n }.toSet
        bf == g.starMembers(k, a)
      }
    }
    check(star, "star answers = class and age filter over the triples")
    val groups = classOf.values.groupBy(identity).map { case (k, v) => k -> v.size }
    check(groups == g.classCounts.map { case (k, n) => s"<${Gen.cls(k)}>" -> n }, "group answers = class counts")

    // the live model is what applying the emitted events gives
    val gen = new Gen.LiveGen(3)
    val state = mutable.Set[String]()
    (0 until 60).foreach { i =>
      val (p, ct) = gen.next(i)
      new String(p, UTF_8).split('\n').foreach { l =>
        if (ct == Gen.CT_NQUADS) state += l
        else if (l.startsWith("A ")) state += l.drop(2)
        else if (l.startsWith("D ")) state -= l.drop(2)
      }
    }
    check(state == gen.model.map(_.nq), s"live model = replayed adds and deletes (${state.size} quads)")
  }

  def percentilesCarrySampleCounts(): Unit = {
    val s = Stats.summary((1 to 10).map(_.toDouble))
    check(s.n == 10 && s.p50 == 5.5 && math.abs(s.p90 - 9.1) < 1e-9, s"p50/p90 of 1..10 = 5.5/9.1 with n=10 ($s)")
    val one = Stats.summary(Seq(4.0))
    check(one.n == 1 && one.p50 == 4.0 && one.p90 == 4.0, "one sample is its own percentiles")
    check(Stats.summary(Seq.empty).n == 0 && Stats.summary(Seq.empty).p50.isNaN, "no samples, no value")
    val o = new Outcome(3, 0, true, Seq("x_ms" -> Metric(1.5, "ms", 7)), Seq.empty)
    check(o.samplesLine.contains("\"x_ms\": 7"), "the samples line reports each metric's count")
    check(o.resultLine == """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"x_ms": {"value": 1.5, "unit": "ms"}}}""",
      "result line shape")
  }

  def sourceKeepsPollBufferContract(): Unit = {
    val log = new EventLog("t")
    (0 until 2000).foreach(i => log.append(s"<urn:s$i> <urn:p> <urn:o> .\n".getBytes(UTF_8),
      Gen.CT_NQUADS, System.nanoTime()))
    val src = new BenchSource(log, 0L, 500, new Tracer(false))
    val sink = new CountingSink
    new Projector(src, sink, ProjectorConfig(batchSize = 500)).runToCompletion()
    check(sink.commits.map(_._2) == Seq(500, 500, 500, 500),
      s"2000 events, 500-record polls, batch 500 → 4 commits (${sink.commits.map(_._2)})")
    check(log.timeline.forall(_.committed >= 0), "processed() stamps every event")
    val peek = new BenchSource(log, 0L, 500, new Tracer(false))
    (1 to 500).foreach(_ => peek.poll())
    check(!peek.availableImmediately() && peek.remaining().contains(1500L),
      "availableImmediately covers only the current poll buffer")
  }

  def expectedAnswersMatchEngine(): Unit = {
    val work = Files.createTempDirectory("connbench-selftest")
    val spark = SparkSession.builder().master("local[2]").appName("connbench-selftest")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("wh").toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val g = new Gen.QueryGraph(4, 6)
      val c = Gen.corpus(g, 4, 0.1)
      val log = new EventLog("bench")
      c.payloads.foreach(p => log.append(p, Gen.CT_NQUADS, System.nanoTime()))
      val st = new Stack(spark, work.resolve("stack"), log, new Tracer(false))
      st.start()
      try {
        check(st.awaitCommitted(60000), "engine drains the corpus")
        check(st.storedOffset(log.size).contains(log.size), "stored offset = last + 1")
        val rows = new QueryLoad(st.port, g, 4, 1).run(0L, minRounds = 3)
        Queries.Classes.foreach { cls =>
          check(rows.filter(_.cls == cls).forall(_.ok), s"engine answers match the derived $cls answers")
        }
      } finally st.stop()
    } finally {
      spark.stop()
      val s = Files.walk(work)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
    }
  }
}

package graft.connbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The fixed query mix over a [[Gen.QueryGraph]], each query paired
  * with the answer the generator derives for it.
  */
object Queries {
  val Classes: Seq[String] = Seq("count", "point", "star", "path", "group")

  /** One binding per row: variable → lexical value. */
  type Rows = Seq[Map[String, String]]

  final case class Query(cls: String, text: String, expect: Rows => Boolean)

  private def nodeIds(rows: Rows, v: String): Option[Set[Int]] = {
    val prefix = Gen.node(0).dropRight(1)
    val vals = rows.flatMap(_.get(v))
    if (vals.size != rows.size || !vals.forall(_.startsWith(prefix))) None
    else Some(vals.map(_.stripPrefix(prefix).toInt).toSet).filter(_.size == rows.size)
  }

  def build(g: Gen.QueryGraph, cls: String, rng: SplittableRandom): Query = cls match {
    case "count" =>
      val n = g.tripleCount
      Query(cls, "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }",
        rows => rows.map(_.get("n")) == Seq(Some(n.toString)))
    case "point" =>
      val k = rng.nextInt(g.nodes)
      Query(cls, s"SELECT ?n ?a WHERE { <${Gen.node(k)}> <${Gen.Name}> ?n ; <${Gen.Age}> ?a }",
        rows => rows == Seq(Map("n" -> s"node $k", "a" -> g.ageOf(k).toString)))
    case "star" =>
      val c = rng.nextInt(Gen.Classes)
      val age = 18 + rng.nextInt(63)
      val want = g.starMembers(c, age)
      Query(cls,
        s"SELECT ?s ?n WHERE { ?s <${Gen.Type}> <${Gen.cls(c)}> ; <${Gen.Age}> $age ; <${Gen.Name}> ?n }",
        rows => nodeIds(rows, "s").contains(want) &&
          rows.forall(r => r.get("n") == r.get("s").map(s => "node " + s.substring(s.lastIndexOf('/') + 1))))
    case "path" =>
      // a tree root, so every path query runs the same closure depth
      val k = rng.nextInt(g.clusters) * Gen.ClusterSize
      val want = g.descendants(k)
      Query(cls, s"SELECT ?x WHERE { <${Gen.node(k)}> <${Gen.Knows}>+ ?x }",
        rows => nodeIds(rows, "x").contains(want))
    case "group" =>
      val want = g.classCounts.map { case (c, n) => Gen.cls(c) -> n.toString }
      Query(cls, s"SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s <${Gen.Type}> ?c } GROUP BY ?c",
        rows => rows.size == want.size &&
          rows.forall(r => r.get("c").flatMap(want.get) == r.get("n")))
  }

  /** A client's fixed round-robin over `classes`, starting at its own
    * offset so concurrent clients run different classes.
    */
  final class Mix(g: Gen.QueryGraph, seed: Long, client: Int, classes: Seq[String] = Classes) {
    private val rng = new SplittableRandom(seed * 31 + client)
    private var i = client
    def next(): Query = { val q = build(g, classes(i % classes.size), rng); i += 1; q }
  }
}

/** One SPARQL-protocol client: GET /ds/query, JSON results. */
final class SparqlClient(port: Int) {
  final case class Result(status: Int, latencyNs: Long, bytes: Int, rows: Option[Queries.Rows])

  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val mapper = new ObjectMapper()

  def run(text: String): Result = {
    val uri = URI.create(s"http://127.0.0.1:$port/ds/query?query=" +
      URLEncoder.encode(text, UTF_8))
    val req = HttpRequest.newBuilder(uri).timeout(Duration.ofSeconds(60))
      .header("Accept", "application/sparql-results+json").GET().build()
    val t0 = System.nanoTime()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    val t1 = System.nanoTime()
    val body = resp.body()
    val rows = if (resp.statusCode != 200) None else parse(body)
    Result(resp.statusCode, t1 - t0, body.length, rows)
  }

  private def parse(body: Array[Byte]): Option[Queries.Rows] =
    try {
      val bindings = mapper.readTree(body).path("results").path("bindings")
      Some(bindings.elements().asScala.map { b =>
        b.fields().asScala.map(e => e.getKey -> e.getValue.path("value").asText()).toMap
      }.toSeq)
    } catch { case _: Exception => None }
}

/** Closed-loop query clients: each sends its next query as soon as the
  * previous answer arrives, checks it, and records its latency. Clients
  * stop only between whole rounds of the mix, so every run measures the
  * same class composition.
  */
final class QueryLoad(port: Int, g: Gen.QueryGraph, seed: Long, clients: Int,
    classes: Seq[String] = Queries.Classes) {
  final case class Sample(cls: String, latencyNs: Long, ok: Boolean)
  private val samples = mutable.ArrayBuffer[Sample]()

  /** Whole rounds per client until `untilNs`, at least `minRounds`. */
  def run(untilNs: Long, minRounds: Int = 1): Seq[Sample] = {
    samples.synchronized(samples.clear())
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val http = new SparqlClient(port)
        val mix = new Queries.Mix(g, seed, c, classes)
        var n = 0
        val round = classes.size
        while (n < minRounds * round || n % round != 0 || System.nanoTime() < untilNs) {
          val q = mix.next()
          val t0 = System.nanoTime()
          val s = try {
            val r = http.run(q.text)
            Sample(q.cls, r.latencyNs, r.status == 200 && r.rows.exists(q.expect))
          } catch { case _: Exception => Sample(q.cls, System.nanoTime() - t0, ok = false) }
          samples.synchronized(samples += s)
          n += 1
        }
      }, s"connbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    samples.synchronized(samples.toList)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._
import graft.sparql.Sparql
import graft.store.QuadStore

/** The full startup path of SURVEY §3.2 as one test: TTL config →
  * assembler → engine (registry, read policy, offset store, poll
  * thread) → events → quad store → SPARQL verification count — the
  * observable behaviour of the reference's DockerTestConfigFK single
  * connector scenario, minus the real Kafka broker.
  */
class EndToEndSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("config TTL to SPARQL count, end to end") {
    val stateDir = Harness.scratchDir("e2e")
    val ttl =
      s"""@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
         |@prefix fk: <http://jena.apache.org/fuseki/kafka#> .
         |<#conn> rdf:type fk:Connector ;
         |  fk:bootstrapServers "localhost:9092" ;
         |  fk:topic "RDF" ;
         |  fk:fusekiServiceName "/ds" ;
         |  fk:groupId "e2e-group" ;
         |  fk:stateFile "$stateDir/RDF.state" ;
         |  fk:config ("fuseki.kafka.batch.size" "10") .
         |""".stripMargin
    val configs = ConnectorAssembler.assemble(ttl)
    assert(configs.size == 1)
    val c = configs.head
    assert(c.projectorConfig.batchSize == 10)

    val events = Seq(
      ("@prefix ex: <http://example/> .\nex:s ex:p ex:o .\n", "text/turtle"),
      ("<http://example/s1> <http://example/p1> <http://example/o1> .\n",
        "application/n-quads"),
      ("TX .\nA <http://example/s> <http://example/p> \"two\" <http://example/patch> .\nTC .\n",
        "application/rdf-patch"),
      // a .ru event through the same stream: adds one quad, rewrites
      // the turtle event's object via DELETE/INSERT WHERE
      ("""PREFIX ex: <http://example/>
         |INSERT DATA { ex:u ex:p "upd" } ;
         |DELETE { ex:s ex:p ?o } INSERT { ex:s ex:p2 ?o } WHERE { ex:s ex:p ?o }""".stripMargin,
        "application/sparql-update")
    ).zipWithIndex.map { case ((body, ct), i) =>
      Event("RDF", 0, i.toLong, Array.empty, body.getBytes("UTF-8"),
        Map("Content-Type" -> ct))
    }

    val store = new QuadStore(spark, Harness.scratchDir("e2estore").toString)
    val factory = new EventSourceFactory {
      override def create(cfg: ConnectorConfig, policy: ReadPolicy,
          start: Map[(String, Int), Long]): EventSource =
        new MemoryEventSource(events.filter(_.offset >= start.getOrElse(("RDF", 0), 0L)))
    }
    val engine = new Engine(factory, cfg => new QuadStoreSink(spark, store))
    val rc = engine.start(configs).head

    // await projection: store reaches the expected state
    val deadline = System.currentTimeMillis() + 15000
    def counted(): Long = Sparql.execute(store.quads(),
      "SELECT (count(*) AS ?C) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }")
      .collect().head.getLong(0)
    var n = counted()
    while (n != 4L && System.currentTimeMillis() < deadline) {
      Thread.sleep(250); n = counted()
    }
    engine.stop()
    assert(n == 4L)
    assert(rc.offsets.loadOffset("RDF", 0).contains(4L))
    // the update's modify rewrote the turtle event's predicate
    def ask(q: String) = Sparql.execute(store.quads(), q).collect().head.getBoolean(0)
    assert(ask("ASK { <http://example/s> <http://example/p2> <http://example/o> }"))
    assert(!ask("ASK { <http://example/s> <http://example/p> <http://example/o> }"))

    // restart under the Sync policy: stored offsets mean nothing replays
    val engine2 = new Engine(factory, cfg => new QuadStoreSink(spark, store))
    engine2.start(configs)
    Thread.sleep(300)
    engine2.stop()
    assert(counted() == 4L)
    assert(store.committedSegments().nonEmpty)

    // restart with NEW events past the stored offset: the fresh
    // projector must APPEND an epoch, not reuse batch id 0 and
    // replay over the first run's segment (which would silently
    // replace its quads — the resumeBatchId contract)
    val more = events :+ Event("RDF", 0, 4L, Array.empty,
      "<http://example/s9> <http://example/p9> <http://example/o9> .\n"
        .getBytes("UTF-8"), Map("Content-Type" -> "application/n-quads"))
    val factory3 = new EventSourceFactory {
      override def create(cfg: ConnectorConfig, policy: ReadPolicy,
          start: Map[(String, Int), Long]): EventSource =
        new MemoryEventSource(more.filter(_.offset >= start.getOrElse(("RDF", 0), 0L)))
    }
    val engine3 = new Engine(factory3, cfg => new QuadStoreSink(spark, store))
    engine3.start(configs)
    val dl3 = System.currentTimeMillis() + 15000
    var n3 = counted()
    while (n3 != 5L && System.currentTimeMillis() < dl3) {
      Thread.sleep(250); n3 = counted()
    }
    engine3.stop()
    assert(n3 == 5L)
    // the first run's quads survived the restart commit
    assert(ask("ASK { <http://example/s1> <http://example/p1> <http://example/o1> }"))
  }
}

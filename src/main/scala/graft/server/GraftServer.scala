package graft.server

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.connect.{ConnectorAssembler, ConnectorConfig, Engine,
  EventSourceFactory, QuadStoreSink}
import graft.store.QuadStore

/** The whole module, booted: config TTL → connector engine → datasets
  * → SPARQL-over-HTTP — the reference's `FMod_FusekiKafka` lifecycle
  * (FMod_FusekiKafka.java:51-120: Fuseki server startup parses the
  * connector assembler config, attaches one connector per topic to
  * its dataset, starts the poll threads, and the datasets stay
  * queryable over the Fuseki endpoints while ingest runs).
  *
  * One [[QuadStore]] is created (or reopened) per distinct dataset
  * name in the config, each connector's sink writes to its dataset's
  * store, and every dataset is registered on the embedded
  * [[SparqlHttp]] endpoint under its canonical name — so `GET
  * /ds/query` observes ingest exactly the way the reference's
  * integration tests do (DockerTestConfigFK.java:144-153: HTTP count
  * queries against the connector-fed service).
  *
  * The event-source factory stays injectable ([[EventSourceFactory]],
  * the Kafka-adapter seam documented in [[graft.connect.EventSource]]).
  */
final class GraftServer(
    spark: SparkSession,
    sourceFactory: EventSourceFactory,
    storeRoot: Path,
    httpPort: Int = 0,
    topicExistsFor: (ConnectorConfig, String) => Boolean = (_, _) => true,
    allowService: Boolean = false) {

  private val stores = scala.collection.mutable.Map[String, QuadStore]()
  private val http = new SparqlHttp(spark, httpPort, allowService)
  private var engine: Engine = null

  /** The store backing a dataset name (creating it on first use —
    * dataset directories live under `storeRoot/<name>`), registered
    * on the endpoint under that name.
    */
  def store(datasetName: String): QuadStore = synchronized {
    val name = ConnectorAssembler.canonical(datasetName).stripPrefix("/")
    stores.getOrElseUpdate(name, {
      val dir = storeRoot.resolve(name)
      Files.createDirectories(dir)
      val s = new QuadStore(spark, dir.toString)
      http.registerDataset(name, s)
      s
    })
  }

  /** Parse the connector config TTL and start everything: one
    * connector per topic (Engine semantics: registry, read policy,
    * offsets, poll threads, startup health gate) plus the HTTP
    * endpoint. Returns the bound HTTP port.
    */
  def start(configTtl: String): Int = synchronized {
    require(engine == null, "server already started")
    val configs = ConnectorAssembler.assemble(configTtl)
    // materialize every dataset BEFORE ingest starts: an empty
    // dataset must still be queryable (Fuseki serves empty datasets)
    configs.foreach(c => store(c.datasetName))
    engine = new Engine(sourceFactory,
      (c: ConnectorConfig) => new QuadStoreSink(spark, store(c.datasetName)),
      // the startup topic gate resolves each topic against ITS
      // connector's cluster (fk:startupTopicCheck, FKS.java:140-194)
      topicExists = t => configs.find(_.topics.contains(t))
        .forall(c => topicExistsFor(c, t)))
    engine.start(configs)
    http.start()
    http.boundPort
  }

  def stop(): Unit = synchronized {
    if (engine != null) engine.stop()
    engine = null
    http.stop()
  }

  def boundPort: Int = http.boundPort
}

object GraftServer {
  /** Production boot: the reflective Kafka adapter
    * ([[graft.connect.KafkaEventSource]]) as the event source and the
    * broker's topic listing as the startup gate. Requires
    * kafka-clients on the runtime classpath
    * ([[graft.connect.KafkaEventSource.isAvailable]]).
    */
  def kafka(spark: SparkSession, storeRoot: Path, httpPort: Int = 0): GraftServer = {
    require(graft.connect.KafkaEventSource.isAvailable,
      "kafka-clients is not on the classpath; pass an explicit " +
      "EventSourceFactory (file/memory) or add the kafka-clients jar")
    new GraftServer(spark, new graft.connect.KafkaEventSourceFactory(),
      storeRoot, httpPort,
      topicExistsFor = (c, t) =>
        graft.connect.KafkaEventSource.topicExists(c.bootstrapServers, t, c.kafkaProps))
  }
}

package graft.connbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.connect.{BatchSink, ConnectorAssembler, ConnectorConfig, Engine,
  MaterialisedEvent, MemoryDlqSink, QuadStoreSink}
import graft.server.SparqlHttp
import graft.store.QuadStore

/** A [[BatchSink]] that times each call into the real sink from outside. */
final class TimedSink(inner: QuadStoreSink, spark: SparkSession,
    source: () => BenchSource, tracer: Tracer) extends BatchSink {
  import TimedSink.Apply
  private val log = mutable.ArrayBuffer[Apply]()

  override def resumeBatchId: Long = inner.resumeBatchId
  override def exclusively[T](f: => T): T = inner.exclusively(f)
  override def loadRoot: Option[Path] = inner.loadRoot

  override def apply(batchId: Long, events: Seq[MaterialisedEvent]): Unit = {
    val src = source()
    val t0 = System.nanoTime()
    val span = tracer.begin("connect.sink.apply", t0, parent = src.currentSpan, request = batchId)
    try RuntimeListener.within(spark.sparkContext, "commit")(inner.apply(batchId, events))
    finally {
      val t1 = System.nanoTime()
      tracer.end(span, t1)
      src.applyTimed(t1 - t0)
      synchronized(log += Apply(t0, t1 - t0, events.size, events.map(_.event.sizeInBytes).sum))
    }
  }

  def applies: Seq[Apply] = synchronized(log.toList)
}

object TimedSink {
  final case class Apply(startNs: Long, durNs: Long, events: Int, bytes: Long)
}

/** Engine + QuadStoreSink + SparqlHttp wired the way
  * [[graft.server.GraftServer.start]] wires them: the connector config
  * is parsed from TTL, the dataset's store exists before ingest starts,
  * the connector starts, then the HTTP endpoint. The differences are the
  * benchmark's seams: its own event source, a timed sink around the
  * real one, and an in-memory DLQ so a failed event is counted rather
  * than stopping the connector.
  */
final class Stack(spark: SparkSession, root: Path, val log: EventLog, tracer: Tracer) {
  Files.createDirectories(root)
  private val ttl =
    s"""@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
       |@prefix fk: <http://jena.apache.org/fuseki/kafka#> .
       |<#bench> rdf:type fk:Connector ;
       |  fk:bootstrapServers "localhost:9092" ;
       |  fk:topic "${log.topic}" ;
       |  fk:fusekiServiceName "/ds" ;
       |  fk:groupId "connbench" ;
       |  fk:replayTopic true ;
       |  fk:stateFile "${root.resolve("bench.state")}" .
       |""".stripMargin
  val config: ConnectorConfig = ConnectorAssembler.assemble(ttl).head
  private val storeDir =
    root.resolve(ConnectorAssembler.canonical(config.datasetName).stripPrefix("/"))
  Files.createDirectories(storeDir)
  val store: QuadStore = new QuadStore(spark, storeDir.toString)
  private val http = new SparqlHttp(spark, 0)
  http.registerDataset("ds", store)

  val dlq = new MemoryDlqSink
  private val sources = new BenchSourceFactory(log, tracer)
  @volatile private var timed: TimedSink = _
  private val engine = new Engine(sources,
    (_: ConnectorConfig) => {
      timed = new TimedSink(new QuadStoreSink(spark, store), spark, () => sources.last, tracer)
      timed
    },
    dlqFactory = _ => Some(dlq))

  def start(): Int = {
    engine.start(Seq(config))
    http.start()
    http.boundPort
  }

  def stop(): Unit = { engine.stop(); http.stop() }

  def port: Int = http.boundPort
  def source: BenchSource = sources.last
  def sink: TimedSink = timed

  /** Block until every event appended so far is committed. */
  def awaitCommitted(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (log.committedCount < log.size && System.currentTimeMillis() < deadline) Thread.sleep(1)
    log.committedCount == log.size
  }

  /** Next-to-read offset the connector persisted. The projector writes
    * its state file just after acknowledging a commit to the source, so
    * this waits up to `waitMs` for the file to reach `expect`.
    */
  def storedOffset(expect: Long, waitMs: Long = 5000L): Option[Long] = {
    def read() = new graft.connect.OffsetStore(config.datasetName,
      java.nio.file.Paths.get(config.stateFile), config.consumerGroupId).loadOffset(log.topic, 0)
    val deadline = System.currentTimeMillis() + waitMs
    var v = read()
    while (!v.contains(expect) && System.currentTimeMillis() < deadline) { Thread.sleep(5); v = read() }
    v
  }

  def bytesOnDisk: Long = {
    val st = Files.walk(storeDir)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally st.close()
  }

  def tailSegments: Int = store.committedSegments().count(!_.contains("-base"))
}

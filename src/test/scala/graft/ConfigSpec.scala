package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._

/** Port of the reference assembler test matrix
  * (TestKafkaConnectorAssembler.java:37-533) including the
  * bad-assem-*.ttl golden corpus (reproduced inline — the corpus IS
  * the spec) and the cluster-inheritance matrix (:420-533).
  */
class ConfigSpec extends AnyFunSuite {

  private val PREFIXES =
    """@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
      |@prefix fk: <http://jena.apache.org/fuseki/kafka#> .
      |""".stripMargin

  private def assemble(body: String): ConnectorConfig = {
    val cs = ConnectorAssembler.assemble(PREFIXES + body)
    assert(cs.size == 1)
    cs.head
  }

  private val MINIMAL =
    """<#connector> rdf:type fk:Connector ;
      |  fk:bootstrapServers "localhost:9092" ;
      |  fk:topic "RDF0" ;
      |  fk:fusekiServiceName "/ds" ;
      |  fk:stateFile "test.state" .
      |""".stripMargin

  test("minimal config: required fields + defaults (ref :71-109)") {
    val c = assemble(MINIMAL)
    assert(c.topics == Seq("RDF0"))
    assert(c.bootstrapServers == "localhost:9092")
    assert(c.datasetName == "/ds")
    assert(c.stateFile == "test.state")
    assert(c.syncTopic && !c.replayTopic && !c.checkTopicAtStartup)
    assert(c.dlqTopic.isEmpty)
    assert(c.consumerGroupId == "JenaFusekiKafka")
    // baseline consumer properties (SysJenaKafka.consumerProperties + group.id)
    assert(c.kafkaProps.size == 6)
    assert(c.kafkaProps("enable.auto.commit") == "false")
    assert(c.kafkaProps("max.poll.records") == "5000")
  }

  test("ex-connector.ttl parses field-by-field") {
    val path = Paths.get("/root/reference/ex-connector.ttl")
    assume(Files.exists(path))
    val c = ConnectorAssembler.assemble(Files.readString(path)).head
    assert(c.topics == Seq("RDF"))
    assert(c.bootstrapServers == "localhost:9092")
    assert(c.datasetName == "/ds")
    assert(!c.syncTopic) // explicit false in the file
    assert(!c.replayTopic)
    assert(c.stateFile == "Databases/RDF.state")
  }

  // --- the bad-assem corpus -------------------------------------------------

  private def bad(body: String): ConfigException =
    intercept[ConfigException] { assemble(body) }

  test("bad: DLQ topic is also an input topic") {
    val e = bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers "localhost:9092" ; fk:topic "RDF0" ;
      fk:fusekiServiceName "/ds1" ; fk:dlqTopic "RDF0" ; fk:stateFile "1.state" .""")
    assert(e.getMessage.contains("also an input topic"))
  }

  test("bad: boolean property mistyped as integer") {
    val e = bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers "localhost:9092" ; fk:topic "RDF0" ;
      fk:fusekiServiceName "/ds1" ; fk:syncTopic 1 ; fk:stateFile "1.state" .""")
    assert(e.getMessage.contains("boolean"))
  }

  test("bad: mandatory string property mistyped as IRI") {
    bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers <localhost:9092> ; fk:topic "RDF0" ;
      fk:fusekiServiceName "/ds1" ; fk:stateFile "1.state" .""")
  }

  test("bad: optional string property mistyped as IRI") {
    bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers "localhost:9092" ; fk:topic "RDF0" ;
      fk:fusekiServiceName "/ds1" ; fk:dlqTopic <bad-rdf> ; fk:stateFile "1.state" .""")
  }

  test("bad: multi-valued boolean property") {
    bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers "localhost:9092" ; fk:topic "RDF0" ;
      fk:fusekiServiceName "/ds1" ; fk:syncTopic true ; fk:syncTopic false ;
      fk:stateFile "1.state" .""")
  }

  test("bad: multi-valued string property") {
    bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers "localhost:9092" ; fk:topic "RDF0" ;
      fk:fusekiServiceName "/ds1" ; fk:stateFile "1.state" ; fk:stateFile "2.state" .""")
  }

  test("bad: multiple dataset names") {
    val e = bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers "localhost:9092" ; fk:topic "RDF0" ;
      fk:fusekiServiceName "/ds1" ; fk:fusekiServiceName "/ds2" ;
      fk:stateFile "1.state" .""")
    assert(e.getMessage.contains("Multiple datasetNames"))
  }

  test("bad: no dataset name") {
    val e = bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers "localhost:9092" ; fk:topic "RDF0" ;
      fk:stateFile "1.state" .""")
    assert(e.getMessage.contains("Dataset name is blank"))
  }

  test("bad: dataset name as IRI") {
    val e = bad("""<#c> rdf:type fk:Connector ;
      fk:bootstrapServers "localhost:9092" ; fk:topic "RDF0" ;
      fk:fusekiServiceName <http://example/ds> ; fk:stateFile "1.state" .""")
    assert(e.getMessage.contains("not a string"))
  }

  test("bad: no bootstrap servers on connector or cluster (ref :500-514)") {
    val e = bad("""<#c> rdf:type fk:Connector ;
      fk:topic "RDF0" ; fk:fusekiServiceName "/ds1" ; fk:stateFile "1.state" .""")
    assert(e.getMessage.contains("No bootstrap servers"))
  }

  // --- inline + file config -------------------------------------------------

  test("fk:config (key value) pairs land in consumer properties (ref :128-149)") {
    val c = assemble(MINIMAL.replace(".\n",
      """; fk:config ("max.poll.records" "100") ; fk:config ("custom.key" "custom") .
        |""".stripMargin))
    assert(c.kafkaProps("max.poll.records") == "100")
    assert(c.kafkaProps("custom.key") == "custom")
  }

  test("fk:configFile as literal and file: URI; missing file is an error (ref :151-217,253-292)") {
    val f = Files.createTempFile(Harness.scratchDir("kafka"), "kafka", ".properties")
    Files.writeString(f, "security.protocol=SSL\nextra.prop=1\n")
    val ok = assemble(MINIMAL.replace(".\n", s"""; fk:configFile "$f" .\n"""))
    assert(ok.kafkaProps("security.protocol") == "SSL")
    val okUri = assemble(MINIMAL.replace(".\n", s"""; fk:configFile <file://$f> .\n"""))
    assert(okUri.kafkaProps("extra.prop") == "1")
    val e = intercept[ConfigException] {
      assemble(MINIMAL.replace(".\n", "; fk:configFile \"/no/such/file.properties\" .\n"))
    }
    assert(e.getMessage.contains("not found"))
  }

  test("fk:configFile via env: indirection; empty resolution ignored (ref :219-312)") {
    val f = Files.createTempFile(Harness.scratchDir("kafka"), "kafka", ".properties")
    Files.writeString(f, "from.env=yes\n")
    sys.props("GRAFT_TEST_PROPS") = f.toString
    try {
      val c = assemble(MINIMAL.replace(".\n", "; fk:configFile <env:{GRAFT_TEST_PROPS}> .\n"))
      assert(c.kafkaProps("from.env") == "yes")
    } finally sys.props.remove("GRAFT_TEST_PROPS")
    // unset with empty default → resolves empty → ignored with warning
    val c2 = assemble(MINIMAL.replace(".\n", "; fk:configFile <env:{GRAFT_UNSET_VAR:}> .\n"))
    assert(!c2.kafkaProps.contains("from.env"))
  }

  test("env: indirection on scalar values (README.md:274-288)") {
    sys.props("GRAFT_TEST_TOPIC") = "EnvTopic"
    try {
      val c = assemble(MINIMAL.replace("\"RDF0\"", "\"env:{GRAFT_TEST_TOPIC}\""))
      assert(c.topics == Seq("EnvTopic"))
    } finally sys.props.remove("GRAFT_TEST_TOPIC")
    intercept[ConfigException] {
      assemble(MINIMAL.replace("\"RDF0\"", "\"env:{GRAFT_DEFINITELY_UNSET}\""))
    }
  }

  // --- cluster inheritance (ref :420-533) -----------------------------------

  private val CLUSTER =
    """<#cluster> rdf:type fk:Cluster ;
      |  fk:bootstrapServers "cluster:9092" ;
      |  fk:config ("cluster.key" "from-cluster") ;
      |  fk:groupId "ClusterGroup" .
      |<#connector> rdf:type fk:Connector ;
      |  fk:cluster <#cluster> ;
      |  fk:topic "RDF0" ;
      |  fk:fusekiServiceName "/ds" ;
      |  fk:stateFile "test.state" .
      |""".stripMargin

  test("cluster: inherits bootstrap + inline config; groupId NOT inherited") {
    val c = assemble(CLUSTER)
    assert(c.bootstrapServers == "cluster:9092")
    assert(c.kafkaProps("cluster.key") == "from-cluster")
    assert(c.consumerGroupId == "JenaFusekiKafka") // deliberately not inherited
  }

  test("cluster: connector values take precedence") {
    val c = assemble(CLUSTER
      .replace("fk:topic \"RDF0\" ;",
        "fk:topic \"RDF0\" ; fk:bootstrapServers \"conn:9092\" ; fk:config (\"cluster.key\" \"from-connector\") ;"))
    assert(c.bootstrapServers == "conn:9092")
    assert(c.kafkaProps("cluster.key") == "from-connector")
  }

  test("cluster: config file on the cluster is inherited (ref :479-498)") {
    val f = Files.createTempFile(Harness.scratchDir("cluster"), "cluster", ".properties")
    Files.writeString(f, "cluster.file.key=yes\n")
    val c = assemble(CLUSTER.replace("fk:groupId \"ClusterGroup\" .",
      s"""fk:groupId "ClusterGroup" ; fk:configFile "$f" ."""))
    assert(c.kafkaProps("cluster.file.key") == "yes")
  }

  // --- canonicalization + typed getters -------------------------------------

  test("dataset name canonicalization (ref :369-383)") {
    import ConnectorAssembler.canonical
    assert(canonical("ds") == "/ds")
    assert(canonical("/ds") == "/ds")
    assert(canonical("/ds/") == "/ds")
    assert(canonical("") == "/")
    assert(canonical("/") == "/")
    assert(canonical(null) == null)
  }

  test("typed getters: fallback chains and invalid-value fallthrough (KConnectorDesc.java:144-328)") {
    def c(props: (String, String)*) = ConnectorConfig(Seq("t"), "b:9092", "/ds", "s.state",
      syncTopic = true, replayTopic = false, checkTopicAtStartup = false, None,
      Map("group.id" -> "G") ++ props)
    assert(c().batchSize == 5000)
    assert(c("max.poll.records" -> "100").batchSize == 100)
    assert(c("fuseki.kafka.batch.size" -> "42", "max.poll.records" -> "100").batchSize == 42)
    assert(c("fuseki.kafka.batch.size" -> "not-a-number", "max.poll.records" -> "100").batchSize == 100)
    assert(c("fuseki.kafka.batch.size" -> "-5").batchSize == 5000) // invalid → default
    assert(c("fuseki.kafka.batch.size.bytes" -> "1024").batchSizeBytes == 1024L)
    assert(c("fetch.max.bytes" -> "2048").batchSizeBytes == 2048L)
    assert(c().batchSizeBytes == 50L * 1024 * 1024)
    assert(c("fuseki.kafka.max.transaction.duration" -> "PT30S").maxTransactionDuration.toMillis == 30000L)
    assert(c("fuseki.kafka.max.transaction.duration" -> "PT0S").maxTransactionDuration.toMinutes == 5)
    assert(c("fuseki.kafka.max.transaction.duration" -> "garbage").maxTransactionDuration.toMinutes == 5)
    assert(c("fuseki.kafka.high.lag.threshold" -> "77").highLagThreshold == 77L)
    assert(c("fuseki.kafka.low.volume.threshold" -> "0").lowVolumeBatchSizeThreshold == 0)
    assert(c("fuseki.kafka.batch.size.tracking" -> "5").projectorConfig.batchSizeTrackingWindow == 5)
  }

  test("state file as a file: URI string becomes a local path") {
    val c = assemble(MINIMAL.replace("\"test.state\"", "\"file:///tmp/x.state\""))
    assert(c.stateFile == "/tmp/x.state")
  }

  test("dataset-name probe via the SPARQL layer matches the assembler") {
    // the reference resolves the dataset name with a SPARQL query
    // (KafkaConnectorAssembler.java:380-411); dogfood our own layer on
    // the same config graph and probe shape and cross-check
    val spark = TestSpark.spark
    val g = graft.rdf.TurtleParser.parseTurtle(PREFIXES + MINIMAL)
    val store = new graft.store.QuadStore(spark,
      Harness.scratchDir("cfgprobe").toString)
    store.addQuads(0, g.map(q => q.copy(graph = null)))
    val node = ConnectorAssembler.connectorNodes(g).head
    val probe = graft.sparql.Sparql.execute(store.quads(),
      s"""SELECT ?n { OPTIONAL { <${node.lex}> <${ConnectorAssembler.NS}fusekiServiceName> ?N1 }
          BIND(COALESCE(?N1, ?N2, '') AS ?n) }""")
      .collect()
    assert(probe.length == 1)
    val name = probe.head.getStruct(0).getString(1)
    assert(ConnectorAssembler.canonical(name) == assemble(MINIMAL).datasetName)
  }
}

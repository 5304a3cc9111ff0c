package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{OpLog, QuadStore}
import graft.streaming.IngestPipeline

/** Structured Streaming behavior: the ingest foreachBatch pipeline end
  * to end (store segments, DLQ side output, offset mirror) and a
  * custom mapGroupsWithState stateful operator.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rawEvent(off: Long, body: String, ct: String = "application/n-quads") =
    ("t", 0, off, Array.emptyByteArray, body.getBytes("UTF-8"), ct)

  test("ingest stream: micro-batches commit segments, corrupt events hit the DLQ dir") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Int, Long, Array[Byte], Array[Byte], String)]
    val events = stream.toDF()
      .toDF("topic", "partition", "offset", "key", "value", "contentType")
    val store = new QuadStore(spark, Harness.scratchDir("sstore").toString)
    val dlqDir = Harness.scratchDir("sdlq").toString
    val ckpt = Harness.scratchDir("sckpt").toString

    stream.addData(
      rawEvent(0, "<http://g/a> <http://g/p> \"1\" ."),
      rawEvent(1, "not rdf at all"),
      rawEvent(2, "<http://g/b> <http://g/p> \"2\" ."))
    val q = IngestPipeline.startStream(events, store, Some(dlqDir), None, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination()

    stream.addData(rawEvent(3, "TX .\nA <http://g/c> <http://g/p> \"3\" .\nTC .",
      "application/rdf-patch"))
    val q2 = IngestPipeline.startStream(events, store, Some(dlqDir), None, ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination()

    assert(store.count() == 3) // a, b, c — corrupt event excluded
    val dlq = spark.read.parquet(dlqDir)
    assert(dlq.count() == 1)
    assert(dlq.select("_corrupt").as[String].head().nonEmpty)
    assert(store.committedSegments().size == 2) // one segment per micro-batch

    // a sparql-update event applies as it does on the projector path
    stream.addData(rawEvent(4, "INSERT DATA { <http://g/d> <http://g/p> \"4\" }",
      "application/sparql-update"))
    val q3 = IngestPipeline.startStream(events, store, Some(dlqDir), None, ckpt,
      Trigger.AvailableNow())
    q3.awaitTermination()
    assert(store.count() == 4)
    assert(spark.read.parquet(dlqDir).count() == 1)
    assert(store.committedSegments().size == 3)
  }

  private def rawFrame(evs: (String, Int, Long, Array[Byte], Array[Byte], String)*) = {
    import spark.implicits._
    evs.toDF("topic", "partition", "offset", "key", "value", "contentType")
  }

  private def subjects(store: QuadStore): Set[String] = {
    import spark.implicits._
    store.quads().select("subject.lex").as[String].collect().toSet
  }

  test("op index 2^20 + 1 of one event does not outrank the next event's delete") {
    // event 0 grows (Spark-side, on its decoded row) to 2^20 + 2 quads
    // ending in a:x; event 1 deletes a:x. Under a 20-bit op field the
    // last add of event 0 packed above event 1's delete and won
    import spark.implicits._
    val decoded = graft.rdf.RdfParse.decodeEvents(rawFrame(
      rawEvent(0, "<a:s> <a:p> <a:o> .\n<a:x> <a:p> <a:o> .")))
    val grown = decoded.withColumn("quads", concat(
      array_repeat(element_at(col("quads"), 1), (1 << 20) + 1), slice(col("quads"), 2, 1)))
    val x = graft.rdf.Term.iri("a:x")
    val delete = Seq(OpLog.OpRow("D", OpLog.seq(1, 0), null, x,
      graft.rdf.Term.iri("a:p"), graft.rdf.Term.iri("a:o"))).toDF()
    val store = new QuadStore(spark, Harness.scratchDir("opbits").toString)
    store.commitOps(0, OpLog.lower(grown, col("offset")).unionByName(delete))
    assert(subjects(store) == Set("a:s"))
  }

  test("an event whose offset does not fit the seq packing goes to the DLQ") {
    import spark.implicits._
    val store = new QuadStore(spark, Harness.scratchDir("opoff").toString)
    val dlqDir = Harness.scratchDir("opoffdlq").toString
    val last = (1L << 39) - 1 // the largest ordinal a 24-bit op field leaves
    val (applied, dlqd) = IngestPipeline.ingest(rawFrame(
        rawEvent(last, "<a:fits> <a:p> <a:o> ."),
        rawEvent(last + 1, "<a:wraps> <a:p> <a:o> .")),
      store, 0L, Some(dlqDir))
    assert((applied, dlqd) == ((1L, 1L)))
    assert(subjects(store) == Set("a:fits"))
    val dlq = spark.read.parquet(dlqDir).select("offset", "_corrupt").as[(Long, String)]
      .collect().toSeq
    assert(dlq.map(_._1) == Seq(last + 1))
    assert(dlq.head._2.contains("does not fit the op-log packing"), dlq)
  }

  private val PatchCt = "application/rdf-patch"
  private val UpdateCt = "application/sparql-update"

  test("ingest: patch transactions span events; a rejected event restarts the machine") {
    import spark.implicits._
    val store = new QuadStore(spark, Harness.scratchDir("patchtxn").toString)
    val dlqDir = Harness.scratchDir("patchtxndlq").toString
    val (applied, dlqd) = IngestPipeline.ingest(rawFrame(
        rawEvent(0, "TX .\nA <a:x> <a:p> <a:o> .\nTA .", PatchCt),
        rawEvent(1, "TX .\nA <a:y> <a:p> <a:o> .\nTX .", PatchCt),
        rawEvent(2, "TX .\nA <a:z> <a:p> <a:o> .", PatchCt),
        rawEvent(3, "TX .\nA <a:w> <a:p> <a:o> .\nTC .", PatchCt),
        rawEvent(4, "A <a:v> <a:p> <a:o> .\nTA .", PatchCt),
        rawEvent(5, "TX .\nA <a:u> <a:p> <a:o> .", PatchCt)),
      store, 0L, Some(dlqDir))
    // 2's transaction commits at 3's TX; 5's is still open at the end
    // of the micro-batch and commits with it
    assert(subjects(store) == Set("a:z", "a:w", "a:u"))
    assert((applied, dlqd) == ((4L, 2L)))
    val dlq = spark.read.parquet(dlqDir).select("offset", "_corrupt").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(dlq.map(_._1) == Seq(1L, 4L))
    assert(dlq(0)._2.contains("TX inside an open patch transaction"), dlq)
    assert(dlq(1)._2.contains("TA without open patch transaction"), dlq)
  }

  test("ingest: INSERT DATA then DELETE WHERE in one micro-batch apply in offset order") {
    val store = new QuadStore(spark, Harness.scratchDir("updorder").toString)
    val (applied, dlqd) = IngestPipeline.ingest(rawFrame(
        rawEvent(1, "DELETE WHERE { ?s <a:p> ?o }", UpdateCt),
        rawEvent(0, "INSERT DATA { <a:s> <a:p> <a:o> . <a:t> <a:q> <a:o> }", UpdateCt),
        rawEvent(2, "INSERT DATA { <a:r> <a:p> <a:o> }", UpdateCt)),
      store, 0L)
    assert((applied, dlqd) == ((3L, 0L)))
    assert(subjects(store) == Set("a:t", "a:r"))
  }

  test("ingest: an update's WHERE sees a dataset event earlier in the micro-batch") {
    val store = new QuadStore(spark, Harness.scratchDir("updwhere").toString)
    IngestPipeline.ingest(rawFrame(
        rawEvent(0, "<a:s> <a:p> <a:o> ."),
        rawEvent(1, "INSERT { ?s <a:seen> <a:yes> } WHERE { ?s <a:p> <a:o> }", UpdateCt),
        rawEvent(2, "<a:late> <a:p> <a:o> .")),
      store, 0L)
    import spark.implicits._
    val seen = store.quads().filter(col("predicate.lex") === "a:seen")
      .select("subject.lex").as[String].collect().toSeq
    assert(seen == Seq("a:s"))
    assert(store.count() == 3)
  }

  test("ingest: PA/PD ops reach the store's prefix map") {
    val store = new QuadStore(spark, Harness.scratchDir("prefixes").toString)
    IngestPipeline.ingest(rawFrame(
        rawEvent(0, "PA \"a\" <http://a/> .\nPA \"b\" <http://b/> .", PatchCt),
        rawEvent(1, "<a:s> <a:p> <a:o> ."),
        rawEvent(2, "PD \"a\" .\nTX .\nPA \"c\" <http://c/> .\nTA .", PatchCt)),
      store, 0L)
    assert(store.prefixes() == Map("b" -> "http://b/"))
    assert(subjects(store) == Set("a:s"))
    // a replay of an epoch already compacted re-applies none of them
    IngestPipeline.ingest(rawFrame(rawEvent(3, "PD \"b\" .", PatchCt)), store, 1L)
    store.compact()
    IngestPipeline.ingest(rawFrame(rawEvent(0, "PA \"b\" <http://b/> .", PatchCt)), store, 0L)
    assert(store.prefixes().isEmpty)
  }

  test("ingest: each partition of a frame keeps its own transaction state") {
    val store = new QuadStore(spark, Harness.scratchDir("parts").toString)
    val dlqDir = Harness.scratchDir("partsdlq").toString
    def ev(p: Int, off: Long, body: String) =
      ("t", p, off, Array.emptyByteArray, body.getBytes("UTF-8"), PatchCt)
    val (applied, dlqd) = IngestPipeline.ingest(rawFrame(
        ev(1, 1, "TX .\nA <a:y> <a:p> <a:o> ."),
        ev(0, 0, "TX .\nA <a:x> <a:p> <a:o> ."),
        // partition 1's TA finds no transaction open: partition 0's
        // commits at the end of its partition, with the micro-batch
        ev(1, 0, "TA ."),
        ev(0, 1, "A <a:z> <a:p> <a:o> ."),
        ev(1, 2, "TX .\nA <a:w> <a:p> <a:o> .\nTA .")),
      store, 0L, Some(dlqDir))
    assert(subjects(store) == Set("a:x", "a:z", "a:y"))
    assert((applied, dlqd) == ((4L, 1L)))
    import spark.implicits._
    assert(spark.read.parquet(dlqDir).select("partition", "offset").as[(Int, Long)]
      .collect().toSeq == Seq((1, 0L)))
  }

  test("ingest without a DLQ: the good events commit, then the micro-batch fails") {
    val store = new QuadStore(spark, Harness.scratchDir("nodlq").toString)
    val e = intercept[graft.connect.ProjectorException](IngestPipeline.ingest(rawFrame(
        rawEvent(0, "<a:s> <a:p> <a:o> ."),
        rawEvent(1, "not rdf at all"),
        rawEvent(2, "TX .\nTX .", PatchCt),
        rawEvent(3, "<a:t> <a:p> <a:o> .")),
      store, 0L))
    assert(e.getMessage.contains("2 event(s)"), e.getMessage)
    assert(subjects(store) == Set("a:s", "a:t"))
  }

  test("decodeEvents is batch-only: a streaming frame is rejected up front") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = MemoryStream[(String, Int, Long, Array[Byte], Array[Byte], String)]
      .toDF().toDF("topic", "partition", "offset", "key", "value", "contentType")
    val e = intercept[IllegalArgumentException](graft.rdf.RdfParse.decodeEvents(events))
    assert(e.getMessage.contains("batch-only"))
  }

  test("mapGroupsWithState: running per-key counts survive across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    val counts = stream.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          (key, next)
      }
    val name = "mgws_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode("update")
      .option("checkpointLocation", Harness.scratchDir("mckpt").toString)
      .start()
    try {
      stream.addData(("a", 1L), ("a", 2L), ("b", 3L))
      q.processAllAvailable()
      stream.addData(("a", 4L), ("c", 5L))
      q.processAllAvailable()
      val last = spark.table(name).groupBy($"_1").agg(max($"_2").as("n"))
        .as[(String, Long)].collect().toMap
      assert(last == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    } finally q.stop()
  }
}

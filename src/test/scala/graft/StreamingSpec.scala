package graft

import java.nio.file.Files

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
    val store = new QuadStore(spark, Files.createTempDirectory("sstore").toString)
    val dlqDir = Files.createTempDirectory("sdlq").toString
    val ckpt = Files.createTempDirectory("sckpt").toString

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

    // a WELL-FORMED sparql-update event is sequential-by-nature: the
    // unordered bulk path must DLQ it (reason, not parse error), not
    // silently drop or apply it
    stream.addData(rawEvent(4, "INSERT DATA { <http://g/d> <http://g/p> \"4\" }",
      "application/sparql-update"))
    val q3 = IngestPipeline.startStream(events, store, Some(dlqDir), None, ckpt,
      Trigger.AvailableNow())
    q3.awaitTermination()
    assert(store.count() == 3, "update applied through the unordered path")
    val dlq2 = spark.read.parquet(dlqDir)
    assert(dlq2.count() == 2)
    assert(dlq2.select("_corrupt").as[String].collect()
      .exists(_.contains("ordered projector path")))
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
    val decoded = graft.rdf.RdfParse.decodeEvents(rawFrame(
      rawEvent(0, "<a:s> <a:p> <a:o> .\n<a:x> <a:p> <a:o> ."),
      rawEvent(1, "D <a:x> <a:p> <a:o> .", "application/rdf-patch")))
    val grown = decoded.withColumn("quads", when(col("offset") === 0,
        concat(array_repeat(element_at(col("quads"), 1), (1 << 20) + 1),
          slice(col("quads"), 2, 1)))
      .otherwise(col("quads")))
    val store = new QuadStore(spark, Files.createTempDirectory("opbits").toString)
    store.commitOps(0, OpLog.lower(grown, col("offset")))
    assert(subjects(store) == Set("a:s"))
  }

  test("an event whose offset does not fit the seq packing goes to the DLQ") {
    import spark.implicits._
    val store = new QuadStore(spark, Files.createTempDirectory("opoff").toString)
    val dlqDir = Files.createTempDirectory("opoffdlq").toString
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

  test("ingest: each patch event stands alone — TA rolls back, bad or open transactions DLQ") {
    import spark.implicits._
    val store = new QuadStore(spark, Files.createTempDirectory("patchtxn").toString)
    val dlqDir = Files.createTempDirectory("patchtxndlq").toString
    val ct = "application/rdf-patch"
    val (applied, dlqd) = IngestPipeline.ingest(rawFrame(
        rawEvent(0, "TX .\nA <a:x> <a:p> <a:o> .\nTA .", ct),
        rawEvent(1, "TX .\nA <a:y> <a:p> <a:o> .\nTX .", ct),
        rawEvent(2, "TX .\nA <a:z> <a:p> <a:o> .", ct),
        rawEvent(3, "TX .\nA <a:w> <a:p> <a:o> .\nTC .", ct)),
      store, 0L, Some(dlqDir))
    assert(subjects(store) == Set("a:w"))
    assert((applied, dlqd) == ((2L, 2L)))
    val dlq = spark.read.parquet(dlqDir).select("offset", "_corrupt").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(dlq.map(_._1) == Seq(1L, 2L))
    assert(dlq(0)._2.contains("TX inside an open patch transaction"), dlq)
    assert(dlq(1)._2.contains("leaves its transaction open"), dlq)
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
      .option("checkpointLocation", Files.createTempDirectory("mckpt").toString)
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

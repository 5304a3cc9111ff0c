package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.connect.{OffsetStore, ProjectorException, QuadStoreSink}
import graft.store.QuadStore

/** The distributed ingest path — the Spark shape of the reference's
  * whole pipeline (SURVEY.md §3.1: readStream(kafka) → foreachBatch{
  * commit, DLQ, offsets}). Each micro-batch commits as one store segment
  * through the sink the projector feeds ([[QuadStoreSink.applyFrame]]),
  * so an event means the same on both paths, and epoch replay is
  * idempotent (QuadStore.commitOps replays an epoch copy-on-write).
  */
object IngestPipeline {

  /** Commit one batch of raw events ([[QuadStoreSink.FrameColumns]]).
    * Events the commit turns away land in `dlqDir` as parquet with the
    * reason in `_corrupt`; with no `dlqDir` the good events commit and
    * the call then throws [[ProjectorException]], as the projector does.
    * `offsets` records one past each partition's last event,
    * dead-lettered ones included. Returns (applied, dead-lettered).
    */
  def ingest(events: DataFrame, store: QuadStore, batchId: Long,
      dlqDir: Option[String] = None,
      offsets: Option[OffsetStore] = None): (Long, Long) = {
    val c = new QuadStoreSink(events.sparkSession, store).applyFrame(batchId, events)
    if (c.rejected > 0) dlqDir match {
      // the reference's re-serialized RdfPayload (FKS.java:300-311)
      case Some(dir) => c.rejects.write.mode("append").parquet(dir)
      case None => throw new ProjectorException(
        s"${c.rejected} event(s) of micro-batch $batchId failed and no DLQ is configured")
    }
    offsets.foreach { os =>
      events.groupBy(col("topic"), col("partition"))
        .agg(max(col("offset")).as("maxOff"))
        .collect()
        .foreach(r => os.saveOffset(r.getString(0), r.getInt(1), r.getLong(2) + 1))
      os.flush()
    }
    (c.applied, c.rejected)
  }

  /** Structured Streaming entry: one micro-batch = one store segment =
    * one offset-state flush, mirroring the reference's
    * commit-per-batch contract with SS's own exactly-once replay.
    */
  def startStream(events: DataFrame, store: QuadStore,
      dlqDir: Option[String] = None, offsets: Option[OffsetStore] = None,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingest(batch, store, batchId, dlqDir, offsets)
        ()
      }
      .start()

  /** Synthetic event generator for the scale-parity run — the
    * reference's integration-scale corpus (AbstractDockerTests.java:
    * 38-141: 10,000 events of U(1,1000) quads each), generated and
    * serialized ENTIRELY in executors (spark.range → columnar string
    * building; zero driver work). Quad count per event i is
    * 1 + ((i * 2654435761) mod 2^31) mod maxQuads — plain integer
    * arithmetic any engine reproduces exactly.
    */
  def syntheticEvents(spark: SparkSession, n: Long, maxQuads: Int): DataFrame = {
    spark.range(n)
      .withColumn("nq", expr(s"1 + ((id * 2654435761) % 2147483648) % $maxQuads"))
      .select(
        lit("scale").as("topic"), lit(0).as("partition"), col("id").as("offset"),
        lit(Array.emptyByteArray).as("key"),
        // cast(string as binary) hands back the UTF8String's bytes
        // directly; encode(_, "UTF-8") re-ran a charset encoder over
        // the ~500 MB corpus for the identical bytes
        concat_ws("\n",
          transform(sequence(lit(0L), col("nq") - 1), j =>
            concat(lit("<http://g/e"), col("id"), lit("/q"), j,
              lit("> <http://g/p> \"v\" .")))).cast("binary").as("value"),
        lit("application/n-quads").as("contentType"))
  }
}

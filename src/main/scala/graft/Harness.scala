package graft

import org.apache.spark.sql.SparkSession

import graft.plans.Checkpoints

/** The shared harness for the command-line mains (Bench, Verify and
  * the test-scope PlanDump/Scratch) and the test session: one session
  * builder, one per-entry lifetime wrapper and one owner of scratch
  * directories.
  */
object Harness {

  /** The JVM's one scratch root under `java.io.tmpdir`, removed at
    * exit. The hook runs after Spark's own shutdown hooks (a lower
    * Hadoop hook priority), so nothing writes into a directory while
    * it is removed.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-scratch")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(root.toFile), 0)
    root
  }

  /** A fresh directory named `prefix…` under the scratch root: stores,
    * views, stream and checkpoint directories of the entries and the
    * tests. Nothing made here outlives the JVM.
    */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  /** Local session with `cpus` cores and as many shuffle partitions.
    * `nanosAsLong` lets the fixtures' TIMESTAMP(NANOS) columns load
    * (see [[graft.queries.Tables]]); UTC pins date rendering.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one entry inside a [[Checkpoints.withScope]] — the body must
    * consume its result — then sweep whatever the scope did not free,
    * so a leak cannot tax the entries after it. The sweep is a safety
    * net, not the mechanism: anything it finds is reported on stderr
    * as a leak of `name`.
    */
  def entry[T](spark: SparkSession, name: String)(body: => T): T =
    try Checkpoints.withScope(body)
    finally {
      val leaked = spark.sparkContext.getPersistentRDDs.values
      if (leaked.nonEmpty) {
        System.err.println(s"[harness] $name: swept ${leaked.size} leaked persistent RDD(s)")
        leaked.foreach(_.unpersist(blocking = false))
      }
    }
}

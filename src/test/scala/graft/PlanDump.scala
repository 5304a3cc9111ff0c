package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Measurement tool (optimization guide §1): dump `.explain("formatted")`
  * for named entries to files, and optionally time each one against the
  * noop sink (computes every column, no output cost — §1.4).
  *
  * Usage: runMain graft.PlanDump <outDir> <entry>[,entry...] [--time]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val names = args(1).split(",").toSeq
    val time = args.contains("--time")
    val suffix = args.find(_.startsWith("--suffix=")).map(_.drop(9)).getOrElse("")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    names.foreach { name => Harness.entry(spark, name) {
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"$name$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      if (time) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[plandump] $name noop=$dt%.3f s")
      }
    }}
    spark.stop()
  }
}

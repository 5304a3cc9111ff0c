package graft

// Dev-only profiling scratchpad (test scope — never ships):
//   sbt 'Test/runMain graft.Scratch entrybench <entry>[,entry...] [reps]'
//   sbt 'Test/runMain graft.Scratch floor <entry>[,entry...] [reps]'
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def run(n: String): Unit =
      Harness.entry(spark, n)(SparkEntry.queries(n)(spark, sfDir).count())

    args(0) match {
      case "entrybench" =>
        // dev-only: min-of-N is robust to sandbox contention spikes
        def calibrate(): Double = {
          val t0 = System.nanoTime()
          spark.range(0L, 20000000L, 1L, 32)
            .selectExpr("id % 97 AS k", "id").groupBy("k").sum("id").collect()
          (System.nanoTime() - t0) / 1e9
        }
        calibrate()
        println(f"[entrybench] calibration ${(1 to 3).map(_ => calibrate()).min}%.3f")
        val names = args(1).split(",").toSeq
        val reps = args.lift(2).map(_.toInt).getOrElse(5)
        names.foreach(run) // warmup
        names.foreach { n =>
          val ts = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            run(n)
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[entrybench] $n%-28s min=${ts.min}%7.3f med=${ts.sorted.apply(ts.length / 2)}%7.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
        }
      case "floor" =>
        // where do sub-second entries spend time? per-entry: wall vs
        // summed task time vs job/stage/task counts (scheduler floor)
        val names = args(1).split(",").toSeq
        val reps = args.lift(2).map(_.toInt).getOrElse(3)
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val stages = new java.util.concurrent.atomic.AtomicInteger
        val tasks = new java.util.concurrent.atomic.AtomicInteger
        val taskTime = new java.util.concurrent.atomic.AtomicLong
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
          override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            stages.incrementAndGet()
            tasks.addAndGet(s.stageInfo.numTasks)
          }
          override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskInfo != null) taskTime.addAndGet(t.taskInfo.duration)
        })
        names.foreach(run) // warmup
        names.foreach { n =>
          val t0 = System.nanoTime(); jobs.set(0); stages.set(0); tasks.set(0); taskTime.set(0)
          (1 to reps).foreach(_ => run(n))
          Thread.sleep(300) // let the listener bus drain
          val wall = ((System.nanoTime() - t0) / 1e9 - 0.3) / reps
          println(f"[floor] $n%-26s wall=$wall%6.3f jobs=${jobs.get / reps}%3d stages=${stages.get / reps}%3d tasks=${tasks.get / reps}%5d taskSec=${taskTime.get / 1e3 / reps}%7.2f")
        }
    }
    spark.stop()
  }
}

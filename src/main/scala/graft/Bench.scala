package graft

/** Benchmark main — one JSON line per run (driver → BENCH_r{N}.json).
  *
  * Attribution over raw speed: a shared sandbox poisons back-to-back
  * timings, so the harness is built to make contention visible and
  * non-clustered rather than pretend it away:
  *
  *  - Reps are INTERLEAVED round-robin across entries (pass 1 runs
  *    every query once, then pass 2, …) instead of running one entry's
  *    reps consecutively — a contention spike then inflates at most
  *    one rep of many entries (the median discards it) instead of all
  *    reps of whichever entry was unlucky.
  *  - A `calibration` pseudo-entry — a fixed-size deterministic job —
  *    is timed before every pass and after the last. Its spread
  *    (max/min) quantifies how contended the run was: a clean run
  *    reports a spread near 1, so an entry regression paired with a
  *    calibration spike reads as environment, not code.
  *
  * Queries run in sorted-name order (round-over-round comparability)
  * after an untimed warmup that absorbs JIT/codegen cost. Each query
  * reports the per-entry MEDIAN over SPARK_GRAFT_BENCH_REPS passes
  * (default 3). A failing query is recorded as -1 with its error in
  * "errors" rather than being silently swallowed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Harness.session(cpus)
    // fixed-size deterministic job (shuffle + agg, no I/O): wall time
    // varies only with machine conditions, so its spread across the
    // run IS the contention measurement
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id % 97 AS k", "id")
        .groupBy("k").sum("id").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_BENCH_ONLY=a,b,c profiles a subset (builder-side
    // iteration; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // warmup, untimed: a join+agg touching the big tables, plus one
    // SPARQL and one projector entry — engine JIT/codegen cost is
    // shared JVM-wide and otherwise lands on whichever timed entry
    // runs first (the round-5 proj_* "regressions" were exactly that)
    for (name <- Seq("q1_pricing_summary", "sparql_bgp", "proj_zero_lag"))
      try Harness.entry(spark, name)(
        SparkEntry.queries.get(name).foreach(_(spark, sfDir).count()))
      catch { case _: Throwable => () }
    calibrate() // untimed warmup of the calibration plan itself
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val times = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    queries.foreach { case (n, _) =>
      times(n) = scala.collection.mutable.ArrayBuffer[Double]()
    }
    val calib = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to reps) {
      calib += calibrate()
      // Harness.entry frees whatever an entry pinned before the next
      // one runs, so a leak cannot tax the entries after it — the
      // round-6 sparql_* cluster "regression" was exactly that
      queries.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try Harness.entry(spark, name) {
          fn(spark, sfDir).count(); times(name) += (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            times(name) += -1.0
        }
      }
    }
    calib += calibrate()
    val results = queries.map { case (name, _) =>
      val ts = times(name).toSeq
      val median =
        if (ts.contains(-1.0)) -1.0
        else ts.sorted.apply(ts.length / 2)
      name -> median
    }
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    def r3(d: Double) = math.rint(d * 1000) / 1000
    // medians print ms-rounded: at 150+ entries full-double medians made
    // the line ~5 KB and the driver's tail capture truncated it mid-JSON
    // (PERF r07/r08 `per_query` came back empty) — rounding keeps the
    // line compact; 1 ms is far below the sandbox noise floor anyway
    val qs = results.map { case (k, v) => jstr(k) + ":" + r3(v) }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val spread = if (calib.min > 0) r3(calib.max / calib.min) else -1.0
    val cal = s"""{"samples":[${calib.map(r3).mkString(",")}],""" +
      s""""median":${r3(calib.sorted.apply(calib.length / 2))},"spread":$spread}"""
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"errors":$errs,"calibration":$cal,"sf":"$sfDir"}"""
    // also persist the line next to the plan dumps: a capture that
    // truncates stdout can be cross-checked against this byte-identical
    // copy (best-effort — the bench result is the printed line). One
    // file per core count, so runs at 8 and 32 cores keep both results.
    try {
      val out = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_COPY", s"plans/bench_official_${cpus}c.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    spark.stop()
    // the JSON stays the FINAL line on stdout (spark.stop() can log)
    println(line)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Checkpoints

object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)

  /** Ids of the RDDs currently persisted (checkpoints included). */
  def pinned(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** [[pinned]] once it equals `expected`, or after 10 s — unpersist
    * may complete asynchronously, so callers poll before asserting.
    */
  def awaitPinned(expected: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (pinned() != expected && System.nanoTime() < deadline) Thread.sleep(50)
    pinned()
  }

  /** `body`'s result and the Spark jobs started while it ran, from any
    * thread (an HTTP request's jobs run on the server's), counted by
    * listener. A marker job flushes the listener bus before and after
    * `body`, so each of its jobs is counted once and no earlier job is.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    @volatile var marker: CountDownLatch = null
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.marker") != null)
          marker.countDown()
        else jobs.incrementAndGet()
    }
    def settled(): Int = {
      marker = new CountDownLatch(1)
      sc.setLocalProperty("graft.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.marker", null)
      require(marker.await(30, TimeUnit.SECONDS), "listener bus did not flush")
      jobs.getAndSet(0)
    }
    sc.addSparkListener(listener)
    try {
      settled()
      val r = body
      (r, settled())
    } finally sc.removeSparkListener(listener)
  }
}

class RelationalSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  test("every declared query has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only queries are allowed but should be a deliberate, short list
    assert(noOracle.forall(n => SparkEntry.queries.contains(n)))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute at sf0.001 and are non-degenerate") {
    // and leak-free: whatever an entry materializes is either freed in
    // the function that made it or registered with the caller's scope,
    // so the block manager returns to its pre-entry state with no sweep
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = TestSpark.pinned()
      val n = Checkpoints.withScope(fn(spark, sf).count())
      withClue(s"$name: ") { assert(n >= 0) }
      val left = TestSpark.awaitPinned(before) -- before
      if (left.isEmpty) None else Some(s"$name: ${left.size}")
    }
    assert(leaks.isEmpty, s"entries left persistent RDDs: ${leaks.mkString(", ")}")
  }

  test("streaming entries restore every session conf they override") {
    // starting values no override uses, so a leaked one cannot match —
    // whatever earlier tests left on the shared session
    val start = Seq("spark.sql.shuffle.partitions" -> "3",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "false")
    Harness.withConf(spark, start: _*) {
      assert(SparkEntry.queries("streaming_window")(spark, sf).count() > 0)
      assert(start.map { case (k, _) => k -> spark.conf.get(k) } == start)
    }
  }

  test("q1 aggregates match hand-computed values at sf0.001") {
    import spark.implicits._
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter($"l_shipdate" <= "1999-12-01")
    val total = df.agg(org.apache.spark.sql.functions.sum($"count_order")).as[Long].head()
    assert(total == li.count())
  }

  test("q9 topk ordering is deterministic") {
    val rows = SparkEntry.queries("q9_topk")(spark, sf).collect()
    assert(rows.length == 15)
    val prices = rows.map(_.getDouble(2))
    assert(prices.sameElements(prices.sorted.reverse))
  }
}

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
    val saved = start.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      start.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(SparkEntry.queries("streaming_window")(spark, sf).count() > 0)
      assert(start.map { case (k, _) => k -> spark.conf.get(k) } == start)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
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

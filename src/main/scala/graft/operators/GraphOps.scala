package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Checkpoints

/** Distributed graph analytics over edge DataFrames. Companion to the
  * fixpoint machinery already in the engine (connected components in
  * [[graft.pipeline.Dedup.clusterComponents]], transitive closure in
  * the SPARQL path engine) — this adds the weighted-propagation kind.
  *
  * PageRank here is EXACT INTEGER PageRank: ranks are integers scaled
  * by `scale`, per-edge shares are integer division `rank div outdeg`,
  * and the damping update is `base + (dampNum·inflow) div dampDen`.
  * Integer sums are associative and order-independent, so the result
  * is bit-identical across engines, partitionings, and retries — a
  * floating-point PageRank differs in the last ulp per aggregation
  * order, which a distributed engine cannot pin down. The truncation
  * "loses" at most outdeg-1 scale units per node per round (bounded,
  * deterministic) and dangling-node mass is dropped rather than
  * redistributed — fine for a ranking signal, and exactly replicable
  * as unrolled SQL in the verify oracle.
  *
  * Scale shape: per iteration, ONE join of the edge list against the
  * rank table on src (both hash-partitioned on the same key — a real
  * deployment pre-buckets the edge list so the edge side never
  * re-shuffles) and one dst-keyed partial-agg sum; the rank table is
  * node-sized, never edge-sized. Rounds are a fixed constant, not a
  * convergence loop, so the job count is known up front.
  */
object GraphOps {

  /** @param edges      (src: long, dst: long) rows; duplicates allowed
    *                   (deduplicated here — parallel edges would
    *                   double-count shares)
    * @param iterations fixed number of power-iteration rounds
    * @param scale      integer scale of a unit of rank mass
    * @param dampNum    damping numerator (d = dampNum/dampDen)
    * @param dampDen    damping denominator
    * @return (node, rank) — exact scaled-integer ranks
    */
  def pagerankInt(edges: DataFrame, iterations: Int,
      scale: Long = 1000000000000L, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    require(iterations >= 0 && dampNum >= 0 && dampNum <= dampDen)
    // materialize the deduplicated edge list ONCE, hash-partitioned on
    // src: Dataset.localCheckpoint preserves outputPartitioning, so
    // every iteration's share join co-locates against it without
    // re-shuffling the (edge-sized) relation — only the node-sized
    // rank table moves per round. Dedup runs AFTER the src repartition
    // (HashPartitioning(src) satisfies the (src, dst) clustering —
    // same-src rows are colocated), so the edge list crosses the
    // network once, not twice (guide §2.4).
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    val init = scale / n
    val base = ((dampDen - dampNum) * init) / dampDen
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    var ranks = nodes.select(col("node"), lit(init).as("rank"))
    var pinned: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      val share = ranks.join(outdeg, ranks("node") === outdeg("src"))
        .select(col("src"), expr("rank div outdeg").as("share"))
      val inflow = e.join(share, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("inflow"))
      val next = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"(${dampNum}L * coalesce(inflow, 0L)) div ${dampDen}L"))
            .as("rank"))
        .localCheckpoint()
      // free the superseded round's blocks (Dataset.unpersist never
      // touches localCheckpoint blocks — see Checkpoints)
      pinned.foreach(Checkpoints.unpersist(_))
      pinned = Some(next)
      ranks = next
    }
    // the last round is self-contained (a checkpoint has no lineage),
    // so the edge and node tables are dead once it exists; with zero
    // rounds the result still reads `nodes`
    Checkpoints.unpersist(e)
    pinned match {
      case Some(last) => Checkpoints.unpersist(nodes); Checkpoints.register(last)
      case None => Checkpoints.register(nodes); ranks
    }
  }
}

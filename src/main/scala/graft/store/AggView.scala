package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdf.Quad

/** Incrementally-maintained COUNT aggregate view over a [[QuadStore]]
  * — grouped quad statistics (per-predicate, per-graph, per-subject…,
  * the VoID-style dataset statistics a SPARQL service publishes) that
  * refresh at CHANGE cost, not store cost.
  *
  * Refresh reads the store's CDC feed since the last refreshed batch
  * and folds it into the persisted counts. The feed is net-per-quad
  * but NOT set-minimal ([[QuadStore.changes]]: a re-add of a present
  * quad, or a delete of an absent one, still emits an op), so deltas
  * are made presence-EXACT by checking each changed quad against the
  * as-of-last-refresh state:
  *
  *  - `A` counts +1 only if the quad was absent at the last refresh;
  *  - `D` counts −1 only if it was present.
  *
  * The presence check is the only state access, and it is BUCKET-
  * PRUNED ([[QuadStore.quadsAtBuckets]]): the changed quads' hash
  * buckets are computed first (≤ numBuckets values — a bounded
  * driver-side list, the store's own compaction bookkeeping basis),
  * and the as-of read partition-prunes the compacted base to exactly
  * those `bucket=k` directories. Refresh cost is therefore
  * O(changes + touched buckets) — at 100 TB the view keeps up with
  * the ingest rate instead of rescanning the corpus, and the merge
  * into the persisted counts is a full-outer join on the (tiny)
  * group-key set. The rows are the group columns (term structs) +
  * `cnt`.
  *
  * Persistence, the CDC-floor check and the refresh skeleton are
  * [[IncrementalView]]'s; a view older than the compaction floor
  * re-initializes with one full aggregate.
  */
final class AggView(spark: SparkSession, store: QuadStore, path: String,
    groupCols: Seq[String] = Seq("predicate"))
    extends IncrementalView(spark, store, path) {
  require(groupCols.nonEmpty &&
    groupCols.forall(Quad.Columns.contains),
    s"groupCols must be quad columns, got $groupCols")

  /** A predicate-grouped view's counts as the lex→count census the
    * SPARQL compiler's cost-based BGP reorder consumes
    * (`Sparql.EvalContext(census = …)`). Driver-side by design: a dataset's
    * distinct-predicate count is its vocabulary size — bounded and
    * small, never corpus-scale.
    */
  def predicateCounts(): Map[String, Long] = {
    require(groupCols == Seq("predicate"),
      s"predicateCounts needs a predicate-grouped view, got $groupCols")
    result().select(col("predicate.lex"), col("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** One full aggregate. */
  protected def initial(state: DataFrame): DataFrame =
    state.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("cnt"))

  /** The presence-exact signed delta of the window, merged into the
    * prior counts.
    */
  protected def advance(prior: DataFrame, from: Long, to: Long): DataFrame = {
    val cdc = store.changes(from, to)
    // touched buckets: a bounded driver-side list (≤ numBuckets)
    val buckets = cdc.select(store.bucketOf.as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (buckets.isEmpty) return prior // net-empty window
    // presence-exact signed delta per changed quad: one left-outer join
    // against the pruned as-of state (a set — at most one match per quad)
    val asOf = store.quadsAtBuckets(from, buckets)
      .select(Quad.Columns.map(col) :+ lit(true).as("present0"): _*).alias("s")
    val c = cdc.alias("c")
    val cond = Quad.Columns
      .map(q => col(s"c.$q") <=> col(s"s.$q")).reduce(_ && _)
    val signed = c.join(asOf, cond, "left_outer")
      .select(groupCols.map(g => col(s"c.$g").as(g)) :+
        when(col("c.op") === "A" && col("present0").isNull, 1L)
          .when(col("c.op") === "D" && col("present0").isNotNull, -1L)
          .otherwise(0L).as("d"): _*)
      .filter(col("d") =!= 0L)
    val delta = signed.groupBy(groupCols.map(col): _*)
      .agg(sum(col("d")).as("d"))
    val v = prior.alias("v")
    val dd = delta.alias("d")
    val gcond = groupCols.map(g => col(s"v.$g") <=> col(s"d.$g"))
      .reduce(_ && _)
    v.join(dd, gcond, "full_outer")
      .select(groupCols.map(g =>
          coalesce(col(s"v.$g"), col(s"d.$g")).as(g)) :+
        (coalesce(col("v.cnt"), lit(0L)) +
          coalesce(col("d.d"), lit(0L))).as("cnt"): _*)
      .filter(col("cnt") > 0)
  }
}

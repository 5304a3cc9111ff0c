package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

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
  * group-key set.
  *
  * Persistence is the store's own pointer discipline: counts live in
  * a generation directory, `_view` names the current one with its
  * as-of batch, updates write a fresh directory and atomically move
  * the pointer, and a reader holding the old generation keeps a
  * consistent snapshot ([[QuadStore]] copy-on-write replay rationale).
  *
  * Constraint (inherent to any log-structured CDC consumer): refresh
  * at least once per compaction cycle — [[QuadStore.compact]] is the
  * history floor below which the feed cannot be replayed; a view
  * older than the floor re-initializes with one full aggregate.
  */
final class AggView(spark: SparkSession, store: QuadStore, path: String,
    groupCols: Seq[String] = Seq("predicate")) {
  require(groupCols.nonEmpty &&
    groupCols.forall(Quad.Columns.contains),
    s"groupCols must be quad columns, got $groupCols")

  private val dir = Paths.get(path)
  Files.createDirectories(dir)
  private def pointerFile = dir.resolve("_view")

  /** (as-of batch, data directory name); None before the first refresh. */
  private def readPointer(): Option[(Long, String)] =
    if (!Files.exists(pointerFile)) None
    else new String(Files.readAllBytes(pointerFile), StandardCharsets.UTF_8)
      .trim.split(" ", 2) match {
        case Array(b, name) => Some((b.toLong, name))
        case _ => None
      }

  private def writePointer(batch: Long, name: String): Unit = {
    val tmp = dir.resolve("_view.temp")
    Files.write(tmp, s"$batch $name".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointerFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Batch the persisted counts reflect; −1 before the first refresh. */
  def refreshedAt: Long = readPointer().map(_._1).getOrElse(-1L)

  /** The maintained counts: group columns (term structs) + `cnt`. */
  def result(): DataFrame = readPointer() match {
    case Some((_, name)) => spark.read.parquet(dir.resolve(name).toString)
    case None => throw new IllegalStateException("view never refreshed")
  }

  /** A predicate-grouped view's counts as the lex→count census the
    * SPARQL compiler's cost-based BGP reorder consumes
    * (`Sparql.executeWithStats`). Driver-side by design: a dataset's
    * distinct-predicate count is its vocabulary size — bounded and
    * small, never corpus-scale.
    */
  def predicateCounts(): Map[String, Long] = {
    require(groupCols == Seq("predicate"),
      s"predicateCounts needs a predicate-grouped view, got $groupCols")
    result().select(col("predicate.lex"), col("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def fullAggregate(state: DataFrame): DataFrame =
    state.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("cnt"))

  /** Bring the view up to the store's current committed batch;
    * returns that batch. Incremental when the CDC window is
    * replayable, one full aggregate otherwise (first refresh, or a
    * compaction passed the view's as-of point).
    */
  def refresh(): Long = synchronized {
    val to = store.currentBatchId
    val current = readPointer()
    val from = current.map(_._1).getOrElse(-1L)
    if (to <= from) return from
    val next = current match {
      case Some((f, _)) if f >= store.highWaterBatchId =>
        val cdc = store.changes(f, to)
        // touched buckets: a bounded driver-side list (≤ numBuckets)
        val buckets = cdc.select(store.bucketOf.as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        if (buckets.isEmpty) result() // net-empty window
        else {
          // presence-exact signed delta per changed quad: one
          // left-outer join against the pruned as-of state (a set —
          // at most one match per quad)
          val asOf = store.quadsAtBuckets(f, buckets)
            .select(Quad.Columns.map(col) :+
              lit(true).as("present0"): _*).alias("s")
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
          val v = result().alias("v")
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
      case _ =>
        // first refresh, or compaction passed the as-of point:
        // one full aggregate re-initializes
        fullAggregate(store.quadsAt(to))
    }
    val gen = current.map(_._2.stripPrefix("data-").split("-g").last.toInt + 1)
      .getOrElse(0)
    val name = s"data-b$to-g$gen"
    next.write.mode("overwrite").parquet(dir.resolve(name).toString)
    writePointer(to, name)
    to
  }
}

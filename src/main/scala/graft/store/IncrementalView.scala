package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The refresh lifecycle an incrementally-maintained view over a
  * [[QuadStore]] shares ([[AggView]], [[JoinView]]): a view supplies
  * its full computation over a store state ([[initial]]) and how a CDC
  * window moves its prior rows forward ([[advance]]).
  *
  * Persistence is the store's own pointer discipline: rows live in a
  * generation directory `data-b<batch>-g<gen>`, `_view` names the
  * current one with its as-of batch, a refresh writes a fresh directory
  * and then swings the pointer ([[StateFile.replace]]), and a reader
  * holding the old generation keeps a consistent snapshot
  * ([[QuadStore]] copy-on-write replay rationale).
  *
  * Constraint (inherent to any log-structured CDC consumer): refresh
  * at least once per compaction cycle — [[QuadStore.compact]] is the
  * history floor below which the feed cannot be replayed; a view
  * older than the floor re-initializes with [[initial]].
  */
abstract class IncrementalView(spark: SparkSession, store: QuadStore, path: String) {
  private val dir = Paths.get(path)
  Files.createDirectories(dir)
  private def pointerFile = dir.resolve("_view")

  /** (as-of batch, data directory name); None before the first refresh. */
  private def readPointer(): Option[(Long, String)] =
    StateFile.read(pointerFile).flatMap(_.trim.split(" ", 2) match {
      case Array(b, name) => Some((b.toLong, name))
      case _ => None
    })

  /** Batch the persisted rows reflect; −1 before the first refresh. */
  def refreshedAt: Long = readPointer().map(_._1).getOrElse(-1L)

  /** The maintained rows. */
  def result(): DataFrame = readPointer() match {
    case Some((_, name)) => spark.read.parquet(dir.resolve(name).toString)
    case None => throw new IllegalStateException("view never refreshed")
  }

  /** The view computed from scratch over `state`, the store as of the
    * batch being refreshed to.
    */
  protected def initial(state: DataFrame): DataFrame

  /** The view as of batch `to`, from its rows `prior` as of `from` and
    * the store's CDC window `(from, to]`.
    */
  protected def advance(prior: DataFrame, from: Long, to: Long): DataFrame

  /** Bring the view up to the store's current committed batch; returns
    * that batch. Incremental when the CDC window is replayable, one
    * [[initial]] otherwise (first refresh, or a compaction passed the
    * view's as-of point).
    */
  def refresh(): Long = synchronized {
    val to = store.currentBatchId
    val current = readPointer()
    val from = current.map(_._1).getOrElse(-1L)
    if (to <= from) return from
    val next = current match {
      case Some((f, _)) if f >= store.highWaterBatchId => advance(result(), f, to)
      case _ => initial(store.quadsAt(to))
    }
    val gen = current.map(_._2.stripPrefix("data-").split("-g").last.toInt + 1)
      .getOrElse(0)
    val name = s"data-b$to-g$gen"
    next.write.mode("overwrite").parquet(dir.resolve(name).toString)
    StateFile.replace(pointerFile, s"$to $name")
    to
  }
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Block-manager hygiene for checkpointed DataFrames — the ONE
  * lifetime mechanism for every materialized intermediate.
  *
  * `Dataset.localCheckpoint()` pins the materialized rows in the block
  * manager via the INTERNAL row RDD it wraps in a [[LogicalRDD]];
  * `Dataset.unpersist()` only talks to the CacheManager (`.cache()`
  * state) and never frees those blocks. Iterative plans that
  * checkpoint per round (transitive closure, long update scripts)
  * must therefore unpersist at the RDD level or they pin
  * O(rounds × data) storage for the JVM lifetime.
  *
  * Two rules cover every operator: a checkpoint that is dead when the
  * function returns is [[unpersist]]ed there; one the returned plan
  * still reads is [[register]]ed, and the caller's [[withScope]] frees
  * it once the result is consumed. Long-lived callers each own one
  * scope: the HTTP server per request, the connector sink per commit,
  * the harnesses per entry ([[graft.Harness.entry]]).
  */
object Checkpoints {

  /** The checkpoint-pinned RDD behind `df`, if `df` is the direct
    * result of a `checkpoint`/`localCheckpoint` call.
    */
  def pinnedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _             => None
    }

  /** Free the blocks a `localCheckpoint` result pinned. Safe once no
    * live plan reads `df` (a local checkpoint has no lineage to
    * recompute from — a later read would fail, not recompute).
    */
  def unpersist(df: DataFrame, blocking: Boolean = false): Unit =
    pinnedRdd(df).foreach(_.unpersist(blocking))

  private val scope =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]()

  /** Register a checkpointed frame for release when the enclosing
    * [[withScope]] completes. With no enclosing scope nothing tracks
    * the frame: it stays pinned until a harness sweep, which
    * [[graft.Harness.entry]] reports as a leak.
    */
  def register(df: DataFrame): DataFrame = {
    Option(scope.get()).foreach(_ += df)
    df
  }

  /** Run `f` with every [[register]]ed checkpoint on THIS thread freed
    * when `f` completes: compile AND consume the result inside `f`.
    * Scopes nest, and each frees only its own registrations, so an
    * inner scope never touches a frame an outer plan still reads (nor
    * another thread's — the registry is thread-local).
    */
  def withScope[T](f: => T): T = {
    val outer = scope.get()
    val mine = scala.collection.mutable.ArrayBuffer[DataFrame]()
    scope.set(mine)
    try f
    finally {
      scope.set(outer)
      mine.foreach(unpersist(_))
    }
  }
}

package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdf.Term

/** Incrementally-maintained STAR-JOIN view over a [[QuadStore]] — the
  * materialized form of the dominant BGP shape (`?s <p1> ?o1 . ?s <p2>
  * ?o2 …` over the default graph), refreshed at CHANGE cost instead of
  * re-joining the store per query.
  *
  * Maintenance is touched-subject partial recompute, the IVM strategy
  * that fits a subject-star view: a change batch can only affect view
  * rows whose `subject` appears in the CDC window with one of the
  * view's predicates, so refresh
  *
  *  1. reads the store's CDC feed since the last refreshed batch,
  *     filtered to the view's predicates (an over-approximation —
  *     no-op re-adds/absent-deletes just recompute a subject to the
  *     same rows, so presence-exactness is NOT needed here, unlike
  *     [[AggView]]'s signed counts);
  *  2. drops the touched subjects from the persisted rows with a
  *     broadcast anti join (touched is bounded by the window's change
  *     volume, never by the store);
  *  3. recomputes exactly those subjects against the new state — each
  *     leaf scan is predicate-bound (row-group-pruned by the base
  *     layout's in-bucket predicate sort) and semi-joined to the
  *     touched set map-side before the star join.
  *
  * A full star join runs only on the first refresh or when compaction
  * passed the view's as-of point. Persistence, that CDC-replayability
  * floor and the refresh skeleton are [[IncrementalView]]'s.
  *
  * Multiplicities are SPARQL's: a subject with two objects under one
  * predicate contributes the cross product of its leaf matches, and a
  * subject missing ANY leaf contributes nothing (inner star). The
  * rows are `subject` + `o0`…`o{k-1}` term structs.
  */
final class JoinView(spark: SparkSession, store: QuadStore, path: String,
    predicates: Seq[Term]) extends IncrementalView(spark, store, path) {
  require(predicates.nonEmpty, "a star view needs at least one predicate")

  /** The star join over `state`, optionally restricted to a (small,
    * broadcast) subject set before any join runs.
    */
  private def starJoin(state: DataFrame,
      onlySubjects: Option[DataFrame]): DataFrame = {
    val dflt = state.filter(col("graph").isNull)
    predicates.zipWithIndex.map { case (p, i) =>
      val leaf = dflt
        .filter(col("predicate.termType") === p.termType &&
          col("predicate.lex") === p.lex)
        .select(col("subject"), col("obj").as(s"o$i"))
      onlySubjects.fold(leaf)(t =>
        leaf.join(broadcast(t), Seq("subject"), "left_semi"))
    }.reduce((a, b) => a.join(b, Seq("subject")))
  }

  /** One full star join. */
  protected def initial(state: DataFrame): DataFrame = starJoin(state, None)

  /** Touched-subject recompute: the prior rows of the subjects the
    * window touched with a view predicate are dropped and recomputed
    * against the state as of `to`.
    */
  protected def advance(prior: DataFrame, from: Long, to: Long): DataFrame = {
    val touched = store.changes(from, to)
      .filter(col("graph").isNull &&
        col("predicate.termType") === Term.IRI &&
        col("predicate.lex").isin(predicates.map(_.lex): _*))
      .select(col("subject")).distinct()
    if (touched.isEmpty) prior // net-irrelevant window
    else prior.join(broadcast(touched), Seq("subject"), "left_anti")
      .unionByName(starJoin(store.quadsAt(to), Some(touched)))
  }
}

package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.plans.Checkpoints
import graft.rdf.{RdfParseException, Term}

/** Property-path engine: evaluates a [[Sparql.PathExpr]] to a
  * (ps, po) pair relation — sequence/alternative/inverse by relational
  * composition, `+`/`*` as a distributed fixpoint over
  * localCheckpoint'd rounds. A round that is dead when its fixpoint
  * function returns is unpersisted there; every checkpoint the
  * returned plan still reads (fixpoint, seeded parts, dictionary,
  * zero-length nodes) is [[Checkpoints.register]]ed, so the caller's
  * [[Checkpoints.withScope]] frees it once the result is consumed.
  * Mixed into [[Sparql]]; split out for reviewability only.
  */
private[sparql] trait SparqlPathEngine { this: Sparql.type =>
  import Sparql._
  /** The quads a path evaluates over: default graph, one constant
    * graph, or — for `GRAPH ?var` — every named graph (path semantics
    * then apply PER GRAPH; the pair relation carries a `pg` column and
    * every join/closure below adds it to its keys).
    */
  private[sparql] def scopedQuads(quads: DataFrame, graph: Option[Node]): DataFrame =
    graph match {
      case None => quads.filter(col("graph").isNull)
      case Some(Const(g)) => quads.filter(termEqFields("graph", g))
      case Some(Var(_)) => quads.filter(col("graph").isNotNull)
      case Some(QTriple(_, _, _)) => quads.limit(0) // graph label is never a triple
    }

  private[sparql] def pathGrouped(graph: Option[Node]): Boolean =
    graph.exists(_.isInstanceOf[Var])

  /** Evaluate a path expression to a (ps, po) pair relation — plus a
    * leading `pg` graph column when evaluating under `GRAPH ?var`.
    */
  private[sparql] def pathPairs(quads: DataFrame, graph: Option[Node],
      p: PathExpr): DataFrame = {
    val grouped = pathGrouped(graph)
    val pg: Seq[Column] = if (grouped) Seq(col("graph").as("pg")) else Seq.empty
    p match {
      case PLink(t) =>
        scopedQuads(quads, graph).filter(termEqFields("predicate", t))
          .select(pg ++ Seq(col("subject").as("ps"), col("obj").as("po")): _*)
      case PInv(i) =>
        val keep = if (grouped) Seq(col("pg")) else Seq.empty
        pathPairs(quads, graph, i)
          .select(keep ++ Seq(col("po").as("ps"), col("ps").as("po")): _*)
      case PSeq(l, r) =>
        val a = pathPairs(quads, graph, l).alias("l")
        val b = pathPairs(quads, graph, r).alias("r")
        val cond =
          if (grouped) col("l.po") <=> col("r.ps") && col("l.pg") <=> col("r.pg")
          else col("l.po") <=> col("r.ps")
        val keep = (if (grouped) Seq(col("l.pg").as("pg")) else Seq.empty) ++
          Seq(col("l.ps").as("ps"), col("r.po").as("po"))
        a.join(b, cond).select(keep: _*)
      case PAlt(l, r) =>
        // BAG union (§18.4 PathAlternative): a pair reachable through
        // both branches yields two solutions — only the closure forms
        // (+ * ?) carry the cardinality-1 rule
        pathPairs(quads, graph, l).unionByName(pathPairs(quads, graph, r))
      case PPlus(i) => closure(pathPairs(quads, graph, i), leafStep(i))
      case PStar(i) =>
        // the zero-length identity pairs ride INTO the closure: on the
        // dictionary-encoded path their union + dedup runs on 8-byte
        // ids inside the fixpoint scope instead of a struct-wide
        // distinct over the decoded closure (guide §2.3)
        closure(pathPairs(quads, graph, i), leafStep(i),
          zeroNodes = Some(identityNodes(quads, graph)))
      case POpt(i) =>
        pathPairs(quads, graph, i)
          .unionByName(identityPairs(quads, graph)).distinct()
      case PNeg(fwd, inv) =>
        val scoped = scopedQuads(quads, graph)
        def excluding(terms: Seq[Term]) =
          scoped.filter(!terms.map(termEqFields("predicate", _)).reduce(_ || _))
        val parts =
          (if (fwd.nonEmpty)
            Seq(excluding(fwd).select(
              pg ++ Seq(col("subject").as("ps"), col("obj").as("po")): _*))
          else Seq.empty) ++
          (if (inv.nonEmpty)
            Seq(excluding(inv).select(
              pg ++ Seq(col("obj").as("ps"), col("subject").as("po")): _*))
          else Seq.empty)
        parts.reduce(_.unionByName(_))
    }
  }

  /** Endpoint-seeded evaluation of a top-level `+`/`*` closure: when
    * one endpoint is a constant, the full-graph transitive closure is
    * the wrong plan — at scale it computes every reachable pair before
    * throwing almost all of them away. Instead run ALP the way §18.4
    * actually phrases it: breadth-first frontier expansion from the
    * seed over the path's ONE-STEP relation. Rounds = reachable
    * diameter from the seed (vs log2 of the whole graph's diameter for
    * the doubling closure), but every round joins only the frontier —
    * broadcast-sized — against the step relation, instead of
    * re-joining the full closure with itself. Under `GRAPH ?var` the
    * frontier carries the graph key, so all graphs expand in one loop.
    *
    * Returns None when no endpoint is constant or the path is not a
    * top-level closure — callers fall back to [[pathPairs]]. `*`'s
    * zero-length self-match is NOT added here; the caller's existing
    * constant-endpoint zero-length logic covers it.
    */
  private[sparql] def seededPathPairs(quads: DataFrame, graph: Option[Node],
      p: PathExpr, s: Node, o: Node): Option[DataFrame] = {
    val inner = p match {
      case PPlus(i) => Some(i)
      case PStar(i) => Some(i)
      case _ => None
    }
    inner.flatMap { i =>
      (s, o) match {
        case (Const(t), _) =>
          Some(seededClosure(pathPairs(quads, graph, i), t,
            pathGrouped(graph), forward = true))
        case (_, Const(t)) =>
          Some(seededClosure(pathPairs(quads, graph, i), t,
            pathGrouped(graph), forward = false))
        case _ => None
      }
    }
  }

  /** BFS fixpoint over `edges` from `seed`: all (seed, node) pairs
    * with a ≥1-step path, set semantics. `forward = false` evaluates
    * against the flipped relation and flips the result back (the
    * object-seeded case). Checkpoint hygiene mirrors [[closure]]:
    * per-round localCheckpoints, superseded rounds unpersisted
    * immediately, the parts registered with the caller's scope.
    */
  private[sparql] def seededClosure(edges: DataFrame, seed: Term,
      grouped: Boolean, forward: Boolean): DataFrame = {
    def pg(prefix: String = ""): Seq[Column] =
      if (grouped) Seq(col(s"${prefix}pg")) else Seq.empty
    // materialize the one-step relation ONCE, hash-partitioned on its
    // join key: every hop of every round joins against it, and without
    // the checkpoint each hop re-derives it from the source scan
    // (measured: 24 re-scans for a 6-round stride-4 loop — most of the
    // entry's wall time). localCheckpoint preserves the partitioning,
    // so each hop's join shuffles only the frontier side — the step
    // relation never moves again. Freed after the loop.
    val stepKey = pg() :+ col("ps")
    val step = (
      if (forward) edges
      else edges.select(pg() ++ Seq(col("po").as("ps"), col("ps").as("po")): _*)
    ).repartition(stepKey: _*).localCheckpoint()
    // each round's NEW nodes (pg?, po) become one checkpointed part —
    // the origin is always the seed, so parts hold nodes, not pairs.
    // The visited set is rebuilt per round as a fresh union over the
    // parts (the parts ARE the frontiers, nothing is recomputed).
    //
    // Checkpoint + rewrap: when a checkpointed plan references the same
    // LogicalRDD on both join sides (frontier and visited share
    // parts), analyzer dedup renames the output exprIds but
    // Dataset.checkpoint keeps the LogicalRDD's constraints on the OLD
    // ids — any later Union over it dies in rewriteConstraints with
    // "key not found" (verified on the 25-edge chain: output po#5L,
    // constraint isnotnull(po#4L)). Rebuilding the frame from the
    // pinned RDD drops the stale constraints; the ckpt handle is what
    // gets registered for unpersist.
    // the row count piggybacks on the checkpoint job via observe() —
    // one driver round-trip per round instead of two
    def ckpt(df: DataFrame): (DataFrame, DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
      (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), ck,
        obs.get("n").asInstanceOf[Long])
    }
    val (init, initCk, initN) = ckpt(step.filter(termEqFields("ps", seed))
      .select(pg() :+ col("po"): _*).distinct())
    var parts = List(init)
    var handles = List(initCk)
    var frontier = init
    var done = initN == 0
    // advance STRIDE edge-steps per materialized round: the chained
    // frontier joins stay frontier-sized, but fixpoint job overhead
    // (checkpoint + count per round) drops by the stride; the loop
    // still terminates exactly (an empty batch means even ONE more
    // step adds nothing, so the closure is complete)
    val stride = 4
    while (!done) {
      val cond =
        if (grouped) col("f.po") <=> col("e.ps") && col("f.pg") <=> col("e.pg")
        else col("f.po") <=> col("e.ps")
      val anti =
        if (grouped) col("n.po") <=> col("v.po") && col("n.pg") <=> col("v.pg")
        else col("n.po") <=> col("v.po")
      val visited = parts.reduce(_.unionByName(_))
      // distinct per hop: without it, path multiplicity compounds
      // across the chained joins (b^stride rows on branching graphs)
      def oneStep(f: DataFrame): DataFrame =
        f.alias("f").join(step.alias("e"), cond)
          .select(pg("e.").map(_.as("pg")) :+ col("e.po").as("po"): _*)
          .distinct()
      val hops = Iterator.iterate(oneStep(frontier))(oneStep)
        .take(stride).toSeq
      val (novel, novelCk, novelN) = ckpt(hops.reduce(_.unionByName(_))
        .distinct().alias("n")
        .join(visited.alias("v"), anti, "left_anti"))
      if (novelN == 0) {
        Checkpoints.unpersist(novelCk)
        done = true
      } else {
        parts ::= novel
        handles ::= novelCk
        frontier = novel
      }
    }
    // every part is materialized; nothing reads the step relation again
    Checkpoints.unpersist(step)
    handles.foreach(Checkpoints.register)
    val tl = Term.column(seed)
    val all = parts.reduce(_.unionByName(_))
    if (forward) all.select(pg() ++ Seq(tl.as("ps"), col("po")): _*)
    else all.select(pg() ++ Seq(col("po").as("ps"), tl.as("po")): _*)
  }

  /** Whether a path can match with LENGTH ZERO — `*`/`?` and
    * compositions that preserve the empty path. A zero-length path
    * matches a constant endpoint with ITSELF even when the term never
    * occurs in the graph (§18.4: ALP starts from the term, not from
    * the graph's node set).
    */
  private[sparql] def pathZeroLength(p: PathExpr): Boolean = p match {
    case PStar(_) | POpt(_) => true
    case PSeq(l, r) => pathZeroLength(l) && pathZeroLength(r)
    case PAlt(l, r) => pathZeroLength(l) || pathZeroLength(r)
    case PInv(i) => pathZeroLength(i)
    case _ => false
  }

  /** Raw (NOT deduplicated) node occurrences of the scoped graph —
    * columns (pg?, n). [[closure]] encodes and dedups these inside its
    * own scope; [[identityPairs]] wraps them for the struct path.
    */
  private[sparql] def identityNodes(quads: DataFrame, graph: Option[Node]): DataFrame = {
    val scoped = scopedQuads(quads, graph)
    if (pathGrouped(graph))
      scoped.select(col("graph").as("pg"), col("subject").as("n"))
        .unionByName(scoped.select(col("graph").as("pg"), col("obj").as("n")))
    else
      scoped.select(col("subject").as("n"))
        .unionByName(scoped.select(col("obj").as("n")))
  }

  /** Zero-length path: every node of the (scoped) graph to itself
    * (spec: all terms; restricted here to terms occurring as subject
    * or object, the practically queryable set). Under `GRAPH ?var`
    * the node set is per graph.
    */
  private[sparql] def identityPairs(quads: DataFrame, graph: Option[Node]): DataFrame = {
    val nodes = identityNodes(quads, graph).distinct()
    if (pathGrouped(graph))
      nodes.select(col("pg"), col("n").as("ps"), col("n").as("po"))
    else nodes.select(col("n").as("ps"), col("n").as("po"))
  }

  /** Whether a path's one-step relation is a bare scan shape
    * (filter+project over the quads — cheap to re-execute) as opposed
    * to containing joins/fixpoints of its own. Decides whether
    * [[closure]] materializes the relation before referencing it
    * several times (count gate, dictionary build, encode).
    */
  private def leafStep(p: PathExpr): Boolean = p match {
    case PLink(_) | PNeg(_, _) => true
    case PInv(i) => leafStep(i)
    case PAlt(l, r) => leafStep(l) && leafStep(r)
    case _ => false // PSeq (a join), nested closures, POpt (a distinct)
  }

  /** Distributed transitive closure by doubling: each round joins the
    * closure with itself, so diameter d needs ⌈log2 d⌉ rounds, every
    * round a fully-parallel join + distinct. The driver only CONTROLS
    * the loop (a count per round decides the fixpoint — an aggregate,
    * not a collect); `localCheckpoint` truncates the growing lineage
    * so round N's plan does not replay rounds 1..N-1. On a cluster the
    * same loop runs with a reliable checkpoint dir.
    *
    * Block-manager hygiene: each round's checkpoint is eagerly
    * materialized by its `count()`, so the SUPERSEDED round's blocks
    * are dead the moment the next round exists — they are unpersisted
    * immediately (at closure sizes proportional to the data, leaking
    * one copy per doubling round pins O(rounds × closure) storage for
    * the JVM lifetime). Only the fixpoint result stays pinned, because
    * the caller's plan still reads it; it is
    * [[Checkpoints.register]]ed for the caller's scope to free once
    * the query's result has been consumed.
    *
    * `zeroNodes`: raw (pg?, n) node occurrences whose identity pairs
    * (n, n) must JOIN the closure result — the `*`-path zero-length
    * component. On the encoded path they are deduplicated and unioned
    * as 8-byte ids inside the closure scope (their terms ride the same
    * dictionary, so the injectivity guarantee covers them), which
    * replaces the struct-wide distinct the caller previously ran over
    * the decoded closure.
    */
  private[sparql] def closure(edges0: DataFrame,
      cheapStep: Boolean = false,
      zeroNodes: Option[DataFrame] = None): DataFrame = {
    // a composite one-step relation (joins, nested closures) is
    // referenced several times below (count gate, dictionary, encode)
    // — materialize it once; a leaf step is a bare scan and re-reads
    // cheaper than it checkpoints
    val stepCk = if (cheapStep) None else Some(edges0.localCheckpoint())
    val edges = stepCk.getOrElse(edges0)
    // a `pg` column means per-graph closure (GRAPH ?var): the graph
    // simply joins along, so one fixpoint loop covers every graph in
    // parallel rather than looping per graph
    val grouped = edges.columns.contains("pg")
    // struct-path zero-length union (small relations and the hash-
    // collision fallback): the original union + distinct over term
    // structs
    def withZeroStruct(res: DataFrame): DataFrame = zeroNodes match {
      case None => res
      case Some(nodes) =>
        val zp =
          if (grouped) nodes.distinct()
            .select(col("pg"), col("n").as("ps"), col("n").as("po"))
          else nodes.distinct().select(col("n").as("ps"), col("n").as("po"))
        res.unionByName(zp).distinct()
    }
    // Pre-distinct edge count, COLUMN-PRUNED (count(1) lets Catalyst
    // drop the term-struct projections, so this is a near-free scan):
    // it only picks the plan shape below, a size-of-the-data test, not
    // a core-count tunable.
    val rawCount = edges.count()
    // Small relations run the fixpoint directly on the term structs —
    // the dictionary machinery below would cost more than it saves.
    // Large ones dictionary-encode to 8-byte ids before the fixpoint
    // (optimization guide §2.3 — shuffle keys, not payloads): every
    // doubling round joins and distincts a closure-sized relation, and
    // with four-field term structs (IRI lex strings) each round
    // shuffles ~10x the bytes the reachability question needs. Terms
    // hash to xxhash64 ids, the fixpoint runs on longs, and ONE decode
    // join at the end restores the structs — the struct edge set is
    // never materialized at all on this path. The hash is verified
    // INJECTIVE over this relation's term set first (the check rides
    // the dictionary build via observe); on the astronomically
    // unlikely collision the loop simply runs on the original structs,
    // so the result is exact either way, never probabilistic.
    def structLoop(): DataFrame = {
      val obs = org.apache.spark.sql.Observation()
      val first = edges.distinct()
        .observe(obs, count(lit(1)).as("n")).localCheckpoint()
      closureLoop(first, grouped, obs.get("n").asInstanceOf[Long])
    }
    val result = if (rawCount < 65536) withZeroStruct(structLoop())
    else {
      val termCols = (if (grouped) Seq("pg") else Seq.empty) ++ Seq("ps", "po")
      // zero-length nodes dedup ONCE (single-term structs — half the
      // bytes of the old pair-level identity distinct) and the
      // checkpointed result feeds BOTH the dictionary and the encoded
      // union below, so the scoped-quads scan and the distinct are
      // paid once, not per consumer
      val zeroDistinct = zeroNodes.map(nodes => Checkpoints.register(nodes
        .dropDuplicates((if (grouped) Seq("pg") else Seq.empty) :+ "n")
        .localCheckpoint()))
      // one exchange, one job: group raw term occurrences by their
      // hash id; the injectivity check (max distinct terms per id,
      // 1 = injective) rides the dictionary's checkpoint via observe.
      // Zero-length node terms (and, under GRAPH ?var, their graph
      // terms) join the dictionary sources so the check covers every
      // term the encoded union below compares.
      val zeroSources = zeroDistinct.toSeq.flatMap { nodes =>
        (if (grouped) Seq(nodes.select(col("pg").as("t"))) else Seq.empty) :+
          nodes.select(col("n").as("t"))
      }
      val dictObs = org.apache.spark.sql.Observation()
      val dict = (termCols.map(c => edges.select(col(c).as("t"))) ++ zeroSources)
        .reduce(_.unionByName(_))
        .groupBy(xxhash64(col("t")).as("tid"))
        .agg(org.apache.spark.sql.functions.first(col("t")).as("t"),
          countDistinct(col("t")).as("nd"))
        .observe(dictObs, max(col("nd")).as("maxNd"))
        .select(col("tid"), col("t"))
        .localCheckpoint()
      if (dictObs.get("maxNd").asInstanceOf[Long] != 1L) {
        Checkpoints.unpersist(dict)
        withZeroStruct(structLoop())
      } else {
        Checkpoints.register(dict)
        // encode + dedup + pre-partition in ONE exchange: the
        // (pg?, ps) repartition both satisfies dropDuplicates'
        // clustering and leaves round 1's build side exchange-free
        // (checkpoint preserves the partitioning)
        val encKeys = ((if (grouped) Seq("pg") else Seq.empty) :+ "ps").map(col)
        val encObs = org.apache.spark.sql.Observation()
        val encoded = edges.select(termCols.map(c => xxhash64(col(c)).as(c)): _*)
          .repartition(encKeys: _*)
          .dropDuplicates(termCols)
          .observe(encObs, count(lit(1)).as("n"))
          .localCheckpoint()
        val looped = closureLoop(encoded, grouped,
          encObs.get("n").asInstanceOf[Long])
        // zero-length union ON ENCODED IDS: the loop result is a set
        // and the encoded identity pairs are deduplicated, so the only
        // possible overlap is the loop's own self-pairs (cycles) — an
        // anti-join against just those replaces a full re-shuffle +
        // distinct of the closure (and the decode below is id→term
        // 1:1, so set-ness survives decoding)
        val merged = zeroDistinct match {
          case None => looped
          case Some(nodes) =>
            // already distinct structs + injective hash ⇒ distinct ids
            val zEnc = nodes.select(
              ((if (grouped) Seq(xxhash64(col("pg")).as("pg")) else Seq.empty) ++
                Seq(xxhash64(col("n")).as("ps"), xxhash64(col("n")).as("po"))): _*)
            val selfPairs = looped.filter(col("ps") === col("po"))
            val anti =
              if (grouped) col("z.pg") === col("c.pg") && col("z.ps") === col("c.ps")
              else col("z.ps") === col("c.ps")
            looped.unionByName(
              zEnc.alias("z").join(selfPairs.alias("c"), anti, "left_anti"))
        }
        termCols.foldLeft(merged) { (df, c) =>
          df.join(dict.select(col("tid").as(c), col("t").as(s"${c}_t")), Seq(c))
        }.select(termCols.map(c => col(s"${c}_t").as(c)): _*)
      }
    }
    // every consumer of the one-step relation has materialized
    stepCk.foreach(Checkpoints.unpersist(_))
    result
  }

  /** The doubling fixpoint itself, over whatever column types ride the
    * (pg?, ps, po) relation — longs on the encoded fast path, term
    * structs otherwise. `edges` must already be distinct and
    * localCheckpoint'd with `edgeCount` rows (the caller materialized
    * it once to pick the plan shape).
    */
  private def closureLoop(edges: DataFrame, grouped: Boolean,
      edgeCount: Long): DataFrame = {
    var cur = edges
    var size = edgeCount
    var fixed = false
    while (!fixed) {
      val cond =
        if (grouped) col("l.po") <=> col("r.ps") && col("l.pg") <=> col("r.pg")
        else col("l.po") <=> col("r.ps")
      val keep = (if (grouped) Seq(col("l.pg").as("pg")) else Seq.empty) ++
        Seq(col("l.ps").as("ps"), col("r.po").as("po"))
      // the fixpoint count piggybacks on the checkpoint job (observe):
      // one driver round-trip per round instead of two. Dedup runs as
      // dropDuplicates AFTER a (pg?, ps) repartition — that single
      // exchange both dedups (HashPartitioning(pg?, ps) satisfies the
      // (pg?, ps, po) clustering) and leaves each round partitioned on
      // the next round's build-side join key, so every round pays two
      // exchanges instead of three (guide §2.4; measured ~40% faster
      // per round).
      val obs = org.apache.spark.sql.Observation()
      val repartKeys = ((if (grouped) Seq("pg") else Seq.empty) :+ "ps").map(col)
      val dedupCols = (if (grouped) Seq("pg") else Seq.empty) ++ Seq("ps", "po")
      val next = cur.alias("l")
        .join(cur.alias("r"), cond)
        .select(keep: _*)
        .unionByName(cur)
        .repartition(repartKeys: _*)
        .dropDuplicates(dedupCols)
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      val n = obs.get("n").asInstanceOf[Long]
      if (n == size) { Checkpoints.unpersist(next); fixed = true }
      else { size = n; Checkpoints.unpersist(cur); cur = next }
    }
    Checkpoints.register(cur)
  }

  /** Kept for callers that predate [[Checkpoints.withScope]]. */
  def withClosureScope[T](f: => T): T = Checkpoints.withScope(f)
}

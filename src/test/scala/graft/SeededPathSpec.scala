package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Checkpoints
import graft.rdf.Term
import graft.sparql.Sparql

/** Path closures at sizes the small fixtures never reach: the seeded
  * (constant-endpoint) closure on a chain long enough to run many BFS
  * hops — the shape the scale entry uses — checked against the
  * unseeded doubling closure, on the driver and past the driver's cap
  * in the distributed loop, and the dictionary-encoded doubling
  * closure that one-step relations of 65 536+ edges take.
  */
class SeededPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val NS = "http://graft.test/"
  private val termType =
    "struct<termType:string,lex:string,datatype:string,lang:string>"

  private def chain(n: Int) = {
    def node(c: org.apache.spark.sql.Column) = struct(
      lit(Term.IRI).as("termType"),
      concat(lit(s"${NS}n/"), c.cast("string")).as("lex"),
      lit(null).cast("string").as("datatype"),
      lit(null).cast("string").as("lang"))
    spark.range(n.toLong)
      .select(
        lit(null).cast(termType).as("graph"),
        node(col("id")).as("subject"),
        struct(lit(Term.IRI).as("termType"), lit(s"${NS}next").as("lex"),
          lit(null).cast("string").as("datatype"),
          lit(null).cast("string").as("lang")).as("predicate"),
        node(col("id") + 1).as("obj"))
  }

  test("seeded + over a 25-edge chain reaches all successors") {
    val res = Checkpoints.withScope(Sparql.execute(chain(25),
        s"SELECT ?o { <${NS}n/0> <${NS}next>+ ?o }")
      .select(regexp_extract(col("o").getField("lex"), "n/(\\d+)$", 1)
        .cast("long").as("o"))
      .collect().map(_.getLong(0)).sorted)
    assert(res.toSeq == (1L to 25L))
  }

  test("seeded matches unseeded on random graphs (branching, cycles)") {
    val rnd = new scala.util.Random(7L)
    for (trial <- 0 until 6) Checkpoints.withScope {
      val n = 8 + rnd.nextInt(8)
      val edges = Seq.fill(12 + rnd.nextInt(10))(
        (rnd.nextInt(n), rnd.nextInt(n))).distinct
      def node(i: Int) = struct(
        lit(Term.IRI).as("termType"), lit(s"${NS}n/$i").as("lex"),
        lit(null).cast("string").as("datatype"),
        lit(null).cast("string").as("lang"))
      val q = edges.map { case (a, b) =>
        spark.range(1).select(
          lit(null).cast(termType).as("graph"),
          node(a).as("subject"),
          struct(lit(Term.IRI).as("termType"), lit(s"${NS}next").as("lex"),
            lit(null).cast("string").as("datatype"),
            lit(null).cast("string").as("lang")).as("predicate"),
          node(b).as("obj"))
      }.reduce(_.unionByName(_))
      val seedN = rnd.nextInt(n)
      for (op <- Seq("+", "*")) {
        val seeded = Sparql.execute(q,
            s"SELECT ?o { <${NS}n/$seedN> <${NS}next>$op ?o }")
          .select(col("o").getField("lex").as("l"))
          .collect().map(_.getString(0)).toSet
        val full = Sparql.execute(q, s"SELECT ?s ?o { ?s <${NS}next>$op ?o }")
          .filter(col("s").getField("lex") === s"${NS}n/$seedN")
          .select(col("o").getField("lex").as("l"))
          .collect().map(_.getString(0)).toSet
        assert(seeded == full, s"trial=$trial op=$op seed=$seedN edges=$edges")
      }
    }
  }

  test("seeded matches unseeded closure filtered to the seed") {
    Checkpoints.withScope {
      val q = chain(12)
      val seeded = Sparql.execute(q, s"SELECT ?o { <${NS}n/3> <${NS}next>+ ?o }")
        .select(col("o").getField("lex").as("l")).collect().map(_.getString(0)).toSet
      val full = Sparql.execute(q, s"SELECT ?s ?o { ?s <${NS}next>+ ?o }")
        .filter(col("s").getField("lex") === s"${NS}n/3")
        .select(col("o").getField("lex").as("l")).collect().map(_.getString(0)).toSet
      assert(seeded == full && seeded.size == 9)
    }
  }

  private val Next = s"<${NS}next>"
  private def n(i: Long) = s"<${NS}n/$i>"

  /** `n/s next n/o` for the (s, o) id pairs of `edges`: every edge in
    * the default graph and in named graph `g/0`, and the edges whose
    * source is not a multiple of 3 in `g/1` as well.
    */
  private def quadsOf(edges: DataFrame): DataFrame = {
    def iri(lex: Column) = Term.column(Term.IRI, lex)
    def node(id: Column) = iri(concat(lit(s"${NS}n/"), id.cast("string")))
    def in(graph: Column, e: DataFrame) = e.select(graph.as("graph"),
      node(col("s")).as("subject"), iri(lit(s"${NS}next")).as("predicate"),
      node(col("o")).as("obj"))
    in(lit(null).cast(termType), edges)
      .unionByName(in(iri(lit(s"${NS}g/0")), edges))
      .unionByName(in(iri(lit(s"${NS}g/1")), edges.filter(col("s") % 3 =!= 0)))
  }

  private def chainEdges = spark.range(25).select(col("id").as("s"), (col("id") + 1).as("o"))

  /** A binary tree under 0 with a cycle back to it (6 → 0) and a cross
    * edge (8 → 2).
    */
  private def branchingEdges = {
    val s = spark
    import s.implicits._
    Seq(0L -> 1L, 0L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 5L, 2L -> 6L, 3L -> 7L,
      4L -> 8L, 6L -> 0L, 8L -> 2L).toDF("s", "o")
  }

  /** A hub: 0 → 1..20 → 21 → 22. */
  private def hubEdges =
    spark.range(1, 21).select(lit(0L).as("s"), col("id").as("o"))
      .unionByName(spark.range(1, 21).select(col("id").as("s"), lit(21L).as("o")))
      .unionByName(spark.range(1).select(lit(21L).as("s"), lit(22L).as("o")))

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes)
    try body finally spark.conf.set(key, prev)
  }

  /** Every seeded shape — subject-seeded `+` and `*` from `k`,
    * object-seeded `+` into `t`, and `+` from `k` under `GRAPH ?g` — run
    * with the broadcast threshold at `bytes`: each equals the unseeded
    * closure filtered to its seed, each took the distributed loop (it
    * pins the parts of its visited set in the query's scope; the driver
    * BFS pins nothing), and nothing stays pinned after the scope.
    */
  private def handOff(edges: DataFrame, k: Long, t: Long, bytes: Long): Unit = {
    val q = quadsOf(edges)
    def rows(query: String, cols: String*): Set[Seq[String]] =
      Sparql.execute(q, query).select(cols.map(c => col(c).getField("lex")): _*)
        .collect().map(_.toSeq.map(_.toString)).toSet
    // the unseeded closures as (g?, s, x) lexical forms
    val (plus, star, graphPlus) = Checkpoints.withScope((
      rows(s"SELECT ?s ?x { ?s $Next+ ?x }", "s", "x"),
      rows(s"SELECT ?s ?x { ?s $Next* ?x }", "s", "x"),
      rows(s"SELECT ?g ?s ?x { GRAPH ?g { ?s $Next+ ?x } }", "g", "s", "x")))
    def lex(i: Long) = s"${NS}n/$i"
    val shapes = Seq(
      ("+", s"SELECT ?x { ${n(k)} $Next+ ?x }", Seq("x"),
        plus.collect { case Seq(s, x) if s == lex(k) => Seq(x) }),
      ("*", s"SELECT ?x { ${n(k)} $Next* ?x }", Seq("x"),
        star.collect { case Seq(s, x) if s == lex(k) => Seq(x) }),
      ("object +", s"SELECT ?x { ?x $Next+ ${n(t)} }", Seq("x"),
        plus.collect { case Seq(s, x) if x == lex(t) => Seq(s) }),
      ("GRAPH ?g +", s"SELECT ?g ?x { GRAPH ?g { ${n(k)} $Next+ ?x } }", Seq("g", "x"),
        graphPlus.collect { case Seq(g, s, x) if s == lex(k) => Seq(g, x) }))
    for ((shape, seeded, cols, expected) <- shapes) withClue(s"$shape: ") {
      val before = TestSpark.pinned()
      val (got, handedOff) = withThreshold(bytes)(Checkpoints.withScope {
        val got = rows(seeded, cols: _*)
        (got, (TestSpark.pinned() -- before).nonEmpty)
      })
      assert(expected.nonEmpty)
      assert(got == expected)
      assert(handedOff, "the distributed loop did not run")
      assert(TestSpark.awaitPinned(before) == before)
    }
  }

  // Spark estimates a node row at 8 bytes plus 20 per string field: 88
  // bytes, 168 under GRAPH ?var. So the driver BFS hands off partway
  // through: 1 800 bytes hold 20 nodes (10 under GRAPH ?var) of the
  // chain's 25, and 300 bytes hold 3 (1) of the tree's
  test("seeded closures hand off to the distributed loop past the cap: chain") {
    handOff(chainEdges, k = 0, t = 25, bytes = 1800)
  }

  test("seeded closures hand off to the distributed loop past the cap: branching, cyclic") {
    handOff(branchingEdges, k = 0, t = 2, bytes = 300)
  }

  test("seeded closures hand off to the distributed loop when the seed's first hop passes the cap") {
    // 880 bytes hold 10 nodes (5 under GRAPH ?var); the hub's first hop
    // reaches 20, in either direction
    handOff(hubEdges, k = 0, t = 21, bytes = 880)
  }

  test("seeded closures run the distributed loop from the seed when the threshold is -1") {
    handOff(branchingEdges, k = 1, t = 8, bytes = -1)
  }

  test("a seeded closure runs one Spark job per hop on the driver") {
    // a 5-level binary tree under 1: node i → 2i, 2i + 1
    val q = quadsOf(spark.range(2, 64).select((col("id") / 2).cast("long").as("s"),
      col("id").as("o")))
    val before = TestSpark.pinned()
    val (reached, jobs) = TestSpark.jobsOf(Checkpoints.withScope(
      Sparql.execute(q, s"SELECT ?x { ${n(1)} $Next+ ?x }").collect().length))
    assert(reached == 62)
    // one job materializes the step relation and one runs each of the
    // 6 hops (the last finds nothing); the local result reads with at
    // most one more (23 jobs when each BFS round ran in Spark)
    info(s"$jobs Spark jobs")
    assert(jobs <= 1 + 6 + 1, s"$jobs jobs")
    assert(TestSpark.awaitPinned(before) == before)
  }

  test("encoded closure: exact +/* counts over 66k edges, grouped and not, nothing pinned") {
    // 22 000 disjoint 3-edge chains c/0 → c/1 → c/2 → c/3: 66 000 edges
    // clear the 65 536-edge threshold of the dictionary-encoded path.
    // Per chain, `+` reaches 3 + 2 + 1 = 6 pairs and `*` adds the 4
    // zero-length pairs. The grouped copy splits chains over 2 graphs.
    val chains = 22000L
    def iri(c: org.apache.spark.sql.Column) = struct(
      lit(Term.IRI).as("termType"), c.as("lex"),
      lit(null).cast("string").as("datatype"),
      lit(null).cast("string").as("lang"))
    def node(k: org.apache.spark.sql.Column) =
      iri(concat(lit(s"${NS}c"), (col("id") / 3).cast("long").cast("string"),
        lit("/"), k.cast("string")))
    def quads(graph: org.apache.spark.sql.Column) = spark.range(chains * 3).select(
      graph.as("graph"), node(col("id") % 3).as("subject"),
      iri(lit(s"${NS}next")).as("predicate"), node(col("id") % 3 + 1).as("obj"))
    val plain = quads(lit(null).cast(termType))
    val named = quads(iri(concat(lit(s"${NS}g"),
      ((col("id") / 3).cast("long") % 2).cast("string"))))
    def lex(c: String) = col(c).getField("lex")
    def pairsOf(df: org.apache.spark.sql.DataFrame, chain: Long): Set[(String, String)] =
      df.filter(lex("s").startsWith(s"${NS}c$chain/"))
        .select(lex("s"), lex("o")).collect()
        .map(r => (r.getString(0).takeRight(1), r.getString(1).takeRight(1))).toSet
    val plus = Set("01", "02", "03", "12", "13", "23").map(p => (p.take(1), p.drop(1)))
    val star = plus ++ (0 to 3).map(k => (k.toString, k.toString))
    val before = TestSpark.pinned()
    Checkpoints.withScope {
      for ((op, expected) <- Seq("+" -> plus, "*" -> star)) {
        val res = Sparql.execute(plain, s"SELECT ?s ?o { ?s <${NS}next>$op ?o }")
        assert(res.count() == chains * expected.size, op)
        assert(pairsOf(res, 12345) == expected, op)
        val grouped = Sparql.execute(named,
          s"SELECT ?g ?s ?o { GRAPH ?g { ?s <${NS}next>$op ?o } }")
        assert(grouped.count() == chains * expected.size, op)
        assert(pairsOf(grouped, 777) == expected, op)
        assert(grouped.filter(lex("s").startsWith(s"${NS}c777/"))
          .select(lex("g")).distinct().collect().map(_.getString(0)).toSeq ==
          Seq(s"${NS}g1"), op)
      }
      // the struct loop pins one fixpoint per query (4 here); the
      // encoded branch also pins its dictionary and, for `*`, the
      // zero-length nodes (10)
      assert((TestSpark.pinned() -- before).size > 4, "encoded branch not taken")
    }
    assert(TestSpark.awaitPinned(before) == before)
  }
}

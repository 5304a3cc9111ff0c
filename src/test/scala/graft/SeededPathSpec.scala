package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Checkpoints
import graft.rdf.Term
import graft.sparql.Sparql

/** Path closures at sizes the small fixtures never reach: the seeded
  * (constant-endpoint) closure on a chain long enough to run many BFS
  * rounds — the shape the scale entry uses — checked against the
  * unseeded doubling closure, and the dictionary-encoded doubling
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

package graft.sparql

import org.scalatest.funsuite.AnyFunSuite

import graft.rdf.Term
import graft.sparql.Sparql._

/** The BGP join-order heuristic: most constant-bound pattern first,
  * then greedy connected expansion, disconnected components last,
  * author order as the deterministic tie-break, and runs never moved
  * across non-pattern group elements. Result-set invariance under
  * reordering is covered separately by the conformance suite and the
  * differential fuzzer (BGP join order is commutative); these tests
  * pin the ORDER the heuristic picks.
  */
class BgpReorderSpec extends AnyFunSuite {

  private def iri(s: String) = Const(Term.iri(s"http://x/$s"))
  private def v(s: String) = Var(s)
  private def tp(s: Node, p: Node, o: Node) = TriplePattern(None, s, p, o)

  test("constant-bound pattern moves first, chain follows connectivity") {
    // ?a knows ?b . ?b knows ?c . ?c name "X"  — the selective leaf
    // written last must lead, then expand back along the chain
    val p1 = tp(v("a"), iri("knows"), v("b"))
    val p2 = tp(v("b"), iri("knows"), v("c"))
    val p3 = tp(v("c"), iri("name"), iri("X"))
    assert(Sparql.reorderBgp(Seq(p1, p2, p3)) == Seq(p3, p2, p1))
  }

  test("ties keep author order (deterministic plans)") {
    val p1 = tp(v("a"), iri("p"), v("b"))
    val p2 = tp(v("a"), iri("q"), v("c"))
    assert(Sparql.reorderBgp(Seq(p1, p2)) == Seq(p1, p2))
  }

  test("disconnected component defers until its turn, never interleaves") {
    // star around ?s, plus an unrelated (?x, ?y) pattern written in the
    // middle: the cross join goes last
    val s1 = tp(iri("s"), iri("p"), v("o1"))
    val x = tp(v("x"), iri("z"), v("y"))
    val s2 = tp(v("o1"), iri("q"), v("o2"))
    assert(Sparql.reorderBgp(Seq(s1, x, s2)) == Seq(s1, s2, x))
  }

  test("blank-node labels are variables: they carry connectivity") {
    val b = Const(Term.blank("bn1"))
    val p1 = tp(v("a"), iri("p"), b)           // shares _:bn1
    val p2 = tp(b, iri("q"), iri("end"))       // constant object: leads
    val p3 = tp(v("a"), iri("r"), v("c"))
    val got = Sparql.reorderBgp(Seq(p1, p3, p2))
    assert(got.head == p2)                     // most constant-bound
    assert(got(1) == p1)                       // connected via _:bn1
    assert(got(2) == p3)                       // then via ?a
  }

  test("graph variable counts for connectivity, constant graph for score") {
    val g1 = TriplePattern(Some(v("g")), v("s"), iri("p"), v("o"))
    val g2 = TriplePattern(Some(iri("G")), v("s2"), iri("p"), iri("O"))
    assert(Sparql.reorderBgp(Seq(g1, g2)) == Seq(g2, g1))
  }

  test("property-path elements join the run: const-endpoint path leads") {
    val p1 = PatElem(tp(v("a"), iri("p"), v("b")))
    val path = PathElem(None, v("b"), PLink(Term.iri("http://x/q")), iri("End"))
    val got = Sparql.reorderBgpRuns(Seq(p1, path))
    assert(got == Seq(path, p1))
  }

  test("predicate census breaks same-class ties by cardinality; empty census keeps author order") {
    // both leaves are class-2 (constant predicate only): without stats
    // the author order holds; with a census the rare predicate leads,
    // and an absent predicate (complete census ⇒ zero rows) beats both
    val common = tp(v("s"), iri("common"), v("a"))
    val rare = tp(v("s"), iri("rare"), v("b"))
    val absent = tp(v("s"), iri("ghost"), v("c"))
    assert(Sparql.reorderBgp(Seq(common, rare)) == Seq(common, rare))
    val census = Map("http://x/common" -> 1000000L, "http://x/rare" -> 10L)
    assert(Sparql.reorderBgp(Seq(common, rare), census) == Seq(rare, common))
    assert(Sparql.reorderBgp(Seq(common, rare, absent), census) ==
      Seq(absent, rare, common))
    // stats NEVER promote a leaf across a boundedness class: the
    // constant-object leaf still leads over the rarest predicate
    val constObj = tp(v("s"), iri("common"), iri("K"))
    assert(Sparql.reorderBgp(Seq(rare, constObj), census).head == constObj)
  }

  test("census estimates path leaves: link/inverse/alternative/negated-set") {
    // two class-0 path leaves (variable endpoints): census decides
    val rareInv = PathElem(None, v("a"),
      PInv(PLink(Term.iri("http://x/rare"))), v("b"))
    val commonAlt = PathElem(None, v("a"),
      PAlt(PLink(Term.iri("http://x/common")), PLink(Term.iri("http://x/rare"))),
      v("c"))
    val census = Map("http://x/common" -> 1000000L, "http://x/rare" -> 10L)
    assert(Sparql.reorderBgpRuns(Seq(commonAlt, rareInv), census) ==
      Seq(rareInv, commonAlt))
    // negated set `!common` = total - common = 10 edges: beats the
    // alternative (1,000,010) but loses to the inverse link (10) only
    // by author order
    val neg = PathElem(None, v("a"),
      PNeg(Seq(Term.iri("http://x/common")), Seq.empty), v("d"))
    assert(Sparql.reorderBgpRuns(Seq(commonAlt, neg), census) ==
      Seq(neg, commonAlt))
    // a closure stays unknowable: the estimated leaf leads
    val closure = PathElem(None, v("a"),
      PPlus(PLink(Term.iri("http://x/rare"))), v("e"))
    assert(Sparql.reorderBgpRuns(Seq(closure, rareInv), census) ==
      Seq(rareInv, closure))
  }

  test("runs never cross OPTIONAL/BIND boundaries") {
    val p1 = PatElem(tp(v("a"), iri("p"), v("b")))
    val opt = OptElem(Group(Seq(PatElem(tp(v("a"), iri("q"), v("c"))))))
    val p2 = PatElem(tp(v("b"), iri("r"), iri("X")))
    val p3 = PatElem(tp(v("a"), iri("t"), v("d")))
    // p2/p3 reorder within their run after the OPTIONAL; p1 stays put
    assert(Sparql.reorderBgpRuns(Seq(p1, opt, p2, p3)) ==
      Seq(p1, opt, p2, p3))
    val p4 = PatElem(tp(v("d"), iri("u"), iri("Y")))
    assert(Sparql.reorderBgpRuns(Seq(p1, opt, p3, p4)) ==
      Seq(p1, opt, p4, p3))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._
import graft.rdf.Term
import graft.store.QuadStore

/** Differential SPARQL Update fuzzing: seeded random update scripts
  * executed BOTH through the real projector → QuadStoreSink path and
  * by a naive set-semantics evaluator written directly from §3.1–3.2
  * and §19.6 — final store states compared as quad sets. The authored
  * UpdateConformanceSpec is depth; this is generated breadth over the
  * places update engines actually break: dataset scoping (WITH vs
  * USING), delete-insert simultaneity on the pre-state, template
  * instantiation, graph management ops, and op sequencing within and
  * across requests.
  *
  * Blank nodes are deliberately excluded (freshness is pinned by the
  * authored suite; set comparison would need bijection). FUZZ_N
  * deepens the search; FUZZ_SEED shifts the space.
  */
class UpdateFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val N = sys.env.get("FUZZ_N").map(_.toInt / 10 max 40).getOrElse(40)
  private val SEED = sys.env.get("FUZZ_SEED").map(_.toLong).getOrElse(11L)

  private val CT_RU = "application/sparql-update"
  private val P = "PREFIX : <http://example/>\n"

  // --- model ---------------------------------------------------------------

  /** A quad in the naive state: graph None = default graph. */
  private type NQuad = (Option[String], String, String, String)

  private sealed trait Node
  private case class V(name: String) extends Node
  private case class C(t: String) extends Node // rendered token, e.g. ":s1"

  private case class TP(s: Node, p: Node, o: Node)

  private sealed trait Op
  private case class InsertData(quads: Seq[(Option[String], String, String, String)]) extends Op
  private case class DeleteData(quads: Seq[(Option[String], String, String, String)]) extends Op
  /** DELETE WHERE: pattern doubles as template; constant graph target. */
  private case class DeleteWhere(graph: Option[String], tps: Seq[TP]) extends Op
  /** DELETE { del } INSERT { ins } WHERE { where } with WITH/USING. */
  private case class Modify(withG: Option[String], usingG: Option[String],
      del: Seq[(Option[String], TP)], ins: Seq[(Option[String], TP)],
      where: Seq[TP]) extends Op
  private case class Clear(graph: Option[String]) extends Op  // None = DEFAULT
  private case class Drop(graph: Option[String]) extends Op
  private case class AddOp(from: Option[String], to: Option[String]) extends Op
  private case class CopyOp(from: Option[String], to: Option[String]) extends Op
  private case class MoveOp(from: Option[String], to: Option[String]) extends Op

  // --- rendering -----------------------------------------------------------

  private def nt(n: Node): String = n match {
    case V(v) => s"?$v"
    case C(t) => t
  }

  private def tpText(tp: TP): String = s"${nt(tp.s)} ${nt(tp.p)} ${nt(tp.o)} ."

  private def quadBlock(quads: Seq[(Option[String], String, String, String)]): String =
    quads.map {
      case (None, s, p, o) => s"$s $p $o ."
      case (Some(g), s, p, o) => s"GRAPH $g { $s $p $o . }"
    }.mkString(" ")

  private def tmplBlock(tmpl: Seq[(Option[String], TP)]): String =
    tmpl.map {
      case (None, tp) => tpText(tp)
      case (Some(g), tp) => s"GRAPH $g { ${tpText(tp)} }"
    }.mkString(" ")

  private def gName(g: Option[String]): String =
    g.fold("DEFAULT")(x => s"GRAPH $x")

  private def opText(op: Op): String = op match {
    case InsertData(qs) => s"INSERT DATA { ${quadBlock(qs)} }"
    case DeleteData(qs) => s"DELETE DATA { ${quadBlock(qs)} }"
    case DeleteWhere(None, tps) =>
      s"DELETE WHERE { ${tps.map(tpText).mkString(" ")} }"
    case DeleteWhere(Some(g), tps) =>
      s"DELETE WHERE { GRAPH $g { ${tps.map(tpText).mkString(" ")} } }"
    case Modify(withG, usingG, del, ins, where) =>
      val sb = new StringBuilder
      withG.foreach(g => sb.append(s"WITH $g "))
      if (del.nonEmpty) sb.append(s"DELETE { ${tmplBlock(del)} } ")
      if (ins.nonEmpty) sb.append(s"INSERT { ${tmplBlock(ins)} } ")
      usingG.foreach(g => sb.append(s"USING $g "))
      sb.append(s"WHERE { ${where.map(tpText).mkString(" ")} }")
      sb.toString
    case Clear(g) => s"CLEAR SILENT ${gName(g)}"
    case Drop(g) => s"DROP SILENT ${gName(g)}"
    case AddOp(f, t) => s"ADD SILENT ${gName(f)} TO ${gName(t)}"
    case CopyOp(f, t) => s"COPY SILENT ${gName(f)} TO ${gName(t)}"
    case MoveOp(f, t) => s"MOVE SILENT ${gName(f)} TO ${gName(t)}"
  }

  // --- naive evaluator (§3.1-3.2 over a quad set) --------------------------

  private type Sol = Map[String, String]

  private def matchTp(quads: Set[NQuad], dataset: Option[String], tp: TP,
      sol: Sol): Seq[Sol] = {
    def bind(n: Node, v: String, s: Sol): Option[Sol] = n match {
      case C(c) => if (c == v) Some(s) else None
      case V(x) => s.get(x) match {
        case Some(b) => if (b == v) Some(s) else None
        case None => Some(s + (x -> v))
      }
    }
    quads.toSeq.filter(_._1 == dataset).flatMap { case (_, s, p, o) =>
      for (s1 <- bind(tp.s, s, sol); s2 <- bind(tp.p, p, s1);
           s3 <- bind(tp.o, o, s2)) yield s3
    }
  }

  private def evalWhere(quads: Set[NQuad], dataset: Option[String],
      tps: Seq[TP]): Seq[Sol] =
    tps.foldLeft(Seq[Sol](Map.empty))((sols, tp) =>
      sols.flatMap(matchTp(quads, dataset, tp, _)))

  private def inst(n: Node, sol: Sol): Option[String] = n match {
    case C(c) => Some(c)
    case V(v) => sol.get(v)
  }

  /** §19.6: an instantiation that puts a literal in subject position
    * or a non-IRI in predicate position is ill-formed and produces no
    * quad (IRI tokens here always start with ':').
    */
  private def instTp(g: Option[String], tp: TP, sol: Sol): Option[NQuad] =
    for (s <- inst(tp.s, sol); p <- inst(tp.p, sol); o <- inst(tp.o, sol)
         if s.startsWith(":") && p.startsWith(":"))
      yield (g, s, p, o)

  private def applyNaive(state: Set[NQuad], op: Op): Set[NQuad] = op match {
    case InsertData(qs) =>
      state ++ qs.map { case (g, s, p, o) => (g, s, p, o) }
    case DeleteData(qs) =>
      state -- qs.map { case (g, s, p, o) => (g, s, p, o) }
    case DeleteWhere(g, tps) =>
      val sols = evalWhere(state, g, tps)
      state -- sols.flatMap(sol => tps.flatMap(instTp(g, _, sol)))
    case Modify(withG, usingG, del, ins, where) =>
      // §3.1.3: USING overrides WITH for the WHERE dataset; WITH is
      // the target for un-GRAPHed template quads
      val dataset = usingG.orElse(withG)
      val sols = evalWhere(state, dataset, where)
      val delQ = sols.flatMap(sol => del.flatMap { case (g, tp) =>
        instTp(g.orElse(withG), tp, sol) })
      val insQ = sols.flatMap(sol => ins.flatMap { case (g, tp) =>
        instTp(g.orElse(withG), tp, sol) })
      state -- delQ ++ insQ
    case Clear(g) => state.filterNot(_._1 == g)
    case Drop(g) => state.filterNot(_._1 == g)
    case AddOp(f, t) =>
      if (f == t) state
      else state ++ state.filter(_._1 == f).map(q => (t, q._2, q._3, q._4))
    case CopyOp(f, t) =>
      if (f == t) state
      else state.filterNot(_._1 == t) ++
        state.filter(_._1 == f).map(q => (t, q._2, q._3, q._4))
    case MoveOp(f, t) =>
      if (f == t) state
      else state.filterNot(q => q._1 == t || q._1 == f) ++
        state.filter(_._1 == f).map(q => (t, q._2, q._3, q._4))
  }

  // --- generation ----------------------------------------------------------

  private def gen(rnd: scala.util.Random): (Seq[String], Set[NQuad], Seq[Op]) = {
    val graphs = Seq(None, Some(":g0"), Some(":g1"))
    def someG(): Option[String] = graphs(rnd.nextInt(graphs.size))
    def namedG(): String = if (rnd.nextBoolean()) ":g0" else ":g1"
    def sub() = s":s${rnd.nextInt(3)}"
    def pred() = s":p${rnd.nextInt(2)}"
    def obj() = rnd.nextInt(4) match {
      case 0 => sub()
      case 1 => rnd.nextInt(3).toString
      case _ => "\"" + (if (rnd.nextBoolean()) "a" else "b") + "\""
    }
    def quad(): (Option[String], String, String, String) =
      (someG(), sub(), pred(), obj())

    val vars = Seq("x", "y", "z")
    def genTp(used: scala.collection.mutable.Set[String]): TP = {
      def node(pv: Double, mk: () => String): Node =
        if (rnd.nextDouble() < pv) {
          val v = vars(rnd.nextInt(vars.size)); used += v; V(v)
        } else C(mk())
      TP(node(0.6, sub _), node(0.3, pred _), node(0.6, obj _))
    }

    val initial = (0 until 4 + rnd.nextInt(6)).map(_ => quad()).toSet
    val ops = (0 until 2 + rnd.nextInt(3)).map { _ =>
      rnd.nextInt(9) match {
        case 0 => InsertData((0 until 1 + rnd.nextInt(3)).map(_ => quad()))
        case 1 => DeleteData((0 until 1 + rnd.nextInt(3)).map(_ => quad()))
        case 2 =>
          val used = scala.collection.mutable.Set[String]()
          DeleteWhere(someG(), Seq(genTp(used)))
        case 3 | 4 | 5 =>
          val used = scala.collection.mutable.Set[String]()
          val where = (0 until 1 + rnd.nextInt(2)).map(_ => genTp(used))
          // template nodes: constants or WHERE-bound vars only
          def tmplTp(): TP = {
            def node(mk: () => String): Node =
              if (used.nonEmpty && rnd.nextDouble() < 0.5)
                V(used.toSeq.sorted.apply(rnd.nextInt(used.size)))
              else C(mk())
            TP(node(sub _), node(pred _), node(obj _))
          }
          def tmpl(): Seq[(Option[String], TP)] =
            (0 until rnd.nextInt(2)).map(_ =>
              ((if (rnd.nextDouble() < 0.3) Some(namedG()) else None), tmplTp()))
          val (del, ins) = {
            val d = tmpl(); val i = tmpl()
            if (d.isEmpty && i.isEmpty)
              (Seq((Option.empty[String], tmplTp())), i)
            else (d, i)
          }
          val withG = if (rnd.nextDouble() < 0.4) Some(namedG()) else None
          val usingG = if (rnd.nextDouble() < 0.3) Some(namedG()) else None
          Modify(withG, usingG, del, ins, where)
        case 6 => if (rnd.nextBoolean()) Clear(someG()) else Drop(someG())
        case 7 => AddOp(someG(), someG())
        case _ => if (rnd.nextBoolean()) CopyOp(someG(), someG())
                  else MoveOp(someG(), someG())
      }
    }
    // requests: the seeding INSERT DATA, then each op as its own
    // request OR joined with ';' into one request (sequencing within
    // a transaction must behave identically)
    val seed = s"INSERT DATA { ${quadBlock(initial.toSeq)} }"
    val requests =
      if (rnd.nextBoolean()) seed +: ops.map(opText)
      else Seq(seed, ops.map(opText).mkString(" ;\n"))
    (requests, initial, ops)
  }

  // --- engine application --------------------------------------------------

  private def applyEngine(requests: Seq[String]): Set[NQuad] = {
    val store = new QuadStore(spark,
      Harness.scratchDir("updfuzz").toString)
    val evs = requests.zipWithIndex.map { case (body, i) =>
      Event("t", 0, i.toLong, Array.empty, (P + body).getBytes("UTF-8"),
        Map("Content-Type" -> CT_RU))
    }
    val p = new Projector(new MemoryEventSource(evs),
      new QuadStoreSink(spark, store))
    p.runToCompletion()
    store.quads().collect().map { r =>
      def term(i: Int): Option[String] = Option(r.getStruct(i)).map { s =>
        Term(s.getString(0), s.getString(1), s.getString(2), s.getString(3))
          .toNT.replace("<http://example/", ":").replace(">", "")
      }
      (term(0), term(1).get, term(2).get, term(3).get): NQuad
    }.toSet
  }

  /** Normalize naive tokens to the engine rendering: integers render
    * as typed literals in N-Triples.
    */
  private def canonNaive(qs: Set[NQuad]): Set[NQuad] = qs.map {
    case (g, s, p, o) =>
      def c(tok: String): String =
        if (tok.forall(_.isDigit)) // engine strips '>' in applyEngine
          "\"" + tok + "\"^^<http://www.w3.org/2001/XMLSchema#integer"
        else tok
      (g, s, p, c(o))
  }

  test(s"differential update: engine matches naive semantics on $N scripts") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var mutated = 0
    (0 until N).foreach { i =>
      if (failures.isEmpty) {
        val rnd = new scala.util.Random(SEED * 7919L + i)
        val (requests, initial, ops) = gen(rnd)
        val naiveRaw = ops.foldLeft(initial.map(identity[NQuad]))(applyNaive)
        if (naiveRaw != initial) mutated += 1
        val naive = canonNaive(naiveRaw)
        val engine =
          try applyEngine(requests)
          catch { case e: Exception =>
            failures += s"[$i] ENGINE ERROR ${e.getMessage}\n" +
              requests.mkString("\n---\n")
            Set.empty[NQuad]
          }
        if (failures.isEmpty && engine != naive) {
          failures += s"[$i] DIVERGENCE\n${requests.mkString("\n---\n")}\n" +
            s"naive-only: ${(naive -- engine).take(5)}\n" +
            s"engine-only: ${(engine -- naive).take(5)}"
        }
      }
    }
    if (failures.nonEmpty) fail(failures.head)
    // the generator must actually exercise state mutation, or a
    // trivially-green run means nothing
    assert(mutated >= N / 2, s"only $mutated/$N scripts changed state")
    info(s"$N scripts, $mutated changed state")
  }
}

package graft.connbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every input the engine sees comes from
  * here, and every expected answer is derived from the generator's own
  * parameters — never by asking the engine.
  */
object Gen {
  val NS = "http://bench.example/"
  val CT_NQUADS = "application/n-quads"
  val CT_PATCH = "application/rdf-patch"
  val XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

  /** Quads per event: U(1, 1000), the reference's docker-test shape. */
  val MaxQuadsPerEvent = 1000

  // --- backlog corpora ------------------------------------------------------

  /** A backlog of N-Quads events carrying a [[QueryGraph]]. `quads`
    * counts every emitted quad; `distinct` the ones a set-semantics
    * store keeps.
    */
  final case class Corpus(graph: QueryGraph, payloads: IndexedSeq[Array[Byte]],
      quads: Long, distinct: Long, bytes: Long)

  /** The graph's triples, each followed with probability `dupShare` by a
    * repeat of an earlier triple, cut into events of U(1,1000) quads.
    */
  def corpus(g: QueryGraph, seed: Long, dupShare: Double): Corpus = {
    val rng = new SplittableRandom(seed ^ 0xd0bL)
    val src = g.lines
    val lines = mutable.ArrayBuffer[String]()
    src.indices.foreach { i =>
      lines += src(i)
      if (i > 0 && rng.nextDouble() < dupShare) lines += src(rng.nextInt(i))
    }
    val payloads = eventsOf(lines.toIndexedSeq, rng)
    Corpus(g, payloads, lines.size.toLong, src.size.toLong, payloads.map(_.length.toLong).sum)
  }

  /** The same quads as one RDF Patch transaction (decode-layer probe). */
  def asPatch(nquads: Array[Byte]): Array[Byte] = {
    val lines = new String(nquads, UTF_8).split('\n').filter(_.nonEmpty)
    ("TX .\n" + lines.map("A " + _).mkString("\n") + "\nTC .\n").getBytes(UTF_8)
  }

  /** Split rendered lines into events of U(1,1000) lines. */
  def eventsOf(lines: IndexedSeq[String], rng: SplittableRandom): IndexedSeq[Array[Byte]] = {
    val out = mutable.ArrayBuffer[Array[Byte]]()
    var i = 0
    while (i < lines.size) {
      val n = 1 + rng.nextInt(MaxQuadsPerEvent)
      out += lines.slice(i, i + n).mkString("", "\n", "\n").getBytes(UTF_8)
      i += n
    }
    out.toIndexedSeq
  }

  // --- query graph ---------------------------------------------------------

  val Classes = 16
  /** `knows` forms a complete binary tree inside each cluster. */
  val ClusterSize = 31

  def node(n: Int): String = s"${NS}n/$n"
  def cls(c: Int): String = s"${NS}C$c"
  val Type = NS + "type"
  val Name = NS + "name"
  val Age = NS + "age"
  val Knows = NS + "knows"

  /** A static graph in the default graph: every node has a class, a
    * name and an age; `knows` edges make a binary tree per cluster.
    */
  final class QueryGraph(seed: Long, val clusters: Int) {
    val nodes: Int = clusters * ClusterSize
    private val rng = new SplittableRandom(seed ^ 0x5eedL)
    val classOf: Array[Int] = Array.fill(nodes)(rng.nextInt(Classes))
    val ageOf: Array[Int] = Array.fill(nodes)(18 + rng.nextInt(63))

    def children(n: Int): Seq[Int] = {
      val base = n - n % ClusterSize
      val local = n % ClusterSize
      Seq(2 * local + 1, 2 * local + 2).filter(_ < ClusterSize).map(base + _)
    }

    def lines: IndexedSeq[String] = (0 until nodes).flatMap { n =>
      val s = s"<${node(n)}>"
      Seq(s"$s <$Type> <${cls(classOf(n))}> .",
        s"$s <$Name> \"node $n\" .",
        s"$s <$Age> \"${ageOf(n)}\"^^<$XSD_INT> .") ++
        children(n).map(c => s"$s <$Knows> <${node(c)}> .")
    }

    def tripleCount: Long = nodes.toLong * 3 + clusters.toLong * (ClusterSize - 1)

    /** Nodes reachable from `n` by one or more `knows` edges. */
    def descendants(n: Int): Set[Int] = {
      val out = mutable.Set[Int]()
      var frontier = children(n)
      while (frontier.nonEmpty) {
        out ++= frontier
        frontier = frontier.flatMap(children)
      }
      out.toSet
    }

    def starMembers(c: Int, age: Int): Set[Int] =
      (0 until nodes).filter(n => classOf(n) == c && ageOf(n) == age).toSet

    def classCounts: Map[Int, Int] = classOf.groupBy(identity).view.mapValues(_.length).toMap
  }

  // --- live_mixed events ---------------------------------------------------

  final case class LiveQuad(id: Long) {
    def s: String = s"${NS}live/s/$id"
    def p: String = s"${NS}live/p/${id % 5}"
    def o: String = s"x$id"
    def g: String = s"${NS}live/g/${id % 3}"
    def nq: String = s"<$s> <$p> \"$o\" <$g> ."
  }

  /** Small add events and TX…TC patches with deletes, in a fixed order
    * per seed. [[model]] is the live state after every event so far.
    */
  final class LiveGen(seed: Long) {
    private val rng = new SplittableRandom(seed ^ 0x11feL)
    private var fresh = 0L
    private val live = mutable.ArrayBuffer[Long]()
    private def add(): LiveQuad = { val q = LiveQuad(fresh); fresh += 1; live += q.id; q }
    private def delete(): LiveQuad = {
      val i = rng.nextInt(live.size)
      val id = live(i)
      live(i) = live.last
      live.remove(live.size - 1)
      LiveQuad(id)
    }

    /** Payload and content type of the next event: 6 added quads, or
      * (every third event) a TX…TC patch adding 3 and deleting 2.
      */
    def next(index: Long): (Array[Byte], String) =
      if (index % 3 == 2 && live.size >= 2) {
        val dels = Seq.fill(2)(delete())
        val adds = Seq.fill(3)(add())
        val body = (Seq("TX .") ++ dels.map("D " + _.nq) ++ adds.map("A " + _.nq) :+ "TC .")
          .mkString("", "\n", "\n")
        (body.getBytes(UTF_8), CT_PATCH)
      } else {
        val qs = Seq.fill(6)(add())
        (qs.map(_.nq).mkString("", "\n", "\n").getBytes(UTF_8), CT_NQUADS)
      }

    def model: Set[LiveQuad] = live.iterator.map(LiveQuad(_)).toSet
  }
}

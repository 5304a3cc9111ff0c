package graft.rdf

import scala.collection.mutable.ArrayBuffer

/** RDF Patch parser (reference fixture patch1.rdfp; op semantics per
  * RDFChangesApplyExternalTransaction.java:22-41).
  *
  * Grammar (line-oriented): `H <key> <term> .` header, `TX .`/`TC .`/
  * `TA .` transaction markers, `A s p o [g] .` add, `D s p o [g] .`
  * delete, `PA "prefix" <iri> [g] .` / `PD "prefix" [g] .` prefix ops.
  *
  * Note: nested `TX` (the malformed.rdfp fixture) parses fine — it is
  * an APPLY-time failure (abort + DLQ), not a deserialization failure,
  * matching the reference's two failure classes
  * (FusekiProjector.java:258-277).
  */
object RdfPatchParser {

  def parse(doc: String): Seq[PatchOp] = {
    val out = ArrayBuffer[PatchOp]()
    var lineNo = 0
    var start = 0
    val n = doc.length
    while (start <= n) {
      val nl = doc.indexOf('\n', start)
      val end = if (nl < 0) n else nl
      lineNo += 1
      if (end > start) parseLine(doc, start, end, lineNo, out)
      start = end + 1
      if (nl < 0) start = n + 1
    }
    out.toSeq
  }

  private def parseLine(doc: String, from: Int, to: Int, lineNo: Int,
                        out: ArrayBuffer[PatchOp]): Unit = {
    val s = new NQuadsParser.Scanner(doc, from, to, lineNo)
    s.skipWs()
    if (s.atEnd || s.peek == '#') return
    val opStart = s.pos
    while (!s.atEnd && s.peek.isLetter) s.advance()
    val op = doc.substring(opStart, s.pos)
    op match {
      case "TX" | "TC" | "TA" =>
        expectDot(s)
        out += PatchOp(op, null, null, null, null)
      case "H" =>
        s.skipWs()
        // header key is a bare word (e.g. `id`), value any term
        val kStart = s.pos
        while (!s.atEnd && s.peek != ' ' && s.peek != '\t') s.advance()
        val key = doc.substring(kStart, s.pos)
        val v = s.term()
        expectDot(s)
        // carried as subject=key-literal, obj=value for observability
        out += PatchOp("H", null, Term.lit(key), null, v)
      case "A" | "D" =>
        val subj = s.term()
        val pred = s.term()
        val obj = s.term()
        s.skipWs()
        var g: Term = null
        if (!s.atEnd && s.peek != '.') g = s.term()
        expectDot(s)
        out += PatchOp(op, g, subj, pred, obj)
      case "PA" =>
        val p = s.term()
        val iri = s.term()
        s.skipWs()
        var g: Term = null
        if (!s.atEnd && s.peek != '.') g = s.term()
        expectDot(s)
        out += PatchOp("PA", g, p, null, iri)
      case "PD" =>
        val p = s.term()
        s.skipWs()
        var g: Term = null
        if (!s.atEnd && s.peek != '.') g = s.term()
        expectDot(s)
        out += PatchOp("PD", g, p, null, null)
      case other =>
        s.fail(s"unknown patch op '$other'")
    }
  }

  private def expectDot(s: NQuadsParser.Scanner): Unit = {
    s.skipWs()
    if (s.atEnd || s.peek != '.') s.fail("missing '.' terminator")
    s.advance()
  }

  /** What the patch-transaction machine carries from one event to the
    * next: the batch index of the event that opened the live patch
    * transaction (-1: none), and whether the last marker closed a
    * transaction — the event then left the dataset outside any
    * transaction, which triggers the projector's commit
    * (`isPatch() && !dataset.isInTransaction()`,
    * FusekiProjector.java:408-412).
    */
  final case class TxnState(openedBy: Int = -1, closed: Boolean = false) {
    def open: Boolean = openedBy >= 0
  }

  /** The patch-transaction machine: one transition over `eventOps` (one
    * op seq per event, the first at batch index `first`) from the
    * carried state `from`. A patch transaction may span events
    * (RDFChangesApplyExternalTransaction.java:10-42;
    * TestFusekiProjector.java:200-232):
    *
    *  - `A`/`D`/`PA`/`PD` take effect at once outside a patch
    *    transaction and are held inside one;
    *  - `TC` releases the held ops; with no patch transaction open it
    *    commits the projector's enclosing one, which is valid (the
    *    reference's PatchThatCommitsTheTransaction case);
    *  - `TA` drops the held ops, whichever event they came from; with
    *    no patch transaction open it has nothing to abort and throws;
    *  - `TX` over a transaction carried from an earlier event releases
    *    it (the external-transaction commit) and opens its own; a `TX`
    *    inside a transaction its own event opened is the malformed
    *    nesting of malformed.rdfp and throws;
    *  - a transaction still open after the last event releases its ops
    *    there: whatever commits next closes it (the reference's
    *    PatchThatLeavesTransactionOpen case). The returned state marks
    *    it open; the ops it held are already in the output.
    *
    * Returns each event's effective ops in order (`H` and markers
    * dropped) and the state after the last event; throws
    * [[RdfParseException]] on bad nesting.
    */
  def dataOpsBatch(eventOps: Seq[Seq[PatchOp]], from: TxnState = TxnState(),
      first: Int = 0): (Seq[Seq[PatchOp]], TxnState) = {
    val out = Vector.fill(eventOps.size)(ArrayBuffer[PatchOp]())
    val held = ArrayBuffer[(Int, PatchOp)]()
    var openedBy = from.openedBy
    var closed = from.closed
    def release(): Unit = {
      held.foreach { case (i, o) => out(i) += o }
      held.clear()
    }
    eventOps.iterator.zipWithIndex.foreach { case (ops, i) =>
      ops.foreach { o =>
        o.op match {
          case "TX" =>
            if (openedBy == first + i)
              throw new RdfParseException("TX inside an open patch transaction")
            release()
            openedBy = first + i; closed = false
          case "TC" =>
            release()
            openedBy = -1; closed = true
          case "TA" =>
            if (openedBy < 0)
              throw new RdfParseException("TA without open patch transaction")
            held.clear()
            openedBy = -1; closed = true
          case "H" => ()
          case _ => if (openedBy >= 0) held += ((i, o)) else out(i) += o
        }
      }
    }
    release()
    (out.map(_.toSeq), TxnState(openedBy, closed))
  }
}

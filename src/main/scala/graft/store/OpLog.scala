package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, InSet}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.rdf.{Quad, Term}

/** The op-row format every store writer and reader shares: rows of
  * (op A|D, seq, graph, subject, predicate, obj), where `seq` orders
  * the ops of one committed segment and the latest op per quad wins
  * (RDF set semantics — README.md:148-150: "regardless of the order of
  * event application the dataset will eventually reach the same
  * state"). This object owns the four decisions of that format:
  *  - packing: `seq` = (event ordinal << [[OpBits]]) | op index, with
  *    one per-event op budget;
  *  - lowering: decoded dataset events → op rows, in one columnar pass;
  *  - fold: a log → its latest op per quad (`last_op`);
  *  - overlay: a folded log applied over a base state.
  * The fold and the overlay come twice: as Spark plans over committed
  * segments, and on the driver for ops it already holds ([[Fold]]).
  */
object OpLog {
  /** An op row as a case class, for driver-side buffers and tests. */
  final case class OpRow(op: String, seq: Long,
      graph: Term, subject: Term, predicate: Term, obj: Term)

  val OP_COLUMNS: Seq[String] = Seq("op", "seq") ++ Quad.Columns

  /** The fixed schema of every epoch segment, whichever commit wrote it
    * — passed explicitly on every segment read so no read pays per-call
    * footer-based inference.
    */
  val OP_SCHEMA: StructType =
    StructType(Seq(StructField("op", StringType), StructField("seq", LongType)) ++ Quad.Schema)

  /** `r` as the internal row an [[OP_SCHEMA]] segment file holds. */
  def row(r: OpRow): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(r.op), r.seq,
      Term.row(r.graph), Term.row(r.subject), Term.row(r.predicate), Term.row(r.obj)))

  // --- packing --------------------------------------------------------------

  /** Bits of `seq` holding the op index within one event. */
  val OpBits = 24

  /** Per-event op budget: an op index at or past it would bleed into
    * the event bits and silently reorder a later event's ops.
    */
  val MaxEventOps: Long = 1L << OpBits

  /** Event ordinals at or past this overflow the sign bit of `seq`. */
  val MaxEventOrdinal: Long = 1L << (63 - OpBits)

  def seq(event: Long, op: Long): Long = (event << OpBits) | op

  /** Why `ops` ops of one event cannot take ordinals, or None. */
  def overBudget(ops: Long): Option[String] =
    if (ops < MaxEventOps) None
    else Some(s"$ops ops, past the per-event ordinal budget ($MaxEventOps) " +
      "— split them across events")

  // --- lowering -------------------------------------------------------------

  /** Why an event at ordinal `ord` cannot pack into `seq`, or None. */
  def unfit(ord: Long): Option[String] =
    if (ord < MaxEventOrdinal) None
    else Some(s"event ordinal $ord does not fit the op-log packing (< $MaxEventOrdinal)")

  /** [[overBudget]] and [[unfit]] of a decoded dataset event as a
    * column, null when it packs: the `_corrupt` reason that routes it
    * to the DLQ instead of wrapping its ordinals.
    */
  def unpackable(ord: Column): Column = {
    val n = size(col("quads"))
    when(n >= MaxEventOps, concat(lit("event holds "), n.cast("string"),
        lit(s" ops, past the per-event ordinal budget ($MaxEventOps)")))
      .when(ord >= MaxEventOrdinal, concat(lit("event ordinal "), ord.cast("string"),
        lit(s" does not fit the op-log packing (< $MaxEventOrdinal)")))
  }

  /** Lower decoded dataset events ([[graft.rdf.RdfParse.decodeEvents]])
    * to op rows: each event's quads as adds, in document order, at
    * ordinal `ord` (a partition offset, or an index within one batch).
    * Patch and update events lower on the driver ([[graft.connect.QuadStoreSink]]).
    */
  def lower(decoded: DataFrame, ord: Column): DataFrame =
    // `ord` evaluates once per event: beside a generator it would run
    // once per op
    decoded.select(ord.as("ord"), col("quads"))
      .select(col("ord"), posexplode(col("quads")).as(Seq("qi", "q")))
      .select(lit("A").as("op") +:
        shiftleft(col("ord"), OpBits).bitwiseOR(col("qi")).as("seq") +:
        Quad.Columns.map(c => col(s"q.$c").as(c)): _*)

  // --- fold and overlay -----------------------------------------------------

  /** Latest op per quad of an op log, as (quad columns, last_op). An
    * adds-only log degenerates to DISTINCT — no order column, no
    * max_by, no op bytes through the exchange; otherwise the log
    * carries its order in `order` (lexicographic when a struct, so a
    * segment's (ord, seq) pair never overflows).
    */
  def tailState(log: DataFrame, addsOnly: Boolean, order: String = "gseq"): DataFrame =
    if (addsOnly)
      log.select(Quad.Columns.map(col): _*).dropDuplicates(Quad.Columns)
        .withColumn("last_op", lit("A"))
    else log.groupBy(Quad.Columns.map(col): _*)
      .agg(max_by(col("op"), col(order)).as("last_op"))

  /** Quads a folded log leaves present. */
  def live(state: DataFrame): DataFrame =
    state.filter(col("last_op") === "A").select(Quad.Columns.map(col): _*)

  /** `base` minus every quad `tail` touched, plus the quads `tail`
    * leaves present. Keys compare null-safe: the default graph is a
    * null `graph`, and a plain equality never matches null to null.
    */
  def overlay(base: DataFrame, tail: DataFrame): DataFrame = {
    val cond = Quad.Columns.map(c => col(s"b.$c") <=> col(s"t.$c")).reduce(_ && _)
    base.alias("b")
      .join(tail.select(Quad.Columns.map(col): _*).alias("t"), cond, "left_anti")
      .unionByName(live(tail))
  }

  // --- driver fold ----------------------------------------------------------

  /** A log folded on the driver: each quad it touched → its latest op
    * (A|D) — [[tailState]]'s answer for ops the driver already holds,
    * at no Spark job.
    */
  type Fold = Map[Quad, String]

  /** `prior` with one more segment folded in — the segment's ops follow
    * every earlier segment's, and within it a higher `seq` wins — or
    * None as soon as the fold holds more than `cap` quads.
    */
  def fold(prior: Fold, segment: Seq[OpRow], cap: Long): Option[Fold] = {
    var m = prior
    val it = segment.sortBy(_.seq).iterator
    while (m.size <= cap && it.hasNext) {
      val r = it.next()
      m = m.updated(Quad(r.graph, r.subject, r.predicate, r.obj), r.op)
    }
    Some(m).filter(_.size <= cap)
  }

  /** The most quads a fold may hold and still serve reads from the
    * driver: [[bridge.broadcastRows]] of op rows (-1, never, when the
    * broadcast threshold is ≤ 0).
    */
  def driverFoldCap(spark: SparkSession): Long = bridge.broadcastRows(spark, OP_SCHEMA)

  /** [[overlay]] of a driver fold over `base`, or its [[live]] quads
    * alone with no base. The base loses every quad the fold touched
    * through an in-set filter, not a join: an anti-join against a local
    * relation still runs one broadcast job per query. The quads the
    * fold leaves present union in as a local relation. Struct ordering
    * compares null fields as equal, so the default graph (a null
    * `graph`) matches like `<=>`.
    */
  def overlayFold(spark: SparkSession, base: Option[DataFrame], fold: Fold): DataFrame = {
    val live = spark.createDataFrame(fold.collect { case (q, "A") => q }.toSeq)
    base.fold(live) { b =>
      val touched = InSet(bridge.expression(struct(Quad.Columns.map(col): _*)),
        fold.keySet.map[Any](Quad.row))
      b.filter(!bridge.column(touched)).unionByName(live)
    }
  }
}

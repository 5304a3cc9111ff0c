package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.rdf.{PatchOp, Quad}

/** Parquet-backed quad store with RDF set semantics — the engine's
  * `DatasetGraph` replacement (SURVEY.md §7 phase 2; reference
  * semantics: README.md:148-150 "the set semantics of RDF means
  * regardless of the order of event application the dataset will
  * eventually reach the same state").
  *
  * Layout: an LSM-ish op log. Each committed micro-batch writes one
  * immutable parquet segment of (op A|D, seq, graph, subject,
  * predicate, obj) rows, then atomically swings the `_version` pointer
  * file ([[StateFile.replace]], like every state file here). A batch
  * whose ops the driver holds ([[commitRows]]) writes its segment as
  * one file from the calling thread, with no Spark job; a DataFrame
  * batch ([[commitOps]]) writes it with a Spark job. Readers
  * list only committed segments, so a crash mid-write is invisible (the
  * reference gets the same from DatasetGraph transactions,
  * FusekiProjector.java:484-490/514-573).
  *
  * State = latest-op-per-quad-wins over the committed log:
  *   add then delete  → absent;  delete then re-add → present.
  * This makes delete-bearing ingestion ORDER-INSENSITIVE across
  * parallel partitions as long as `seq` encodes the event order
  * (partition, offset, intra-event op index) — a stronger contract
  * than the reference's single-partition requirement (README.md:152-153)
  * because the merge is associative.
  *
  * 100 TB posture:
  *  - ALL committed segments are read in ONE `spark.read.parquet(paths*)`
  *    call; the commit ordinal is embedded in the segment directory name
  *    (`s<ord>-…`) and recovered via `input_file_name()`, so plan size
  *    and driver work stay FLAT in the number of committed epochs.
  *  - [[compact]] folds the log into a deduplicated `base` laid out as
  *    `numBuckets` HASH-BUCKET partitions (`bucket=k` directories,
  *    k = pmod(hash(graph,subject,predicate,obj), numBuckets)). After
  *    compaction, reads are merge-on-read, the base NEVER re-shuffled,
  *    and with an empty tail `quads()` is a bare scan of the base. The
  *    tail reaches [[quads]] by one of two paths:
  *    - driver fold: a commit whose ops the driver holds
  *      ([[commitRows]]) folds them, once, into the tail's latest op
  *      per quad ([[OpLog.fold]]), kept beside the version it belongs
  *      to. Reads filter the base by it and union its live quads as a
  *      local relation: no tail segment is scanned and no fold runs per
  *      query. The fold stays on the driver only while Spark's size
  *      estimate for it is under `spark.sql.autoBroadcastJoinThreshold`
  *      ([[OpLog.driverFoldCap]]);
  *    - segment fold: otherwise — after a [[commitOps]] of a DataFrame,
  *      a replayed epoch, past that bound, or on a store opened over an
  *      existing tail — the tail segments are read and aggregated (one
  *      small shuffle) and anti-joined against the base, until
  *      [[compact]] empties the tail. [[quadsAt]] and [[changes]]
  *      always take this path; [[count]] follows [[quads]].
  *  - A RE-compaction rewrites ONLY the buckets the tail touched: the
  *    new base segment's name records which buckets it owns
  *    (`s<ord>-base-k3_7`), later segments supersede earlier ones per
  *    bucket, and untouched buckets keep serving from their old files.
  *    At 100 TB this is the difference between an O(base) and an
  *    O(delta) compaction. Ownership lives in the segment NAME (not
  *    directory listings) so a bucket whose quads were all deleted
  *    still transfers — an empty bucket cannot resurrect from an older
  *    base. Superseded bucket files linger (never read) until [[gc]]
  *    removes them.
  *  - Compaction records a high-water batchId in the version file;
  *    [[commitOps]] drops replayed epochs at or below it, so epoch
  *    replay stays idempotent even across compactions.
  *
  * The op-row format itself — `seq` packing, event lowering, the
  * latest-op fold and the base overlay — lives in [[OpLog]].
  *
  * @param autoCompactTail fold the tail into the bucketed base
  *   whenever the committed tail reaches this many epoch segments
  *   (0 = manual [[compact]] only). Without a bound, merge-on-read
  *   cost grows with every epoch — at 100 TB the tail MUST be folded
  *   continuously, and compaction cost tracks the delta (only touched
  *   buckets rewrite), so a small threshold amortizes to O(delta) per
  *   epoch. Old files stay on disk until [[gc]], so in-flight lazy
  *   plans are unaffected.
  */
final class QuadStore(spark: SparkSession, path: String, numBuckets: Int = 16,
    autoCompactTail: Int = 0) {
  import QuadStore._
  import OpLog.{OpRow, OP_COLUMNS, OP_SCHEMA}

  private val dir = Paths.get(path)
  Files.createDirectories(dir)

  // --- version pointer ------------------------------------------------------

  private def versionFile = dir.resolve("_version")

  private case class Version(segments: Seq[SegRef], highWater: Long)

  private def readVersion(): Version =
    StateFile.read(versionFile).fold(Version(Seq.empty, -1L)) { text =>
      val lines = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      val hw = lines.collectFirst { case l if l.startsWith("#hw:") => l.drop(4).toLong }
        .getOrElse(-1L)
      Version(lines.filterNot(_.startsWith("#")).map(SegRef.parse), hw)
    }

  /** The published driver fold; a reader whose version does not list
    * the same segments reads segments instead.
    */
  @volatile private var tailFold: Option[TailFold] = None

  /** Committed segment names in commit order (tests/introspection). */
  def committedSegments(): Seq[String] = readVersion().segments.map(_.name)

  /** Serializes every pointer read-modify-write ([[commitOps]],
    * [[compact]], [[gc]], [[updatePrefixes]]) and, via
    * [[graft.connect.BatchSink.exclusively]], the surrounding
    * allocate-id-then-commit sections of concurrent IN-PROCESS writers
    * (a connector poll thread and HTTP mutation threads share one
    * store in [[graft.server.GraftServer]]). Without it, interleaved
    * readVersion/writeVersion drops the other writer's segment from
    * the pointer, and a stale batch-id read makes one writer
    * copy-on-write-"replay" over the other's fresh epoch. CROSS-process
    * writers remain out of scope (one driver owns a store directory —
    * Spark's own deployment model).
    */
  private[graft] val writeLock = new Object

  /** Latest committed batch id: the un-compacted tail's max or the
    * compaction high-water, -1 for an empty store — the "as of now"
    * point for [[AggView]]-style consumers.
    */
  def currentBatchId: Long = {
    val v = readVersion()
    (v.segments.flatMap(_.batchId) :+ v.highWater).max
  }

  /** One past committed history: the id a FRESH writer (projector
    * restart, HTTP mutation) must append under, so it never replays
    * over an earlier run's segment. Read it under [[writeLock]] (via
    * `BatchSink.exclusively`) when other writers may be live.
    */
  def nextBatchId: Long = currentBatchId + 1

  /** Replayed-epoch cutoff: batchIds at or below this were folded into
    * the base by [[compact]] and must not be re-applied.
    */
  def highWaterBatchId: Long = readVersion().highWater

  /** Atomic pointer update ([[StateFile.replace]]): a reader sees the old
    * pointer or the new one, never a torn one, so no backup is kept.
    */
  private def writeVersion(v: Version): Unit =
    StateFile.replace(versionFile,
      ((if (v.highWater >= 0) Seq(s"#hw:${v.highWater}") else Seq.empty) ++
        v.segments.map(_.name)).mkString("\n"))

  // --- writes ---------------------------------------------------------------

  /** Commit one batch of ops (columns: op STRING, seq LONG, graph,
    * subject, predicate, obj term structs). Idempotent per batchId:
    * a replayed epoch writes a fresh copy of its segment that takes the
    * old one's place in the pointer (copy-on-write, below), and an
    * epoch already folded into the base by [[compact]] (batchId ≤
    * high-water) is dropped outright —
    * Spark epoch replay is therefore safe in both regimes (replaces the
    * reference's abort/replay machinery, FusekiProjector.java:362-379).
    * Returns false for that epoch: `ops` never ran, nor did its Observations.
    */
  def commitOps(batchId: Long, ops: DataFrame): Boolean = commit(batchId, Left(ops))

  /** [[commitOps]] for op rows the driver already holds. The segment is
    * written from the calling thread as one parquet file, with no Spark
    * job, and the commit folds the rows into the driver tail fold, so
    * [[quads]] keeps serving the tail without reading it back.
    */
  def commitRows(batchId: Long, rows: Seq[OpRow]): Boolean = commit(batchId, Right(rows))

  private def commit(batchId: Long,
      ops: Either[DataFrame, Seq[OpRow]]): Boolean = writeLock.synchronized {
    val v = readVersion()
    if (batchId <= v.highWater) return false // already compacted into base
    // COPY-ON-WRITE replay: a replayed epoch writes a FRESH directory
    // (same ord, bumped -g generation) and the pointer swap retires the
    // old one. Never overwriting in place means a lazy plan that still
    // reads the old segment — e.g. a WHERE-driven update op resolved
    // against the pre-replay state and only executed by THIS write —
    // keeps reading a consistent snapshot while the write runs. The
    // retired directory lingers (never read) until [[gc]].
    val existing = v.segments.find(_.batchId.contains(batchId))
    val ref = existing match {
      case None =>
        val nextOrd = v.segments.map(_.ord).maxOption.getOrElse(-1L) + 1
        SegRef(f"s$nextOrd%08d-b$batchId", nextOrd, Some(batchId))
      case Some(old) =>
        // strip the previous replay's adds-only marker and generation:
        // this replay re-detects its own adds-only status
        val plain = old.name.replaceAll("-a$", "")
        val gen = "-g(\\d+)$".r.findFirstMatchIn(plain)
          .map(_.group(1).toInt + 1).getOrElse(1)
        SegRef(s"${plain.replaceAll("-g\\d+$", "")}-g$gen",
          old.ord, Some(batchId))
    }
    // a delete-free segment is marked `-a` in its name, and reads over
    // an adds-only tail skip the latest-op fold for a plain distinct
    // (guide §6 — read less, fold less)
    def marked(r: SegRef) = r.copy(name = r.name + "-a", addsOnly = true)
    // a crash before the version write leaves a directory at the target
    // name behind, unreferenced by any version
    def fresh(r: SegRef) = { val p = dir.resolve(r.name); if (Files.exists(p)) deleteRecursively(p); p }
    val finalRef = ops match {
      case Right(rows) =>
        val r = if (rows.forall(_.op == "A")) marked(ref) else ref
        bridge.writeParquetFile(spark, fresh(r).toString, OP_SCHEMA, rows.iterator.map(OpLog.row))
        r
      case Left(df) =>
        // adds-only detection RIDES the segment write via observe (zero
        // extra passes); the rename happens before the pointer swing, so
        // readers never see the unmarked name
        val obs = org.apache.spark.sql.Observation()
        df.select(OP_COLUMNS.map(col): _*)
          .observe(obs, org.apache.spark.sql.functions
            .count(when(col("op") =!= "A", 1)).as("nonAdds"))
          .write.mode("overwrite").parquet(dir.resolve(ref.name).toString)
        if (obs.get("nonAdds").asInstanceOf[Long] != 0L) ref
        else {
          Files.move(dir.resolve(ref.name), fresh(marked(ref)), StandardCopyOption.ATOMIC_MOVE)
          marked(ref)
        }
    }
    val segs = existing match {
      case None => v.segments :+ finalRef
      // the replayed epoch keeps its ORIGINAL log position (same ord)
      case Some(old) => v.segments.map(s => if (s.name == old.name) finalRef else s)
    }
    writeVersion(v.copy(segments = segs))
    // the fold stays known across a fresh-epoch row commit onto a known
    // (or empty) tail; a replay may retract ops the fold already holds
    val prior =
      if (v.segments.forall(_.isBase)) Some(Map.empty: OpLog.Fold)
      else tailFold.collect { case t if t.segments == v.segments.map(_.name) => t.fold }
    tailFold = for {
      r <- ops.toOption if existing.isEmpty
      p <- prior
      f <- OpLog.fold(p, r, OpLog.driverFoldCap(spark))
    } yield TailFold(segs.map(_.name), f)
    if (autoCompactTail > 0 && segs.count(!_.isBase) >= autoCompactTail)
      compact()
    true
  }

  /** Convenience: commit a dataset payload (adds only). */
  def addQuads(batchId: Long, quads: Seq[Quad]): Unit =
    commitRows(batchId, quads.zipWithIndex.map { case (q, i) =>
      OpRow("A", i.toLong, q.graph, q.subject, q.predicate, q.obj)
    })

  /** Convenience: commit the A/D ops of an effective patch op stream
    * (the output of the patch-transaction machine,
    * RdfPatchParser.dataOpsBatch) preserving op order in `seq`.
    */
  def applyPatch(batchId: Long, ops: Seq[PatchOp]): Unit =
    commitRows(batchId, ops.filter(o => o.op == "A" || o.op == "D").zipWithIndex.map {
      case (o, i) => OpRow(o.op, i.toLong, o.graph, o.subject, o.predicate, o.obj)
    })

  // --- reads ----------------------------------------------------------------

  /** Epoch-segment scan WITHOUT the ordinal recovery — for reads that
    * never order ops (adds-only folds). The op schema is fixed by the
    * segment writers, so it is passed explicitly: schema
    * inference re-read a parquet footer per `quads()` call, a per-call
    * driver tax every store-reading entry paid (guide §6).
    */
  private def readSegmentsRaw(segs: Seq[SegRef]): DataFrame = {
    val paths = segs.map(s => dir.resolve(s.name).toString)
    spark.read.schema(OP_SCHEMA).parquet(paths: _*)
  }

  /** Read a set of segments as ONE multi-path parquet scan, recovering
    * each row's commit ordinal from its file path (flat planning cost
    * regardless of epoch count). Order is the PAIR (ord, seq) — kept
    * as a struct, never packed into one long: a packed ord<<40+seq
    * silently corrupts cross-segment ordering once seq exceeds 2^40
    * (offsets past 2^16 under [[OpLog]]'s 24-bit op field), which
    * 100 TB topics reach trivially.
    */
  private def readSegments(segs: Seq[SegRef]): DataFrame = {
    // file path = …/s<ord>-<tag>/part-….parquet — the commit ordinal is
    // in the parent directory name, which always starts `s<digits>-`
    // (SegRef invariant), so two substring_index cuts + one substring
    // recover it. All whole-stage codegen; replaces a per-row
    // regexp_extract over the full path that cost ~15% of the log fold
    // (measured on the 5M-op corpus).
    val dirName = substring_index(substring_index(input_file_name(), "/", -2), "/", 1)
    val ord = substring(substring_index(dirName, "-", 1), 2, 19).cast("long")
    readSegmentsRaw(segs)
      .withColumn("gseq", struct(ord.as("ord"), col("seq").as("seq")))
  }

  /** Latest op per quad over the segments `segs` ([[OpLog.tailState]]).
    * When every segment committed adds-only (recorded in its name by
    * the commit) the fold degenerates to DISTINCT and skips the
    * ordinal recovery from file paths. `only` restricts to a bucket
    * subset: the tail filters on the hash expression the base read
    * partition-prunes on.
    */
  private def tailState(segs: Seq[SegRef], only: Option[Seq[Int]] = None): DataFrame = {
    val addsOnly = segs.forall(_.addsOnly)
    val log = if (addsOnly) readSegmentsRaw(segs) else readSegments(segs)
    OpLog.tailState(only.fold(log)(sel => log.filter(bucketCol.isin(sel: _*))), addsOnly)
  }

  private def emptyQuads(): DataFrame = {
    import spark.implicits._
    Seq.empty[OpRow].toDF().select(Quad.Columns.map(col): _*)
  }

  /** Bucket partition key of a quad row. */
  private def bucketCol =
    pmod(hash(Quad.Columns.map(col): _*), lit(numBuckets))

  /** bucket → owning base segment ord; a later compaction's segment
    * supersedes earlier ones for the buckets it recorded in its name.
    */
  private def bucketOwner(bases: Seq[SegRef]): Map[Int, Long] = {
    val m = scala.collection.mutable.Map[Int, Long]()
    bases.sortBy(_.ord).foreach { s =>
      s.baseBuckets.getOrElse(0 until numBuckets).foreach(b => m(b) = s.ord)
    }
    m.toMap
  }

  /** Read the base state, resolving bucket ownership across base
    * segments; `only` restricts to a bucket subset (partition-pruned —
    * the `bucket` filter never touches superseded or unselected files).
    */
  private def baseQuads(bases: Seq[SegRef], only: Option[Seq[Int]] = None): DataFrame = {
    val owner = bucketOwner(bases)
    val dfs = bases.flatMap { s =>
      var mine = owner.collect { case (b, o) if o == s.ord => b }.toSeq
      only.foreach(sel => mine = mine.intersect(sel))
      // an owned bucket with no surviving rows has no bucket=k dir —
      // reading an all-empty segment dir would fail schema inference
      val present = {
        val p = dir.resolve(s.name)
        if (!Files.exists(p)) Seq.empty
        else {
          val st = Files.list(p)
          try st.iterator().asScala
            .map(_.getFileName.toString)
            .collect { case n if n.startsWith("bucket=") => n.drop(7).toInt }
            .toSeq
          finally st.close()
        }
      }
      mine = mine.intersect(present)
      if (mine.isEmpty) None
      else Some(spark.read.schema(BASE_SCHEMA)
        .parquet(dir.resolve(s.name).toString)
        .filter(col("bucket").isin(mine: _*))
        .select(Quad.Columns.map(col): _*))
    }
    dfs.reduceOption(_.unionByName(_)).getOrElse(emptyQuads())
  }

  /** Current state as a quads DataFrame (graph, subject, predicate,
    * obj) with set semantics.
    *
    * Physical shape, on the driver-fold path (see the class doc): the
    * base scan, filtered by the quads the tail touched, plus the tail's
    * live quads as a local relation — no tail segment scan, no shuffle,
    * no broadcast job. On the segment-fold path: with no base, one
    * hash-aggregate shuffle over the whole log; with a base, the base is
    * scanned WITHOUT a shuffle and only the tail is aggregated +
    * anti-joined (AQE broadcasts the small tail side).
    */
  def quads(): DataFrame = {
    val v = readVersion()
    tailFold.filter(_.segments == v.segments.map(_.name)) match {
      case None => merge(v, None)
      case Some(t) =>
        val bases = v.segments.filter(_.isBase)
        if (t.fold.isEmpty) baseQuads(bases)
        else OpLog.overlayFold(spark, Some(bases).filter(_.nonEmpty).map(b => baseQuads(b)), t.fold)
    }
  }

  /** Materialize the current state as a SUBJECT-bucketed, per-bucket
    * subject-sorted external parquet table, returning its DataFrame —
    * the query-side layout for BGP-heavy workloads. The store's own
    * whole-quad hash buckets are the WRITE layout (set-semantics
    * merge/delete pruning); they randomize subject locality, so every
    * multi-leaf BGP star re-shuffles each leaf on the join variable.
    * This projection pays that shuffle ONCE: the catalog records the
    * bucket spec, every leaf scan comes out hash-partitioned by
    * `subject`, and the SPARQL compiler's non-null `===` join keys
    * ([[graft.sparql.Sparql.Sol]]) let Catalyst satisfy the join
    * distribution from the bucketing — an n-leaf star then plans with
    * ZERO exchanges (pinned in SparqlSpec). Re-materialize after
    * ingest batches to refresh; the relational-corpus analogue is
    * `pipeline/CorpusLayout.writeBucketed`.
    */
  def writeSubjectBucketed(table: String, path: String,
      nBuckets: Int = 32): DataFrame = {
    quads().write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, "subject")
      .sortBy("subject")
      .format("parquet")
      .saveAsTable(table)
    spark.table(table)
  }

  /** [[quadsAt]] restricted to a hash-bucket subset: the base read
    * partition-prunes to the selected `bucket=k` directories and the
    * tail filters on the same key, so the scan cost tracks the bucket
    * subset, not the store. The incremental-view refresh
    * ([[AggView]]) uses this to make a presence check against an
    * as-of state cost O(touched buckets): a change feed only ever
    * needs state rows hashing to its own quads' buckets.
    */
  def quadsAtBuckets(asOfBatch: Long, buckets: Seq[Int]): DataFrame =
    merge(historyFrom(asOfBatch, "time travel to batch"), Some(asOfBatch), Some(buckets))

  /** The bucket a quad row hashes to — the partition key of the
    * compacted base ([[compact]] writes `bucket=k` directories with
    * exactly this expression).
    */
  def bucketOf: org.apache.spark.sql.Column = bucketCol

  /** Time travel: the dataset as it stood AFTER `asOfBatch` committed
    * (Delta-style `versionAsOf`) — replay/audit queries against an
    * earlier Kafka offset without restoring state files.
    *
    * History floor: [[compact]] folds retired epochs into the base, so
    * states at or before the high-water mark are no longer separable —
    * asking for one is an error (the vacuum bound every log-structured
    * store has). Batches between the high-water mark and `asOfBatch`
    * that never committed simply contribute nothing.
    */
  def quadsAt(asOfBatch: Long): DataFrame =
    merge(historyFrom(asOfBatch, "time travel to batch"), Some(asOfBatch))

  /** The current version, if the history from `batch` on is still
    * separable: [[compact]] folds batches at or below the high-water
    * mark into the base. `read` names the read in the error.
    */
  private def historyFrom(batch: Long, read: String): Version = {
    val v = readVersion()
    if (v.highWater >= 0 && batch < v.highWater)
      throw new IllegalArgumentException(
        s"$read $batch is unavailable: compaction folded batches <= " +
        s"${v.highWater} into the base (raise the compaction cadence or " +
        "read from the high-water mark on)")
    v
  }

  /** Tail batchIds still individually reachable for [[quadsAt]]. */
  def availableBatches(): Seq[Long] =
    readVersion().segments.flatMap(_.batchId).sorted

  /** CDC change feed: the net op per quad across batches in
    * `(fromBatch, toBatch]` — columns (op, graph, subject, predicate,
    * obj), op ∈ {A, D}. Applying the feed to the as-of-`fromBatch`
    * state (adds as set-inserts, deletes as set-removes) yields
    * exactly the as-of-`toBatch` state: ops are FOLDED per quad, so a
    * consumer never sees an intermediate flip-flop. Net, not minimal:
    * a quad added AND deleted inside the range emits a D even if it
    * was absent at `fromBatch` — a set-semantics no-op downstream.
    *
    * Same history floor as [[quadsAt]]: batches at or below the
    * compaction high-water mark are folded into the base and cannot
    * be diffed.
    */
  def changes(fromBatch: Long, toBatch: Long): DataFrame = {
    val segs = historyFrom(fromBatch, "change feed from batch").segments
      .filter(_.batchId.exists(b => b > fromBatch && b <= toBatch))
    if (segs.isEmpty)
      return emptyQuads().withColumn("op", lit("A")).limit(0)
        .select(col("op") +: Quad.Columns.map(col): _*)
    tailState(segs).select(col("last_op").as("op") +: Quad.Columns.map(col): _*)
  }

  private def merge(v: Version, asOf: Option[Long],
      only: Option[Seq[Int]] = None): DataFrame = {
    val (bases, tail0) = v.segments.partition(_.isBase)
    val tail = asOf.fold(tail0)(b => tail0.filter(_.batchId.exists(_ <= b)))
    if (tail.isEmpty) baseQuads(bases, only)
    else if (bases.isEmpty) OpLog.live(tailState(tail, only))
    else OpLog.overlay(baseQuads(bases, only), tailState(tail, only))
  }

  /** Write a base segment with PREDICATE-LOCAL layout: hash `bucket`
    * stays the partition key (set-semantics merge/delete pruning and
    * [[quadsAtBuckets]] depend on it), but WITHIN the written files
    * rows sort by (predicate.lex, graph.lex, subject.lex). Quad-hash
    * bucketing alone randomizes predicate locality, so a
    * predicate-bound BGP leaf — the dominant scan shape — would read
    * every row group of every bucket with useless min/max stats; after
    * this sort the pushed `predicate.lex` equality prunes row groups
    * to the predicate's contiguous band. `repartitionByRange` over the
    * same key keeps write parallelism at the shuffle-partition count
    * (NOT the bucket count — a bucket is far bigger than a task at
    * 100 TB) and gives files non-overlapping predicate ranges; leading
    * with `bucket` satisfies the partitionBy writer's required
    * ordering, so no second sort is inserted.
    */
  private def writeBase(state: DataFrame, ref: SegRef): Unit = {
    val layout = Seq(col("bucket"), col("predicate.lex"),
      col("graph.lex"), col("subject.lex"))
    state.withColumn("bucket", bucketCol)
      .repartitionByRange(layout: _*)
      .sortWithinPartitions(layout: _*)
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(dir.resolve(ref.name).toString)
  }

  /** Fold the committed tail into the bucketed base and advance the
    * high-water mark past every retired batchId. First compaction
    * writes all buckets; later ones rewrite ONLY buckets the tail
    * touched (the new segment's name records them), so compaction cost
    * tracks the delta, not the base.
    */
  def compact(): Unit = writeLock.synchronized {
    val v = readVersion()
    val (bases, tail) = v.segments.partition(_.isBase)
    if (tail.isEmpty) return
    // the emptied tail's fold is known (empty) without holding the old one
    tailFold = None
    val hw = (tail.flatMap(_.batchId) :+ v.highWater).max
    val nextOrd = v.segments.map(_.ord).maxOption.getOrElse(-1L) + 1
    if (bases.isEmpty) {
      val ref = SegRef(f"s$nextOrd%08d-base", nextOrd, None)
      writeBase(OpLog.live(tailState(tail)), ref)
      writeVersion(Version(Seq(ref), hw))
    } else {
      val state = tailState(tail).withColumn("bucket", bucketCol).cache()
      try {
        val touched = state.select(col("bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        if (touched.isEmpty) { // tail segments carried no effective ops
          writeVersion(Version(bases, hw))
          return
        }
        val ref = SegRef(f"s$nextOrd%08d-base-k${touched.mkString("_")}",
          nextOrd, None, Some(touched))
        writeBase(OpLog.overlay(baseQuads(bases, Some(touched)), state), ref)
        writeVersion(Version(bases :+ ref, hw))
      } finally state.unpersist()
    }
  }

  /** Number of quads in the current state: [[quads]] counted, so it
    * reads the tail by whichever path [[quads]] takes (see the class
    * doc) and folds nothing of its own.
    */
  def count(): Long = quads().count()

  /** Remove files no read can reach: segment directories absent from
    * the version pointer (epochs retired by compaction, aborted
    * writes) and `bucket=k` directories inside base segments that a
    * later partial base superseded. Single-writer discipline like
    * every mutation here. Returns the number of top-level paths
    * removed.
    *
    * `graceMillis` protects long-running LAZY plans: Spark reads
    * parquet lazily, so a plan built before a segment retired and
    * executed after an immediate gc would hit deleted paths. A dead
    * path is first recorded in a `_retired` journal and only deleted
    * once it has been dead for the grace window — so two gc passes
    * more than `graceMillis` apart are needed before files disappear.
    * The default keeps the immediate behavior for callers that know
    * no plan is in flight. `nowMillis` is injectable for tests.
    */
  def gc(graceMillis: Long = 0L,
      nowMillis: Long = System.currentTimeMillis()): Int = writeLock.synchronized {
    val v = readVersion()
    val live = v.segments.map(_.name).toSet
    val owner = bucketOwner(v.segments.filter(_.isBase))
    var removed = 0
    val retired = readRetired()
    val stillDead = scala.collection.mutable.LinkedHashMap[String, Long]()
    // delete only once the path has been dead for the full grace
    // window; otherwise (re-)journal it and leave the files alone
    def reap(p: java.nio.file.Path, key: String): Unit = {
      val firstSeen = retired.getOrElse(key, nowMillis)
      if (nowMillis - firstSeen >= graceMillis) { deleteRecursively(p); removed += 1 }
      else stillDead(key) = firstSeen
    }
    val top = Files.list(dir)
    try top.iterator().asScala.toSeq.foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("s") && Files.isDirectory(p)) {
        if (!live.contains(name)) reap(p, name)
        else {
          val seg = SegRef.parse(name)
          if (seg.isBase) {
            // disowned buckets: written by this base, now owned by a
            // later partial base
            val st = Files.list(p)
            val buckets =
              try st.iterator().asScala.toSeq.filter(
                _.getFileName.toString.startsWith("bucket="))
              finally st.close()
            buckets.foreach { b =>
              val k = b.getFileName.toString.drop(7).toInt
              if (!owner.get(k).contains(seg.ord))
                reap(b, s"$name/${b.getFileName.toString}")
            }
          }
        }
      }
    } finally top.close()
    writeRetired(stillDead.toMap)
    removed
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => Files.delete(f))
    finally st.close()
  }

  private def retiredFile = dir.resolve("_retired")

  /** The gc grace journal: dead path → millis first seen dead; a corrupt
    * line reads as never-seen.
    */
  private def readRetired(): Map[String, Long] =
    StateFile.readMap(retiredFile).flatMap { case (k, t) => t.toLongOption.map(k -> _) }

  private def writeRetired(entries: Map[String, Long]): Unit =
    if (entries.isEmpty) Files.deleteIfExists(retiredFile)
    else StateFile.replaceMap(retiredFile, entries.map { case (k, t) => k -> t.toString })

  // --- prefix state ---------------------------------------------------------

  private def prefixFile = dir.resolve("_prefixes")

  /** Dataset prefix map maintained by RDF Patch PA/PD ops (the
    * reference applies them to the DatasetGraph's prefix map via
    * RDFChangesApply; row 6 of SURVEY §2.1). Tiny, driver-side state —
    * single-writer like the version pointer.
    */
  def prefixes(): Map[String, String] = StateFile.readMap(prefixFile)

  /** Apply PA (add) / PD (delete) prefix ops in order. */
  def updatePrefixes(ops: Seq[(String, String, String)]): Unit = writeLock.synchronized {
    if (ops.isEmpty) return
    var m = prefixes()
    ops.foreach {
      case ("PA", p, iri) => m += (p -> iri)
      case ("PD", p, _) => m -= p
      case _ => ()
    }
    StateFile.replaceMap(prefixFile, m)
  }
}

object QuadStore {
  /** A committed segment: `s<ord>-b<batchId>` (epoch segment;
    * `-g<n>` suffix = nth copy-on-write replay of that epoch; trailing
    * `-a` = the segment committed adds-only, letting reads skip the
    * latest-op fold), `s<ord>-base` (compacted base owning ALL
    * buckets), or `s<ord>-base-k3_7` (partial base owning only the
    * listed buckets — written by a re-compaction that touched just
    * those).
    */
  final case class SegRef(name: String, ord: Long, batchId: Option[Long],
      baseBuckets: Option[Seq[Int]] = None, addsOnly: Boolean = false) {
    def isBase: Boolean = batchId.isEmpty
  }
  object SegRef {
    private val BatchPat = """s(\d+)-b(-?\d+)(?:-g\d+)?(-a)?""".r
    private val BasePat = """s(\d+)-base(?:-k([\d_]+))?""".r
    def parse(name: String): SegRef = name match {
      case BatchPat(ord, b, a) => SegRef(name, ord.toLong, Some(b.toLong),
        addsOnly = a != null)
      case BasePat(ord, ks) => SegRef(name, ord.toLong, None,
        Option(ks).map(_.split("_").toSeq.map(_.toInt)))
      case other => throw new IllegalStateException(s"bad segment name '$other'")
    }
  }

  /** The tail folded on the driver for the version whose segment list is
    * `segments` (see the class doc). Immutable: a plan built from it
    * keeps its rows however later commits move the pointer.
    */
  private final case class TailFold(segments: Seq[String], fold: OpLog.Fold)

  /** Base-segment schema: quad columns + the `bucket` partition dir. */
  private[store] val BASE_SCHEMA: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Quad.Schema :+ StructField("bucket", IntegerType))
  }
}

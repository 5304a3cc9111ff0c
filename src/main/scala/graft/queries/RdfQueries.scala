package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdf._
import graft.store.{OpLog, QuadStore}

/** RDF-layer entries for the verify gate. The oracle trick: round-trip
  * a relational table through RDF serialization → parser → quads →
  * reassembly; the DuckDB oracle reads the table directly. Any parser
  * or store defect breaks the hash match.
  */
object RdfQueries {
  import Tables._

  private val NS = "http://graft.example/"

  /** Memoized scale fixture for scale_view_refresh: (store, view,
    * rep counter) built once per JVM per sfDir — the bench should
    * time the incremental REFRESH, not a per-rep store rebuild.
    */
  private val viewFixtures = new java.util.concurrent.ConcurrentHashMap[
    String, (QuadStore, graft.store.AggView,
      java.util.concurrent.atomic.AtomicLong)]()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // N-Quads parser round-trip: nation → NT docs (one per partition) →
    // parse → quads → pivot back to rows. Fully distributed: docs are
    // built and parsed inside mapPartitions, no driver collect.
    "rdf_roundtrip_nquads" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .as[(Long, String, Long)]
        .mapPartitions { it =>
          // one doc per fixed-size chunk, NOT per partition: a
          // partition-sized string would hit the JVM 2 GB limit at
          // 100x scale; chunked docs keep memory flat
          it.grouped(1000).map(_.map { case (k, name, rk) =>
            s"""<${NS}nation/$k> <${NS}name> "${Term.escapeLiteral(name)}" .
               |<${NS}nation/$k> <${NS}regionkey> "$rk"^^<${Term.XSD_INTEGER}> .""".stripMargin
          }.mkString("\n"))
        }
      val quads = docs.flatMap(d => NQuadsParser.parse(d, allowGraph = true))
      quads.toDF()
        .groupBy(regexp_extract(col("subject.lex"), "nation/(\\d+)$", 1).cast("int").as("n_nationkey"))
        .agg(
          max(when(col("predicate.lex") === s"${NS}name", col("obj.lex"))).as("n_name"),
          max(when(col("predicate.lex") === s"${NS}regionkey", col("obj.lex"))).cast("int").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },
    // Turtle parser round-trip over supplier, with prefixes, typed and
    // plain literals exercised.
    "rdf_roundtrip_turtle" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey").cast("long"))
        .as[(Long, String, Long)]
        .mapPartitions { it =>
          // chunked docs (see the nquads entry above for rationale)
          it.grouped(1000).map { chunk =>
            s"@prefix g: <$NS> .\n" + chunk.map { case (k, name, nk) =>
              s"""g:supplier_$k g:name "${Term.escapeLiteral(name)}" ; g:nation $nk ."""
            }.mkString("\n")
          }
        }
      val quads = docs.flatMap(d => TurtleParser.parseTurtle(d))
      quads.toDF()
        .groupBy(regexp_extract(col("subject.lex"), "supplier_(\\d+)$", 1).cast("long").as("s_suppkey"))
        .agg(
          max(when(col("predicate.lex") === s"${NS}name", col("obj.lex"))).as("s_name"),
          max(when(col("predicate.lex") === s"${NS}nation", col("obj.lex"))).cast("int").as("s_nationkey"))
        .orderBy(col("s_suppkey"))
    },
    // RDF/XML round-trip: part rows rendered as striped RDF/XML docs
    // in executors, parsed by the StAX subset parser, reduced back to
    // the relational truth (typed node + datatyped property)
    "rdf_roundtrip_rdfxml" -> { (s, dir) =>
      import s.implicits._
      def esc(x: String) = x.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      val docs = t(s, dir, "part")
        .select(col("p_partkey").cast("long"), col("p_name"), col("p_size").cast("long"))
        .as[(Long, String, Long)]
        .mapPartitions { it =>
          it.grouped(1000).map { chunk =>
            "<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\"" +
              s""" xmlns:g="$NS">""" + chunk.map { case (k, name, size) =>
              s"""<rdf:Description rdf:about="${NS}part_$k">""" +
                s"<g:name>${esc(name)}</g:name>" +
                s"""<g:size rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">$size</g:size>""" +
                "</rdf:Description>"
            }.mkString + "</rdf:RDF>"
          }
        }
      val quads = docs.flatMap(d => graft.rdf.RdfXmlParser.parse(d))
      quads.toDF()
        .groupBy(regexp_extract(col("subject.lex"), "part_(\\d+)$", 1).cast("long").as("p_partkey"))
        .agg(
          max(when(col("predicate.lex") === s"${NS}name", col("obj.lex"))).as("p_name"),
          max(when(col("predicate.lex") === s"${NS}size", col("obj.lex"))).cast("int").as("p_size"))
        .orderBy(col("p_partkey"))
    },
    // JSON-LD round-trip: customer rows as one @graph doc per chunk
    // (context-compacted terms, @type-coerced id link), parsed by the
    // Jackson subset parser, reduced back to the relational truth
    "rdf_roundtrip_jsonld" -> { (s, dir) =>
      import s.implicits._
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      val docs = t(s, dir, "customer")
        .select(col("c_custkey").cast("long"), col("c_name"), col("c_nationkey").cast("long"))
        .as[(Long, String, Long)]
        .mapPartitions { it =>
          it.grouped(1000).map { chunk =>
            s"""{"@context": {"g": "$NS", "name": "${NS}name",
               |  "nation": {"@id": "${NS}nation", "@type": "@id"}},
               | "@graph": [""".stripMargin + chunk.map { case (k, name, nk) =>
              s"""{"@id": "g:customer_$k", "name": "${esc(name)}", "nation": "g:nation_$nk"}"""
            }.mkString(",") + "]}"
          }
        }
      val quads = docs.flatMap(d => graft.rdf.JsonLdParser.parse(d))
      quads.toDF()
        .groupBy(regexp_extract(col("subject.lex"), "customer_(\\d+)$", 1).cast("long").as("c_custkey"))
        .agg(
          max(when(col("predicate.lex") === s"${NS}name", col("obj.lex"))).as("c_name"),
          max(when(col("predicate.lex") === s"${NS}nation",
            regexp_extract(col("obj.lex"), "nation_(\\d+)$", 1))).cast("int").as("c_nationkey"))
        .orderBy(col("c_custkey"))
    },
    // QuadStore ingest + set-semantics: region rows become quads,
    // ingested TWICE (idempotence), counted per predicate from store
    // state. Oracle: region count per predicate, unaffected by the
    // double ingest.
    "rdf_store_set_semantics" -> { (s, dir) =>
      import s.implicits._
      val rows = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect() // region has 5 rows; driver-side by design
      val quads = rows.toSeq.flatMap { case (k, name) =>
        Seq(
          Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}name"), Term.lit(name)),
          Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}key"),
            Term.typed(k.toString, Term.XSD_INTEGER)))
      }
      val store = new QuadStore(s, graft.Harness.scratchDir("rdfstore").toString)
      store.addQuads(0, quads)
      store.addQuads(1, quads) // idempotent re-ingest
      store.quads()
        .groupBy(col("predicate.lex").as("predicate"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("predicate"))
    },
    // Incrementally-maintained aggregate view: per-predicate counts
    // refreshed from the CDC feed — batch 1 mixes REAL ops with
    // set-level no-ops (a re-add of a present quad, a delete of an
    // absent one) so the presence-exact delta logic is what the
    // oracle checks, not just the happy path.
    "rdf_store_agg_view" -> { (s, dir) =>
      import s.implicits._
      val store = new QuadStore(s, graft.Harness.scratchDir("avstore").toString)
      val view = new graft.store.AggView(s, store,
        graft.Harness.scratchDir("avview").toString, Seq("predicate"))
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .as[(Long, String, Long)].collect() // 25 rows; driver-side by design
      store.addQuads(0, nations.toSeq.flatMap { case (k, n, rk) => Seq(
        Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}name"), Term.lit(n)),
        Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}regionkey"),
          Term.typed(rk.toString, Term.XSD_INTEGER))) })
      view.refresh() // full init at batch 0
      // batch 1: delete region-0 nations' name triples (real), re-add
      // every region-1 name triple (no-op), delete a never-present
      // quad (no-op), add one fresh triple (real)
      val ops = nations.toSeq.collect { case (k, n, 0L) =>
        OpLog.OpRow("D", k, null, Term.iri(s"${NS}nation/$k"),
          Term.iri(s"${NS}name"), Term.lit(n)) } ++
        nations.toSeq.collect { case (k, n, 1L) =>
          OpLog.OpRow("A", 100 + k, null, Term.iri(s"${NS}nation/$k"),
            Term.iri(s"${NS}name"), Term.lit(n)) } ++
        Seq(
          OpLog.OpRow("D", 200L, null, Term.iri(s"${NS}nation/999"),
            Term.iri(s"${NS}regionkey"), Term.lit("9")),
          OpLog.OpRow("A", 201L, null, Term.iri(s"${NS}meta"),
            Term.iri(s"${NS}version"), Term.lit("2")))
      store.commitOps(1, ops.toDF())
      view.refresh() // incremental
      view.result()
        .select(col("predicate.lex").as("predicate"), col("cnt"))
        .orderBy(col("predicate"))
    },
    // Incrementally-maintained star-join view (JoinView): a supplier
    // 3-predicate star, full-initialized at batch 0, then a batch of
    // real deletes (every third supplier loses its nationkey leaf →
    // star rows vanish), no-op re-adds, one complete new star, and one
    // DANGLING subject (name only — must NOT appear: inner star). The
    // incremental refresh recomputes only the touched subjects; the
    // oracle re-derives the final rows relationally.
    "rdf_store_join_view" -> { (s, dir) =>
      import s.implicits._
      val store = new QuadStore(s, graft.Harness.scratchDir("jvstore").toString)
      val preds = Seq(Term.iri(s"${NS}name"), Term.iri(s"${NS}nationkey"),
        Term.iri(s"${NS}acctbal"))
      val view = new graft.store.JoinView(s, store,
        graft.Harness.scratchDir("jvview").toString, preds)
      val supps = t(s, dir, "supplier")
        .select(col("s_suppkey").cast("long"), col("s_name"),
          col("s_nationkey").cast("long"), col("s_acctbal"))
        .as[(Long, String, Long, Double)].collect()
      store.addQuads(0, supps.toSeq.flatMap { case (k, n, nk, bal) => Seq(
        Quad(null, Term.iri(s"${NS}supp/$k"), preds(0), Term.lit(n)),
        Quad(null, Term.iri(s"${NS}supp/$k"), preds(1),
          Term.typed(nk.toString, Term.XSD_INTEGER)),
        Quad(null, Term.iri(s"${NS}supp/$k"), preds(2),
          Term.typed(bal.toString, Term.XSD_DOUBLE))) })
      view.refresh() // full init at batch 0
      val ops = supps.toSeq.collect { case (k, _, nk, _) if k % 3 == 0 =>
        OpLog.OpRow("D", k, null, Term.iri(s"${NS}supp/$k"), preds(1),
          Term.typed(nk.toString, Term.XSD_INTEGER)) } ++
        supps.toSeq.collect { case (k, n, _, _) if k % 3 == 1 =>
          OpLog.OpRow("A", 1000 + k, null, Term.iri(s"${NS}supp/$k"),
            preds(0), Term.lit(n)) } ++
        Seq(
          OpLog.OpRow("A", 5000L, null, Term.iri(s"${NS}supp/999999"),
            preds(0), Term.lit("zz")),
          OpLog.OpRow("A", 5001L, null, Term.iri(s"${NS}supp/999999"),
            preds(1), Term.typed("7", Term.XSD_INTEGER)),
          OpLog.OpRow("A", 5002L, null, Term.iri(s"${NS}supp/999999"),
            preds(2), Term.typed("1.5", Term.XSD_DOUBLE)),
          OpLog.OpRow("A", 5003L, null, Term.iri(s"${NS}supp/999998"),
            preds(0), Term.lit("dangling")))
      store.commitOps(1, ops.toDF())
      view.refresh() // incremental: touched subjects only
      view.result()
        .select(
          regexp_extract(col("subject.lex"), "supp/(\\d+)$", 1)
            .cast("long").as("s_suppkey"),
          col("o0").getField("lex").as("s_name"),
          col("o1").getField("lex").cast("int").as("s_nationkey"),
          col("o2").getField("lex").cast("double").as("s_acctbal"))
        .orderBy(col("s_suppkey"))
    },
    // Incremental refresh at scale: a lineitem-derived store (~2
    // quads/row, built EXECUTOR-SIDE as one ops DataFrame, then
    // compacted to the bucketed base) and a view over it; every call
    // commits a net-zero two-op delta (swap one meta quad) and
    // refreshes — so the measured cost is the O(changes + touched
    // buckets) refresh path, never a rescan, and the counts the
    // oracle checks stay constant across reps.
    "scale_view_refresh" -> { (s, dir) =>
      import s.implicits._
      def termI(lex: Column) = Term.column(Term.IRI, lex)
      def termL(lex: Column) =
        Term.column(Term.LIT, lex.cast("string"), lit(Term.XSD_INTEGER).cast("string"))
      val (store, view, ctr) = viewFixtures.computeIfAbsent(dir, { _ =>
        val st = new QuadStore(s, graft.Harness.scratchDir("svr").toString)
        val li = t(s, dir, "lineitem").select(
          col("l_orderkey").cast("long").as("ok"),
          col("l_linenumber").cast("long").as("ln"),
          col("l_quantity").cast("long").as("qty"))
        val subj = termI(concat(lit(s"${NS}li/"), col("ok"), lit("_"), col("ln")))
        val quantity = li.select(lit("A").as("op"),
          (col("ok") * 100 + col("ln") * 2).as("seq"),
          lit(null).cast(Term.Schema).as("graph"), subj.as("subject"),
          termI(lit(s"${NS}quantity")).as("predicate"), termL(col("qty")).as("obj"))
        val inOrder = li.select(lit("A").as("op"),
          (col("ok") * 100 + col("ln") * 2 + 1).as("seq"),
          lit(null).cast(Term.Schema).as("graph"), subj.as("subject"),
          termI(lit(s"${NS}inOrder")).as("predicate"),
          termI(concat(lit(s"${NS}order/"), col("ok"))).as("obj"))
        val meta = Seq(OpLog.OpRow("A", -1L, null,
          Term.iri(s"${NS}meta/0"), Term.iri(s"${NS}quantity"),
          Term.typed("0", Term.XSD_INTEGER))).toDF()
        st.commitOps(0, quantity.unionByName(inOrder).unionByName(meta))
        st.compact() // bucketed base → pruned presence reads
        val v = new graft.store.AggView(s, st,
          graft.Harness.scratchDir("svrview").toString, Seq("predicate"))
        v.refresh() // full init, outside the timed delta path
        (st, v, new java.util.concurrent.atomic.AtomicLong(0))
      })
      val n = ctr.incrementAndGet()
      val batch = store.nextBatchId
      store.commitOps(batch, Seq(
        OpLog.OpRow("D", 0L, null, Term.iri(s"${NS}meta/${n - 1}"),
          Term.iri(s"${NS}quantity"), Term.typed("0", Term.XSD_INTEGER)),
        OpLog.OpRow("A", 1L, null, Term.iri(s"${NS}meta/$n"),
          Term.iri(s"${NS}quantity"), Term.typed("0", Term.XSD_INTEGER))).toDF())
      view.refresh()
      view.result()
        .select(col("predicate.lex").as("predicate"), col("cnt"))
        .orderBy(col("predicate"))
    },
    // Time travel (Delta-style versionAsOf over the epoch log): three
    // batches — nations added, regions added, region-0 nations
    // deleted — each as-of state counted from ONE union plan. The
    // oracle re-derives every count from the source tables.
    "rdf_store_time_travel" -> { (s, dir) =>
      import s.implicits._
      val store = new QuadStore(s, graft.Harness.scratchDir("ttstore").toString)
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .as[(Long, String, Long)].collect() // 25 rows; driver-side by design
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect() // 5 rows
      def nq(k: Long, name: String) =
        Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}name"), Term.lit(name))
      store.addQuads(0, nations.toSeq.map { case (k, n, _) => nq(k, n) })
      store.addQuads(1, regions.toSeq.map { case (k, n) =>
        Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}name"), Term.lit(n)) })
      store.applyPatch(2, nations.toSeq.collect { case (k, n, 0L) =>
        graft.rdf.PatchOp("D", null, Term.iri(s"${NS}nation/$k"),
          Term.iri(s"${NS}name"), Term.lit(n)) })
      store.availableBatches()
        .map(b => store.quadsAt(b).select(lit(b).as("as_of")))
        .reduce(_ unionByName _)
        .groupBy(col("as_of")).agg(count(lit(1)).as("n"))
        .orderBy(col("as_of"))
    },
    // N-Quads egress: serialize a store (default graph + a named
    // graph + a literal planted with quote/newline/tab/backslash) and
    // compare the LINES against DuckDB building the same strings —
    // pins the escaping rules cross-engine
    "rdf_store_export" -> { (s, dir) =>
      import s.implicits._
      val store = new QuadStore(s, graft.Harness.scratchDir("expstore").toString)
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect()
      store.addQuads(0, regions.toSeq.flatMap { case (k, name) =>
        Seq(
          Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}name"), Term.lit(name)),
          Quad(Term.iri(s"${NS}g/meta"), Term.iri(s"${NS}region/$k"),
            Term.iri(s"${NS}esc"), Term.lit("\"" + name + "\n\t\\")))
      })
      graft.rdf.NtWriter.ntLines(store.quads()).orderBy(col("line"))
    },
    // blank-node canonicalization by 3 rounds of distributed hash
    // refinement over a nation/region graph where EVERY node is a
    // blank — the oracle re-runs the same refinement as 3 unrolled
    // SQL rounds, so every md5 at every round must agree
    "rdf_canonical" -> { (s, dir) =>
      def blankT(lex: Column) = Term.column(Term.BLANK, lex)
      def iriT(iri: String) = Term.column(Term.IRI, lit(iri))
      def litT(lex: Column) = Term.column(Term.LIT, lex)
      val g = lit(null).cast(Term.Schema)
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      val quads = nation.select(g.as("graph"),
          blankT(concat(lit("n"), col("n_nationkey"))).as("subject"),
          iriT(s"${NS}name").as("predicate"),
          litT(col("n_name")).as("obj"))
        .unionByName(nation.select(g.as("graph"),
          blankT(concat(lit("n"), col("n_nationkey"))).as("subject"),
          iriT(s"${NS}region").as("predicate"),
          blankT(concat(lit("r"), col("n_regionkey"))).as("obj")))
        .unionByName(region.select(g.as("graph"),
          blankT(concat(lit("r"), col("r_regionkey"))).as("subject"),
          iriT(s"${NS}rname").as("predicate"),
          litT(col("r_name")).as("obj")))
      RdfCanonical.blankHashes(quads).orderBy(col("blank"))
    },
    // graph-level dedup: one event-graph per nation, isomorphic
    // whenever two nations share a region (the payload differs only
    // in blank labels and the graph name) — fingerprints collapse 25
    // graphs into 5 groups; the oracle mirrors the per-graph
    // refinement and the fingerprint fold exactly
    "rdf_dedup_graphs" -> { (s, dir) =>
      def blankT(lex: Column) = Term.column(Term.BLANK, lex)
      def iriT(lex: Column) = Term.column(Term.IRI, lex)
      def litT(lex: Column) = Term.column(Term.LIT, lex)
      val nr = t(s, dir, "nation").join(t(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      val g = iriT(concat(lit(s"${NS}g/n"), col("n_nationkey")))
      val quads = nr.select(g.as("graph"),
          blankT(lit("x")).as("subject"),
          iriT(lit(s"${NS}hasRegion")).as("predicate"),
          blankT(lit("y")).as("obj"))
        .unionByName(nr.select(g.as("graph"),
          blankT(lit("y")).as("subject"),
          iriT(lit(s"${NS}rname")).as("predicate"),
          litT(col("r_name")).as("obj")))
      RdfCanonical.graphFingerprints(quads)
        .groupBy(col("fingerprint"))
        .agg(count(lit(1)).as("n_graphs"), min(col("graph")).as("first_graph"))
        .orderBy(col("fingerprint"))
    },
    // Turtle/TriG egress with prefix compaction: per-(graph,subject)
    // blocks — rdf:type as `a`, predicate lists `;`, object lists `,`,
    // longest-namespace prefixed names, unsafe locals fall back to
    // <full-iri>, named graphs wrap TriG-style. Lines exact-compared
    // against DuckDB building the same strings.
    "rdf_export_turtle" -> { (s, dir) =>
      import s.implicits._
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect() // 5 rows
      val quads = regions.toSeq.flatMap { case (k, name) =>
        Seq(
          Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(Term.RDF_TYPE),
            Term.iri(s"${NS}Region")),
          Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}name"),
            Term.lit(name)),
          Quad(Term.iri(s"${NS}g/meta"), Term.iri(s"${NS}region/$k"),
            Term.iri(s"${NS}esc"), Term.lit(name + "\n")),
          Quad(Term.iri(s"${NS}g/meta"), Term.iri(s"${NS}region/$k"),
            Term.iri(s"${NS}esc"), Term.lit("\"" + name)))
      }
      val df = s.createDataset(quads).toDF()
      TurtleWriter.turtleLines(df,
          Map("grf" -> NS, "reg" -> s"${NS}region/"))
        .orderBy(col("line"))
    },
    // RDF/XML egress: striped rdf:Description lines with inline
    // namespace declarations, XML text escaping (& < >) exercised by a
    // planted literal — lines exact-compared vs DuckDB-built strings
    "rdf_export_rdfxml" -> { (s, dir) =>
      import s.implicits._
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect()
      val quads = regions.toSeq.flatMap { case (k, name) =>
        Seq(
          Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}name"),
            Term.lit(name)),
          Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}esc"),
            Term.lit(s"$name&x<y>\"z")))
      }
      graft.rdf.XmlWriter.rdfXmlLines(s.createDataset(quads).toDF())
        .orderBy(col("line"))
    },
    // JSON-LD egress: expanded node-object lines (named graph wraps in
    // @graph); string escaping is Spark's own JSON writer, compared
    // byte-exact against DuckDB building the same escape sequences
    "rdf_export_jsonld" -> { (s, dir) =>
      import s.implicits._
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect()
      val quads = regions.toSeq.flatMap { case (k, name) =>
        Seq(
          Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}name"),
            Term.lit(name)),
          Quad(Term.iri(s"${NS}g/meta"), Term.iri(s"${NS}region/$k"),
            Term.iri(s"${NS}esc"), Term.lit("\"" + name + "\n\t\\")))
      }
      graft.rdf.JsonLdWriter.jsonLdLines(s.createDataset(quads).toDF())
        .orderBy(col("line"))
    },
    // CDC feed over the same three batches: net ops in (0, 2] are one
    // Add per region and one Delete per region-0 nation
    "rdf_store_change_feed" -> { (s, dir) =>
      import s.implicits._
      val store = new QuadStore(s, graft.Harness.scratchDir("cdcstore").toString)
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .as[(Long, String, Long)].collect()
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect()
      store.addQuads(0, nations.toSeq.map { case (k, n, _) =>
        Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}name"), Term.lit(n)) })
      store.addQuads(1, regions.toSeq.map { case (k, n) =>
        Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}name"), Term.lit(n)) })
      store.applyPatch(2, nations.toSeq.collect { case (k, n, 0L) =>
        graft.rdf.PatchOp("D", null, Term.iri(s"${NS}nation/$k"),
          Term.iri(s"${NS}name"), Term.lit(n)) })
      store.changes(0, 2)
        .groupBy(col("op")).agg(count(lit(1)).as("n"))
        .orderBy(col("op"))
    },
    // Patch-op semantics at relational scale: every order is an Add,
    // every 'F'-status order is a later Delete; latest-op-wins state
    // must equal the non-F orders. This is the distributed form of the
    // store's merge (adds/deletes as one shuffle).
    "rdf_patch_semantics" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
      val adds = ord.select(col("o_orderkey"), col("o_orderpriority"),
        lit("A").as("op"), lit(0L).as("seq"))
      val dels = ord.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderpriority"),
          lit("D").as("op"), lit(1L).as("seq"))
      adds.unionByName(dels)
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(max_by(col("op"), col("seq")).as("last_op"))
        .filter(col("last_op") === "A")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }
  )

  val oracle: Map[String, String] = Map(
    "rdf_roundtrip_nquads" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "rdf_roundtrip_turtle" ->
      "SELECT s_suppkey, s_name, s_nationkey FROM supplier ORDER BY s_suppkey",
    "rdf_roundtrip_rdfxml" ->
      "SELECT p_partkey, p_name, p_size FROM part ORDER BY p_partkey",
    "rdf_roundtrip_jsonld" ->
      "SELECT c_custkey, c_name, c_nationkey FROM customer ORDER BY c_custkey",
    "rdf_store_set_semantics" ->
      s"""SELECT predicate, n FROM (
          SELECT '${NS}key' AS predicate, COUNT(*) AS n FROM region
          UNION ALL SELECT '${NS}name', COUNT(*) FROM region)
          ORDER BY predicate""",
    "rdf_patch_semantics" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
         WHERE o_orderstatus <> 'F' GROUP BY 1 ORDER BY o_orderpriority""",
    // the generator does NOT keep (orderkey, linenumber) unique, so
    // the RDF set semantics dedup the derived quads — the oracle
    // counts the same distinct keys
    "scale_view_refresh" ->
      s"""SELECT predicate, cnt FROM (
          SELECT '${NS}inOrder' AS predicate,
                 (SELECT COUNT(DISTINCT (l_orderkey, l_linenumber))
                  FROM lineitem)::BIGINT AS cnt
          UNION ALL SELECT '${NS}quantity',
                 (SELECT COUNT(DISTINCT (l_orderkey, l_linenumber, l_quantity)) + 1
                  FROM lineitem)::BIGINT)
          ORDER BY predicate""",
    "rdf_store_agg_view" ->
      s"""SELECT predicate, cnt FROM (
          SELECT '${NS}name' AS predicate,
                 (SELECT COUNT(*) FROM nation WHERE n_regionkey <> 0)::BIGINT AS cnt
          UNION ALL SELECT '${NS}regionkey',
                 (SELECT COUNT(*) FROM nation)::BIGINT
          UNION ALL SELECT '${NS}version', 1::BIGINT)
          ORDER BY predicate""",
    "rdf_store_join_view" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
         WHERE s_suppkey % 3 <> 0
         UNION ALL
         SELECT 999999::BIGINT, 'zz', 7, 1.5
         ORDER BY s_suppkey""",
    "rdf_store_time_travel" ->
      """SELECT 0::BIGINT AS as_of,
                (SELECT COUNT(*) FROM nation)::BIGINT AS n
         UNION ALL SELECT 1,
                (SELECT COUNT(*) FROM nation) + (SELECT COUNT(*) FROM region)
         UNION ALL SELECT 2,
                (SELECT COUNT(*) FROM nation WHERE n_regionkey <> 0)
                  + (SELECT COUNT(*) FROM region)
         ORDER BY as_of""",
    "rdf_store_change_feed" ->
      """SELECT 'A' AS op, (SELECT COUNT(*) FROM region)::BIGINT AS n
         UNION ALL
         SELECT 'D', (SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
         ORDER BY op""",
    // chr(92)=backslash chr(34)=quote chr(10)=newline chr(9)=tab
    "rdf_store_export" ->
      """SELECT line FROM (
           SELECT '<http://graft.example/region/' || r_regionkey ||
                  '> <http://graft.example/name> ' || chr(34) || r_name ||
                  chr(34) || ' .' AS line
           FROM region
           UNION ALL
           SELECT '<http://graft.example/region/' || r_regionkey ||
                  '> <http://graft.example/esc> ' || chr(34) ||
                  chr(92) || chr(34) || r_name || chr(92) || 'n' ||
                  chr(92) || 't' || chr(92) || chr(92) ||
                  chr(34) || ' <http://graft.example/g/meta> .'
           FROM region)
         ORDER BY line""",
    // default-graph block: `reg:K a grf:Region ; grf:name "NAME" .`
    // (po list sort_array'd: "a …" < "grf:…"); named-graph block:
    // object list sorted — '"NAME\n"' begins with an uppercase letter
    // (< 0x5C) so it precedes '"\"NAME"'
    "rdf_export_rdfxml" ->
      """SELECT line FROM (
           SELECT '<rdf:Description rdf:about="http://graft.example/region/'
                  || r_regionkey || '"><n:name xmlns:n="http://graft.example/">'
                  || r_name || '</n:name></rdf:Description>' AS line
           FROM region
           UNION ALL
           SELECT '<rdf:Description rdf:about="http://graft.example/region/'
                  || r_regionkey || '"><n:esc xmlns:n="http://graft.example/">'
                  || r_name || '&amp;x&lt;y&gt;"z</n:esc></rdf:Description>'
           FROM region)
         ORDER BY line""",
    "rdf_export_jsonld" ->
      """SELECT line FROM (
           SELECT '{"@id":"http://graft.example/region/' || r_regionkey ||
                  '","http://graft.example/name":[{"@value":"' || r_name ||
                  '"}]}' AS line
           FROM region
           UNION ALL
           SELECT '{"@id":"http://graft.example/g/meta","@graph":[{"@id":' ||
                  '"http://graft.example/region/' || r_regionkey ||
                  '","http://graft.example/esc":[{"@value":"' || chr(92) ||
                  '"' || r_name || chr(92) || 'n' || chr(92) || 't' ||
                  chr(92) || chr(92) || '"}]}]}'
           FROM region)
         ORDER BY line""",
    "rdf_canonical" ->
      """WITH q AS (
           SELECT 'n' || n_nationkey AS sb, CAST(NULL AS VARCHAR) AS ob,
                  '<http://graft.example/name>' AS pnt,
                  '_:n' || n_nationkey AS snt,
                  chr(34) || n_name || chr(34) AS ont, '' AS gnt
           FROM nation
           UNION ALL
           SELECT 'n' || n_nationkey, 'r' || n_regionkey,
                  '<http://graft.example/region>',
                  '_:n' || n_nationkey, '_:r' || n_regionkey, ''
           FROM nation
           UNION ALL
           SELECT 'r' || r_regionkey, NULL,
                  '<http://graft.example/rname>',
                  '_:r' || r_regionkey, chr(34) || r_name || chr(34), ''
           FROM region),
         bl AS (SELECT DISTINCT sb AS b FROM q WHERE sb IS NOT NULL
                UNION SELECT DISTINCT ob FROM q WHERE ob IS NOT NULL),
         h0 AS (SELECT b, 'init' AS h FROM bl),
         c1 AS (
           SELECT q.sb AS b,
                  'S|' || pnt || '|' || coalesce(ho.h, ont) || '|' || gnt AS c
           FROM q LEFT JOIN h0 ho ON q.ob = ho.b WHERE q.sb IS NOT NULL
           UNION ALL
           SELECT q.ob,
                  'O|' || pnt || '|' || coalesce(hs.h, snt) || '|' || gnt
           FROM q LEFT JOIN h0 hs ON q.sb = hs.b WHERE q.ob IS NOT NULL),
         h1 AS (SELECT b, md5(string_agg(c, chr(10) ORDER BY c)) AS h
                FROM c1 GROUP BY b),
         c2 AS (
           SELECT q.sb AS b,
                  'S|' || pnt || '|' || coalesce(ho.h, ont) || '|' || gnt AS c
           FROM q LEFT JOIN h1 ho ON q.ob = ho.b WHERE q.sb IS NOT NULL
           UNION ALL
           SELECT q.ob,
                  'O|' || pnt || '|' || coalesce(hs.h, snt) || '|' || gnt
           FROM q LEFT JOIN h1 hs ON q.sb = hs.b WHERE q.ob IS NOT NULL),
         h2 AS (SELECT b, md5(string_agg(c, chr(10) ORDER BY c)) AS h
                FROM c2 GROUP BY b),
         c3 AS (
           SELECT q.sb AS b,
                  'S|' || pnt || '|' || coalesce(ho.h, ont) || '|' || gnt AS c
           FROM q LEFT JOIN h2 ho ON q.ob = ho.b WHERE q.sb IS NOT NULL
           UNION ALL
           SELECT q.ob,
                  'O|' || pnt || '|' || coalesce(hs.h, snt) || '|' || gnt
           FROM q LEFT JOIN h2 hs ON q.sb = hs.b WHERE q.ob IS NOT NULL),
         h3 AS (SELECT b, md5(string_agg(c, chr(10) ORDER BY c)) AS h
                FROM c3 GROUP BY b)
         SELECT b AS blank, h AS canon FROM h3 ORDER BY blank""",
    "rdf_dedup_graphs" ->
      """WITH q AS (
           SELECT '<http://graft.example/g/n' || n_nationkey || '>' AS g,
                  'x' AS sb, 'y' AS ob,
                  '<http://graft.example/hasRegion>' AS pnt,
                  '_:x' AS snt, '_:y' AS ont
           FROM nation
           UNION ALL
           SELECT '<http://graft.example/g/n' || n_nationkey || '>',
                  'y', NULL, '<http://graft.example/rname>',
                  '_:y', chr(34) || r_name || chr(34)
           FROM nation JOIN region ON n_regionkey = r_regionkey),
         bl AS (SELECT DISTINCT g, sb AS b FROM q WHERE sb IS NOT NULL
                UNION SELECT DISTINCT g, ob FROM q WHERE ob IS NOT NULL),
         h0 AS (SELECT g, b, 'init' AS h FROM bl),
         c1 AS (
           SELECT q.g, q.sb AS b, 'S|' || pnt || '|' || coalesce(ho.h, ont) AS c
           FROM q LEFT JOIN h0 ho ON q.g = ho.g AND q.ob = ho.b
           WHERE q.sb IS NOT NULL
           UNION ALL
           SELECT q.g, q.ob, 'O|' || pnt || '|' || coalesce(hs.h, snt)
           FROM q LEFT JOIN h0 hs ON q.g = hs.g AND q.sb = hs.b
           WHERE q.ob IS NOT NULL),
         h1 AS (SELECT g, b, md5(string_agg(c, chr(10) ORDER BY c)) AS h
                FROM c1 GROUP BY g, b),
         c2 AS (
           SELECT q.g, q.sb AS b, 'S|' || pnt || '|' || coalesce(ho.h, ont) AS c
           FROM q LEFT JOIN h1 ho ON q.g = ho.g AND q.ob = ho.b
           WHERE q.sb IS NOT NULL
           UNION ALL
           SELECT q.g, q.ob, 'O|' || pnt || '|' || coalesce(hs.h, snt)
           FROM q LEFT JOIN h1 hs ON q.g = hs.g AND q.sb = hs.b
           WHERE q.ob IS NOT NULL),
         h2 AS (SELECT g, b, md5(string_agg(c, chr(10) ORDER BY c)) AS h
                FROM c2 GROUP BY g, b),
         c3 AS (
           SELECT q.g, q.sb AS b, 'S|' || pnt || '|' || coalesce(ho.h, ont) AS c
           FROM q LEFT JOIN h2 ho ON q.g = ho.g AND q.ob = ho.b
           WHERE q.sb IS NOT NULL
           UNION ALL
           SELECT q.g, q.ob, 'O|' || pnt || '|' || coalesce(hs.h, snt)
           FROM q LEFT JOIN h2 hs ON q.g = hs.g AND q.sb = hs.b
           WHERE q.ob IS NOT NULL),
         h3 AS (SELECT g, b, md5(string_agg(c, chr(10) ORDER BY c)) AS h
                FROM c3 GROUP BY g, b),
         ln AS (
           SELECT q.g,
                  coalesce('_:' || hs.h, snt) || ' ' || pnt || ' ' ||
                  coalesce('_:' || ho.h, ont) AS line
           FROM q LEFT JOIN h3 hs ON q.g = hs.g AND q.sb = hs.b
                  LEFT JOIN h3 ho ON q.g = ho.g AND q.ob = ho.b),
         fp AS (SELECT g, md5(string_agg(line, chr(10) ORDER BY line)) AS fingerprint
                FROM ln GROUP BY g)
         SELECT fingerprint, COUNT(*) AS n_graphs, MIN(g) AS first_graph
         FROM fp GROUP BY fingerprint ORDER BY fingerprint""",
    "rdf_export_turtle" ->
      """SELECT line FROM (
           SELECT 'reg:' || r_regionkey || ' a grf:Region ; grf:name ' ||
                  chr(34) || r_name || chr(34) || ' .' AS line
           FROM region
           UNION ALL
           SELECT '<http://graft.example/g/meta> { reg:' || r_regionkey ||
                  ' grf:esc ' || chr(34) || r_name || chr(92) || 'n' ||
                  chr(34) || ', ' || chr(34) || chr(92) || chr(34) ||
                  r_name || chr(34) || ' . }'
           FROM region)
         ORDER BY line"""
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connect._
import graft.rdf.Term
import graft.sparql.Sparql
import graft.store.QuadStore

/** SPARQL-layer verify entries: the reference harness's own count
  * query answered over a projector-ingested store, and a BGP join
  * answered against the relational oracle.
  */
object SparqlQueries {

  private val NS = "http://graft.example/"

  /** Fixture stores built ONCE per JVM per (name, sfDir): in these
    * entries the operator under test is the QUERY, so the bench should
    * time the query, not a per-rep store rebuild (round-5 verdict,
    * "bench fixture/query separation"). The projector-driven entries
    * (sparql_count, sparql_update) still build per call — there the
    * ingest/update machinery IS the measured operator.
    */
  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[(String, String), QuadStore]()

  /** Subject-bucketed tables written once per JVM per (table, sfDir) —
    * the layout write is the pay-once cost, the entries measure reads.
    */
  private val bucketedTables =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def fixture(name: String, dir: String, s: SparkSession)(
      build: QuadStore => Unit): QuadStore =
    fixtures.computeIfAbsent((name, dir), { _ =>
      val store = new QuadStore(s, graft.Harness.scratchDir(name).toString)
      build(store)
      store
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the DockerTestConfigFK golden-count scenario end-to-end: turtle +
    // nquads + patch events through the projector, counted with the
    // reference's exact verification query (DockerTestConfigFK.java:394)
    "sparql_count" -> { (s, _) =>
      val store = new QuadStore(s, graft.Harness.scratchDir("sqstore").toString)
      val events = Seq(
        ("@prefix ex: <http://example/> .\nex:s ex:p ex:o .\n", "text/turtle"),
        ("<http://example/s1> <http://example/p1> <http://example/o1> .\n",
          "application/n-quads"),
        ("TX .\nA <http://example/s> <http://example/p> \"two\" <http://example/patch> .\n" +
          "A <http://example/s> <http://example/p> \"one\" <http://example/patch> .\nTC .\n",
          "application/rdf-patch")
      ).zipWithIndex.map { case ((body, ct), i) =>
        Event("t", 0, i.toLong, Array.empty, body.getBytes("UTF-8"),
          Map("Content-Type" -> ct))
      }
      val p = new Projector(new MemoryEventSource(events), new QuadStoreSink(s, store))
      p.runToCompletion()
      Sparql.execute(store.quads(),
        "SELECT (count(*) AS ?C) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }")
    },
    // BGP self-join answered from SPARQL over a store built from the
    // nation table; the oracle is the relational truth
    "sparql_bgp" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqbgp", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
          .as[(Long, String, Long)].collect()
        val quads = rows.toSeq.flatMap { case (k, name, rk) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}name"), Term.lit(name)),
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}regionkey"),
              Term.typed(rk.toString, Term.XSD_INTEGER)))
        }
        st.addQuads(0, quads)
      }
      val res = Sparql.execute(store.quads(),
        s"SELECT ?s ?name ?rk { ?s <${NS}name> ?name . ?s <${NS}regionkey> ?rk } ORDER BY ?s")
      res.select(
        regexp_extract(col("s").getField("lex"), "nation/(\\d+)$", 1).cast("int").as("n_nationkey"),
        col("name").getField("lex").as("n_name"),
        col("rk").getField("lex").cast("int").as("n_regionkey"))
    },
    // Subject-bucketed query layout (QuadStore.writeSubjectBucketed):
    // a 3-leaf star BGP answered over the bucketed table — the
    // zero-exchange plan shape (pinned in SparqlSpec with broadcast
    // disabled); results must equal the relational oracle regardless
    // of layout.
    "sparql_bucketed_star" -> { (s, dir) =>
      import s.implicits._
      val table = s"sparql_spo_bucketed_${math.abs(dir.hashCode)}"
      fixture("sqbstar", dir, s) { st =>
        val rows = Tables.t(s, dir, "supplier")
          .select(col("s_suppkey").cast("long"), col("s_name"),
            col("s_nationkey").cast("long"), col("s_acctbal"))
          .as[(Long, String, Long, Double)].collect()
        val quads = rows.toSeq.flatMap { case (k, name, nk, bal) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}supp/$k"),
              Term.iri(s"${NS}name"), Term.lit(name)),
            graft.rdf.Quad(null, Term.iri(s"${NS}supp/$k"),
              Term.iri(s"${NS}nationkey"), Term.typed(nk.toString, Term.XSD_INTEGER)),
            graft.rdf.Quad(null, Term.iri(s"${NS}supp/$k"),
              Term.iri(s"${NS}acctbal"), Term.typed(bal.toString, Term.XSD_DOUBLE)))
        }
        st.addQuads(0, quads)
        st.writeSubjectBucketed(table, graft.Harness.scratchDir("spob").toString)
      }
      val res = Sparql.execute(s.table(table),
        s"SELECT ?s ?name ?nk ?bal { ?s <${NS}name> ?name . " +
          s"?s <${NS}nationkey> ?nk . ?s <${NS}acctbal> ?bal } ORDER BY ?s")
      res.select(
        regexp_extract(col("s").getField("lex"), "supp/(\\d+)$", 1)
          .cast("long").as("s_suppkey"),
        col("name").getField("lex").as("s_name"),
        col("nk").getField("lex").cast("int").as("s_nationkey"),
        col("bal").getField("lex").cast("double").as("s_acctbal"))
    },
    // Cost-based BGP ordering from the store's own maintained census:
    // an AggView grouped by predicate feeds executeWithStats, which
    // breaks same-boundedness-class ties by real leaf cardinality
    // (BgpReorderSpec pins the picked orders; this entry pins that the
    // stats path returns oracle-exact results end-to-end).
    "sparql_stats_bgp" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqstats", dir, s) { st =>
        val rows = Tables.t(s, dir, "supplier")
          .select(col("s_suppkey").cast("long"), col("s_name"),
            col("s_nationkey").cast("long"))
          .as[(Long, String, Long)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, name, nk) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}supp/$k"),
              Term.iri(s"${NS}name"), Term.lit(name)),
            graft.rdf.Quad(null, Term.iri(s"${NS}supp/$k"),
              Term.iri(s"${NS}nationkey"),
              Term.typed(nk.toString, Term.XSD_INTEGER)))
        })
      }
      val view = new graft.store.AggView(s, store,
        graft.Harness.scratchDir("sqstatsview").toString, Seq("predicate"))
      view.refresh()
      val res = Sparql.executeWithStats(store.quads(),
        s"SELECT ?s ?name ?nk { ?s <${NS}name> ?name . " +
          s"?s <${NS}nationkey> ?nk } ORDER BY ?s",
        view.predicateCounts())
      res.select(
        regexp_extract(col("s").getField("lex"), "supp/(\\d+)$", 1)
          .cast("long").as("s_suppkey"),
        col("name").getField("lex").as("s_name"),
        col("nk").getField("lex").cast("int").as("s_nationkey"))
    },
    // FILTER < on numeric typed literals must use VALUE order: keys
    // 0..24 as "k"^^xsd:integer, < "10"^^xsd:integer keeps 0..9 (ten
    // rows); lexicographic order would keep only {"0","1"}
    "sparql_filter_numeric" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqfn", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long")).as[Long].collect()
        st.addQuads(0, rows.toSeq.map { k =>
          graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}key"),
            Term.typed(k.toString, Term.XSD_INTEGER))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?k { ?s <${NS}key> ?k FILTER (?k < "10"^^<${Term.XSD_INTEGER}>) }""")
      res.select(col("k").getField("lex").cast("int").as("n_nationkey"))
        .orderBy(col("n_nationkey"))
    },
    // the reference's dataset-name probe shape
    // (KafkaConnectorAssembler.java:380-411): OPTIONAL that may not
    // match + BIND(COALESCE(?N1, ?N2, '')) with ?N2 never bound —
    // always exactly one row per probed node
    "sparql_optional_bind" -> { (s, dir) =>
      val store = fixture("sqob", dir, s) { st =>
        st.addQuads(0, Seq(
          graft.rdf.Quad(null, Term.iri(s"${NS}conn1"), Term.iri(s"${NS}serviceName"),
            Term.lit("/ds1"))))
      }
      def probe(node: String) = Sparql.execute(store.quads(),
        s"""SELECT ?n { OPTIONAL { <$node> <${NS}serviceName> ?N1 } BIND(COALESCE(?N1, ?N2, '') AS ?n) }""")
      probe(s"${NS}conn1").unionByName(probe(s"${NS}conn2"))
        .select(col("n").getField("lex").as("name"))
        .orderBy(col("name"))
    },
    // GROUP BY + COUNT(*) + COUNT(?v) over an OPTIONAL: nations per
    // region, counting comments only for keys < 10 (bound solutions)
    "sparql_group_by" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqgb", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
          .as[(Long, Long)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, rk) =>
          val base = graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"),
            Term.iri(s"${NS}regionkey"), Term.typed(rk.toString, Term.XSD_INTEGER))
          if (k < 10)
            Seq(base, graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"),
              Term.iri(s"${NS}comment"), Term.lit(s"c$k")))
          else Seq(base)
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?rk (COUNT(*) AS ?n) (COUNT(?c) AS ?nc)
            { ?s <${NS}regionkey> ?rk OPTIONAL { ?s <${NS}comment> ?c } }
            GROUP BY ?rk""")
      res.select(col("rk").getField("lex").cast("int").as("n_regionkey"),
          col("n"), col("nc"))
        .orderBy(col("n_regionkey"))
    },
    // SPARQL Update payloads (`application/sparql-update`, the `.ru`
    // content type, FKLib.java:55-69) through the projector: INSERT
    // DATA, a DELETE/INSERT WHERE rewrite resolved against the
    // sequential in-batch state, DELETE DATA, CLEAR GRAPH, and a
    // USING-scoped INSERT WHERE — the final store state is the
    // checked result
    "sparql_update" -> { (s, _) =>
      val store = new QuadStore(s, graft.Harness.scratchDir("squpd").toString)
      val events = Seq(
        ("<http://x/a> <http://x/p> \"keep\" .\n" +
         "<http://x/a> <http://x/old> \"1\" .\n" +
         "<http://x/b> <http://x/old> \"2\" .\n" +
         "<http://x/u1> <http://x/q> \"u\" <http://x/gu> .\n", "application/n-quads"),
        ("""PREFIX x: <http://x/>
           |INSERT DATA { x:c x:old "3" . GRAPH x:g { x:d x:p "g1" } } ;
           |DELETE { ?s x:old ?o } INSERT { ?s x:new ?o } WHERE { ?s x:old ?o } ;
           |DELETE DATA { x:b x:new "2" } ;
           |CLEAR GRAPH x:g ;
           |INSERT { ?s x:fromgu ?o } USING x:gu WHERE { ?s x:q ?o }""".stripMargin,
          "application/sparql-update")
      ).zipWithIndex.map { case ((body, ct), i) =>
        Event("t", 0, i.toLong, Array.empty, body.getBytes("UTF-8"),
          Map("Content-Type" -> ct))
      }
      val p = new Projector(new MemoryEventSource(events), new QuadStoreSink(s, store))
      p.runToCompletion()
      store.quads().select(
          col("subject").getField("lex").as("s"),
          col("predicate").getField("lex").as("p"),
          col("obj").getField("lex").as("o"))
        .orderBy(col("s"), col("p"), col("o"))
    },
    // numeric aggregates over typed-literal values, grouped, checked
    // against the relational truth (SUM/MIN/MAX exact through DECIMAL;
    // AVG covered in SparqlSpec where division exactness is controlled)
    "sparql_agg_funcs" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqagg", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
          .as[(Long, Long)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, rk) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}regionkey"),
              Term.typed(rk.toString, Term.XSD_INTEGER)),
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}key"),
              Term.typed(k.toString, Term.XSD_INTEGER)))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?rk (SUM(?k) AS ?sum_k) (MIN(?k) AS ?min_k) (MAX(?k) AS ?max_k)
            { ?s <${NS}regionkey> ?rk . ?s <${NS}key> ?k }
            GROUP BY ?rk""")
      res.select(col("rk").getField("lex").cast("int").as("n_regionkey"),
          col("sum_k").cast("long").as("sum_k"),
          // MIN/MAX return the extreme ORIGINAL TERM (strings/dates
          // have a defined MIN too); numeric consumers read the lex
          col("min_k").getField("lex").cast("long").as("min_k"),
          col("max_k").getField("lex").cast("long").as("max_k"))
        .orderBy(col("n_regionkey"))
    },
    // transitive closure over a chain built from nation keys
    // (k → k+1); the oracle replays it with a recursive CTE
    "sparql_path" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqpath", dir, s) { st =>
        val keys = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long")).as[Long].collect().sorted
        st.addQuads(0, keys.toSeq.filter(_ < keys.max).map { k =>
          graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}next"),
            Term.iri(s"${NS}nation/${k + 1}"))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"SELECT ?s ?o { ?s <${NS}next>+ ?o }")
      res.select(
          regexp_extract(col("s").getField("lex"), "nation/(\\d+)$", 1).cast("int").as("s"),
          regexp_extract(col("o").getField("lex"), "nation/(\\d+)$", 1).cast("int").as("o"))
        .orderBy(col("s"), col("o"))
    },
    // expression projections over aggregates (§18.4) with an aggregate
    // expression ORDER BY key and COUNT(DISTINCT *): groups are built
    // as k % 5 so SUM(?a)/SUM(?b) terminates exactly (x.0 / x.5) on
    // both engines — the division itself runs in exact DECIMAL
    "sparql_agg_expr" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqax", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long")).as[Long].collect()
        st.addQuads(0, rows.toSeq.flatMap { k =>
          val subj = Term.iri(s"${NS}nation/$k")
          Seq(
            graft.rdf.Quad(null, subj, Term.iri(s"${NS}grp"),
              Term.typed((k % 5).toString, Term.XSD_INTEGER)),
            graft.rdf.Quad(null, subj, Term.iri(s"${NS}a"),
              Term.typed(k.toString, Term.XSD_INTEGER)),
            graft.rdf.Quad(null, subj, Term.iri(s"${NS}b"),
              Term.typed("2", Term.XSD_INTEGER)))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?g (SUM(?a)/SUM(?b) AS ?r)
                   ((MAX(?a) - MIN(?a)) * 2 AS ?span2)
                   (COUNT(DISTINCT *) AS ?nd)
            { ?s <${NS}grp> ?g . ?s <${NS}a> ?a . ?s <${NS}b> ?b }
            GROUP BY ?g
            ORDER BY DESC(SUM(?a) + 1)""")
      res.select(col("g").getField("lex").cast("int").as("g"),
          col("r").getField("lex").cast("double").as("r"),
          col("span2").getField("lex").cast("long").as("span2"),
          col("nd").cast("long").as("nd"))
        .orderBy(col("g"))
    },
    // RDF-star end-to-end: per-nation provenance stated ABOUT quoted
    // triples (Turtle-star annotation syntax through the projector),
    // then SPARQL-star destructures them — << ?s ?p ?o >> pattern
    // matching, SUBJECT/OBJECT accessors, and an ISTRIPLE filter. The
    // oracle re-derives the same (nationkey, name, source) rows
    // relationally.
    "sparql_star" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqstar", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"))
          .as[(Long, String)].collect()
        // half via annotation syntax (asserts the base triple too),
        // half as bare quoted-triple statements (base NOT asserted)
        val doc = rows.toSeq.sortBy(_._1).map { case (k, name) =>
          if (k % 2 == 0)
            s"""<${NS}n/$k> <${NS}name> "$name" {| <${NS}src> <${NS}census/$k> |} ."""
          else
            s"""<< <${NS}n/$k> <${NS}name> "$name" >> <${NS}src> <${NS}survey/$k> ."""
        }.mkString("\n")
        st.addQuads(0, graft.rdf.TurtleParser.parseTurtle(doc))
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?t ?src (SUBJECT(?t) AS ?su) (OBJECT(?t) AS ?nm)
            { ?t <${NS}src> ?src FILTER(ISTRIPLE(?t)) }""")
      res.select(
          regexp_extract(col("su").getField("lex"), "n/(\\d+)$", 1).cast("long").as("k"),
          col("nm").getField("lex").as("name"),
          col("src").getField("lex").as("src"),
          // asserted twin exists only for the annotation-syntax half
          regexp_extract(col("src").getField("lex"), "(census|survey)", 1).as("kind"))
        .orderBy(col("k"))
    },
    // property paths under GRAPH ?var: two disjoint chains in two
    // named graphs; the transitive closure must stay inside each graph
    // (a cross-graph pair like 11→13 would be a correctness bug)
    "sparql_path_graph" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqpg", dir, s) { st =>
        val keys = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long")).as[Long].collect().sorted
        st.addQuads(0, keys.toSeq.filter(_ < keys.max).map { k =>
          val g = if (k < 12) "a" else "b"
          graft.rdf.Quad(Term.iri(s"${NS}g/$g"), Term.iri(s"${NS}nation/$k"),
            Term.iri(s"${NS}next"), Term.iri(s"${NS}nation/${k + 1}"))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"SELECT ?g ?s ?o { GRAPH ?g { ?s <${NS}next>+ ?o } }")
      res.select(
          regexp_extract(col("g").getField("lex"), "g/(\\w)$", 1).as("g"),
          regexp_extract(col("s").getField("lex"), "nation/(\\d+)$", 1).cast("int").as("s"),
          regexp_extract(col("o").getField("lex"), "nation/(\\d+)$", 1).cast("int").as("o"))
        .orderBy(col("g"), col("s"), col("o"))
    },
    // HAVING + the set-oriented aggregates: GROUP_CONCAT (sorted-lex
    // join — deterministic where the spec leaves order open), SAMPLE
    // (lexically-least choice), COUNT(DISTINCT). Nations keyed < 13 so
    // region group sizes differ and HAVING actually cuts
    "sparql_having" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqhav", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
          .as[(Long, String, Long)].collect()
        st.addQuads(0, rows.toSeq.filter(_._1 < 13).flatMap { case (k, name, rk) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}name"),
              Term.lit(name)),
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}regionkey"),
              Term.typed(rk.toString, Term.XSD_INTEGER)))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?rk (COUNT(*) AS ?n) (GROUP_CONCAT(?name; SEPARATOR=",") AS ?names)
                   (SAMPLE(?name) AS ?one) (COUNT(DISTINCT ?name) AS ?nd)
            { ?s <${NS}regionkey> ?rk . ?s <${NS}name> ?name }
            GROUP BY ?rk
            HAVING (COUNT(*) >= "3"^^<${Term.XSD_INTEGER}>)""")
      res.select(col("rk").getField("lex").cast("int").as("n_regionkey"),
          col("n"), col("names"), col("one"), col("nd"))
        .orderBy(col("n_regionkey"))
    },
    // sub-SELECT (spec §12): the per-group argmax idiom — an inner
    // grouped MAX joined back on BOTH the group key and the aggregate
    // value. MAX compiles to max_by over the numeric value, returning
    // the ORIGINAL term, so the join with outer bindings is structural
    "sparql_subquery" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqsub", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
          .as[(Long, Long)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, rk) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}key"),
              Term.typed(k.toString, Term.XSD_INTEGER)),
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}regionkey"),
              Term.typed(rk.toString, Term.XSD_INTEGER)))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?rk ?s {
              ?s <${NS}key> ?m . ?s <${NS}regionkey> ?rk .
              { SELECT ?rk (MAX(?k) AS ?m)
                { ?x <${NS}regionkey> ?rk . ?x <${NS}key> ?k } GROUP BY ?rk }
            }""")
      res.select(col("rk").getField("lex").cast("int").as("n_regionkey"),
          regexp_extract(col("s").getField("lex"), "nation/(\\d+)$", 1)
            .cast("int").as("n_nationkey"))
        .orderBy(col("n_regionkey"))
    },
    // DESCRIBE: one constant IRI (pushed subject filter) + a
    // WHERE-bound variable (distinct semi-join) — every quad of the
    // region-0 nations plus nation/0 via its IRI, deduplicated
    "sparql_describe" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqdesc", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
          .as[(Long, String, Long)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, name, rk) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}name"), Term.lit(name)),
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}regionkey"),
              Term.typed(rk.toString, Term.XSD_INTEGER)))
        })
      }
      Sparql.execute(store.quads(),
          s"""DESCRIBE <${NS}nation/0> ?s WHERE {
                ?s <${NS}regionkey> "0"^^<${Term.XSD_INTEGER}> }""")
        .select(col("subject.lex").as("s"), col("predicate.lex").as("p"),
          col("obj.lex").as("o"))
        .orderBy(col("s"), col("p"), col("o"))
    },
    // negation: EXISTS / NOT EXISTS (semi/anti join on shared-var
    // compatibility) and MINUS — including the semantic corner where
    // they disagree: MINUS with disjoint domains removes NOTHING while
    // NOT EXISTS over the same non-empty pattern removes everything
    "sparql_negation" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqneg", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long")).as[Long].collect()
        st.addQuads(0, rows.toSeq.flatMap { k =>
          val key = graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"),
            Term.iri(s"${NS}key"), Term.typed(k.toString, Term.XSD_INTEGER))
          if (k < 10)
            Seq(key, graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"),
              Term.iri(s"${NS}comment"), Term.lit(s"c$k")))
          else Seq(key)
        })
      }
      def run(label: String, q: String) =
        Sparql.execute(store.quads(), q).select(lit(label).as("method"),
          regexp_extract(col("s").getField("lex"), "nation/(\\d+)$", 1)
            .cast("int").as("n_nationkey"))
      run("exists",
          s"SELECT ?s { ?s <${NS}key> ?k FILTER EXISTS { ?s <${NS}comment> ?c } }")
        .unionByName(run("not_exists",
          s"SELECT ?s { ?s <${NS}key> ?k FILTER NOT EXISTS { ?s <${NS}comment> ?c } }"))
        .unionByName(run("minus",
          s"SELECT ?s { ?s <${NS}key> ?k MINUS { ?s <${NS}comment> ?c } }"))
        .unionByName(run("minus_disjoint",
          s"SELECT ?s { ?s <${NS}key> ?k MINUS { ?x <${NS}comment> ?c } }"))
        .orderBy(col("method"), col("n_nationkey"))
    },
    // EXISTS as an EXPRESSION operand (§17.4.1.4): combinable with
    // || / && / ! inside one FILTER constraint — compiled as a mark
    // column (distinct shared bindings → left-semi probe → equi-join
    // back), unlike the standalone FILTER EXISTS semi-join form
    "sparql_exists_expr" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqexe", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long")).as[Long].collect()
        st.addQuads(0, rows.toSeq.flatMap { k =>
          val key = graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"),
            Term.iri(s"${NS}key"), Term.typed(k.toString, Term.XSD_INTEGER))
          if (k < 10)
            Seq(key, graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"),
              Term.iri(s"${NS}comment"), Term.lit(s"c$k")))
          else Seq(key)
        })
      }
      def run(label: String, filter: String) =
        Sparql.execute(store.quads(),
          s"SELECT ?s { ?s <${NS}key> ?k FILTER($filter) }")
          .select(lit(label).as("method"),
            regexp_extract(col("s").getField("lex"), "nation/(\\d+)$", 1)
              .cast("int").as("n_nationkey"))
      run("or_high", s"EXISTS { ?s <${NS}comment> ?c } || ?k >= 20")
        .unionByName(run("and_low",
          s"NOT EXISTS { ?s <${NS}comment> ?c } && ?k < 20"))
        .unionByName(run("bang",
          s"!EXISTS { ?s <${NS}comment> ?c } && ?k < 20"))
        .unionByName(run("unshared",
          s"EXISTS { ?x <${NS}comment> ?c } && ?k < 5"))
        .orderBy(col("method"), col("n_nationkey"))
    },
    // the round-5 expression engine: arithmetic with precedence and
    // type promotion (integer stays integer, division is decimal),
    // IF conditionals, IN lists, and an arithmetic FILTER — all over
    // typed-literal values with bare-numeric literals in the query
    "sparql_expr_arith" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqea", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long")).as[Long].collect()
        st.addQuads(0, rows.toSeq.map { k =>
          graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}key"),
            Term.typed(k.toString, Term.XSD_INTEGER))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?k ?dbl ?q ?cls {
              ?s <${NS}key> ?k
              BIND(?k * 2 + 1 AS ?dbl)
              BIND(?k / 4 AS ?q)
              BIND(IF(?k < 10, "low", "high") AS ?cls)
              FILTER((?k + 5) * 2 <= 40 && ?k NOT IN (2, 4))
            } ORDER BY DESC(?k) LIMIT 10""")
      res.select(col("k").getField("lex").cast("int").as("k"),
          col("dbl").getField("lex").cast("long").as("dbl"),
          col("q").getField("lex").cast("double").as("q"),
          col("cls").getField("lex").as("cls"))
        .orderBy(col("k"))
    },
    // string scalar functions over nation names, matched against the
    // relational truth computed by DuckDB's own string functions
    "sparql_expr_str" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqes", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_name")).as[String].collect()
        st.addQuads(0, rows.toSeq.map { n =>
          graft.rdf.Quad(null, Term.iri(s"${NS}nation/$n"), Term.iri(s"${NS}name"),
            Term.lit(n))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?name ?len ?lc ?cat ?pre ?aft {
              ?s <${NS}name> ?name
              BIND(STRLEN(?name) AS ?len)
              BIND(LCASE(?name) AS ?lc)
              BIND(CONCAT(?name, "!") AS ?cat)
              BIND(SUBSTR(?name, 1, 3) AS ?pre)
              BIND(STRAFTER(?name, "_") AS ?aft)
              FILTER(STRSTARTS(?name, "NATION_1") || CONTAINS(?name, "_2"))
            }""")
      res.select(col("name").getField("lex").as("n_name"),
          col("len").getField("lex").cast("long").as("len"),
          col("lc").getField("lex").as("lc"),
          col("cat").getField("lex").as("cat"),
          col("pre").getField("lex").as("pre"),
          col("aft").getField("lex").as("aft"))
        .orderBy(col("n_name"))
    },
    // §17.4.4 hash builtins checked against DuckDB's own md5/sha256
    "sparql_expr_hash" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqhash", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_name")).as[String].collect()
        st.addQuads(0, rows.toSeq.map { n =>
          graft.rdf.Quad(null, Term.iri(s"${NS}nation/$n"), Term.iri(s"${NS}name"),
            Term.lit(n))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?name ?m ?sh {
              ?s <${NS}name> ?name
              BIND(MD5(?name) AS ?m)
              BIND(SHA256(?name) AS ?sh)
            }""")
      res.select(col("name").getField("lex").as("n_name"),
          col("m").getField("lex").as("m"),
          col("sh").getField("lex").as("sh"))
        .orderBy(col("n_name"))
    },
    // §17.4.5 date accessors over xsd:date literals built from the
    // orders table, checked against DuckDB's year/month/day
    "sparql_expr_datetime" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqdt", dir, s) { st =>
        val rows = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").cast("long"), col("o_orderdate").cast("string"))
          .orderBy(col("o_orderkey")).limit(50)
          .as[(Long, String)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, d) =>
          // a dateTime whose zone cycles by key: with-zone rows exercise
          // TZ/TIMEZONE, the zone-less row the expression-error path
          val zone = (k % 4) match {
            case 0 => "Z"; case 1 => "+05:30"; case 2 => "-05:00"; case _ => ""
          }
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}order/$k"), Term.iri(s"${NS}key"),
              Term.typed(k.toString, Term.XSD_INTEGER)),
            graft.rdf.Quad(null, Term.iri(s"${NS}order/$k"), Term.iri(s"${NS}date"),
              Term.typed(d, Term.XSD_DATE)),
            graft.rdf.Quad(null, Term.iri(s"${NS}order/$k"), Term.iri(s"${NS}ts"),
              Term.typed(s"${d}T10:30:02$zone", Term.XSD_DATETIME)))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?k (YEAR(?d) AS ?y) (MONTH(?d) AS ?mo) (DAY(?d) AS ?dd)
                   (TZ(?t) AS ?tz) (TIMEZONE(?t) AS ?tzd) {
              ?s <${NS}key> ?k . ?s <${NS}date> ?d . ?s <${NS}ts> ?t
            }""")
      res.select(col("k").getField("lex").cast("long").as("k"),
          col("y").getField("lex").cast("int").as("y"),
          col("mo").getField("lex").cast("int").as("mo"),
          col("dd").getField("lex").cast("int").as("dd"),
          col("tz").getField("lex").as("tz"),
          col("tzd").getField("lex").as("tzd"))
        .orderBy(col("k"))
    },
    // nondeterministic builtins under a FIXED EvalContext (clock +
    // seed): NOW() gates on the injected instant — DuckDB re-derives
    // the surviving row count from the same date cut and lexical
    // forms — while the STRUUID()/RAND() streams are checked as facts a
    // literal oracle CAN assert: per-row v4 shape, all-distinct, in [0,1)
    "sparql_nondet" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqnd", dir, s) { st =>
        val rows = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").cast("long"), col("o_orderdate").cast("string"))
          .orderBy(col("o_orderkey")).limit(50)
          .as[(Long, String)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, d) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}order/$k"), Term.iri(s"${NS}key"),
              Term.typed(k.toString, Term.XSD_INTEGER)),
            graft.rdf.Quad(null, Term.iri(s"${NS}order/$k"), Term.iri(s"${NS}when"),
              Term.typed(d + "T00:00:00Z", Term.XSD_DATETIME)))
        })
      }
      val ctx = Sparql.EvalContext(
        java.time.Instant.parse("1998-01-01T00:00:00Z"), seed = 12345L)
      val res = Sparql.execute(store.quads(),
        s"""SELECT ?k ?u ?r {
              ?s <${NS}key> ?k . ?s <${NS}when> ?d
              FILTER(?d < NOW())
              BIND(STRUUID() AS ?u) BIND(RAND() AS ?r)
            }""", ctx)
      val shape = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-a[0-9a-f]{3}-[0-9a-f]{12}$"
      res.select(col("u").getField("lex").as("u"),
          col("r").getField("lex").cast("double").as("r"))
        .agg(count(lit(1)).as("n"), count_distinct(col("u")).as("nu"),
          (min(col("u").rlike(shape).cast("int")) === 1).as("ok"),
          (min((col("r") >= 0 && col("r") < 1).cast("int")) === 1).as("rok"))
    },
    // FROM dataset clauses: nation quads split by key parity into two
    // named graphs; one probe reads a single graph as the default,
    // another merges both — each checked against the relational truth
    // full group patterns inside GRAPH (§18.2.5.1): part "a" runs
    // OPTIONAL + a block-scoped FILTER under GRAPH ?g (the optional
    // extends within the row's own graph only); part "b" is a leading
    // OPTIONAL whose bare rows must still carry the ?g binding — the
    // per-graph evaluation the engine expresses by seeding the block
    // with the named-graph-names relation.
    "sparql_graph_group" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqgg", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
          .as[(Long, String, Long)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, name, rk) =>
          val g = Term.iri(s"${NS}g/${if (k % 2 == 0) "even" else "odd"}")
          Seq(graft.rdf.Quad(g, Term.iri(s"${NS}nation/$k"),
              Term.iri(s"${NS}regionkey"), Term.typed(rk.toString, Term.XSD_INTEGER))) ++
            (if (k % 3 == 0)
              Seq(graft.rdf.Quad(g, Term.iri(s"${NS}nation/$k"),
                Term.iri(s"${NS}name"), Term.lit(name)))
            else Seq.empty) ++
            (if (k == 0)
              Seq(graft.rdf.Quad(g, Term.iri(s"${NS}nation/$k"),
                Term.iri(s"${NS}name0"), Term.lit(name)))
            else Seq.empty)
        })
      }
      val a = Sparql.execute(store.quads(),
        s"""SELECT ?g ?s ?nm { GRAPH ?g {
              ?s <${NS}regionkey> ?rk
              OPTIONAL { ?s <${NS}name> ?nm }
              FILTER(?rk >= 1)
            } }""")
        .select(lit("a").as("part"),
          regexp_extract(col("g").getField("lex"), "g/(\\w+)$", 1).as("g"),
          regexp_extract(col("s").getField("lex"), "nation/(\\d+)$", 1)
            .cast("int").as("s"),
          col("nm").getField("lex").as("nm"))
      val b = Sparql.execute(store.quads(),
        s"SELECT ?g ?nm { GRAPH ?g { OPTIONAL { ?x <${NS}name0> ?nm } } }")
        .select(lit("b").as("part"),
          regexp_extract(col("g").getField("lex"), "g/(\\w+)$", 1).as("g"),
          lit(null).cast("int").as("s"),
          col("nm").getField("lex").as("nm"))
      a.unionByName(b).orderBy(col("part"), col("g"), col("s"), col("nm"))
    },
    "sparql_from" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqfrom", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
          .as[(Long, Long)].collect()
        st.addQuads(0, rows.toSeq.map { case (k, rk) =>
          graft.rdf.Quad(Term.iri(s"${NS}g/${if (k % 2 == 0) "even" else "odd"}"),
            Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}regionkey"),
            Term.typed(rk.toString, Term.XSD_INTEGER))
        })
      }
      def probe(label: String, fromClause: String) =
        Sparql.execute(store.quads(),
          s"""SELECT ?rk (COUNT(*) AS ?n) $fromClause
              { ?s <${NS}regionkey> ?rk } GROUP BY ?rk""")
          .select(lit(label).as("part"),
            col("rk").getField("lex").cast("int").as("n_regionkey"), col("n"))
      probe("even", s"FROM <${NS}g/even>")
        .unionByName(probe("all", s"FROM <${NS}g/even> FROM <${NS}g/odd>"))
        .orderBy(col("part"), col("n_regionkey"))
    },
    // The subject-bucketed layout at event-table scale: two quads per
    // event built DISTRIBUTED from the parquet scan, paid into a
    // subject-bucketed table ONCE per JVM (the write is the layout
    // cost; the bench median over reps reads the cached table), then a
    // star BGP that plans with zero exchanges — the layout's whole
    // point. Exact relational oracle.
    "scale_bucketed_star" -> { (s, dir) =>
      def iriCol(lex: org.apache.spark.sql.Column) = Term.column(Term.IRI, lex)
      def litCol(lex: org.apache.spark.sql.Column) = Term.column(Term.LIT, lex)
      val table = s"scale_spo_bucketed_${math.abs(dir.hashCode)}"
      bucketedTables.computeIfAbsent((table, dir), { _ =>
        val ev = Tables.events(s, dir)
          .select(col("event_id").cast("long").as("id"),
            col("event_type"), col("user_id").cast("long").as("uid"))
        def quad(p: String, o: org.apache.spark.sql.Column) = ev.select(
          lit(null).cast(Term.Schema).as("graph"),
          iriCol(concat(lit(s"${NS}e/"), col("id").cast("string"))).as("subject"),
          iriCol(lit(s"${NS}$p")).as("predicate"),
          litCol(o).as("obj"))
        quad("type", col("event_type"))
          .unionByName(quad("user", col("uid").cast("string")))
          .write.mode("overwrite")
          .option("path", graft.Harness.scratchDir("scalespob").toString)
          .bucketBy(32, "subject").sortBy("subject")
          .format("parquet").saveAsTable(table)
        table
      })
      val res = Sparql.execute(s.table(table),
        s"SELECT ?e ?t ?u { ?e <${NS}type> ?t . ?e <${NS}user> ?u }")
      res.select(
          regexp_extract(col("e").getField("lex"), "e/(\\d+)$", 1)
            .cast("long").as("e"),
          col("t").getField("lex").as("t"),
          col("u").getField("lex").cast("long").as("u"))
        .orderBy(col("e"))
    },
    // RDF-star at event-table scale: quoted-triple provenance terms
    // are BUILT in executors (TermStar.quotedOf — a codegen'd concat
    // over the parquet scan, no store, no driver hop) and destructured
    // back by the SPARQL-star pattern (per-row canonical-lex parse via
    // the TermStarComponent expression); 10k/100k rows, exact oracle
    "scale_star" -> { (s, dir) =>
      def iriCol(lex: org.apache.spark.sql.Column) = Term.column(Term.IRI, lex)
      def litCol(lex: org.apache.spark.sql.Column) = Term.column(Term.LIT, lex)
      val quads = Tables.events(s, dir)
        .select(col("event_id").cast("long").as("id"), col("event_type"))
        .select(
          lit(null).cast(Term.Schema).as("graph"),
          graft.functions.TermStar.quotedOf(
            iriCol(concat(lit(s"${NS}e/"), col("id").cast("string"))),
            iriCol(lit(s"${NS}type")),
            litCol(col("event_type"))).as("subject"),
          iriCol(lit(s"${NS}observed")).as("predicate"),
          litCol(lit("1")).as("obj"))
      val res = Sparql.execute(quads,
        s"SELECT ?e ?t { << ?e <${NS}type> ?t >> <${NS}observed> ?c }")
      res.select(
          regexp_extract(col("e").getField("lex"), "e/(\\d+)$", 1).cast("long").as("e"),
          col("t").getField("lex").as("t"))
        .orderBy(col("e"))
    },
    // the transitive-closure fixpoint at event-table scale: ~10k/100k
    // edge quads built DISTRIBUTED straight from the parquet scan (no
    // store, no driver-side quad collection — Sparql.execute is
    // store-agnostic), chains of 20 → ~95k reachable pairs at sf0.01;
    // the oracle replays it with a recursive CTE
    "scale_sparql_path" -> { (s, dir) =>
      def node(c: org.apache.spark.sql.Column) =
        Term.column(Term.IRI, concat(lit(s"${NS}n/"), c.cast("string")))
      val nextIri = Term.iri(s"${NS}next")
      val quads = Tables.events(s, dir)
        .select(col("event_id").cast("long").as("id"))
        .filter(col("id") % 20 =!= 19)
        .select(
          lit(null).cast(Term.Schema).as("graph"),
          node(col("id")).as("subject"),
          Term.column(nextIri).as("predicate"),
          node(col("id") + 1).as("obj"))
      val res = Sparql.execute(quads, s"SELECT ?s ?o { ?s <${NS}next>+ ?o }")
      res.select(
          regexp_extract(col("s").getField("lex"), "n/(\\d+)$", 1).cast("long").as("s"),
          regexp_extract(col("o").getField("lex"), "n/(\\d+)$", 1).cast("long").as("o"))
        .orderBy(col("s"), col("o"))
    },
    "scale_sparql_path_seeded" -> { (s, dir) =>
      // Same chain graph as scale_sparql_path, but the subject is
      // BOUND: `<n/40> :next+ ?o` must run as the seeded BFS (frontier
      // joins sized by the ≤19-node reachable set), never the
      // full-graph doubling closure it would share with the unseeded
      // entry. The wall-clock gap between the two entries IS the
      // measurement.
      def node(c: org.apache.spark.sql.Column) =
        Term.column(Term.IRI, concat(lit(s"${NS}n/"), c.cast("string")))
      val nextIri = Term.iri(s"${NS}next")
      val quads = Tables.events(s, dir)
        .select(col("event_id").cast("long").as("id"))
        .filter(col("id") % 20 =!= 19)
        .select(
          lit(null).cast(Term.Schema).as("graph"),
          node(col("id")).as("subject"),
          Term.column(nextIri).as("predicate"),
          node(col("id") + 1).as("obj"))
      val res = Sparql.execute(quads,
        s"SELECT ?o { <${NS}n/40> <${NS}next>+ ?o }")
      res.select(
          regexp_extract(col("o").getField("lex"), "n/(\\d+)$", 1)
            .cast("long").as("o"))
        .orderBy(col("o"))
    },
    // ASK existence checks: a matching and a non-matching pattern
    "sparql_ask" -> { (s, dir) =>
      val store = fixture("sqask", dir, s) { st =>
        st.addQuads(0, Seq(graft.rdf.Quad(null, Term.iri(s"${NS}x"),
          Term.iri(s"${NS}p"), Term.lit("v"))))
      }
      Sparql.execute(store.quads(), s"ASK { <${NS}x> ?p ?o }")
        .unionByName(Sparql.execute(store.quads(), s"ASK { <${NS}missing> ?p ?o }"))
        .orderBy(col("ask"))
    },
    // CONSTRUCT from a nation-derived store, checked against the
    // relational truth
    "sparql_construct" -> { (s, dir) =>
      import s.implicits._
      val store = fixture("sqcons", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
          .as[(Long, Long)].collect()
        st.addQuads(0, rows.toSeq.map { case (k, rk) =>
          graft.rdf.Quad(null, Term.iri(s"${NS}nation/$k"), Term.iri(s"${NS}regionkey"),
            Term.typed(rk.toString, Term.XSD_INTEGER))
        })
      }
      val res = Sparql.execute(store.quads(),
        s"CONSTRUCT { ?s <${NS}region> ?rk } WHERE { ?s <${NS}regionkey> ?rk }")
      res.select(
          regexp_extract(col("subject").getField("lex"), "nation/(\\d+)$", 1)
            .cast("int").as("n_nationkey"),
          col("obj").getField("lex").cast("int").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },
    // SPARQL 1.1 Federated Query: nations resolve their region name
    // through SERVICE against a loopback SPARQL Protocol endpoint
    // holding the region graph. The remote fetch happens ONCE at
    // compile time (a bounded HTTP body → LocalRelation), so Catalyst
    // broadcast-joins the federated side against the distributed local
    // plan — the server can stop before the result materializes.
    "sparql_service" -> { (s, dir) =>
      import s.implicits._
      val local = fixture("sqsvcn", dir, s) { st =>
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_name"), col("n_regionkey").cast("long"))
          .as[(String, Long)].collect()
        st.addQuads(0, rows.toSeq.zipWithIndex.flatMap { case ((name, rk), i) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$i"), Term.iri(s"${NS}name"),
              Term.lit(name)),
            graft.rdf.Quad(null, Term.iri(s"${NS}nation/$i"), Term.iri(s"${NS}regionkey"),
              Term.typed(rk.toString, Term.XSD_INTEGER)))
        })
      }
      val remote = fixture("sqsvcr", dir, s) { st =>
        val rows = Tables.t(s, dir, "region")
          .select(col("r_regionkey").cast("long"), col("r_name"))
          .as[(Long, String)].collect()
        st.addQuads(0, rows.toSeq.flatMap { case (k, name) =>
          Seq(
            graft.rdf.Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}rkey"),
              Term.typed(k.toString, Term.XSD_INTEGER)),
            graft.rdf.Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}rname"),
              Term.lit(name)))
        })
      }
      val srv = new graft.server.SparqlHttp(s)
      srv.registerDataset("regions", remote)
      srv.start()
      try {
        val res = Sparql.execute(local.quads(),
          s"""PREFIX x: <$NS>
             |SELECT ?nname ?rname WHERE {
             |  ?n x:name ?nname ; x:regionkey ?rk .
             |  SERVICE <http://127.0.0.1:${srv.boundPort}/regions/sparql> {
             |    ?r x:rkey ?rk ; x:rname ?rname
             |  }
             |} ORDER BY ?nname""".stripMargin)
        res.select(
          col("nname").getField("lex").as("n_name"),
          col("rname").getField("lex").as("r_name"))
      } finally srv.stop()
    }
  )

  val oracle: Map[String, String] = Map(
    "sparql_service" ->
      """SELECT n.n_name AS n_name, r.r_name AS r_name
         FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
         ORDER BY n_name""",
    "sparql_count" -> "SELECT 4::BIGINT AS C",
    "sparql_bgp" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "sparql_bucketed_star" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
         FROM supplier ORDER BY s_suppkey""",
    "scale_bucketed_star" ->
      """SELECT event_id AS e, event_type AS t, user_id AS u
         FROM events ORDER BY e""",
    "sparql_stats_bgp" ->
      """SELECT s_suppkey, s_name, s_nationkey
         FROM supplier ORDER BY s_suppkey""",
    "sparql_filter_numeric" ->
      "SELECT n_nationkey FROM nation WHERE n_nationkey < 10 ORDER BY n_nationkey",
    "sparql_optional_bind" ->
      "SELECT * FROM (VALUES (''), ('/ds1')) t(name) ORDER BY name",
    "sparql_group_by" ->
      """SELECT n_regionkey,
                COUNT(*)::BIGINT AS n,
                COUNT(CASE WHEN n_nationkey < 10 THEN 1 END)::BIGINT AS nc
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "sparql_update" ->
      """SELECT * FROM (VALUES
           ('http://x/a', 'http://x/new', '1'),
           ('http://x/a', 'http://x/p', 'keep'),
           ('http://x/c', 'http://x/new', '3'),
           ('http://x/u1', 'http://x/fromgu', 'u'),
           ('http://x/u1', 'http://x/q', 'u')) t(s, p, o)
         ORDER BY s, p, o""",
    "sparql_agg_funcs" ->
      """SELECT n_regionkey,
                SUM(n_nationkey)::BIGINT AS sum_k,
                MIN(n_nationkey)::BIGINT AS min_k,
                MAX(n_nationkey)::BIGINT AS max_k
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "sparql_path" ->
      """WITH RECURSIVE edges AS (
           SELECT n_nationkey AS s, n_nationkey + 1 AS o FROM nation
           WHERE n_nationkey < (SELECT max(n_nationkey) FROM nation)),
         reach(s, o) AS (
           SELECT s, o FROM edges
           UNION
           SELECT r.s, e.o FROM reach r JOIN edges e ON r.o = e.s)
         SELECT s::INT AS s, o::INT AS o FROM reach ORDER BY s, o""",
    "sparql_agg_expr" ->
      """SELECT (n_nationkey % 5)::INT AS g,
                SUM(n_nationkey)::DOUBLE / SUM(2) AS r,
                ((MAX(n_nationkey) - MIN(n_nationkey)) * 2)::BIGINT AS span2,
                COUNT(*)::BIGINT AS nd
         FROM nation GROUP BY 1 ORDER BY g""",
    "sparql_star" ->
      """SELECT n_nationkey AS k, n_name AS name,
                CASE WHEN n_nationkey % 2 = 0
                     THEN 'http://graft.example/census/' || n_nationkey
                     ELSE 'http://graft.example/survey/' || n_nationkey END AS src,
                CASE WHEN n_nationkey % 2 = 0 THEN 'census' ELSE 'survey' END AS kind
         FROM nation ORDER BY k""",
    "sparql_graph_group" ->
      """SELECT 'a' AS part,
                CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS g,
                n_nationkey::INT AS s,
                CASE WHEN n_nationkey % 3 = 0 THEN n_name END AS nm
         FROM nation WHERE n_regionkey >= 1
         UNION ALL
         SELECT 'b', 'even', NULL,
                (SELECT n_name FROM nation WHERE n_nationkey = 0)
         UNION ALL
         SELECT 'b', 'odd', NULL, NULL
         ORDER BY part, g, s, nm""",
    "sparql_path_graph" ->
      """WITH RECURSIVE
           ea AS (SELECT n_nationkey AS s, n_nationkey + 1 AS o FROM nation
                  WHERE n_nationkey < 12),
           ra(s, o) AS (
             SELECT s, o FROM ea
             UNION
             SELECT r.s, e.o FROM ra r JOIN ea e ON r.o = e.s),
           eb AS (SELECT n_nationkey AS s, n_nationkey + 1 AS o FROM nation
                  WHERE n_nationkey >= 12
                    AND n_nationkey < (SELECT max(n_nationkey) FROM nation)),
           rb(s, o) AS (
             SELECT s, o FROM eb
             UNION
             SELECT r.s, e.o FROM rb r JOIN eb e ON r.o = e.s)
         SELECT * FROM (
           SELECT 'a' AS g, s::INT AS s, o::INT AS o FROM ra
           UNION ALL
           SELECT 'b', s::INT, o::INT FROM rb)
         ORDER BY g, s, o""",
    "sparql_having" ->
      """SELECT n_regionkey,
                COUNT(*)::BIGINT AS n,
                string_agg(n_name, ',' ORDER BY n_name) AS names,
                MIN(n_name) AS one,
                COUNT(DISTINCT n_name)::BIGINT AS nd
         FROM nation WHERE n_nationkey < 13
         GROUP BY n_regionkey HAVING COUNT(*) >= 3
         ORDER BY n_regionkey""",
    "sparql_subquery" ->
      """SELECT n_regionkey, MAX(n_nationkey) AS n_nationkey
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "sparql_describe" ->
      """SELECT s, p, o FROM (
           SELECT 'http://graft.example/nation/' || n_nationkey AS s,
                  'http://graft.example/name' AS p, n_name AS o
           FROM nation WHERE n_regionkey = 0 OR n_nationkey = 0
           UNION ALL
           SELECT 'http://graft.example/nation/' || n_nationkey,
                  'http://graft.example/regionkey', n_regionkey::VARCHAR
           FROM nation WHERE n_regionkey = 0 OR n_nationkey = 0)
         ORDER BY s, p, o""",
    "sparql_negation" ->
      """SELECT * FROM (
           SELECT 'exists' AS method, n_nationkey FROM nation WHERE n_nationkey < 10
           UNION ALL
           SELECT 'minus', n_nationkey FROM nation WHERE n_nationkey >= 10
           UNION ALL
           SELECT 'minus_disjoint', n_nationkey FROM nation
           UNION ALL
           SELECT 'not_exists', n_nationkey FROM nation WHERE n_nationkey >= 10
         ) ORDER BY method, n_nationkey""",
    "sparql_exists_expr" ->
      """SELECT * FROM (
           SELECT 'or_high' AS method, n_nationkey FROM nation
           WHERE n_nationkey < 10 OR n_nationkey >= 20
           UNION ALL
           SELECT 'and_low', n_nationkey FROM nation
           WHERE n_nationkey >= 10 AND n_nationkey < 20
           UNION ALL
           SELECT 'bang', n_nationkey FROM nation
           WHERE n_nationkey >= 10 AND n_nationkey < 20
           UNION ALL
           SELECT 'unshared', n_nationkey FROM nation WHERE n_nationkey < 5
         ) ORDER BY method, n_nationkey""",
    "sparql_expr_arith" ->
      """SELECT * FROM (
           SELECT n_nationkey AS k,
                  (n_nationkey * 2 + 1)::BIGINT AS dbl,
                  (n_nationkey::DOUBLE / 4) AS q,
                  CASE WHEN n_nationkey < 10 THEN 'low' ELSE 'high' END AS cls
           FROM nation
           WHERE (n_nationkey + 5) * 2 <= 40 AND n_nationkey NOT IN (2, 4)
           ORDER BY n_nationkey DESC LIMIT 10)
         ORDER BY k""",
    "sparql_expr_str" ->
      """SELECT n_name,
                length(n_name)::BIGINT AS len,
                lower(n_name) AS lc,
                n_name || '!' AS cat,
                substr(n_name, 1, 3) AS pre,
                CASE WHEN position('_' IN n_name) > 0
                     THEN substr(n_name, position('_' IN n_name) + 1)
                     ELSE '' END AS aft
         FROM nation
         WHERE starts_with(n_name, 'NATION_1') OR contains(n_name, '_2')
         ORDER BY n_name""",
    "sparql_expr_hash" ->
      """SELECT n_name, md5(n_name) AS m, sha256(n_name) AS sh
         FROM nation ORDER BY n_name""",
    "sparql_expr_datetime" ->
      """SELECT o_orderkey AS k,
                year(o_orderdate)::INT AS y,
                month(o_orderdate)::INT AS mo,
                day(o_orderdate)::INT AS dd,
                CASE o_orderkey % 4 WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30'
                                    WHEN 2 THEN '-05:00' ELSE '' END AS tz,
                CASE o_orderkey % 4 WHEN 0 THEN 'PT0S' WHEN 1 THEN 'PT5H30M'
                                    WHEN 2 THEN '-PT5H' ELSE NULL END AS tzd
         FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 50)
         ORDER BY k""",
    // the dateTime lexical form is o_orderdate's string + "T00:00:00Z":
    // well-formed only for a bare date, and `<` on an ill-formed one is
    // a type error that drops the row (§17.3) — none survive a TIMESTAMP
    "sparql_nondet" ->
      """SELECT count(*)::BIGINT AS n, count(*)::BIGINT AS nu,
                bool_and(true) AS ok, bool_and(true) AS rok
         FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 50)
         WHERE o_orderdate < DATE '1998-01-01'
           AND regexp_matches(CAST(o_orderdate AS VARCHAR), '^\d{4}-\d{2}-\d{2}$')""",
    "sparql_from" ->
      """SELECT * FROM (
           SELECT 'even' AS part, n_regionkey, COUNT(*)::BIGINT AS n
           FROM nation WHERE n_nationkey % 2 = 0 GROUP BY n_regionkey
           UNION ALL
           SELECT 'all', n_regionkey, COUNT(*)::BIGINT
           FROM nation GROUP BY n_regionkey)
         ORDER BY part, n_regionkey""",
    "scale_star" ->
      "SELECT event_id AS e, event_type AS t FROM events ORDER BY e",
    "scale_sparql_path" ->
      """WITH RECURSIVE
           e AS (SELECT event_id AS s, event_id + 1 AS o FROM events
                 WHERE event_id % 20 <> 19),
           r(s, o) AS (
             SELECT s, o FROM e
             UNION
             SELECT r.s, e.o FROM r JOIN e ON r.o = e.s)
         SELECT s::BIGINT AS s, o::BIGINT AS o FROM r ORDER BY s, o""",
    "scale_sparql_path_seeded" ->
      """WITH RECURSIVE
           e AS (SELECT event_id AS s, event_id + 1 AS o FROM events
                 WHERE event_id % 20 <> 19),
           r(o) AS (
             SELECT o FROM e WHERE s = 40
             UNION
             SELECT e.o FROM r JOIN e ON r.o = e.s)
         SELECT o::BIGINT AS o FROM r ORDER BY o""",
    "sparql_ask" ->
      "SELECT * FROM (VALUES (false), (true)) t(ask) ORDER BY ask",
    "sparql_construct" ->
      "SELECT n_nationkey, n_regionkey FROM nation ORDER BY n_nationkey"
  )
}

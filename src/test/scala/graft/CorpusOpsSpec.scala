package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Sampling, TextAnalysis}

/** Hand-computed cases for the corpus-shaping additions: RAG chunking
  * window/stride coverage and the DSIR importance-resampling score.
  */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def chunksOf(text: String, window: Int, stride: Int): Seq[(Int, Int)] = {
    import spark.implicits._
    TextAnalysis.chunkDocs(Seq((1L, text)).toDF("doc_id", "text"),
        window, stride)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSeq
  }

  test("chunkDocs: stride walk covers every token, last chunk short") {
    val t10 = (1 to 10).map(i => s"t$i").mkString(" ")
    // n=10, w=4, s=3 → chunks at 1,4,7: [t1..t4][t4..t7][t7..t10]
    assert(chunksOf(t10, 4, 3) == Seq((0, 4), (1, 4), (2, 4)))
    // n=5 → chunks at 1,4: [t1..t4][t4..t5] (final chunk short)
    val t5 = (1 to 5).map(i => s"t$i").mkString(" ")
    assert(chunksOf(t5, 4, 3) == Seq((0, 4), (1, 2)))
    // n<=w → exactly one chunk, no redundant tail
    assert(chunksOf("a b c", 4, 3) == Seq((0, 3)))
    assert(chunksOf("a", 4, 3) == Seq((0, 1)))
  }

  test("chunkDocs: chunk text is the exact token slice") {
    import spark.implicits._
    val df = TextAnalysis.chunkDocs(
      Seq((7L, "a b c d e")).toDF("doc_id", "text"), window = 3, stride = 2)
    val got = df.orderBy("chunk_idx")
      .select("chunk_md5").collect().map(_.getString(0)).toSeq
    // starts 1 and 3 cover all five tokens; a third chunk [e] would
    // be wholly contained in [c d e] and is correctly not emitted
    val want = Seq("a b c", "c d e").map { s =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    }
    assert(got == want)
  }

  test("importanceResample: hand-computed additive likelihood ratio") {
    import spark.implicits._
    val raw = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val target = Seq((9L, "a b")).toDF("doc_id", "text")
    // ctT: a=1 b=1, nT=2; ctR: a=2 b=2 c=1, nR=5, V=3
    // d1: num=(1+1)*3=6, den=(2+1)*3=9, score=6*8/(9*5)=48/45
    // d2: num=(1+1)+(0+1)=3, den=(2+1)+(1+1)=5, score=3*8/(5*5)=24/25
    val got = Sampling.importanceResample(raw, target, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq((1L, 6L, 9L, 48.0 / 45.0), (2L, 3L, 5L, 24.0 / 25.0)))
  }

  test("epochShuffle: epoch changes the permutation; re-run reproduces it") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => Tuple1(i)).toDF("doc_id")
    def layout(e: Int) = Sampling.epochShuffle(docs, epoch = e, shards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e1 = layout(1)
    assert(layout(1) == e1) // deterministic re-run
    assert(layout(2) != e1) // epoch salt permutes
    // every (shard, pos) slot unique; positions contiguous from 1
    val slots = e1.values.toSeq
    assert(slots.distinct.size == 200)
    slots.groupBy(_._1).foreach { case (_, ps) =>
      assert(ps.map(_._2).sorted == (1L to ps.size).toSeq)
    }
  }

  test("exactBagOfWords collapses word permutations, exact keeps them") {
    import spark.implicits._
    val docs = Seq((1L, "b a c"), (2L, "a b c"), (3L, "a b"), (4L, "c a b"))
      .toDF("doc_id", "text")
    val bow = graft.pipeline.Dedup.exactBagOfWords(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bow == Set((1L, 3L), (3L, 1L)))
    val ex = graft.pipeline.Dedup.exact(docs).count()
    assert(ex == 4) // no byte-identical duplicates
  }

  test("temperatureRates: sqrt-proportional, largest stratum keeps all") {
    import spark.implicits._
    val docs = (1 to 100).map(i => (i.toLong, if (i <= 64) "big" else "small"))
      .toDF("doc_id", "source")
    val rates = Sampling.temperatureRates(docs)
    assert(rates("big") == 1.0)
    assert(rates("small") == 6.0 / 8.0) // sqrt(36)/sqrt(64)
    val kept = Sampling.temperatureSample(docs)
    // exact kept set is md5-deterministic; spot-check the rate bound
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("big") == 64L) // rate 1.0 keeps everything
    assert(bySrc.getOrElse("small", 0L) <= 36L)
  }

  test("plan pins: chunking is map-only, temperature sample is a pure filter") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunkPlan = TextAnalysis.chunkDocs(docs)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"),
      s"chunking must not shuffle:\n$chunkPlan")
    // the sample itself (rates precomputed) compiles to scan+filter
    val rates = Sampling.temperatureRates(docs)
    val sampPlan = Sampling.sampleStratified(docs, rates)
      .queryExecution.executedPlan.toString
    assert(!sampPlan.contains("Exchange"),
      s"temperature sample must be a pure filter:\n$sampPlan")
  }

  test("plan pin: DSIR shuffles never carry document text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Sampling.importanceResample(docs,
        docs.where(col("lang") === "en"), k = 10)
      .queryExecution.executedPlan.toString
    val exchangeKeys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty)
    assert(!exchangeKeys.exists(_.contains("text")),
      s"document text must never be a partitioning key:\n$exchangeKeys")
  }

  test("importanceResample: k truncates deterministically") {
    import spark.implicits._
    val raw = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val target = Seq((9L, "a b")).toDF("doc_id", "text")
    val got = Sampling.importanceResample(raw, target, k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("zValue: interleaves bits; ordering clusters both dimensions") {
    import spark.implicits._
    // hand-check: x=0b101, y=0b011, 3 bits → z bits (y2 x2 y1 x1 y0 x0)
    // = 0 1 1 0 1 1 = 0b011011 = 27
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(graft.functions.Sketches.zValue(array(col("x"), col("y")), 3))
      .head().getLong(0)
    assert(z == 27L)
  }

  test("writeZOrdered: empty and null-valued inputs write cleanly") {
    import spark.implicits._
    val dir = Harness.scratchDir("zedge").toString
    graft.pipeline.CorpusLayout.writeZOrdered(
      Seq.empty[(Long, Long)].toDF("a", "b"), dir, Seq("a", "b"), bits = 8)
    assert(spark.read.parquet(dir).count() == 0)
    graft.pipeline.CorpusLayout.writeZOrdered(
      Seq((Option(1L), 5L), (None, 6L), (Option(9L), 7L)).toDF("a", "b"),
      dir, Seq("a", "b"), bits = 8)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("writeZOrdered: rectangle predicates prune row groups on BOTH dims") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    hc.set("parquet.block.size", "16384")
    hc.set("parquet.page.size", "4096")
    try {
      // independent uniform dims: a time-sorted layout prunes ts but
      // not uid; the z-order layout must prune both
      val rnd = new scala.util.Random(11)
      val rows = (0 until 150000).map { i =>
        (i.toLong, rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong)
      }
      val df = rows.toDF("id", "uid", "t")
      val zDir = Harness.scratchDir("zord").toString
      val linDir = Harness.scratchDir("lin").toString
      graft.pipeline.CorpusLayout.writeZOrdered(df, zDir,
        Seq("uid", "t"), bits = 16, nFiles = 4)
      df.repartitionByRange(4, col("t")).sortWithinPartitions(col("t"))
        .write.mode("overwrite").parquet(linDir)
      // rectangle = 1/8 × 1/8 of the space (1/64 of the area): the
      // time-sorted layout can only prune to the 1/8 time slice, the
      // z-order layout confines the user range too
      val (uLo, uHi, tLo, tHi) = (8192L, 16383L, 8192L, 16383L)
      def overlapping(dir: String): (Int, Int) = {
        var total = 0
        var hit = 0
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toString), hc)
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try reader.getFooter.getBlocks.asScala.foreach { b =>
              total += 1
              def rng(name: String): (Long, Long) = {
                val st = b.getColumns.asScala
                  .find(_.getPath.toDotString == name).get.getStatistics
                (st.genericGetMin.asInstanceOf[Long],
                  st.genericGetMax.asInstanceOf[Long])
              }
              val (un, ux) = rng("uid")
              val (tn, tx) = rng("t")
              if (ux >= uLo && un <= uHi && tx >= tLo && tn <= tHi) hit += 1
            } finally reader.close()
          }
        (total, hit)
      }
      val (zTotal, zHit) = overlapping(zDir)
      val (lTotal, lHit) = overlapping(linDir)
      assert(zTotal >= 16, s"need several row groups, got $zTotal")
      // the single-dim layout prunes ts only: ~1/4 of groups survive;
      // z-order confines both dims: well under half of that
      assert(zHit.toDouble / zTotal < 0.6 * lHit.toDouble / lTotal,
        s"z-order must out-prune the linear layout: z $zHit/$zTotal vs linear $lHit/$lTotal")
      // layout never changes results
      val zRows = spark.read.parquet(zDir)
        .filter(col("uid").between(uLo, uHi) && col("t").between(tLo, tHi))
        .select("id").collect().map(_.getLong(0)).toSet
      val expect = rows.filter(r => r._2 >= uLo && r._2 <= uHi &&
        r._3 >= tLo && r._3 <= tHi).map(_._1).toSet
      assert(zRows == expect)
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", oldBlock)
      if (oldPage == null) hc.unset("parquet.page.size") else hc.set("parquet.page.size", oldPage)
    }
  }

  test("invertedIndex: postings exact, hot terms guarded to NULL") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a"))
      .toDF("doc_id", "text")
    def run(cap: Int) = graft.pipeline.CorpusStats
      .invertedIndex(docs, postingCap = cap)
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(run(2) == Seq(
      ("a", 2L, Some("1:0,2;3:0")),
      ("b", 2L, Some("1:1;2:0")),
      ("c", 1L, Some("2:1"))))
    // cap 1: df-2 terms go hot — df still reported, postings NULL
    assert(run(1) == Seq(
      ("a", 2L, None), ("b", 2L, None), ("c", 1L, Some("2:1"))))
  }

  test("incrementalNewBloom: bit-identical to the unfiltered plan") {
    import spark.implicits._
    val base = (1 to 120).map(i => (i.toLong, s"text ${i % 40}"))
      .toDF("doc_id", "text")
    // incoming: ids 200+; half collide with base texts, half novel,
    // plus in-snapshot copies (n_copies > 1)
    val inc = ((0 until 30).map(i => (200L + i, s"text ${i}")) ++
      (0 until 30).map(i => (300L + i, s"novel ${i % 20}")))
      .toDF("doc_id", "text")
    val plain = graft.pipeline.Dedup.incrementalNew(base, inc)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bloom = graft.pipeline.Dedup.incrementalNewBloom(base, inc)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bloom == plain)
    // novel texts keep with their copy counts; base collisions drop
    assert(plain.nonEmpty && plain.forall(_._1 >= 300L))
  }

  test("UrlOps: edges — no scheme, bare host, all params dropped") {
    import spark.implicits._
    import graft.pipeline.UrlOps
    val df = Seq(
      "example.com/path",                       // no scheme: unchanged
      "https://EXAMPLE.com",                    // bare host, empty path
      "https://a.example.com/x?utm_a=1&ref=2",  // every param dropped
      "http://localhost:8080/x",                // single-label host
      "https://example.com/CaseKept/Path"       // path case preserved
    ).toDF("u")
    val got = df.select(
        UrlOps.normalizeUrl(col("u")).as("n"),
        UrlOps.registeredDomain(UrlOps.host(col("u"))).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      // no scheme: URL passes through unchanged, but the host regexes
      // still see a host-shaped prefix, so the domain key works
      ("example.com/path", "example.com"),
      ("https://example.com/", "example.com"),
      ("https://a.example.com/x", "example.com"),
      ("http://localhost:8080/x", "localhost"),
      ("https://example.com/CaseKept/Path", "example.com")))
  }

  test("sourceDivergence: hand-computed exact L1 numerators") {
    import spark.implicits._
    // X: "a a b" (dist a 2/3, b 1/3) vs corpus (a 2/5, b 2/5, c 1/5):
    //   L1 = 4/15 + 1/15 + 3/15 = 8/15; Y: "b c" → 8/10
    val docs = Seq((1L, "a a b", "X"), (2L, "b c", "Y"))
      .toDF("doc_id", "text", "source")
    val got = graft.pipeline.CorpusStats.sourceDivergence(docs)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      ("X", 3L, 8L, 15L, 8.0 / 15.0),
      ("Y", 2L, 8L, 10L, 8.0 / 10.0)))
  }

  test("incrementalNearDupMinhash: cross pairs only, exact j") {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact copy
      (11L, "unrelated words that match nothing in the base set"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.Dedup.incrementalNearDupMinhash(base, inc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((10L, 1L, 1.0)))
  }

  test("Constraints: hand-computed suite in one scan; FK orphans") {
    import spark.implicits._
    import graft.pipeline.Constraints._
    val docs = Seq((1L, Option("a")), (2L, None), (3L, Option("a")))
      .toDF("id", "txt")
    val suite = graft.pipeline.Constraints.singlePass(docs, Seq(
      completeness("c", col("txt")),
      uniqueness("u", col("txt")),
      satisfies("s", col("id") <= 2)))
    val got = suite.orderBy("check_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("c", 2L, 3L, 2.0 / 3.0),
      ("s", 2L, 3L, 2.0 / 3.0),
      ("u", 1L, 3L, 1.0 / 3.0)))
    // the whole suite reads its table once and never joins
    val plan = suite.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"suite must not join:\n$plan")
    assert("LocalTableScan".r.findAllIn(plan).size == 1,
      s"suite must scan once:\n$plan")
    // FK: null child keys excluded, orphan 9 counted against
    val child = Seq(Option(1L), Option(2L), None, Option(9L)).toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val fk = graft.pipeline.Constraints.refIntegrity("fk",
        child, col("k"), parent, col("pk")).head()
    assert((fk.getLong(1), fk.getLong(2), fk.getDouble(3)) == (2L, 3L, 2.0 / 3.0))
  }

  test("UrlOps: bracketed IPv6 hosts keep their brackets and port") {
    import spark.implicits._
    import graft.pipeline.UrlOps
    val df = Seq(
      "HTTP://[2001:DB8::1]/p",
      "http://user@[::1]:8080/x?ref=r",
      "https://[::1]:443/y").toDF("u")
    val got = df.select(UrlOps.normalizeUrl(col("u")).as("n"),
        UrlOps.host(col("u")).as("h"), UrlOps.port(col("u")).as("p"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("http://[2001:db8::1]/p", "[2001:db8::1]", ""),
      ("http://[::1]:8080/x", "[::1]", "8080"),
      ("https://[::1]/y", "[::1]", "443")))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CorpusLayout, Dedup, Multimodal, Similarity, TextAnalysis}

/** Behavior the DuckDB oracle can't observe: recall of the sketch-based
  * candidate generators on planted duplicates, LSH ANN recall vs the
  * exact baseline, and the multimodal batch plumbing.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("embedding near-dup finds planted duplicates via sketch buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val base = Seq.fill(50)(Array.fill(64)(rnd.nextGaussian().toFloat))
    // plant: vec 100+i = tiny perturbation of vec i (cosine ~0.9996)
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      base.take(5).zipWithIndex.map { case (v, i) =>
        ((100 + i).toLong, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
      }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.nearDupEmbedding(df, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((0 until 5).forall(i => pairs.contains((i.toLong, (100 + i).toLong))),
      s"missing planted pairs in $pairs")
    assert(pairs.size == 5, s"unexpected extra pairs: $pairs")
  }

  test("checkpoint hygiene: near-dup and recall leave no pinned blocks") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"),
      (3L, "x y z w v u t")).toDF("doc_id", "text")
    // simhash frees its corpus-scale keyed checkpoint in-function and
    // registers the (small) candidate checkpoint for scoped release
    graft.plans.Checkpoints.withScope {
      Dedup.nearDupSimhash(docs, threshold = 0.3).count()
    }
    // recallOf materializes its one-row summary and frees the
    // brute-force truth checkpoint before returning — no scope needed
    val rnd = new scala.util.Random(3)
    val embs = (0 until 30).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val queries = embs.limit(3)
    Similarity.lshRecall(embs, queries, k = 3).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"pinned RDDs leaked: ${after -- before}")
  }

  test("ngram-Jaccard candidate join partitions on prefix tokens, not raw text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = Dedup.nearDupNgramJaccard(docs).queryExecution.executedPlan.toString
    val exchangeKeys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty, s"no exchange found in:\n$plan")
    // the candidate self-join must key on the prefix token, never ship
    // the document text as a partitioning key
    assert(exchangeKeys.forall(!_.contains("text#")),
      s"document text rides an exchange: $exchangeKeys")
    // the prefix relation is checkpointed (computed once for both join
    // sides), so at test scale the join may be broadcast instead of
    // exchanged — the pin is that the JOIN keys on the prefix token
    assert("Join \\[tok".r.findFirstIn(plan).isDefined ||
        exchangeKeys.exists(_.contains("tok")),
      s"candidate join does not key on the prefix token:\n$plan")
  }

  test("ANN training init is a hash sample, not a single-partition window") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val n = embs.count()
    val df = Similarity.strideSampleDf(embs, 16, n)
    val plan = df.queryExecution.executedPlan.toString
    // the old row_number-over-global-Window init pulled every row into
    // ONE task; the hash sample is a pure filter + distributed top-k
    assert(!plan.contains("Window"), s"global window in init plan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no distributed top-k:\n$plan")
    assert(df.count() == 16)
    // deterministic: same sample twice
    val a = df.collect().map(_.getSeq[Double](0)).toSeq
    val b = Similarity.strideSampleDf(embs, 16, n).collect()
      .map(_.getSeq[Double](0)).toSeq
    assert(a == b)
  }

  test("ngram-Jaccard prefix filtering matches minhash output on real documents") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // prefix filtering is EXACT, so its output must be a superset of
    // any sketch tier's and equal the exact-Jaccard truth; minhash at
    // these parameters has miss prob ~4e-8, so equality is the check
    val exact = Dedup.nearDupNgramJaccard(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sketch = Dedup.nearDupMinhash(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == sketch, s"prefix-filter vs minhash diff: ${exact.diff(sketch)} / ${sketch.diff(exact)}")
    assert(exact.nonEmpty)
  }

  test("LSH ANN recall >= 0.9 of exact top-10 on real embeddings") {
    import spark.implicits._
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = embs.filter(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(embs, queries)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(embs, queries)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("PQ ANN recall >= 0.9 of exact top-10 on real embeddings") {
    import spark.implicits._
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = embs.filter(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(embs, queries)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqTopK(embs, queries)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("IVF ANN recall >= 0.9 of exact top-10 on real embeddings") {
    import spark.implicits._
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = embs.filter(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(embs, queries)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(embs, queries)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("exact dedup counts real duplicates when planted") {
    import spark.implicits._
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (3L, "q r s"), (4L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 3L -> 1L))
  }

  test("exact dedup shuffles hashes, not document text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = Dedup.exact(docs).queryExecution.executedPlan.toString
    val exchangeKeys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty, s"no exchange found in:\n$plan")
    assert(exchangeKeys.forall(!_.contains("text")),
      s"document text rides the exchange: $exchangeKeys")
  }

  test("minhash band keys are deterministic, length-bands, and text-sensitive") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "z y x w v u t s")).toDF("doc_id", "text")
    val keys = df
      .select(col("doc_id"),
        graft.functions.Sketches.minhashBandKeys(Dedup.shingles(col("text"))).as("k"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(keys(1L) == keys(2L) && keys(1L).length == 16)
    assert(keys(1L) != keys(3L))
  }

  test("simhash hamming of identical texts is 0; of disjoint texts is large") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
      .toDF("doc_id", "text")
    val ch = df.select(col("doc_id"), Dedup.simhashChunks(col("text")).as("c"))
    val m = ch.as[(Long, Seq[Long])].collect().toMap
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    assert(ham(m(1L), m(2L)) == 0)
    assert(ham(m(1L), m(3L)) > 5)
  }

  test("multimodal: frame sampling cuts binary into strided frames") {
    import spark.implicits._
    val media = Seq((1L, Array.range(0, 16).map(_.toByte)))
      .toDF("doc_id", "media")
    val frames = Multimodal.sampleFrames(media, frameBytes = 4, stride = 2)
      .select("frame_idx", "frame").as[(Int, Array[Byte])].collect()
    assert(frames.map(_._1).toSeq == Seq(0, 2))
    assert(frames.head._2.toSeq == Seq[Byte](0, 1, 2, 3))
    assert(frames(1)._2.toSeq == Seq[Byte](8, 9, 10, 11))
  }

  test("multimodal: decode batch shape preserves rows and schema across small batches") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val media = Multimodal.synthesize(docs).as[Multimodal.MediaRow]
    val feats = Multimodal.decodeFeatures(media, batchSize = 7)
    assert(feats.count() == docs.count())
    val f = feats.head()
    assert(f.n_bytes == 16 && f.histogram.length == 16)
    assert(math.abs(f.histogram.sum - 16f) < 1e-6)
  }

  test("lsh candidates are a strict subset of all pairs and contain all true near-dups") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = docs.count()
    val withSh = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text")).as("sh"))
    val cands = Dedup.lshCandidates(withSh, "id",
      graft.functions.Sketches.minhashBandKeys(col("sh"))).count()
    assert(cands < n * (n - 1) / 4, s"candidate set too dense: $cands of ${n * (n - 1) / 2}")
  }

  test("clusterComponents labels every id with its min reachable id") {
    import spark.implicits._
    // chain 1-2-3 (path shape exercises pointer jumping), pair 5-6,
    // singletons 4 and 7; an isolated id never appearing in pairs
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val ids = (1L to 7L).toDF("doc_id")
    val got = Dedup.clusterComponents(pairs, ids)
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // checkpoint hygiene: only the result frame stays pinned, and a
    // deep chain (diameter 15) still converges
    val chain = (1L until 16L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val deep = Dedup.clusterComponents(chain, (1L to 16L).toDF("doc_id"))
      .as[(Long, Long)].collect()
    assert(deep.forall(_._2 == 1L))
  }

  test("stripCommonLines drops cross-doc boilerplate, keeps order, counts removals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "COOKIE BANNER\nreal content one\nFOOTER"),
      (2L, "COOKIE BANNER\nreal content two\nFOOTER"),
      (3L, "COOKIE BANNER\nunique line a\nunique line b"),
      (4L, "all original text here")).toDF("doc_id", "text")
    val got = TextAnalysis.stripCommonLines(docs, minDf = 2)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got(0) == ((1L, "real content one", 2L)))
    assert(got(1) == ((2L, "real content two", 2L)))
    assert(got(2) == ((3L, "unique line a\nunique line b", 1L)))
    assert(got(3) == ((4L, "all original text here", 0L)))
    // a doc that is ALL boilerplate comes back empty, not missing
    val wiped = TextAnalysis.stripCommonLines(
      Seq((1L, "same"), (2L, "same")).toDF("doc_id", "text"), minDf = 2)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(wiped == Seq((1L, "", 1L), (2L, "", 1L)))
  }

  test("dedupSpans drops every token covered by a duplicated k-gram, merges overlaps") {
    import spark.implicits._
    // "a b c" is a shared 3-gram between docs 1 and 2; doc 3 repeats
    // its own 3-gram internally; doc 4 is clean; doc 5 is too short
    val docs = Seq(
      (1L, "x a b c y z w"),
      (2L, "p q a b c r s"),
      (3L, "m n o k m n o k"),
      (4L, "all fresh words here nothing shared"),
      (5L, "hi")).toDF("doc_id", "text")
    val got = TextAnalysis.dedupSpans(docs, k = 3, minCount = 2)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got(0) == ((1L, "x y z w", 3L)))
    assert(got(1) == ((2L, "p q r s", 3L)))
    // doc 3: "m n o" starts at 0 and 4 (2 occurrences), "n o k" at
    // 1 and 5 — overlapping spans merge: positions 0-3 and 4-7 all
    // covered → everything drops
    assert(got(2) == ((3L, "", 8L)))
    assert(got(3)._2 == "all fresh words here nothing shared" && got(3)._3 == 0L)
    assert(got(4) == ((5L, "hi", 0L)))
    // adjacent-not-overlapping spans keep the gap tokens
    val gap = Seq(
      (1L, "a b c GAP d e f"),
      (2L, "a b c X Y d e f")).toDF("doc_id", "text")
    val g2 = TextAnalysis.dedupSpans(gap, k = 3, minCount = 2)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(g2(0) == ((1L, "GAP", 6L)))
    assert(g2(1) == ((2L, "X Y", 6L)))
    // scale-shape pin: no Window operator anywhere, and the frequency
    // aggregation exchanges on the hash pair, never the gram text
    val plan = TextAnalysis.dedupSpans(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    assert(plan.contains("xxhash64"))
  }

  test("packSequences assigns docs to packs by per-shard running token offset") {
    import spark.implicits._
    // one shard (ids ≡ 0 mod 16) so offsets are easy to follow:
    // tokens 3,4,2 with budget 5 → starts at 0,3,7 → packs 0,0,1
    val docs = Seq(
      (0L, "a b c"), (16L, "d e f g"), (32L, "h i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(docs, budget = 5, shards = 16)
      .orderBy($"doc_id").as[(Long, Long, Int, Long)].collect().toSeq
    assert(got == Seq((0L, 3L, 0, 0L), (16L, 4L, 0, 0L), (32L, 2L, 0, 1L)))
    // different shards never share packs
    val multi = TextAnalysis.packSequences(
      Seq((1L, "x y"), (2L, "z w")).toDF("doc_id", "text"),
      budget = 5, shards = 16)
      .as[(Long, Long, Int, Long)].collect().toSeq.sortBy(_._1)
    assert(multi.map(_._4).distinct.size == 2)
  }

  test("repetitionStats measures n-gram duplication and flags repetitive docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam"),        // 4 grams, 1 distinct
      (2L, "all fresh words appear once here"), // 5 grams, 5 distinct
      (3L, "ab ab cd ab ab cd"),                // 5 grams: ab-ab x2, ab-cd x2, cd-ab x1
      (4L, "single")).toDF("doc_id", "text")    // shorter than n → zero counts
    val got = TextAnalysis.repetitionStats(docs)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(got(0) == ((1L, 4L, 1L, 4L, 0.75, 1.0, true)))
    assert(got(1) == ((2L, 5L, 5L, 1L, 0.0, 0.2, false)))
    assert(got(2) == ((3L, 5L, 3L, 2L, 0.4, 0.4, true)))
    assert(got(3) == ((4L, 0L, 0L, 0L, 0.0, 0.0, false)))
  }

  test("sampleStratified is a deterministic hash filter with per-stratum rates") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val all = pipeline.Sampling.sampleStratified(docs, Map("a" -> 1.0, "b" -> 0.0))
    val ids = all.select($"doc_id").as[Long].collect().toSet
    assert(ids == (0L until 200L by 2).toSet) // rate 1 keeps all, rate 0 none
    val half = pipeline.Sampling.sampleStratified(docs, Map("a" -> 0.5, "b" -> 0.5))
    val n = half.count()
    assert(n > 60 && n < 140, s"hash sample far from rate: $n/200")
    // deterministic: identical selection on a re-run
    assert(half.select($"doc_id").as[Long].collect().toSet ==
      pipeline.Sampling.sampleStratified(docs, Map("a" -> 0.5, "b" -> 0.5))
        .select($"doc_id").as[Long].collect().toSet)
    // no shuffle: a pure filter plan
    assert(!all.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("capPerStratum keeps the exact hash-min cap subset via salted two-level top-k") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    val got = pipeline.Sampling.capPerStratum(docs, cap = 7, salts = 4)
      .select($"doc_id", $"source", $"rank")
      .as[(Long, String, Int)].collect().toSeq
    assert(got.size == 21 && got.groupBy(_._2).forall(_._2.size == 7))
    // exactness: matches the naive single-window top-cap per stratum
    val naive = docs
      .withColumn("hk", pipeline.Sampling.hashKey($"doc_id"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"hk", $"doc_id")))
      .filter($"rank" <= 7).select($"doc_id", $"source", $"rank")
      .as[(Long, String, Int)].collect().toSeq
    assert(got.toSet == naive.toSet)
    // scale contract: the first window ranks (stratum, salt) buckets
    val plan = pipeline.Sampling.capPerStratum(docs, cap = 7, salts = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("salt"), s"no salted local ranking in:\n$plan")
  }

  test("mixtureExpand repeats rows by stratum weight with deterministic rounding") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, if (i < 50) "a" else "b"))
      .toDF("doc_id", "source")
    val got = pipeline.Sampling.mixtureExpand(docs,
        Map("a" -> 2.0, "b" -> 0.0))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"), max($"epoch").as("mx"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.size == 50 && got.forall(r => r._1 < 50 && r._2 == 2L && r._3 == 2L))
    // fractional weight: every row gets floor(w), a hash-selected
    // subset one more; expectation 1.5 → between 50 and 100 extras
    val frac = pipeline.Sampling.mixtureExpand(docs, Map("a" -> 1.5, "b" -> 1.5))
    assert(frac.count() > 110 && frac.count() < 190)
    assert(frac.count() ==
      pipeline.Sampling.mixtureExpand(docs, Map("a" -> 1.5, "b" -> 1.5)).count())
  }

  test("contamination counts benchmark n-gram overlap per corpus doc") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over dogs")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over dogs"), // full copy → all grams hit
      (2L, "a quick brown fox appears here now"),  // one shared gram
      (3L, "completely different words entirely here")) // none
      .toDF("doc_id", "text")
    val got = TextAnalysis.contamination(corpus, bench)
      .orderBy($"doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got(0) == ((1L, 5L, 5L, true)))
    assert(got(1) == ((2L, 5L, 1L, true))) // 1/5 = 0.2 meets threshold
    assert(got(2) == ((3L, 3L, 0L, false)))
  }

  test("PII scrub redacts urls, emails, IPs, digit runs; order prevents partials") {
    import spark.implicits._
    val rows = Seq(
      "write to alice.b@corp.example today",
      "see https://a.example/path?id=1234567&u=bob@x.example please",
      "host 192.168.100.200 port 80",
      "ref 12345678 but keep 12345",
      "clean text stays clean")
      .toDF("text").select(TextAnalysis.scrubText($"text").as("s"))
      .as[String].collect()
    assert(rows(0) == "write to <EMAIL> today")
    // the email and digit run inside the URL vanish WITH the URL
    assert(rows(1) == "see <URL> please")
    assert(rows(2) == "host <IP> port 80")
    assert(rows(3) == "ref <NUM> but keep 12345")
    assert(rows(4) == "clean text stays clean")
  }

  test("gopherRules: empty/whitespace-only docs get NULL fractions, keep=false") {
    import spark.implicits._
    // zero-word docs must not throw DIVIDE_BY_ZERO under ANSI mode;
    // their fractions are NULL (SQL divide-by-zero) and the word-count
    // bound alone forces keep=false
    val docs = Seq((1L, ""), (2L, "   "),
      (3L, Seq.fill(60)("the word be to of and that have with ok").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.gopherRules(docs)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    Seq(0, 1).foreach { i =>
      assert(out(i).getLong(1) == 0L)          // n_words
      assert(out(i).isNullAt(2), "mean_word_len should be NULL")
      assert(out(i).isNullAt(3), "symbol_frac should be NULL")
      assert(out(i).isNullAt(4), "alpha_frac should be NULL")
      assert(!out(i).getBoolean(6), "empty doc must not pass the filter")
    }
    assert(out(2).getBoolean(6), "the normal doc still passes")
  }

  test("incrementalNew: drops cross-snapshot and within-batch duplicates") {
    import spark.implicits._
    val base = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha"), // already in the base → dropped
      (11L, "delta"), // new
      (12L, "delta"), // within-batch dup → collapses into 11
      (13L, "beta"),  // already in the base → dropped
      (14L, "epsilon")).toDF("doc_id", "text")
    val out = Dedup.incrementalNew(base, incoming)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((11L, 2L), (14L, 1L)))
    // the anti join must key on the hash pair, not the text — the
    // plan's join keys carry no text column
    val plan = Dedup.incrementalNew(base, incoming)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.toLowerCase.contains("text#") ||
      !plan.substring(plan.indexOf("Join")).contains("text#"),
      "join keys must be hashes, not text")
  }

  test("bucketed corpus layout: co-located join plans with NO exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Harness.scratchDir("graft-bucketed")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // forbid broadcast: the pin proves co-location, not small-size luck
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      CorpusLayout.writeBucketed(docs, "bt_docs", s"$dir/docs", nBuckets = 8)
      CorpusLayout.writeBucketed(
        docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "bt_stats", s"$dir/stats", nBuckets = 8)
      val joined = spark.table("bt_docs")
        .join(spark.table("bt_stats"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == docs.count())
      // same-bucketed groupBy also elides its exchange
      val agg = spark.table("bt_stats").groupBy(col("doc_id"))
        .agg(sum(col("n_tokens")))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      // a NON-bucketed copy of the same join does shuffle — the pin is
      // meaningful only if the baseline differs
      val flat = docs.join(
        docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id")
      assert(flat.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      CorpusLayout.dropTable(spark, "bt_docs")
      CorpusLayout.dropTable(spark, "bt_stats")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("semanticDedup: within-cell clusters keep the min-id representative") {
    import spark.implicits._
    val r5 = math.toRadians(5); val r10 = math.toRadians(10)
    // ids 1 and 2 seed the deterministic init (first ids by the hash-
    // sample fallback), one per group, so Lloyd separates the groups
    val embs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),                       // group A
      (2L, Seq(0.0, 0.0, 1.0, 0.0)),                       // group B
      (3L, Seq(math.cos(r5), math.sin(r5), 0.0, 0.0)),     // A, 5° off 1
      (4L, Seq(math.cos(r10), math.sin(r10), 0.0, 0.0)),   // A, 10° off 1
      (5L, Seq(0.0, 0.0001, 1.0, 0.0)),                    // B, ~dup of 2
      (6L, Seq(0.0, 1.0, 0.0, 0.0)))                       // no near-dup
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(embs, nlist = 2, eps = 0.99)
      .orderBy("vec_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(2), r.getBoolean(3))).toMap
    // chain transitivity: cos(1,4)=cos10°<0.99 but 1-3 and 3-4 link,
    // so 4 still clusters under 1 (connected components, not pairs)
    assert(byId(1) == (1L, true) && byId(3) == (1L, false) &&
      byId(4) == (1L, false))
    assert(byId(2) == (2L, true) && byId(5) == (2L, false))
    assert(byId(6) == (6L, true)) // singleton keeps itself
    // the two groups landed in different cells
    val cells = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(1) == cells(3) && cells(3) == cells(4))
    assert(cells(2) == cells(5) && cells(1) != cells(2))
  }

  test("qualityClassifier: hashed features scored by the broadcast weights") {
    import spark.implicits._
    val docs = Seq((1L, "Good clean Text"), (2L, ""), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.qualityClassifier(docs).orderBy("doc_id").collect()
    // independent re-derivation in plain Scala (never touches the
    // Column expressions): md5 bucket, md5 stand-in weight, sum
    def h8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def wt(f: String): Long = (h8("w" + (h8(f) % 4096)) % 2001L) - 1000L
    val feats = Seq("good", "clean", "text", "good clean", "clean text")
    val raw = feats.map(wt).sum
    assert(out(0).getLong(1) == 5 && out(0).getLong(2) == raw)
    assert(out(0).getDouble(3) == raw.toDouble / 5000.0)
    assert(out(0).getBoolean(4) == (raw > 0))
    // featureless doc: zero counts, NULL score, keep=false
    assert(out(1).getLong(1) == 0 && out(1).isNullAt(3) && !out(1).getBoolean(4))
    // single token: one unigram, no bigram
    assert(out(2).getLong(1) == 1 && out(2).getLong(2) == wt("solo"))
    // a custom weight vector overrides the stand-in
    val flat = TextAnalysis.qualityClassifier(docs,
      weights = Some(IndexedSeq.fill(4096)(7))).orderBy("doc_id").collect()
    assert(flat(0).getLong(2) == 35 && flat(2).getLong(2) == 7)
  }

  test("lmScore: smoothed bigram hit ratio from exact integer sums") {
    import spark.implicits._
    // corpus: "a b" appears in docs 1 and 2, "x q" only in doc 3, doc 4
    // has a single token (no pairs), doc 5 is empty
    val docs = Seq(
      (1L, "a b c"), (2L, "a b"), (3L, "x q"), (4L, "solo"), (5L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs).orderBy("doc_id").collect()
    assert(out.length == 5)
    // vocab = {a,b,c,x,q,solo} = 6; c1: a=2,b=2,c=1,x=1,q=1
    // doc1 pairs: (a,b) c12=2, (b,c) c12=1
    //   num = (2+1)+(1+1) = 5; den = (2+6)+(2+6) = 16
    val d1 = out(0)
    assert(d1.getLong(1) == 2 && d1.getLong(2) == 5 && d1.getLong(3) == 16)
    assert(d1.getDouble(4) == 5.0 / 16.0)
    assert(d1.getDouble(5) == 0.5) // only (a,b) recurs corpus-wide
    // doc3: (x,q) c12=1 → num=2, den=1+6=7, seen_frac 0
    val d3 = out(2)
    assert(d3.getLong(2) == 2 && d3.getLong(3) == 7 && d3.getDouble(5) == 0.0)
    // pairless docs: zero counts, NULL score (no evidence ≠ worst)
    Seq(3, 4).foreach { i =>
      assert(out(i).getLong(1) == 0L)
      assert(out(i).isNullAt(4), "pairless doc must score NULL")
      assert(out(i).getDouble(5) == 0.0)
    }
  }

  test("Misra-Gries summary: guarantee, totals, merge across partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 heavy words (1000/600/300) in a sea of 2000 singletons: a
    // capacity-8 summary (≪ 2003 distinct) must keep every word with
    // count > total/9 ≈ 434 (the two heaviest) as candidates, and the
    // reported lb is a lower bound no more than total/9 under truth
    val rows = Seq.fill(1000)("alpha") ++ Seq.fill(600)("beta") ++
      Seq.fill(300)("gamma") ++ (0 until 2000).map(i => s"w$i")
    val total = rows.size.toLong
    val words = new scala.util.Random(7).shuffle(rows)
      .toDF("word").repartition(13) // force partial buffers + merges
    val mg = words.agg(
      graft.functions.FreqSketch.misraGries(col("word"), 8).as("mg"))
      .head().getStruct(0)
    assert(mg.getLong(0) == total)
    val items = mg.getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(items.size <= 8)
    Seq("alpha" -> 1000L, "beta" -> 600L).foreach { case (w, c) =>
      assert(items.contains(w), s"$w must survive (count $c > ${total / 9})")
      assert(items(w) <= c && items(w) >= c - total / 9,
        s"$w lb ${items(w)} outside [${c - total / 9}, $c]")
    }
    // the two-pass operator is EXACT: equals the naive groupBy answer
    val exact = words.groupBy("word").count()
      .filter(col("count") * 9 > total)
      .orderBy(col("count").desc, col("word"))
      .as[(String, Long)].collect().toSeq
    val got = graft.pipeline.CorpusStats.heavyHitters(
      words.withColumnRenamed("word", "text"), "text",
      capacity = 8, supportNum = 1, supportDen = 9)
      .as[(String, Long)].collect().toSeq
    assert(got == exact)
  }
}

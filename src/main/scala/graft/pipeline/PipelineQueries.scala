package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables.t

/** Verify-gate entries for the LLM-data-pipeline operators (dedup,
  * similarity, text analysis, multimodal) over the driver-provided
  * documents/embeddings tables.
  *
  * Oracle discipline: every aggregate that crosses rows is either an
  * integer sum or a single division of two exactly-representable
  * numbers, so results are bit-identical across engines regardless of
  * execution order. Every integer SUM in a DuckDB oracle MUST be cast
  * `::BIGINT`: DuckDB types an integer SUM as HUGEINT (int128), Spark
  * writes BIGINT, and the driver's hasher stringifies the two types
  * differently even when values agree. Near-dup entries output EXACT
  * similarity values of
  * candidate pairs (candidates are sketch-bucketed, the similarity is
  * reranked exactly), so the DuckDB oracle can be the brute-force
  * definition — at verify scale the oracle may be all-pairs, the Spark
  * side never is.
  */
object PipelineQueries {

  private val STOPWORDS = "'the','a','of','and','to'"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BPE tokenizer training: the learned merge table itself is the
    // entry output, so the oracle re-derives all four merge rounds in
    // unrolled SQL (pair counts over the word-frequency table, argmax
    // with the engine's deterministic tie-break, greedy
    // leftmost-nonoverlapping application)
    "pl_bpe_merges" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val (merges, wt) = Bpe.learn(docs, 4)
      graft.plans.Checkpoints.unpersist(wt)
      Bpe.mergesDf(s, merges)
    },
    // BPE applied: per-source post-merge token counts via the
    // distinct-(source,word) join against the trained word table —
    // occurrences never ride the join
    "pl_bpe_tokens" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val (_, wt) = Bpe.learn(docs, 4)
      Bpe.tokenCounts(docs, wt).orderBy(col("source"))
    },
    // deterministic epoch shuffle: (shard, in-shard position) for
    // epoch 3 — the oracle re-derives the same salted-md5 permutation
    "pl_epoch_shuffle" -> { (s, dir) =>
      Sampling.epochShuffle(t(s, dir, "documents"), epoch = 3, shards = 8)
        .orderBy(col("shard"), col("pos"))
    },
    // order-insensitive exact dedup: word-permutation duplicates
    // collapse on the sorted-token hash pair
    "pl_dedup_bow" -> { (s, dir) =>
      Dedup.exactBagOfWords(t(s, dir, "documents")).orderBy(col("keeper_id"))
    },
    // temperature-balanced sampling (α=1/2): per-source kept counts
    // under sqrt-proportional rates derived from the data itself
    "pl_temperature" -> { (s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },
    // DSIR importance resampling: top-100 raw docs by target-likeness
    // (target = the English slice), integer-exact additive likelihood
    // ratio so the selected set is bit-reproducible cross-engine
    "pl_dsir" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Sampling.importanceResample(docs, docs.where(col("lang") === "en"),
        k = 100)
    },
    // RAG chunking: overlapping 64-token windows, stride 48; oracle
    // re-derives every chunk's text by list slicing
    "pl_chunking" -> { (s, dir) =>
      TextAnalysis.chunkDocs(t(s, dir, "documents"), window = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    // bucketed-layout end-to-end: corpus + stats written bucketed and
    // per-bucket-sorted by doc_id, re-read through the catalog, and
    // joined — PipelineSpec pins the exchange-free plan; this entry
    // puts the RESULT of that path through the oracle gate
    "pl_bucketed_join" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tmp = graft.Harness.scratchDir("graft-bt").toString
      CorpusLayout.dropTable(s, "bt_corpus")
      CorpusLayout.dropTable(s, "bt_stats")
      CorpusLayout.writeBucketed(docs.select(col("doc_id"), col("source")),
        "bt_corpus", s"$tmp/corpus")
      CorpusLayout.writeBucketed(
        docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "bt_stats", s"$tmp/stats")
      s.table("bt_corpus").join(s.table("bt_stats"), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("source"))
    },
    // Z-order layout end-to-end: events rewritten Morton-ordered on
    // (user_id, ts), then a user×time rectangle read back exactly —
    // the layout never changes results (the oracle is the plain
    // rectangle); CorpusOpsSpec proves the row-group pruning side.
    "pl_zorder_rect" -> { (s, dir) =>
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
      val tmp = graft.Harness.scratchDir("graft-zo").toString
      CorpusLayout.writeZOrdered(ev, tmp, Seq("user_id", "ts"), bits = 16)
      s.read.parquet(tmp)
        .filter(col("user_id").between(40, 80) &&
          col("ts").between(
            lit("2024-01-05 00:00:00").cast("timestamp"),
            lit("2024-01-10 00:00:00").cast("timestamp")))
        .orderBy(col("event_id"))
    },
    "pl_text_stats" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      docs.select(col("lang"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          length(regexp_replace(col("text"), " ", "")).as("n_chars_ns"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          (sum(col("n_chars_ns")).cast("double") / sum(col("n_tokens"))).as("chars_per_token"))
        .orderBy(col("lang"), col("source"))
    },
    "pl_text_quality" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(TextAnalysis.tokenStats(col("text")).as("stats"))
        .select(TextAnalysis.qualityBucketFromStats(col("stats")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
    "pl_lang_id" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.tokenStats(col("text")).as("stats"))
        .select(col("lang"), TextAnalysis.langIdFromStats(col("stats")).as("predicted"))
        .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },
    "pl_token_regex" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), size(TextAnalysis.regexTokens(col("text"))).as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"))
        .orderBy(col("source"))
    },
    "pl_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprints(col("text")).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          array_min(col("fp")).as("fp_min"))
        .orderBy(col("doc_id"))
    },
    "pl_tfidf_topterms" -> { (s, dir) =>
      CorpusStats.topTerms(t(s, dir, "documents"))
        .orderBy(col("id"), col("token"))
    },
    // positional inverted index with the hot-term guard engaged: cap
    // 350 splits the 31-token vocabulary (df 25..402 at sf0.01) so
    // both the collected-postings branch and the NULL-postings hot
    // branch carry rows
    "pl_inverted_index" -> { (s, dir) =>
      CorpusStats.invertedIndex(t(s, dir, "documents"), postingCap = 350)
        .orderBy(col("token"))
    },
    // Deequ-style validation report: five per-table checks in ONE
    // documents scan (stack-unpivoted single agg row) plus a
    // referential-integrity anti-join across orders→customer
    "pl_constraints" -> { (s, dir) =>
      import Constraints._
      val docs = t(s, dir, "documents")
      val suite = singlePass(docs, Seq(
        completeness("doc_text_complete", col("text")),
        uniqueness("doc_id_unique", col("doc_id")),
        uniqueness("doc_text_unique", col("text")),
        satisfies("doc_chars_in_range", col("n_chars").between(1, 100000)),
        satisfies("doc_lang_known",
          col("lang").isin("en", "de", "fr", "es", "zh"))))
      val fk = refIntegrity("order_cust_fk",
        t(s, dir, "orders"), col("o_custkey"),
        t(s, dir, "customer"), col("c_custkey"))
      suite.unionByName(fk).orderBy(col("check_name"))
    },
    // per-source distribution drift: integer-exact L1 numerator and
    // denominator, one IEEE division at the end
    "pl_source_divergence" -> { (s, dir) =>
      CorpusStats.sourceDivergence(t(s, dir, "documents"))
        .orderBy(col("source"))
    },
    // Exact heavy hitters via a mergeable Misra-Gries summary + exact
    // recount of the ≤29 candidates; capacity 29 < the 31-word corpus
    // vocabulary, so the sketch's eviction/merge paths genuinely run,
    // and the 1/30 support stays above the 1/(29+1) guarantee floor.
    // The threshold is integer arithmetic (cnt·30 > total), so the
    // oracle's HAVING reproduces it bit-exactly.
    "pl_heavy_hitters" -> { (s, dir) =>
      CorpusStats.heavyHitters(t(s, dir, "documents"),
        capacity = 29, supportNum = 1, supportDen = 30)
    },
    // the corpus carries no natural PII, so redaction would pass
    // vacuously; plant a deterministic URL/email/IP/id suffix per doc
    // and exact-compare the scrubbed text against the oracle's replay
    "pl_pii_scrub" -> { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example or see https://ex.example/p/"), col("doc_id").cast("string"),
          lit(" from 10.0."), (col("doc_id") % 200).cast("string"),
          lit(".7 ref 9876543"), col("doc_id").cast("string")).as("text"))
      planted
        .select(col("doc_id"), TextAnalysis.scrubText(col("text")).as("scrubbed"))
        .orderBy(col("doc_id"))
    },
    // URL canonicalization: six planted variants per doc exercise
    // case folding, default-port drop, userinfo drop, tracking-param
    // drop + param sort, fragment drop, empty path, non-default port,
    // multi-label public suffix. The oracle hand-writes the EXPECTED
    // canonical strings (independent of the algorithm) rather than
    // replaying the regex chain
    "pl_url_normalize" -> { (s, dir) =>
      import graft.pipeline.UrlOps
      val id = col("doc_id").cast("string")
      val v = col("doc_id") % 6
      val url = when(v === 0, concat(lit("HTTP://WWW.Example.COM:80/a/"), id,
          lit("?utm_source=x&b=2&a=1#frag")))
        .when(v === 1, concat(lit("https://news.example.co.uk:443/story/"), id,
          lit("?gclid=g&z=9")))
        .when(v === 2, concat(lit("https://user:pw@Sub.Shop.example.com:8443/p?id="), id))
        .when(v === 3, lit("http://example.org"))
        .when(v === 4, concat(lit("ftp://Files.Example.net/pub/"), id))
        .otherwise(concat(lit("https://blog.example.com/post/"), id,
          lit("?a=1&utm_medium=m&ref=r")))
      t(s, dir, "documents").select(col("doc_id"),
          UrlOps.normalizeUrl(url).as("norm_url"),
          UrlOps.host(url).as("host"),
          UrlOps.registeredDomain(UrlOps.host(url)).as("domain"))
        .orderBy(col("doc_id"))
    },
    "pl_dedup_exact" -> { (s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy(col("keeper_id"))
    },
    // recurring-crawl shape: snapshot N+1 (doc_id ≡ 0 mod 3) dedups
    // against the kept corpus (the rest) via a hash-manifest anti join
    "pl_dedup_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.incrementalNew(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
        .orderBy(col("doc_id"))
    },
    // same split and same oracle as pl_dedup_incremental, through the
    // Bloom-prefiltered plan: bloom-negative rows keep map-side, only
    // the positive sliver pays the exact anti-join shuffle — the
    // filter must change the plan, never the answer
    "pl_dedup_bloom" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.incrementalNewBloom(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
        .orderBy(col("doc_id"))
    },
    "pl_dedup_minhash" -> { (s, dir) =>
      Dedup.nearDupMinhash(t(s, dir, "documents"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // near-dup screening of a new crawl against the kept corpus: the
    // incoming third's band keys probe the base manifest; the oracle
    // brute-forces the exact cross-Jaccard pairs
    "pl_dedup_incr_near" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.incrementalNearDupMinhash(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
        .orderBy(col("id_new"), col("id_base"))
    },
    "pl_dedup_simhash" -> { (s, dir) =>
      Dedup.nearDupSimhash(t(s, dir, "documents"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // prefix-filtering tier: EXACT at the threshold (same contract and
    // oracle as the sketch tiers, but zero miss probability)
    "pl_dedup_ngram" -> { (s, dir) =>
      Dedup.nearDupNgramJaccard(t(s, dir, "documents"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // boilerplate removal at minDf=2: the synthetic docs are
    // single-line, so this degenerates to blanking exact-dup texts —
    // the multi-line behavior is pinned by PipelineSpec
    "pl_strip_boilerplate" -> { (s, dir) =>
      TextAnalysis.stripCommonLines(t(s, dir, "documents"), minDf = 2)
        .orderBy(col("doc_id"))
    },
    // sequence packing: per-shard running token sums into 512-token
    // packs — the window is per shard by construction (scale contract)
    "pl_pack_sequences" -> { (s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },
    // benchmark decontamination: docs with doc_id % 20 == 0 play the
    // held-out eval set; every other doc reports its n-gram overlap
    "pl_contamination" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.contamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
        .orderBy(col("doc_id"))
    },
    // Gopher rule panel at corpus-fitted thresholds (the synthetic
    // docs average ~54 words): word-count bounds catch short docs,
    // the stopword test splits on presence of >=2 canonical stopwords
    "pl_quality_rules" -> { (s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), minWords = 20)
        .orderBy(col("doc_id"))
    },
    // exact-substring span dedup: every token covered by a duplicated
    // 5-gram (corpus-wide count >= 2) drops; DuckDB re-derives the
    // duplicated windows, the covered positions, and the rebuilt text
    "pl_dedup_spans" -> { (s, dir) =>
      TextAnalysis.dedupSpans(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },
    // duplicate-cluster resolution: connected components over the
    // EXACT ngram-Jaccard pair graph (so DuckDB can re-derive both the
    // pairs and, via a recursive CTE, the min-reachable-id labels)
    "pl_dedup_cluster" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDupNgramJaccard(docs).select(col("id_a"), col("id_b"))
      Dedup.clusterComponents(pairs, docs.select(col("doc_id")))
        .orderBy(col("doc_id"))
    },
    // the natural corpus has no cosine-0.9 pairs (max ~0.52), which
    // would make this entry pass vacuously; plant deterministic
    // near-copies (per-element scale ramp, cosine ~0.9987) so the
    // oracle checks RECALL of the sketch buckets, not just the absence
    // of false positives. The perturbation is written identically here
    // and in the oracle (double math, same association) so the planted
    // vectors are bit-equal across engines.
    "pl_dedup_embed" -> { (s, dir) =>
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * (lit(1.0) + ((i * lit(0.1)) / lit(64.0)))).as("embedding"))
      Dedup.nearDupEmbedding(base.unionByName(planted))
        .orderBy(col("id_a"), col("id_b"))
    },
    // SemDeDup: k-means cells bound the candidate space, within-cell
    // eps-pairs resolve to clusters, min-id representative kept. Same
    // planted near-copies as pl_dedup_embed; the scenario aggregates
    // are deterministic facts (hash-sample init, exact DECIMAL means)
    "pl_dedup_semantic" -> { (s, dir) =>
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * (lit(1.0) + ((i * lit(0.1)) / lit(64.0)))).as("embedding"))
      val planted_n = sum(when(col("vec_id") >= 1000, 1L).otherwise(0L))
      val planted_dropped =
        sum(when(col("vec_id") >= 1000 && !col("keep"), 1L).otherwise(0L))
      Dedup.semanticDedup(base.unionByName(planted))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
          planted_dropped.as("planted_dropped"),
          (planted_dropped === planted_n).as("all_planted_caught"))
    },
    "pl_ann_topk" -> { (s, dir) =>
      val embs = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") % 25 === 0))
        .orderBy(col("query_id"), col("rank"))
    },
    // Approximate ANN surfaced as a checkable scenario fact: recall of
    // the LSH tier vs the exact baseline, computed in Spark, asserted
    // by a literal oracle (both tiers are deterministic: fixed
    // hyperplane seed, exact rerank, id-tiebroken ranks).
    "pl_ann_lsh" -> { (s, dir) =>
      val embs = t(s, dir, "embeddings")
      Similarity.lshRecall(embs, embs.filter(col("vec_id") % 25 === 0))
    },
    "pl_ann_ivf" -> { (s, dir) =>
      val embs = t(s, dir, "embeddings")
      Similarity.ivfRecall(embs, embs.filter(col("vec_id") % 25 === 0))
    },
    "pl_ann_pq" -> { (s, dir) =>
      val embs = t(s, dir, "embeddings")
      Similarity.pqRecall(embs, embs.filter(col("vec_id") % 25 === 0))
    },
    "pl_multimodal" -> { (s, dir) =>
      Multimodal.pipeline(s, t(s, dir, "documents"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("total_bytes"),
          (sum(col("mean_byte")) / count(lit(1))).as("avg_mean_byte"))
        .orderBy(col("source"))
    },
    // Gopher-style repetition signals: per-doc 2-gram duplicate /
    // top-gram fractions (hash-pair frequency shuffle, no text)
    "pl_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },
    // CCNet-style LM quality score: corpus-trained smoothed bigram
    // model, exact integer-sum scoring (bit-reproducible by design)
    "pl_lm_score" -> { (s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },
    // fastText-style hashed linear quality classifier: broadcast
    // weight vector, map-only scoring, exact integer accumulation
    "pl_quality_classifier" -> { (s, dir) =>
      TextAnalysis.qualityClassifier(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },
    // deterministic md5-keyed stratified sample by language
    "pl_sample_stratified" -> { (s, dir) =>
      Sampling.sampleStratified(t(s, dir, "documents"), SAMPLE_RATES,
          stratumCol = "lang")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    },
    // exact per-source cap of 10 via salted two-level top-k
    "pl_source_cap" -> { (s, dir) =>
      Sampling.capPerStratum(t(s, dir, "documents"), cap = 10)
        .select(col("doc_id"), col("source"), col("rank"))
        .orderBy(col("source"), col("rank"))
    },
    // fractional mixture weights by language (expected multiplier
    // exact, realized per-row rounding md5-deterministic)
    "pl_mixture" -> { (s, dir) =>
      Sampling.mixtureExpand(t(s, dir, "documents"), MIX_WEIGHTS,
          stratumCol = "lang")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_rows"),
          count_distinct(col("doc_id")).as("n_docs"),
          max(col("epoch")).as("max_epoch"))
        .orderBy(col("lang"))
    },
    // the full curation pipeline COMPOSED as one lazy plan:
    // exact-dedup keepers → quality filter → stratified sample →
    // sequence packing. No materialization between stages — the whole
    // chain is a single DAG Catalyst optimizes end-to-end, which is
    // the point of expressing curation relationally. The oracle
    // replays every stage in SQL.
    "pl_curation_e2e" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val keepers = Dedup.exact(docs).select(col("keeper_id").as("doc_id"))
      val kept = docs.join(keepers, Seq("doc_id"), "left_semi")
      val quality = kept
        .withColumn("stats", TextAnalysis.tokenStats(col("text")))
        .filter(TextAnalysis.qualityBucketFromStats(col("stats")) === "ok")
        .drop("stats")
      val sampled = Sampling.sampleStratified(quality, SAMPLE_RATES,
        stratumCol = "lang")
      TextAnalysis.packSequences(sampled).orderBy(col("doc_id"))
    }
  )

  /** Stratified-sample rates / mixture weights by language — shared
    * with the oracle so both engines compile the same thresholds.
    */
  private val SAMPLE_RATES =
    Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.25, "fr" -> 0.75, "zh" -> 1.0)
  private val MIX_WEIGHTS =
    Map("en" -> 0.5, "de" -> 2.0, "es" -> 3.25, "fr" -> 1.5, "zh" -> 0.0)

  /** DuckDB replica of [[Sampling.hashKey]]. */
  private def hkSql(id: String): String =
    s"('0x' || substr(md5($id::VARCHAR), 1, 8))::BIGINT"

  private def caseSql(m: Map[String, Double], f: Double => String,
      default: String): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"WHEN '$k' THEN ${f(v)}" }
      .mkString("CASE lang ", " ", s" ELSE $default END")

  /** Shared CTE: distinct word-3-gram shingles per doc (DuckDB). */
  private val SHINGLES_CTE =
    """WITH sh AS (
         SELECT doc_id, list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                        for i in range(1, len(w)-1) ]) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))"""

  /** Brute-force near-dup truth: both sketch methods must produce
    * exactly the pairs whose true Jaccard clears the threshold.
    */
  private val NEARDUP_ORACLE = SHINGLES_CTE +
    """ SELECT id_a, id_b, j FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.s, b.s))::DOUBLE
                   / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE AS j
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE j >= 0.5 ORDER BY id_a, id_b"""

  private def dotSql(a: String, b: String): String =
    s"list_sum([ $a[i] * $b[i] for i in range(1, 65) ])"

  /** Shared CTE chain for the BPE oracles: word-frequency table w0,
    * then four unrolled rounds of (pair count, deterministic argmax,
    * greedy merge application). Merge application encodes each symbol
    * as \x02sym\x03 so a plain `replace` of \x02lhs\x03\x02rhs\x03 is
    * exactly the leftmost-nonoverlapping greedy scan: adjacent
    * occurrences share no delimiter, and a symbol can never match
    * inside a longer symbol.
    */
  private val BPE_CTES: String = {
    def round(k: Int): String = {
      val (p, m, w, wPrev) = (s"p$k", s"m$k", s"w$k", s"w${k - 1}")
      s"""$p AS (
           SELECT arr[i] AS lhs, arr[i+1] AS rhs, SUM(cnt)::BIGINT AS pc
           FROM (SELECT cnt, arr, unnest(generate_series(1, len(arr)-1)) AS i
                 FROM $wPrev WHERE len(arr) > 1)
           GROUP BY 1, 2),
         $m AS (SELECT lhs, rhs, pc FROM $p
                ORDER BY pc DESC, lhs, rhs LIMIT 1),
         $w AS (
           SELECT word, cnt,
             string_split(substr(s2, 2, length(s2)-2), chr(3)||chr(2)) AS arr
           FROM (SELECT word, cnt,
                   replace(chr(2) || array_to_string(arr, chr(3)||chr(2)) || chr(3),
                           chr(2)||$m.lhs||chr(3)||chr(2)||$m.rhs||chr(3),
                           chr(2)||$m.lhs||$m.rhs||chr(3)) AS s2
                 FROM $wPrev, $m))"""
    }
    s"""WITH w0 AS (
         SELECT word, COUNT(*)::BIGINT AS cnt,
                list_filter(string_split(word, ''), c -> c <> '') AS arr
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' GROUP BY word),
       ${(1 to 4).map(round).mkString(",\n")}"""
  }

  val oracle: Map[String, String] = Map(
    "pl_bpe_merges" ->
      s"""$BPE_CTES
         SELECT * FROM (
           SELECT 1 AS merge_rank, lhs, rhs, pc AS pair_count FROM m1
           UNION ALL SELECT 2, lhs, rhs, pc FROM m2
           UNION ALL SELECT 3, lhs, rhs, pc FROM m3
           UNION ALL SELECT 4, lhs, rhs, pc FROM m4)
         ORDER BY merge_rank""",
    "pl_epoch_shuffle" ->
      """SELECT doc_id, shard,
                row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                  ::BIGINT AS pos
         FROM (SELECT doc_id, md5(doc_id::VARCHAR || '#e3') AS k,
                 ('0x' || substr(md5(doc_id::VARCHAR || '#e3'), 1, 8))::BIGINT
                   % 8 AS shard
               FROM documents)
         ORDER BY shard, pos""",
    "pl_dedup_bow" ->
      """SELECT MIN(doc_id)::BIGINT AS keeper_id, COUNT(*)::BIGINT AS n_copies
         FROM (SELECT doc_id,
                 array_to_string(list_sort(string_split(text, ' ')), ' ') AS bag
               FROM documents)
         GROUP BY bag ORDER BY keeper_id""",
    "pl_temperature" ->
      s"""WITH cnt AS (SELECT source, COUNT(*)::BIGINT AS n
                       FROM documents GROUP BY source),
             mx AS (SELECT MAX(sqrt(n::DOUBLE)) AS ms FROM cnt),
             th AS (SELECT source,
                      CAST(floor(sqrt(n::DOUBLE) / ms * 4294967296) AS BIGINT)
                        AS t
                    FROM cnt, mx)
          SELECT source, COUNT(*)::BIGINT AS n_kept
          FROM documents JOIN th USING (source)
          WHERE ${hkSql("doc_id")} < t
          GROUP BY source ORDER BY source""",
    "pl_dsir" ->
      """WITH rwf AS (SELECT doc_id, tok
                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                            FROM documents)
                      WHERE tok <> ''),
            tct AS (SELECT tok, COUNT(*)::BIGINT AS ct
                    FROM (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents WHERE lang = 'en')
                    WHERE tok <> '' GROUP BY tok),
            rct AS (SELECT tok, COUNT(*)::BIGINT AS cr
                    FROM rwf GROUP BY tok),
            tot AS (SELECT (SELECT SUM(ct) FROM tct) AS nt,
                           (SELECT SUM(cr) FROM rct) AS nr,
                           (SELECT COUNT(*) FROM rct) AS v),
            sc AS (SELECT doc_id,
                          SUM(COALESCE(ct, 0) + 1)::BIGINT AS num,
                          SUM(cr + 1)::BIGINT AS den
                   FROM rwf LEFT JOIN tct USING (tok) JOIN rct USING (tok)
                   GROUP BY doc_id)
         SELECT doc_id, num, den,
                (num::HUGEINT * (nr + v))::DOUBLE /
                (den::HUGEINT * (nt + v))::DOUBLE AS dsir_score
         FROM sc, tot
         ORDER BY dsir_score DESC, doc_id LIMIT 100""",
    "pl_chunking" ->
      """SELECT doc_id, CAST(k AS INT) AS chunk_idx,
                CAST(len(string_split(chunk, ' ')) AS INT) AS n_chunk_tokens,
                md5(chunk) AS chunk_md5
         FROM (
           SELECT doc_id, k,
                  array_to_string(arr[k*48+1 : k*48+64], ' ') AS chunk
           FROM (SELECT doc_id, arr,
                   unnest(generate_series(0,
                     CAST(1 + floor(greatest(len(arr)-64, 0) / 48)
                        + CASE WHEN (greatest(len(arr)-64, 0) % 48) > 0
                               THEN 1 ELSE 0 END AS INT) - 1)) AS k
                 FROM (SELECT doc_id, string_split(text, ' ') AS arr
                       FROM documents)))
         ORDER BY doc_id, chunk_idx""",
    "pl_bpe_tokens" ->
      s"""$BPE_CTES,
         gw AS (SELECT source, word, COUNT(*)::BIGINT AS n
                FROM (SELECT source, unnest(string_split(text, ' ')) AS word
                      FROM documents)
                WHERE word <> '' GROUP BY 1, 2)
         SELECT source, SUM(n * len(arr))::BIGINT AS n_bpe_tokens,
                SUM(n)::BIGINT AS n_words
         FROM gw JOIN w4 USING (word)
         GROUP BY source ORDER BY source""",
    "pl_zorder_rect" ->
      """SELECT event_id, user_id, ts FROM events
         WHERE user_id BETWEEN 40 AND 80
           AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                      AND TIMESTAMP '2024-01-10 00:00:00'
         ORDER BY event_id""",
    "pl_bucketed_join" ->
      """SELECT source, COUNT(*) AS n_docs,
                SUM(n_tokens)::BIGINT AS sum_tokens
         FROM (SELECT source, len(string_split(text, ' ')) AS n_tokens
               FROM documents)
         GROUP BY source ORDER BY source""",
    "pl_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
                SUM(n_tokens)::BIGINT AS sum_tokens,
                SUM(n_chars_ns)::DOUBLE / SUM(n_tokens) AS chars_per_token
         FROM (SELECT lang, source, len(string_split(text,' ')) AS n_tokens,
                      length(replace(text,' ','')) AS n_chars_ns FROM documents)
         GROUP BY lang, source ORDER BY lang, source""",
    "pl_text_quality" ->
      s"""SELECT bucket, COUNT(*) AS n FROM (
            SELECT CASE
              WHEN len(w) < 20 THEN 'too_short'
              WHEN len(list_filter(w, x -> list_contains([$STOPWORDS], x)))::DOUBLE / len(w) > 0.5 THEN 'boilerplate'
              WHEN len(list_distinct(w))::DOUBLE / len(w) < 0.3 THEN 'repetitive'
              ELSE 'ok' END AS bucket
            FROM (SELECT string_split(text,' ') AS w FROM documents))
          GROUP BY bucket ORDER BY bucket""",
    "pl_lang_id" ->
      s"""SELECT lang, predicted, COUNT(*) AS n FROM (
            SELECT lang, CASE
              WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
              WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
              WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
              WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'zh'
              ELSE 'und' END AS predicted
            FROM (SELECT lang,
              len(list_filter(w, x -> list_contains([$STOPWORDS], x))) AS s_en,
              len(list_filter(w, x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
              len(list_filter(w, x -> list_contains(['el','la','que','y','los'], x))) AS s_es,
              len(list_filter(w, x -> list_contains(['le','les','et','des','une'], x))) AS s_fr,
              len(list_filter(w, x -> list_contains(['的','是','了','在','我'], x))) AS s_zh
              FROM (SELECT lang, string_split(text,' ') AS w FROM documents)))
          GROUP BY lang, predicted ORDER BY lang, predicted""",
    "pl_token_regex" ->
      """SELECT source, COUNT(*) AS n_docs,
                SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))::BIGINT AS n_toks
         FROM documents GROUP BY source ORDER BY source""",
    "pl_heavy_hitters" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents)
         SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY word
         HAVING count(*) * 30 > (SELECT count(*) FROM w)
         ORDER BY cnt DESC, word""",
    "pl_inverted_index" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         toks AS (SELECT doc_id, w[i] AS token, i - 1 AS pos
                  FROM d, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
         pd AS (SELECT token, doc_id,
                       string_agg(pos::VARCHAR, ',' ORDER BY pos) AS poss
                FROM toks GROUP BY 1, 2),
         dft AS (SELECT token, count(*)::BIGINT AS df FROM pd GROUP BY 1),
         cold AS (SELECT pd.token, dft.df,
                         string_agg(pd.doc_id::VARCHAR || ':' || pd.poss,
                                    ';' ORDER BY pd.doc_id) AS postings
                  FROM pd JOIN dft USING (token)
                  WHERE dft.df <= 350 GROUP BY 1, 2),
         hot AS (SELECT token, df, NULL::VARCHAR AS postings
                 FROM dft WHERE df > 350)
         SELECT token, df, postings FROM cold
         UNION ALL SELECT token, df, postings FROM hot
         ORDER BY token""",
    "pl_constraints" ->
      """WITH m AS (
           SELECT 'doc_text_complete' AS check_name,
                  count(text)::BIGINT AS num, count(*)::BIGINT AS den
           FROM documents
           UNION ALL
           SELECT 'doc_id_unique', count(DISTINCT doc_id)::BIGINT,
                  count(*)::BIGINT FROM documents
           UNION ALL
           SELECT 'doc_text_unique', count(DISTINCT text)::BIGINT,
                  count(*)::BIGINT FROM documents
           UNION ALL
           SELECT 'doc_chars_in_range',
                  count(CASE WHEN n_chars BETWEEN 1 AND 100000 THEN 1 END)::BIGINT,
                  count(*)::BIGINT FROM documents
           UNION ALL
           SELECT 'doc_lang_known',
                  count(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1 END)::BIGINT,
                  count(*)::BIGINT FROM documents
           UNION ALL
           SELECT 'order_cust_fk',
                  count(CASE WHEN EXISTS (SELECT 1 FROM customer
                        WHERE c_custkey = o_custkey) THEN 1 END)::BIGINT,
                  count(o_custkey)::BIGINT
           FROM orders WHERE o_custkey IS NOT NULL)
         SELECT check_name, num, den, num::DOUBLE / den AS ratio
         FROM m ORDER BY check_name""",
    "pl_source_divergence" ->
      """WITH st AS (SELECT source AS src, t.token, count(*)::BIGINT AS c_st
                    FROM (SELECT source, unnest(string_split(text, ' ')) AS token
                          FROM documents) t
                    GROUP BY 1, 2),
         tot AS (SELECT token, sum(c_st)::BIGINT AS c_t FROM st GROUP BY 1),
         ns AS (SELECT src, sum(c_st)::BIGINT AS n_s FROM st GROUP BY 1),
         n AS (SELECT sum(c_t)::BIGINT AS n FROM tot),
         pres AS (SELECT st.src,
                         sum(abs(st.c_st * (SELECT n FROM n)
                                 - tot.c_t * ns.n_s))::BIGINT AS a,
                         sum(tot.c_t)::BIGINT AS g
                  FROM st JOIN tot USING (token) JOIN ns USING (src)
                  GROUP BY 1)
         SELECT ns.src AS source, ns.n_s AS n_tokens,
                (pres.a + ns.n_s * ((SELECT n FROM n) - pres.g))::BIGINT AS l1_num,
                (ns.n_s * (SELECT n FROM n))::BIGINT AS l1_den,
                (pres.a + ns.n_s * ((SELECT n FROM n) - pres.g))::DOUBLE
                  / (ns.n_s * (SELECT n FROM n)) AS divergence
         FROM ns JOIN pres USING (src)
         ORDER BY source""",
    "pl_tfidf_topterms" ->
      """WITH tok AS (
           SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         tf AS (SELECT id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
         SELECT id, token, tf, df FROM (
           SELECT tf.id, tf.token, tf.tf, df.df,
                  row_number() OVER (PARTITION BY tf.id
                    ORDER BY tf.tf::DOUBLE / df.df DESC, tf.token) AS rn
           FROM tf JOIN df USING (token))
         WHERE rn <= 3 ORDER BY id, token""",
    "pl_pii_scrub" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   text || ' contact user' || doc_id::VARCHAR ||
                   '@mail.example or see https://ex.example/p/' || doc_id::VARCHAR ||
                   ' from 10.0.' || (doc_id % 200)::VARCHAR ||
                   '.7 ref 9876543' || doc_id::VARCHAR,
                   'https?://[^ ]+', '<URL>', 'g'),
                 '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
         FROM documents ORDER BY doc_id""",
    "pl_fingerprint" ->
      """SELECT doc_id, len(fp) AS n_fp, list_min(fp) AS fp_min FROM (
           SELECT doc_id, list_distinct([ list_min(g[j:j+3]) for j in range(1, len(g)-2) ]) AS fp
           FROM (SELECT doc_id,
                   [ substr(md5(substr(text, i, 8)), 1, 8) for i in range(1, length(text)-6) ] AS g
                 FROM documents))
         ORDER BY doc_id""",
    "pl_dedup_exact" ->
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
         FROM documents GROUP BY text ORDER BY keeper_id""",
    "pl_dedup_incremental" ->
      """WITH base AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 <> 0),
              keep AS (SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
                       FROM documents WHERE doc_id % 3 = 0 GROUP BY text)
         SELECT k.doc_id, k.n_copies FROM keep k
         WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.text = k.text)
         ORDER BY k.doc_id""",
    "pl_url_normalize" ->
      """SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'http://www.example.com/a/' || doc_id || '?a=1&b=2'
             WHEN 1 THEN 'https://news.example.co.uk/story/' || doc_id || '?z=9'
             WHEN 2 THEN 'https://sub.shop.example.com:8443/p?id=' || doc_id
             WHEN 3 THEN 'http://example.org/'
             WHEN 4 THEN 'ftp://files.example.net/pub/' || doc_id
             ELSE 'https://blog.example.com/post/' || doc_id || '?a=1'
           END AS norm_url,
           CASE doc_id % 6
             WHEN 0 THEN 'www.example.com' WHEN 1 THEN 'news.example.co.uk'
             WHEN 2 THEN 'sub.shop.example.com' WHEN 3 THEN 'example.org'
             WHEN 4 THEN 'files.example.net' ELSE 'blog.example.com'
           END AS host,
           CASE doc_id % 6
             WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.co.uk'
             WHEN 2 THEN 'example.com' WHEN 3 THEN 'example.org'
             WHEN 4 THEN 'example.net' ELSE 'example.com'
           END AS domain
         FROM documents ORDER BY doc_id""",
    "pl_dedup_bloom" ->
      """WITH base AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 <> 0),
              keep AS (SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
                       FROM documents WHERE doc_id % 3 = 0 GROUP BY text)
         SELECT k.doc_id, k.n_copies FROM keep k
         WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.text = k.text)
         ORDER BY k.doc_id""",
    "pl_dedup_minhash" -> NEARDUP_ORACLE,
    "pl_dedup_incr_near" -> (SHINGLES_CTE +
      """ SELECT id_new, id_base, j FROM (
            SELECT a.doc_id AS id_new, b.doc_id AS id_base,
                   len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE AS j
            FROM sh a JOIN sh b
              ON a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0)
          WHERE j >= 0.5 ORDER BY id_new, id_base"""),
    "pl_dedup_simhash" -> NEARDUP_ORACLE,
    "pl_dedup_ngram" -> NEARDUP_ORACLE,
    "pl_strip_boilerplate" ->
      """WITH l AS (SELECT doc_id, ls[i] AS line, i AS pos
                    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                          FROM documents),
                         LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i)),
           common AS (SELECT line FROM (
                        SELECT line, count(DISTINCT doc_id) AS df
                        FROM l GROUP BY line) WHERE df >= 2),
           kept AS (SELECT k.doc_id, k.pos, k.line FROM l k
                    LEFT JOIN common c ON k.line = c.line
                    WHERE c.line IS NULL)
         SELECT d.doc_id::BIGINT AS doc_id,
                coalesce(agg.ct, '') AS clean_text,
                (len(string_split(d.text, chr(10))) - coalesce(agg.nk, 0))::BIGINT
                  AS n_removed
         FROM documents d LEFT JOIN (
           SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS ct,
                  count(*) AS nk
           FROM kept GROUP BY doc_id) agg USING (doc_id)
         ORDER BY doc_id""",
    "pl_pack_sequences" ->
      """SELECT doc_id::BIGINT AS doc_id, t AS n_tokens, shard,
                (shard * 1000000 + ((cum - t) // 512))::BIGINT AS pack_id
         FROM (SELECT doc_id, t, shard,
                      sum(t) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
               FROM (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS t,
                            (doc_id % 16)::INT AS shard
                     FROM documents))
         ORDER BY doc_id""",
    "pl_contamination" -> (SHINGLES_CTE +
      """, bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0),
           corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0),
           ex AS (SELECT doc_id, unnest(s) AS g FROM corpus),
           hit AS (SELECT e.doc_id, count(*) AS nh
                   FROM ex e JOIN bench b USING (g) GROUP BY e.doc_id)
         SELECT c.doc_id::BIGINT AS doc_id, len(c.s)::BIGINT AS n_grams,
                coalesce(h.nh, 0)::BIGINT AS n_hit,
                CASE WHEN len(c.s) = 0 THEN false
                     ELSE (coalesce(h.nh, 0)::DOUBLE / len(c.s)) >= 0.2 END
                  AS contaminated
         FROM corpus c LEFT JOIN hit h USING (doc_id) ORDER BY doc_id"""),
    // components of the exact pair graph: min reachable doc id via a
    // recursive CTE — the relational ground truth for the distributed
    // min-label-propagation fixpoint
    "pl_dedup_cluster" ->
      (SHINGLES_CTE.replace("WITH sh AS", "WITH RECURSIVE sh AS") +
        """, pairs AS (
             SELECT id_a, id_b FROM (
               SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      len(list_intersect(a.s, b.s))::DOUBLE
                        / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE AS j
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
             WHERE j >= 0.5),
           edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                     UNION ALL SELECT id_b, id_a FROM pairs),
           reach(id, r) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
         SELECT id::BIGINT AS doc_id, min(r)::BIGINT AS cluster
         FROM reach GROUP BY id ORDER BY doc_id"""),
    "pl_dedup_embed" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
               planted AS (
                 SELECT vec_id + 1000 AS vec_id,
                        [ v[i+1] * (1.0 + ((i * 0.1) / 64.0)) for i in range(0, 64) ] AS v
                 FROM base WHERE vec_id % 50 = 0),
               allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
          SELECT id_a, id_b, c AS cos FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ${dotSql("a.v", "b.v")}
                     / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")})) AS c
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id)
          WHERE c >= 0.9 ORDER BY id_a, id_b""",
    // Scenario-literal oracle: SemDeDup over the 500 natural + 10
    // planted near-copy vectors is deterministic end-to-end (hash-
    // sample init, exact DECIMAL Lloyd means, min-id representatives);
    // every planted copy lands in its base's cell and is dropped, and
    // no natural pair reaches cosine 0.95 (corpus max ~0.52)
    "pl_dedup_semantic" ->
      """SELECT 510::BIGINT AS n_vectors, 10::BIGINT AS n_dropped,
                10::BIGINT AS planted_dropped, true AS all_planted_caught""",
    // Scenario-literal oracle (proj_* pattern): both ANN tiers are
    // deterministic, so LSH recall vs exact top-10 at sf0.01 is a
    // stable fact — 20 queries, 191/200 true neighbors surfaced
    // (recall 0.955 >= 0.9 contract; swept in Similarity.lshTopK doc).
    "pl_ann_lsh" ->
      """SELECT 20::BIGINT AS n_queries, 191::BIGINT AS total_hits,
                true AS mean_recall_ge_09""",
    // IVF/PQ hit counts moved 188→190 / 191→196 when the round-6
    // hash-sampled init replaced the global-window stride init (spread
    // sample, slightly better codebooks) — still deterministic facts
    "pl_ann_ivf" ->
      """SELECT 20::BIGINT AS n_queries, 190::BIGINT AS total_hits,
                true AS mean_recall_ge_09""",
    "pl_ann_pq" ->
      """SELECT 20::BIGINT AS n_queries, 196::BIGINT AS total_hits,
                true AS mean_recall_ge_09""",
    "pl_ann_topk" ->
      s"""SELECT query_id, rank, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     ${dotSql("q.v", "e.v")} / sqrt(${dotSql("e.v", "e.v")}) DESC,
                     e.vec_id ASC) AS rank
            FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 25 = 0) q
            JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e
              ON q.vec_id <> e.vec_id)
          WHERE rank <= 10 ORDER BY query_id, rank""",
    "pl_multimodal" ->
      """SELECT source, COUNT(*) AS n_media, SUM(n_bytes)::BIGINT AS total_bytes,
                SUM(mean_byte) / COUNT(*) AS avg_mean_byte
         FROM (SELECT source, 16 AS n_bytes,
                 list_sum([ ('0x' || substr(md5(text), 2*i-1, 2))::INT
                            for i in range(1, 17) ])::DOUBLE / 16 AS mean_byte
               FROM documents)
         GROUP BY source ORDER BY source""",
    "pl_quality_rules" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), t -> t <> '') AS w
             FROM documents),
           m AS (SELECT doc_id, len(w) AS n,
                   list_sum(list_transform(w, t -> length(t)))::DOUBLE
                     / len(w) AS mean_len,
                   len(list_filter(w, t -> contains(t, '#')
                       OR contains(t, '...')))::DOUBLE / len(w) AS sym,
                   len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                     / len(w) AS alpha,
                   len(list_intersect(list_distinct(w),
                     ['the','be','to','of','and','that','have','with'])) AS stops
                 FROM d)
         SELECT doc_id::BIGINT AS doc_id, n::BIGINT AS n_words,
                mean_len AS mean_word_len, sym AS symbol_frac,
                alpha AS alpha_frac, stops::BIGINT AS n_stop_hits,
                ((n BETWEEN 20 AND 100000) AND (mean_len BETWEEN 3 AND 10)
                  AND sym <= 0.1 AND alpha >= 0.8 AND stops >= 2) AS keep
         FROM m ORDER BY doc_id""",
    "pl_dedup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           toks AS (SELECT doc_id, w[i] AS tok, i - 1 AS pos, len(w) AS n
                    FROM d, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
           gr AS (SELECT doc_id, pos, n,
                    string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS gram
                  FROM toks),
           valid AS (SELECT doc_id, pos, gram FROM gr WHERE pos + 5 <= n),
           dupg AS (SELECT gram FROM valid GROUP BY gram HAVING count(*) >= 2),
           ds AS (SELECT v.doc_id, v.pos FROM valid v JOIN dupg USING (gram)),
           dropped AS (SELECT DISTINCT t.doc_id, t.pos FROM toks t
                       JOIN ds ON ds.doc_id = t.doc_id
                              AND t.pos BETWEEN ds.pos AND ds.pos + 4),
           kept AS (SELECT t.doc_id, t.tok, t.pos FROM toks t
                    LEFT JOIN dropped dr
                      ON dr.doc_id = t.doc_id AND dr.pos = t.pos
                    WHERE dr.pos IS NULL),
           agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct,
                          count(*) AS nk
                   FROM kept GROUP BY doc_id)
         SELECT d.doc_id::BIGINT AS doc_id,
                coalesce(agg.ct, '') AS clean_text,
                (len(d.w) - coalesce(agg.nk, 0))::BIGINT AS n_dropped
         FROM d LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id""",
    "pl_repetition" ->
      """WITH e AS (
           SELECT doc_id, unnest([ w[i] || ' ' || w[i+1]
                                   for i in range(1, len(w)) ]) AS g
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         c AS (SELECT doc_id, g, count(*) AS cnt FROM e GROUP BY 1, 2),
         p AS (SELECT doc_id, sum(cnt) AS n_grams, count(*) AS n_distinct,
                      max(cnt) AS top_cnt
               FROM c GROUP BY 1)
         SELECT d.doc_id::BIGINT AS doc_id,
                coalesce(p.n_grams, 0)::BIGINT AS n_grams,
                coalesce(p.n_distinct, 0)::BIGINT AS n_distinct,
                coalesce(p.top_cnt, 0)::BIGINT AS top_cnt,
                CASE WHEN p.n_grams IS NULL THEN 0.0
                     ELSE (p.n_grams - p.n_distinct)::DOUBLE / p.n_grams END
                  AS dup_frac,
                CASE WHEN p.n_grams IS NULL THEN 0.0
                     ELSE p.top_cnt::DOUBLE / p.n_grams END AS top_frac,
                CASE WHEN p.n_grams IS NULL THEN false
                     ELSE p.top_cnt::DOUBLE / p.n_grams > 0.2
                       OR (p.n_grams - p.n_distinct)::DOUBLE / p.n_grams > 0.3
                  END AS repetitive
         FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id""",
    "pl_lm_score" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter([lower(t) for t in string_split(text, ' ')],
                              t -> t <> '') AS w
           FROM documents),
         u AS (SELECT t AS tok, count(*)::BIGINT AS c1
               FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
         v AS (SELECT count(*)::BIGINT AS vocab FROM u),
         p AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2
               FROM (SELECT doc_id,
                       unnest([{'w1': w[i], 'w2': w[i+1]}
                               for i in range(1, len(w))]) AS p
                     FROM toks WHERE len(w) >= 2)),
         b AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM p GROUP BY 1, 2),
         s AS (SELECT p.doc_id, count(*)::BIGINT AS n_pairs,
                      sum(b.c12 + 1)::BIGINT AS num,
                      sum(u.c1 + (SELECT vocab FROM v))::BIGINT AS den,
                      sum(CASE WHEN b.c12 >= 2 THEN 1 ELSE 0 END)::BIGINT
                        AS n_seen
               FROM p JOIN b USING (w1, w2) JOIN u ON u.tok = p.w1
               GROUP BY 1)
         SELECT d.doc_id::BIGINT AS doc_id,
                coalesce(s.n_pairs, 0)::BIGINT AS n_pairs,
                coalesce(s.num, 0)::BIGINT AS num,
                coalesce(s.den, 0)::BIGINT AS den,
                CASE WHEN s.n_pairs IS NOT NULL
                     THEN s.num::DOUBLE / s.den::DOUBLE END AS lm_score,
                CASE WHEN s.n_pairs IS NULL THEN 0.0
                     ELSE s.n_seen::DOUBLE / s.n_pairs::DOUBLE END AS seen_frac
         FROM documents d LEFT JOIN s USING (doc_id)
         ORDER BY doc_id""",
    "pl_quality_classifier" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter([lower(t) for t in string_split(text, ' ')],
                              t -> t <> '') AS w
           FROM documents),
         feats AS (
           SELECT doc_id,
                  unnest(list_concat(w,
                    [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS f
           FROM toks),
         s AS (
           SELECT doc_id, count(*)::BIGINT AS n_feats,
                  sum((('0x' || substr(md5('w' ||
                         ((('0x' || substr(md5(f), 1, 8))::BIGINT % 4096))::VARCHAR),
                       1, 8))::BIGINT % 2001) - 1000)::BIGINT AS raw
           FROM feats GROUP BY 1)
         SELECT d.doc_id::BIGINT AS doc_id,
                coalesce(s.n_feats, 0)::BIGINT AS n_feats,
                coalesce(s.raw, 0)::BIGINT AS raw,
                s.raw::DOUBLE / (1000.0 * s.n_feats) AS score,
                coalesce(s.raw::DOUBLE / (1000.0 * s.n_feats) > 0.0, false)
                  AS keep
         FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""",
    "pl_sample_stratified" ->
      s"""SELECT lang, COUNT(*) AS n_sampled FROM documents
          WHERE ${hkSql("doc_id")} <
            ${caseSql(SAMPLE_RATES, r => rateThreshold(r), rateThreshold(1.0))}
          GROUP BY lang ORDER BY lang""",
    "pl_source_cap" ->
      s"""SELECT doc_id::BIGINT AS doc_id, source, rank FROM (
            SELECT doc_id, source, row_number() OVER (
              PARTITION BY source
              ORDER BY ${hkSql("doc_id")}, doc_id) AS rank
            FROM documents)
          WHERE rank <= 10 ORDER BY source, rank""",
    "pl_curation_e2e" ->
      s"""WITH keepers AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
         kept AS (SELECT d.doc_id, d.text, d.lang FROM documents d
                  JOIN keepers k USING (doc_id)),
         quality AS (
           SELECT doc_id, text, lang FROM (
             SELECT doc_id, text, lang, string_split(text, ' ') AS w FROM kept)
           WHERE NOT (len(w) < 20)
             AND NOT (len(list_filter(w, x -> list_contains([$STOPWORDS], x)))::DOUBLE / len(w) > 0.5)
             AND NOT (len(list_distinct(w))::DOUBLE / len(w) < 0.3)),
         sampled AS (
           SELECT doc_id, text FROM quality
           WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT <
             ${caseSql(SAMPLE_RATES, r => rateThreshold(r), rateThreshold(1.0))})
         SELECT doc_id::BIGINT AS doc_id, t AS n_tokens, shard,
                (shard * 1000000 + ((cum - t) // 512))::BIGINT AS pack_id
         FROM (SELECT doc_id, t, shard,
                      sum(t) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
               FROM (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS t,
                            (doc_id % 16)::INT AS shard
                     FROM sampled))
         ORDER BY doc_id""",
    "pl_mixture" ->
      s"""SELECT lang, SUM(n_epochs)::BIGINT AS n_rows,
                 COUNT(*)::BIGINT AS n_docs,
                 MAX(n_epochs)::BIGINT AS max_epoch
          FROM (SELECT lang,
                  ${caseSql(MIX_WEIGHTS, w => math.floor(w).toLong.toString,
                            "1")} +
                  CASE WHEN ${hkSql("doc_id")} <
                    ${caseSql(MIX_WEIGHTS, w => fracThreshold(w), "0")}
                    THEN 1 ELSE 0 END AS n_epochs
                FROM documents)
          WHERE n_epochs > 0 GROUP BY lang ORDER BY lang"""
  )

  /** `floor(rate * 2^32)` — the [[Sampling]] keep-threshold, compiled
    * to the same literal both engines compare against.
    */
  private def rateThreshold(rate: Double): String =
    math.floor(rate * 4294967296L).toLong.toString

  /** Fractional-part threshold for mixture weights. The bench weights
    * are dyadic fractions, so `w - floor(w)` is exact in both
    * engines' double math.
    */
  private def fracThreshold(w: Double): String =
    ((w - math.floor(w)) * 4294967296L).toLong.toString
}

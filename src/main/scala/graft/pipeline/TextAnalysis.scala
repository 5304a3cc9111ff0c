package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (beyond-reference extension, SURVEY.md §7 phase 7): tokenization,
  * quality scoring, language ID, document fingerprinting.
  *
  * Everything here is a pure Column expression built from Spark
  * built-ins (split / transform / filter / aggregate / md5) — no UDFs,
  * so the whole pipeline stays inside whole-stage codegen and scales
  * linearly with executors; per-document work is independent, so there
  * is no shuffle until the caller aggregates.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish lexical tokens: letter runs, digit runs, single
    * punctuation — the classic pre-tokenizer split.
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** One-pass token statistics (native expression):
    * [n_tokens, n_distinct, marker-hits per language of LANG_MARKERS].
    * Keep this in its OWN projection and derive metrics from the column
    * in a second one — multi-referenced non-cheap aliases survive
    * CollapseProject, so the scan runs once per row.
    */
  def tokenStats(text: Column): Column =
    graft.functions.Sketches.tokenSetCounts(tokens(text), LANG_MARKERS.map(_._2))

  /** Composite quality bucket from a materialized [[tokenStats]]
    * column — the usual length/stopword/richness heuristics,
    * deterministic thresholds; en-marker hits are the stopword count.
    */
  def qualityBucketFromStats(stats: Column): Column = {
    val n = element_at(stats, 1)
    val nDistinct = element_at(stats, 2)
    val sw = element_at(stats, 3) // en markers == stopword list
    when(n < 20, "too_short")
      .when(sw.cast("double") / n > lit(0.5), "boilerplate")
      .when(nDistinct.cast("double") / n < lit(0.3), "repetitive")
      .otherwise("ok")
  }

  /** Language markers for the n-gram/stopword language-ID heuristic.
    * Order matters: ties resolve to the first language listed.
    */
  val LANG_MARKERS: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "que", "y", "los"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Predicted language from a materialized [[tokenStats]] column:
    * argmax marker-hit count, first-listed wins ties, "und"
    * (undetermined) when no marker hits at all.
    */
  def langIdFromStats(stats: Column): Column = {
    val scores = LANG_MARKERS.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(stats, 3 + i)
    }
    val mx = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(mx === 0, "und")) { case (acc, (lang, s)) =>
      acc.when(s === mx, lang)
    }.otherwise("und")
  }

  /** Gopher-style quality rule panel (Rae et al. 2021 §A1.1, the
    * standard pre-training document filter): per-document word count
    * bounds, mean word length bounds, symbol-to-word ratio, alphabetic
    * word fraction, and the ≥2-of-8 canonical stopword test — each
    * reported as its own column plus the conjunctive `keep` flag, so
    * a pipeline can tune thresholds from the same scan.
    *
    * All pure array/HOF column ops over one tokenization — a single
    * projection per row, no shuffle, no UDF; at 100 TB this is a
    * map-only pass fused into whatever scan feeds it.
    */
  def gopherRules(docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolFrac: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val w = filter(split(col(textCol), " "), t => t =!= "")
    // an empty/whitespace-only doc has zero words: its fractions are
    // NULL (matching SQL divide-by-zero), never a runtime error under
    // ANSI mode — `keep` still evaluates false via the word-count bound
    def frac(num: Column): Column =
      when(size(col("w")) > 0, num.cast("double") / size(col("w")))
    docs.select(col(idCol).cast("long").as(idCol), w.as("w"))
      .select(col(idCol),
        size(col("w")).cast("long").as("n_words"),
        frac(aggregate(col("w"), lit(0L), (acc, t) => acc + length(t)))
          .as("mean_word_len"),
        frac(size(filter(col("w"), t => t.contains("#") || t.contains("..."))))
          .as("symbol_frac"),
        frac(size(filter(col("w"), t => t.rlike("[A-Za-z]"))))
          .as("alpha_frac"),
        size(array_intersect(col("w"),
          lit(stop.toArray))).cast("long").as("n_stop_hits"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanLen, maxMeanLen) &&
        col("symbol_frac") <= maxSymbolFrac &&
        col("alpha_frac") >= minAlphaFrac &&
        col("n_stop_hits") >= minStopHits)
  }

  /** PII / boilerplate scrub: redact URLs, email addresses, IPv4
    * addresses, and long digit runs (phone numbers, account ids) with
    * typed placeholders — the standard pre-training privacy pass.
    *
    * Pure chained `regexp_replace` (codegen'd, one pass per pattern,
    * no UDF, no shuffle). Order is semantic: URLs first so an email
    * or digit run INSIDE a URL redacts as part of the URL, IPs before
    * bare digit runs so octets don't half-match. Patterns stay within
    * the syntax Java regex and RE2 share, so the DuckDB oracle can
    * replay the transform exactly.
    */
  def scrubText(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://[^ ]+", "<URL>")
    val noEmail = regexp_replace(noUrl, "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>")
    val noIp = regexp_replace(noEmail, "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+", "<IP>")
    regexp_replace(noIp, "[0-9]{6,}", "<NUM>")
  }

  /** Winnowing document fingerprint (rolling-hash): hash every k-char
    * gram (md5 prefix — engine-portable), keep the minimum hash of each
    * sliding window of w grams, dedup. Returns the array of selected
    * fingerprint hashes.
    *
    * Standard winnowing guarantees: any shared substring of length
    * ≥ k + w - 1 yields a shared fingerprint.
    */
  def fingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    val grams = when(length(text) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => substring(md5(substr(text, i, lit(k))), 1, 8)))
    val winnowed = when(size(grams) < w, array_distinct(grams))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(grams) - (w - 1)),
        j => array_min(slice(grams, j, lit(w))))))
    winnowed
  }

  /** Benchmark-contamination check: for each corpus document, the
    * count of its distinct word n-grams that also occur anywhere in
    * the `benchmark` set, and a flag at `threshold` overlap — the
    * decontamination step a training pipeline runs against eval sets
    * before training.
    *
    * Scale shape: the benchmark's distinct n-gram set is BROADCAST
    * (eval sets are tiny next to a 100 TB corpus), so the corpus is
    * one scan + explode with a map-side semi join — no corpus-sized
    * shuffle. Output (doc_id, n_grams, n_hit, contaminated); empty
    * documents are never flagged.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.2): DataFrame = {
    val corpusSh = docs.select(col(idCol).cast("long").as(idCol),
        Dedup.shingles(col(textCol), n).as("sh"))
      .withColumn("n_grams", size(col("sh")).cast("long"))
    val benchGrams = benchmark
      .select(explode(Dedup.shingles(col(textCol), n)).as("g")).distinct()
    val hits = corpusSh.select(col(idCol), explode(col("sh")).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    corpusSh.join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_grams") === 0, lit(false)).otherwise(
          coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams")
            >= threshold).as("contaminated"))
  }

  /** Sequence packing (concat-and-split): assign each document to the
    * training pack its running token offset falls in, `budget` tokens
    * per pack — the batching step that turns a filtered corpus into
    * fixed-length training sequences. Output (doc_id, n_tokens,
    * shard, pack_id); a document straddling a boundary belongs to the
    * pack where it STARTS, which is the standard concat-and-split
    * reading.
    *
    * Scale shape: the running sum is windowed PER SHARD
    * (`doc_id % shards`), never globally — a single global window
    * funnels the corpus through one task (the round-5 scale-killer
    * class). Shard count should track cluster parallelism; packing is
    * per-shard in real pipelines anyway (shards ship to workers
    * whole). Deterministic: shard and order derive from doc_id alone.
    */
  def packSequences(docs: DataFrame, budget: Int = 512, shards: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).cast("long").as(idCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("shard", pmod(col(idCol), lit(shards)).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    tok.withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col("n_tokens"), col("shard"),
        (col("shard").cast("long") * 1000000L +
          floor((col("cum") - col("n_tokens")) / budget)).as("pack_id"))
  }

  /** RAG-style document chunking: overlapping token windows of
    * `window` tokens every `stride` tokens, with deterministic
    * per-document chunk indexes. Chunk starts are 1, 1+stride,
    * 1+2·stride, …; the chunk count is 1 + ceil(max(n−window,0)/stride),
    * so every token is covered, the final chunk may be short, and no
    * chunk is wholly contained in its predecessor.
    *
    * Scale shape: pure map-only array ops (sequence/transform/slice)
    * fused into the scan — chunking 100 TB is one pass with zero
    * shuffle; chunk ids derive from (doc_id, chunk_idx) alone, so
    * re-runs and late-arriving partitions produce identical ids
    * (the retryable-id discipline from [[Sampling]]).
    */
  def chunkDocs(docs: DataFrame, window: Int = 64, stride: Int = 48,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val n = size(toks)
    val nChunks = lit(1) +
      floor(greatest(n - window, lit(0)).cast("double") / stride).cast("int") +
      when(pmod(greatest(n - window, lit(0)), lit(stride)) > 0, 1).otherwise(0)
    docs.select(col(idCol).cast("long").as(idCol),
        explode(transform(sequence(lit(0), nChunks - 1), k =>
          struct(k.as("chunk_idx"),
            array_join(slice(toks, k * stride + 1, lit(window)), " ")
              .as("chunk")))).as("c"))
      .select(col(idCol), col("c.chunk_idx").as("chunk_idx"),
        size(split(col("c.chunk"), " ")).as("n_chunk_tokens"),
        md5(col("c.chunk")).as("chunk_md5"))
  }

  /** Per-document n-gram repetition metrics (the Gopher-rules
    * repetition signals): for each document, the total and distinct
    * word-n-gram occurrence counts, the frequency of its single most
    * repeated n-gram, the duplicate fraction (share of occurrences
    * that are repeats), the top-gram fraction, and a `repetitive`
    * flag when either crosses its threshold — the standard filter
    * that catches listing/template spam exact-dedup misses.
    *
    * Scale shape: occurrences group on (doc_id, xxhash64, sha256) of
    * the gram — text never rides the frequency shuffle (same
    * content-addressing basis as [[Dedup.exact]]) — then roll up per
    * document with map-side partial aggregation. Documents shorter
    * than n tokens report zero counts and never flag.
    */
  def repetitionStats(docs: DataFrame, n: Int = 2,
      topFracMax: Double = 0.2, dupFracMax: Double = 0.3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = split(col(textCol), " ")
    val grams = docs.select(col(idCol).cast("long").as(idCol),
        explode(when(size(w) < n, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(w) - (n - 1)),
            i => concat_ws(" ", slice(w, i, lit(n)))))).as("g"))
    val perGram = grams
      .groupBy(col(idCol), xxhash64(col("g")), sha2(col("g"), 256))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = perGram.groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"), max(col("cnt")).as("top_cnt"))
    docs.select(col(idCol).cast("long").as(idCol))
      .join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("top_cnt"), lit(0L)).as("top_cnt"),
        coalesce((col("n_grams") - col("n_distinct")).cast("double")
          / col("n_grams"), lit(0.0)).as("dup_frac"),
        coalesce(col("top_cnt").cast("double") / col("n_grams"),
          lit(0.0)).as("top_frac"))
      .withColumn("repetitive",
        col("top_frac") > topFracMax || col("dup_frac") > dupFracMax)
  }

  /** Cross-document repeated-span removal — the exact-substring
    * dedup tier (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better": remove every span whose `k`-token
    * window occurs ≥ `minCount` times corpus-wide; the reference
    * implementation builds a suffix array, the distributed
    * re-expression is window-hash counting). Every token covered by
    * any duplicated `k`-gram is dropped — ALL occurrences, as in the
    * paper's ExactSubstr variant — and the surviving tokens rejoin in
    * order. Output (doc_id, clean_text, n_dropped).
    *
    * Scale shape: one token-linear pass builds the per-position
    * `k`-gram windows with array ops (no self-join); the corpus-wide
    * occurrence count shuffles ONLY an (xxhash64, sha256) pair per
    * position — text never rides the frequency shuffle (the
    * [[Dedup.exact]] content-addressing basis), and map-side partial
    * aggregation collapses repeats before the exchange. Duplicated
    * starts come back as an ids-only semi join, and the span-union /
    * text rebuild is a per-document linear fold (`aggregate` over the
    * sorted start list) — no window function, no driver hop, so the
    * whole plan is shuffle-linear in corpus tokens: the published
    * algorithm's cost envelope, distributed.
    */
  def dedupSpans(docs: DataFrame, k: Int = 5, minCount: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val grams = docs.select(col(idCol).cast("long").as(idCol),
        posexplode(when(size(toks) < k, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(toks) - k),
            i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
          .as(Seq("gpos", "g")))
      .select(col(idCol), col("gpos"),
        xxhash64(col("g")).as("h64"), sha2(col("g"), 256).as("h256"))
    val dup = grams.groupBy(col("h64"), col("h256"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= minCount)
      .select(col("h64"), col("h256"))
    val dupStarts = grams.join(dup, Seq("h64", "h256"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("gpos"))).as("dups"))
    val joined = docs
      .select(col(idCol).cast("long").as(idCol), col(textCol))
      .join(dupStarts, Seq(idCol), "left_outer")
    // interval-union fold over the sorted duplicated starts: state =
    // (cur: first position not yet emitted-or-dropped, acc: kept
    // tokens); each start j emits toks[cur, j) and advances cur past
    // the span end j+k (overlaps only extend)
    val w = split(col(textCol), " ")
    val folded = aggregate(
      col("dups"),
      struct(lit(0).as("cur"), array().cast("array<string>").as("acc")),
      (st, j) => {
        val cur = st.getField("cur")
        val acc = st.getField("acc")
        when(j < cur, struct(greatest(cur, j + k).as("cur"), acc.as("acc")))
          .otherwise(struct((j + k).as("cur"),
            concat(acc, slice(w, cur + 1, j - cur)).as("acc")))
      },
      st => {
        val cur = st.getField("cur")
        concat(st.getField("acc"),
          when(cur >= size(w), array().cast("array<string>"))
            .otherwise(slice(w, cur + 1, size(w) - cur)))
      })
    joined
      .withColumn("kept", when(col("dups").isNull, w).otherwise(folded))
      .select(col(idCol),
        concat_ws(" ", col("kept")).as("clean_text"),
        (size(w) - size(col("kept"))).cast("long").as("n_dropped"))
  }

  /** Boilerplate line removal: drop every line that occurs in at
    * least `minDf` distinct documents (headers, footers, cookie
    * banners — the C4-style cleanup), preserving the remaining lines
    * in order. Output (doc_id, clean_text, n_removed).
    *
    * Scale shape: the document-frequency count shuffles ONLY a
    * (xxhash64, sha256) pair per line — never the line text (the
    * same content-addressing basis as [[Dedup.exact]]); the common
    * set is tiny by nature (it IS the boilerplate) and broadcasts
    * into a map-side anti join, so the only text-carrying shuffle is
    * the per-document reassembly.
    */
  def stripCommonLines(docs: DataFrame, minDf: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol).cast("long").as(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("h64", xxhash64(col("line")))
      .withColumn("h256", sha2(col("line"), 256))
    val common = lines.groupBy(col("h64"), col("h256"))
      .agg(count_distinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf).select(col("h64"), col("h256"))
    val kept = lines.join(broadcast(common), Seq("h64", "h256"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).cast("long").as(idCol),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Linear quality-classifier scoring — the fastText-style learned
    * quality tier (the public GPT-3 / LLaMA data notes describe
    * filtering web documents with a linear bag-of-n-grams classifier):
    * each document's unigram + bigram features hash into `buckets`
    * slots (the fastText hashing trick), the slot weights come from a
    * BROADCAST weight vector, and the document scores by its mean
    * feature weight. This function carries the full serving plumbing —
    * feature extraction, bucket hashing, weight lookup, aggregation —
    * with a deterministic md5-derived stand-in weight vector (no
    * trained model ships in this container); swapping in real trained
    * weights is passing a different `weights` array.
    *
    * Determinism/portability: bucket assignment uses the engine-
    * portable md5 key ([[Sampling.hashKey]]), weights are integers in
    * [-1000, 1000], and the per-doc accumulation is an exact BIGINT
    * sum — associative under any partitioning — with ONE final IEEE
    * division, so scores hash-compare bit-exactly against an
    * independent SQL engine (same rationale as [[lmScore]]).
    *
    * Scale shape: entirely map-only — the weight vector rides into
    * executors as one array literal (a real model broadcasts the same
    * way; fastText buckets = 2M ints ≈ 8 MB, well inside broadcast
    * range), feature hashing and `element_at` lookups are codegen'd
    * per-row work, and NO shuffle or model-table join exists. At
    * 100 TB this is the ideal operator: one scan, embarrassingly
    * parallel, throughput = scan speed.
    */
  def qualityClassifier(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", buckets: Int = 4096,
      weights: Option[IndexedSeq[Int]] = None,
      threshold: Double = 0.0): DataFrame = {
    val w: IndexedSeq[Int] = weights.getOrElse(standInWeights(buckets))
    require(w.length == buckets, "weight vector must have `buckets` entries")
    val wLit = typedLit(w)
    val toks = filter(transform(split(col(textCol), " "), t => lower(t)),
      t => t =!= "")
    // unigrams + adjacent-pair bigrams ("w1 w2") — fastText's default
    // feature set; tokens cannot contain ' ', so bigram strings never
    // collide with unigrams
    val bigrams = when(size(col("w")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
    val feats = docs
      .select(col(idCol).cast("long").as(idCol), toks.as("w"))
      .select(col(idCol), explode(concat(col("w"), bigrams)).as("f"))
    val scored = feats
      .select(col(idCol),
        element_at(wLit,
          (pmod(Sampling.hashKey(col("f")), lit(buckets)) + 1).cast("int"))
          .cast("long").as("wt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("wt")).as("raw"))
    docs.select(col(idCol).cast("long").as(idCol))
      .join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("raw"), lit(0L)).as("raw"),
        // NULL for featureless docs ("no evidence", as in lmScore)
        (col("raw").cast("double") / (lit(1000.0) * col("n_feats")))
          .as("score"),
        coalesce(col("raw").cast("double") / (lit(1000.0) * col("n_feats"))
          > threshold, lit(false)).as("keep"))
  }

  /** Deterministic stand-in weight for bucket `b`: the md5 key of
    * "w<b>" folded to [-1000, 1000]. Exactly re-derivable in any
    * engine with md5 — the oracle recomputes it inline.
    */
  private[pipeline] def standInWeights(buckets: Int): IndexedSeq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until buckets).map { b =>
      val hex = md.digest(("w" + b).getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 2001L).toInt - 1000
    }
  }

  /** Statistical language-model quality scoring — the CCNet-style LM
    * filtering tier (Wenzek et al. 2020 score web documents with a
    * KenLM n-gram model and keep the predictable ones) re-expressed
    * relationally: an add-one-smoothed bigram model is "trained" on
    * the corpus itself with two count aggregations, and each document
    * scores by its aggregate smoothed conditional hit ratio
    *
    *   lm_score = Σ (c(wᵢ,wᵢ₊₁) + 1)  /  Σ (c(wᵢ) + |V|)
    *
    * over its consecutive token pairs — high for text whose word
    * transitions recur corpus-wide (natural prose, boilerplate), near
    * 1/|V| for keyboard mash. The ratio-of-integer-sums form is
    * deliberate: a perplexity folds Σ log p in whatever order the
    * partitions arrive (float addition is not associative), while
    * BIGINT sums are exact under ANY aggregation order and the single
    * final INT→DOUBLE division is a correctly-rounded IEEE operation —
    * so the score is bit-reproducible across engines, re-runs, and
    * partitionings, which is what lets the verify gate hash-compare it
    * against an independent SQL engine. `seen_frac` (fraction of the
    * document's bigrams occurring anywhere else in the corpus) rides
    * along as the unsmoothed signal.
    *
    * Scale shape: tokenization and pair building are map-only array
    * ops; the model tables shuffle (token) and (token-pair) count
    * rows with map-side partial aggregation — never document text;
    * scoring is two equi-joins on those keys plus one per-doc
    * aggregation. |V| is the only driver-side value (one scalar).
    * Everything is linear in corpus tokens — at 100 TB the pair table
    * is the big shuffle, and it is already minimal: nothing smaller
    * determines the model.
    */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as(idCol),
      filter(transform(split(col(textCol), " "), t => lower(t)),
        t => t =!= "").as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val vocab = uni.count() // |V|: bounded driver scalar (model state)
    val pairElems = when(size(col("w")) < 2,
        array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2"))))
    val docPairs = toks.select(col(idCol), explode(pairElems).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = docPairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val scored = docPairs
      .join(big, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("tok", "w1"), Seq("w1"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c12") + 1L).as("num"),
        sum(col("c1") + lit(vocab)).as("den"),
        sum(when(col("c12") >= 2, 1L).otherwise(0L)).as("n_seen"))
    docs.select(col(idCol).cast("long").as(idCol))
      .join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("num"), lit(0L)).as("num"),
        coalesce(col("den"), lit(0L)).as("den"),
        // NULL (not 0) for pairless docs: "no evidence" ≠ "worst score"
        (col("num").cast("double") / col("den").cast("double"))
          .as("lm_score"),
        coalesce(col("n_seen").cast("double") / col("n_pairs"), lit(0.0))
          .as("seen_frac"))
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines
  * (beyond-reference extension, SURVEY.md §7 phase 7): exact,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale contract (the non-negotiable at 100 TB): candidate generation
  * is ALWAYS bucketed — banded MinHash signatures, SimHash chunks, or
  * random-hyperplane sketches — never an all-pairs join. The exact
  * similarity (Jaccard / cosine) is computed only on within-bucket
  * candidate pairs, so the quadratic blowup is confined to near-dup
  * clusters (which are the output anyway). All column work uses
  * codegen'd built-ins (transform/aggregate/xxhash64); shuffles are
  * one explode+repartition by bucket key plus the candidate join.
  */
object Dedup {

  // --- exact ---------------------------------------------------------------

  /** Exact dedup: one row per distinct text with the smallest doc_id as
    * keeper and the duplicate count.
    *
    * The text itself never rides the exchange: rows are projected to
    * (id, xxhash64(text), sha256(text)) before the hash-aggregate, so
    * the shuffle carries ~40 bytes/row instead of the document — at
    * 100 TB that is the difference between shuffling the corpus and
    * shuffling 0.04% of it. Grouping on the PAIR of independent hashes
    * stands in for grouping on the text: a pair collision between two
    * DIFFERENT texts needs a simultaneous 64-bit and 256-bit collision
    * (probability ~n²/2^320 — content-addressable-storage territory),
    * which is the standard correctness basis for exact dedup at scale.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), xxhash64(col(textCol)).as("h64"),
        sha2(col(textCol), 256).as("h256"))
      .groupBy(col("h64"), col("h256"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))

  /** Order-insensitive exact dedup: group on the hash pair of the
    * SORTED token multiset, so documents that are word-permutations of
    * each other (shuffled boilerplate, reordered listings — a
    * template-spam family [[exact]] misses) collapse together. Same
    * hash-pair shuffle discipline as [[exact]]: the sorted token join
    * key is hashed before the shuffle, text never moves.
    */
  def exactBagOfWords(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bag = array_join(sort_array(split(col(textCol), " ")), " ")
    docs.select(col(idCol), xxhash64(bag).as("h64"), sha2(bag, 256).as("h256"))
      .groupBy(col("h64"), col("h256"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
  }

  /** Incremental (cross-snapshot) exact dedup: the docs in `incoming`
    * that are genuinely NEW relative to the prior corpus `base` —
    * within-batch duplicates collapse to the smallest id (with the
    * copy count), and anything whose text already exists in the base
    * is dropped. This is the recurring-crawl shape: each snapshot
    * dedups against everything already kept, without rescanning or
    * re-shuffling the kept TEXT.
    *
    * Scale contract: both sides project to the (xxhash64, sha256) hash
    * pair before any shuffle, so the anti join moves ~40 bytes/row —
    * and in steady state the base side is a MAINTAINED hash manifest
    * (the distinct-hash output of previous rounds, stored hash-
    * bucketed), not a scan of 100 TB of text. The join keys on the
    * hash pair, so AQE picks a shuffle-hash/sort-merge anti join that
    * never broadcasts the (large) base manifest; a bloom-filter
    * pushdown on h64 is a further map-side prefilter Spark can inject
    * (spark.sql.optimizer.runtime.bloomFilter.enabled).
    */
  def incrementalNew(base: DataFrame, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val baseH = base.select(xxhash64(col(textCol)).as("h64"),
      sha2(col(textCol), 256).as("h256")).distinct()
    val keep = incoming.select(col(idCol), xxhash64(col(textCol)).as("h64"),
        sha2(col(textCol), 256).as("h256"))
      .groupBy(col("h64"), col("h256"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
    keep.join(baseH, Seq("h64", "h256"), "left_anti")
      .select(col(idCol), col("n_copies"))
  }

  /** [[incrementalNew]] with an EXPLICIT Bloom prefilter — the
    * steady-state crawl shape where the incoming snapshot is mostly
    * novel: a Bloom filter over the base manifest's 64-bit hashes
    * (Spark's own `BloomFilterAggregate`/`BloomFilterMightContain`
    * runtime-filter expressions, aggregated distributed, collected as
    * ONE bounded byte blob and re-entered as a literal) splits the
    * incoming side map-side. Bloom-negative rows are PROVABLY absent
    * from the base — they keep without ever reaching the anti-join
    * exchange; only the bloom-positive sliver (true dups + numBits-
    * tunable false positives) pays the shuffle, where the exact
    * (h64, h256) anti join removes false positives. Output is
    * bit-identical to [[incrementalNew]] — the filter changes the
    * plan, never the answer — so both share one oracle.
    *
    * At 100 TB: the blob is O(numBits) regardless of base size (the
    * one driver-side value), the prefilter is a codegen'd scan-side
    * expression, and the anti-join exchange shrinks from |incoming| to
    * |dups| + fpp·|incoming|. This is the hand-held version of the
    * `spark.sql.optimizer.runtime.bloomFilter.enabled` rewrite, for
    * when the manifest is a maintained table rather than a join side
    * Spark can see.
    */
  def incrementalNewBloom(base: DataFrame, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.{bridge => B}
    val baseH = base.select(xxhash64(col(textCol)).as("h64"),
      sha2(col(textCol), 256).as("h256")).distinct()
    val bloomCol = B.column(new BloomFilterAggregate(
      B.expression(col("h64")), Literal(expectedItems), Literal(numBits))
      .toAggregateExpression())
    val blob = baseH.agg(bloomCol.as("bf")).head().getAs[Array[Byte]](0)
    val keep = incoming.select(col(idCol), xxhash64(col(textCol)).as("h64"),
        sha2(col(textCol), 256).as("h256"))
      .groupBy(col("h64"), col("h256"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
    val mightBeDup = B.column(BloomFilterMightContain(
      Literal.create(blob, org.apache.spark.sql.types.BinaryType),
      B.expression(col("h64"))))
    val surelyNew = keep.filter(!mightBeDup)
    val checked = keep.filter(mightBeDup)
      .join(baseH, Seq("h64", "h256"), "left_anti")
    surelyNew.unionByName(checked)
      .select(col(idCol), col("n_copies"))
  }

  // --- shingling + exact Jaccard (shared by MinHash / SimHash rerank) -------

  /** Distinct word n-gram shingles of a text column (native codegen'd
    * expression).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.Sketches.wordNgrams(split(text, " "), n)

  /** Exact Jaccard similarity of two array columns (duplicates
    * ignored; native codegen'd expression).
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.Sketches.jaccardSim(a, b)

  // --- MinHash + banded LSH -------------------------------------------------

  /** Banded LSH candidate pairs from a band-keys array column (one
    * bucket key per band, e.g. [[graft.functions.Sketches.minhashBandKeys]]):
    * explode and self-join per (band, key). Returns (id_a, id_b) with
    * id_a < id_b, distinct.
    *
    * For threshold t, P(pair lands in ≥1 bucket) = 1-(1-t^r)^b; with
    * k=64, b=16, r=4 a 0.9-Jaccard pair is missed with prob ~4e-8.
    */
  def lshCandidates(docs: DataFrame, idCol: String, bandKeys: Column): DataFrame = {
    val exploded = docs.select(col(idCol).as("id"), posexplode(bandKeys).as(Seq("band", "key")))
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash near-dup pairs: banded-LSH candidates (native codegen'd
    * sketch expression), exact-Jaccard rerank at `threshold`.
    * Output (id_a, id_b, j).
    */
  def nearDupMinhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5, n: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    val withSh = docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    val cands = lshCandidates(withSh, "id",
      graft.functions.Sketches.minhashBandKeys(col("sh"), k, bands))
    rerank(cands, withSh, threshold)
  }

  /** NEAR-dup screening of an incoming snapshot against the
    * established corpus — [[incrementalNewBloom]]'s sibling one tier
    * up the dedup ladder: candidates come from joining the incoming
    * side's minhash band keys against the BASE side's band keys, then
    * exact-Jaccard rerank. Returns (id_new, id_base, j) pairs at or
    * above `threshold`.
    *
    * Steady-state contract at 100 TB: the base band-key relation
    * (id, band, key — k·|corpus|/r rows of three integers) is a
    * MAINTAINED manifest table bucketed on (band, key), exactly like
    * the exact-dedup hash manifest — each crawl appends its new keys
    * and only the incoming side is ever re-shingled or re-sketched.
    * The candidate join is new-keys against that manifest (incoming-
    * sized probe, never base-sized), and the rerank joins shingles for
    * the candidate ids only. Here both sides derive inline since the
    * verify corpus rebuilds per run.
    */
  def incrementalNearDupMinhash(base: DataFrame, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5, n: Int = 3, k: Int = 64,
      bands: Int = 16): DataFrame = {
    def sh(df: DataFrame) =
      df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    def keys(withSh: DataFrame) = withSh.select(col("id"),
      posexplode(graft.functions.Sketches.minhashBandKeys(col("sh"), k, bands))
        .as(Seq("band", "key")))
    val (bSh, iSh) = (sh(base), sh(incoming))
    val cands = keys(iSh).alias("a")
      .join(keys(bSh).alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_base"))
      .distinct()
    cands
      .join(iSh.select(col("id").as("id_new"), col("sh").as("sh_a")), Seq("id_new"))
      .join(bSh.select(col("id").as("id_base"), col("sh").as("sh_b")), Seq("id_base"))
      .select(col("id_new"), col("id_base"),
        jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= threshold)
  }

  /** Exact-Jaccard rerank of candidate pairs against the shingle sets. */
  private def rerank(cands: DataFrame, withSh: DataFrame, threshold: Double): DataFrame = {
    val shA = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cands.join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= threshold)
  }

  // --- SimHash --------------------------------------------------------------

  /** 64-bit SimHash as `nChunks` equal bit chunks (chunked so
    * candidate generation can band on chunk equality — pigeonhole:
    * hamming ≤ nChunks-1 implies at least one identical chunk).
    *
    * bit_j = sign(Σ_tokens (bit_j(xxhash64(token)) ? +1 : -1)).
    */
  def simhashChunks(text: Column, nChunks: Int = 8): Column =
    graft.functions.Sketches.simhashChunks(split(text, " "), nChunks)

  /** Hamming distance between two chunked simhashes (native
    * codegen'd expression).
    */
  def hamming(a: Column, b: Column): Column =
    graft.functions.Sketches.hammingDist(a, b)

  /** SimHash near-dup pairs: candidates = pairs agreeing on at least
    * one PAIR of the 8 simhash chunks ([[graft.functions.Sketches.simhashPairKeys]]
    * — complete through hamming ≤ 6, and quadratically less bucket
    * skew than single 8-bit chunks on homogeneous corpora), prefiltered
    * to hamming ≤ `maxHamming`; final filter is exact Jaccard at
    * `threshold` (so the output contract matches [[nearDupMinhash]] —
    * the sketch only drives candidate generation).
    *
    * Corpus caveat: on statistically homogeneous corpora simhash chunk
    * values cluster, so the bucket join emits far more candidates than
    * minhash banding does. Oversize buckets are dropped before the
    * self-join (`maxBucket`): a 16-bit pair key shared by hundreds of
    * documents carries no near-dup signal — it is a corpus-statistics
    * artifact (measured: the largest bucket at sf0.1 holds 633 docs =
    * ~200k candidate pairs, >1000x any true-pair bucket's yield). A
    * true pair is lost only if EVERY band it agrees on is oversize;
    * with a cap of 64, zero of the true pairs at either test scale
    * lose all their buckets (both SFs verified against the
    * brute-force oracle). `maxBucket = 0` disables the cap. Even so,
    * when free to choose, prefer [[nearDupMinhash]] — its collision
    * probability depends only on the Jaccard similarity, not on the
    * corpus's global token statistics.
    */
  def nearDupSimhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5, maxHamming: Int = 9, n: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    // NOT checkpointed: re-shingling for the rerank's two joins beat
    // materializing the arrays in an in-JVM A/B (2.6-2.9 s keyed-only
    // vs 2.8-3.7 s with this also checkpointed)
    val withSh = docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    // chunks ride the exploded keys (8 longs — cheap) so the hamming
    // prefilter runs INSIDE the join, before the distinct: on
    // homogeneous corpora the bucket join can emit millions of pairs
    // and shuffling them through distinct dominated the runtime
    val keyed0 = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
      .select(col("id"), graft.functions.Sketches.simhashChunks(col("toks")).as("chunks"),
        posexplode(graft.functions.Sketches.simhashPairKeys(col("toks"))).as(Seq("band", "key")))
    val keyed = (if (maxBucket <= 0) keyed0 else {
      // one partial-agg shuffle over (band,key) counts, then a
      // semi-join; removes the quadratic tail of signal-free buckets
      val small = keyed0.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxBucket)
        .select(col("band"), col("key"))
      keyed0.join(small, Seq("band", "key"), "left_semi")
      // the bucket self-join reads this twice; without the checkpoint
      // each side re-tokenizes + re-sketches the corpus and re-runs
      // the bucket-count semi-join (no exchange reuse in the plan)
    }).localCheckpoint()
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    // the candidate list materializes EAGERLY (it is pair-sized, far
    // smaller than the keyed corpus relation), so the keyed checkpoint
    // can be freed right here instead of pinning corpus-scale blocks
    // for the JVM lifetime (guide §5); the candidate checkpoint itself
    // registers with the caller's Checkpoints.withScope
    val within = a.join(b, col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.id") < col("b.id") &&
        hamming(col("a.chunks"), col("b.chunks")) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .localCheckpoint()
    graft.plans.Checkpoints.unpersist(keyed)
    graft.plans.Checkpoints.register(within)
    rerank(within, withSh, threshold)
  }

  // --- n-gram Jaccard via prefix filtering ---------------------------------

  /** N-gram Jaccard near-dup pairs by PREFIX FILTERING (the
    * AllPairs/PPJoin candidate scheme) — EXACT at `threshold`, unlike
    * the MinHash/SimHash tiers: no sketch miss probability, at the
    * cost of a candidate join driven by corpus token statistics.
    *
    * Scheme: order each document's shingles by ascending global
    * document frequency (rarest first, ties by token — a global total
    * order); keep the first `|s| - ceil(t·|s|) + 1` as the prefix.
    * Prefix-filtering theorem: two sets with Jaccard ≥ t must share at
    * least one token within BOTH prefixes (J ≥ t ⇒ overlap ≥
    * ceil(t·max(|a|,|b|)), and an (|s|-α+1)-prefix intersects any set
    * sharing α elements). Candidates = equi-join on prefix tokens with
    * the pairwise length filter `t·|a| ≤ |b| ≤ |a|/t`; then the same
    * exact-Jaccard rerank as the sketch tiers.
    *
    * At 100 TB: the document-frequency table is one partial-agg
    * shuffle; rarest-first prefixes make the join key distribution
    * NEAR-UNIFORM (each prefix token is by construction rare), which
    * is what keeps the candidate join from going quadratic — the same
    * reason AllPairs beats naive token joins. The per-doc prefix
    * selection is a bounded window over a doc's own shingles, never
    * cross-document state.
    */
  def nearDupNgramJaccard(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.5, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shingling itself is cheap codegen (re-shingling beat
    // materializing the arrays in the block manager when measured);
    // the expensive duplicated work is the prefix pipeline, pinned
    // below
    val withSh = docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    val sized = withSh.withColumn("len", size(col("sh"))).filter(col("len") > 0)
    val tok = sized.select(col("id"), col("len"), explode(col("sh")).as("tok"))
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    // prefix SELECTION stays on the token strings (the global
    // (df, tok) order is part of the prefix-filter theorem); only the
    // JOIN KEY is hashed to 8 bytes — string-equal implies hash-equal,
    // so hashed candidates are a superset and the exact rerank makes
    // the output identical. Deliberately NOT checkpointed: AQE reuses
    // the freq/window exchanges across the self-join sides, and an
    // in-JVM A/B measured the checkpoint barrier 2x SLOWER than the
    // shared-exchange plan (4.4-6.0 s vs 2.2-3.4 s per run).
    val prefix = tok.join(freq, "tok")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))))
      .filter(col("rk") <= col("len") - ceil(col("len") * lit(threshold)) + 1)
      .select(col("id"), col("len"), col("rk"), xxhash64(col("tok")).as("tok"))
    val a = prefix.alias("a")
    val b = prefix.alias("b")
    // PPJoin positional filter (exact, like the length filter): a
    // match at prefix positions (rk_a, rk_b) bounds the overlap by
    // min(len_a - rk_a, len_b - rk_b) + 1, and J ≥ t needs overlap ≥
    // t·(len_a+len_b)/(1+t); pairs provably below threshold never
    // reach the distinct or the rerank. The tiny epsilon keeps a
    // boundary-exact overlap from being pruned by double rounding —
    // the filter may only ADMIT extras (the rerank removes them).
    val overlapNeeded =
      (col("a.len") + col("b.len")) * lit(threshold / (1 + threshold)) - lit(1e-9)
    val cands = a.join(b, col("a.tok") === col("b.tok") &&
        col("a.id") < col("b.id") &&
        // pairwise length filter: J ≥ t needs t·|a| ≤ |b| ≤ |a|/t
        col("b.len") * lit(threshold) <= col("a.len") &&
        col("a.len") * lit(threshold) <= col("b.len") &&
        (least(col("a.len") - col("a.rk"), col("b.len") - col("b.rk")) + 1)
          .cast("double") >= overlapNeeded)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    rerank(cands, withSh, threshold)
  }

  // --- embedding-cosine near-dup -------------------------------------------

  /** Embedding near-dup pairs: random-hyperplane sketch buckets (T
    * tables × bits bits) for candidates, exact cosine ≥ `threshold`
    * rerank. Output (id_a, id_b, cos).
    *
    * For cos θ ≥ 0.9 (θ ≤ 25.8°), per-bit collision prob is
    * 1 - θ/π ≈ 0.857; with 8-bit keys and 12 tables the miss prob is
    * (1 - 0.857^8)^12 ≈ 2e-4 — and table count is the knob.
    */
  def nearDupEmbedding(embs: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9, dim: Int = 64, tables: Int = 12, bits: Int = 8,
      seed: Long = 7L): DataFrame = {
    val keys = Similarity.sketchKeys(col(vecCol), dim, tables, bits, seed)
    // ids only through the bucket self-join — vectors join back for
    // the exact rerank, so the wide columns never ride the shuffle
    val withKeys = embs.select(col(idCol).as("id"),
      posexplode(keys).as(Seq("table", "key")))
    val a = withKeys.alias("a")
    val b = withKeys.alias("b")
    val cands = a.join(b, col("a.table") === col("b.table") &&
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = embs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cands
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023:
    * k-means-cluster the embeddings, then deduplicate WITHIN each
    * cluster only): vectors are assigned to `nlist` Lloyd-trained
    * cells ([[Similarity.trainCentroids]] — deterministic hash-sample
    * init, exact DECIMAL means), candidate pairs come from a
    * same-cell self-join, pairs at cosine ≥ `eps` feed
    * [[clusterComponents]], and each semantic-duplicate cluster keeps
    * exactly its min-id representative. Output one row per vector:
    * (id, cell, cluster, keep).
    *
    * Scale shape: this is the trick that makes embedding dedup
    * tractable at corpus scale — candidate generation is O(Σ|cell|²)
    * instead of O(n²), and in a production run `nlist` grows with the
    * corpus (SemDeDup uses ~50k clusters for LAION) so cells stay
    * bounded. The cell self-join carries (id, cell) pairs only;
    * vectors join back by id for the exact cosine, so wide embedding
    * arrays never ride the candidate shuffle (the [[nearDupEmbedding]]
    * rerank discipline). Training reads a bounded hash sample.
    */
  def semanticDedup(embs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nlist: Int = 16, eps: Double = 0.95,
      iters: Int = 2): DataFrame = {
    val e = embs.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val centroids = Similarity.trainCentroids(e, nlist, iters)
    val assigned = Similarity.assignCells(e, centroids)
    val cells = assigned.select(col("id"), col("cell"))
    val cands = cells.alias("a")
      .join(cells.alias("b"), col("a.cell") === col("b.cell") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val vecs = e.select(col("id"), col("v"))
    val pairs = cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .filter(Similarity.cosine(col("va"), col("vb")) >= eps)
      .select(col("id_a"), col("id_b"))
    val labels = clusterComponents(pairs, e.select(col("id")), "id")
    assigned.select(col("id"), col("cell"))
      .join(labels, Seq("id"))
      .select(col("id").as(idCol), col("cell").cast("long").as("cell"),
        col("cluster"),
        (col("id") === col("cluster")).as("keep"))
  }

  // --- duplicate-cluster resolution ----------------------------------------

  /** Connected components over a near-dup PAIR graph: every document
    * labelled with the smallest doc id reachable through dup pairs
    * (`cluster`; singletons label themselves). This is the step that
    * turns pairwise near-dup output into keep/drop decisions — keep
    * the min id per cluster, drop the rest.
    *
    * Distributed min-label propagation with pointer jumping: each
    * round takes the min label over the node's neighborhood, then
    * replaces every label by its label's label (halving chain depth),
    * so rounds stay O(log n) even for path-shaped clusters; real
    * near-dup clusters are dense and settle in 2-3 rounds. The
    * fixpoint test is the label SUM (labels only ever decrease, so an
    * unchanged sum means no label moved) — one scalar aggregate per
    * round, never a collect. Each round localCheckpoints to truncate
    * lineage and the superseded round unpersists immediately (the
    * closure-loop hygiene of [[graft.sparql.Sparql]]'s path fixpoint).
    * The pair graph is orders of magnitude smaller than the corpus —
    * only ids ride the loop.
    */
  def clusterComponents(pairs: DataFrame, ids: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    import graft.plans.Checkpoints
    // materialize the pair list ONCE before the symmetrizing union:
    // e0 appears on both union branches, and a lazy plan re-runs the
    // entire upstream candidate pipeline (shingling, candidate join,
    // rerank) per branch
    val e0 = pairs.select(col("id_a").cast("long").as("a"),
      col("id_b").cast("long").as("b")).localCheckpoint()
    val edges = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    Checkpoints.unpersist(e0)
    // the fixpoint label-sum piggybacks on each round's checkpoint job
    // (observe): one driver round-trip per round instead of two
    def ckptWithSum(df: DataFrame): (DataFrame, String) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = df.observe(obs, sum(col("comp")).cast("decimal(38,0)").as("s"))
        .localCheckpoint()
      (ck, String.valueOf(obs.get("s")))
    }
    var (cur, curSum) = ckptWithSum(
      ids.select(col(idCol).cast("long").as("id")).distinct()
        .withColumn("comp", col("id")))
    var fixed = false
    while (!fixed) {
      val nbr = cur.select(col("id").as("b"), col("comp").as("bcomp"))
      val nmin = edges.join(nbr, "b").groupBy(col("a"))
        .agg(min(col("bcomp")).as("ncomp"))
        .select(col("a").as("id"), col("ncomp"))
      val step = cur.join(nmin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      val jump = step.select(col("id").as("jid"), col("comp").as("jcomp"))
      val (next, nextSum) = ckptWithSum(
        step.join(jump, step("comp") === jump("jid"), "left_outer")
          .select(col("id"),
            least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp")))
      if (nextSum == curSum) { Checkpoints.unpersist(next); fixed = true }
      else { Checkpoints.unpersist(cur); cur = next; curSum = nextSum }
    }
    Checkpoints.unpersist(edges) // cur is materialized; edges are done
    Checkpoints.register(cur).select(col("id").as(idCol), col("comp").as("cluster"))
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Checkpoints

/** Byte-pair-encoding merge learning at corpus scale (beyond-reference
  * extension: tokenizer training is the canonical "one more pass over
  * the whole corpus" job in an LLM data pipeline).
  *
  * The scalable formulation (Sennrich et al. 2016 §3.2, and every
  * production BPE trainer since): BPE statistics are a function of the
  * WORD-FREQUENCY table, not of the corpus. One corpus-wide shuffle
  * builds `(word, count)` — the vocabulary, which is sub-linear in
  * corpus size (new documents mostly repeat old words) — and every
  * merge round thereafter touches only that small table: pair counts
  * are a groupBy over exploded adjacent symbol pairs weighted by word
  * count, the argmax is a 1-row bounded collect (model state, same
  * contract as IVF centroids), and applying the merge is a map-only
  * array fold per word. At 100 TB the corpus is read ONCE; the
  * iteration never rescans it.
  *
  * Merge application is the standard greedy leftmost-nonoverlapping
  * scan: `[a a a]` under merge (a,a) becomes `[aa a]`, `[a b a b]`
  * under (a,b) becomes `[ab ab]`. The fold's accumulator compare is
  * safe against re-matching because a merged symbol `l+r` is strictly
  * longer than `l`, so it can never equal the left operand of the
  * merge that produced it.
  */
object Bpe {

  /** Characters of a word, empty strings filtered (Spark's split on
    * the empty pattern yields a trailing "" for some inputs).
    */
  private def chars(word: Column): Column =
    filter(split(word, ""), c => c =!= "")

  /** `(word, cnt, syms)` — the word-frequency table seeded with
    * per-character symbol arrays. The ONLY corpus-wide shuffle in BPE
    * training; map-side partial aggregation means executors emit one
    * row per distinct word per partition, never per occurrence.
    */
  def wordTable(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(filter(split(col(textCol), " "), w => w =!= ""))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms", chars(col("word")))

  /** One greedy leftmost-nonoverlapping merge pass over a symbol
    * array: fold each symbol onto the accumulator, merging when the
    * accumulator tail is `l` and the incoming symbol is `r`.
    * Pure codegen'd HOF — no UDF.
    */
  def applyMerge(syms: Column, l: String, r: String): Column =
    when(size(syms) < 2, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        slice(syms, lit(1), lit(1)),
        (acc, s) =>
          when(element_at(acc, -1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s)))))

  /** One learned merge: rank (1-based), operands, and the weighted
    * pair count that won the round.
    */
  final case class Merge(rank: Int, lhs: String, rhs: String, pairCount: Long)

  /** Learn `nMerges` BPE merges. Returns the merge list (driver-side
    * model state, like IVF centroids) and the FINAL word table —
    * `(word, cnt, syms)` with all merges applied — which is the whole
    * tokenizer: applying BPE to text is a join against it.
    *
    * Each round localCheckpoints the small word table (cuts the
    * per-round lineage so round k is not a k-deep nested fold) and
    * frees the superseded round's blocks via [[Checkpoints]] — the
    * same per-round hygiene as the SPARQL path closure. The final table
    * is registered with the caller's scope; a caller that only needs
    * the merges may unpersist it at once.
    */
  def learn(docs: DataFrame, nMerges: Int, textCol: String = "text")
      : (Seq[Merge], DataFrame) = {
    var wt = wordTable(docs, textCol).localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val pairs = wt.where(size(col("syms")) > 1)
        .select(col("cnt"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("cnt")).as("pc"))
      // deterministic winner: highest weighted count, then the
      // lexicographically least pair — a distributed trainer must not
      // leave ties to partition order
      val top = pairs.orderBy(desc("pc"), asc("lhs"), asc("rhs"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, l, r, c)
        val next = wt.withColumn("syms", applyMerge(col("syms"), l, r))
          .localCheckpoint(true)
        Checkpoints.unpersist(wt)
        wt = next
        rank += 1
      }
    }
    (merges.result(), Checkpoints.register(wt))
  }

  /** The learned merge list as a DataFrame (rank, lhs, rhs,
    * pair_count) — bounded driver-side model state, same contract as
    * an IVF centroid table.
    */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.lhs, m.rhs, m.pairCount))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Post-BPE token counts per group: join each group's DISTINCT
    * words (one groupBy pass over the corpus — occurrences never ride
    * the join) against the trained word table's subtoken counts.
    * The word table is vocabulary-sized, so Spark broadcasts it when
    * small and shuffle-joins on `word` when not; either way the
    * corpus is touched exactly once.
    */
  def tokenCounts(docs: DataFrame, trained: DataFrame,
      groupCol: String = "source", textCol: String = "text"): DataFrame = {
    val groupWords = docs
      .select(col(groupCol), explode(filter(split(col(textCol), " "),
        w => w =!= "")).as("word"))
      .groupBy(col(groupCol), col("word")).agg(count(lit(1)).as("n"))
    groupWords
      .join(trained.select(col("word"), size(col("syms")).as("n_sub")),
        Seq("word"))
      .groupBy(col(groupCol))
      .agg(sum(col("n") * col("n_sub")).as("n_bpe_tokens"),
        sum(col("n")).as("n_words"))
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators for large-scale training-data pipelines
  * (beyond-reference extension, SURVEY.md §7 phase 7): deterministic
  * stratified sampling, per-stratum caps, and mixture-weight
  * upsampling — the steps that turn a filtered corpus into the data
  * mix a training run actually consumes.
  *
  * Determinism contract: every selection decision derives from a
  * PORTABLE hash of the row's id (md5 prefix, the only hash Spark and
  * DuckDB compute identically), never from `rand()` — so a resample
  * of the same corpus is reproducible bit-for-bit across engines,
  * re-runs, and partitionings, which is what makes a 100 TB sampling
  * job retryable per-partition without global coordination.
  */
object Sampling {

  /** Uniform 32-bit key from an id column: the first 8 hex digits of
    * md5, as a long in [0, 2^32). Engine-portable (DuckDB:
    * `('0x' || substr(md5(id::VARCHAR),1,8))::BIGINT`).
    */
  def hashKey(id: Column): Column =
    conv(substr(md5(id.cast("string")), lit(1), lit(8)), 16, 10).cast("long")

  private val HASH_SPACE = 4294967296L // 2^32

  /** Deterministic stratified sample: keep a row iff its [[hashKey]]
    * falls under `rate(stratum) * 2^32`. Unlisted strata keep
    * `defaultRate`.
    *
    * Scale shape: a pure per-row filter — no shuffle, no state, no
    * driver round-trip; the rate map is a when-chain literal compiled
    * into the scan's codegen'd filter, and Parquet row groups that
    * fail a stratum pushdown never decompress. This is the sampling
    * primitive every downstream mix builds on.
    */
  def sampleStratified(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double = 1.0, stratumCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val thresh = rates.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (s, r)) => acc.when(col(stratumCol) === s, threshold(r))
    }.otherwise(threshold(defaultRate))
    docs.filter(hashKey(col(idCol)) < thresh)
  }

  private def threshold(rate: Double): Column =
    lit(math.floor(rate * HASH_SPACE).toLong)

  /** Exact deterministic per-stratum cap: keep the `cap` rows with
    * the smallest ([[hashKey]], id) per stratum — a uniform random
    * (but reproducible) subset, the per-domain document cap of
    * CommonCrawl-style curation.
    *
    * Scale shape: two-level top-k. A single `row_number` window
    * partitioned by stratum would funnel every row of a hot domain
    * through ONE task (the round-5 scale-killer class); instead each
    * (stratum, salt) bucket ranks locally — `salts`× the
    * parallelism — and only the ≤ salts·cap local survivors reach
    * the per-stratum final ranking, so the second window's input is
    * bounded by the cap, not the corpus. Selection is EXACT: every
    * global top-`cap` row is its salt bucket's top-`cap` row too.
    */
  def capPerStratum(docs: DataFrame, cap: Int, salts: Int = 16,
      stratumCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.withColumn("hk", hashKey(col(idCol)))
      .withColumn("salt", pmod(col("hk"), lit(salts)))
    val local = Window.partitionBy(col(stratumCol), col("salt"))
      .orderBy(col("hk"), col(idCol))
    val global = Window.partitionBy(col(stratumCol))
      .orderBy(col("hk"), col(idCol))
    keyed.withColumn("r_local", row_number().over(local))
      .filter(col("r_local") <= cap)
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= cap)
      .drop("hk", "salt", "r_local")
  }

  /** Deterministic epoch shuffle: the global permutation a training
    * run needs every epoch, expressed scalably as (shard, position
    * within shard). Each row hashes to one of `shards` by the
    * epoch-salted md5 of its id; position is the rank of that hash
    * within the shard. Changing `epoch` changes the whole permutation;
    * nothing depends on partitioning or execution order, so a re-run
    * (or a retried partition) reproduces the identical epoch layout.
    *
    * Scale shape: one hash shuffle into `shards` groups and a
    * per-shard sort — NO global total order (a single row_number over
    * an unpartitioned window funnels the corpus through one task, the
    * round-5 scale-killer class). Shards map 1:1 to output files, so
    * `shards` should track cluster parallelism, exactly as epoch
    * shards are materialized in practice.
    */
  def epochShuffle(docs: DataFrame, epoch: Int, shards: Int = 16,
      idCol: String = "doc_id"): DataFrame = {
    val key = md5(concat(col(idCol).cast("string"), lit(s"#e$epoch")))
    docs.select(col(idCol),
        key.as("k"),
        pmod(conv(substr(key, lit(1), lit(8)), 16, 10).cast("long"),
          lit(shards.toLong)).as("shard"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard"))
          .orderBy(col("k"), col(idCol))).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Temperature-balanced stratum rates with exponent α = 1/2: the
    * multilingual/domain rebalancing rule (sample shares ∝ n^α
    * flattens the head without drowning the tail). α is FIXED at 1/2
    * deliberately: every operation in the rate — sqrt, divide — is
    * IEEE-correctly-rounded, so the per-stratum rates (and therefore
    * the exact kept set under [[sampleStratified]]'s md5 threshold)
    * are bit-reproducible across engines; an arbitrary pow(x, α) is
    * not correctly rounded and would make the kept set
    * platform-dependent at the threshold boundary.
    *
    * The stratum-count collect is bounded model state (one row per
    * stratum), the same contract as a rates map supplied by hand.
    */
  def temperatureRates(docs: DataFrame,
      stratumCol: String = "source"): Map[String, Double] = {
    val counts = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxSqrt = counts.values.map(n => math.sqrt(n.toDouble)).max
    counts.map { case (s, n) => s -> math.sqrt(n.toDouble) / maxSqrt }
  }

  /** [[sampleStratified]] under [[temperatureRates]]: the largest
    * stratum keeps everything, stratum s keeps sqrt(n_s)/sqrt(n_max)
    * of its rows — deterministic, shuffle-free, retryable.
    */
  def temperatureSample(docs: DataFrame, stratumCol: String = "source",
      idCol: String = "doc_id"): DataFrame =
    sampleStratified(docs, temperatureRates(docs, stratumCol),
      defaultRate = 1.0, stratumCol = stratumCol, idCol = idCol)

  /** DSIR-style importance resampling (Xie et al. 2023: Data
    * Selection for Language Models via Importance Resampling):
    * score every raw document by how target-like its unigram
    * distribution is, then keep the top `k`.
    *
    * Two adaptations for a distributed, oracle-checked engine:
    * (1) feature hashing in the paper bounds a parameter server's
    * memory; in a dataflow engine the count table IS the model, so
    * token-identity features are used directly (strictly more
    * faithful, same shuffle shape); (2) the per-document statistic is
    * the add-one-smoothed ADDITIVE likelihood ratio
    * `Σ(ct+1) · (Nraw+V) / (Σ(cr+1) · (Ntarget+V))` — exact integer
    * sums with ONE final IEEE division, so the score (and therefore
    * the selected set) is bit-reproducible across engines, the same
    * determinism dodge as [[TextAnalysis.lmScore]]'s bigram score.
    *
    * Scale shape: two token-count shuffles (target is usually small),
    * one join of per-(doc,token) rows against the raw/target count
    * tables, one per-doc aggregation, one top-k. Token counts ride
    * the shuffles — never text. Nt/Nr/V are three bounded driver
    * scalars (model state, same contract as IVF centroids).
    */
  def importanceResample(raw: DataFrame, target: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def words(df: DataFrame, cols: Column*) =
      df.select(cols :+ explode(filter(split(col(textCol), " "),
        w => w =!= "")).as("tok"): _*)
    val ctT = words(target).groupBy("tok").agg(count(lit(1)).as("ct"))
    val ctR = words(raw).groupBy("tok").agg(count(lit(1)).as("cr"))
    // three bounded driver scalars: corpus token totals + raw vocab
    val nT = ctT.agg(sum(col("ct"))).collect()(0).getLong(0)
    val nR = ctR.agg(sum(col("cr"))).collect()(0).getLong(0)
    val v = ctR.count()
    // collapse to distinct (doc, token) with occurrence weights BEFORE
    // joining the count tables: the join input is bounded by per-doc
    // vocabulary, not corpus length
    words(raw, col(idCol).cast("long").as(idCol))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("n"))
      .join(ctT, Seq("tok"), "left_outer")
      .join(ctR, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sum((coalesce(col("ct"), lit(0L)) + 1L) * col("n")).as("num"),
        sum((col("cr") + 1L) * col("n")).as("den"))
      .select(col(idCol), col("num"), col("den"),
        // decimal products: long×long would overflow at corpus scale
        ((col("num").cast("decimal(38,0)") * lit(nR + v)).cast("double") /
          (col("den").cast("decimal(38,0)") * lit(nT + v)).cast("double"))
          .as("dsir_score"))
      .orderBy(desc("dsir_score"), asc(idCol))
      .limit(k)
  }

  /** Mixture-weight upsampling: repeat each row `weight(stratum)`
    * times, with an `epoch` index per copy. Fractional weights round
    * deterministically per row: a weight of 2.25 gives every row 2
    * epochs and the 25% of rows whose [[hashKey]] falls under the
    * fraction a 3rd — so the EXPECTED stratum multiplier is exact and
    * the realized one is reproducible. Weight 0 drops the stratum.
    *
    * Scale shape: a map-side explode — no shuffle; each output row
    * exists only inside the downstream pipeline (Spark never
    * materializes the repeats). This is the standard way to express a
    * DoReMi/Pile-style domain mix as a plan instead of copying bytes.
    */
  def mixtureExpand(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double = 1.0, stratumCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val (whole, frac) = {
      val w = weights.foldLeft(when(lit(false), lit(0.0))) {
        case (acc, (s, x)) => acc.when(col(stratumCol) === s, lit(x))
      }.otherwise(lit(defaultWeight))
      (floor(w).cast("long"), w - floor(w))
    }
    val extra = (hashKey(col(idCol)) <
      (frac * HASH_SPACE).cast("long")).cast("long")
    docs.withColumn("n_epochs", whole + extra)
      .filter(col("n_epochs") > 0)
      .withColumn("epoch", explode(sequence(lit(1L), col("n_epochs"))))
  }
}

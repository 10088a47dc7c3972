package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-corpus curation operators: deterministic sampling for
  * dataset mixing. A 100 TB corpus is never trained on whole — pipelines
  * draw per-stratum quotas (per language × source, per domain, per
  * quality bucket), and the draw must be reproducible run-to-run so
  * ablations compare the same documents.
  */
object Curation {

  /** Deterministic per-row sampling key: Lehmer-style multiplicative
    * hash `(id * 48271) mod (2^31 - 1)` — uniform-ish, engine-agnostic
    * (replays in ANSI SQL integer arithmetic, unlike a 64-bit mixer
    * whose multiply overflows non-wrapping SQL engines). Collisions are
    * possible above 2^31 ids; the sampler breaks ties by id, so the
    * result stays deterministic regardless.
    */
  def sampleKey(id: Column): Column =
    pmod(id.cast("long") * lit(48271L), lit(2147483647L))

  /** Deterministic stratified sample: the `quota` rows with the
    * smallest [[sampleKey]] per stratum (ties by id). Returns
    * (strataCols..., sample_id, rk) with rk 1-based per stratum.
    *
    * Scale shape: ONE hash-aggregate keyed by the strata — per-stratum
    * selection runs through the partial top-k `Aggregator`
    * ([[graft.catalyst.TopKAgg]]), so map-side partials keep ~quota rows
    * per (partition, stratum) and the shuffle never carries the corpus,
    * unlike a `row_number().over(partitionBy(strata))` window, which
    * sorts every row. Equivalent output to the window formulation
    * (ORDER BY key, id) row-for-row.
    */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], quota: Int,
                       idCol: String): DataFrame = {
    require(strataCols.nonEmpty, "stratifiedSample needs >= 1 stratum col")
    val scored = df.select(
      strataCols.map(col) ++ Seq(
        sampleKey(col(idCol)).cast("double").as("__h"),
        col(idCol).cast("long").as("__id")): _*)
    scored.groupBy(strataCols.map(col): _*)
      .agg(graft.catalyst.TopKAgg.topk(quota)(
        negate(col("__h")), col("__id")).as("top"))
      .select(strataCols.map(col) :+ posexplode(col("top")): _*)
      .select(strataCols.map(col) ++ Seq(
        col("col._2").as("sample_id"),
        (col("pos") + 1).cast("long").as("rk")): _*)
  }

  /** Token-budget mixture draw: per stratum, admit documents in
    * deterministic [[sampleKey]] order until the stratum's TOKEN budget
    * is reached — the training-mix rule ("x billion tokens of lang=de
    * from source=cc"), where quotas are counted in tokens, not
    * documents. A doc is admitted iff the tokens accumulated before it
    * are under the budget (the draw may overshoot by part of the last
    * doc — the standard greedy rule, and the SQL-replayable one).
    *
    * Scale shape: the naive formulation is a running sum over a window
    * partitioned by stratum, which forces an ENTIRE stratum into one
    * task — a 10^12-doc stratum cannot sort in one partition. Here the
    * prefix sum is computed by key-range bucketing: per-(stratum,
    * bucket) token totals (one partial-agg'd aggregate, ≤ 32768 rows
    * per stratum), a window over that tiny frame locates each
    * stratum's boundary bucket, whole buckets under the boundary admit
    * with no per-doc ordering at all, and only the ONE boundary bucket
    * per stratum (≈ stratum/32768 docs) pays a within-bucket window.
    * Output is row-identical to the naive window.
    */
  def tokenBudgetSample(df: DataFrame, strataCols: Seq[String],
                        budgetTokens: Long, idCol: String,
                        textCol: String = "text"): DataFrame = {
    require(strataCols.nonEmpty, "tokenBudgetSample needs >= 1 stratum col")
    import org.apache.spark.sql.expressions.Window
    val sCols = strataCols.map(col)
    val base = df.select(sCols ++ Seq(
        col(idCol).cast("long").as("__id"),
        sampleKey(col(idCol)).as("__k"),
        size(filter(split(coalesce(col(textCol), lit("")), " "),
          t => length(t) > 0)).cast("long").as("n_tokens")): _*)
      .withColumn("__b", (col("__k") / 65536L).cast("long"))
    val bsum = base.groupBy((sCols :+ col("__b")): _*)
      .agg(sum(col("n_tokens")).as("__bs"))
    val wB = Window.partitionBy(sCols: _*).orderBy(col("__b"))
    val cum = bsum.withColumn("__before",
        sum(col("__bs")).over(wB) - col("__bs"))
      .filter(col("__before") < budgetTokens) // drop past-budget buckets
    val joined = base.join(cum, strataCols :+ "__b")
    val whole = joined.filter(col("__before") + col("__bs") <= budgetTokens)
    // one boundary bucket per stratum → partitioning by strata alone is
    // bounded by the bucket width, not the stratum size
    val wIn = Window.partitionBy(sCols: _*)
      .orderBy(col("__k"), col("__id"))
    val boundary = joined
      .filter(col("__before") + col("__bs") > budgetTokens)
      .withColumn("__cumIn", sum(col("n_tokens")).over(wIn))
      .filter(col("__before") + col("__cumIn") - col("n_tokens") <
        budgetTokens)
      .drop("__cumIn")
    whole.unionByName(boundary)
      .select(sCols ++ Seq(col("__id").as("sample_id"),
        col("n_tokens")): _*)
  }

  /** Unigram log-probability scoring — the cheap proxy for the LM
    * perplexity gate of CCNet-style pipelines: each document scores the
    * mean ln p(token) under the corpus's own unigram distribution.
    * p = n(token)/total for the top-`vocabK` tokens (count desc, ties
    * by token text — [[vocabTopK]]'s deterministic rule); out-of-vocab
    * tokens take the 1/total floor. Zero-token docs score 0.
    *
    * Scale shape: the vocabulary is a top-k heap merge
    * (TakeOrderedAndProject) BROADCAST back against the exploded token
    * stream — the corpus never shuffles by token — and the per-doc mean
    * collapses map-side keyed by doc id. What gets cached is the GROUPED
    * token-count frame (distinct-token cardinality, ~10^9 rows at web
    * scale), never the exploded token stream itself (~10^12 rows — an
    * earlier cut cached it to share between `total`/vocab/scoring and
    * would have pinned corpus-sized MEMORY_AND_DISK blocks cluster-wide);
    * `total` now folds out of the counts frame (identical value: sum of
    * group counts = token count) and the scoring pass re-runs the
    * scan-bound tokenization once instead.
    */
  def unigramLogProb(docs: DataFrame, vocabK: Int = 65536,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    // the vocab is built from the NON-EMPTY tokens — [[vocabTopK]]
    // counts empty split artifacts (q84 semantics), which would
    // displace a real term from the top-k here
    val toks = docs.select(col(idCol).cast("long").as("id"),
        explode(split(coalesce(col(textCol), lit("")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tokenCounts = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .cache()
    val totalRow = tokenCounts.agg(sum(col("n"))).head() // driver: one row
    val total =
      (if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)).toDouble
    val vocab = tokenCounts
      .orderBy(col("n").desc, col("token")).limit(vocabK)
    val scored = toks
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("id"),
        log(coalesce(col("n"), lit(1L)).cast("double") / total).as("lp"))
      .groupBy("id")
      .agg(avg(col("lp")).as("alp"), count(lit(1)).as("n_tokens"))
    val out = docs.select(col(idCol).cast("long").as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        round(coalesce(col("alp"), lit(0.0)), 6).as("avg_logp"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    graft.core.Materialize.releasing(out, Seq(tokenCounts))
  }

  /** Per-document distinct word n-grams — [[TextAnalysis.wordGrams]]
    * (the shared single-space tokenization) de-duplicated per row.
    */
  private def distinctGrams(textC: Column, n: Int): Column =
    array_distinct(TextAnalysis.wordGrams(textC, n))

  /** Benchmark decontamination: per corpus document, how many of its
    * distinct word `n`-grams also occur in `bench` (an eval/benchmark
    * set) — the standard train/test-overlap check a pretraining pipeline
    * runs before a corpus ships. Returns
    * (id, n_ngrams, n_contaminated, contamination_frac), one row per
    * corpus document (zero-gram docs report 0 / 0 / 0.0).
    *
    * Scale shape: the bench side is distinct-reduced and BROADCAST —
    * benchmark suites are tiny next to a 100 TB corpus, so the corpus
    * side never shuffles by n-gram. The corpus side is scan → per-row
    * distinct-gram HOF → explode → broadcast-hash left join → hash
    * re-agg by doc id; exploded rows for one document are contiguous in
    * its scan partition, so map-side partial aggregation collapses the
    * shuffle back to ~one row per document before the exchange.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int = 3,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val benchGrams = broadcast(
      bench.select(explode(distinctGrams(col(textCol), n)).as("g"))
        .distinct()
        .withColumn("__hit", lit(1)))
    // n-gram minting + the broadcast probe are per-row compute — widen
    // a narrow scan (no-op at real scale, graft.core.Parallelism)
    graft.core.Parallelism.widen(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).cast("long").as("id"),
        explode_outer(distinctGrams(col(textCol), n)).as("g"))
      .join(benchGrams, Seq("g"), "left")
      .groupBy("id")
      .agg(count(col("g")).as("n_ngrams"),
        count(col("__hit")).as("n_contaminated"))
      .select(col("id"), col("n_ngrams"), col("n_contaminated"),
        round(when(col("n_ngrams") === 0, lit(0.0))
          .otherwise(col("n_contaminated").cast("double") /
            col("n_ngrams").cast("double")), 6)
          .as("contamination_frac"))
  }

  /** Corpus vocabulary: the `k` most frequent whitespace tokens with
    * their global counts, ties broken by token text. The orderBy+limit
    * pair compiles to `TakeOrderedAndProject` — per-partition top-k
    * heaps merged on the driver, never a full sort of the vocabulary —
    * and the groupBy is partially aggregated map-side, so the shuffle
    * carries ~one row per distinct token per partition, not the corpus.
    */
  def vocabTopK(docs: DataFrame, k: Int = 100,
                textCol: String = "text"): DataFrame =
    docs.select(explode(split(coalesce(col(textCol), lit("")), " "))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** [[vocabTopK]]'s bounded-memory twin: the same top-`k` tokens via a
    * Misra-Gries heavy-hitters sketch
    * ([[graft.catalyst.HeavyHittersAgg]]) instead of a full token
    * groupBy. vocabTopK's exchange carries ~one row per DISTINCT token
    * per partition — fine when the vocabulary is bounded, but a web
    * corpus's token cardinality grows with the data (typos, URLs,
    * unicode soup), so at 100 TB that shuffle and the reduce-side hash
    * tables scale with the vocabulary. Here each partition ships ONE
    * serialized `capacity`-entry sketch across a single-partition
    * exchange: exchange volume and aggregation memory are set by
    * `capacity`, not the data.
    *
    * Guarantee (MG, merge-safe per Agarwal et al. PODS 2012): reported
    * counts are lower bounds with per-token error ≤ N/(capacity+1),
    * every token with true count above that is present, and when the
    * distinct cardinality never exceeds `capacity` no shed fires and
    * every count is EXACT — the regime q107's DuckDB oracle replays.
    * Tie order (count desc, token asc) matches [[vocabTopK]].
    */
  def vocabTopKSketch(docs: DataFrame, k: Int = 100,
                      capacity: Int = 1 << 16,
                      textCol: String = "text"): DataFrame =
    docs.select(explode(split(coalesce(col(textCol), lit("")), " "))
        .as("token"))
      .agg(graft.catalyst.HeavyHittersAgg.heavyHitters(capacity)(
        col("token")).as("hh"))
      .select(explode(col("hh.entries")).as("e"))
      .select(col("e.token").as("token"), col("e.count").as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Top-`k` keys by TOTAL WEIGHT via the weighted Misra-Gries sketch
    * ([[graft.catalyst.HeavyHittersWeightedAgg]]) — "which hosts
    * dominate the corpus by bytes" telemetry with the same
    * fixed-by-configuration exchange as [[vocabTopKSketch]] (one
    * capacity-entry sketch per partition, memory independent of the
    * key cardinality). Weights ≤ 0 and nulls are ignored; totals are
    * lower bounds within W/(capacity+1), exact when distinct keys ≤
    * capacity (q110's oracle-checked regime). Tie order (total desc,
    * key asc).
    */
  def heavyKeysSketch(df: DataFrame, keyCol: String, weightCol: String,
                      k: Int = 100, capacity: Int = 1 << 16): DataFrame =
    df.agg(graft.catalyst.HeavyHittersAgg.heavyHittersWeighted(capacity)(
        col(keyCol), col(weightCol).cast("long")).as("hh"))
      .select(explode(col("hh.entries")).as("e"))
      .select(col("e.token").as(keyCol), col("e.count").as("total"))
      .orderBy(col("total").desc, col(keyCol))
      .limit(k)

  /** Model-based quality scoring: a hashed bag-of-words linear
    * classifier — the fastText-style quality filter of modern
    * pretraining pipelines (classifier scores gate which documents
    * enter the training mix). Tokens hash into `dim` buckets via the
    * first 8 hex digits of md5 (deterministic and replayable in plain
    * SQL); `weights` carries the trained model's coefficients as
    * `(bucket, weight)` rows. `score = bias + sum tf(b) * w(b)`,
    * `prob = sigmoid(score)`, both rounded to 6 decimals so the value
    * is invariant to floating-point summation order.
    *
    * Scale shape: the weight vector joins BROADCAST against the
    * exploded tokens (a model of dim 10^6 is a few MB), and the per-doc
    * sum collapses MAP-SIDE (partial agg keyed by doc id), so the only
    * exchange carries ~one row per document — never the token stream.
    * Σ_b tf(b)·w(b) ≡ Σ_tokens w(bucket(token)), so no term-frequency
    * pre-aggregation (which would shuffle the near-unique (doc, bucket)
    * stream) is needed. Docs with no tokens score `bias`.
    */
  /** md5-prefix feature bucket — the ONE definition shared by the
    * batch scorer and the streaming gate
    * ([[graft.streaming.PageStream.scoreStream]]); batch/stream score
    * parity depends on both using exactly this expression.
    */
  def tokenBucket(tok: Column, dim: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % dim

  def hashedLinearScore(docs: DataFrame, weights: DataFrame,
                        dim: Int = 1024, bias: Double = 0.0,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    // tokenization + per-token hashing are per-row compute — widen a
    // narrow scan (no-op at real scale, graft.core.Parallelism)
    val scored = graft.core.Parallelism.widen(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).cast("long").as("id"),
        explode(split(coalesce(col(textCol), lit("")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("id"), tokenBucket(col("tok"), dim).as("bucket"))
      .join(
        broadcast(weights.select(col("bucket").cast("long").as("bucket"),
          col("weight").cast("double").as("w"))),
        Seq("bucket"), "left")
      .groupBy("id")
      .agg(sum(coalesce(col("w"), lit(0.0))).as("s"))
    docs.select(col(idCol).cast("long").as("id")).join(scored, Seq("id"), "left")
      .select(col("id"),
        round(coalesce(col("s"), lit(0.0)) + bias, 6).as("score"))
      .select(col("id"), col("score"),
        round(lit(1.0) / (lit(1.0) + exp(-col("score"))), 6).as("prob"))
  }
}

package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multiple-comparison correction for LISA maps — GeoDa's significance
  * filter (the dropdown next to every cluster map): Bonferroni bound
  * `α/n` and the Benjamini-Hochberg False Discovery Rate cutoff
  * (largest p_(k) with p_(k) ≤ k·α/n over the p-values sorted
  * ascending). Rows keep their cluster label only when p passes the
  * adjusted cutoff; both corrections are stricter than the raw α the
  * labels were computed with, so relabeling is a pure filter.
  *
  * The BH rank is a GLOBAL order statistic. A
  * `row_number().over(orderBy(p))` window computes it by dragging the
  * whole table into ONE task — the standard formulation that dies at
  * scale. Here only the MAX rank per distinct p is needed (a tied group
  * occupying ranks [a, b] passes `p ≤ kα/n` iff it passes at k = b, so
  * the set of passing p-values — and hence `max(p)` — is unchanged), and
  * that is a cumulative COUNT, not a row numbering: ties collapse first
  * through a `groupBy(p)` whose partial aggregation absorbs any tied
  * mass map-side (permutation p-values are quantized to ~perm+1 distinct
  * values — at 10^9 rows a naive within-bucket row_number would hand one
  * task a ~10^6-row partition per popular p), then the cumulative term
  * is assembled from key-range buckets (the `Curation.tokenBudgetSample`
  * scheme): per-bucket counts, a window over that ≤65536-row frame for
  * the before-bucket term, and a within-bucket running sum whose
  * partitions are bounded by the bucket's DISTINCT-p count — ≤ n/65536
  * for continuous p, and ~1 per bucket for quantized p. Output is
  * row-identical to the naive global window.
  *
  * Join-count-family rows with the undefined-p convention (p < 0) are
  * excluded from n and never significant.
  */
object Significance {

  private val Buckets = 65536

  /** BH cutoff (None when nothing is significant). One O(1)-row driver
    * fetch; everything else is distributed.
    */
  def fdrCutoff(df: DataFrame, alpha: Double, pCol: String = "p",
                idCol: String = "gid"): Option[Double] = {
    // idCol retained for source compatibility; the tie-collapsing
    // formulation needs no per-row tiebreaker
    val _ = idCol
    val grp = df.select(col(pCol).cast("double").as("p"))
      .filter(col("p") >= 0.0)
      .groupBy("p").agg(count(lit(1)).as("__c"))
      .withColumn("__b",
        least(floor(col("p") * Buckets), lit(Buckets - 1)).cast("long"))
    val bcum = grp.groupBy("__b").agg(sum(col("__c")).as("__bc"))
      .withColumn("__before",
        sum(col("__bc")).over(Window.orderBy(col("__b"))) - col("__bc"))
    val nTotal =
      broadcast(bcum.agg(sum(col("__bc")).cast("double").as("__n")))
    val ranked = grp
      .join(broadcast(bcum.select(col("__b"), col("__before"))), "__b")
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(col("__b")).orderBy(col("p"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(nTotal)
      .select(col("p"),
        ((col("__before") + col("__cum")) * alpha / col("__n")).as("__thr"))
    val r = ranked.filter(col("p") <= col("__thr")).agg(max(col("p"))).head() // driver: one row
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  /** Relabel under a corrected cutoff: adds `c_adj` (original cluster
    * where p passes, else 0). `method`: "fdr" (Benjamini-Hochberg),
    * "bonferroni" (α/n), or "raw" (α itself).
    *
    * `n` > 0 supplies the comparison count for bonferroni directly
    * (callers that already know the row count skip the pass entirely).
    * Without it, bonferroni's n is folded into the OUTPUT plan as a
    * broadcast 1-row aggregate crossJoin — no standalone count() action;
    * the n pass runs inside whatever job consumes the result. fdr still
    * pays its one O(1)-row driver fetch (the BH cutoff is a max over a
    * data-dependent filter — not expressible as a single broadcastable
    * scalar without it); raw is action-free.
    */
  def adjust(df: DataFrame, alpha: Double = 0.05, method: String = "fdr",
             pCol: String = "p", cCol: String = "c",
             idCol: String = "gid", n: Long = -1L): DataFrame = {
    val p = col(pCol).cast("double")
    def label(d: DataFrame, cutoff: org.apache.spark.sql.Column) =
      d.withColumn("c_adj",
        when(p >= 0.0 && p <= cutoff, col(cCol))
          .otherwise(lit(0.0).cast(df.schema(cCol).dataType)))
    method match {
      case "fdr" =>
        label(df, lit(fdrCutoff(df, alpha, pCol, idCol).getOrElse(-1.0)))
      case "bonferroni" if n > 0 => label(df, lit(alpha / n))
      case "bonferroni" =>
        val nf = broadcast(df.filter(p >= 0.0)
          .agg(count(lit(1)).cast("double").as("__sig_n")))
        label(df.crossJoin(nf), lit(alpha) / col("__sig_n"))
          .drop("__sig_n")
      case "raw" => label(df, lit(alpha))
      case other => throw new IllegalArgumentException(
        s"significance method must be fdr|bonferroni|raw, got $other")
    }
  }
}

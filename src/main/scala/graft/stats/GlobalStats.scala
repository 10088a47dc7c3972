package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Global spatial autocorrelation — Moran's I and Geary's c over an
  * edge list, with expectation, variance and z-score under both the
  * normality and the randomization assumption (Cliff & Ord 1981
  * moments; the numbers GeoDa's global panel and pysal's esda.Moran /
  * esda.Geary report).
  *
  * postgeoda's exported surface is the LOCAL statistics (SURVEY §2);
  * the global scalar is their standard companion in every GeoDa
  * workflow (reference workflow: read the global I before trusting the
  * cluster map). Permutation inference on a GLOBAL statistic is
  * deliberately not offered: each permutation re-pairs every value
  * with every edge — 999 full passes over a 10^12-edge graph — while
  * the closed-form moments need ONE pass over the edges plus one over
  * the values. The locals keep the permutation engine
  * ([[Lisa]]/[[LisaKernels]]), where conditional permutation is
  * per-row and embarrassingly parallel.
  *
  * Weights: `rowStandardized = true` (GeoDa's default) scales each
  * adjacency row to sum 1. Asymmetric graphs (kNN) are handled — the
  * S1/S2 moments use w_ij + w_ji with the reverse edge looked up by
  * join, never assumed present.
  */
object GlobalStats {

  /** (gid, nbr, w) from a directed pair list — MATERIALIZED once (the
    * engine's scoped checkpoint): the numerator and the S0/S1/S2
    * moment subtrees reference this frame ~6 times, and without the
    * materialization each reference replays the pair derivation and
    * the row-standardization aggregate from scratch (at 10^12 edges
    * that is six passes over the edge list instead of one pass plus
    * six block scans; at bench scale it was ~10 concurrent duplicate
    * AQE stages per statistic).
    */
  private def weighted(pairs: DataFrame, rowStandardized: Boolean)
      : DataFrame = {
    val p = pairs.select(col("gid").cast("long").as("gid"),
      col("nbr").cast("long").as("nbr"))
    val w =
      if (!rowStandardized) p.withColumn("w", lit(1.0))
      else p.join(p.groupBy("gid").agg(count(lit(1)).as("deg")), "gid")
        .select(col("gid"), col("nbr"), (lit(1.0) / col("deg")).as("w"))
    graft.core.Materialize.releasing(w, Nil)
  }

  /** Every endpoint in the weights graph must carry a value row: the
    * numerator joins values, so an unmatched gid/nbr would drop its
    * edges from the numerator while still inflating S0/S1/S2 — a
    * mismatched universe would silently BIAS I, c and BB rather than
    * fail. Checked IN the numerator pass itself: the joins are LEFT and
    * a null endpoint raises — zero extra jobs (an eager anti-join count
    * here would add a full edge-list pass per statistic, which at 10^12
    * edges is ~a third of the whole computation).
    */
  private def checkedEndpoint(x: Column, side: String): Column =
    when(x.isNull, raise_error(concat(lit(
      s"global statistic: weight-graph $side has no value row (or a " +
        "NULL value) — the edge universe and the value universe must " +
        "match and values must be non-null (such edges would vanish " +
        "from the numerator but still count in S0/S1/S2, biasing the " +
        "statistic)")))
      .cast("double")).otherwise(x)

  /** One row (s0, s1, s2): S0 = Σw; S1 = ½ ΣΣ (w_ij+w_ji)²; S2 = Σ_i
    * (rowsum_i + colsum_i)². Each present edge contributes its
    * (w + w_reverse)² divided by the number of present directions, so
    * one-directional edges are not half-counted.
    */
  private def sMoments(w: DataFrame): DataFrame = {
    val rev = w.select(col("nbr").as("gid"), col("gid").as("nbr"),
      col("w").as("wrev"))
    val s01 = w.join(rev, Seq("gid", "nbr"), "left")
      .agg(sum(col("w")).as("s0"),
        sum(pow(col("w") + coalesce(col("wrev"), lit(0.0)), 2) /
          when(col("wrev").isNull, 1.0).otherwise(2.0)).as("s1"))
    val rs = w.groupBy("gid").agg(sum(col("w")).as("rs"))
    val cs = w.groupBy(col("nbr").as("gid")).agg(sum(col("w")).as("cs"))
    val s2 = rs.join(cs, Seq("gid"), "full")
      .agg(sum(pow(coalesce(col("rs"), lit(0.0)) +
        coalesce(col("cs"), lit(0.0)), 2)).as("s2"))
    s01.crossJoin(s2)
  }

  /** One row (n, sz2, sz4, mean): deviation moments of the value —
    * collected to a LOCAL relation (it is consumed 2-3 times per
    * statistic, each time via a broadcast/crossJoin; one row of four
    * doubles re-derived per reference was pure stage latency).
    */
  private def zMoments(vals: DataFrame): DataFrame = {
    val v = vals.select(col("gid").cast("long").as("gid"),
      col("value").cast("double").as("x"))
    val m = v.agg(avg(col("x")).as("mean"), count(lit(1)).as("nl"))
    graft.core.Materialize.collected(
      v.crossJoin(broadcast(m))
        .select((col("x") - col("mean")).as("z"), col("nl"), col("mean"))
        .agg(first(col("nl")).cast("double").as("n"),
          sum(col("z") * col("z")).as("sz2"),
          sum(pow(col("z"), 4)).as("sz4"),
          first(col("mean")).as("mean")), Nil)
  }

  /** Global Moran's I: one row `(i, e_i, var_norm, z_norm, var_rand,
    * z_rand)`.
    */
  def moran(vals: DataFrame, pairs: DataFrame,
            rowStandardized: Boolean = true): DataFrame = {
    val w = weighted(pairs, rowStandardized)
    val v = vals.select(col("gid").cast("long").as("gid"),
      col("value").cast("double").as("x"))
    val zm = zMoments(vals)
    val zi = v.crossJoin(broadcast(zm.select(col("mean"))))
      .select(col("gid"), (col("x") - col("mean")).as("z"))
    val num = w
      .join(zi.select(col("gid"), col("z").as("zi")), Seq("gid"), "left")
      .join(zi.select(col("gid").as("nbr"), col("z").as("zj")),
        Seq("nbr"), "left")
      .agg(sum(col("w") * checkedEndpoint(col("zi"), "gid") *
        checkedEndpoint(col("zj"), "nbr")).as("num"))
    num.crossJoin(sMoments(w)).crossJoin(zm)
      .select(col("n"), col("s0"), col("s1"), col("s2"),
        (col("n") / col("s0") * col("num") / col("sz2")).as("i"),
        (lit(-1.0) / (col("n") - 1)).as("e_i"),
        (col("n") * col("sz4") / (col("sz2") * col("sz2"))).as("k"))
      .select(col("i"), col("e_i"),
        ((col("n") * col("n") * col("s1") - col("n") * col("s2") +
          lit(3.0) * col("s0") * col("s0")) /
          ((col("n") * col("n") - 1) * col("s0") * col("s0")) -
          col("e_i") * col("e_i")).as("var_norm"),
        ((col("n") * ((col("n") * col("n") - lit(3.0) * col("n") + lit(3.0)) * col("s1") -
          col("n") * col("s2") + lit(3.0) * col("s0") * col("s0")) -
          col("k") * ((col("n") * col("n") - col("n")) * col("s1") -
            lit(2.0) * col("n") * col("s2") +
            lit(6.0) * col("s0") * col("s0"))) /
          ((col("n") - 1) * (col("n") - 2) * (col("n") - 3) *
            col("s0") * col("s0")) -
          col("e_i") * col("e_i")).as("var_rand"))
      .select(col("i"), col("e_i"), col("var_norm"),
        ((col("i") - col("e_i")) / sqrt(col("var_norm"))).as("z_norm"),
        col("var_rand"),
        ((col("i") - col("e_i")) / sqrt(col("var_rand"))).as("z_rand"))
  }

  /** Global (same-colour BB) join count over a binary 0/1 variable:
    * one row `(bb, e_bb, var_rand, z_rand)` with the
    * sampling-without-replacement (nonfree/randomization) moments —
    * BB = ½ ΣΣ w_ij x_i x_j,
    * E[BB] = ½ S0 p2,
    * Var[BB] = ¼ (S1 p2 + (S2−2S1) p3 + (S0²+S1−S2) p4) − E²,
    * where p_k = n1!/(n1−k)! ÷ n!/(n−k)! is the probability k distinct
    * draws are all ones. The decomposition S0² = S1 + (S2−2S1) +
    * (S0²+S1−S2) groups ordered pair-products by shared indices; the
    * moments are validated empirically by the 20k-permutation Monte
    * Carlo in GlobalStatsSpec. Binary weights (GeoDa's join-count
    * convention).
    */
  def joinCount(vals: DataFrame, pairs: DataFrame): DataFrame = {
    val w = weighted(pairs, rowStandardized = false)
    val v = vals.select(col("gid").cast("long").as("gid"),
      col("value").cast("double").as("x"))
    val chk = v.agg(
      sum(when(col("x") =!= 0.0 && col("x") =!= 1.0, 1L).otherwise(0L)),
      count(lit(1)), sum(col("x"))).head() // driver: one row
    require(chk.getLong(0) == 0L,
      "global join count needs a binary 0/1 variable (joincount.c semantics)")
    val num = w
      .join(v.select(col("gid"), col("x").as("xi")), Seq("gid"), "left")
      .join(v.select(col("gid").as("nbr"), col("x").as("xj")),
        Seq("nbr"), "left")
      .agg(coalesce(sum(col("w") * checkedEndpoint(col("xi"), "gid") *
        checkedEndpoint(col("xj"), "nbr")), lit(0.0)).as("num"))
    val counts = v.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("n1"))
    num.crossJoin(sMoments(w)).crossJoin(counts)
      .select(col("num"), col("s0"), col("s1"), col("s2"),
        (col("n1") * (col("n1") - 1) /
          (col("n") * (col("n") - 1))).as("p2"),
        (col("n1") * (col("n1") - 1) * (col("n1") - 2) /
          (col("n") * (col("n") - 1) * (col("n") - 2))).as("p3"),
        (col("n1") * (col("n1") - 1) * (col("n1") - 2) * (col("n1") - 3) /
          (col("n") * (col("n") - 1) * (col("n") - 2) * (col("n") - 3)))
          .as("p4"))
      .select((lit(0.5) * col("num")).as("bb"),
        (lit(0.5) * col("s0") * col("p2")).as("e_bb"),
        (lit(0.25) * (col("s1") * col("p2") +
          (col("s2") - lit(2.0) * col("s1")) * col("p3") +
          (col("s0") * col("s0") + col("s1") - col("s2")) * col("p4")) -
          pow(lit(0.5) * col("s0") * col("p2"), 2)).as("var_rand"))
      .select(col("bb"), col("e_bb"), col("var_rand"),
        ((col("bb") - col("e_bb")) / sqrt(col("var_rand"))).as("z_rand"))
  }

  /** Global Geary's c: one row `(c, e_c, var_norm, z_norm, var_rand,
    * z_rand)` (E[c] = 1; c < 1 means positive autocorrelation).
    */
  def geary(vals: DataFrame, pairs: DataFrame,
            rowStandardized: Boolean = true): DataFrame = {
    val w = weighted(pairs, rowStandardized)
    val v = vals.select(col("gid").cast("long").as("gid"),
      col("value").cast("double").as("x"))
    val num = w
      .join(v.select(col("gid"), col("x").as("xi")), Seq("gid"), "left")
      .join(v.select(col("gid").as("nbr"), col("x").as("xj")),
        Seq("nbr"), "left")
      .agg(sum(col("w") * pow(checkedEndpoint(col("xi"), "gid") -
        checkedEndpoint(col("xj"), "nbr"), 2)).as("num"))
    num.crossJoin(sMoments(w)).crossJoin(zMoments(vals))
      .select(col("n"), col("s0"), col("s1"), col("s2"),
        ((col("n") - 1) / (lit(2.0) * col("s0")) * col("num") /
          col("sz2")).as("c"),
        (col("n") * col("sz4") / (col("sz2") * col("sz2"))).as("k"))
      .select(col("c"), lit(1.0).as("e_c"),
        (((lit(2.0) * col("s1") + col("s2")) * (col("n") - 1) -
          lit(4.0) * col("s0") * col("s0")) /
          (lit(2.0) * (col("n") + 1) * col("s0") * col("s0")))
          .as("var_norm"),
        (((col("n") - 1) * col("s1") *
          (col("n") * col("n") - lit(3.0) * col("n") + lit(3.0) -
            (col("n") - 1) * col("k")) -
          lit(0.25) * ((col("n") - 1) * col("s2") *
            (col("n") * col("n") + lit(3.0) * col("n") - lit(6.0) -
              (col("n") * col("n") - col("n") + 2) * col("k"))) +
          col("s0") * col("s0") * (col("n") * col("n") - 3 -
            (col("n") - 1) * (col("n") - 1) * col("k"))) /
          (col("n") * (col("n") - 2) * (col("n") - 3) *
            col("s0") * col("s0"))).as("var_rand"))
      .select(col("c"), col("e_c"), col("var_norm"),
        ((col("c") - 1) / sqrt(col("var_norm"))).as("z_norm"),
        col("var_rand"),
        ((col("c") - 1) / sqrt(col("var_rand"))).as("z_rand"))
  }
}

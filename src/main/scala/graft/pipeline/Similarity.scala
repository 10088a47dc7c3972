package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the corpus, dot products via `zip_with`/`aggregate`
  * higher-order functions (stays in Catalyst, no UDF), per-query window
  * top-k.
  *
  * Scale path: IVF-style coarse quantization — k-means-ish centroid
  * assignment with deterministic seeding; corpus bucketed by nearest
  * centroid (the "inverted file"); queries probe `nprobe` nearest
  * centroids; candidates scored exactly within probed buckets. All
  * shuffles keyed by centroid id.
  *
  * Every nearest-cell choice — assignment, PQ encode, query probes — is
  * one argmax of vector · codebook + bias, ties to the lowest cid
  * ([[nearestCells]], [[graft.catalyst.NearestCidsExpr]]).
  */
object Similarity {

  // codegen'd fused inner-product loop (bit-identical to the HOF chain
  // `aggregate(zip_with(_*_), 0.0, _+_)` it replaced — same
  // left-to-right accumulation — at a fraction of the per-row cost)
  private def dot(a: String, b: String) =
    graft.catalyst.GraftFunctions.dot_arr(col(a), col(b))

  /** L2-normalize the vector column into `unit` (array<double>). A null
    * vector or element, or with `dim` > 0 a vector of another length,
    * fails the query with a message naming its id ([[checked]]).
    */
  def normalized(emb: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding", dim: Int = -1): DataFrame = {
    emb.select(col(idCol).cast("long").as("id"),
        transform(checked(idCol, vecCol, dim), x => x.cast("double")).as("v"))
      .withColumn("norm",
        sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0),
          (acc, x) => acc + x)))
      .withColumn("unit",
        when(col("norm") === 0.0, col("v"))
          .otherwise(transform(col("v"), x => x / col("norm"))))
      .select("id", "unit")
  }

  /** `vecCol`, or an error naming the row's id when the vector or an
    * element is null, or when `dim` > 0 and its length differs. Checked
    * in the caller's projection, so it costs no job.
    */
  private[pipeline] def checked(idCol: String, vecCol: String,
                                dim: Int): Column = {
    val v = col(vecCol)
    def fail(what: String) = raise_error(concat(lit("vector input id "),
      coalesce(col(idCol).cast("string"), lit("null")), lit(what)))
    val nulls = when(v.isNull || exists(v, _.isNull),
      fail(" has a null embedding or a null element"))
    (if (dim > 0) nulls.when(size(v) =!= dim,
      fail(s" has a length other than $dim")) else nulls).otherwise(v)
  }

  /** Size of the first non-null `vecCol` vector (one limit-1 job). */
  private[pipeline] def dimOf(df: DataFrame, vecCol: String): Option[Int] =
    df.filter(col(vecCol).isNotNull).select(size(col(vecCol))).limit(1)
      .collect().headOption.map(_.getInt(0)) // driver: bounded, limit 1

  /** `dimHint` when positive, else [[dimOf]]; training needs a vector. */
  private[pipeline] def trainDim(df: DataFrame, vecCol: String,
                                 dimHint: Int): Int =
    if (dimHint > 0) dimHint
    else dimOf(df, vecCol).getOrElse(throw new IllegalArgumentException(
      s"no non-null `$vecCol` vector to size the codebook by"))

  /** Rank scored rows per query: partial top-k aggregate (map-side
    * k-slot buffers, ~k rows per partition reach the shuffle) instead
    * of a whole-stream `row_number()` window sort. Row-identical to
    * `orderBy(cosine desc, id asc)` ranking.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("qid")
      .agg(graft.catalyst.TopKAgg.topk(k)(col("cosine"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col._2").as("id"),
        col("col._1").as("cosine"), (col("pos") + 1).cast("int").as("rk"))

  /** Brute-force cosine top-k: queries × corpus (queries broadcast).
    * Returns (qid, id, cosine, rk).
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = normalized(corpus)
    val q = normalized(queries).select(col("id").as("qid"),
      col("unit").as("qunit"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), dot("unit", "qunit").as("cosine"))
    rankTopK(scored, k)
  }

  /** The top `n` cids for `vec` among (cid, vector, bias) cells. */
  private def nearestCids(vec: Column, cells: Seq[(Int, Seq[Double], Double)],
                          n: Int): Column = {
    val sorted = cells.sortBy(_._1)
    graft.catalyst.GraftFunctions.nearest_cids(vec,
      sorted.flatMap(_._2).toArray, sorted.map(_._3).toArray,
      sorted.map(_._1).toArray, n)
  }

  /** The (cid, vector, bias = −½·cn2 if `euclid` else 0) cells of a
    * centroid frame that is a driver-local relation within
    * [[centroidsFitDriver]], which is checked before anything is
    * collected; None for any other frame.
    */
  private def localCodebook(cents: DataFrame, cvec: String,
      euclid: Boolean): Option[Seq[(Int, Seq[Double], Double)]] = {
    val fits = cents.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val o = l.output.indexWhere(_.name == cvec)
        val dim = l.data.headOption
          .filterNot(_.isNullAt(o)).fold(0)(_.getArray(o).numElements())
        centroidsFitDriver(l.data.length, dim)
      case _ => false
    }
    if (!fits) None
    else Some(cents.select(col("cid").cast("int"), col(cvec),
        if (euclid) lit(-0.5) * col("cn2") else lit(0.0)).collect().toSeq // driver: bounded, centroidsFitDriver
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2))))
  }

  /** The `n` cells nearest each row's `vec`, by (score desc, cid asc):
    * score = v·c over centroids (cid, `cvec`), or v·c − ½|c|² over (cid,
    * `cvec`, cn2) when `euclid` (argmin |v−c|²). A driver-local codebook
    * within [[centroidsFitDriver]] is one `nearest_cids` projection — a
    * PURE SCAN, rows are never shuffled to be assigned; beyond it the
    * centroids are broadcast into a partial aggregate with the same tie
    * rule, `max_by` over (score, −cid) for n = 1, `TopKAgg` for n > 1.
    * Returns (`key`, cid, `keep`…) per (row, cell).
    */
  private def nearestCells(f: DataFrame, key: String, vec: String,
      cents: DataFrame, cvec: String, euclid: Boolean, n: Int,
      keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    localCodebook(cents, cvec, euclid) match {
      case Some(cb) =>
        val cids = nearestCids(col(vec), cb, n)
        f.select(col(key) +: (if (n == 1) cids.getItem(0) else explode(cids))
          .as("cid") +: kept: _*)
      case None =>
        val dot = graft.catalyst.GraftFunctions.dot_arr(col(vec), col(cvec))
        val scored = f.crossJoin(broadcast(cents)).select(col(key) +:
          col("cid") +: (if (euclid) dot - lit(0.5) * col("cn2") else dot)
            .as("__score") +: kept: _*)
        val firsts = keep.map(c => first(col(c)).as(c))
        if (n == 1)
          scored.groupBy(key).agg(max_by(col("cid"),
            struct(col("__score"), negate(col("cid")))).as("cid"), firsts: _*)
        else
          scored.groupBy(key).agg(graft.catalyst.TopKAgg.topk(n)(
              col("__score"), col("cid").cast("long")).as("__top"), firsts: _*)
            .select(col(key) +: explode(transform(col("__top"),
              t => t("_2").cast("int"))).as("cid") +: kept: _*)
    }
  }

  /** Cosine assignment of (id, unit) to (cid, cunit): (id, cid, unit). */
  private[graft] def assignNearest(c: DataFrame, cents: DataFrame): DataFrame =
    nearestCells(c, "id", "unit", cents, "cunit", euclid = false, 1,
      Seq("unit"))

  /** Deterministic IVF centroids: pick nCentroids seeds by id order, one
    * refinement sweep (mean of assigned vectors). Returns centroid DF
    * (cid, cunit).
    */
  def ivfCentroids(corpus: DataFrame, nCentroids: Int,
                   dimHint: Int = -1): DataFrame =
    lloydCentroids(corpus, nCentroids, scattered = false, dimHint)

  /** Centroids with HASH-SCATTERED seeds — for cluster-partitioned
    * workloads (semantic dedup) where seed placement decides recall:
    * id-order seeding puts consecutive ids (often near-duplicates of
    * each other) on separate centroids, splitting exactly the groups
    * the caller wants co-clustered; ordering by xxhash64(id) scatters
    * the seed draw across the corpus. IVF keeps id-order seeding (its
    * queries probe several centroids anyway, and the q57b SQL oracle
    * replays that seeding verbatim).
    */
  def scatteredCentroids(corpus: DataFrame, nCentroids: Int,
                         dimHint: Int = -1): DataFrame =
    lloydCentroids(corpus, nCentroids, scattered = true, dimHint)

  /** Euclidean k-means over RAW (unnormalized) vectors — for residual
    * quantization, where cosine assignment is wrong: two near-identical
    * vectors close to their coarse centroid have tiny residuals whose
    * DIRECTIONS diverge arbitrarily (normalization amplifies the
    * difference), while their Euclidean nearest residual-centroid stays
    * shared. argmin |r−c|² = argmax (r·c − ½|c|²); ties by min cid.
    * Input (id, vec: array<double>); returns (cid, cvec, cn2).
    * `inputCached = true` skips the internal cache — for callers whose
    * frame is already cache-backed (the two-level semantic-dedup
    * residual frame), where a second cache of the same rows only costs
    * memory and a materialization pass.
    */
  def euclidCentroids(frame: DataFrame, nCentroids: Int,
                      dimHint: Int = -1,
                      inputCached: Boolean = false): DataFrame = {
    val f0 = frame.select(col("id"), col("vec"))
    val f = if (inputCached) f0 else f0.cache()
    lloydSweep(f, "vec", "cvec", nCentroids,
      Seq(xxhash64(col("id")), col("id")), euclid = true, dimHint,
      if (inputCached) Nil else Seq(f))
  }

  /** One Lloyd sweep over (id, `vec`): seeds drawn under `ord`, nearest-
    * seed assignment, means in ONE codegen'd hash aggregate with map-side
    * partials (dim fixed, small). Returns (cid, `cvec`[, cn2 = |c|² when
    * `euclid`]) and releases `internal`.
    */
  private def lloydSweep(f: DataFrame, vec: String, cvec: String,
      nCentroids: Int, ord: Seq[Column], euclid: Boolean, dimHint: Int,
      internal: Seq[DataFrame]): DataFrame = {
    val spark = f.sparkSession
    import spark.implicits._
    // cn2 on the driver is the same left-fold of squares in array order
    // as the aggregate(transform(...)) column below
    val seeds = seedVectors(f.select(col("id"), col(vec)), nCentroids, ord)
      .zipWithIndex.map { case (v, i) => (i, v, v.foldLeft(0.0)((a, x) => a + x * x)) }
      .toDF("cid", cvec, "cn2")
    val assigned = nearestCells(f, "id", vec, seeds, cvec, euclid, 1, Seq(vec))
    val dim = trainDim(f, vec, dimHint)
    val means = assigned.groupBy("cid")
      .agg(array((0 until dim).map(i => avg(col(vec)(i))): _*).as(cvec))
    val out = if (!euclid) means
      else means.withColumn("cn2", aggregate(transform(col(cvec), x => x * x),
        lit(0.0), (a, x) => a + x))
    if (centroidsFitDriver(nCentroids, dim))
      graft.core.Materialize.collected(out, internal)
    else graft.core.Materialize.releasing(out, internal)
  }

  /** Centroid frames are broadcast to every consumer, so the driver
    * holds them regardless; below this bound (64 MB of doubles) they
    * are returned as LOCAL relations ([[graft.core.Materialize
    * .collected]]) — same values, no checkpoint/broadcast-build jobs.
    */
  private def centroidsFitDriver(n: Int, dim: Int): Boolean =
    n.toLong * math.max(1, dim) <= (8L << 20)

  /** Euclidean nearest-centroid assignment over centroids (cid, cvec,
    * cn2) ([[nearestCells]]). `probes` > 1 emits the top-`probes` cells
    * per id (multi-probe: candidate-generation recall at Voronoi
    * boundaries) and returns ONLY (id, cid) — its caller keys the probe
    * cells back to the full rows by id, so threading the vector through
    * would shuffle and duplicate d doubles per probe for nothing.
    * probes = 1 keeps (id, cid, vec): the Lloyd mean recompute consumes
    * the vector in the very next aggregate.
    */
  private[graft] def assignNearestEuclid(f: DataFrame,
      cents: DataFrame, probes: Int = 1): DataFrame =
    nearestCells(f, "id", "vec", cents, "cvec", euclid = true, probes,
      if (probes <= 1) Seq("vec") else Nil)

  /** Seed draw: the vectors of the first `n` (id, vector) rows under
    * `ord` by one TakeOrdered-heap collect, never a global sort; seed i
    * is cid i, as a `row_number()` ordered by `ord` numbers them. Seeds
    * are ≤65536 rows, driver-held for the broadcast either way.
    */
  private def seedVectors(src: DataFrame, n: Int, ord: Seq[Column])
      : Seq[Seq[Double]] =
    src.orderBy(ord: _*).limit(n).collect().toSeq.map(_.getSeq[Double](1)) // driver: bounded, n seeds

  private def lloydCentroids(corpus: DataFrame, nCentroids: Int,
      scattered: Boolean, dimHint: Int = -1): DataFrame = {
    val c = normalized(corpus, dim = dimHint).cache()
    // TakeOrdered heap either way — never a global sort
    val ord =
      if (scattered) Seq(xxhash64(col("id")), col("id")) else Seq(col("id"))
    lloydSweep(c, "unit", "cunit", nCentroids, ord, euclid = false, dimHint,
      Seq(c))
  }

  /** Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI
    * 2011): split each unit vector into `m` subspaces of d/m dims and
    * k-means each subspace independently to `ksub` centroids. Encoded
    * storage drops from d doubles to m small ints per vector — the
    * compression that makes billion-vector ANN indexes fit a cluster's
    * memory (IVFADC = the [[ivfTopK]] coarse stage + this).
    *
    * Training is ONE pass over the corpus: each row's subvectors are
    * assigned to their Euclidean-nearest seed by the encoder's
    * per-subspace `nearest_cids` scan, then posexploded (n·m rows but
    * total volume = the corpus) into the (sub, cid)-keyed mean
    * recompute, the one shuffle, partial-aggregated. Seeding is
    * the IVF convention: the FIRST `ksub` vectors (id order) seed
    * every subspace, so the q108 DuckDB oracle replays the draw
    * without a per-subspace window. One Lloyd sweep, like
    * [[ivfCentroids]]. Returns (sub, cid, cvec).
    */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int): DataFrame =
    pqTrainUnit(normalized(corpus), m, ksub)

  /** [[pqTrain]] over an already-prepared (id, unit) frame — the unit
    * column is NOT re-normalized, which is what residual quantization
    * ([[ivfAdcTopK]]) needs: residuals are small by construction and
    * normalizing them would erase exactly the magnitude information
    * the codebook must capture.
    */
  private[graft] def pqTrainUnit(units: DataFrame, m: Int,
                                 ksub: Int, dimHint: Int = -1,
                                 inputCached: Boolean = false): DataFrame = {
    val c0 = units.select(col("id"), col("unit"))
    val c = if (inputCached) c0 else c0.cache()
    val dim = trainDim(c, "unit", dimHint)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // the FIRST `ksub` vectors in id order seed every subspace
    val seeds = seedVectors(c, ksub, Seq(col("id")))
    val assigned = c.select(posexplode(array((0 until m).map { j =>
        val cells = seeds.zipWithIndex.map { case (u, i) =>
          euclidCell(i, u.slice(j * dsub, (j + 1) * dsub)) }
        struct(nearestCids(subvec(j, dsub), cells, 1).getItem(0).as("cid"),
          subvec(j, dsub).as("svec"))
      }: _*)))
      .select(col("pos").as("sub"), col("col.cid").as("cid"),
        col("col.svec").as("svec"))
    val out = assigned.groupBy("sub", "cid")
      .agg(array((0 until dsub).map(i => avg(col("svec")(i))): _*).as("cvec"))
    // m·ksub rows × (d/m) doubles = d·ksub total — always driver-small
    // (ksub ≤ 256 in any standard PQ); [[collectCodebooks]] collects
    // this frame anyway, so the local relation makes that collect free
    val internal = if (inputCached) Nil else Seq(c)
    if (centroidsFitDriver(m * ksub, dsub))
      graft.core.Materialize.collected(out, internal)
    else graft.core.Materialize.releasing(out, internal)
  }

  /** (cid, v, −½|v|²): a Euclidean cell for [[nearestCids]]. */
  private def euclidCell(cid: Int, v: Seq[Double]): (Int, Seq[Double], Double) =
    (cid, v, -0.5 * v.foldLeft(0.0)((a, x) => a + x * x))

  /** Subspace j's slice of the `unit` column. */
  private def subvec(j: Int, dsub: Int): Column =
    slice(col("unit"), j * dsub + 1, dsub)

  /** The collected codebook: per subspace, its [[euclidCell]]s sorted by
    * cid. m·ksub·(d/m) = d·ksub doubles total — broadcast-
    * scale BY CONSTRUCTION (ksub ≤ 256 in any standard PQ), which is
    * what lets the encoder be a pure scan.
    */
  private def collectCodebooks(codebooks: DataFrame)
      : Map[Int, Array[(Int, Seq[Double], Double)]] =
    codebooks.select(col("sub").cast("int"), col("cid").cast("int"),
        col("cvec")).collect() // driver: bounded, d·ksub doubles
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1)
      .map { case (s, rows) =>
        s -> rows.sortBy(_._2).map { case (_, cid, v) => euclidCell(cid, v) }
      }

  /** PQ encode as a PURE SCAN: one `nearest_cids` per subspace holds
    * that subspace's codebook, so each row pays m·ksub fused dot products
    * inside whole-stage codegen and the operator has NO exchange, join,
    * or aggregation — encoding 10^12 vectors is exactly as parallel as
    * reading them. The codebook is d·ksub doubles, driver-small by
    * construction (ksub ≤ 256 in any standard PQ). Returns (id, codes
    * array<int>), codes[j] = cid of the Euclidean-nearest sub-centroid;
    * ties to the smallest cid (cids can be sparse if a seed lost every
    * member in the Lloyd sweep).
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame): DataFrame =
    pqEncodeUnit(normalized(corpus), codebooks)

  /** [[pqEncode]] over a prepared frame with a `unit` column; every
    * other column rides through untouched (so [[ivfAdcTopK]] keeps its
    * coarse-cell id alongside the codes with no re-join).
    */
  private[graft] def pqEncodeUnit(units: DataFrame,
                                  codebooks: DataFrame): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val dsub = cb(0).head._2.size
    val codeCols = (0 to cb.keys.max).map(j =>
      nearestCids(subvec(j, dsub), cb(j).toSeq, 1).getItem(0))
    units.withColumn("codes", array(codeCols: _*)).drop("unit")
  }

  /** Per-row ADC lookup table over the `unit` column: lut[j][cid+1] =
    * unit_sub_j · cvec(j, cid), cid-indexed with dead cids scored 0
    * (they never appear in codes).
    */
  private def lutColumn(cb: Map[Int, Array[(Int, Seq[Double], Double)]])
      : org.apache.spark.sql.Column = {
    val m = cb.keys.max + 1
    val dsub = cb(0).head._2.size
    array((0 until m).map { j =>
      val sv = subvec(j, dsub)
      val byCid = cb(j).map(e => e._1 -> e._2).toMap
      val maxCid = cb(j).map(_._1).max
      array((0 to maxCid).map(cid => byCid.get(cid)
        .map(v => graft.catalyst.GraftFunctions.dot_arr(sv, typedLit(v)))
        .getOrElse(lit(0.0))): _*)
    }: _*)
  }

  /** Σ_j lut[j][codes[j]] — the compressed-domain score, as the fused
    * codegen expression (bit-identical to the HOF chain
    * `aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c+1)),
    * 0.0, _+_)` it replaced — CatalystSpec pins the equivalence — at a
    * fraction of the per-row cost; the HOF form's interpreted lambdas
    * made ADC scoring slower than the exact dots it exists to avoid).
    */
  private def adcScore(codes: org.apache.spark.sql.Column,
                       lut: org.apache.spark.sql.Column) =
    graft.catalyst.GraftFunctions.adc_score(codes, lut)

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, a LUT
    * of q_sub·c_sub per (subspace, cid) — computed once per query as
    * column expressions over the literal codebooks — then each corpus
    * row scores as Σ_j lut[j][codes[j]]: m array lookups instead of a
    * d-dim dot product, the compressed-domain scoring that never
    * touches the original vectors. The LUT rides the query broadcast;
    * ranking reuses the partial top-k aggregate. Score approximates
    * cosine(query, vector) by cosine(query, reconstruction). Returns
    * (qid, id, cosine, rk).
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
             k: Int): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val q = normalized(queries)
      .select(col("id").as("qid"), lutColumn(cb).as("lut"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        adcScore(col("codes"), col("lut")).as("cosine"))
    rankTopK(scored, k)
  }

  /** IVFADC — the composed billion-scale index (Jégou et al. §IV):
    * coarse IVF cells for candidate generation + PQ codebooks trained
    * on RESIDUALS (unit − coarse centroid) for in-cell scoring, all in
    * the compressed domain. score(q, x) ≈ q·c_cell + Σ_j lut_cell[j][
    * codes_j(x)] where the LUT is built from the query's own residual
    * against its probed cell — one LUT per (query, probed cell),
    * riding the query broadcast.
    *
    * Scale shape: the index frame is (id, ccid, codes) — m ints per
    * vector, the original embeddings never touched at query time; the
    * only join is probed-cell-keyed against the broadcast (query,
    * cell, LUT) rows, so corpus-side work is candidate-cells scan ×
    * m lookups. Training adds one coarse sweep + one residual PQ sweep
    * over the corpus. Returns (qid, id, cosine, rk).
    */
  /** The built IVFADC index: coarse centroids, residual PQ codebooks,
    * and the code frame (id, ccid, codes). Build once with
    * [[ivfAdcIndex]], query many times with [[ivfAdcSearch]] — the
    * training sweeps amortize across query batches (a real deployment
    * persists `index` as a table of m ints + a cell id per vector and
    * the two centroid frames as tiny side tables). `release()` drops
    * the centroid, codebook and index frames' blocks.
    */
  final case class IvfAdcIndex(cents: DataFrame, codebooks: DataFrame,
                               index: DataFrame) {
    def release(): Unit = {
      graft.core.Materialize.release(cents)
      graft.core.Materialize.release(codebooks)
      graft.core.Materialize.release(index)
    }
  }

  /** Build the IVFADC index: coarse sweep, residual computation,
    * residual-PQ sweep, exchange-free encode. The centroid and codebook
    * frames come back materialized — LOCAL relations below the driver
    * bound, checkpoint-backed beyond it — so [[ivfAdcSearch]], which
    * collects the codebook per query batch, never re-triggers the
    * training lineage, and [[IvfAdcIndex.release]] frees them.
    */
  def ivfAdcIndex(corpus: DataFrame, nCells: Int = 16,
                  m: Int = 8, ksub: Int = 16): IvfAdcIndex = {
    // one dim probe shared by the coarse and the residual-PQ training
    val dim = trainDim(corpus, "embedding", -1)
    val cents = ivfCentroids(corpus, nCells, dim)
    val c = normalized(corpus, dim = dim)
    // ONE corpus assignment pass, cached: residual-PQ training and the
    // encode both consume `resid` — uncached, the coarse assignment's
    // aggregate ran twice per index build (and a third time per search
    // batch through the lazy index frame). The materialized index is
    // (id, ccid, m codes) — exactly what a deployment persists — so
    // searches scan checkpoint blocks, never the training lineage.
    val resid = assignNearest(c, cents)
      .join(broadcast(cents.select(col("cid"), col("cunit"))), "cid")
      .select(col("id"), col("cid").as("ccid"),
        zip_with(col("unit"), col("cunit"), (a, b) => a - b).as("unit"))
      .cache()
    val cb = pqTrainUnit(resid.select(col("id"), col("unit")), m, ksub, dim,
      inputCached = true)
    val index = graft.core.Materialize.releasing(
      pqEncodeUnit(resid, cb), Seq(resid))
    IvfAdcIndex(cents, cb, index)
  }

  /** Query an IVFADC index: probe `nprobe` cells, score candidates in
    * the compressed domain (one residual LUT per (query, probed cell),
    * riding the query broadcast). Returns (qid, id, cosine, rk).
    */
  def ivfAdcSearch(idx: IvfAdcIndex, queries: DataFrame, k: Int,
                   nprobe: Int = 4): DataFrame = {
    val cbc = collectCodebooks(idx.codebooks)
    val q = normalized(queries).select(col("id").as("qid"),
      col("unit").as("qunit"))
    val qProbes = nearestCells(q, "qid", "qunit", idx.cents, "cunit",
        euclid = false, nprobe, Seq("qunit"))
      .join(broadcast(idx.cents.select(col("cid"), col("cunit"))), "cid")
      .select(col("qid"), col("cid").as("ccid"), dot("qunit", "cunit").as("qc"),
        zip_with(col("qunit"), col("cunit"), (a, b) => a - b).as("unit"))
    val lutProbes = qProbes
      .withColumn("lut", lutColumn(cbc)).drop("unit")
    val scored = idx.index.join(broadcast(lutProbes), "ccid")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        (col("qc") + adcScore(col("codes"), col("lut"))).as("cosine"))
    rankTopK(scored, k)
  }

  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nCells: Int = 16, nprobe: Int = 4,
                 m: Int = 8, ksub: Int = 16): DataFrame = {
    val idx = ivfAdcIndex(corpus, nCells, m, ksub)
    val out = graft.core.Materialize.releasing(
      ivfAdcSearch(idx, queries, k, nprobe), Nil)
    idx.release()
    out
  }

  /** Two-stage retrieval (the production IVFADC deployment shape,
    * Jégou et al. §V.C): the compressed-domain search shortlists
    * `shortlist` candidates per query, then ONLY those rows are
    * re-scored with exact cosine against the original vectors and the
    * top `k` re-ranked. Quantization error affects candidate
    * GENERATION only — the final scores and order are exact over the
    * shortlist — and the exact pass touches `queries × shortlist`
    * rows, not the corpus: the join back to the embeddings is
    * id-keyed on a shortlist that is broadcast-sized by construction.
    * Returns (qid, id, cosine, rk) with exact cosines.
    */
  def ivfAdcRerank(idx: IvfAdcIndex, corpus: DataFrame,
                   queries: DataFrame, k: Int, shortlist: Int = 0,
                   nprobe: Int = 4): DataFrame = {
    val c0 = if (shortlist > 0) shortlist else 4 * k
    val cand = ivfAdcSearch(idx, queries, c0, nprobe)
      .select(col("qid"), col("id"))
    val cvec = normalized(corpus)
    val q = normalized(queries).select(col("id").as("qid"),
      col("unit").as("qunit"))
    val scored = cand
      .join(cvec, "id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("id"), dot("unit", "qunit").as("cosine"))
    rankTopK(scored, k)
  }

  /** IVF ANN: bucket corpus by nearest centroid; queries probe the
    * `nprobe` nearest centroids; exact scoring within probed buckets.
    * Returns (qid, id, cosine, rk) — approximate top-k.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    // one dim probe: centroid training and both length checks share it
    val dim = trainDim(corpus, "embedding", -1)
    val cents = ivfCentroids(corpus, nCentroids, dim)
    val cBucketed = assignNearest(normalized(corpus, dim = dim), cents)
    val q = normalized(queries, dim = dim).select(col("id").as("qid"),
      col("unit").as("qunit"))
    val qProbes = nearestCells(q, "qid", "qunit", cents, "cunit",
      euclid = false, nprobe, Seq("qunit"))
    val scored = qProbes.join(cBucketed, "cid")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), dot("unit", "qunit").as("cosine"))
    graft.core.Materialize.releasing(rankTopK(scored, k), Nil)
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpus curation. All are
  * shuffle-by-key designs: exact dedup groups by content hash; MinHash
  * LSH groups by band signature; SimHash groups by rotated prefix —
  * every variant is an equi-join problem, never an all-pairs compare,
  * which is what keeps them viable at 10^12 documents.
  */
object Dedup {

  /** Exact duplicate groups by md5(text): (h, keep_id, n). */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** 64-bit deterministic string hash (FNV-1a). */
  @inline private[pipeline] def fnv1a(s: String, seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Word shingles of size w. */
  private[pipeline] def shingles(text: String, w: Int): Array[String] = {
    val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (words.length < w) {
      if (words.isEmpty) Array.empty else Array(words.mkString(" "))
    } else
      (0 to words.length - w).map(i => words.slice(i, i + w).mkString(" ")).toArray
  }

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  @inline private[pipeline] def mix64(x0: Long): Long = {
    var x = x0
    x ^= (x >>> 30); x *= 0xbf58476d1ce4e5b9L
    x ^= (x >>> 27); x *= 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** One 64-bit hash per w-word shingle: per-word FNV-1a hashes combined
    * by a rolling FNV polynomial over the window. Identical shingle-SET
    * semantics to [[shingles]] (same tokenization, same short-text
    * rule), but each character is hashed exactly ONCE and no shingle
    * string is ever materialized — the per-row cost drops from
    * O(len × w) to O(len + words × w). Any consistent 64-bit shingle
    * hash family is equivalent for LSH/simhash purposes.
    */
  private[pipeline] def shingleHashes(text: String, w: Int): Array[Long] = {
    val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val nw = words.length
    if (nw == 0) return Array.emptyLongArray
    val wh = new Array[Long](nw)
    var i = 0
    while (i < nw) { wh(i) = fnv1a(words(i), 0L); i += 1 }
    if (nw < w) {
      var h = 0xcbf29ce484222325L
      i = 0
      while (i < nw) { h = (h ^ wh(i)) * 0x100000001b3L; i += 1 }
      return Array(h)
    }
    val out = new Array[Long](nw - w + 1)
    i = 0
    while (i <= nw - w) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + w) { h = (h ^ wh(j)) * 0x100000001b3L; j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** MinHash signature: one rolling hash per shingle, then numHashes
    * universal permutations `mix64(h ⊕ seed_i)` — 64 mixes per shingle
    * instead of 64 full string re-hashes (the dominant dedup cost at
    * corpus scale; see BENCH.md round 4).
    */
  private[pipeline] def minhash(text: String, w: Int, numHashes: Int): Array[Long] = {
    val sh = shingleHashes(text, w)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val seeds = new Array[Long](numHashes)
    var h = 0
    while (h < numHashes) {
      seeds(h) = mix64(0x9E3779B97F4A7C15L * (h + 1)); h += 1
    }
    var i = 0
    while (i < sh.length) {
      val h0 = sh(i)
      h = 0
      while (h < numHashes) {
        val v = mix64(h0 ^ seeds(h))
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit LSH band-bucket key: chained mix64 over the band's
    * signature slice `sig[band*rowsPerBand, (band+1)*rowsPerBand)`,
    * band-salted so the same slice in different bands lands in
    * different buckets. Full-avalanche per step — accidental bucket
    * co-residency of two DIFFERENT slices is a ~2^-64 event, so bucket
    * sizes track true signature agreement even at 10^10+ documents.
    */
  private[pipeline] def bandKey(sig: Seq[Long], band: Int,
                                rowsPerBand: Int): Long = {
    var h = 0xcbf29ce484222325L ^ mix64(band.toLong + 1)
    var j = band * rowsPerBand
    val end = j + rowsPerBand
    while (j < end) { h = mix64(h ^ sig(j)); j += 1 }
    h
  }

  /** MinHash + LSH near-duplicate pairs: shingle → minhash(numBands ×
    * rowsPerBand) → band buckets → candidate pairs within a bucket →
    * verified by estimated Jaccard (signature agreement) ≥ threshold.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    */
  def minhashLsh(docs: DataFrame, shingleSize: Int = 3, numBands: Int = 16,
                 rowsPerBand: Int = 4, threshold: Double = 0.7,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numHashes = numBands * rowsPerBand
    val sigs = docs.select(col(idCol).cast("long").as("id"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) => (id, minhash(text, shingleSize, numHashes)) }
      .toDF("id", "sig")
      .cache()
    // band key = full-width 64-bit hash of the band's signature slice
    // (equal slices always collide; distinct slices collide at ~2^-64 —
    // a 32-bit key here melts at web scale: 10^10 docs per band into
    // 2^32 buckets ⇒ thousands of accidental co-residents per bucket ⇒
    // quadratic false-pair expansion swamping the verify join)
    val banded = sigs.as[(Long, Seq[Long])].flatMap { case (id, sig) =>
      (0 until numBands).iterator.map { b =>
        (id, b, bandKey(sig, b, rowsPerBand))
      }
    }.toDF("id", "band", "bkey")
    // candidate pairs via bucket SELF-JOIN, deliberately not a
    // groupBy+collect_list pair expansion: a duplicate-heavy corpus (the
    // primary dedup workload) puts entire dup clusters into one bucket,
    // and collect_list would materialize that cluster as a single
    // in-memory array row (2 GB row limit / OOM), whereas the sort-merge
    // self-join spills and streams the identical quadratic pair output.
    val cand = banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
          $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b")).distinct()
    // verify candidates on full signatures
    val withSig = cand
      .join(sigs.select($"id".as("id_a"), $"sig".as("sig_a")), "id_a")
      .join(sigs.select($"id".as("id_b"), $"sig".as("sig_b")), "id_b")
    val out = withSig.select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0),
          (acc, v) => acc + v).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    graft.core.Materialize.releasing(out, Seq(sigs))
  }

  /** 64-bit SimHash over word shingles (rolling shingle hashes +
    * mix64 for per-bit diffusion; no shingle strings materialized).
    */
  private[pipeline] def simhash(text: String, w: Int): Long = {
    val sh = shingleHashes(text, w)
    val acc = new Array[Int](64)
    var i = 0
    while (i < sh.length) {
      val h = mix64(sh(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Public simhash entry for reuse outside the batch pipeline (the
    * streaming dedup keys state by it).
    */
  def simhashOf(text: String, shingleSize: Int = 2): Long =
    simhash(text, shingleSize)

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found by
    * the rotate-and-prefix-bucket trick (each of `tables` rotations
    * buckets on the top `prefixBits` bits → candidates share a bucket in
    * ≥1 rotation) — the standard web-dedup sharding, no all-pairs.
    */
  def simhashDup(docs: DataFrame, maxHamming: Int = 3, shingleSize: Int = 2,
                 tables: Int = 8, prefixBits: Int = 16,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = docs.select(col(idCol).cast("long").as("id"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) => (id, simhash(t, shingleSize)) }
      .toDF("id", "sh").cache()
    graft.core.Materialize.releasing(
      hammingPairs(hashed, maxHamming, tables, prefixBits), Seq(hashed))
  }

  /** Hamming-ball pair search over 64-bit signatures `(id, sh)`:
    * rotate-and-prefix buckets (shared by text SimHash and image
    * perceptual-hash dedup — any 64-bit locality-preserving signature
    * plugs in). Returns `(id_a, id_b, hamming)` with hamming ≤
    * `maxHamming`; no all-pairs anywhere.
    */
  private[pipeline] def hammingPairs(hashed: DataFrame, maxHamming: Int,
                                     tables: Int, prefixBits: Int): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    val rotated = hashed.as[(Long, Long)].flatMap { case (id, h) =>
      (0 until tables).iterator.map { r =>
        val rot = java.lang.Long.rotateLeft(h, r * (64 / tables))
        (id, h, r, rot >>> (64 - prefixBits))
      }
    }.toDF("id", "sh", "rot", "bucket")
    rotated.as("a").join(rotated.as("b"),
        $"a.rot" === $"b.rot" && $"a.bucket" === $"b.bucket" &&
          $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        $"a.sh".as("sha"), $"b.sh".as("shb")).distinct()
      .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity for candidate pairs (id_a, id_b):
    * explode shingles, count intersections via join — used as the
    * verifier stage after LSH banding.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, shingleSize: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.select(col(idCol).cast("long").as("id"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) => shingles(t, shingleSize).distinct.map((id, _)) }
      .toDF("id", "sh")
    val counts = sh.groupBy("id").agg(count(lit(1)).as("nsh"))
    val inter = pairs
      .join(sh.select($"id".as("id_a"), $"sh"), "id_a")
      .join(sh.select($"id".as("id_b"), $"sh".as("sh2")), "id_b")
      .filter($"sh" === $"sh2")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ninter"))
    pairs.join(inter, Seq("id_a", "id_b"), "left")
      .join(counts.select($"id".as("id_a"), $"nsh".as("na")), "id_a")
      .join(counts.select($"id".as("id_b"), $"nsh".as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (coalesce(col("ninter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("ninter"), lit(0L))))
          .as("jaccard"))
  }

  /** Auto-sizing for the banded hyperplane LSH. Returns
    * (bitsPerBand, numTables).
    *
    * Bits per band target a bucket occupancy: `2^bits ≈ n /
    * targetBucket` keeps the in-bucket self-join bounded as the corpus
    * grows (the round-4 fixed 12-plane scheme meant ~n/4096 vectors per
    * bucket — effectively all-pairs at 10^9 embeddings). Tables restore
    * the recall that longer bands cost: a pair at EXACTLY `threshold`
    * collides per hyperplane with probability ρ = 1 − acos(threshold)/π
    * (Goemans-Williamson / Charikar SimHash bound), per band with ρ^bits,
    * so `tables = ceil(ln(0.05) / ln(1 − ρ^bits))` gives ≥95% recall at
    * the threshold (higher above it) — the same band/table trade as
    * MinHash LSH, applied to sign-bit signatures.
    */
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Max auto-chosen band width: 48 of the signature Long's 64 bits
    * covers occupancy targets up to n ≈ targetBucket·2^48 (~10^16
    * vectors at the default) — no real corpus reaches it, so occupancy
    * control never silently degrades the way the old 24-bit cap did
    * beyond ~10^9 vectors. (Sharding the corpus by j leading signature
    * bits is NOT an alternative: shard bits are hash bits, so it equals
    * a (bits+j)-wide band — except a threshold pair must co-shard with
    * probability ρ^j with no extra table to recover it, strictly worse
    * than folding the same bits into each band and letting the table
    * count compensate.)
    */
  private val MaxAutoBandBits = 48

  private[pipeline] def embeddingLshParams(n: Long, threshold: Double,
      bandBits0: Int, tables0: Int, targetBucket: Int,
      maxTables: Int = 128): (Int, Int) = {
    val wantBits = math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt)
    val bandBits =
      if (bandBits0 > 0) bandBits0
      else math.min(MaxAutoBandBits, wantBits)
    val tables =
      if (tables0 > 0) tables0
      else {
        val c = math.min(1.0, math.max(-1.0, threshold))
        val rho = 1.0 - math.acos(c) / math.Pi
        val pBand = math.pow(rho, bandBits)
        val want =
          if (pBand >= 1.0 - 1e-12) 1
          else math.ceil(math.log(0.05) / math.log(1.0 - pBand)).toInt
        if (want > maxTables)
          log.warn(f"embeddingNearDup: >=95%% recall at threshold=" +
            f"$threshold%.3f with $bandBits band bits wants $want tables, " +
            f"capped at $maxTables — recall at the threshold drops to ~" +
            f"${(1.0 - math.pow(1.0 - pBand, maxTables)) * 100}%.1f%%; " +
            "raise targetBucket (shorter bands) or pass tables explicitly")
        math.min(maxTables, math.max(1, want))
      }
    (bandBits, tables)
  }

  /** CACHED (id, unit, sigs) frame: L2-normalized vectors plus `tables`
    * per-table band signatures of `bandBits` sign bits each, from
    * deterministic pseudo-random hyperplanes (independent per table).
    * Caller owns releasing the cache.
    */
  private[pipeline] def embeddingSigs(emb: DataFrame, bandBits: Int,
      tables: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", dimHint: Int = -1): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = Similarity.trainDim(emb, vecCol, dimHint)
    // mix64-finalized: raw short-string FNV-1a leaves plane entries for
    // adjacent (t, p) nearly identical (no final avalanche), which made
    // the planes almost PARALLEL — one effective direction per band and
    // a collapsed bucket distribution. The splitmix64 finalizer
    // decorrelates them (measured: max |plane cosine| 0.999 → ~0.3,
    // max bucket 22× mean → <3× mean at 4k vectors).
    val hp = Array.tabulate(tables, bandBits, dim) { (t, p, d) =>
      val h = mix64(fnv1a(s"$t:$p:$d", 0x51ed270b9L))
      h.toDouble / Long.MaxValue.toDouble
    }
    val bHp = spark.sparkContext.broadcast(hp)
    emb.select(col(idCol).cast("long").as("id"),
        Similarity.checked(idCol, vecCol, dim))
      .as[(Long, Seq[Float])]
      .map { case (id, v) =>
        val arr = v.toArray
        val n = math.sqrt(arr.map(x => x.toDouble * x).sum)
        val unit = if (n == 0) arr.map(_ => 0.0) else arr.map(_ / n)
        val planesArr = bHp.value
        val tsigs = new Array[Long](planesArr.length)
        var t = 0
        while (t < planesArr.length) {
          val tp = planesArr(t)
          var sig = 0L
          var p = 0
          while (p < tp.length) {
            var dot = 0.0
            var d = 0
            while (d < dim) { dot += tp(p)(d) * unit(d); d += 1 }
            if (dot >= 0) sig |= (1L << p)
            p += 1
          }
          tsigs(t) = sig
          t += 1
        }
        (id, unit, tsigs)
      }.toDF("id", "unit", "sigs").cache()
  }

  /** Embedding cosine near-duplicates: normalize, LSH-bucket by banded
    * random-hyperplane sign bits (`tables` independent bands of
    * `bandBits` bits — multi-table, like [[simhashDup]]), candidates
    * share a full band in ≥1 table, verified exactly.
    * (gid, vec) → (id_a, id_b, cosine) with cosine >= threshold.
    *
    * `bandBits`/`tables` = 0 (default) auto-sizes from the corpus count
    * and threshold ([[embeddingLshParams]]): bucket occupancy stays
    * ~`targetBucket` at ANY corpus size, and the table count is chosen
    * for ≥95% recall at the threshold — recall no longer collapses when
    * occupancy control demands longer signatures.
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.95,
                       bandBits: Int = 0, tables: Int = 0,
                       targetBucket: Int = 64, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // count + dim in ONE pass over the (possibly uncached, expensive)
    // input — a separate count() and size().head() would each replay
    // the upstream plan
    val cd = emb.agg(count(lit(1)),
      first(size(col(vecCol)), ignoreNulls = true)).head()
    val nRows = cd.getLong(0)
    if (nRows == 0)
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cosine")
    val dim = if (cd.isNullAt(1)) -1 else cd.getInt(1)
    val (bb, nt) = embeddingLshParams(nRows, threshold, bandBits, tables,
      targetBucket)
    val sigs = embeddingSigs(emb, bb, nt, idCol, vecCol, dimHint = dim)
    // candidate pairs share a full band in >= 1 table; distinct BEFORE
    // fetching unit vectors so a pair colliding in several tables is
    // verified once (same discipline as minhashLsh)
    val banded = sigs
      .select(col("id"), posexplode(col("sigs")))
      .select(col("id"), col("pos").as("tbl"), col("col").as("sig"))
    val cand = banded.as("a").join(banded.as("b"),
        $"a.tbl" === $"b.tbl" && $"a.sig" === $"b.sig" && $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b")).distinct()
    val out = cand
      .join(sigs.select($"id".as("id_a"), $"unit".as("ua")), "id_a")
      .join(sigs.select($"id".as("id_b"), $"unit".as("ub")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.catalyst.GraftFunctions.dot_arr(col("ua"), col("ub"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
    graft.core.Materialize.releasing(out, Seq(sigs))
  }

  /** Corpus-wide paragraph dedup — the C4/RefinedWeb curation step:
    * split every document on `sep`, keep only the FIRST occurrence of
    * each distinct paragraph corpus-wide (smallest (doc_id, position)),
    * reassemble each document from its surviving paragraphs in original
    * order. Returns (id, text_dedup, n_paras_kept, n_paras) — one row
    * per input document (a document whose every paragraph occurred
    * earlier keeps an empty text).
    *
    * Scale shape: two partial-agg'd hash aggregates and NO join on the
    * paragraph corpus — the winner per paragraph is a `min_by` keyed by
    * the paragraph itself (boilerplate skew collapses map-side: a
    * million copies of one footer become one row per partition before
    * the exchange), and the winners ARE the surviving instances, so
    * reassembly is a second aggregate keyed by doc id. The only join is
    * doc-id-keyed, to re-attach all-lost documents.
    */
  def paragraphDedup(docs: DataFrame, sep: String = "\n",
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val qsep = java.util.regex.Pattern.quote(sep)
    val paras = split(coalesce(col(textCol), lit("")), qsep)
    val winners = docs
      .select(col(idCol).cast("long").as("id"), posexplode(paras))
      .toDF("id", "idx", "para")
      .groupBy("para")
      .agg(min_by(struct(col("id"), col("idx")),
        struct(col("id"), col("idx"))).as("w"))
      .select(col("w.id").as("id"), col("w.idx").as("idx"), col("para"))
    val reassembled = winners.groupBy("id")
      .agg(array_sort(collect_list(struct(col("idx"), col("para"))))
        .as("ps"))
      .select(col("id"),
        concat_ws(sep, transform(col("ps"), p => p("para")))
          .as("text_dedup"),
        size(col("ps")).cast("long").as("n_paras_kept"))
    docs.select(col(idCol).cast("long").as("id"),
        size(paras).cast("long").as("n_paras"))
      .join(reassembled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_paras_kept"), lit(0L)).as("n_paras_kept"),
        col("n_paras"))
  }

  /** Resolve near-duplicate PAIRS (the `(id_a, id_b)` output of
    * [[minhashLsh]] / [[simhashDup]] / [[embeddingNearDup]]) into
    * duplicate CLUSTERS: `(id, component)` for every document, where
    * `component` is the min doc id of the transitive duplicate group
    * (docs in no pair are singletons of themselves). Near-duplication
    * is transitive only through the cluster view — A~B and B~C puts A
    * and C in one group even when the LSH never emitted (A, C); pair
    * output alone under-deletes. Distributed connected components, see
    * [[graft.cluster.Components]].
    */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
                  idCol: String = "doc_id", aCol: String = "id_a",
                  bCol: String = "id_b"): DataFrame =
    graft.cluster.Components.connected(pairs, aCol, bCol,
      nodes = Some(docs.select(col(idCol).cast("long").as("id"))),
      nodeCol = "id")

  /** Drop near-duplicates: keep the canonical (min-id) document of
    * each duplicate cluster. Returns the surviving docs' rows plus
    * `n_dupes_removed` (other members of the cluster).
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id", aCol: String = "id_a",
                         bCol: String = "id_b"): DataFrame = {
    val clusters = dupClusters(docs, pairs, idCol, aCol, bCol)
    val sizes = clusters.groupBy("component")
      .agg((count(lit(1)) - 1L).as("n_dupes_removed"))
    docs.join(
      clusters.filter(col("id") === col("component")).join(sizes, "component")
        .select(col("id").as("__keep"), col("n_dupes_removed")),
      docs(idCol).cast("long") === col("__keep"))
      .drop("__keep")
  }

  /** CACHED (id, cid, unit) cluster assignment plus the keep-rule
    * centroid frame (kcid → cunit, with assigned carrying a matching
    * `kcid` column) for the semantic-dedup family. Caller releases
    * `assigned`; the centroid frame is tiny and broadcast downstream.
    *
    * Two regimes:
    *   - k ≤ `twoLevelK`: FLAT spherical k-means. Assignment cost
    *     n·k·d — with k ∝ n (occupancy target) that is QUADRATIC in n,
    *     fine to ~10^7 vectors and exactly mirrored by the q104 oracle
    *     path.
    *   - k > `twoLevelK`: TWO-LEVEL residual quantization (the IVF-PQ
    *     coarse-quantizer construction): √k spherical coarse centroids,
    *     then √k GLOBAL residual centroids (r = unit − coarse centroid)
    *     assigned by EUCLIDEAN distance; the cell key is (c1, c2).
    *     Assignment cost n·2√k·d — linear in n at fixed occupancy —
    *     and the broadcast is 2√k centroids, so the flat scheme's 65536-
    *     centroid memory ceiling becomes a 2^32-CELL ceiling (~10^12
    *     vectors at the default occupancy). Residuals use Euclidean,
    *     not cosine, assignment: near-identical vectors close to their
    *     coarse centroid have tiny residuals whose directions diverge —
    *     normalizing would split exactly the pairs that matter most.
    *     The keep rule measures similarity to the COARSE centroid.
    */
  /** Returned `multiProbe` tells the caller whether a pair can surface
    * from more than one cell (two-level top-2 probing) and so needs a
    * distinct — the flat path's pairs are unique by construction and
    * must not pay that shuffle.
    */
  /** Cell-occupancy telemetry for the semantic-dedup assignment. At
    * 100-TB scale the operator's one inherent hazard is a hot cell
    * paying its quadratic within-cell pair volume SILENTLY — these
    * numbers (one cheap aggregate over the already-cached assignment
    * frame) make it visible in the logs of every run, the way the LSH
    * path's occupancy is spec-monitored.
    */
  private[graft] case class Occupancy(cells: Long, maxOcc: Long,
                                      meanOcc: Double, p99Occ: Long)

  private[graft] def occupancyOf(assigned: DataFrame): Occupancy = {
    val r = assigned.groupBy("cid").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), max(col("n")), avg(col("n")),
        expr("approx_percentile(n, 0.99)")).head()
    Occupancy(r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
  }

  /** Logs occupancy; warns when the hottest cell exceeds
    * `spark.graft.semdedup.occWarnFactor` (default 8) × targetCluster —
    * the point where its pair volume is ≥64× the design target.
    */
  private def logOccupancy(assigned: DataFrame, targetCluster: Int)
      : Occupancy = {
    val occ = occupancyOf(assigned)
    log.info(f"semanticAssign: ${occ.cells} cells, occupancy max=${
      occ.maxOcc} mean=${occ.meanOcc}%.1f p99=${occ.p99Occ}")
    val warnFactor = assigned.sparkSession.conf
      .getOption("spark.graft.semdedup.occWarnFactor").map(_.toInt)
      .getOrElse(8)
    if (occ.maxOcc > warnFactor.toLong * targetCluster)
      log.warn(f"semanticAssign: hottest cell holds ${occ.maxOcc} " +
        f"vectors (> $warnFactor x targetCluster=$targetCluster) — " +
        f"within-cell pair volume is quadratic (~${
          occ.maxOcc.toDouble * (occ.maxOcc - 1) / 2}%.3g candidate " +
        "pairs in that cell alone). Pass splitOversized > 0 to " +
        "sub-cluster oversized cells (documented recall trade), or " +
        "raise nClusters / lower targetCluster.")
    occ
  }

  private[graft] case class SemAssign(assigned: DataFrame,
                                      kcents: DataFrame,
                                      n: Long, multiProbe: Boolean,
                                      occ: Occupancy)

  /** Opt-in skew mitigation: re-cluster every cell whose occupancy
    * exceeds `factor` × targetCluster into ~targetCluster-sized
    * sub-cells, leaving all other cells untouched.
    *
    * Mechanics: within each oversized cell, the ceil(n/targetCluster)
    * members with the smallest (xxhash64(id), id) become sub-seeds
    * (the [[Similarity.scatteredCentroids]] seeding convention, so the
    * draw is deterministic and id-clump-free), every member assigns to
    * its nearest sub-seed by exact cosine (ties to min sub), and the
    * new cell key is xxhash64(cid, sub) — a hash collision can only
    * MERGE two cells (extra candidates for the exact verifier), never
    * split one, so it cannot cost recall or precision.
    *
    * Cost shape: the per-cell seed draw is one window sort over
    * oversized-cell members only (the mega-cell pays one spilling sort
    * task — bounded and one-off), and assignment is occ·(occ/target)
    * dot products per cell versus occ²/2 pairs without the split: a
    * 10^8-member cell drops from ~5·10^15 pairs to ~10^13 seed dots +
    * in-target pair volume after.
    *
    * THE RECALL TRADE (why this is opt-in, off by default): a true
    * pair straddling a sub-cell boundary inside a former mega-cell is
    * lost — the same Voronoi-boundary limitation SemDeDup itself has
    * at cluster boundaries (arXiv:2303.09540's documented recall
    * caveat), now applied within the cell. Near-identical pairs share
    * their nearest sub-seed with high probability; borderline-τ pairs
    * are the ones at risk.
    */
  private[graft] def splitCells(assigned: DataFrame, targetCluster: Int,
                         factor: Int): DataFrame = {
    val bound = factor.toLong * targetCluster
    val sizes = assigned.groupBy("cid").agg(count(lit(1)).as("__n"))
    val over = sizes.filter(col("__n") > bound)
    val members = assigned.join(broadcast(over), "cid")
    val w = Window.partitionBy("cid")
      .orderBy(xxhash64(col("id")), col("id"))
    val seeds = members
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <=
        ceil(col("__n") / lit(targetCluster.toDouble)))
      .select(col("cid"), (col("__rn") - 1).as("__sub"),
        col("unit").as("__sunit"))
    // grouped by (id, cid), not id: the two-level multi-probe path has
    // the same id in two cells, each re-assigned independently
    val re = members.join(seeds, "cid")
      .select(col("id"), col("cid"), col("__sub"),
        graft.catalyst.GraftFunctions.dot_arr(col("unit"), col("__sunit"))
          .as("__s"))
      .groupBy("id", "cid")
      .agg(max_by(col("__sub"), struct(col("__s"), negate(col("__sub"))))
        .as("__sub"))
    val reassigned = members.join(re, Seq("id", "cid"))
      .select(col("id"), xxhash64(col("cid"), col("__sub")).as("cid"),
        col("kcid"), col("unit"))
    val untouched = assigned.join(broadcast(over), Seq("cid"), "left_anti")
      .select(col("id"), col("cid"), col("kcid"), col("unit"))
    untouched.union(reassigned)
  }

  /** Applies [[splitCells]] when opted in; returns the frame the pair
    * join should run against plus every cached frame to release after.
    */
  private def maybeSplit(sa: SemAssign, targetCluster: Int,
                         splitOversized: Int)
      : (DataFrame, Seq[DataFrame]) =
    if (splitOversized > 0 && sa.occ.maxOcc >
        splitOversized.toLong * targetCluster) {
      val s = splitCells(sa.assigned, targetCluster, splitOversized)
        .cache()
      val occAfter = occupancyOf(s) // also materializes the cache
      log.info(s"semanticAssign: splitOversized=$splitOversized " +
        s"re-clustered hot cells — max occupancy ${sa.occ.maxOcc} -> " +
        s"${occAfter.maxOcc} across ${occAfter.cells} cells")
      // the pre-split assignment cache is dead once the split frame is
      // materialized (downstream joins consume only `s`; kcents derives
      // from the centroid frame) — drop it NOW rather than holding two
      // corpus-sized caches through the pair join at exactly the
      // hot-cell scale the split exists for
      sa.assigned.unpersist(blocking = false)
      (s, Seq(s))
    } else (sa.assigned, Seq(sa.assigned))

  private[graft] def semanticAssign(emb: DataFrame, targetCluster: Int,
      nClusters0: Int, twoLevelK: Int, idCol: String, vecCol: String)
      : SemAssign = {
    val renamed = emb.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("embedding"))
    // with an explicit cluster count only an emptiness probe is needed —
    // a full count() would replay the (possibly expensive, uncached)
    // upstream plan once before any clustering work. The probe returns
    // the DIMENSION, which centroid training and the length check in
    // `normalized` share, so no later step pays a limit-1 job for it. It
    // skips null embeddings; when it finds none, the first row (if any)
    // goes through `normalized`, whose check names a null one's id.
    val dimProbe = Similarity.dimOf(renamed, "embedding")
    if (dimProbe.isEmpty) Similarity.normalized(renamed).limit(1).collect()
    val n: Long =
      if (nClusters0 > 0) { if (dimProbe.isEmpty) 0L else -1L }
      else renamed.count()
    if (n == 0)
      return SemAssign(null, null, 0L, multiProbe = false,
        Occupancy(0L, 0L, 0.0, 0L))
    val dim = dimProbe.get
    val units = Similarity.normalized(renamed, dim = dim)
    // k stays a Long until the branch: at n beyond ~2·10^12 the
    // Int-narrowed quotient wraps negative, which would silently route
    // a trillion-vector corpus to the flat path with a garbage k
    val kL: Long =
      if (nClusters0 > 0) nClusters0.toLong
      else math.max(1L, n / math.max(1, targetCluster))
    if (kL <= twoLevelK) {
      val k = kL.toInt // <= twoLevelK, Int-safe
      val cents = Similarity.scatteredCentroids(renamed, k, dim)
      val assigned = Similarity.assignNearest(units, cents)
        .withColumn("kcid", col("cid")).cache()
      SemAssign(assigned,
        cents.select(col("cid").as("kcid"), col("cunit")), n,
        multiProbe = false, logOccupancy(assigned, targetCluster))
    } else {
      // √k per level, each capped at 65536 (the centroid broadcast
      // bound) → ≤ 2^32 cells; beyond n ≈ 2^32·targetCluster (~4·10^15
      // vectors at the default) occupancy grows past target — warn,
      // don't wrap
      val k1 = math.min(65536L,
        math.max(2L, math.ceil(math.sqrt(kL.toDouble)).toLong)).toInt
      if (nClusters0 <= 0 && math.ceil(math.sqrt(kL.toDouble)) > 65536)
        log.warn(s"semanticNearDup: corpus n=$n wants $kL cells for " +
          s"~$targetCluster-vector cells but both levels cap at 65536 " +
          f"centroids — expected cell occupancy ~${
            n.toDouble / (65536.0 * 65536.0)}%.0f; pair volume grows " +
          "quadratically with it. Raise targetCluster knowingly.")
      // residuals have the embeddings' dimension: both levels' centroid
      // builds share the probe
      val cents1 = Similarity.scatteredCentroids(renamed, k1, dim)
      val a1 = Similarity.assignNearest(units, cents1)
      val resid = a1.join(broadcast(cents1), "cid")
        .select(col("id"), col("cid").as("c1"), col("unit"),
          zip_with(col("unit"), col("cunit"), (x, c) => x - c).as("vec"))
        .cache()
      val cents2 = Similarity.euclidCentroids(
        resid.select(col("id"), col("vec")), k1, dim, inputCached = true)
      // top-2 residual cells per vector (multi-probe): a pair split by
      // a residual Voronoi boundary is recovered when either side's
      // second-nearest cell matches — candidates only, precision is
      // the exact verifier's either way
      val a2 = Similarity.assignNearestEuclid(
        resid.select(col("id"), col("vec")), cents2, probes = 2)
        .select(col("id"), col("cid").as("c2"))
      val assigned = resid.join(a2, "id")
        .select(col("id"),
          (col("c1").cast("long") * (k1 + 1) + col("c2")).as("cid"),
          col("c1").as("kcid"), col("unit"))
        .cache()
      // the occupancy aggregate doubles as the cache materialization
      val occ = logOccupancy(assigned, targetCluster)
      resid.unpersist(blocking = false)
      SemAssign(assigned,
        cents1.select(col("cid").as("kcid"), col("cunit")), n,
        multiProbe = true, occ)
    }
  }

  /** Semantic near-duplicate pairs — SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the L2-normalized embeddings into k
    * centroids ([[Similarity.ivfCentroids]], deterministic seeding +
    * one Lloyd sweep), then compare pairs exactly — but only WITHIN a
    * cluster. Returns (id_a, id_b, cosine) with cosine ≥ threshold.
    *
    * This is the LOW-threshold complement to [[embeddingNearDup]]: at
    * τ ≈ 0.7-0.9 the hyperplane-LSH table count explodes (a band's
    * collision probability ρ^bits collapses when ρ = 1 − acos(τ)/π is
    * far from 1), while cluster-partitioned exact comparison holds its
    * cost at ~targetCluster²/2 dot products per cluster regardless of
    * τ. The trade is SemDeDup's own: pairs straddling a cluster
    * boundary are missed (the paper's documented recall limitation) —
    * at τ ≥ 0.95 prefer [[embeddingNearDup]], whose multi-table LSH
    * carries a recall guarantee.
    *
    * Scale shape: the only corpus-sized shuffles are the cluster-keyed
    * self-join (sort-merge on cid; per-cluster pair expansion streams
    * and spills, never a collected adjacency) and the k-means
    * assignment's broadcast dot products. Skew note: a pathological
    * hot cluster pays its own quadratic pair volume — inherent to the
    * algorithm, controlled by k, and impossible to salt (every
    * within-cluster pair is a genuine candidate). Every run logs
    * cell-occupancy telemetry and warns past
    * `spark.graft.semdedup.occWarnFactor` (default 8) × targetCluster;
    * `splitOversized` = c opts into re-clustering cells above
    * c × targetCluster into ~targetCluster sub-cells ([[splitCells]] —
    * measured 3.6× at 15k-occupancy cells; exact duplicates are never
    * separated, borderline-τ pairs straddling a sub-cell boundary are
    * the documented recall trade).
    */
  def semanticNearDup(emb: DataFrame, threshold: Double = 0.8,
                      targetCluster: Int = 1024, nClusters: Int = 0,
                      twoLevelK: Int = 4096,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      splitOversized: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sa =
      semanticAssign(emb, targetCluster, nClusters, twoLevelK, idCol, vecCol)
    if (sa.n == 0)
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cosine")
    val (assigned, toRelease) = maybeSplit(sa, targetCluster, splitOversized)
    val byCell = graft.core.Parallelism.spread(assigned, col("cid"), sa.occ.cells)
    val paired = byCell.as("a").join(byCell.as("b"),
        $"a.cid" === $"b.cid" && $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        graft.catalyst.GraftFunctions.dot_arr($"a.unit", $"b.unit")
          .as("cosine"))
      .filter(col("cosine") >= threshold)
    // only the multi-probe two-level path can surface a pair twice;
    // flat-path pairs are unique by construction — no distinct shuffle
    val out = if (sa.multiProbe) paired.distinct() else paired
    graft.core.Materialize.releasing(out, toRelease)
  }

  /** Full SemDeDup resolution: semantic pairs → transitive duplicate
    * groups (distributed CC) → ONE survivor per group under the
    * paper's keep rule — the member with the LOWEST cosine similarity
    * to its cluster centroid ("keep the most atypical example",
    * arXiv:2303.09540 §3; ties broken by min id). Returns one row per
    * input vector: (id, component, keep).
    */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.8,
                    targetCluster: Int = 1024, nClusters: Int = 0,
                    twoLevelK: Int = 4096,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    splitOversized: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sa =
      semanticAssign(emb, targetCluster, nClusters, twoLevelK, idCol, vecCol)
    if (sa.n == 0)
      return Seq.empty[(Long, Long, Boolean)]
        .toDF("id", "component", "keep")
    val (assigned, toRelease) = maybeSplit(sa, targetCluster, splitOversized)
    val kcents = sa.kcents
    val byCell = graft.core.Parallelism.spread(assigned, col("cid"), sa.occ.cells)
    val pairs = byCell.as("a").join(byCell.as("b"),
        $"a.cid" === $"b.cid" && $"a.id" < $"b.id")
      .filter(graft.catalyst.GraftFunctions.dot_arr($"a.unit", $"b.unit")
        >= threshold)
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
    val comp = graft.cluster.Components.connected(pairs,
      nodes = Some(assigned.select(col("id"))), nodeCol = "id")
    // keep rule needs each member's similarity to its OWN centroid —
    // recomputed here (the assignment keeps only the cid); one
    // broadcast join against the k-row centroid frame. The two-level
    // multi-probe path carries TWO rows per id in `assigned` (one per
    // probed residual cell) that are value-identical on (id, kcid,
    // unit) — dedupe to one row per id first, or the duplicate rides
    // the comp join and doubles the keep-rule aggregation volume at
    // exactly the scale the two-level path targets (min_by is
    // duplicate-insensitive, so this is volume, not correctness)
    val perId =
      if (sa.multiProbe)
        assigned.select(col("id"), col("kcid"), col("unit"))
          .dropDuplicates("id")
      else assigned
    val csim = perId.join(broadcast(kcents), "kcid")
      .select(col("id"),
        graft.catalyst.GraftFunctions.dot_arr(col("unit"), col("cunit"))
          .as("csim"))
    val keepers = comp.join(csim, "id")
      .groupBy("component")
      .agg(min_by(col("id"), struct(col("csim"), col("id")))
        .as("__keep"))
    val out = comp.join(keepers, "component")
      .select(col("id"), col("component"),
        (col("id") === col("__keep")).as("keep"))
    graft.core.Materialize.releasing(out, toRelease)
  }
}
